package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the trace reads its counters only after every posted event is handled.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
