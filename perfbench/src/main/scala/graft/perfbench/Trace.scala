package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans the benchmark opens around its calls into the program, with the
  * Spark work each one caused. Jobs are attributed to the innermost open
  * span through the `perfbench.span` local property, which Spark copies onto
  * every job the calling thread submits; stages and tasks follow their job.
  * Spans stay in memory until [[writeJson]].
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]

  def attach(): Unit = sc.addSparkListener(this)

  /** Run `body` inside a new span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    synchronized { spans += s; byId(s.id) = s }
    open.push(s)
    sc.setLocalProperty(Property, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      sc.setLocalProperty(Property, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  def last(name: String): Option[Span] = synchronized { spans.reverseIterator.find(_.name == name) }
  def all(name: String): Seq[Span] = synchronized { spans.filter(_.name == name).toSeq }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
      .flatMap(id => byId.get(id.toInt))
    owner.foreach { s =>
      s.jobs += 1
      jobSpan(e.jobId) = s
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(st => stageSpan(st) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      s.jobIntervalsMs += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.taskCpuNs += m.executorCpuTime
      s.taskRunMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs},""" +
        s""""stages":${s.stages},"tasks":${s.tasks},"task_cpu_ns":${s.taskCpuNs},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes},"spill_bytes":${s.spillBytes},""" +
        s""""job_busy_s":${s.jobBusySec}}""")
    }
    java.nio.file.Files.writeString(path, sb.append("\n]\n").toString)
  }
}

object Trace {
  val Property = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
    var endNs: Long = startNs
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var taskCpuNs = 0L
    var taskRunMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]

    def wallSec: Double = (endNs - startNs) / 1e9

    /** Seconds during which at least one of this span's jobs was running. */
    def jobBusySec: Double = {
      var busy = 0L
      var reach = Long.MinValue
      jobIntervalsMs.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) busy += b - from
        reach = math.max(reach, b)
      }
      busy / 1e3
    }

    /** Span wall time with no job of the span running. */
    def driverGapSec: Double = math.max(0.0, wallSec - jobBusySec)
  }
}
