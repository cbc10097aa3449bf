package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark JVM: runs one workload closed-loop (one client, each operation
  * starts after the previous one ends) for `--seconds`, checks the outputs,
  * and writes `result.json` into `--out` for `perfbench/run.py`.
  *
  * With `--trace 1` every second operation runs inside spans with a
  * [[Trace]] listener attached; the layer metrics come from those, and the
  * other operations give the untraced latency the tracing overhead is
  * measured against.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, data: String)

  /** A named value with its unit, as run.py prints it. */
  final case class Metric(value: Double, unit: String)

  /** What a workload hands back: operation counts, output checks, metrics
    * for the untraced run (`endToEnd`), layer metrics for the traced one,
    * and figures printed for readers only (`report`).
    */
  final class Outcome {
    var attempted = 0
    var failed = 0
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
    val layer = mutable.LinkedHashMap.empty[String, Metric]
    val report = mutable.LinkedHashMap.empty[String, Metric]
    val extra = mutable.LinkedHashMap.empty[String, String]
    def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
      checks += ((name, ok, detail)); ok
    }
  }

  /** Session, set-up clock and tracing shared by the workloads. */
  final class Ctx(val args: Args, val spark: SparkSession, val sessionSec: Double) {
    val trace: Option[Trace] = if (args.trace) Some(new Trace(spark.sparkContext)) else None
    private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    private var untimedNs = 0L

    /** Work that set-up time excludes: input generation, and output checks
      * run during set-up (where they also warm the JIT up for the timed
      * operations).
      */
    def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t0
    }

    /** Set-up time: JVM start until now, less [[untimed]] work. */
    def setupSec: Double =
      (System.currentTimeMillis() - jvmStartMs) / 1e3 - untimedNs / 1e9

    def tmpDir: Path = Paths.get(System.getProperty("java.io.tmpdir"))

    /** Live heap after full GCs, once every cached table and persistent RDD
      * is released; read by [[closedLoop]] after its first `minOps`
      * operations.
      */
    var retainedHeapMb: Double = Double.NaN

    /** Run operations until `--seconds` have passed and at least `minOps`
      * (three in a traced run) have run. In a traced run odd operations are
      * traced, and even ones after the first give the untraced latency; the
      * first is the slowest of a run, so it is left out of that comparison.
      * Returns (latency s, traced) per operation.
      *
      * The retained heap is read after exactly `minOps` operations, between
      * two of them, so how many operations fit in `--seconds` does not
      * change it.
      */
    def closedLoop(maxOps: Int, minOps: Int = 1)(op: (Int, Boolean) => Double): Seq[(Double, Boolean)] = {
      val lat = mutable.ArrayBuffer.empty[(Double, Boolean)]
      val atLeast = if (trace.isDefined) math.max(3, minOps) else minOps
      val t0 = System.nanoTime()
      while (lat.size < maxOps &&
        (lat.size < atLeast || System.nanoTime() - t0 < args.seconds * 1000000000L)) {
        val traced = trace.isDefined && lat.size % 2 == 1
        trace.filter(_ => traced).foreach(_.attach())
        val dt = op(lat.size, traced)
        trace.filter(_ => traced).foreach(_.detach())
        lat += ((dt, traced))
        if (lat.size == minOps) retainedHeapMb = readRetainedHeap()
      }
      lat.toSeq
    }

    private def readRetainedHeap(): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }

    /** `body` inside a span when traced. */
    def span[T](traced: Boolean, name: String)(body: => T): T =
      trace.filter(_ => traced).map(_.span(name)(body)).getOrElse(body)
  }

  private val startNs = System.nanoTime()

  /** A progress line in the run's log (stderr), stamped with seconds since start. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - startNs) / 1e9}%8.2f] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** MB held by cached blocks right now (memory and disk). */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Per-layer metric medians over the traced operations, plus the tracing
    * overhead: traced against untraced median latency.
    */
  def traceSummary(o: Outcome, lat: Seq[(Double, Boolean)],
                   perOp: Seq[Map[String, Metric]]): Unit = {
    perOp.flatMap(_.keys).distinct.foreach { k =>
      val vs = perOp.flatMap(_.get(k))
      o.layer(k) = Metric(median(vs.map(_.value)), vs.head.unit)
    }
    val traced = lat.filter(_._2).map(_._1)
    val plain = lat.drop(1).filterNot(_._2).map(_._1)
    if (traced.nonEmpty && plain.nonEmpty)
      o.layer("trace.overhead_pct") = Metric(100 * (median(traced) / median(plain) - 1), "%")
    o.extra("traced_ops") = traced.size.toString
    o.extra("untraced_ops") = plain.size.toString
  }

  def spanMetrics(prefix: String, s: Trace.Span): Map[String, Metric] = Map(
    s"$prefix.jobs" -> Metric(s.jobs, "count"),
    s"$prefix.stages" -> Metric(s.stages, "count"),
    s"$prefix.tasks" -> Metric(s.tasks.toDouble, "count"),
    s"$prefix.task_cpu_s" -> Metric(s.taskCpuNs / 1e9, "s"),
    s"$prefix.shuffle_write_mb" -> Metric(s.shuffleWriteBytes / 1e6, "MB"),
    s"$prefix.spill_mb" -> Metric(s.spillBytes / 1e6, "MB"),
    s"$prefix.driver_gap_s" -> Metric(s.driverGapSec, "s"))

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("out")), m.getOrElse("data", ""))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.out)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local(cores.toString)
    val ctx = new Ctx(args, spark, (System.nanoTime() - t0) / 1e9)
    val o = args.workload match {
      case "cron_window" => QcWorkloads.cronWindow(ctx)
      case "catalog" => Catalog.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.trace.foreach(_.writeJson(args.out.resolve("spans.json")))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    o.layer("core.storage_residual_mb") = Metric(storageMb(spark), "MB")
    o.endToEnd("retained_heap_mb") = Metric(ctx.retainedHeapMb, "MB")
    o.layer("core.session_s") = Metric(ctx.sessionSec, "s")
    writeResult(args, o)
    spark.stop()
  }

  /** `s` as a JSON string literal. */
  def jstr(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def metricsJson(m: collection.Map[String, Metric]): String =
    m.map { case (k, v) =>
      val value = if (v.value.isNaN || v.value.isInfinite) "null" else v.value.toString
      s"""${jstr(k)}:{"value":$value,"unit":${jstr(v.unit)}}"""
    }.mkString("{", ",", "}")

  private def writeResult(args: Args, o: Outcome): Unit = {
    val checks = o.checks.map { case (n, ok, d) =>
      s"""{"name":${jstr(n)},"ok":$ok,"detail":${jstr(d)}}"""
    }.mkString("[", ",", "]")
    val extra = o.extra.map { case (k, v) => s"""${jstr(k)}:${jstr(v)}""" }.mkString("{", ",", "}")
    val json = s"""{"workload":"${args.workload}","seed":${args.seed},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"checks":$checks,"end_to_end":${metricsJson(o.endToEnd)},""" +
      s""""per_layer":${metricsJson(o.layer)},"report":${metricsJson(o.report)},"extra":$extra}"""
    Files.writeString(args.out.resolve("result.json"), json)
  }
}
