package graft.perfbench

import graft.core.{Flags, Obs}
import graft.pipeline.QcMain
import graft.sources.PatchSink
import graft.perfbench.Main._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The QC workload: the cron job's live window. */
object QcWorkloads {

  // the production shape (BASELINE.md): ~60 datastreams sampled every 1-3 s,
  // one cron run per 15-minute window that re-reads the 20-minute
  // stabilization warm-up before it. Only the stream count departs from it:
  // a 60-stream window costs ~38 s on four cores, and a run has ~65 s
  // (METRICS.md, "Budget")
  private val Streams = 8
  private val CadenceSec = 3
  private val StrideSec = 900L
  private val LookbackSec = History.StabilizationSec

  private def ts(sec: Long) = lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)))

  /** Observation id -> flag rank of a flagged frame. */
  private def flagsOf(flagged: DataFrame): Map[Long, Byte] =
    flagged.select(col(Obs.IotId), col("flag")).collect()
      .map(r => r.getLong(0) -> r.getByte(1)).toMap

  /** Order-independent digest of (id, flag) pairs. */
  private def fingerprint(flags: collection.Map[Long, Int]): String =
    "%016x".format(flags.iterator.map { case (i, f) =>
      java.lang.Long.rotateLeft(i * 0x9E3779B97F4A7C15L, 17) ^ (f.toLong * 0xC2B2AE3D27D4EB4FL)
    }.sum)

  /** Marginal cost of each QC pass: noop-sink actions on cumulative prefixes
    * of the `runFrom` chain, with only the input cached, as `runFrom` caches
    * it. Differences of successive prefixes give the pass costs.
    */
  private def passCosts(spark: SparkSession, obsIn: DataFrame,
                        cfg: QcMain.Config): Map[String, Metric] = {
    val obs = obsIn.withColumn("t_us", unix_micros(col(Obs.Time))).cache()
    obs.count()
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val stab = QcMain.stabPass(spark, obs, cfg)
    val geo = QcMain.geoPass(stab, cfg)
    val kin = QcMain.kinPass(geo, cfg)
    val value = QcMain.valuePass(spark, kin, cfg)
    val dependent = QcMain.dependentPass(value, cfg)
    val t = Seq(obs, stab, geo, kin, value, dependent).map(noop)
    obs.unpersist(blocking = true)
    Seq("stab", "geo", "kin", "value", "dependent").zipWithIndex.map { case (n, i) =>
      s"pass.${n}_s" -> Metric(t(i + 1) - t(i), "s")
    }.toMap
  }

  /** `cron_window`: [[Streams]] streams served by the loopback SensorThings server.
    * Each operation is one cron run: fetch the window over HTTP with the
    * time filter pushed, run `QcMain.runFrom`, PATCH the flags to `$batch`.
    */
  def cronWindow(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val o = new Outcome
    val maxWindows = 2 + 2 * ctx.args.seconds
    def from(w: Int) = 1704067200L + w * StrideSec - 1
    def to(w: Int) = 1704067200L + w * StrideSec + StrideSec + LookbackSec
    val (h, server) = ctx.untimed {
      val h = new History(ctx.args.seed, nStreams = Streams,
        nPerStream = (maxWindows * StrideSec + LookbackSec).toInt / CadenceSec,
        cadenceSec = CadenceSec)
      (h, new StaServer(h))
    }
    progress(s"history: ${h.nStreams} streams x ${h.nPerStream} samples")
    try {
      val cfg = h.qcConfig
      def source(w: Int): DataFrame = spark.read.format("graft.sources.sta")
        .option("path", server.collectionUrl).option("transport", "http")
        .option("datastreams", h.streamIds.mkString(",")).load()
        .filter(col(Obs.Time) > ts(from(w)) && col(Obs.Time) < ts(to(w)))

      // checks, untimed, once per window: each served observation PATCHed
      // exactly once, the planted faults at their severity or worse, and
      // every other observation GOOD
      var failedWindows = Set.empty[Int]
      var live0 = ("", 0) // window 0's flag fingerprint and count
      def check(w: Int): Unit = {
        val log = server.window(w)
        val patched = log.patched.asScala.map { case (k, v) => k.longValue -> v.intValue }.toMap
        if (w == 0) live0 = (fingerprint(patched), patched.size)
        val servedIds = log.served.asScala.map(_.longValue).toSet
        val want = h.idsIn(from(w), to(w))
        val once = o.check(s"window $w: every served observation PATCHed exactly once",
          servedIds == want && patched.keySet == servedIds && log.dupOps.sum == 0,
          s"served=${servedIds.size} expected=${want.size} patched=${patched.size} dup=${log.dupOps.sum}")
        val (missed, spurious) = h.verdict(from(w), to(w), patched)
        val planted = o.check(s"window $w: planted faults at planted severity or worse",
          missed.isEmpty, s"missed id=flag ${missed.take(5).map(i => s"$i=${patched(i)}").mkString(",")} of ${missed.size}")
        val clean = o.check(s"window $w: observations away from planted faults GOOD",
          spurious.isEmpty, s"flagged id=flag ${spurious.take(5).map(i => s"$i=${patched(i)}").mkString(",")} of ${spurious.size}")
        if (!once || !planted || !clean) failedWindows += w
        server.endWindow(w)
        server.drop(from(w), to(w))
      }

      val perOp = mutable.ArrayBuffer.empty[Map[String, Metric]]
      var storagePeak = 0.0
      def window(w: Int, traced: Boolean): Double = {
        ctx.untimed(server.prerender(from(w), to(w)))
        val log = server.beginWindow(w)
        val t0 = System.nanoTime()
        val (flagged, ph) = ctx.span(traced, "qc") { QcMain.runFrom(spark, source(w), cfg) }
        val t1 = System.nanoTime()
        val storage = storageMb(spark)
        ctx.span(traced, "patch") {
          PatchSink.httpBatchSink(flagged.withColumn(Obs.QcFlag, col("flag")), server.batchUrl)
        }
        val t2 = System.nanoTime()
        flagged.unpersist(blocking = true)
        storagePeak = math.max(storagePeak, storage)
        if (traced) {
          val tr = ctx.trace.get
          tr.drain()
          val qc = tr.last("qc").get
          val patch = tr.last("patch").get
          val posts = log.posts.sum.toDouble
          perOp += spanMetrics("qc", qc) ++ Map(
            "qc.s" -> Metric((t1 - t0) / 1e9 - ph.dfConstructionSec, "s"),
            "sta.fetch_s" -> Metric(ph.dfConstructionSec, "s"),
            "sta.gets" -> Metric(log.gets.sum.toDouble, "count"),
            "sta.retries" -> Metric(log.getRetries.sum.toDouble, "count"),
            "sta.mb_in" -> Metric(log.bytesOut.sum / 1e6, "MB"),
            "sta.rows" -> Metric(log.rowsServed.sum.toDouble, "count"),
            "patch.s" -> Metric((t2 - t1) / 1e9, "s"),
            "patch.posts" -> Metric(posts, "count"),
            "patch.ops_per_post" -> Metric(log.ops.sum / math.max(1.0, posts), "count"),
            "patch.post_ms" -> Metric(patch.taskRunMs / math.max(1.0, posts), "ms"),
            "patch.retries" -> Metric(log.postRetries.sum.toDouble, "count"),
            "patch.dup_ops" -> Metric(log.dupOps.sum.toDouble, "count"),
            "patch.mb_out" -> Metric(log.bytesIn.sum / 1e6, "MB"),
            "server.handler_s" -> Metric(log.handlerNs.sum / 1e9, "s"),
            "core.leased_rdds" -> Metric(spark.sparkContext.getPersistentRDDs.size, "count"))
        }
        progress(f"window $w: fetch+qc ${(t1 - t0) / 1e9}%.2f s, patch ${(t2 - t1) / 1e9}%.2f s")
        ctx.untimed(check(w))
        (t2 - t0) / 1e9
      }

      // warm-up: the captured-file path (`QcMain.run`) on window 0. It runs
      // the same QC chain as the live path, and is the reference the live
      // window 0 is checked against. Its flags then go through the live
      // path's own code, the HTTP reader and the `$batch` sink, on traffic
      // the server files under no window
      val tw = System.nanoTime()
      val captured = ctx.tmpDir.resolve("window-0.json")
      ctx.untimed(Files.writeString(captured, h.capturedResponse(from(0), to(0))))
      val (fileFlagged, _) = QcMain.run(spark, captured.toString, cfg)
      val file0 = try {
        ctx.untimed(server.prerender(from(0), to(0)))
        server.beginWindow(-2)
        source(0).count()
        PatchSink.httpBatchSink(fileFlagged.withColumn(Obs.QcFlag, col("flag")), server.batchUrl)
        server.endWindow(-2)
        ctx.untimed {
          val flags = flagsOf(fileFlagged).map { case (i, r) => i -> Flags.rankToWire(r) }
          (fingerprint(flags), flags.size)
        }
      } finally fileFlagged.unpersist(blocking = true)
      Files.delete(captured)
      progress("warm-up: captured-file path on window 0, then the live reader and sink")
      o.layer("core.warmup_s") = Metric((System.nanoTime() - tw) / 1e9, "s")
      o.endToEnd("setup_s") = Metric(ctx.setupSec, "s")
      val lat = ctx.closedLoop(maxWindows, minOps = 2)(window)
      if (!o.check("window 0: flag fingerprint equals the captured-file path", live0 == file0,
        s"live=${live0._1}/${live0._2} file=${file0._1}/${file0._2}")) failedWindows += 0
      o.attempted = lat.size
      o.failed = failedWindows.size
      o.endToEnd("pass_s") = Metric(median(lat.map(_._1)), "s")
      o.report("window_s") = o.endToEnd("pass_s")
      o.extra("windows") = lat.size.toString
      o.extra("window_latencies_s") = lat.map(l => "%.3f".format(l._1)).mkString(" ")
      o.extra("obs_per_window") = h.idsIn(from(1), to(1)).size.toString
      o.extra("fault_observations") = (h.expected.size + h.bumps.size).toString
      o.layer("core.storage_peak_mb") = Metric(storagePeak, "MB")
      if (ctx.trace.isDefined) {
        server.beginWindow(-1)
        traceSummary(o, lat, perOp.toSeq)
        o.layer ++= passCosts(spark, source(lat.size - 1), cfg)
      }
      o
    } finally server.close()
  }
}
