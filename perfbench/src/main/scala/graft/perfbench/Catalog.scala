package graft.perfbench

import graft.SparkEntry
import graft.perfbench.Main._

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `catalog`: declared queries that never touch QC, each run through
  * `SparkEntry.queries` into a noop sink. One operation is one query; one
  * pass runs the list once in a seed-shuffled order. Between queries the
  * session is swept as `graft.Bench` does: clearCache, unpersist every
  * persistent RDD, GC. The sweep is outside the query's time.
  */
object Catalog {

  /** Graph rounds over edge shuffles, dedup pairs behind a spread scan,
    * serving from the persisted IVF-PQ index, and a TPC-H join.
    */
  val Queries: Seq[String] = Seq("q_labelprop", "dd_winnow_pairs", "sim_ivfpq_search",
    "q18_large_orders")

  private def indexDirs(ctx: Ctx): Set[String] =
    Files.list(ctx.tmpDir).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("graft_") && n.contains("_index_")).toSet

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.args.data
    val o = new Outcome
    val rng = new scala.util.Random(ctx.args.seed)
    var storagePeak = 0.0

    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    /** One query into the noop sink, then the sweep; returns (seconds, leased RDDs). */
    def query(name: String, traced: Boolean): (Double, Int) = {
      val t0 = System.nanoTime()
      ctx.span(traced, name) {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      storagePeak = math.max(storagePeak, storageMb(spark))
      val leased = spark.sparkContext.getPersistentRDDs.size
      sweep()
      (dt, leased)
    }

    // warm-up: one pass that fingerprints each query's output for the
    // output check (JIT, codegen and the persisted-index builds; the
    // private java.io.tmpdir starts empty, so every run builds them)
    val tw = System.nanoTime()
    val warm = rng.shuffle(Queries).map { q =>
      val before = indexDirs(ctx)
      val t0 = System.nanoTime()
      val fp = graft.core.Canon.fingerprint(SparkEntry.queries(q)(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      sweep()
      q -> (dt, indexDirs(ctx) != before, fp)
    }.toMap
    ctx.untimed {
      // check: the fingerprints in the manifest shape tools/manifest_check.py
      // compares with each query's DuckDB oracle
      val oracle = SparkEntry.oracleSqlFor(spark, dir)
      val manifest = Queries.map { q =>
        val fp = warm(q)._3
        s"""{"name":"$q","rows":${fp.rows},"schema":${jstr(fp.schema)},"fp":"${fp.fp}"}\n"""
      }.mkString
      Files.writeString(ctx.args.out.resolve("verify_manifest.jsonl"), manifest)
      val sql = Queries.map(q => s""""$q":${jstr(oracle(q))}""").mkString("{", ",", "}")
      Files.writeString(ctx.args.out.resolve("oracle_sql.json"), sql)
    }
    progress("warm-up: fingerprint pass")
    o.layer("core.warmup_s") = Metric((System.nanoTime() - tw) / 1e9, "s")
    o.endToEnd("setup_s") = Metric(ctx.setupSec, "s")

    val times = mutable.Map.empty[String, List[(Double, Boolean)]].withDefaultValue(Nil)
    val leasedPerPass = mutable.ArrayBuffer.empty[Double]
    // six passes at least: the first timed passes are still warming up
    // (a query's time falls by up to a half over them), and a median of six
    // leaves the slowest out
    val passes = ctx.closedLoop(Int.MaxValue, minOps = 6) { (_, traced) =>
      var leased = 0
      val secs = rng.shuffle(Queries).map { q =>
        val (dt, l) = query(q, traced)
        times(q) = (dt, traced) :: times(q)
        leased += l
        dt
      }.sum
      if (traced) leasedPerPass += leased.toDouble
      progress(f"pass: queries $secs%.2f s")
      secs
    }
    o.attempted = passes.size * Queries.size
    Queries.foreach { q =>
      o.extra(s"executions.$q") = times(q).size.toString
      o.extra(s"times_s.$q") = times(q).reverse.map(t => "%.3f".format(t._1)).mkString(" ")
    }
    // a pass as the sum of per-query medians: one slow execution of one
    // query moves it less than it moves the median of pass totals
    val perQuery = Queries.map(q => median(times(q).map(_._1)))
    o.endToEnd("pass_s") = Metric(perQuery.sum, "s")
    o.report("catalog_pass_s") = o.endToEnd("pass_s")
    o.report("catalog_geomean_s") = Metric(geomean(perQuery), "s")
    o.extra("passes") = passes.size.toString
    o.layer("core.storage_peak_mb") = Metric(storagePeak, "MB")
    // a build's cost: its warm-up time less the same query's warm median
    o.layer("core.index_build_s") = Metric(warm.collect { case (q, (dt, true, _)) =>
      math.max(0.0, dt - median(times(q).map(_._1))) }.sum, "s")

    ctx.trace.foreach { tr =>
      tr.drain()
      val layer = Queries.flatMap { q =>
        val spans = tr.all(q)
        Seq(
          s"query.$q.s" -> Metric(median(spans.map(_.wallSec)), "s"),
          s"query.$q.jobs" -> Metric(median(spans.map(_.jobs.toDouble)), "count"),
          s"query.$q.shuffle_write_mb" -> Metric(median(spans.map(_.shuffleWriteBytes / 1e6)), "MB"),
          s"query.$q.driver_gap_s" -> Metric(median(spans.map(_.driverGapSec)), "s"))
      }
      traceSummary(o, passes, Seq.empty)
      o.layer ++= layer
      o.layer("core.leased_rdds") = Metric(median(leasedPerPass.toSeq), "count")
    }

    o
  }
}
