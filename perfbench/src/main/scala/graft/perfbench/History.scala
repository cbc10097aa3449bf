package graft.perfbench

import graft.core.{DependentConf, Flags, StabilizationConf}
import graft.ops.Geo
import graft.pipeline.QcMain

import scala.collection.mutable

/** A seeded observation history for `nStreams` moored sensors sampled every
  * `cadenceSec` seconds: a smooth daily cycle with small bounded noise, and
  * planted faults that each exercise one check of the QC chain, with the
  * flag severity each must come back at known in advance:
  *
  *  - range spike: a result far above the range bound (range check, BAD);
  *  - position jump: one fix 0.15° north of the mooring (spatial outlier, BAD);
  *  - position drift: one fix ~220 m off, well inside the spatial-outlier
  *    radius (6.89 m/s × 600 s) but far above the velocity limit
  *    (kinematics, BAD);
  *  - value bump: one result 10 units up, inside the range bounds. Its two
  *    neighbours get a central gradient of ~1.7/s (gradient, PROBABLY_BAD);
  *    the bump itself has a zero central gradient and is caught only by the
  *    trailing z-score, once at least [[BumpMinRun]] samples of the fetched
  *    window precede it (z-score, PROBABLY_BAD). Non-stabilization streams
  *    only, whose rows are all z-scored;
  *  - outage (stabilization streams only): 20 minutes of out-of-limits
  *    readings, BAD themselves, and BAD for the first 1,100 s after the
  *    sensor recovers (the stabilization warm-up is 1,200 s);
  *  - dependent pair: stream 2 depends on stream 1 at identical timestamps,
  *    so it inherits every flag of stream 1.
  *
  * Every row away from a fault and outside a stabilization warm-up must come
  * back GOOD. Rows next to a fault ([[guard]]) may carry any flag: their
  * severity follows from the checks' window arithmetic, not from the plant.
  * Faults on one stream are 100–150 samples apart and cycle through the
  * kinds, so a 700-sample window holds every kind on every
  * non-stabilization stream, and no two position jumps share a spatial
  * median frame (±300 s).
  */
final class History(seed: Long, val nStreams: Int, val nPerStream: Int,
                    val startSec: Long = 1704067200L, val cadenceSec: Int) {
  import History._
  require(nStreams >= 5, "the dependent pair and stabilization streams need 5 streams")

  val streamIds: Array[Long] = Array.tabulate(nStreams)(i => (i + 1).toLong)
  val stabilizationStreams = 4
  val independentIdx = 0
  val dependentIdx = 1

  def id(s: Int, k: Int): Long = streamIds(s) * IdStride + k
  def timeSec(k: Int): Long = startSec + k.toLong * cadenceSec
  def featureId(s: Int): Long = 1000L + s

  private val n = nStreams * nPerStream
  val result = new Array[Double](n)
  val lat = new Array[Double](n)
  val lon = new Array[Double](n)
  def at(s: Int, k: Int): Int = s * nPerStream + k

  /** Observation id -> the least severe flag rank the QC chain may give it,
    * in any window that serves it.
    */
  val expected = mutable.HashMap.empty[Long, Byte]
  /** Ids next to a fault, which may carry any flag at least as severe as
    * [[expected]].
    */
  val guard = mutable.HashSet.empty[Long]
  /** Ids of value bumps. In a window that serves a bump, its neighbours are
    * PROBABLY_BAD, and so is the bump once [[BumpMinRun]] samples precede it.
    */
  val bumps = mutable.HashSet.empty[Long]

  private val outageLen = 1200 / cadenceSec
  private def samplesIn(sec: Int) = sec / cadenceSec

  private def plant(s: Int, k: Int, rank: Byte, before: Int, after: Int): Unit = {
    expected(id(s, k)) = rank
    for (j <- k - before to k + after if j >= 0 && j < nPerStream) guard += id(s, j)
  }

  for (s <- 0 until nStreams) {
    val rng = new java.util.Random(seed * 1000003L + s)
    val base = 12.0 + 10.0 * rng.nextDouble()
    val amp = 1.0 + 2.0 * rng.nextDouble()
    val phase = 2 * math.Pi * rng.nextDouble()
    val mLat = 51.0 + 0.3 * rng.nextDouble()
    val mLon = 2.7 + 0.4 * rng.nextDouble()
    for (k <- 0 until nPerStream) {
      val i = at(s, k)
      val t = timeSec(k)
      result(i) = base + amp * math.sin(2 * math.Pi * t / 86400.0 + phase) +
        0.02 * (2 * rng.nextDouble() - 1)
      lat(i) = mLat + 1e-7 * (rng.nextDouble() - 0.5)
      lon(i) = mLon + 1e-7 * (rng.nextDouble() - 0.5)
    }
    // the kinds cycle, so every window holds each kind on every
    // non-stabilization stream
    val stab = s < stabilizationStreams
    var c = rng.nextInt(4)
    var k = 100 + rng.nextInt(50)
    while (k < nPerStream - 5) {
      var end = k
      c % 4 match {
        case 0 => // range spike
          result(at(s, k)) = 400.0 + 100.0 * rng.nextDouble()
          plant(s, k, Flags.Bad, 2, 2)
        case 1 => // position jump
          lat(at(s, k)) += 0.15
          plant(s, k, Flags.Bad, 2, 2)
        case 2 => // position drift
          lat(at(s, k)) += 0.002
          plant(s, k, Flags.Bad, 3, 3)
        case _ if !stab => // value bump
          result(at(s, k)) += 10.0
          for (j <- k - 2 to k + 2) guard += id(s, j)
          bumps += id(s, k)
        case _ if k + outageLen + samplesIn(1300) < nPerStream => // outage
          for (j <- k until k + outageLen) {
            result(at(s, j)) = OutageValue
            plant(s, j, Flags.Bad, 2, 0)
          }
          val last = timeSec(k + outageLen - 1)
          end = k + outageLen
          while (timeSec(end) - last < 1300) {
            if (timeSec(end) - last < 1100) expected(id(s, end)) = Flags.Bad
            guard += id(s, end)
            end += 1
          }
        case _ =>
      }
      c += 1
      k = end + 100 + rng.nextInt(50)
    }
  }
  // the dependent stream inherits every flag of its independent
  for (k <- 0 until nPerStream) {
    val (i, d) = (id(independentIdx, k), id(dependentIdx, k))
    for (e <- expected.get(i)) expected(d) = math.max(e, expected.getOrElse(d, Flags.NoQc)).toByte
    if (guard(i)) guard += d
  }

  /** Indices k of stream samples with from < t < to (both exclusive, as
    * the pushed OData `gt`/`lt` filter is).
    */
  def kRange(fromSec: Long, toSec: Long): Range = {
    val lo = math.max(0L, Math.floorDiv(fromSec - startSec, cadenceSec.toLong) + 1)
    val hi = math.min(nPerStream.toLong, Math.floorDiv(toSec - startSec - 1, cadenceSec.toLong) + 1)
    lo.toInt until math.max(lo, hi).toInt
  }

  /** Ids of every observation served for the window (fromSec, toSec). */
  def idsIn(fromSec: Long, toSec: Long): Set[Long] = {
    val ks = kRange(fromSec, toSec)
    (for (s <- 0 until nStreams; k <- ks) yield id(s, k)).toSet
  }

  /** Checks the flags (id -> wire code) returned for the window
    * (fromSec, toSec). Returns the ids that came back less severe than
    * expected, and the ids that should have come back GOOD and did not.
    *
    * Stabilization streams start every window in warm-up (the first row of
    * a fetch counts as an outage), so their first [[StabilizationSec]] are
    * expected BAD; that is what the window's look-back is for.
    */
  def verdict(fromSec: Long, toSec: Long,
              flags: collection.Map[Long, Int]): (Seq[Long], Seq[Long]) = {
    val ks = kRange(fromSec, toSec)
    val k0 = ks.start
    def bumpAt(s: Int, k: Int) = ks.contains(k) && bumps(id(s, k))
    val warmEnd = k0 + (StabilizationSec / cadenceSec).toInt
    val missed = mutable.ArrayBuffer.empty[Long]
    val spurious = mutable.ArrayBuffer.empty[Long]
    flags.foreach { case (i, wire) =>
      val rank = Flags.wireToRank.getOrElse(wire, Flags.NoQc)
      val s = (i / IdStride).toInt - 1
      val k = (i % IdStride).toInt
      val warm = s < stabilizationStreams && k < warmEnd
      val min = Seq(
        expected.get(i),
        if (warm) Some(Flags.Bad) else None,
        if ((bumpAt(s, k) && k - k0 >= BumpMinRun) || bumpAt(s, k - 1) || bumpAt(s, k + 1))
          Some(Flags.ProbablyBad)
        else None).flatten
      if (min.nonEmpty && rank < min.max) missed += i
      else if (min.isEmpty && !guard(i) && rank != Flags.Good &&
        !(s < stabilizationStreams && math.abs(k - warmEnd) <= 2)) spurious += i
    }
    (missed.sorted.toSeq, spurious.sorted.toSeq)
  }

  /** The QC configuration the workload runs: every stream range-checked,
    * four streams stabilization-checked, and one dependent pair.
    */
  def qcConfig: QcMain.Config = QcMain.Config(
    rangeBounds = streamIds.map(_ -> (5.0, 50.0)).toMap,
    regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 50.9, 51.5, 2.6, 3.2)),
    depthThreshold = 25.0,
    stabilization = streamIds.take(stabilizationStreams).toSeq.map(id =>
      StabilizationConf(id, 5.0, 50.0, dtStabilizationSec = StabilizationSec,
        maxAllowedDowntimeSec = 900L)),
    dependents = Seq(DependentConf(independentId = streamIds(independentIdx),
      dependentId = streamIds(dependentIdx), dtToleranceUs = 500000L,
      secondaryRange = Some((5.0, 50.0)))))

  // ---- SensorThings JSON ---------------------------------------------------

  private def obsJson(sb: java.lang.StringBuilder, s: Int, k: Int): Unit = {
    val i = at(s, k)
    sb.append("{\"@iot.id\":").append(id(s, k))
      .append(",\"result\":").append(result(i))
      .append(",\"phenomenonTime\":\"").append(java.time.Instant.ofEpochSecond(timeSec(k)))
      .append("\",\"resultQuality\":0,\"FeatureOfInterest\":{\"@iot.id\":").append(featureId(s))
      .append(",\"feature\":{\"coordinates\":[").append(lon(i)).append(',').append(lat(i))
      .append("]}}}")
  }

  /** One FROST-shaped datastream object holding samples `ks` of stream `s`. */
  def datastreamJson(sb: java.lang.StringBuilder, s: Int, ks: Iterable[Int]): Unit = {
    sb.append("{\"@iot.id\":").append(streamIds(s))
      .append(",\"name\":\"ds").append(streamIds(s))
      .append("\",\"description\":\"mooring ").append(s)
      .append("\",\"unitOfMeasurement\":{\"name\":\"degC\"}")
      .append(",\"ObservedProperty\":{\"@iot.id\":").append(if (s == dependentIdx) 2 else 1)
      .append(",\"name\":\"").append(if (s == dependentIdx) "salinity" else "temperature")
      .append("\"},\"Sensor\":{\"name\":\"probe").append(s).append("\"},\"Observations\":[")
    var first = true
    ks.foreach { k =>
      if (!first) sb.append(',')
      obsJson(sb, s, k)
      first = false
    }
    sb.append("]}")
  }

  /** A captured STA response (the file shape `QcMain.run` reads) with every
    * stream's samples in (fromSec, toSec).
    */
  def capturedResponse(fromSec: Long, toSec: Long): String = {
    val sb = new java.lang.StringBuilder()
    sb.append("{\"Datastreams\":[")
    val ks = kRange(fromSec, toSec)
    for (s <- 0 until nStreams) {
      if (s > 0) sb.append(',')
      datastreamJson(sb, s, ks)
    }
    sb.append("]}").toString
  }
}

object History {
  private val IdStride = 10000000L
  private val OutageValue = 1.0
  /** The stabilization warm-up, and so the window look-back. */
  val StabilizationSec = 1200L
  /** Samples of a fetched window that must precede a value bump before its
    * trailing z-score can exceed 3: a lone outlier among n samples has a
    * z-score of at most (n - 1) / sqrt(n), which passes 3 at n = 11.
    */
  val BumpMinRun = 20
}
