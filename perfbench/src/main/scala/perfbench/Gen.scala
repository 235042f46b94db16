package perfbench

import graft.core.{HistoryRequest, Intervals}
import graft.streaming.StreamingIngest.Point

import java.util.SplittableRandom

/** One MetricQ `DataChunk` as it arrives on the wire: parallel arrays,
  * times delta-encoded with the first delta absolute (the shape
  * `ChunkDecode.decode` consumes).
  */
final case class Chunk(metric: String, chunk_id: Long,
                       time_delta: Array[Long], value: Array[Double]) {
  /** The decoded points, in arrival order — the plain-Scala twin of
    * `ChunkDecode.decode` with its default `posPerChunk`.
    */
  def points: Seq[Point] = {
    var t = 0L
    time_delta.indices.map { i =>
      t += time_delta(i)
      Point(metric, t, value(i), (chunk_id << 20) + i)
    }
  }
}

/** Fixed shares of the anomalies the ingest gate must drop. Every class
  * is built so that exactly one drop rule applies to it, so the expected
  * counts are known by construction:
  *   - NaN and ±Inf points carry a fresh, advancing timestamp;
  *   - duplicate and regressing points carry a finite value and a
  *     timestamp equal to / below the metric's newest kept point.
  */
final case class Shares(nan: Double = 0.01, inf: Double = 0.005,
                        dup: Double = 0.01, regress: Double = 0.01)

/** Per-class tallies of a point set, as the ingest gate counts them. */
final case class Tally(in: Long, nan: Long, inf: Long, nonMono: Long, kept: Long) {
  def +(o: Tally): Tally =
    Tally(in + o.in, nan + o.nan, inf + o.inf, nonMono + o.nonMono, kept + o.kept)
}
object Tally { val Zero: Tally = Tally(0, 0, 0, 0, 0) }

/** Seeded generator of DataChunk batches: `metrics` series sampled every
  * `samplingNs` with per-metric period jitter (0.5–1.5 × the nominal
  * interval) and per-point jitter (±20 %), values a two-decimal random
  * walk. One batch is one chunk of `pointsPerChunk` points per metric.
  * The HTA hierarchy follows the importer defaults: `interval_min` =
  * 40 × the sampling interval, factor 10.
  *
  * Everything is a pure function of the constructor arguments and the
  * number of batches drawn so far.
  */
final class Gen(seed: Long, val metrics: Int, val pointsPerChunk: Int,
                val samplingNs: Long, val shares: Shares = Shares()) {
  import Gen._
  require(metrics > 0 && pointsPerChunk > 0 && samplingNs >= 1000L)

  val names: Vector[String] = Vector.tabulate(metrics)(i => f"bench.m$i%03d")
  val intervalMinNs: Long = 40L * samplingNs
  val levels: List[Long] = Intervals.ladder(intervalMinNs)

  private val root = new SplittableRandom(seed)
  private val rngs = Array.fill(metrics)(root.split())
  private val period = Array.tabulate(metrics)(m =>
    micros((samplingNs * (0.5 + rngs(m).nextDouble())).toLong))
  private val clock = Array.tabulate(metrics)(m =>
    T0 + micros((period(m) * rngs(m).nextDouble()).toLong))
  private val lastKept = Array.fill(metrics)(Long.MinValue)
  private val cents = Array.fill(metrics)(0L).zipWithIndex.map { case (_, m) =>
    10000L + rngs(m).nextInt(20000)
  }
  private var batchNo = 0L
  private var tally = Tally.Zero

  /** Counts of everything generated so far, by construction. */
  def generated: Tally = tally

  def nextBatch(): Vector[Chunk] = {
    val out = Vector.tabulate(metrics) { m =>
      val r = rngs(m)
      val ts = new Array[Long](pointsPerChunk)
      val vs = new Array[Double](pointsPerChunk)
      var i = 0
      while (i < pointsPerChunk) {
        val u = r.nextDouble()
        val first = lastKept(m) == Long.MinValue
        if (!first && u < shares.dup) {
          ts(i) = lastKept(m); vs(i) = cents(m) / 100.0
          tally += Tally(1, 0, 0, 1, 0)
        } else if (!first && u < shares.dup + shares.regress) {
          ts(i) = math.max(T0, lastKept(m) - micros(1000L + r.nextLong(samplingNs)))
          vs(i) = cents(m) / 100.0
          tally += Tally(1, 0, 0, 1, 0)
        } else {
          clock(m) += micros((period(m) * (0.8 + 0.4 * r.nextDouble())).toLong)
          ts(i) = clock(m)
          val w = u - shares.dup - shares.regress
          if (!first && w >= 0 && w < shares.nan) {
            vs(i) = Double.NaN
            tally += Tally(1, 1, 0, 0, 0)
          } else if (!first && w >= shares.nan && w < shares.nan + shares.inf) {
            vs(i) = if (r.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity
            tally += Tally(1, 0, 1, 0, 0)
          } else {
            cents(m) = math.max(0L, cents(m) + r.nextInt(201) - 100)
            vs(i) = cents(m) / 100.0
            lastKept(m) = ts(i)
            tally += Tally(1, 0, 0, 0, 1)
          }
        }
        i += 1
      }
      val deltas = new Array[Long](pointsPerChunk)
      var prev = 0L
      ts.indices.foreach { k => deltas(k) = ts(k) - prev; prev = ts(k) }
      Chunk(names(m), batchNo * metrics + m, deltas, vs)
    }
    batchNo += 1
    out
  }
}

object Gen {
  /** 2024-01-01T00:00:00Z in ns. */
  val T0: Long = 1704067200000000000L
  /** Engine times are µs-aligned ns (the store's exact integer domain). */
  def micros(ns: Long): Long = ns - ns % 1000L
}

/** The ingest gate's rule in plain Scala (keep a point iff its value is
  * finite and its time is newer than the metric's newest kept point,
  * in arrival order), with state carried across batches.
  */
final class GateModel {
  private val maxTs = scala.collection.mutable.HashMap.empty[String, Long]
  /** Kept points: (batch number, metric, time, value). */
  private val kept = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Double)]
  private var batches = 0
  private var tally = Tally.Zero

  /** One micro-batch in arrival order; returns its tally. */
  def offer(points: Seq[Point]): Tally = synchronized {
    var t = Tally.Zero
    points.sortBy(_.seq).foreach { p =>
      val bad = p.value.isNaN || p.value.isInfinite
      val newer = p.time > maxTs.getOrElse(p.metric, Long.MinValue)
      t += Tally(1,
        if (p.value.isNaN) 1 else 0,
        if (p.value.isInfinite) 1 else 0,
        if (!bad && !newer) 1 else 0,
        if (!bad && newer) 1 else 0)
      if (!bad && newer) {
        maxTs(p.metric) = p.time
        kept += ((batches, p.metric, p.time, p.value))
      }
    }
    batches += 1
    tally += t
    t
  }

  def total: Tally = synchronized(tally)

  /** The committed point set per metric after the first `upTo` batches,
    * time-ordered.
    */
  def series(upTo: Int = Int.MaxValue): Map[String, Series] = synchronized {
    kept.iterator.filter(_._1 < upTo).toSeq.groupBy(_._2).map { case (m, ps) =>
      m -> Series(ps.map(_._3).toArray, ps.map(_._4).toArray)
    }
  }
}

/** One metric's committed points, strictly increasing in time. */
final case class Series(times: Array[Long], values: Array[Double])

/** Seeded history-request stream: metrics drawn with a Zipf skew, range
  * lengths log-uniform from half the finest level up to the whole span,
  * interval_max log-uniform across the ladder, both stratified. The type
  * sequence is a fixed cycle of 10, the same for every seed, so that
  * runs with different seeds serve the same mix: 4 FLEX_TIMELINE (2 of
  * them below the finest level, i.e. the raw fallback),
  * 4 AGGREGATE_TIMELINE, 1 AGGREGATE and 1 LAST_VALUE.
  */
final class RequestGen(seed: Long, names: IndexedSeq[String], levels: Seq[Long],
                       spanStart: Long, spanEnd: Long, zipfS: Double = 1.1) {
  private val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val order = {
    val a = names.toArray
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x; i -= 1 }
    a.toVector
  }
  private val cdf = {
    val w = order.indices.map(k => 1.0 / math.pow(k + 1, zipfS))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def metric(): String = {
    val u = r.nextDouble()
    val k = cdf.indexWhere(_ >= u)
    order(if (k < 0) order.length - 1 else k)
  }
  private var n = 0

  /** Log-uniform in `[lo, hi)`, drawn from the request's fixed stratum
    * (one of [[RequestGen.Cycle]]'s length) so that every run covers
    * the range the same way.
    */
  private def logUniform(lo: Double, hi: Double, stratum: Int): Long = {
    val u = (stratum + r.nextDouble()) / RequestGen.Cycle.length
    math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo))).toLong
  }

  def next(): HistoryRequest = {
    val k = n % RequestGen.Cycle.length
    n += 1
    val m = metric()
    val span = spanEnd - spanStart
    val len = Gen.micros(logUniform(levels.min / 2.0, span.toDouble, RequestGen.LenStrata(k)))
    val start = Gen.micros(spanStart - len / 4 + (r.nextDouble() * (span + len / 4)).toLong)
    val end = start + len
    val im = RequestGen.ImStrata(k)
    RequestGen.Cycle(k) match {
      case 'F' => HistoryRequest.FlexTimeline(m, start, end,
        logUniform(levels.min.toDouble, levels.max * 2.0, im))
      case 'R' => HistoryRequest.FlexTimeline(m, start, end,
        logUniform(levels.min / 20.0, levels.min / 2.0, im))
      case 'T' => HistoryRequest.AggregateTimeline(m, start, end,
        logUniform(levels.min.toDouble, levels.max * 2.0, im))
      case 'A' => HistoryRequest.Aggregate(m, start, end)
      case 'L' => HistoryRequest.LastValue(m)
    }
  }
}

object RequestGen {
  /** F/R = FLEX_TIMELINE served from a level / from raw, T =
    * AGGREGATE_TIMELINE, A = AGGREGATE, L = LAST_VALUE.
    */
  val Cycle: String = "FTRATFTLRT"
  /** Fixed permutations of the 10 strata for range length and
    * interval_max, one entry per cycle position.
    */
  val LenStrata: Array[Int] = Array(3, 7, 1, 5, 9, 0, 4, 8, 2, 6)
  val ImStrata: Array[Int] = Array(6, 1, 8, 4, 0, 7, 2, 9, 5, 3)
}
