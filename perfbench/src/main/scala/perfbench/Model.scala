package perfbench

import graft.core.{HistoryRequest => R, Intervals}

/** Plain-Scala model of the four history responses over a committed
  * point set — the reference semantics `HtaService.history` implements
  * (closed ranges for points, zero-order-hold segments clipped pro-rata,
  * the exact integer domain: centivalues and µs durations), written
  * without Spark so that every served response can be checked.
  *
  * A response is a list of rows, each a column-name → value map with
  * the same column names and JVM types the service returns.
  */
object Model {
  type Row = Map[String, Any]

  private def cents(v: Double): Long = math.round(v * 100)

  private final class Acc {
    var min: java.lang.Double = null
    var max: java.lang.Double = null
    var sumC, cnt, integral, active = 0L
    def point(v: Double): Unit = {
      if (min == null || v < min) min = v
      if (max == null || v > max) max = v
      sumC += cents(v); cnt += 1
    }
  }

  /** Buckets of width `i` over the whole series: point statistics plus
    * every hold segment `[t_k, t_k+1)` split across the buckets it
    * overlaps (the A1/A2 rollup).
    */
  private def rollup(s: Series, i: Long): scala.collection.SortedMap[Long, Acc] = {
    val b = scala.collection.mutable.TreeMap.empty[Long, Acc]
    def at(k: Long) = b.getOrElseUpdate(k, new Acc)
    s.times.indices.foreach { k =>
      val t = s.times(k)
      at(t - t % i).point(s.values(k))
      if (k + 1 < s.times.length) {
        val t1 = s.times(k + 1)
        val vc = cents(s.values(k))
        var bs = t - t % i
        val last = (t1 - 1) - (t1 - 1) % i
        while (bs <= last) {
          val dur = (math.min(t1, bs + i) - math.max(t, bs)) / 1000L
          val a = at(bs)
          a.integral += vc * dur; a.active += dur
          bs += i
        }
      }
    }
    b
  }

  private def timeline(m: String, s: Series, levels: Seq[Long],
                       start: Long, end: Long, im: Long): Seq[Row] = {
    val i = Intervals.selectLevel(levels, im).getOrElse(levels.min)
    var prev = 0L
    rollup(s, i).iterator
      .filter { case (bs, _) => bs + i > start && bs < end }
      .map { case (bs, a) =>
        val row: Row = Map("metric" -> m, "interval_ns" -> i, "bucket_start" -> bs,
          "min_v" -> a.min, "max_v" -> a.max, "sum_v" -> a.sumC.toDouble / 100.0,
          "cnt" -> a.cnt, "integral_vs" -> a.integral.toDouble / 1e8,
          "active_ns" -> a.active * 1000L, "time_delta" -> (bs - prev))
        prev = bs
        row
      }.toSeq
  }

  private def raw(m: String, s: Series, start: Long, end: Long): Seq[Row] = {
    var prev = 0L
    s.times.indices.filter(k => s.times(k) >= start && s.times(k) <= end).map { k =>
      val t = s.times(k)
      val row: Row = Map("metric" -> m, "time" -> t, "value" -> s.values(k),
        "time_delta" -> (t - prev))
      prev = t
      row
    }
  }

  private def aggregate(m: String, s: Series, start: Long, end: Long): Row = {
    val a = new Acc
    s.times.indices.foreach { k =>
      val t = s.times(k)
      if (t >= start && t <= end) a.point(s.values(k))
      if (k + 1 < s.times.length) {
        val t1 = s.times(k + 1)
        if (t < end && t1 > start) {
          val dur = (math.min(t1, end) - math.max(t, start)) / 1000L
          a.integral += cents(s.values(k)) * dur; a.active += dur
        }
      }
    }
    Map("metric" -> m, "time_delta" -> start, "min_v" -> a.min, "max_v" -> a.max,
      "sum_v" -> a.sumC.toDouble / 100.0, "cnt" -> a.cnt,
      "integral_vs" -> a.integral.toDouble / 1e8, "active_ns" -> a.active * 1000L)
  }

  /** The expected response rows of `req`, in time order. */
  def respond(req: R, series: Map[String, Series], levels: Seq[Long]): Seq[Row] = {
    val s = series.getOrElse(req.metric, Series(Array.empty, Array.empty))
    req match {
      case R.AggregateTimeline(m, st, e, im) => timeline(m, s, levels, st, e, im)
      case R.FlexTimeline(m, st, e, im) =>
        if (Intervals.selectLevel(levels, im).isEmpty) raw(m, s, st, e)
        else timeline(m, s, levels, st, e, im)
      case R.Aggregate(m, st, e) => Seq(aggregate(m, s, st, e))
      case R.LastValue(m) =>
        if (s.times.isEmpty) Seq.empty
        else {
          val t = s.times.last
          Seq(Map("metric" -> m, "time" -> t, "value" -> s.values.last, "time_delta" -> t))
        }
    }
  }

  /** `None` when `actual` equals `expected` (rows compared in time
    * order, every column of the expected row), else a one-line reason.
    */
  def diff(expected: Seq[Row], actual: Seq[Row]): Option[String] = {
    def key(r: Row): Long = r.get("bucket_start").orElse(r.get("time"))
      .orElse(r.get("time_delta")).map(_.asInstanceOf[Long]).getOrElse(0L)
    if (expected.size != actual.size)
      return Some(s"${actual.size} rows, expected ${expected.size}")
    expected.sortBy(key).zip(actual.sortBy(key)).iterator.map { case (e, a) =>
      e.collectFirst { case (c, v) if !same(v, a.getOrElse(c, Missing)) =>
        s"column $c = ${a.getOrElse(c, "<missing>")}, expected $v at ${key(e)}"
      }
    }.collectFirst { case Some(msg) => msg }
  }

  private object Missing
  private def same(e: Any, a: Any): Boolean = (e, a) match {
    case (null, null) => true
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case _ => e == a
  }
}
