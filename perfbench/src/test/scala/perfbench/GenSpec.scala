package perfbench

import graft.core.HistoryRequest
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the seeded input generator and its models (no Spark). */
class GenSpec extends AnyFunSuite {

  private def bytes(seed: Long, batches: Int): Vector[String] = {
    val g = new Gen(seed, metrics = 7, pointsPerChunk = 50, samplingNs = 10000000000L)
    Vector.fill(batches)(g.nextBatch()).flatten.map { c =>
      s"${c.metric}|${c.chunk_id}|${c.time_delta.mkString(",")}|" +
        c.value.map(java.lang.Double.doubleToRawLongBits).mkString(",")
    }
  }

  test("the same seed gives byte-identical batches, another seed does not") {
    assert(bytes(7L, 5) == bytes(7L, 5))
    assert(bytes(7L, 5) != bytes(8L, 5))
  }

  test("the gate model's counts equal the generator's tallies for every batch split") {
    val g = new Gen(3L, metrics = 5, pointsPerChunk = 400, samplingNs = 10000000000L,
      Shares(nan = 0.03, inf = 0.02, dup = 0.03, regress = 0.03))
    val points = Vector.fill(6)(g.nextBatch()).flatten.flatMap(_.points)
    val t = g.generated
    assert(t.nan > 0 && t.inf > 0 && t.nonMono > 0 && t.kept > 0)
    assert(t.in == t.nan + t.inf + t.nonMono + t.kept)
    // any split of the arrival sequence into micro-batches: the gate
    // state carries across batches, so the totals must not move
    val r = new java.util.SplittableRandom(11L)
    (1 to 20).foreach { _ =>
      val cuts = (Vector.fill(r.nextInt(8))(r.nextInt(points.size)) :+ 0 :+ points.size)
        .distinct.sorted
      val m = new GateModel
      cuts.zip(cuts.tail).foreach { case (a, b) => m.offer(points.slice(a, b)) }
      assert(m.total == t)
      assert(m.series().values.forall(s =>
        s.times.sliding(2).forall(p => p.length < 2 || p(0) < p(1))))
    }
  }

  test("a chunk's plain decode inverts its delta encoding") {
    val c = new Gen(5L, 2, 30, 10000000000L).nextBatch().head
    val ps = c.points
    assert(ps.map(_.time) == c.time_delta.scanLeft(0L)(_ + _).tail.toSeq)
    assert(ps.map(_.seq) == ps.indices.map(i => (c.chunk_id << 20) + i))
  }

  test("the request stream is seeded and serves the same type mix for every seed") {
    val g = new Gen(1L, 8, 10, 60000000000L)
    def reqs(seed: Long) = {
      val rg = new RequestGen(seed, g.names, g.levels, Gen.T0, Gen.T0 + 86400000000000L)
      Vector.fill(40)(rg.next())
    }
    assert(reqs(4L) == reqs(4L))
    assert(reqs(4L) != reqs(5L))
    def kinds(rs: Seq[HistoryRequest]) = rs.map(_.getClass.getSimpleName)
    assert(kinds(reqs(4L)) == kinds(reqs(5L)))
  }

  test("the history model: a hold segment splits pro-rata across buckets") {
    val s = Series(Array(0L, 1500000L), Array(1.0, 3.0)) // points at 0 and 1.5 ms
    val rows = Model.respond(HistoryRequest.AggregateTimeline("m", 0L, 2000000L, 1000000L),
      Map("m" -> s), Seq(1000000L))
    assert(rows.map(_("bucket_start")) == Seq(0L, 1000000L))
    assert(rows.map(_("active_ns")) == Seq(1000000L, 500000L))
    assert(rows.map(_("cnt")) == Seq(1L, 1L))
    val agg = Model.respond(HistoryRequest.Aggregate("m", 500000L, 1500000L),
      Map("m" -> s), Seq(1000000L)).head
    assert(agg("cnt") == 1L && agg("active_ns") == 1000000L && agg("integral_vs") == 0.001)
  }
}
