package graft.core

/** The 6-component aggregate summary of a set of samples over a time span.
  *
  * Semantics per the reference's response assembly (field-by-field copy of
  * `minimum, maximum, sum, count, integral, active_time`,
  * `/root/reference/src/async_hta_service.hpp:381-388` and `:454-460`):
  *  - `minimum/maximum/sum/count` are over the *samples* in the span;
  *  - `integral` is the time-weighted integral of the value under
  *    zero-order hold between consecutive samples (units value·ns);
  *  - `activeTime` is the summed covered duration in ns, so
  *    `integral / activeTime` is the time-weighted mean while
  *    `sum / count` is the sample mean.
  *
  * This forms a commutative monoid under [[Agg.merge]] with identity
  * [[Agg.empty]] — the algebra behind the hierarchical rollup (SURVEY §2.3
  * A3) and behind Spark's partial/final aggregation of it.
  */
final case class Agg(
    minimum: Double,
    maximum: Double,
    sum: Double,
    count: Long,
    integral: Double,
    activeTime: Long
) {
  def merge(o: Agg): Agg = Agg.merge(this, o)

  /** Sample mean; NaN on empty. */
  def mean: Double = if (count == 0) Double.NaN else sum / count
}

object Agg {
  /** Monoid identity: +inf/-inf min/max so merge is total. */
  val empty: Agg =
    Agg(Double.PositiveInfinity, Double.NegativeInfinity, 0.0, 0L, 0.0, 0L)

  def merge(a: Agg, b: Agg): Agg = Agg(
    math.min(a.minimum, b.minimum),
    math.max(a.maximum, b.maximum),
    a.sum + b.sum,
    a.count + b.count,
    a.integral + b.integral,
    a.activeTime + b.activeTime
  )

  /** Aggregate of a single sample (no hold segment yet). */
  def ofPoint(value: Double): Agg = Agg(value, value, value, 1L, 0.0, 0L)

  /** Aggregate of a zero-order-hold segment [t0, t1) at `value` (no sample). */
  def ofSegment(value: Double, durNs: Long): Agg =
    Agg(Double.PositiveInfinity, Double.NegativeInfinity, 0.0, 0L,
      value * durNs, durNs)
}
