package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric determinism helpers.
  *
  * Double summation is order-dependent; Spark sums per-partition in parallel
  * while the DuckDB oracle sums sequentially, so `sum(double)` can hash-differ.
  * All money-like aggregates therefore go through exact integer cents:
  * `round(x*100)` is integral, its long cast is exact, and long sums are
  * associative. The reference keeps money-like fields as double throughout
  * (SURVEY.md §1.4), so presenting `cents/100.0` preserves its value domain.
  */
object Num {
  /** Exact cents: round(col*100) as long. DuckDB twin:
    * `CAST(round(x*100) AS BIGINT)` (cast is exact because round() made the
    * double integral; both engines round half away from zero for positives).
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Back to dollars after an exact integer aggregation. */
  def dollars(centsCol: Column): Column = centsCol / lit(100.0)

  /** Fractional rounding as explicit ⌊x·10ⁿ+½⌋/10ⁿ — the ONLY
    * cross-engine-safe form. Native `round(x, n)` diverges between
    * engines on half-way values: Spark rounds the double's exact decimal
    * expansion (BigDecimal HALF_UP) while DuckDB std::rounds the IEEE
    * product x·10ⁿ — measured 2.2% disagreement on adversarial ratios,
    * and one real doc at sf0.1 (q_quality_score, r11 sweep). The floor
    * form runs the identical IEEE multiply/floor on both engines: 0
    * disagreements on the same 220k-value battery at scales 2/3/4/6.
    * SQL twin: `floor(x * 10^n + 0.5) / 10^n.0`. (Integer-target
    * `round(x)` is safe — no multiply — and stays native.)
    *
    * Non-finite guard (r11 ADVICE): Spark's `floor(double)` returns
    * BIGINT, so the bare floor form maps NaN → 0 and ±Inf → clamped
    * longs while DuckDB's double-space floor PROPAGATES them — a
    * NaN-capable gated column (corr/stddev on a degenerate group) would
    * silently diverge cross-engine. NaN/±Inf therefore pass through
    * unchanged on the Spark side (matching DuckDB's natural behavior —
    * the SQL twin needs no mirror), as do magnitudes at or beyond the
    * long-clamp boundary 2⁶³/10ⁿ, where a double has no fractional part
    * at scale n anyway (ulp ≥ 1024 there) so identity IS the round.
    */
  def roundAt(c: Column, n: Int): Column = {
    val m = math.pow(10.0, n)
    // Identity only at/above the TRUE clamp boundary 2⁶³/10ⁿ (r12
    // ADVICE): the earlier 9.0e18 guard fired in the band
    // [9.0e18/m, 2⁶³/m) where no clamp occurs and the floor form was
    // exact, re-opening a rare 1-ulp cross-engine divergence there.
    // 9.223372036854776e18 is the closest double ≥ 2⁶³, so identity
    // replaces exactly the genuinely-clamping region (where ulp ≥ 1024
    // at scale n makes identity the round on both engines anyway).
    when(isnan(c) || abs(c) >= lit(9.223372036854776e18 / m), c)
      .otherwise(floor(c * lit(m) + lit(0.5)) / lit(m))
  }

  /** Round to 4 decimals as explicit ⌊x·10⁴+½⌋ — half-up on BOTH engines
    * regardless of their native `round` tie convention.
    */
  def round4(c: Column): Column = roundAt(c, 4)
}
