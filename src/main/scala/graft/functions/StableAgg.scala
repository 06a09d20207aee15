package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic aggregation helpers.
  *
  * Problem: Spark computes `sum(double)` as partial aggregates merged in a
  * nondeterministic partition order; any other engine (or Spark itself on a
  * different partition count) can disagree in the last ulps. That breaks
  * exact hash-comparison against a single-threaded oracle, and it breaks
  * run-to-run reproducibility at 100 TB where partitioning is dynamic.
  *
  * Fix: route every floating-point summation through exact decimal
  * arithmetic — `sum(cast(x as decimal(38, s)))` is associative and
  * overflow-checked, so the merge order cannot change the result — then
  * cast the exact total back to double once. The per-row double
  * multiplications feeding the sum stay IEEE-deterministic (same inputs →
  * same product on every engine). Costs ~2× vs a raw double sum in the
  * aggregate hot loop, which is noise next to scan+shuffle at scale; use
  * plain `sum` only where bit-reproducibility is explicitly not required.
  *
  * Integer inputs don't need any of this (`sum(long)` is exact); see the
  * `l*` variants.
  *
  * Mirrored SQL-text generators for the DuckDB oracle live in
  * [[graft.OracleSql]].
  */
object StableAgg {
  private val SumScale = 6   // decimal(38,6): 1e31 integer headroom
  private val SqScale  = 10  // squares need more fractional precision

  /** Exact, order-independent sum of a double expression.
    *
    * Quantization contract (explicit, per ADVICE r01): each ADDEND is
    * rounded half-up to `scale` fractional digits before summing — with
    * the default scale 6, |x| < 5e-7 contributes exactly 0 and the result
    * is the exact sum of the rounded addends, NOT the IEEE sum. Pick the
    * scale per use: market prices/sizes and latencies are quoted well
    * above 1e-6, while unit-magnitude series (embedding components, rates)
    * should pass `scale = 12` (headroom still 1e25). The oracle SQL must
    * mirror the same `CAST(x AS DECIMAL(38,s))` for hash parity.
    *
    * Overflow contract: |x| >= 1e(38-scale) cannot be represented. Under
    * ANSI mode (Spark 4 default) the cast itself raises; under non-ANSI
    * the cast yields null, which `sum` would silently exclude (a wrong
    * answer) — the explicit guard below raises there too, so bad
    * magnitudes fail loudly in every session mode.
    */
  def dsum(c: Column, scale: Int = SumScale): Column =
    sum(guardedDecimal(c, scale)).cast("double")

  /** Windowed twin of [[dsum]] — the exact decimal sum over a window frame
    * (e.g. a trailing-N moving sum). Same quantization and overflow
    * contracts; the oracle mirror is [[graft.OracleSql.dsumOver]].
    */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec,
      scale: Int = SumScale): Column =
    sum(guardedDecimal(c, scale)).over(w).cast("double")

  // Exact overflow predicate in cheap double arithmetic: decimal(38,s)
  // holds up to 10^(38-s) - 10^-s, and no double lies strictly between
  // that and 10^(38-s) (ulp there is ~1e16), so |x| >= 10^(38-s) <=>
  // the rounded cast overflows. Checking the double (one compare per
  // row) instead of null-testing a second decimal cast keeps the guard
  // out of the aggregate's hot-path cost.
  private def guardedDecimal(c: Column, scale: Int): Column = {
    val limit = math.pow(10.0, (38 - scale).toDouble)
    when(c.isNotNull && abs(c) >= limit,
        raise_error(concat(
          lit(s"StableAgg.dsum: |value| overflows decimal(38,$scale): "),
          c.cast("string"))).cast(s"decimal(38,$scale)"))
      .otherwise(c.cast(s"decimal(38,$scale)"))
  }

  /** Exact-sum-based mean (null when no rows). Pass `scale = 12` for
    * unit-magnitude series (see [[dsum]]'s quantization contract).
    */
  def davg(c: Column, scale: Int = SumScale): Column = dsum(c, scale) / count(c)

  /** Sample standard deviation ((n-1) divisor — matches the reference's
    * rolling std, reference/src/metrics/rolling.py:180) computed from exact
    * decimal sums, with the reference's empty/singleton defaults folded in:
    * 0.0 when n <= 1 (rolling.py:178-196).
    */
  def dstdSamp(c: Column): Column = {
    val n  = count(c).cast("double")
    val s1 = dsum(c)
    val s2 = dsum(c * c, SqScale)
    when(count(c) <= 1, lit(0.0))
      .otherwise(sqrt(greatest((s2 - s1 * s1 / n) / (n - lit(1.0)), lit(0.0))))
  }

  /** Exact integer sum → double (for Long inputs; DuckDB's int128 sum of the
    * same values casts to the identical double).
    */
  def lsumD(c: Column): Column = sum(c).cast("double")

  def lavg(c: Column): Column = sum(c).cast("double") / count(c)

  /** Sample std of an integer column, exact-sum formula, 0.0 when n <= 1.
    * The squares are summed in decimal(38,0): a Long square overflows
    * from |x| ≈ 3.04e9 (epoch-ms-scale latencies), and the exact sum
    * cast to double equals DuckDB's int128 sum of the same squares.
    */
  def lstdSamp(c: Column): Column = {
    val n  = count(c).cast("double")
    val s1 = sum(c).cast("double")
    val x  = c.cast("decimal(38,0)")
    val s2 = sum(x * x).cast("double")
    when(count(c) <= 1, lit(0.0))
      .otherwise(sqrt(greatest((s2 - s1 * s1 / n) / (n - lit(1.0)), lit(0.0))))
  }
}
