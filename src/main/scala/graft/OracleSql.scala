package graft

/** DuckDB-SQL text generators mirroring [[graft.functions.StableAgg]].
  *
  * Every fragment here must produce the bit-identical double that the
  * corresponding Spark Column produces: exact decimal sums, then the same
  * shape of double arithmetic applied to the exact totals.
  */
object OracleSql {
  /** Exact decimal sum → double, hardened against BOTH of DuckDB's sloppy
    * double↔decimal conversion paths (each diverges from Spark by 1 ulp at
    * sufficient magnitude — found at sf0.1 in q12's sum of squares):
    *
    *  - addend quantization: Spark's double→decimal cast quantizes the
    *    SHORTEST ROUND-TRIP decimal form, not the exact binary value
    *    (Decimal.set(Double) → scala BigDecimal(d) → java
    *    BigDecimal.valueOf → Double.toString). DuckDB's native
    *    CAST(DOUBLE AS DECIMAL) instead computes x·10^scale in double and
    *    rounds (scaled-double error), and a printf('%.Nf') render
    *    quantizes the EXACT expansion — both diverge from Spark where the
    *    shortest repr's implicit trailing zeros differ from the exact
    *    binary digits inside the target scale (found at q75's close²,
    *    ~1e10 magnitude at scale 10: 836/12277 windows off by 1 ulp).
    *    `CAST(x AS VARCHAR)` is DuckDB's shortest round-trip render — the
    *    same digit string Double.toString yields — and the string →
    *    decimal parse performs the ONE HALF_UP rounding at the target
    *    scale exactly like Java's BigDecimal.setScale (verified:
    *    '0.125'→0.13, '-0.125'→-0.13, 5e-07→0.000001).
    *  - sum → double: DuckDB's DECIMAL→DOUBLE is int128→double then
    *    /10^scale (two roundings); via VARCHAR it is exact digits + one
    *    correctly-rounded string→double, matching BigDecimal.doubleValue
    *    beyond 2^53.
    */
  def dsum(x: String, scale: Int = 6): String =
    s"CAST(CAST(SUM(CAST(CAST(($x) AS VARCHAR) AS DECIMAL(38,$scale))) AS VARCHAR) AS DOUBLE)"

  /** Windowed twin of [[dsum]]: the same exact decimal sum over a window
    * frame. `over` is the full "(PARTITION BY … ROWS BETWEEN …)" text.
    */
  def dsumOver(x: String, over: String, scale: Int = 6): String =
    s"CAST(CAST(SUM(CAST(CAST(($x) AS VARCHAR) AS DECIMAL(38,$scale))) OVER $over AS VARCHAR) AS DOUBLE)"

  /** Spark-SQL-dialect twin of [[dsum]] for queries exercising the
    * engine's own SQL surface (q19): Spark's decimal cast is already
    * exact-value based, so the plain form IS the reference semantics.
    */
  def dsumSparkSql(x: String, scale: Int = 6): String =
    s"CAST(SUM(CAST(($x) AS DECIMAL(38,$scale))) AS DOUBLE)"

  /** Windowed twin of [[dsumSparkSql]] (Spark SQL dialect, q132). */
  def dsumSparkSqlOver(x: String, over: String, scale: Int = 6): String =
    s"CAST(SUM(CAST(($x) AS DECIMAL(38,$scale))) OVER $over AS DOUBLE)"

  def davg(x: String, scale: Int = 6): String =
    s"(${dsum(x, scale)} / COUNT($x))"

  def dstdSamp(x: String): String = {
    val n  = s"CAST(COUNT($x) AS DOUBLE)"
    val s1 = dsum(x)
    val s2 = s"CAST(CAST(SUM(CAST(CAST(($x) * ($x) AS VARCHAR) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
    s"(CASE WHEN COUNT($x) <= 1 THEN 0.0 ELSE " +
      s"sqrt(greatest(($s2 - $s1 * $s1 / $n) / ($n - 1.0), 0.0)) END)"
  }

  def lsumD(x: String): String = s"CAST(SUM($x) AS DOUBLE)"

  def lavg(x: String): String = s"(CAST(SUM($x) AS DOUBLE) / COUNT($x))"

  def lstdSamp(x: String): String = {
    val n  = s"CAST(COUNT($x) AS DOUBLE)"
    val s1 = s"CAST(SUM($x) AS DOUBLE)"
    val s2 = s"CAST(SUM(($x) * ($x)) AS DOUBLE)"
    s"(CASE WHEN COUNT($x) <= 1 THEN 0.0 ELSE " +
      s"sqrt(greatest(($s2 - $s1 * $s1 / $n) / ($n - 1.0), 0.0)) END)"
  }

  /** Per-user staleness stats (gap between consecutive events, ordered by
    * time then event id): the oracle of q8 and of every query that must
    * reproduce q8's full-series window bit for bit (q108, q133, q303,
    * q304). */
  val stalenessStats: String =
    s"""WITH g AS (
        SELECT user_id,
          epoch_ms(ts) - lag(epoch_ms(ts)) OVER
            (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
        FROM events)
      SELECT user_id, COUNT(*) AS stale_count,
        ${lavg("gap_ms")} AS stale_mean_ms,
        ${lstdSamp("gap_ms")} AS stale_std_ms,
        MIN(gap_ms) AS stale_min_ms, MAX(gap_ms) AS stale_max_ms
      FROM g WHERE gap_ms IS NOT NULL
      GROUP BY user_id ORDER BY user_id"""
}
