package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StableAgg
import graft.{OracleSql => O, Tables}

/** Market-microstructure analytics over the normalized trade tape (the
  * q17/q66 fixture): the liquidity/toxicity estimators a market-data
  * platform derives from its trade stream — VPIN order-flow toxicity,
  * Kyle's lambda price impact, the Roll effective-spread estimator,
  * bipower-variation jump detection, and lead-lag cross-correlation.
  * All deterministic: integer volumes where the math allows, decimal-
  * route sums elsewhere, sqrt-only libm surface (sqrt is IEEE-exact),
  * and every window ordered by a tie-free key.
  */
object MicrostructureQueries extends Registry {

  /** Deterministic tape order: (ts, src_id, price, size, side) — the
    * fixture carries fully-duplicated rows (see q66's seqKey note), so
    * any remaining tie is between identical rows and cannot change a
    * running sum or lag.
    */
  private val tapeOrder = Seq(col("ts_exchange_ms"), col("src_id"),
    col("price"), col("szl"), col("side"))
  private val duckTapeOrder = "ts, src_id, price, szl, side"

  /** r14: reads [[AnalyticsQueries.tradesDirect]] — the lineitem-direct
    * relation whose value equality to the normalize output is pinned by
    * q17's full-hash oracle — instead of re-paying the frame-synthesis +
    * JSON-parse round trip (~25-35 s CPU per sample) in every estimator.
    * The end-to-end normalize path stays gated by q16/q17/q39/q59/q66-q68.
    */
  private def tape(s: SparkSession, d: String): DataFrame =
    AnalyticsQueries.tradesDirect(s, d).withColumn("szl", col("sz").cast("long"))

  private def duckTrades: String = AnalyticsQueries.duckTrades

  private val duckTape =
    s"""t AS (SELECT symbol, ts, src_id, price,
        CAST(sz AS BIGINT) AS szl, side FROM tr)"""

  /** VPIN order-flow toxicity (Easley / López de Prado / O'Hara 2012):
    * bucket the tape into equal-volume bins (V = 500 units, assigned by
    * the running volume BEFORE each trade — the standard cumulative
    * approximation), then average |buy − sell| volume imbalance per
    * bucket over total bucket volume. The harness quantities are
    * integral, so the whole computation is exact 64-bit integer
    * arithmetic until the single final division — bit-stable on any
    * partitioning and across engines.
    *
    * Scale: ONE symbol-keyed exchange feeds the running-volume window,
    * the bucket aggregate, and the per-symbol rollup; the tape never
    * shuffles twice and per-bucket state is three longs.
    */
  private val q227 = Q("q227_vpin",
    (s, d) => {
      val w = Window.partitionBy("symbol").orderBy(tapeOrder: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tape(s, d)
        .withColumn("cum", sum("szl").over(w))
        .withColumn("bucket", expr("(cum - szl) div 500"))
        .groupBy("symbol", "bucket")
        .agg(
          sum(when(col("side") === "buy", col("szl")).otherwise(0L)).as("vb"),
          sum(when(col("side") === "sell", col("szl")).otherwise(0L)).as("vs"),
          sum(col("szl")).as("vt"))
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_buckets"),
          sum(abs(col("vb") - col("vs"))).as("imb_sum"),
          sum(col("vt")).as("vol_sum"))
        .withColumn("vpin",
          col("imb_sum").cast("double") / col("vol_sum").cast("double"))
        .orderBy("symbol")
    },
    Some(s"""WITH $duckTrades,
      $duckTape,
      c AS (SELECT symbol, szl, side,
          SUM(szl) OVER (PARTITION BY symbol ORDER BY $duckTapeOrder
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t),
      pb AS (SELECT symbol, CAST((cum - szl) // 500 AS BIGINT) AS bucket,
          CAST(SUM(CASE WHEN side = 'buy' THEN szl ELSE 0 END) AS BIGINT) AS vb,
          CAST(SUM(CASE WHEN side = 'sell' THEN szl ELSE 0 END) AS BIGINT) AS vs,
          CAST(SUM(szl) AS BIGINT) AS vt
        FROM c GROUP BY 1, 2)
      SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        CAST(SUM(abs(vb - vs)) AS BIGINT) AS imb_sum,
        CAST(SUM(vt) AS BIGINT) AS vol_sum,
        CAST(SUM(abs(vb - vs)) AS DOUBLE) / CAST(SUM(vt) AS DOUBLE) AS vpin
      FROM pb GROUP BY symbol ORDER BY symbol"""))

  /** Daily (symbol, day) bars shared by the impact/jump estimators:
    * deterministic close (the q66 seqKey struct max) plus signed net
    * order flow as exact integers.
    */
  private def dailyFlow(s: SparkSession, d: String): DataFrame =
    tape(s, d)
      .withColumn("day_bucket", expr("ts_exchange_ms div 86400000"))
      .groupBy("symbol", "day_bucket")
      .agg(max(AnalyticsQueries.seqKey).getField("p").as("close"),
        sum(when(col("side") === "buy", col("szl"))
          .otherwise(-col("szl"))).as("flow"))

  private val duckDailyFlow =
    s"""bars AS (SELECT symbol, ts // 86400000 AS day_bucket,
        arg_max(price, $duckSeqKeySql) AS close,
        CAST(SUM(CASE WHEN side = 'buy' THEN CAST(sz AS BIGINT)
          ELSE -CAST(sz AS BIGINT) END) AS BIGINT) AS flow
      FROM tr GROUP BY 1, 2)"""

  private def duckSeqKeySql: String = AnalyticsQueries.duckSeqKey

  /** Kyle's lambda (Kyle 1985): per symbol, the OLS slope of the daily
    * price CHANGE on the daily net order flow — the canonical price-
    * impact coefficient ("how many dollars does one unit of net buying
    * move the price"). Closed-form moments (the q215 OLS device): flow
    * sums are exact integers, price-change cross-products ride the
    * scale-10 decimal route, and the slope/intercept are two divisions
    * at the end — no iteration, no libm.
    *
    * Scale: one shuffle to |symbol × day| bars, a symbol-keyed lag
    * window on that bar table, and a |symbols|-row moment aggregate.
    */
  private val q228 = Q("q228_kyle_lambda",
    (s, d) => {
      val w = Window.partitionBy("symbol").orderBy("day_bucket")
      dailyFlow(s, d)
        .withColumn("dp", col("close") - lag(col("close"), 1).over(w))
        .filter(col("dp").isNotNull)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_days"),
          sum(col("flow")).as("sq"),
          sum(col("flow") * col("flow")).as("sqq"),
          StableAgg.dsum(col("dp"), 10).as("sdp"),
          StableAgg.dsum(col("dp") * col("flow").cast("double"), 10).as("sdpq"))
        .withColumn("den",
          col("sqq").cast("double")
            - col("sq").cast("double") * col("sq").cast("double")
              / col("n_days").cast("double"))
        .withColumn("lambda",
          when(col("n_days") > 1 && col("den") > 0.0d,
            (col("sdpq") - col("sdp") * col("sq").cast("double")
              / col("n_days").cast("double")) / col("den")))
        .select("symbol", "n_days", "sq", "sdp", "lambda")
        .orderBy("symbol")
    },
    Some(s"""WITH $duckTrades,
      $duckDailyFlow,
      r AS (SELECT symbol, close, flow,
          close - lag(close) OVER (PARTITION BY symbol ORDER BY day_bucket) AS dp
        FROM bars),
      m AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(flow) AS BIGINT) AS sq,
          CAST(SUM(flow * flow) AS BIGINT) AS sqq,
          ${O.dsum("dp", 10)} AS sdp,
          ${O.dsum("dp * CAST(flow AS DOUBLE)", 10)} AS sdpq
        FROM r WHERE dp IS NOT NULL GROUP BY symbol)
      SELECT symbol, n_days, sq, sdp,
        CASE WHEN n_days > 1 AND
            CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
              / CAST(n_days AS DOUBLE) > 0.0::DOUBLE
          THEN (sdpq - sdp * CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE))
            / (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
              / CAST(n_days AS DOUBLE))
        END AS lambda
      FROM m ORDER BY symbol"""))

  /** Roll effective-spread estimator (Roll 1984): under bid-ask bounce,
    * consecutive price changes are negatively serially correlated and
    * spread = 2·sqrt(−cov(Δp_t, Δp_{t−1})) (population covariance; 0
    * when the covariance is non-negative — the estimator's standard
    * truncation). The only libm call is sqrt, which IEEE mandates
    * correctly rounded, so the gate hashes cross-engine; the covariance
    * rides scale-10 decimal sums.
    *
    * Scale: one symbol-keyed window for the two lags, one |symbols|-row
    * moment aggregate — no second pass over the tape.
    */
  private val q229 = Q("q229_roll_spread",
    (s, d) => {
      val w = Window.partitionBy("symbol").orderBy(tapeOrder: _*)
      // r15: dq as lag(price,1) − lag(price,2), not lag(dp,1) — bit-identical
      // (dq_i = dp_{i−1} = price_{i−1} − price_{i−2}; same IEEE subtraction of
      // the same operands), but all three lags now evaluate in ONE Window
      // node instead of two chained WindowExec passes over the full tape
      // (guide §2.4: two operations keyed the same way share one pass).
      tape(s, d)
        .withColumn("dp", col("price") - lag(col("price"), 1).over(w))
        .withColumn("dq", lag(col("price"), 1).over(w) - lag(col("price"), 2).over(w))
        .filter(col("dp").isNotNull && col("dq").isNotNull)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_pairs"),
          StableAgg.dsum(col("dp"), 10).as("sx"),
          StableAgg.dsum(col("dq"), 10).as("sy"),
          StableAgg.dsum(col("dp") * col("dq"), 10).as("sxy"))
        .withColumn("serial_cov",
          (col("sxy") - col("sx") * col("sy") / col("n_pairs").cast("double"))
            / col("n_pairs").cast("double"))
        .withColumn("roll_spread",
          lit(2.0d) * sqrt(greatest(-col("serial_cov"), lit(0.0d))))
        .select("symbol", "n_pairs", "serial_cov", "roll_spread")
        .orderBy("symbol")
    },
    Some(s"""WITH $duckTrades,
      $duckTape,
      d1 AS (SELECT symbol, ts, src_id, price, szl, side,
          price - lag(price) OVER (PARTITION BY symbol ORDER BY $duckTapeOrder) AS dp
        FROM t),
      l AS (SELECT symbol, dp,
          lag(dp) OVER (PARTITION BY symbol ORDER BY $duckTapeOrder) AS dq
        FROM d1),
      m AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          ${O.dsum("dp", 10)} AS sx, ${O.dsum("dq", 10)} AS sy,
          ${O.dsum("dp * dq", 10)} AS sxy
        FROM l WHERE dp IS NOT NULL AND dq IS NOT NULL GROUP BY symbol)
      SELECT symbol, n_pairs,
        (sxy - sx * sy / CAST(n_pairs AS DOUBLE)) / CAST(n_pairs AS DOUBLE)
          AS serial_cov,
        2.0::DOUBLE * sqrt(greatest(
          -((sxy - sx * sy / CAST(n_pairs AS DOUBLE)) / CAST(n_pairs AS DOUBLE)),
          0.0::DOUBLE)) AS roll_spread
      FROM m ORDER BY symbol"""))

  /** Bipower variation jump detection (Barndorff-Nielsen & Shephard
    * 2004): realized variance RV = Σ r², bipower variation
    * BV = (π/2)·Σ |r_t|·|r_{t−1}| — BV is robust to jumps while RV is
    * not, so jump_frac = max(0, 1 − BV/RV) estimates the jump share of
    * total variance. π/2 is a double LITERAL in both engines (no libm);
    * |r| products are plain IEEE multiplies; both quadratic sums ride
    * the scale-18 decimal route.
    *
    * Scale: daily bars (one shuffle), one symbol-keyed lag window over
    * |bars|, one |symbols|-row aggregate.
    */
  private val q230 = Q("q230_bipower_jumps",
    (s, d) => {
      val halfPi = 1.5707963267948966d
      val w = Window.partitionBy("symbol").orderBy("day_bucket")
      dailyFlow(s, d)
        .withColumn("prev_close", lag(col("close"), 1).over(w))
        .withColumn("r", col("close") / col("prev_close") - lit(1.0d))
        .withColumn("r_prev", lag(col("r"), 1).over(w))
        .filter(col("r").isNotNull)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_rets"),
          StableAgg.dsum(col("r") * col("r"), 18).as("rv"),
          StableAgg.dsum(
            when(col("r_prev").isNotNull, abs(col("r")) * abs(col("r_prev")))
              .otherwise(lit(0.0d)), 18).as("bp_sum"))
        .withColumn("bv", lit(halfPi) * col("bp_sum"))
        .withColumn("jump_frac",
          when(col("rv") > 0.0d,
            greatest(lit(1.0d) - col("bv") / col("rv"), lit(0.0d))))
        .select("symbol", "n_rets", "rv", "bv", "jump_frac")
        .orderBy("symbol")
    },
    Some(s"""WITH $duckTrades,
      $duckDailyFlow,
      $duckReturns,
      r2 AS (SELECT symbol, r,
          lag(r) OVER (PARTITION BY symbol ORDER BY day_bucket) AS r_prev
        FROM r),
      m AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_rets,
          ${O.dsum("r * r", 18)} AS rv,
          ${O.dsum("CASE WHEN r_prev IS NOT NULL THEN abs(r) * abs(r_prev) ELSE 0.0::DOUBLE END", 18)} AS bp_sum
        FROM r2 WHERE r IS NOT NULL GROUP BY symbol)
      SELECT symbol, n_rets, rv,
        1.5707963267948966::DOUBLE * bp_sum AS bv,
        CASE WHEN rv > 0.0::DOUBLE THEN
          greatest(1.0::DOUBLE - (1.5707963267948966::DOUBLE * bp_sum) / rv,
            0.0::DOUBLE) END AS jump_frac
      FROM m ORDER BY symbol"""))

  /** Close-to-close daily returns (symbol, day_bucket, r) of the bar
    * tape (q231, q243); [[duckReturns]] is the oracle side. */
  private def dailyReturns(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("day_bucket")
    dailyFlow(s, d)
      .withColumn("r",
        col("close") / lag(col("close"), 1).over(w) - lit(1.0d))
      .filter(col("r").isNotNull)
      .select("symbol", "day_bucket", "r")
  }

  /** `r(symbol, day_bucket, r)` over the `bars` CTE: every daily return,
    * the first day's NULL included. */
  private lazy val duckReturns: String =
    """r AS (SELECT symbol, day_bucket,
          close / lag(close) OVER (PARTITION BY symbol ORDER BY day_bucket)
            - 1.0::DOUBLE AS r
        FROM bars)"""

  /** Pearson correlation `name` of (x, y) per group, closed-form from the
    * five decimal-route moments (q231, q243). */
  private def pearson(g: org.apache.spark.sql.RelationalGroupedDataset,
      name: String): DataFrame =
    g.agg(count(lit(1)).as("n"),
        StableAgg.dsum(col("x"), 18).as("sx"),
        StableAgg.dsum(col("y"), 18).as("sy"),
        StableAgg.dsum(col("x") * col("x"), 18).as("sxx"),
        StableAgg.dsum(col("y") * col("y"), 18).as("syy"),
        StableAgg.dsum(col("x") * col("y"), 18).as("sxy"))
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn(name,
        when(col("vx") > 0.0d && col("vy") > 0.0d,
          (col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("vx")) * sqrt(col("vy")))))

  /** The oracle side of [[pearson]]: the moment columns of an aggregate
    * over (x, y), and the correlation over them. */
  private lazy val duckMoments: String =
    s"""CAST(COUNT(*) AS BIGINT) AS n,
          ${O.dsum("x", 18)} AS sx, ${O.dsum("y", 18)} AS sy,
          ${O.dsum("x * x", 18)} AS sxx, ${O.dsum("y * y", 18)} AS syy,
          ${O.dsum("x * y", 18)} AS sxy"""
  private lazy val duckPearson: String =
    """CASE WHEN n * sxx - sx * sx > 0.0::DOUBLE
            AND n * syy - sy * sy > 0.0::DOUBLE
          THEN (n * sxy - sx * sy)
            / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        END"""

  /** Lead-lag cross-correlation (Hayashi-Yoshida's motivating
    * diagnostic in its synchronized-grid form): Pearson correlation of
    * symbol T-0's daily returns against symbol T-1's shifted by lag k ∈
    * [−2, 2] — "does one tape lead the other". Each lag is an equi-join
    * on the shifted day key (never a range probe); the correlation is
    * closed-form from five decimal-route moment sums, with sqrt the
    * only libm touch.
    *
    * Scale: the |days|-sized return series joins per lag on
    * (day + k) — 5 replications of a tiny table against itself, then a
    * 5-row aggregate; the tape is read once for the bars.
    */
  private val q231 = Q("q231_leadlag_xcorr",
    (s, d) => {
      val rets = dailyReturns(s, d)
      val ra = rets.filter(col("symbol") === "T-0")
        .select(col("day_bucket").as("day_a"), col("r").as("x"))
      val rb = rets.filter(col("symbol") === "T-1")
        .select(col("day_bucket").as("day_b"), col("r").as("y"))
      // explode, not a 5-row crossJoin: the lag replication is a
      // Generate in the scan stage, never a nested-loop join
      val lags = ra
        .withColumn("lag", explode(sequence(lit(-2L), lit(2L))))
        .withColumn("day_b", col("day_a") + col("lag"))
      pearson(lags.join(rb, "day_b").groupBy("lag"), "xcorr")
        .select("lag", "n", "xcorr")
        .orderBy("lag")
    },
    Some(s"""WITH $duckTrades,
      $duckDailyFlow,
      $duckReturns,
      ra AS (SELECT day_bucket AS day_a, r AS x FROM r
        WHERE symbol = 'T-0' AND r IS NOT NULL),
      rb AS (SELECT day_bucket AS day_b, r AS y FROM r
        WHERE symbol = 'T-1' AND r IS NOT NULL),
      j AS (SELECT l.i AS lag, ra.x, rb.y
        FROM ra CROSS JOIN (SELECT unnest(range(-2, 3)) AS i) l
        JOIN rb ON rb.day_b = ra.day_a + l.i),
      m AS (SELECT lag, $duckMoments
        FROM j GROUP BY lag)
      SELECT CAST(lag AS BIGINT) AS lag, n,
        $duckPearson AS xcorr
      FROM m ORDER BY lag"""))

  /** Realized correlation matrix (the RiskMetrics daily-return
    * estimator): Pearson correlation of daily close-to-close returns
    * for EVERY symbol pair (upper triangle, sym_a < sym_b) — the
    * portfolio-risk companion to q231's lead-lag scan on one pair.
    * Returns join themselves on the day key (an equi-join, |days| rows
    * per symbol), and each pair's correlation is closed-form from five
    * decimal-route moments with sqrt the only libm touch.
    *
    * Scale: the pair join fans |symbols|² over a |days|-keyed equi-join
    * of two tiny bar tables — the tape is read once for the bars; at a
    * 5k-symbol universe the same plan shuffles (day, symbol) bars, and
    * the quadratic lives in the final |pairs|-row aggregate, never in
    * tape space.
    */
  private val q243 = Q("q243_realized_corr",
    (s, d) => {
      val rets = dailyReturns(s, d)
      val a = rets.select(col("symbol").as("sym_a"), col("day_bucket"),
        col("r").as("x"))
      val b = rets.select(col("symbol").as("sym_b"), col("day_bucket"),
        col("r").as("y"))
      pearson(a.join(b, "day_bucket").filter(col("sym_a") < col("sym_b"))
          .groupBy("sym_a", "sym_b"), "rcorr")
        .select("sym_a", "sym_b", "n", "rcorr")
        .orderBy("sym_a", "sym_b")
    },
    Some(s"""WITH $duckTrades,
      $duckDailyFlow,
      $duckReturns,
      rr AS (SELECT symbol, day_bucket, r FROM r WHERE r IS NOT NULL),
      j AS (SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.r AS x, b.r AS y
        FROM rr a JOIN rr b ON a.day_bucket = b.day_bucket
        WHERE a.symbol < b.symbol),
      m AS (SELECT sym_a, sym_b, $duckMoments
        FROM j GROUP BY 1, 2)
      SELECT sym_a, sym_b, n,
        $duckPearson AS rcorr
      FROM m ORDER BY sym_a, sym_b"""))

  /** Theil–Sen robust trend (Theil 1950 / Sen 1968): per event family,
    * the MEDIAN of all pairwise daily-mean slopes — the estimator that
    * shrugs off the outlier days that wreck q228's OLS (breakdown point
    * 29 % vs 0 %). The daily means ride the decimal route; each pairwise
    * slope is one IEEE division of identical operands on either engine;
    * the median is the exact floor-index percentile (q9's device), so
    * the whole estimate hash-reproduces.
    *
    * Scale: the O(n²) pair join is per-group over DAILY aggregates —
    * bounded by the calendar (≤ 365²/2 pairs per key-year), never by
    * row count; one exchange builds the daily table, the pair join is
    * group-local.
    */
  private val q251 = Q("q251_theil_sen_trend",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
        .agg((StableAgg.dsum(col("value")) / count(lit(1))).as("v"))
      val a = daily.select(col("event_type"), col("day").as("d1"), col("v").as("v1"))
      val b = daily.select(col("event_type").as("et2"), col("day").as("d2"), col("v").as("v2"))
      a.join(b, col("event_type") === col("et2") && col("d1") < col("d2"))
        .select(col("event_type"),
          ((col("v2") - col("v1"))
            / (col("d2") - col("d1")).cast("double")).as("slope"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          element_at(graft.functions.ExactPercentile(col("slope"), Seq(0.5)), 1)
            .as("theil_sen_slope"))
        .orderBy("event_type")
    },
    Some(s"""WITH daily AS (
        SELECT event_type, epoch_ms(ts) // 86400000 AS day,
          ${O.dsum("value")} / COUNT(*) AS v
        FROM events GROUP BY 1, 2),
      slopes AS (
        SELECT a.event_type,
          (b.v - a.v) / CAST(b.day - a.day AS DOUBLE) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day),
      r AS (
        SELECT event_type, slope,
          row_number() OVER (PARTITION BY event_type ORDER BY slope) - 1 AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM slopes)
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
        MAX(CASE WHEN rn = CAST(floor(0.5::DOUBLE * (n-1)) AS BIGINT)
          THEN slope END) AS theil_sen_slope
      FROM r GROUP BY event_type ORDER BY event_type"""))

  /** Deterministic bootstrap confidence interval for a daily-mean
    * metric: B = 32 resamples drawn WITH REPLACEMENT by salted-digest
    * indices (`hash32(md5('boot:'||key||b||j)) mod n` — the q43 device,
    * so the "random" resampling is partition-stable, retry-stable and
    * cross-engine exact), each resample's mean on the decimal route,
    * and the CI read off the resample distribution by exact floor-index
    * percentiles. Uncertainty quantification as a RELATIONAL query —
    * no RNG state, no driver loop.
    *
    * Scale: resampling happens on the calendar-bounded daily table
    * (n ≤ days), so the B× blowup is B·days rows per key — metrics
    * uncertainty at 100 TB costs the same as at 100 MB once the daily
    * aggregate exists.
    */
  private val q276 = Q("q276_bootstrap_ci",
    (s, d) => {
      import graft.operators.Dedup
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
        .agg((StableAgg.dsum(col("value")) / count(lit(1))).as("v"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val idxd = daily
        .withColumn("rn", row_number().over(w).cast("long") - 1L)
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type")))
      val draws = idxd
        .select(col("event_type"), col("rn").as("j"), col("n"))
        .withColumn("b", explode(sequence(lit(0L), lit(31L))))
        .withColumn("idx", pmod(Dedup.hexHash32(md5(concat(lit("boot:"),
          col("event_type"), lit(":"), col("b"), lit(":"), col("j")))),
          col("n")))
      val stats = draws
        .join(idxd.select(col("event_type"), col("rn").as("idx"), col("v")),
          Seq("event_type", "idx"))
        .groupBy("event_type", "b")
        .agg((StableAgg.dsum(col("v"), 12) / count(lit(1))).as("boot_mean"))
      stats.groupBy("event_type")
        .agg(count(lit(1)).as("n_resamples"),
          graft.functions.ExactPercentile(col("boot_mean"),
            Seq(0.025, 0.5, 0.975)).as("p"))
        .select(col("event_type"), col("n_resamples"),
          element_at(col("p"), 1).as("ci_lo"),
          element_at(col("p"), 2).as("boot_median"),
          element_at(col("p"), 3).as("ci_hi"))
        .orderBy("event_type")
    },
    Some {
      val h = TrainingDataQueries.duckHash32(
        "md5('boot:' || event_type || ':' || CAST(b AS VARCHAR) || ':' || CAST(j AS VARCHAR))")
      s"""WITH daily AS (
          SELECT event_type, epoch_ms(ts) // 86400000 AS day,
            ${O.dsum("value")} / COUNT(*) AS v
          FROM events GROUP BY 1, 2),
        idxd AS (SELECT event_type, v,
            row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM daily),
        draws AS (SELECT event_type, rn AS j, n, t.b,
            ($h) % n AS idx
          FROM idxd, range(0, 32) t(b)),
        stats AS (SELECT d.event_type, d.b,
            ${O.dsum("i.v", 12)} / COUNT(*) AS boot_mean
          FROM draws d JOIN idxd i
            ON d.event_type = i.event_type AND d.idx = i.rn
          GROUP BY 1, 2),
        r AS (SELECT event_type, boot_mean,
            row_number() OVER (PARTITION BY event_type ORDER BY boot_mean) - 1
              AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM stats)
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_resamples,
        MAX(CASE WHEN rn = CAST(floor(0.025::DOUBLE * (n-1)) AS BIGINT)
          THEN boot_mean END) AS ci_lo,
        MAX(CASE WHEN rn = CAST(floor(0.5::DOUBLE * (n-1)) AS BIGINT)
          THEN boot_mean END) AS boot_median,
        MAX(CASE WHEN rn = CAST(floor(0.975::DOUBLE * (n-1)) AS BIGINT)
          THEN boot_mean END) AS ci_hi
      FROM r GROUP BY event_type ORDER BY event_type"""
    })

  override val all: Seq[Q] = Seq(q227, q228, q229, q230, q231, q243, q251,
    q276)
}
