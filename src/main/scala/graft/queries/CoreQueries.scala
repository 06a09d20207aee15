package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{OracleSql => O, Tables}
import graft.functions.{ExactPercentile, StableAgg => SA}
import graft.operators.WindowStats

/** Core relational + metrics-engine queries (SURVEY.md §2.3/§2.4 projected
  * onto the harness tables). Every query has a DuckDB oracle; results are
  * bit-deterministic across partitionings (see StableAgg).
  *
  * Scale notes are per-query in comments: these shapes are chosen so the
  * same plan survives 100 TB — partial aggregation everywhere, broadcast
  * joins for dims, sort-merge/shuffle-hash only on co-partitioned big keys,
  * top-k via TakeOrderedAndProject (never a global sort materialization).
  */
object CoreQueries extends Registry {

  /** A5-style grouped aggregation over the fact table (TPC-H Q1 shape).
    * Plan at scale: scan → partial hash agg (map-side combine) → shuffle by
    * (2 keys, tiny) → final agg. No row explosion, ~|groups| output.
    */
  private val q1 = Q("q1_pricing_summary",
    (s, d) => {
      // fanOut (r14): 7 decimal-route partial aggs ran in the single-split
      // fixture scan task (cpu ~= wall ~= 1.2 s); no-op at real file counts
      Tables.fanOut(Tables.lineitem(s, d))
        .filter(col("l_shipdate") <= lit(Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          SA.dsum(col("l_quantity")).as("sum_qty"),
          SA.dsum(col("l_extendedprice")).as("sum_base_price"),
          SA.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          SA.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          SA.davg(col("l_quantity")).as("avg_qty"),
          SA.davg(col("l_extendedprice")).as("avg_price"),
          SA.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${O.dsum("l_quantity")} AS sum_qty,
      ${O.dsum("l_extendedprice")} AS sum_base_price,
      ${O.dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${O.dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
      ${O.davg("l_quantity")} AS avg_qty,
      ${O.davg("l_extendedprice")} AS avg_price,
      ${O.davg("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  /** N1/N2-style predicates + D1-D4-style scalar projections. Filters and
    * the 4-column projection push into the parquet scan.
    */
  private val q2 = Q("q2_filter_project",
    (s, d) => {
      Tables.events(s, d)
        .filter(col("event_type") =!= "error" && col("value") > 50.0)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          (col("value") * 2.0).as("value_x2"),
          (col("value") - 50.0).as("value_over"),
          col("ts_ms"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value,
      value * 2.0 AS value_x2, value - 50.0 AS value_over,
      epoch_ms(ts) AS ts_ms
      FROM events WHERE event_type <> 'error' AND value > 50.0
      ORDER BY event_id"""))

  /** N8 explode (1→N) + token counting. At scale: explode is pipelined
    * (no materialization), partial agg bounds the shuffle by |vocab|.
    */
  private val q3 = Q("q3_token_counts",
    (s, d) => {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("token")).limit(100)
    },
    Some("""SELECT token, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token ORDER BY cnt DESC, token LIMIT 100"""))

  /** S6-style tolerant JSON decode: from_json + field extraction, corrupt
    * input → null → filtered, all inside codegen.
    */
  private val q4 = Q("q4_json_extract",
    (s, d) => {
      Tables.events(s, d)
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .filter(col("k").isNotNull && col("k") % 7 === 0)
        .select("event_id", "k")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
      FROM events
      WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
        AND CAST(props->>'$.k' AS BIGINT) % 7 = 0
      ORDER BY event_id"""))

  /** Top-k: TakeOrderedAndProject — per-partition heaps + driver merge of k
    * rows, never a full sort. Deterministic via the orderkey tiebreak.
    */
  private val q5 = Q("q5_topk_orders",
    (s, d) => {
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(15)
    },
    Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"""))

  /** Star join with broadcast dims (supplier/nation/region are tiny at any
    * SF) — no shuffle of the fact table at all; agg is partial+final.
    */
  private val q6 = Q("q6_revenue_by_nation",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d)
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
          SA.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some(s"""SELECT n_name, r_name,
      ${O.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
      COUNT(*) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name, r_name ORDER BY n_name"""))

  /** Larger join: orders ⋈ customer. At 100 TB both sides are big → AQE
    * picks shuffle-hash/sort-merge on the join key; distinct agg shares the
    * same shuffle key space.
    */
  private val q7 = Q("q7_segment_sales",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          SA.dsum(col("o_totalprice")).as("total_sales"),
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("c_mktsegment")
    },
    Some(s"""SELECT c_mktsegment,
      ${O.dsum("o_totalprice")} AS total_sales,
      COUNT(*) AS n_orders,
      COUNT(DISTINCT o_custkey) AS n_customers
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** A6 staleness: per-key consecutive-timestamp gaps (lag window fn) then
    * A5/A9 per-key stats on the exact integer path.
    */
  private val q8 = Q("q8_staleness_stats",
    (s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      ev.withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
        .filter(col("gap_ms").isNotNull)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("stale_count"),
          SA.lavg(col("gap_ms")).as("stale_mean_ms"),
          SA.lstdSamp(col("gap_ms")).as("stale_std_ms"),
          min("gap_ms").as("stale_min_ms"),
          max("gap_ms").as("stale_max_ms"))
        .orderBy("user_id")
    },
    Some(O.stalenessStats))

  /** A2+A3: exact floor-index percentiles (native TypedImperativeAggregate)
    * with the min-20-samples gate.
    */
  private val q9 = Q("q9_exact_percentiles",
    (s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(ExactPercentile(col("value"), Seq(0.5, 0.95, 0.99)).as("pcts"),
          count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 20)
        .select(col("event_type"),
          element_at(col("pcts"), 1).as("p50"),
          element_at(col("pcts"), 2).as("p95"),
          element_at(col("pcts"), 3).as("p99"),
          col("cnt"))
        .orderBy("event_type")
    },
    Some("""WITH r AS (
        SELECT event_type, value,
          row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type,
        MAX(CASE WHEN rn = CAST(floor(0.50::DOUBLE * (n-1)) AS BIGINT) THEN value END) AS p50,
        MAX(CASE WHEN rn = CAST(floor(0.95::DOUBLE * (n-1)) AS BIGINT) THEN value END) AS p95,
        MAX(CASE WHEN rn = CAST(floor(0.99::DOUBLE * (n-1)) AS BIGINT) THEN value END) AS p99,
        COUNT(*) AS cnt
      FROM r GROUP BY event_type HAVING COUNT(*) >= 20
      ORDER BY event_type"""))

  /** A4: cumulative conditional counters + rate % (zeros/max(1,total)*100). */
  private val q10 = Q("q10_low_value_rate",
    (s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("value") < 10.0, 1L).otherwise(0L)).as("low_cnt"))
        .withColumn("low_rate_pct",
          col("low_cnt").cast("double") / greatest(col("total"), lit(1L)) * 100.0d)
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS total,
      CAST(SUM(CASE WHEN value < 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS low_cnt,
      CAST(SUM(CASE WHEN value < 10.0 THEN 1 ELSE 0 END) AS DOUBLE)
        / greatest(COUNT(*), 1) * 100.0 AS low_rate_pct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** A7/A8: per-key cumulative counts, sorted emission. */
  private val q11 = Q("q11_user_counts",
    (s, d) => WindowStats.msgCounts(Tables.events(s, d), "user_id"),
    Some("""SELECT user_id, COUNT(*) AS msg_count FROM events
      GROUP BY user_id ORDER BY user_id"""))

  /** A1/A5/T1: tumbling event-time windows (1 h) with stable stats + the
    * min-sample gate. At scale this is the canonical windowed agg: partial
    * agg per input split, shuffle by (window, key).
    */
  private val q12 = Q("q12_hourly_window_stats",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          SA.davg(col("value")).as("mean_value"),
          SA.dstdSamp(col("value")).as("std_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .filter(col("cnt") >= 5)
        .select(unix_millis(col("w.start")).as("window_start_ms"),
          col("event_type"), col("cnt"), col("mean_value"), col("std_value"),
          col("min_value"), col("max_value"))
        .orderBy("window_start_ms", "event_type")
    },
    Some(s"""SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
      event_type, COUNT(*) AS cnt,
      ${O.davg("value")} AS mean_value,
      ${O.dstdSamp("value")} AS std_value,
      MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY 1, 2 HAVING COUNT(*) >= 5
      ORDER BY window_start_ms, event_type"""))

  /** A8/K6: the CSV-snapshot shape — two per-key aggregates joined
    * full-outer over the union of key sets, zero defaults (rolling.py:152,
    * 178-196). Both sides pre-aggregate before the join → the join input
    * is |keys|-sized, trivially broadcastable at any SF.
    */
  private val q13 = Q("q13_csv_snapshot",
    (s, d) => {
      val ev = Tables.events(s, d)
      val lat = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("lat_count"),
          coalesce(SA.davg(col("value")), lit(0.0)).as("lat_mean"),
          SA.dstdSamp(col("value")).as("lat_std"),
          coalesce(min(col("value")), lit(0.0)).as("lat_min"),
          coalesce(max(col("value")), lit(0.0)).as("lat_max"))
      val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      val stale = ev
        .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
        .filter(col("gap_ms").isNotNull)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("stale_count"),
          coalesce(SA.lavg(col("gap_ms")), lit(0.0)).as("stale_mean_ms"),
          SA.lstdSamp(col("gap_ms")).as("stale_std_ms"),
          coalesce(min(col("gap_ms")), lit(0L)).as("stale_min_ms"),
          coalesce(max(col("gap_ms")), lit(0L)).as("stale_max_ms"))
      lat.join(stale, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("lat_count"), lit(0L)).as("lat_count"),
          coalesce(col("lat_mean"), lit(0.0)).as("lat_mean"),
          coalesce(col("lat_std"), lit(0.0)).as("lat_std"),
          coalesce(col("lat_min"), lit(0.0)).as("lat_min"),
          coalesce(col("lat_max"), lit(0.0)).as("lat_max"),
          coalesce(col("stale_count"), lit(0L)).as("stale_count"),
          coalesce(col("stale_mean_ms"), lit(0.0)).as("stale_mean_ms"),
          coalesce(col("stale_std_ms"), lit(0.0)).as("stale_std_ms"),
          coalesce(col("stale_min_ms"), lit(0L)).as("stale_min_ms"),
          coalesce(col("stale_max_ms"), lit(0L)).as("stale_max_ms"))
        .orderBy("user_id")
    },
    Some(s"""WITH lat AS (
        SELECT user_id, COUNT(*) AS lat_count,
          coalesce(${O.davg("value")}, 0.0) AS lat_mean,
          ${O.dstdSamp("value")} AS lat_std,
          coalesce(MIN(value), 0.0) AS lat_min,
          coalesce(MAX(value), 0.0) AS lat_max
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      g AS (
        SELECT user_id,
          epoch_ms(ts) - lag(epoch_ms(ts)) OVER
            (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
        FROM events),
      stale AS (
        SELECT user_id, COUNT(*) AS stale_count,
          coalesce(${O.lavg("gap_ms")}, 0.0) AS stale_mean_ms,
          ${O.lstdSamp("gap_ms")} AS stale_std_ms,
          coalesce(MIN(gap_ms), 0) AS stale_min_ms,
          coalesce(MAX(gap_ms), 0) AS stale_max_ms
        FROM g WHERE gap_ms IS NOT NULL GROUP BY user_id)
      SELECT coalesce(lat.user_id, stale.user_id) AS user_id,
        coalesce(lat_count, 0) AS lat_count,
        coalesce(lat_mean, 0.0) AS lat_mean,
        coalesce(lat_std, 0.0) AS lat_std,
        coalesce(lat_min, 0.0) AS lat_min,
        coalesce(lat_max, 0.0) AS lat_max,
        coalesce(stale_count, 0) AS stale_count,
        coalesce(stale_mean_ms, 0.0) AS stale_mean_ms,
        coalesce(stale_std_ms, 0.0) AS stale_std_ms,
        coalesce(stale_min_ms, 0) AS stale_min_ms,
        coalesce(stale_max_ms, 0) AS stale_max_ms
      FROM lat FULL OUTER JOIN stale ON lat.user_id = stale.user_id
      ORDER BY user_id"""))

  /** D5: UTC date partition key derivation + per-day counts. */
  private val q14 = Q("q14_daily_counts",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(date_format(col("ts_utc"), "yyyy-MM-dd").as("event_date"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_date")
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS cnt
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** D4-style spread (max-min) per key + deterministic top-k. */
  private val q15 = Q("q15_price_spread",
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg((max(col("l_extendedprice")) - min(col("l_extendedprice"))).as("price_spread"),
          count(lit(1)).as("n_lines"))
        .orderBy(desc("price_spread"), asc("l_partkey"))
        .limit(20)
    },
    Some("""SELECT l_partkey,
      MAX(l_extendedprice) - MIN(l_extendedprice) AS price_spread,
      COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_partkey
      ORDER BY price_spread DESC, l_partkey LIMIT 20"""))

  /** Semi/anti joins (EXISTS / NOT EXISTS): per-segment counts of
    * customers with and without orders, the two join flavors full-outer
    * merged. Semi/anti shuffle only the key column of the probe side.
    */
  private val q18 = Q("q18_semi_anti_customers",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
      withO.join(withoutO, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
          coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH w AS (
        SELECT c_mktsegment, COUNT(*) AS n_with_orders FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment),
      wo AS (
        SELECT c_mktsegment, COUNT(*) AS n_without_orders FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment)
      SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
        coalesce(n_with_orders, 0) AS n_with_orders,
        coalesce(n_without_orders, 0) AS n_without_orders
      FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
      ORDER BY c_mktsegment"""))

  /** Rollup with grouping flags: subtotal hierarchy computed in one pass
    * (Expand + partial agg — no N-pass re-aggregation).
    */
  private val q19 = Q("q19_rollup_sales",
    (s, d) => {
      // via the engine's SQL surface (same Catalyst plan as the Dataset
      // API: Expand + partial/final aggregate)
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(s"""SELECT
          coalesce(c_mktsegment, 'ALL') AS segment,
          coalesce(o_orderpriority, 'ALL') AS priority,
          CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
          ${O.dsumSparkSql("o_totalprice")} AS total_sales,
          COUNT(*) AS n_orders
        FROM orders_v JOIN customer_v ON o_custkey = c_custkey
        GROUP BY ROLLUP(c_mktsegment, o_orderpriority)
        ORDER BY gid, segment, priority""")
    },
    Some(s"""SELECT
        coalesce(c_mktsegment, 'ALL') AS segment,
        coalesce(o_orderpriority, 'ALL') AS priority,
        CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid,
        ${O.dsum("o_totalprice")} AS total_sales,
        COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY ROLLUP(c_mktsegment, o_orderpriority)
      ORDER BY gid, segment, priority"""))

  /** As-of join (trade vs prevailing quote shape): for each 'signup'
    * event, the latest 'purchase' value at-or-before it per user — the
    * canonical market-data operator, composed as union + one window pass
    * (ONE shuffle regardless of side sizes; see operators.AsOfJoin).
    */
  private val q35 = Q("q35_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts_ms", "value")
      val right = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_ms", "value", "event_id")
      graft.operators.AsOfJoin
        .lastValueAsOf(left, right, Seq("user_id"), "ts_ms", Seq("value"), "event_id")
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"),
          col("asof_value").as("asof_quote"),
          (col("value") - col("asof_value")).as("value_minus_quote"))
        .orderBy("event_id")
    },
    Some("""WITH u AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, 1 AS is_right,
               event_id AS tie, value AS q,
               CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS value
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, epoch_ms(ts), 0, event_id, CAST(NULL AS DOUBLE),
               event_id, value
        FROM events WHERE event_type = 'signup'),
      c AS (SELECT *, last_value(q IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY ts_ms, is_right DESC, tie
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_quote
            FROM u)
      SELECT event_id, user_id, ts_ms, value, asof_quote,
             value - asof_quote AS value_minus_quote
      FROM c WHERE is_right = 0 ORDER BY event_id"""))

  /** Session windows (absent in the reference and in classic SQL — native
    * in Spark): 30-minute-gap sessions per user. Oracle reproduces the
    * semantics via gaps-and-islands. Both engines see the identical
    * ms-truncated clock so boundary behavior matches exactly.
    */
  private val q36 = Q("q36_session_windows",
    (s, d) => {
      Tables.fanOut(Tables.events(s, d))
        .groupBy(session_window(timestamp_millis(col("ts_ms")), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"), SA.dsum(col("value")).as("total_value"))
        .select(col("user_id"),
          unix_millis(col("sw.start")).as("session_start_ms"),
          unix_millis(col("sw.end")).as("session_end_ms"),
          col("cnt"), col("total_value"))
        .orderBy("user_id", "session_start_ms")
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
      m AS (SELECT *, CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
              OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 1800000
              THEN 1 ELSE 0 END AS new_s FROM e),
      g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
      SELECT user_id, MIN(ms) AS session_start_ms,
        MAX(ms) + 1800000 AS session_end_ms,
        COUNT(*) AS cnt, ${O.dsum("value")} AS total_value
      FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_ms"""))

  /** Approximate sketches — the documented scale path for unbounded
    * groups: HLL distinct counts + interpolated approx percentiles. The
    * sketch VALUES are implementation-specific (HLL++ registers, GK
    * summaries) so they can never hash-match a foreign engine; what IS
    * verifiable cross-engine is the accuracy contract. The query computes
    * the approximations genuinely, compares them in-plan against the exact
    * aggregates, and emits the exact values + within-bounds booleans; the
    * oracle asserts the exact columns and that every bound held (literal
    * TRUE). Bounds are deliberately generous multiples of the configured
    * error (HLL rsd 5% → 10% bound; approx p50 rank-error 1e-3 → exact
    * p40..p60 corridor) so the gate is deterministic, not flaky.
    */
  private val q37 = Q("q37_approx_sketches",
    (s, d) => {
      // percentile/HLL partials merge order-independently, so the fan-out
      // repartition cannot change results; the one approx column
      // (percentile_approx) only feeds a generous-corridor boolean.
      Tables.fanOut(Tables.events(s, d))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("hll_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap50"),
          // corridor bounds only feed the boolean; the native floor-index
          // aggregate is ~4x cheaper than two built-in Percentile aggs and
          // the corridor stays just as generous
          ExactPercentile(col("value"), Seq(0.40, 0.60)).as("pcts"))
        .withColumn("p40", element_at(col("pcts"), 1))
        .withColumn("p60", element_at(col("pcts"), 2))
        .select(col("event_type"), col("cnt"), col("exact_users"),
          (abs(col("hll_users") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.10d).as("hll_within_10pct"),
          col("ap50").between(col("p40"), col("p60")).as("p50_in_p40_p60"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS cnt,
      COUNT(DISTINCT user_id) AS exact_users,
      true AS hll_within_10pct,
      true AS p50_in_p40_p60
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Brand/type share analysis (TPC-H Q14-ish): broadcast part join with
    * string predicates (LIKE / upper / substring) and a conditional-share
    * ratio — completes coverage of every harness table.
    */
  private val q40 = Q("q40_promo_share",
    (s, d) => {
      val li = Tables.fanOut(Tables.lineitem(s, d)) // r14: parallelize the decimal partial aggs
      val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .filter(col("p_size").between(5, 40) && upper(col("p_brand")).like("BRAND#%"))
        .groupBy(col("p_type"), substring(col("p_brand"), 7, 2).as("brand_code"))
        .agg(
          SA.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          SA.dsum(col("l_quantity")).as("total_qty"),
          countDistinct(col("l_partkey")).as("n_parts"),
          (sum(when(col("p_type") === "PROMO", 1L).otherwise(0L)).cast("double") * 100.0d /
            greatest(count(lit(1)), lit(1L))).as("promo_line_pct"))
        .orderBy("p_type", "brand_code")
    },
    Some(s"""SELECT p_type, substr(p_brand, 7, 2) AS brand_code,
        ${O.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        ${O.dsum("l_quantity")} AS total_qty,
        COUNT(DISTINCT l_partkey) AS n_parts,
        CAST(SUM(CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
          / greatest(COUNT(*), 1) AS promo_line_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size BETWEEN 5 AND 40 AND upper(p_brand) LIKE 'BRAND#%'
      GROUP BY p_type, substr(p_brand, 7, 2)
      ORDER BY p_type, brand_code"""))

  /** Interval (range) join: for each signup, count purchases by the same
    * user in the trailing 10-minute window. The equi-key (user_id) carries
    * the join — hash/sort-merge on user_id with the time band as a
    * residual predicate — so the quadratic blowup is confined to within a
    * user's events; no broadcast-nested-loop at any scale. (For band joins
    * WITHOUT an equi-key, the scale pattern is bucketing ts into
    * window-sized buckets and equi-joining on adjacent buckets.)
    */
  private val q46 = Q("q46_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val l = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts_ms")
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts_ms").as("r_ts"))
      l.join(r,
          col("user_id") === col("r_user") &&
          col("r_ts") > col("ts_ms") - 600000L && col("r_ts") <= col("ts_ms"),
          "left")
        .groupBy("event_id", "user_id", "ts_ms")
        .agg(count(col("r_ts")).as("n_recent_purchases"))
        .orderBy("event_id")
    },
    Some("""WITH s AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
        FROM events WHERE event_type = 'signup'),
      p AS (SELECT user_id, epoch_ms(ts) AS ts_ms
        FROM events WHERE event_type = 'purchase')
      SELECT s.event_id, s.user_id, s.ts_ms,
        COUNT(p.user_id) AS n_recent_purchases
      FROM s LEFT JOIN p ON p.user_id = s.user_id
        AND p.ts_ms > s.ts_ms - 600000 AND p.ts_ms <= s.ts_ms
      GROUP BY s.event_id, s.user_id, s.ts_ms
      ORDER BY s.event_id"""))

  /** Salted join (operators.Skew): events joined to a per-type aggregate
    * on a 5-value key — the canonical hot-key shape where a plain hash
    * join lands each key on ONE reducer. Salting spreads every key over
    * saltFactor reducers (probe tags a deterministic salt, build
    * replicates saltFactor×); results are identical to the plain join,
    * which is exactly what the oracle checks.
    */
  private val q49 = Q("q49_skew_salted_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val typeStats = ev.groupBy("event_type")
        .agg(SA.davg(col("value")).as("type_mean"))
      graft.operators.Skew.saltedJoin(
          probe = ev.select("event_id", "event_type", "value"),
          build = typeStats, key = "event_type",
          saltFactor = 8, probeSaltSource = col("event_id"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("type_mean"),
          (col("value") - col("type_mean")).as("value_vs_mean"))
        .orderBy("event_id")
    },
    Some(s"""WITH t AS (SELECT event_type, ${O.davg("value")} AS type_mean
        FROM events GROUP BY event_type)
      SELECT event_id, e.event_type, value, type_mean,
        value - type_mean AS value_vs_mean
      FROM events e JOIN t ON e.event_type = t.event_type
      ORDER BY event_id"""))

  override val all: Seq[Q] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10,
    q11, q12, q13, q14, q15, q18, q19, q35, q36, q37, q40, q46, q49)
}
