package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{OracleSql => O, Tables}
import graft.functions.StableAgg
import graft.streaming.TempDirs
import graft.operators.GraphOps
import StreamGate.{feed, inChunks}

/** Round-4 additions, part 4 — the remaining relational/sequence surface:
  * per-group top-k (WindowGroupLimit pushdown), ordered string aggregation,
  * gaps-and-islands sequence segmentation, event-funnel path analysis,
  * calendar-profile extraction, class-balanced oversampling (a curriculum /
  * rebalancing primitive for training-data pipelines), filtered/boolean
  * aggregates, and sweep-line interval concurrency.
  *
  * Scale notes (each discussed per query): none of these collect to the
  * driver; per-group state is bounded (top-k keeps k rows per group
  * pre-shuffle; the funnel's per-user sequence is bounded by events-per-user,
  * the same bound the reference's per-key rolling deques assume,
  * reference/src/metrics/rolling.py:28-45).
  */
object ExtendedQueries extends Registry {

  /** Shared replay fixture for the two staleness gates (q108 fMGWS,
    * q133 transformWithState): identical projection + arrival order, so
    * ONE collect per JVM serves both. The builder lives here — behind
    * the shared cache key — so the definitions cannot silently diverge
    * while still hitting the same memo entry.
    */
  private[queries] def stalenessSymRows(s: SparkSession, d: String): Seq[(String, String, Long, Long)] =
    StreamFixtures.replayRows("staleness_sym", d) {
      Tables.events(s, d)
        .select(col("user_id").cast("string").as("symbol"),
          col("ts_ms"), col("event_id"))
        .orderBy("ts_ms", "event_id")
        .collect().iterator.zipWithIndex.map { case (r, i) =>
          (r.getString(0), "events", r.getLong(1), i.toLong)
        }.toSeq
    }

  /** Shared replay fixture for the stream-join family (q131 inner,
    * q137 leftOuter, q236 fullOuter): impressions = even event_ids,
    * clicks = odd, both in arrival order. Single owner for the same
    * reason as [[stalenessSymRows]].
    */
  private def joinSideRows(s: SparkSession, d: String): (Seq[(Long, Long, Long)], Seq[(Long, Long, Long)]) =
    StreamFixtures.replayRows("join_sides", d) {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_ms"))
        .filter(col("user_id") < 50)
        .orderBy("ts_ms", "event_id")
        .collect()
      def side(parity: Long): Seq[(Long, Long, Long)] = ev.iterator
        .filter(_.getLong(0) % 2 == parity)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      (side(0L), side(1L))
    }

  /** The stream-join family's replay: impressions (tag 0) and clicks
    * (tag 1) as the two sides of ONE memory stream, each watermarked by
    * `delay`, and rounds that feed both sides' halves in one `addData`,
    * then `sentinels` rounds of a (-1, -1, ts) row on both sides, ts
    * stepping an hour at a time past the 24 h join horizon so the
    * watermark flushes every outer-join null side. One source makes each
    * round exactly one micro-batch: with one stream per side, a trigger
    * that fired between the two sides' `addData` calls split the round.
    */
  private def joinReplay(s: SparkSession, d: String, delay: String, sentinels: Int)
      : (DataFrame, DataFrame, Seq[StreamGate.Round]) = {
    import s.implicits._
    val (imps, clks) = joinSideRows(s, d)
    val mem = StreamGate.memory[(Int, Long, Long, Long)](s)
    def side(tag: Int, id: String, user: String, ts: String, time: String): DataFrame =
      mem.toDF().toDF("side", id, user, ts)
        .filter(col("side") === tag).drop("side")
        .withColumn(time, timestamp_millis(col(ts)))
        .withWatermark(time, delay)
    def tagged(tag: Int, rows: Seq[(Long, Long, Long)]) =
      rows.map { case (id, user, ts) => (tag, id, user, ts) }
    lazy val maxTs = (imps.iterator ++ clks.iterator).map(_._3).max
    val flush = (1 to sentinels).map { k =>
      val sentinel = Seq((-1L, -1L, maxTs + 86400000L + k * 3600000L))
      tagged(0, sentinel) ++ tagged(1, sentinel)
    }
    val (iChunks, cChunks) = (inChunks(imps, 2), inChunks(clks, 2))
    val n = math.max(iChunks.size, cChunks.size)
    val chunks = iChunks.padTo(n, Nil).zip(cChunks.padTo(n, Nil))
      .map { case (i, c) => tagged(0, i) ++ tagged(1, c) }
    (side(0, "imp_id", "i_user", "i_ts", "i_time"), side(1, "clk_id", "c_user", "c_ts", "c_time"),
      feed(mem, chunks ++ flush))
  }

  /** Per-group top-k: the canonical "top 3 customers by balance per market
    * segment". rank-function filter compiles to a WindowGroupLimit physical
    * node (Spark 3.5+): each map task keeps only k rows per group BEFORE the
    * shuffle, so the exchange ships |groups|·k rows, not the full table —
    * the shape that survives a 100 TB scan. Ordering is made total with the
    * unique custkey tiebreak (NOTES rule: never rank on a non-unique key).
    */
  private val q89 = Q("q89_topk_per_group",
    (s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
        .orderBy("c_mktsegment", "rn")
    },
    Some("""SELECT c_mktsegment, c_custkey, c_acctbal, rn
      FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
              CAST(row_number() OVER (PARTITION BY c_mktsegment
                ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn
            FROM customer)
      WHERE rn <= 3
      ORDER BY c_mktsegment, rn"""))

  /** Ordered string aggregation (LISTAGG): per nation, the sorted distinct
    * market segments of its customers. Spark has no ordered string_agg —
    * the deterministic form is collect_set → sort_array → array_join, which
    * stays a two-phase hash aggregate (the set dedups map-side, so the
    * exchange ships ≤ |distinct values| per group, bounded here by 5).
    */
  private val q90 = Q("q90_string_agg",
    (s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          array_join(sort_array(collect_set(col("c_mktsegment"))), ",")
            .as("segments"),
          countDistinct(col("c_mktsegment")).as("n_segments"))
        .orderBy("n_name")
    },
    Some("""WITH d AS (SELECT DISTINCT n_name, c_mktsegment
        FROM customer JOIN nation ON c_nationkey = n_nationkey)
      SELECT n_name,
        string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        COUNT(*) AS n_segments
      FROM d GROUP BY n_name ORDER BY n_name"""))

  /** Gaps-and-islands: segment each customer's order history into "bursts"
    * separated by > 30 idle days, then profile the islands. Two window
    * passes over the same (custkey, orderdate) partitioning — Catalyst
    * plans ONE exchange+sort reused by both Window nodes — followed by two
    * hash aggregates. The island id is a running sum of new-island flags, a
    * deterministic value under date ties because tied rows all carry flag 0
    * relative to their group start.
    */
  private val q91 = Q("q91_islands_gaps",
    (s, d) => {
      val byDate = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val flagged = Tables.orders(s, d)
        .withColumn("gap_days",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byDate)))
        .withColumn("new_island",
          when(col("gap_days").isNull || col("gap_days") > 30, 1).otherwise(0))
        .withColumn("island_id",
          sum(col("new_island")).over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged
        .groupBy("o_custkey", "island_id")
        .agg(count(lit(1)).as("island_len"))
        .groupBy("o_custkey")
        .agg(max(col("island_id")).as("n_islands"),
          max(col("island_len")).as("longest_island"),
          sum(col("island_len")).as("n_orders"))
        .orderBy("o_custkey")
    },
    Some("""WITH flagged AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
          CASE WHEN lag(o_orderdate) OVER w IS NULL
                 OR date_diff('day', lag(o_orderdate) OVER w, o_orderdate) > 30
               THEN 1 ELSE 0 END AS new_island
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)),
      islands AS (
        SELECT o_custkey,
          CAST(SUM(new_island) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id
        FROM flagged),
      sized AS (
        SELECT o_custkey, island_id, COUNT(*) AS island_len
        FROM islands GROUP BY o_custkey, island_id)
      SELECT o_custkey,
        MAX(island_id) AS n_islands,
        MAX(island_len) AS longest_island,
        CAST(SUM(island_len) AS BIGINT) AS n_orders
      FROM sized GROUP BY o_custkey ORDER BY o_custkey"""))

  /** Event-funnel paths: per user, the full event-type sequence in time
    * order, plus whether a view→purchase conversion occurred. The sequence
    * is assembled with collect_list(struct(ts, type)) → array_sort —
    * deterministic because (user_id, ts_ms) is unique — so the aggregate
    * stays a single shuffle keyed by user; per-user state is bounded by
    * events-per-user exactly like the reference's per-key deques. Token
    * containment via instr is exact here because no event type is a
    * substring of another.
    */
  private val q92 = Q("q92_funnel_paths",
    (s, d) => {
      val seq0 = Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts_ms"), col("event_type")))),
              x => x("event_type")),
            ">").as("path"),
          count(lit(1)).as("n_events"))
      seq0.select(
          col("user_id"), col("n_events"), col("path"),
          when(instr(col("path"), "view") > 0 &&
               instr(col("path"), "purchase") > instr(col("path"), "view"), 1)
            .otherwise(0).cast("int").as("converted"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
        COUNT(*) AS n_events,
        string_agg(event_type, '>' ORDER BY ts) AS path,
        CAST(CASE WHEN instr(string_agg(event_type, '>' ORDER BY ts), 'view') > 0
          AND instr(string_agg(event_type, '>' ORDER BY ts), 'purchase')
            > instr(string_agg(event_type, '>' ORDER BY ts), 'view')
          THEN 1 ELSE 0 END AS INTEGER) AS converted
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Calendar profile: day-of-week × hour-of-day activity heatmap over the
    * event stream (the batch twin of the reference's wall-clock cadences,
    * reference/src/app.py:63-77). Pure extraction + single aggregate; the
    * exchange ships ≤ 7·24 groups. Spark's dayofweek is 1-based
    * Sunday=1; DuckDB's is 0-based Sunday=0 — the oracle shifts.
    */
  private val q93 = Q("q93_dow_hour_profile",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(
          dayofweek(col("ts_utc")).as("dow"),
          hour(col("ts_utc")).as("hod"))
        .agg(count(lit(1)).as("n_events"),
          StableAgg.dsum(col("value")).as("sum_value"))
        .orderBy("dow", "hod")
    },
    Some(s"""SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
        CAST(hour(ts) AS INTEGER) AS hod,
        COUNT(*) AS n_events,
        ${O.dsum("value")} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY dow, hod"""))

  /** Class-balanced oversampling: replicate each document floor(target/cnt)
    * times, where target is the majority-class size — the standard
    * rebalancing step before training-data mixing. The per-class counts are
    * a tiny aggregate broadcast back onto the scan; replication is a
    * zero-shuffle explode(sequence(1, k)) whose output volume is
    * ≈ |classes|·target rows regardless of skew. copy_idx makes each
    * replica addressable (for epoch-salted shuffles downstream, q44).
    */
  private val q94 = Q("q94_balanced_resample",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .withColumn("target", max(col("cnt")).over(Window.partitionBy()))
        .withColumn("k", expr("target div cnt"))
        .select("lang", "k")
      Tables.documents(s, d)
        .join(broadcast(counts), "lang")
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("k"))).as("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    },
    Some("""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        t AS (SELECT lang, CAST(MAX(cnt) OVER () AS BIGINT) // cnt AS k FROM c)
      SELECT doc_id, d.lang AS lang, UNNEST(range(1, k + 1)) AS copy_idx
      FROM documents d JOIN t USING (lang)
      ORDER BY doc_id, copy_idx"""))

  /** Filtered / boolean aggregate family: count_if, bool_or, bool_and and a
    * conditional exact sum, per nation key. One hash aggregate; every
    * measure combines map-side, so the exchange ships one row per nation
    * key regardless of input size.
    */
  private val q95 = Q("q95_conditional_agg",
    (s, d) => {
      Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(
          count_if(col("c_acctbal") < 0).as("n_neg"),
          bool_or(col("c_acctbal") < 0).as("any_neg"),
          bool_and(col("c_acctbal") > 0).as("all_pos"),
          StableAgg.dsum(
            when(col("c_acctbal") > 0, col("c_acctbal")).otherwise(lit(0.0d)))
            .as("sum_pos"),
          coalesce(max(when(col("c_acctbal") < 0, col("c_acctbal"))), lit(0.0d))
            .as("max_neg"))
        .orderBy("c_nationkey")
    },
    Some(s"""SELECT c_nationkey,
        CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS n_neg,
        bool_or(c_acctbal < 0) AS any_neg,
        bool_and(c_acctbal > 0) AS all_pos,
        ${O.dsum("CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END")} AS sum_pos,
        coalesce(MAX(CASE WHEN c_acctbal < 0 THEN c_acctbal END), 0.0) AS max_neg
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""))

  /** Sweep-line interval concurrency: treating each event as an interval
    * [ts, ts + floor(1000·value) ms], find the peak number of simultaneously
    * open intervals per event type. Classic +1/−1 delta stream: deltas are
    * pre-aggregated per (type, instant) — making the running sum's ordering
    * key unique, hence deterministic — then one window pass takes the
    * running sum and one aggregate takes its max. Both window and aggregate
    * share the event_type partitioning; the exchange ships |distinct
    * instants|, already collapsed map-side.
    */
  private val q96 = Q("q96_max_concurrency",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("ts_ms"),
          (col("ts_ms") + floor(col("value") * 1000.0d).cast("long")).as("ts_end"))
      val deltas = ev.select(col("event_type"), col("ts_ms").as("t"), lit(1L).as("delta"))
        .unionAll(ev.select(col("event_type"), col("ts_end").as("t"), lit(-1L).as("delta")))
        .groupBy("event_type", "t")
        .agg(sum(col("delta")).as("d"))
      val run = Window.partitionBy("event_type").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas
        .withColumn("open", sum(col("d")).over(run))
        .groupBy("event_type")
        .agg(max(col("open")).as("peak_concurrency"))
        .orderBy("event_type")
    },
    Some("""WITH iv AS (
        SELECT event_type, epoch_ms(ts) AS t0,
          epoch_ms(ts) + CAST(floor(value * 1000.0) AS BIGINT) AS t1
        FROM events),
      deltas AS (
        SELECT event_type, t, CAST(SUM(delta) AS BIGINT) AS d
        FROM (SELECT event_type, t0 AS t, 1 AS delta FROM iv
              UNION ALL
              SELECT event_type, t1 AS t, -1 AS delta FROM iv)
        GROUP BY event_type, t),
      opened AS (
        SELECT event_type,
          CAST(SUM(d) OVER (PARTITION BY event_type ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
        FROM deltas)
      SELECT event_type, MAX(open) AS peak_concurrency
      FROM opened GROUP BY event_type ORDER BY event_type"""))

  /** Cohort retention: users grouped by first-active day, activity rolled
    * up to week offsets — the standard retention triangle. Two aggregates
    * joined on user_id (both sides shuffle-partition by user at scale; AQE
    * broadcasts the cohort side when it fits), then one |cohorts × offsets|
    * aggregate. countDistinct stays partial-aggregable because the join
    * output is already user-keyed.
    */
  private val q97 = Q("q97_cohort_retention",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts_utc")).as("d"))
      val firsts = ev.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
      ev.join(firsts, "user_id")
        .groupBy(col("cohort_day"),
          expr("CAST(datediff(d, cohort_day) div 7 AS BIGINT)").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("week_offset"), col("active_users"))
        .orderBy("cohort_day", "week_offset")
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        firsts AS (SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id)
      SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        CAST(date_diff('day', cohort_day, d) // 7 AS BIGINT) AS week_offset,
        COUNT(DISTINCT ev.user_id) AS active_users
      FROM ev JOIN firsts ON ev.user_id = firsts.user_id
      GROUP BY firsts.cohort_day, 2 ORDER BY cohort_day, week_offset"""))

  /** Edit-distance near-dup audit over consecutive doc pairs (the q24
    * pair-key shape: one scan, explode to (k, left/right), 2-row groupBy —
    * no self-join). Levenshtein on an 80-char prefix bounds per-pair cost
    * at O(80²) independent of document length; both engines compute
    * character-based unit-cost edit distance.
    */
  private val q98 = Q("q98_edit_distance",
    (s, d) => {
      val t = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), substring(col("text"), 1, 80).as("t80"))
      val dist = levenshtein(col("a.t80"), col("b.t80"))
      t.select(explode(array(
          struct(col("doc_id").as("k"), lit(true).as("is_left"),
            col("doc_id"), col("t80")),
          struct((col("doc_id") - 1).as("k"), lit(false).as("is_left"),
            col("doc_id"), col("t80")))).as("e"))
        .select(col("e.k"), col("e.is_left"), col("e.doc_id"), col("e.t80"))
        .groupBy("k")
        .agg(
          max(when(col("is_left"), struct(col("doc_id"), col("t80")))).as("a"),
          max(when(!col("is_left"), struct(col("doc_id"), col("t80")))).as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull)
        .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"),
          dist.as("edit_dist"),
          (lit(1.0d) - dist.cast("double") /
            greatest(length(col("a.t80")), length(col("b.t80")), lit(1)).cast("double"))
            .as("similarity"))
        .orderBy("doc_id_a")
    },
    Some("""WITH t AS (SELECT doc_id, substr(text, 1, 80) AS t80 FROM documents)
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        CAST(levenshtein(a.t80, b.t80) AS INTEGER) AS edit_dist,
        1.0::DOUBLE - CAST(levenshtein(a.t80, b.t80) AS DOUBLE)
          / CAST(greatest(length(a.t80), length(b.t80), 1) AS DOUBLE) AS similarity
      FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      ORDER BY doc_id_a"""))

  /** Bitwise aggregate family (bit_or / bit_and / bit_xor) — order- and
    * partition-independent by algebra, so they combine map-side with zero
    * determinism caveats; xor doubles as an order-insensitive membership
    * digest.
    */
  private val q99 = Q("q99_bit_aggregates",
    (s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          expr("bit_or(user_id)").as("or_bits"),
          expr("bit_and(user_id)").as("and_bits"),
          expr("bit_xor(user_id)").as("xor_bits"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(bit_or(user_id) AS BIGINT) AS or_bits,
        CAST(bit_and(user_id) AS BIGINT) AS and_bits,
        CAST(bit_xor(user_id) AS BIGINT) AS xor_bits,
        COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Content checksum per partition key — the migration-validation
    * primitive for a 100 TB copy: row identity hashes (first 8 hex chars of
    * md5 over the '|'-joined key columns, the [[graft.operators.Dedup]]
    * hexHash32 convention) summed per group. Order-independent, combines
    * map-side, ships one (flag, checksum, count) row per group; comparing
    * source and destination checksums localizes any divergence to a
    * partition without moving data.
    */
  private val q100 = Q("q100_table_checksum",
    (s, d) => {
      import graft.operators.Dedup
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"))
      Tables.fanOut(Tables.lineitem(s, d)) // r14: md5 chain off the 1-task scan
        .groupBy("l_returnflag")
        .agg(sum(Dedup.hexHash32(md5(rowKey))).as("checksum"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    Some {
      val h = "substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR), l_returnflag, l_linestatus)), 1, 8)"
      s"""WITH hashed AS (SELECT l_returnflag, ${TrainingDataQueries.duckHash32(h)} AS h32
          FROM lineitem)
        SELECT l_returnflag, CAST(SUM(h32) AS BIGINT) AS checksum,
          COUNT(*) AS n_rows
        FROM hashed GROUP BY l_returnflag ORDER BY l_returnflag"""
    })

  /** Market-basket co-purchase pairs: distinct parts per order self-joined
    * on the order key (i < j), pair counts, deterministic top-20. The
    * self-join co-partitions on l_orderkey — one shuffle per side and the
    * quadratic blow-up is confined to per-order basket size (≤ 7 lines in
    * TPC-H shape); the full (desc count, part_a, part_b) ordering makes the
    * LIMIT a TakeOrderedAndProject (per-partition heaps), never a global
    * sort.
    */
  private val q101 = Q("q101_copurchase_pairs",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), col("part_a"), col("part_b"))
        .limit(20)
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        COUNT(*) AS n_orders
      FROM li a JOIN li b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      ORDER BY n_orders DESC, part_a, part_b LIMIT 20"""))

  /** Weighted systematic sampling: documents selected where their
    * char-weight cumulative sum crosses a stride boundary — the
    * deterministic, single-pass alternative to ln(u)/w weighted reservoirs
    * (whose transcendental draws can't hash cross-engine, NOTES rule).
    * Integer arithmetic end to end: weights are char counts, cumsums and
    * strides are BIGINT, so selection is bit-identical on any engine. The
    * cumsum windows partition by lang — per-stream sampling keyed like the
    * corpus, no global single-partition window.
    */
  private val q102 = Q("q102_weighted_sample",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val cum = sum(col("n_chars")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val total = sum(col("n_chars")).over(Window.partitionBy("lang"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          cum.as("cum_w"), total.as("total_w"))
        .withColumn("stride", expr("greatest(CAST(1 AS BIGINT), total_w div 16)"))
        .filter(expr("cum_w div stride") > expr("(cum_w - n_chars) div stride"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("CAST(cum_w div stride AS BIGINT)").as("bucket"))
        .orderBy("lang", "doc_id")
    },
    Some("""WITH c AS (
        SELECT doc_id, lang, n_chars,
          SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
          greatest(1, CAST(SUM(n_chars) OVER (PARTITION BY lang) AS BIGINT) // 16) AS stride
        FROM documents)
      SELECT doc_id, lang, n_chars,
        CAST(cum_w // stride AS BIGINT) AS bucket
      FROM c
      WHERE cum_w // stride > (cum_w - n_chars) // stride
      ORDER BY lang, doc_id"""))

  /** Join-key skew audit: the pre-flight a 100 TB join wants — per-key
    * frequency distribution of a prospective join key (count stats, exact
    * p50/p99 via the floor-index percentile aggregate, and the share of
    * the hottest key). Two aggregate levels: the per-key counts collapse
    * map-side, the second level reduces |keys| rows to one — nothing
    * else moves. Feeds the q49 salting decision.
    */
  private val q103 = Q("q103_skew_report",
    (s, d) => {
      import graft.functions.ExactPercentile
      val counts = Tables.lineitem(s, d)
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      counts.agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_cnt"),
          ExactPercentile(col("cnt").cast("double"), Seq(0.5, 0.99)).as("pcts"))
        .select(col("n_keys"), col("n_rows"), col("max_cnt"),
          element_at(col("pcts"), 1).as("p50_cnt"),
          element_at(col("pcts"), 2).as("p99_cnt"),
          (col("max_cnt").cast("double") / col("n_rows").cast("double"))
            .as("top1_share"))
    },
    Some("""WITH c AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      r AS (SELECT cnt,
              row_number() OVER (ORDER BY CAST(cnt AS DOUBLE)) - 1 AS rn,
              COUNT(*) OVER () AS n
            FROM c)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        CAST(SUM(cnt) AS BIGINT) AS n_rows,
        MAX(cnt) AS max_cnt,
        MAX(CASE WHEN rn = CAST(floor(0.50::DOUBLE * (n-1)) AS BIGINT)
          THEN CAST(cnt AS DOUBLE) END) AS p50_cnt,
        MAX(CASE WHEN rn = CAST(floor(0.99::DOUBLE * (n-1)) AS BIGINT)
          THEN CAST(cnt AS DOUBLE) END) AS p99_cnt,
        CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top1_share
      FROM r"""))

  /** Corpus duplication-rate report: the dedup-QA numbers a training-data
    * pipeline publishes after a cleaning pass — how many 3-gram
    * occurrences are repeats, and how many distinct 3-grams cross
    * document boundaries. One explode + two aggregate levels; the shingle
    * shuffle collapses map-side to (shingle, count). At 100 TB the exact
    * report runs over a hash-sample of the shingle space (the q43 salted
    * draw composes directly: `WHERE hash32(sh) < p·2^32`) — the plan shape
    * is unchanged.
    */
  private val q104 = Q("q104_corpus_dup_stats",
    (s, d) => {
      import graft.operators.TextAnalysis
      val sh = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)).as("sh"))
      sh.groupBy("sh")
        .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("n_docs"))
        .agg(
          count(lit(1)).as("n_distinct_shingles"),
          sum(col("occ")).as("n_occurrences"),
          sum(when(col("occ") > 1, col("occ") - 1).otherwise(0L))
            .as("n_dup_occurrences"),
          count_if(col("n_docs") > 1).as("n_cross_doc_shingles"))
        .select(col("n_distinct_shingles"), col("n_occurrences"),
          col("n_dup_occurrences"), col("n_cross_doc_shingles"),
          (col("n_dup_occurrences").cast("double") /
            col("n_occurrences").cast("double")).as("dup_rate"))
    },
    Some(s"""WITH t AS (SELECT doc_id, ${TrainingDataQueries.duckToks} AS w FROM documents),
        raw AS (SELECT doc_id, unnest(${TrainingDataQueries.duckShingles("w")}) AS sh FROM t),
        per AS (SELECT sh, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS n_docs
                FROM raw GROUP BY sh)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_shingles,
        CAST(SUM(occ) AS BIGINT) AS n_occurrences,
        CAST(SUM(CASE WHEN occ > 1 THEN occ - 1 ELSE 0 END) AS BIGINT) AS n_dup_occurrences,
        CAST(COUNT(*) FILTER (WHERE n_docs > 1) AS BIGINT) AS n_cross_doc_shingles,
        CAST(SUM(CASE WHEN occ > 1 THEN occ - 1 ELSE 0 END) AS DOUBLE)
          / CAST(SUM(occ) AS DOUBLE) AS dup_rate
      FROM per"""))

  /** SCD type-2 merge expressed Spark-first: CDC updates (here a derived
    * change set: every 10th customer gets a balance adjustment) union the
    * current dimension, then one per-key window assigns validity ranges —
    * the MERGE-free pattern for versioned dimensions on plain parquet.
    * One shuffle keyed by the business key; at 100 TB the update set is
    * typically a small fraction and AQE broadcasts it into the union's
    * scan stage.
    */
  private val q105 = Q("q105_scd2_merge",
    (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"), lit(1).as("version"))
      val updates = Tables.customer(s, d)
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0d).as("c_acctbal"),
          lit(2).as("version"))
      val w = Window.partitionBy("c_custkey").orderBy("version")
      base.unionAll(updates)
        .withColumn("valid_to",
          coalesce(lead(col("version"), 1).over(w), lit(Int.MaxValue)))
        .withColumn("is_current", (col("valid_to") === Int.MaxValue).cast("int"))
        .orderBy("c_custkey", "version")
    },
    Some(s"""WITH merged AS (
        SELECT c_custkey, c_acctbal, 1 AS version FROM customer
        UNION ALL
        SELECT c_custkey, c_acctbal + 100.0::DOUBLE, 2 AS version
        FROM customer WHERE c_custkey % 10 = 0)
      SELECT c_custkey, c_acctbal, CAST(version AS INTEGER) AS version,
        CAST(coalesce(lead(version) OVER (PARTITION BY c_custkey ORDER BY version),
          2147483647) AS INTEGER) AS valid_to,
        CAST(CASE WHEN coalesce(lead(version) OVER (PARTITION BY c_custkey
          ORDER BY version), 2147483647) = 2147483647 THEN 1 ELSE 0 END AS INTEGER)
          AS is_current
      FROM merged ORDER BY c_custkey, version"""))

  /** PERCENTILE_CONT (R-7 linear interpolation) — the interpolated twin of
    * q9's floor-index exact percentiles, over integral-valued quantities so
    * the interpolation arithmetic is exact in both engines. Spark's
    * percentile() buffers each group's values exactly like q9's native
    * aggregate; the sketch path (q37) remains the unbounded-cardinality
    * answer.
    */
  private val q106 = Q("q106_percentile_cont",
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)))
          .as("pcts"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"),
          element_at(col("pcts"), 1).as("p25"),
          element_at(col("pcts"), 2).as("p50"),
          element_at(col("pcts"), 3).as("p75"),
          element_at(col("pcts"), 4).as("p90"),
          col("cnt"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.5) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        quantile_cont(l_quantity, 0.9) AS p90,
        COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** The gate of q108 and q133: the arrival-ordered staleness replay in
    * 2 chunks through the stateful `gaps` operator, aggregated to q8's
    * per-user stats. */
  private def stalenessGate(s: SparkSession, d: String, conf: StreamGate.GateConf)(
      gaps: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val rows: Seq[(String, String, Long, Long)] = stalenessSymRows(s, d)
    val mem = StreamGate.memory[(String, String, Long, Long)](s)
    val events = mem.toDF()
      .toDF("symbol", "channel", "ts_exchange_ms", "ts_recv_mono_ns")
    StreamGate.toMemory(s, gaps(events), "append", feed(mem, inChunks(rows, 2)), conf)
      .transform(CoreQueries.staleStats(col("symbol").cast("bigint").as("user_id"), "stale_ms"))
  }

  /** Streaming-state gate: the reference's per-key staleness tracker
    * (reference/src/metrics/rolling.py:34-35,85-94) executed through the
    * REAL Structured Streaming path — MemoryStream → flatMapGroupsWithState
    * (state store) across 4 replayed micro-batches — then aggregated to
    * exactly q8's per-key stats and checked against q8's DuckDB oracle.
    * This promotes the spec-only streaming state path into the hash-match
    * correctness gate: every gap comes out of state carried across
    * micro-batch boundaries, not a batch window function.
    *
    * The driver-side collect is the replay HARNESS (building the ordered
    * arrival fixture), not the operator: arrival clock = global
    * (ts_ms, event_id) rank, so the stream's per-key arrival order
    * reproduces the batch lag ordering. The operator under test is the
    * flatMapGroupsWithState pipeline, whose state is one Long per key.
    */
  private val q108 = Q("q108_streaming_staleness",
    (s, d) => stalenessGate(s, d, StreamGate.GateConf())(
      graft.streaming.StalenessStream.gaps(_).toDF()),
    Some(O.stalenessStats))

  /** Window-aggregate closure: percentile_disc and mode as WINDOW
    * aggregates (the two gaps a mature engine's window surface still had
    * vs DuckDB/Postgres). Spark has no percentile_disc/mode window
    * builtins, so both are composed from window primitives:
    *  - percentile_disc(q) = min value whose cume_dist ≥ q (the
    *    PostgreSQL definition) — two window passes, one ordered for
    *    cume_dist, one whole-partition for the conditional min;
    *  - mode = first value ordered by (frequency desc, value asc) over
    *    the whole partition — the tie-break is explicit because the
    *    fixture really does tie ('view' has two users at max count), and
    *    engine-native mode() is tie-nondeterministic.
    * The oracle uses DuckDB's NATIVE quantile_disc in window form (a real
    * cross-engine semantic check, verified equal to the cume_dist
    * construction), plus the same deterministic mode construction.
    *
    * Scale: both passes partition by event_type — the same shuffle key —
    * so this is one exchange + two in-partition sorts; no driver state.
    */
  private val q109 = Q("q109_window_disc_mode",
    (s, d) => {
      val wOrd = Window.partitionBy("event_type").orderBy("value")
      val wAll = Window.partitionBy("event_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wUser = Window.partitionBy("event_type", "user_id")
      val wMode = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("user_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .withColumn("cd", cume_dist().over(wOrd))
        .withColumn("cnt", count(lit(1)).over(wUser))
        .withColumn("p50_disc", min(when(col("cd") >= 0.5, col("value"))).over(wAll))
        .withColumn("p90_disc", min(when(col("cd") >= 0.9, col("value"))).over(wAll))
        .withColumn("mode_user", first("user_id").over(wMode))
        .select("event_type", "p50_disc", "p90_disc", "mode_user")
        .distinct()
        .orderBy("event_type")
    },
    Some("""WITH b AS (
        SELECT event_type, value, user_id,
          quantile_disc(value, 0.5) OVER (PARTITION BY event_type) AS p50_disc,
          quantile_disc(value, 0.9) OVER (PARTITION BY event_type) AS p90_disc,
          COUNT(*) OVER (PARTITION BY event_type, user_id) AS cnt
        FROM events),
      m AS (
        SELECT event_type, p50_disc, p90_disc,
          FIRST_VALUE(user_id) OVER (PARTITION BY event_type
            ORDER BY cnt DESC, user_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS mode_user
        FROM b)
      SELECT DISTINCT event_type, p50_disc, p90_disc, mode_user
      FROM m ORDER BY event_type"""))

  /** FILTER (WHERE) aggregate modifiers — the ANSI aggregate-filter
    * clause, engine-parsed (spark.sql, not a CASE-WHEN rewrite), incl.
    * the FILTER + DISTINCT combination. All selected aggregates are
    * exact-typed (counts, date min, double max — no FP summation), so
    * the oracle is the same SQL text.
    *
    * Scale: a single partial/final hash aggregation; FILTER predicates
    * evaluate pre-shuffle so the exchange still ships |groups| rows.
    */
  private val q110 = Q("q110_filtered_agg",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("q110_orders")
      s.sql("""SELECT o_orderpriority,
          COUNT(*) AS n_orders,
          COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
          COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS n_f_customers,
          MAX(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS max_open_price,
          MIN(o_orderdate) FILTER (WHERE o_totalprice > 200000.0) AS first_big_date
        FROM q110_orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
        COUNT(*) AS n_orders,
        COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
        COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS n_f_customers,
        MAX(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS max_open_price,
        MIN(o_orderdate) FILTER (WHERE o_totalprice > 200000.0) AS first_big_date
      FROM orders
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Streaming sessionization gate (companion to q108): 30-minute-gap
    * session windows computed by the REAL streaming session-window
    * operator — MemoryStream replay in event-time order across 4
    * micro-batches, watermark-driven append emission, sessions merging
    * across batch boundaries in the state store — checked against q36's
    * batch DuckDB oracle (gaps-and-islands).
    *
    * Append-mode session aggregation only emits a session once the
    * watermark passes its end, so after the real data two far-future
    * sentinel events (user_id -1, filtered from the output) advance the
    * watermark in two final batches: batch k's max event time becomes
    * the watermark DURING batch k+1, hence two pushes flush every real
    * session. State per key is bounded by the watermark horizon — the
    * production-shape config, not a test shortcut.
    */
  private val q111 = Q("q111_streaming_sessions",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(Long, Long, Double)] =
        StreamFixtures.replayRows("q111", d) {
          Tables.events(s, d)
            .select(col("user_id"), col("ts_ms"), col("value"))
            .orderBy("ts_ms")
            .collect().iterator
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        }
      val maxTs = if (rows.nonEmpty) rows.iterator.map(_._2).max else 0L
      val mem = StreamGate.memory[(Long, Long, Double)](s)
      val src = mem.toDF().toDF("user_id", "ts_ms", "value")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "0 seconds")
      val sess = CoreQueries.sessionWindows(src, col("ts"))
      // two watermark pushes: sentinel k's event time is the watermark
      // during sentinel k+1's batch, so the second push flushes
      // everything that closed before the first sentinel
      val sentinels = Seq(maxTs + 7200000L, maxTs + 14400000L).map(ts => Seq((-1L, ts, 0.0)))
      StreamGate.toMemory(s, sess, "append", feed(mem, inChunks(rows, 2) ++ sentinels))
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start_ms")
    },
    Some(CoreQueries.sessionsOracle))

  /** Sliding-frame discrete percentiles (q109's partition-wide
    * percentile_disc taken to bounded moving frames): trailing-20-row
    * p25/p50/p75 per user. Spark has no framed percentile_disc, so the
    * frame's multiset is materialized per row (collect_list over ROWS
    * BETWEEN 19 PRECEDING AND CURRENT ROW — O(frame) state, constant per
    * row), sorted, and indexed at ceil(q·n) — the index rule DuckDB's
    * native framed quantile_disc uses (probed: n=4/10 across q values).
    * The q values 0.25/0.5/0.75 are binary-exact, so ceil(q·n) computes
    * identically in double and exact arithmetic — a 0.3-style q would
    * NOT be safe cross-engine.
    *
    * Scale: one shuffle on user_id, one in-partition sort, per-row work
    * bounded by the 20-row frame; no driver state.
    */
  private val q113 = Q("q113_sliding_disc_percentile",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        .rowsBetween(-19, Window.currentRow)
      def disc(arr: org.apache.spark.sql.Column, q: Double) =
        element_at(arr, ceil(size(arr) * lit(q)).cast("int"))
      Tables.events(s, d)
        .withColumn("arr", array_sort(collect_list(col("value")).over(w)))
        .select(col("event_id"), col("user_id"),
          disc(col("arr"), 0.25).as("p25_disc"),
          disc(col("arr"), 0.5).as("p50_disc"),
          disc(col("arr"), 0.75).as("p75_disc"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
        quantile_disc(value, 0.25) OVER w AS p25_disc,
        quantile_disc(value, 0.5) OVER w AS p50_disc,
        quantile_disc(value, 0.75) OVER w AS p75_disc
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  /** Fixed-point PageRank (5 damped iterations) over the bipartite
    * customer↔supplier trade graph (distinct (o_custkey, l_suppkey)
    * pairs via the orderkey join, symmetrized; node ids namespaced
    * 2k / 2k+1). Integer-only arithmetic (GraphOps.pageRankFixed) makes
    * the iteration bit-exact on any partitioning and lets the oracle
    * unroll the identical recurrence in SQL — an iterative-graph-family
    * gate with a full hash oracle, no FP accumulation-order caveats.
    * The readable score is one exact division at the end.
    */
  private val q116 = Q("q116_pagerank_fixed",
    (s, d) => {
      val edges = FrontierQueries.tradeGraph(s, d)
      GraphOps.pageRankFixed(edges, 5)
        .select(col("node"), col("rank"),
          (col("rank").cast("double") / lit(1000000000000.0)).as("score"))
        .orderBy("node")
    },
    Some {
      val it = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inflow
          FROM e JOIN deg d USING (src) JOIN r${i - 1} r ON r.node = e.src
          GROUP BY e.dst),
        r$i AS (SELECT n.node,
          CAST(150000000000 + (85 * COALESCE(c.inflow, 0)) // 100 AS BIGINT) AS rank
          FROM nodes n LEFT JOIN c$i c USING (node))"""
      }.mkString(",\n        ")
      s"""WITH eraw AS (
        SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT src, dst FROM eraw
        UNION SELECT dst, src FROM eraw),
      deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
      $it
      SELECT node, rank, CAST(rank AS DOUBLE) / 1000000000000.0 AS score
      FROM r5 ORDER BY node"""
    })

  /** The min-support supplier co-supply graph of q117 and q158:
    * canonical a<b edges co-supplied by ≥ 8 distinct orders. */
  private[queries] def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    l.as("x").join(l.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_suppkey") < col("y.l_suppkey"))
      .select(col("x.l_orderkey").as("ok"),
        col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
      .distinct()
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 8)
      .select("a", "b")
  }

  /** Per-node triangle counts from (w, u, v) triangles (q117, q158). */
  private[queries] def triangleCounts(tris: DataFrame): DataFrame =
    tris.select(explode(array(col("w"), col("u"), col("v"))).as("suppkey"))
      .groupBy("suppkey").agg(count(lit(1)).as("n_triangles"))
      .orderBy("suppkey")

  /** Per-node triangle counts of the co-supply graph as a 3-way SQL
    * self-join — one oracle for q117's id-ordered and q158's
    * degree-ordered orientation (per-node counts are
    * orientation-invariant). */
  private[queries] lazy val triangleOracle: String =
    """WITH pi AS (
      SELECT DISTINCT x.l_orderkey AS ok, x.l_suppkey AS a, y.l_suppkey AS b
      FROM lineitem x JOIN lineitem y
        ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
    e AS (
      SELECT a, b FROM pi GROUP BY a, b HAVING COUNT(*) >= 8),
    tri AS (
      SELECT e1.a AS w, e1.b AS u, e2.b AS v
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
    n AS (SELECT w AS suppkey FROM tri
      UNION ALL SELECT u FROM tri
      UNION ALL SELECT v FROM tri)
    SELECT suppkey, COUNT(*) AS n_triangles
    FROM n GROUP BY suppkey ORDER BY suppkey"""

  /** Triangle counting over the MIN-SUPPORT supplier co-supply graph
    * (an edge = the pair co-supplied ≥ 8 distinct orders — the standard
    * support threshold of association/similarity graph construction;
    * without it the fixture's co-occurrence graph is a 90%-dense
    * near-clique at sf0.1 whose ~10^8 triangles are a property of the
    * graph, not the algorithm). Canonical a<b edges, wedges anchored at
    * each triangle's smallest vertex (b<c over two edges from a),
    * closed by a third edge lookup — each triangle counted exactly
    * once, per-node counts via the 3-way unpivot. At 100 TB the
    * id-ordered orientation swaps for degree-ordered orientation
    * (orient low-degree → high-degree), the standard hub-skew bound
    * that caps wedge fan-out at O(sqrt(|E|)) per vertex; the join
    * pattern is identical. Oracle: same construction as a 3-way SQL
    * self-join.
    */
  private val q117 = Q("q117_triangle_count",
    (s, d) => {
      val e = coSupplyEdges(s, d)
      val wedges = e.as("e1").join(e.as("e2"),
          col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
        .select(col("e1.a").as("w"), col("e1.b").as("u"), col("e2.b").as("v"))
      val tris = wedges.join(e.as("e3"),
          col("u") === col("e3.a") && col("v") === col("e3.b"))
        .select(col("w"), col("u"), col("v"))
      triangleCounts(tris)
    },
    Some(triangleOracle))

  /** LATERAL correlated subquery through the SQL parser (per-customer
    * top-2 orders by price): the ANSI lateral-join surface, planned as
    * a WindowGroupLimit-style per-group limit rather than a
    * nested-loop — the DataFrame twin is q89's rank filter. Totally
    * ordered inner sort (price desc, orderkey) so both engines pick
    * identical rows.
    */
  private val q118 = Q("q118_lateral_topn",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("q118_customer")
      Tables.orders(s, d).createOrReplaceTempView("q118_orders")
      s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM q118_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM q118_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    },
    Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""))

  /** Streaming OHLC gate (the third spec-only streaming path promoted
    * into the hash gate, after q108/q111): streaming/Bars run under
    * append mode with a 0-second watermark over a 4-micro-batch
    * event-time-ordered replay of the T-0 normalized trade stream —
    * bars whose days straddle batch boundaries merge decimal partials
    * in the state store — checked against q66's oracle restricted to
    * the same symbol. The replay assigns each trade a per-timestamp
    * arrival seq (sorted by src_id, price, sz), making Bars' packed
    * (ts, seq) min_by/max_by key unique, and ranking identically to the
    * oracle's (src_id, price) string key (full-key ties are
    * equal-price, hence value-identical — the NOTES §2 rule).
    */
  private val q119 = Q("q119_streaming_bars",
    (s, d) => {
      import s.implicits._
      val rows: IndexedSeq[(String, Long, Double, Double, Long)] =
        StreamFixtures.replayRows("q119", d) {
          val tr = graft.operators.Normalizer
            .normalize(NormalizerQueries.framedTrades(s, d), passthrough = Seq("src_id"))
            .select(col("src_id"), col("symbol"), col("ts_exchange_ms"),
              col("trade.price").as("price"), col("trade.size").as("sz"))
            .filter(col("symbol") === "T-0" && col("src_id") % 4 === 0)
            .orderBy("ts_exchange_ms", "src_id", "price", "sz")
            .collect()
          val buf = new scala.collection.mutable.ArrayBuffer[(String, Long, Double, Double, Long)](tr.length)
          var lastTs = Long.MinValue
          var seq = 0L
          tr.foreach { r =>
            val ts = r.getLong(2)
            seq = if (ts == lastTs) seq + 1 else 0L
            lastTs = ts
            buf += ((r.getString(1), ts, r.getDouble(3), r.getDouble(4), seq))
          }
          buf.toIndexedSeq
        }
      val maxTs = if (rows.nonEmpty) rows.last._2 else 0L
      val mem = StreamGate.memory[(String, Long, Double, Double, Long)](s)
      val src = mem.toDF()
        .toDF("symbol", "ts_exchange_ms", "price", "sz", "seq")
        .withColumn("event_time", timestamp_millis(col("ts_exchange_ms")))
        .withWatermark("event_time", "0 seconds")
      val bars = graft.streaming.Bars.ohlc(src, col("seq"), "1 day")
      val sentinels = Seq(2, 4).map(k => Seq(("SENTINEL", maxTs + k * 86400000L, 0.0, 0.0, 0L)))
      StreamGate.toMemory(s, bars, "append", feed(mem, inChunks(rows, 2) ++ sentinels))
        .filter(col("symbol") =!= "SENTINEL")
        .select(col("symbol"), expr("bar_start_ms div 86400000").as("day_bucket"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("n_trades"))
        .orderBy("symbol", "day_bucket")
    },
    Some(s"""WITH ${AnalyticsQueries.duckTrades}
      SELECT symbol, ts // 86400000 AS day_bucket,
        arg_min(price, printf('%09d|%012d|%018.6f', ts % 86400000, src_id, price)) AS open,
        MAX(price) AS high, MIN(price) AS low,
        arg_max(price, printf('%09d|%012d|%018.6f', ts % 86400000, src_id, price)) AS close,
        ${O.dsum("sz")} AS volume,
        CAST(COUNT(*) AS BIGINT) AS n_trades
      FROM tr WHERE symbol = 'T-0' AND src_id % 4 = 0
      GROUP BY symbol, day_bucket
      ORDER BY symbol, day_bucket"""))

  /** Streaming exact-dedup gate: Dedup.streamingExact
    * (dropDuplicatesWithinWatermark on the content hash) over a
    * 4-micro-batch arrival-ordered replay of events, watermark horizon
    * wider than the stream so nothing ages out — the state store must
    * emit each distinct props payload EXACTLY once across batch
    * boundaries (first arrival wins; later copies in later batches are
    * suppressed by state). The gate compares the emitted hash set —
    * per-row identity within the first batch containing a hash is
    * engine-arbitrary, the emitted set is not.
    */
  private val q120 = Q("q120_streaming_dedup",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(Long, Long, String)] =
        StreamFixtures.replayRows("q120", d) {
          Tables.events(s, d)
            .select(col("event_id"), col("ts_ms"), col("props"))
            .orderBy("ts_ms", "event_id")
            .collect().iterator
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
        }
      val mem = StreamGate.memory[(Long, Long, String)](s)
      val src = mem.toDF().toDF("event_id", "ts_ms", "props")
        .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
      val deduped = graft.operators.Dedup.streamingExact(src, "props", "ts_utc", "3650 days")
      StreamGate.toMemory(s, deduped, "append", feed(mem, inChunks(rows, 2)))
        .select(col("content_hash"))
        .orderBy("content_hash")
    },
    Some("""SELECT md5(props) AS content_hash
      FROM (SELECT DISTINCT props FROM events)
      ORDER BY content_hash"""))

  /** Streaming rolling-percentile gate — the reference's HEADLINE
    * computation (rolling 5 s windows of a latency series with exact
    * floor-index p50/p95/p99 and the ≥20-sample gate,
    * reference/src/metrics/rolling.py:100-145) executed through the
    * streaming state store: MetricsStream.latencyPercentiles (the T2
    * event-time variant) over a 4-micro-batch event-time-ordered replay
    * of the events series, 0 s watermark, append mode — sliding windows
    * that straddle micro-batch boundaries must merge their
    * ExactPercentile buffers in the state store before emission.
    *
    * The harness fixture is ~4 events/hour — far too sparse for any 5 s
    * window to clear the 20-sample gate — so the replay runs on a 4000×
    * accelerated clock (`ts_ms div 4000`, exact BIGINT division mirrored
    * in the oracle), putting ~75 events in each 5 s window: the
    * reference's own live cadence (~22 events per window at 4.4 msg/s,
    * README.md:179) at bench scale. (At sf0.001 the fixture is 10× too
    * sparse even accelerated — every window falls to the sample gate and
    * both engines agree on the empty result; the driver gates at sf0.01,
    * where 651 windows carry the hash.) One sentinel event 10 s past the
    * horizon advances the watermark past every real window's end (its
    * own windows hold 1 sample and fall to the ≥20 gate), so append mode
    * emits exactly the closed windows the batch oracle enumerates.
    *
    * Scale: the operator under test shuffles (window) partial buffers —
    * state is |active windows| × O(samples-in-window) bounded by the
    * watermark horizon; the collect is the MemoryStream replay HARNESS
    * (same caveat as q108), not the operator.
    */
  private val q121 = Q("q121_streaming_metrics",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(Long, Double)] =
        StreamFixtures.replayRows("q121", d) {
          Tables.events(s, d)
            .select(expr("ts_ms div 4000").as("tms"), col("value"), col("event_id"))
            .orderBy("tms", "event_id")
            .collect().iterator
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        }
      val maxTs = if (rows.nonEmpty) rows.last._1 else 0L
      val mem = StreamGate.memory[(Long, Double)](s)
      val src = mem.toDF().toDF("tms", "value")
        .withColumn("event_time", timestamp_millis(col("tms")))
        .withWatermark("event_time", "0 seconds")
      val report = graft.streaming.MetricsStream
        .latencyPercentiles(src, "value", col("event_time"))
      // Two-sentinel protocol, no-data batches OFF (the q153/q155 r11
      // device): sentinel 1 rides the second data chunk (it only has to
      // advance the watermark once that batch commits); sentinel 2 then
      // runs with wm = maxTs+10 s and flushes every real sliding window
      // (all end ≤ maxTs+5 s). Sentinel windows stay unemitted/filtered
      // by the ≥20-sample gate exactly as before. 6 micro-batches → 3.
      val (c1, c2) = rows.splitAt(math.max(1, (rows.size + 1) / 2))
      StreamGate.toMemory(s, report, "append",
        feed(mem, Seq(c1, c2 :+ ((maxTs + 10000L, 0.0)), Seq((maxTs + 20000L, 0.0)))))
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("p50"), col("p95"), col("p99"), col("cnt"))
        .orderBy("window_start_ms")
    },
    Some("""WITH e AS (
        SELECT epoch_ms(ts) // 4000 AS tms, value FROM events),
      wins AS (
        SELECT (tms // 1000 - t.i) * 1000 AS window_start_ms, value
        FROM e, range(5) AS t(i)),
      r AS (
        SELECT window_start_ms, value,
          row_number() OVER (PARTITION BY window_start_ms ORDER BY value) - 1 AS rn,
          COUNT(*) OVER (PARTITION BY window_start_ms) AS n
        FROM wins)
      SELECT window_start_ms,
        MAX(CASE WHEN rn = CAST(floor(0.50::DOUBLE * (n-1)) AS BIGINT) THEN value END) AS p50,
        MAX(CASE WHEN rn = CAST(floor(0.95::DOUBLE * (n-1)) AS BIGINT) THEN value END) AS p95,
        MAX(CASE WHEN rn = CAST(floor(0.99::DOUBLE * (n-1)) AS BIGINT) THEN value END) AS p99,
        CAST(COUNT(*) AS BIGINT) AS cnt
      FROM r GROUP BY window_start_ms HAVING COUNT(*) >= 20
      ORDER BY window_start_ms"""))

  /** The running-aggregate gate of q122 and q123: one Long column `name`
    * (`value` over events in event_id order) replayed in 2 chunks through
    * the complete-mode aggregate `agg`. */
  private def runningLongGate(s: SparkSession, d: String, key: String, value: Column,
      name: String)(agg: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val rows: Seq[Long] =
      StreamFixtures.replayRows(key, d) {
        Tables.events(s, d)
          .select(value.as(name), col("event_id"))
          .orderBy("event_id")
          .collect().iterator.map(_.getLong(0)).toSeq
      }
    val mem = StreamGate.memory[Long](s)
    StreamGate.toMemory(s, agg(mem.toDF().toDF(name)), "complete",
      feed(mem, inChunks(rows, 2)))
  }

  /** Streaming cumulative zero-rate gate (A4, the reference's since-start
    * zero-latency counters, reference/src/metrics/rolling.py:68-79,156-163):
    * MetricsStream.zeroRates — an UNGROUPED running aggregate — over a
    * 4-micro-batch replay in complete mode. MemoryStream feeds each row
    * exactly once, so the emitted totals are correct ONLY if the
    * aggregation state accumulates across micro-batches in the state
    * store; the complete-mode memory sink truncates per trigger, so the
    * final table is the last emission = the whole-stream counters, and
    * the batch oracle is exact equality. The replayed series is
    * floor(value) div 20 (~33 % exact zeros — a latency-bucket stand-in
    * with a meaningful zero mass, mirrored verbatim in the oracle).
    */
  private val q122 = Q("q122_streaming_zero_rates",
    (s, d) =>
      runningLongGate(s, d, "q122", expr("CAST(floor(value) AS BIGINT) div 20"), "lat")(
        graft.streaming.MetricsStream.zeroRates(_, "lat"))
        .select("total", "zeros", "zero_rate_pct"),
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS total,
      CAST(SUM(CASE WHEN CAST(floor(value) AS BIGINT) // 20 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
      CAST(SUM(CASE WHEN CAST(floor(value) AS BIGINT) // 20 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        / greatest(COUNT(*), 1) * 100.0 AS zero_rate_pct
      FROM events"""))

  /** Streaming per-key cumulative count gate (A7/A8, the reference's
    * per-symbol message counters, reference/src/metrics/rolling.py:81-84,
    * 144-145): MetricsStream.msgCounts — a KEYED running aggregate — over
    * a 4-micro-batch replay in complete mode. Same state-store
    * accumulation argument as q122, per key: a symbol whose messages
    * span several micro-batches emits its total only if the grouped
    * state merges across batches. Batch oracle = q11's per-user counts.
    */
  private val q123 = Q("q123_streaming_msg_counts",
    (s, d) =>
      runningLongGate(s, d, "q123", col("user_id"), "symbol")(
        graft.streaming.MetricsStream.msgCounts)
        .select(col("symbol").as("user_id"), col("msg_count"))
        .orderBy("user_id"),
    Some(CoreQueries.userCountsOracle))

  /** Recursive CTE (Spark 4.1's `WITH RECURSIVE`, planned as UnionLoop):
    * hierarchy walk from every customer up a synthetic reporting chain
    * (parent = custkey div 10 — a decimal-digit org chart derived from
    * the fixture, depth ≤ 5) to its single-digit root, emitting (node,
    * root, depth). Execution is the textbook distributed fixpoint: each
    * iteration is one distributed batch over the frontier (no driver
    * loop, no collect), terminating when the recursive arm is empty —
    * O(depth) rounds exactly like the q116 PageRank loop, but expressed
    * through the SQL surface and planned/de-duplicated by Catalyst.
    * DuckDB runs the identical query with `//` for integer division.
    */
  private val q128 = Q("q128_recursive_cte",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("q128_customer")
      s.sql("""WITH RECURSIVE up AS (
          SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
          FROM q128_customer WHERE c_custkey < 200
          UNION ALL
          SELECT node, cur DIV 10, depth + 1 FROM up WHERE cur >= 10)
        SELECT node, cur AS root, CAST(depth AS INT) AS depth
        FROM up WHERE cur < 10 ORDER BY node""")
    },
    Some("""WITH RECURSIVE up AS (
        SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
        FROM customer WHERE c_custkey < 200
        UNION ALL
        SELECT node, cur // 10, depth + 1 FROM up WHERE cur >= 10)
      SELECT node, cur AS root, CAST(depth AS INTEGER) AS depth
      FROM up WHERE cur < 10 ORDER BY node"""))

  /** UNPIVOT (wide → long relational reshape, `Dataset.unpivot` →
    * Catalyst Expand): per-order item metrics melted into (orderkey,
    * metric, value) triples — the standard feature-table → feature-store
    * reshape. Expand is scan-local (no shuffle beyond the one
    * aggregation); all melted metrics are integral-valued doubles, so
    * the values are exact in both engines. DuckDB mirrors with its
    * native UNPIVOT clause.
    */
  private val q129 = Q("q129_unpivot_metrics",
    (s, d) => {
      val wide = Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).cast("double").as("n_items"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          max(col("l_quantity")).cast("double").as("max_qty"))
      wide.unpivot(
          Array(col("l_orderkey")),
          Array(col("n_items"), col("sum_qty"), col("max_qty")),
          "metric", "value")
        .orderBy("l_orderkey", "metric")
    },
    Some("""WITH wide AS (
        SELECT l_orderkey,
          CAST(COUNT(*) AS DOUBLE) AS n_items,
          CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
          CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
        FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey)
      SELECT l_orderkey, metric, value
      FROM (UNPIVOT wide ON n_items, sum_qty, max_qty
            INTO NAME metric VALUE value)
      ORDER BY l_orderkey, metric"""))

  /** GROUPING SETS closure (cube q60 and rollup q19 cover the derived
    * forms; this is the explicit set list, including a set that is not
    * a rollup prefix): per-(nation, segment), per-segment, and grand
    * total in ONE pass — Catalyst's Expand replicates each input row
    * once per set before a single partial/final aggregation, so the
    * exchange ships |groups| partials and no second scan is needed.
    * GROUPING() disambiguates real values from set-placeholder NULLs
    * exactly as in q19.
    */
  private val q130 = Q("q130_grouping_sets",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("q130_customer")
      Tables.nation(s, d).createOrReplaceTempView("q130_nation")
      s.sql(s"""SELECT
          coalesce(n_name, 'ALL') AS nation,
          coalesce(c_mktsegment, 'ALL') AS segment,
          CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS INT) AS gid,
          COUNT(*) AS n_customers,
          ${O.dsumSparkSql("c_acctbal")} AS total_balance
        FROM q130_customer JOIN q130_nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name, c_mktsegment), (c_mktsegment), ())
        ORDER BY gid, nation, segment""")
    },
    Some(s"""SELECT
        coalesce(n_name, 'ALL') AS nation,
        coalesce(c_mktsegment, 'ALL') AS segment,
        CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS INTEGER) AS gid,
        COUNT(*) AS n_customers,
        ${O.dsum("c_acctbal")} AS total_balance
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY GROUPING SETS ((n_name, c_mktsegment), (c_mktsegment), ())
      ORDER BY gid, nation, segment"""))

  /** Stream-STREAM join gate — the one Structured Streaming operator
    * family not yet crossed by q108/q111/q119-q123 (which cover keyed
    * state, sessions, windows, dedup): [[graft.streaming.Joins
    * .attribution]], an event-time interval join of an impressions
    * stream against a clicks stream (even/odd split of the events
    * fixture), replayed over 4 interleaved micro-batch pairs in arrival
    * order. Pairs whose impression and click land in DIFFERENT
    * micro-batches only match if both sides buffer correctly in the
    * join state store — a batch-window implementation or dropped state
    * changes the pair set and fails the hash. The gate's watermark is
    * wider than the replay (same device as q120) so no state ages out
    * and the batch oracle enumerates the exact pair set; production
    * uses a tight watermark and the state bound documented on the
    * operator.
    */
  private val q131 = Q("q131_streaming_join",
    (s, d) => {
      val (iDf, cDf, rounds) = joinReplay(s, d, "3650 days", sentinels = 0)
      val joined = graft.streaming.Joins.attribution(iDf, cDf, "24 hours")
      StreamGate.toMemory(s, joined, "append", rounds).orderBy("imp_id", "clk_id")
    },
    Some("""SELECT i.event_id AS imp_id, c.event_id AS clk_id, i.user_id
      FROM events i JOIN events c ON i.user_id = c.user_id
        AND i.event_id % 2 = 0 AND c.event_id % 2 = 1
        AND epoch_ms(c.ts) BETWEEN epoch_ms(i.ts) AND epoch_ms(i.ts) + 86400000
      WHERE i.user_id < 50
      ORDER BY imp_id, clk_id"""))

  /** Calendar-interval RANGE frames: per-customer trailing-30-day order
    * revenue over the ACTUAL order dates (q81's numeric RANGE frame uses
    * day-integers; this is the native `RANGE BETWEEN INTERVAL` form over
    * a DATE order key — value-based frames where ROWS frames would be
    * wrong under irregular spacing). One shuffle on o_custkey; frame
    * state is O(rows inside 30 days) per customer. Sums ride the
    * decimal window route (dsumOver) for cross-engine bit-equality.
    */
  private val q132 = Q("q132_range_interval_frame",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("q132_orders")
      s.sql(s"""SELECT o_custkey, o_orderdate, o_orderkey,
          ${O.dsumSparkSqlOver("o_totalprice",
            """(PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)""")}
            AS rev_30d,
          COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)
            AS n_30d
        FROM q132_orders WHERE o_custkey < 200
        ORDER BY o_custkey, o_orderdate, o_orderkey""")
    },
    Some(s"""SELECT o_custkey, o_orderdate, o_orderkey,
        ${O.dsumOver("o_totalprice",
          """(PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)""")}
          AS rev_30d,
        CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_30d
      FROM orders WHERE o_custkey < 200
      ORDER BY o_custkey, o_orderdate, o_orderkey"""))

  /** transformWithState gate — q108's per-key staleness fold re-expressed
    * on Spark 4's StatefulProcessor API ([[graft.streaming.StalenessStream
    * .GapsProcessor]]: a named, typed ValueState[Long] per key) and run
    * under the RocksDB state store provider, which the API requires —
    * this is the production configuration for the new arbitrary-state
    * surface, promoted into the hash gate (RocksDBStateStoreSpec covers
    * the legacy-API paths). Same 4-micro-batch arrival-ordered replay and
    * the SAME DuckDB oracle as q108: both state APIs and both providers
    * must agree bit-for-bit on the aggregated gap stats. The provider
    * conf is restored after the stream stops (it is read at query start,
    * so other queries on the shared session are unaffected).
    */
  private val q133 = Q("q133_streaming_tws_staleness",
    (s, d) => stalenessGate(s, d, StreamGate.GateConf(rocksDb = true))(
      graft.streaming.StalenessStream.gapsTws(_).toDF()),
    Some(O.stalenessStats))

  private val q136Runs = new java.util.concurrent.atomic.AtomicLong()

  /** Source/sink format closure: the engine's parquet-native tables
    * round-tripped through ORC and through header CSV (write → read back
    * with explicit schema → aggregate), both read paths gated against
    * the parquet-derived oracle — a wrong type mapping, a lossy double
    * render, or a date formatting drift in EITHER format breaks the
    * hash. Doubles survive CSV because Spark writes shortest-round-trip
    * digits and the reader parses them back to the identical bits (the
    * same rule the NOTES cross-engine contract is built on). The
    * round-trip files are per-run temp dirs (KB at gate scale) — at
    * production scale both writes are distributed and the read-back
    * scans split per file exactly like the parquet path.
    */
  private val q136 = Q("q136_format_roundtrip",
    (s, d) => {
      val base = Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "l_shipdate")
      val dir = TempDirs.scratch(
        s"graft_q136_${ProcessHandle.current().pid()}_${q136Runs.incrementAndGet()}")
      val orcPath = new java.io.File(dir, "orc").getPath
      val csvPath = new java.io.File(dir, "csv").getPath
      base.write.mode("overwrite").orc(orcPath)
      base.write.mode("overwrite").option("header", "true").csv(csvPath)
      val orc = s.read.orc(orcPath)
      val csv = s.read.schema(base.schema).option("header", "true").csv(csvPath)
      def profile(df: DataFrame, fmt: String): DataFrame =
        df.agg(
          count(lit(1)).as("n_rows"),
          StableAgg.dsum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_returnflag")).as("n_flags"),
          max(col("l_shipdate")).cast("string").as("max_ship"))
          .select(lit(fmt).as("format"), col("n_rows"), col("sum_qty"),
            col("n_flags"), col("max_ship"))
      profile(csv, "csv").unionAll(profile(orc, "orc")).orderBy("format")
    },
    Some {
      def arm(fmt: String) =
        s"""SELECT '$fmt' AS format, CAST(COUNT(*) AS BIGINT) AS n_rows,
          ${O.dsum("l_quantity")} AS sum_qty,
          CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
          CAST(MAX(l_shipdate) AS VARCHAR) AS max_ship
        FROM lineitem WHERE l_orderkey < 1000"""
      s"""${arm("csv")}
      UNION ALL
      ${arm("orc")}
      ORDER BY format"""
    })

  /** Streaming LEFT OUTER stream-stream join gate — the semantically
    * hardest join mode streaming has: an unconverted impression emits
    * its null-click row ONLY once the global watermark passes
    * `i_time + horizon` (before that, a matching click could still
    * arrive), so correct results REQUIRE watermark-driven state
    * eviction — q131's infinite-watermark device cannot express this.
    * The replay uses a 0-second watermark delay on both sides, feeds 4
    * interleaved chunk pairs in event-time order, then advances BOTH
    * watermarks past every impression's horizon with two sentinel
    * rounds (q111's device; the global watermark is the MIN across
    * inputs, so both streams need the push): matched pairs stream out
    * as they join, unmatched impressions flush as null-click rows, and
    * the total must equal the batch LEFT JOIN the oracle runs.
    * Late-arrival caveat: with a 0 s delay, a click whose event time
    * precedes the already-advanced watermark would be dropped — the
    * replay feeds strictly in event-time order so nothing is late;
    * production picks the delay from observed disorder.
    */
  private val q137 = Q("q137_streaming_outer_join",
    (s, d) => {
      val (iDf, cDf, rounds) = joinReplay(s, d, "0 seconds", sentinels = 2)
      val joined = graft.streaming.Joins
        .attribution(iDf, cDf, "24 hours", joinType = "leftOuter")
      StreamGate.toMemory(s, joined, "append", rounds)
        .filter(col("user_id") >= 0)
        .orderBy("imp_id", "clk_id")
    },
    Some("""SELECT i.event_id AS imp_id, c.event_id AS clk_id, i.user_id
      FROM (SELECT * FROM events WHERE event_id % 2 = 0 AND user_id < 50) i
      LEFT JOIN (SELECT * FROM events WHERE event_id % 2 = 1) c
        ON i.user_id = c.user_id
        AND epoch_ms(c.ts) BETWEEN epoch_ms(i.ts) AND epoch_ms(i.ts) + 86400000
      ORDER BY imp_id, clk_id"""))

  /** transformWithState EVENT-TIME TIMER gate — the API surface q133's
    * ValueState fold doesn't reach: gap sessionization where the tail
    * session of every key can only close when the WATERMARK passes its
    * gap horizon, via `registerTimer`/`handleExpiredTimer`
    * ([[graft.streaming.SessionsTws]], RocksDB provider as TWS
    * requires). Mid-stream sessions close from input (a later event
    * proves the gap); tail sessions close from timers armed at
    * `end + gap` and fired by the two sentinel watermark pushes — and
    * the event/timer close paths must not double-emit when they collide
    * at a batch boundary (the processor's horizon re-check). Checked
    * against q36's session_window oracle: same sessions, counts, and
    * decimal value totals as the engine's native sessionization.
    */
  private val q138 = Q("q138_streaming_tws_sessions",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(Long, Long, Double)] =
        StreamFixtures.replayRows("q138", d) {
          Tables.events(s, d)
            .select(col("user_id"), col("ts_ms"), col("value"))
            .orderBy("ts_ms", "user_id")
            .collect().iterator
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        }
      val maxTs = if (rows.nonEmpty) rows.map(_._2).max else 0L
      val mem = StreamGate.memory[(Long, Long, Double)](s)
      val src = mem.toDF().toDF("user_id", "ts_ms", "value")
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withWatermark("event_time", "0 seconds")
      val sess = graft.streaming.SessionsTws.sessions(src)
      val sentinels = (1 to 2).map(k => Seq((-1L, maxTs + 1800000L + k * 3600000L, 0.0)))
      StreamGate.toMemory(s, sess.toDF(), "append", feed(mem, inChunks(rows, 2) ++ sentinels),
        StreamGate.GateConf(rocksDb = true))
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
          col("cnt"), col("total_value"))
        .orderBy("user_id", "session_start_ms")
    },
    Some(CoreQueries.sessionsOracle))

  /** FILE streaming source gate — every other replay gate drives
    * MemoryStream; this one drives the production file source: the
    * events fixture is re-written as four parquet files into a spool
    * directory, `readStream.parquet` discovers them with
    * `maxFilesPerTrigger=1` (four real micro-batches through file
    * discovery, schema enforcement, and exactly-once file tracking),
    * and the keyed running count accumulates across those batches in
    * complete-mode state — q123's semantics through a different source
    * implementation, same oracle. This is the 100 TB landing pattern
    * the WebSocket source's scaladoc points at: frames land in a
    * replayable spool and the engine fans out from there.
    */
  private val q139 = Q("q139_streaming_file_source",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"))
      val spool = new java.io.File(StreamGate.scratch("q139"), "spool").getPath
      (0 until 4).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(4)) === i)
          .coalesce(1).write.mode("append").parquet(spool)
      }
      val src = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(spool)
      val counts = graft.streaming.MetricsStream
        .msgCounts(src.select(col("user_id").as("symbol")))
      StreamGate.toMemory(s, counts, "complete", StreamGate.drainOnly)
        .select(col("symbol").as("user_id"), col("msg_count"))
        .orderBy("user_id")
    },
    Some(CoreQueries.userCountsOracle))

  private val q148Runs = new java.util.concurrent.atomic.AtomicLong()

  /** JSON lines source/sink round-trip (completing q136's format matrix:
    * parquet everywhere, ORC+CSV in q136, JSONL here — the interchange
    * format the reference's own sink emits, sinks/jsonl.py): write a
    * typed projection as JSONL, read it back with an explicit schema (no
    * inference — production contract), and profile both arms identically.
    * Doubles survive because Spark's JSON writer emits the shortest
    * round-trip repr (same Jackson contract PyDoubleRepr gates) and the
    * reader parses it back to the identical bit pattern; timestamps are
    * compared through an explicit UTC string render. Scale: JSONL is the
    * splittable-text landing format — a line-delimited spool fans out by
    * byte ranges exactly like the q139 file-source pattern.
    */
  private val q148 = Q("q148_json_roundtrip",
    (s, d) => {
      val base = Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate")
      val dir = TempDirs.scratch(
        s"graft_q148_${ProcessHandle.current().pid()}_${q148Runs.incrementAndGet()}")
      val jsonPath = new java.io.File(dir, "jsonl").getPath
      base.write.mode("overwrite").json(jsonPath)
      val back = s.read.schema(base.schema).json(jsonPath)
      def profile(df: DataFrame, fmt: String): DataFrame =
        df.agg(
          count(lit(1)).as("n_rows"),
          StableAgg.dsum(col("l_quantity")).as("sum_qty"),
          StableAgg.dsum(col("l_extendedprice")).as("sum_price"),
          countDistinct(col("l_returnflag")).as("n_flags"),
          max(col("l_shipdate")).cast("string").as("max_ship"))
          .select(lit(fmt).as("format"), col("n_rows"), col("sum_qty"),
            col("sum_price"), col("n_flags"), col("max_ship"))
      profile(base, "parquet").unionAll(profile(back, "jsonl")).orderBy("format")
    },
    Some {
      def arm(fmt: String) =
        s"""SELECT '$fmt' AS format, CAST(COUNT(*) AS BIGINT) AS n_rows,
          ${O.dsum("l_quantity")} AS sum_qty,
          ${O.dsum("l_extendedprice")} AS sum_price,
          CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
          CAST(MAX(l_shipdate) AS VARCHAR) AS max_ship
        FROM lineitem WHERE l_orderkey < 1000"""
      s"""${arm("jsonl")}
      UNION ALL
      ${arm("parquet")}
      ORDER BY format"""
    })

  /** Per-event_type event count and exact value total (q149, q152, q154). */
  private def eventTypeTotals(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), StableAgg.dsum(col("value")).as("total_value"))

  /** [[eventTypeTotals]] over all events: the oracle of q149, q152, q154. */
  private lazy val eventTypeTotalsOracle: String =
    s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        ${O.dsum("value")} AS total_value
      FROM events GROUP BY event_type ORDER BY event_type"""

  /** Trigger.AvailableNow gate — the batch-backfill trigger the other
    * streaming gates don't touch: the query plans its OWN micro-batches
    * from the files available at start (maxFilesPerTrigger still caps
    * each batch, so this drains the 4-file spool in 4 real batches),
    * then TERMINATES itself — no replay rounds and no drain; the gate
    * awaits natural termination. This is the production shape for
    * "catch up on the spool nightly with streaming semantics + state +
    * exactly-once file tracking, then exit": same per-key aggregation
    * state as a live stream, bounded run. Complete-mode per-event_type
    * decimal totals ride the state store across those batches and must
    * equal the batch oracle.
    */
  private val q149 = Q("q149_streaming_available_now",
    (s, d) => {
      val fix = StreamFixtures.mod4(s, d)
      val spool = new java.io.File(StreamGate.scratch("q149"), "spool")
      StreamFixtures.copyTo(fix.files, spool)
      val totals = eventTypeTotals(StreamFixtures.stream(s, fix, spool)
        .select(col("event_type"), col("value"), col("event_id")))
      val (sink, sinkName) = StreamGate.memorySink("complete")
      val query = StreamGate.start(s, totals)(
        sink(_).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      // AvailableNow terminates on its own once the spool is drained;
      // the timeout is a hang guard, not a pacing device.
      try {
        if (!query.awaitTermination(300000L))
          throw new IllegalStateException("q149: AvailableNow did not terminate")
      } finally query.stop()
      s.table(sinkName)
        .select(col("event_type"), col("n_events"), col("total_value"))
        .orderBy("event_type")
    },
    Some(eventTypeTotalsOracle))

  /** Checkpoint-recovery gate — the durability semantics no other gate
    * reaches: a streaming aggregation runs over the first half of a file
    * spool, STOPS, and a brand-new query restarts from the SAME
    * checkpoint to process the second half. The final complete-mode table
    * equals the all-data batch oracle ONLY if (a) the aggregation state
    * survived the restart through the state store checkpoint — losing it
    * halves the counts — and (b) the file-source log replays exactly-once
    * across restarts — reprocessing the first files doubles them. This is
    * T5's restart-safety (VERDICT r4) promoted from the source-offset
    * spec into the hash-gated surface. (Memory-sink recovery is legal
    * precisely for complete mode, where each trigger rebuilds the full
    * table from state.)
    */
  private val q152 = Q("q152_streaming_restart",
    (s, d) => {
      val fix = StreamFixtures.mod4(s, d)
      val dir = StreamGate.scratch("q152")
      val spool = new java.io.File(dir, "spool")
      val cp = new java.io.File(dir, "checkpoint").getPath
      def addFiles(ids: Range): Unit =
        StreamFixtures.copyTo(ids.map(fix.files), spool)
      def runHalf(): DataFrame = {
        val totals = eventTypeTotals(StreamFixtures.stream(s, fix, spool))
        val (sink, name) = StreamGate.memorySink("complete")
        StreamGate.replay(s, totals, StreamGate.drainOnly)(
          sink(_).option("checkpointLocation", cp))
        s.table(name)
      }
      addFiles(0 until 2)
      runHalf() // first run: files 0-1, then a clean stop
      addFiles(2 until 4)
      // NEW query, same checkpoint: must resume, not restart
      runHalf()
        .select(col("event_type"), col("n_events"), col("total_value"))
        .orderBy("event_type")
    },
    Some(eventTypeTotalsOracle))

  /** Late-data drop gate — the watermark semantics the other event-time
    * gates sidestep by feeding in order: batch 1 carries every ON-TIME
    * row (including the stream's max event time, so the watermark jumps
    * to the end immediately); batch 2 then delivers rows more than 2 h
    * older than that watermark, whose tumbling 1 h windows are all
    * finalized — the engine MUST drop every one of them; batch 3 is a
    * sentinel push (q111's device) that closes the final real window for
    * append emission. The oracle aggregates events EXCLUDING exactly the
    * engineered late set, so a single not-dropped (or over-dropped) row
    * hash-fails. The late set is deterministic (event_id % 5 = 0 AND
    * ts < max − 2 h), and the 2 h margin guarantees every late row's
    * window end precedes the watermark — no row straddles the drop
    * boundary.
    */
  private val q153 = Q("q153_streaming_late_drop",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(String, Long, Double, Long)] =
        StreamFixtures.replayRows("q153", d) {
          Tables.events(s, d)
            .select(col("event_type"), col("ts_ms"), col("value"), col("event_id"))
            .orderBy("ts_ms", "event_id")
            .collect().iterator
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
            .toSeq
        }
      val maxTs = rows.map(_._2).max
      val cutoff = maxTs - 7200000L
      val (late, onTime) = rows.partition { case (_, ts, _, id) =>
        id % 5 == 0 && ts < cutoff
      }
      val mem = StreamGate.memory[(String, Long, Double)](s)
      val src = mem.toDF().toDF("event_type", "ts_ms", "value")
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withWatermark("event_time", "0 seconds")
      val agg = src
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          StableAgg.dsum(col("value")).as("total_value"))
      // No-data batches OFF with a sentinel-FIRST protocol (r11). The
      // engine's two watermark uses lag differently without no-data
      // batches (measured): EVICTION in batch N sees stats through N−1,
      // but the late-INPUT FILTER in batch N sees stats through N−2 —
      // the extra hop the interleaved no-data batch used to absorb. So
      // the watermark-push sentinel gets its OWN batch BEFORE the late
      // chunk: b0 on-time → b1 sentinel (stats pipeline) → b2 late rows
      // (filter wm = b0 stats = maxTs ⇒ all dropped) + sentinel 2; b2's
      // eviction wm = b1 stats = maxTs+2h flushes every real window.
      // 5 micro-batches → 3 with identical final tables.
      //
      // Pin WHERE the drop happens (ADVICE r11): the sentinel-first
      // protocol advances the watermark before the late chunk arrives,
      // so sink absence alone can no longer distinguish the engine's
      // late-INPUT filter from trivially losing rows below an already-
      // advanced watermark. After every round, the state operator's own
      // drop counter must account for exactly the late groups fed so far
      // (none before the third round).
      // The counter ticks POST-shuffle, after partial aggregation merged
      // the batch's rows per group (verified: 1995 late rows → 1634
      // dropped = exactly the late set's distinct (1h-window, event_type)
      // groups), so the expected count is the group count, not the row
      // count — and a regression in the N−2 filter lag changes it before
      // it can touch the hash.
      val lateGroups = late.iterator
        .map { case (t, ts, _, _) => (ts / 3600000L, t) }.toSet.size.toLong
      val lateFed = Iterator(0L, 0L, lateGroups)
      def checkDrops(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
        val dropped = q.recentProgress.iterator
          .flatMap(_.stateOperators.iterator)
          .map(_.numRowsDroppedByWatermark).sum
        val expected = lateFed.next()
        if (dropped != expected)
          throw new IllegalStateException(
            s"late-input filter dropped $dropped groups, expected $expected; engineered " +
              s"late set = ${late.size} rows in $lateGroups groups")
      }
      val rounds = Seq(onTime.map(r => (r._1, r._2, r._3)),
        Seq(("zz_sentinel", maxTs + 7200000L, 0.0d)),
        late.map(r => (r._1, r._2, r._3)) :+ (("zz_sentinel", maxTs + 14400000L, 0.0d)))
      StreamGate.toMemory(s, agg, "append", feed(mem, rounds), afterRound = checkDrops)
        .filter(col("event_type") =!= "zz_sentinel")
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("cnt"), col("total_value"))
        .orderBy("window_start_ms", "event_type")
    },
    Some(s"""WITH c AS (SELECT MAX(epoch_ms(ts)) - 7200000 AS cutoff FROM events),
      e AS (SELECT event_type, epoch_ms(ts) AS ms, value
        FROM events, c
        WHERE NOT (event_id % 5 = 0 AND epoch_ms(ts) < c.cutoff))
      SELECT (ms // 3600000) * 3600000 AS window_start_ms, event_type,
        CAST(COUNT(*) AS BIGINT) AS cnt,
        ${O.dsum("value")} AS total_value
      FROM e GROUP BY window_start_ms, event_type
      ORDER BY window_start_ms, event_type"""))

  /** foreachBatch sink gate with idempotent, batchId-keyed writes — the
    * escape hatch every production pipeline ends up needing for sinks
    * with no native connector. The contract under test: foreachBatch
    * hands (batchDF, batchId) exactly once per micro-batch in order, and
    * the IDEMPOTENT write discipline (each batch lands in its own
    * `batch=<id>` directory, overwritten on retry) makes reruns safe —
    * the gate literally re-writes batch 0 mid-stream to prove a replay
    * cannot duplicate rows. Downstream reads the union of batch dirs and
    * must reproduce the whole-input oracle exactly. This is K7's fan-out
    * surface driven through the API (PipelineSoakSpec covers multi-query
    * isolation; this gates the per-batch handoff itself).
    */
  private val q154 = Q("q154_foreach_batch_sink",
    (s, d) => {
      import s.implicits._
      val outRoot = new java.io.File(StreamGate.scratch("q154"), "out").getPath
      val rows: Seq[(Long, String, Double)] =
        StreamFixtures.replayRows("q154", d) {
          Tables.events(s, d)
            .select(col("event_id"), col("event_type"), col("value"))
            .orderBy("event_id")
            .collect().iterator
            .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        }
      val mem = StreamGate.memory[(Long, String, Double)](s)
      val src = mem.toDF().toDF("event_id", "event_type", "value")
      // Batch 0's rows are materialized INSIDE the foreachBatch callback
      // (the only scope where the batch DF is contractually valid); the
      // retry below replays the rewrite from that copy, never from the
      // expired DF reference.
      @volatile var firstRows: Array[(Long, String, Double)] = Array.empty
      StreamGate.replay(s, src, feed(mem, inChunks(rows, 2))) {
        _.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          if (id == 0) firstRows = batch.collect().map(r =>
            (r.getLong(0), r.getString(1), r.getDouble(2)))
          batch.write.mode("overwrite").parquet(s"$outRoot/batch=$id")
        }.outputMode("append")
      }
      // simulate a retry of batch 0: the idempotent overwrite must leave
      // the directory's contents identical, not append a second copy
      if (firstRows.nonEmpty)
        firstRows.toSeq.toDF("event_id", "event_type", "value")
          .write.mode("overwrite").parquet(s"$outRoot/batch=0")
      eventTypeTotals(s.read.parquet(outRoot)).orderBy("event_type")
    },
    Some(eventTypeTotalsOracle))

  /** Chained stateful aggregations in ONE streaming query (Spark 3.4+
    * capability gate): a 15-minute event-time window count per event_type
    * feeds a SECOND event-time aggregation rolling those windows up to
    * the hour — two stateful operators back to back, where the upstream
    * agg's emission (on watermark close) becomes the downstream agg's
    * input event (keyed by its window end). Pre-3.4 engines force an
    * intermediate sink + second query for this shape; the gate proves the
    * single-query pipeline emits exactly the batch twin's rollup. Sparse
    * fixture is fine here — correctness is about the state handoff, and
    * the sentinel push closes both tiers for append emission.
    */
  private val q155 = Q("q155_streaming_chained_aggs",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(String, Long)] =
        StreamFixtures.replayRows("q155", d) {
          Tables.events(s, d)
            .select(col("event_type"), col("ts_ms"), col("event_id"))
            .orderBy("ts_ms", "event_id")
            .collect().iterator
            .map(r => (r.getString(0), r.getLong(1))).toSeq
        }
      val maxTs = rows.map(_._2).max
      // 8 input partitions: a single-partition MemoryStream evaluates the
      // whole 50k-row batch on ONE task; the gate's aggregates are
      // partition-order-invariant, so splitting the replay block across
      // tasks is pure parallelism (r11 A/B: data batches ~1.1 s → ~0.4 s).
      val mem = StreamGate.memory[(String, Long)](s, Some(8))
      val src = mem.toDF().toDF("event_type", "ts_ms")
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withWatermark("event_time", "0 seconds")
      val quarter = src
        .groupBy(window(col("event_time"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("q_cnt"))
      val hourly = quarter
        .groupBy(window(col("window"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_quarters"), sum(col("q_cnt")).as("n_events"))
      // Two-sentinel protocol, no-data batches OFF (r11, the q153 device):
      // the first sentinel rides the SECOND data chunk's batch (it only
      // has to advance the watermark past both tiers' final windows once
      // that batch commits), and a second sentinel batch then runs with
      // wm = maxTs+2h, flushing quarter→hourly→sink in one pass. The
      // cross-batch state-merge the gate exists to prove is untouched —
      // the two data chunks still arrive in separate batches. 6
      // micro-batches → 3.
      val (c1, c2) = rows.splitAt(math.max(1, (rows.size + 1) / 2))
      StreamGate.toMemory(s, hourly, "append", feed(mem,
        Seq(c1, c2 :+ (("zz_sentinel", maxTs + 7200000L)), Seq(("zz_sentinel", maxTs + 14400000L)))))
        .filter(col("event_type") =!= "zz_sentinel")
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n_quarters"), col("n_events"))
        .orderBy("window_start_ms", "event_type")
    },
    Some("""WITH q AS (SELECT event_type,
          (epoch_ms(ts) // 900000) * 900000 AS qs,
          COUNT(*) AS q_cnt
        FROM events GROUP BY event_type, qs)
      SELECT (qs // 3600000) * 3600000 AS window_start_ms, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_quarters,
        CAST(SUM(q_cnt) AS BIGINT) AS n_events
      FROM q GROUP BY window_start_ms, event_type
      ORDER BY window_start_ms, event_type"""))

  /** Higher-order-function closure over array columns: transform / filter /
    * exists / aggregate (left fold) / zip_with / slice / sort, all evaluated
    * INSIDE whole-stage codegen against the embeddings vectors — the
    * column-functional surface a feature-engineering pipeline leans on
    * (vector norms, clipping counts, top-k component mass) without ever
    * exploding the array to rows. Scale: scan-local per-row arithmetic,
    * zero shuffles before the gate's orderBy; at 100 TB this runs at scan
    * speed like q28-q31. Float elements are cast to double BEFORE any
    * arithmetic (both engines then fold identical doubles left-to-right —
    * the q26 duckCos device); the descending sort for top-3 mass is
    * order-insensitive to ties because only the SUM of the slice is kept.
    */
  private val q144 = Q("q144_hof_vector_ops",
    (s, d) => {
      val e = col("embedding")
      val asD = (c: org.apache.spark.sql.Column) => c.cast("double")
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(e).as("dim"),
          size(filter(e, x => x > lit(0.0f))).cast("long").as("n_pos"),
          exists(e, x => abs(x) > lit(2.0f)).as("has_big"),
          sqrt(aggregate(e, lit(0.0d), (acc, x) => acc + asD(x) * asD(x)))
            .as("l2_norm"),
          aggregate(zip_with(e, reverse(e), (a, b) => asD(a) * asD(b)),
            lit(0.0d), (acc, x) => acc + x).as("rev_dot"),
          asD(array_max(e)).as("max_val"),
          aggregate(slice(sort_array(e, asc = false), 1, 3),
            lit(0.0d), (acc, x) => acc + asD(x)).as("top3_sum"))
        .orderBy("vec_id")
    },
    Some("""WITH t AS (SELECT vec_id, embedding AS e FROM embeddings)
      SELECT vec_id,
        CAST(len(e) AS INTEGER) AS dim,
        CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_pos,
        len(list_filter(e, x -> abs(x) > 2)) > 0 AS has_big,
        sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          (acc, v) -> acc + v)) AS l2_norm,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, len(e)+1),
            i -> CAST(e[i] AS DOUBLE) * CAST(e[len(e)-i+1] AS DOUBLE))),
          (acc, v) -> acc + v) AS rev_dot,
        CAST(list_max(e) AS DOUBLE) AS max_val,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_sort(e, 'DESC')[1:3], x -> CAST(x AS DOUBLE))),
          (acc, v) -> acc + v) AS top3_sum
      FROM t ORDER BY vec_id"""))

  /** Update-output-mode gate — the third (and previously ungated) sink
    * mode next to append (q153 …) and complete (q122/q123 …): a keyed
    * aggregate in update mode emits, per micro-batch, ONLY the keys that
    * changed in that batch. The memory sink accumulates every emission,
    * so the sink table is the full update LOG: per key, the final
    * aggregate is the row with the largest count (counts are monotone)
    * and the number of log rows IS the number of batches that touched
    * the key — which the oracle recomputes from the deterministic
    * 3-chunk replay split. A broken update mode (complete re-emitting
    * everything, or append suppressing changes) hash-fails on
    * n_emissions.
    *
    * Scale: update mode is the production choice for high-cardinality
    * keyed state pushed to a KV store — per batch the sink receives
    * O(changed keys), never O(|keys|).
    */
  private val q235 = Q("q235_streaming_update_mode",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(Long, Long)] =
        StreamFixtures.replayRows("q235", d) {
          Tables.events(s, d)
            .filter(col("user_id") < 40)
            .select(col("user_id"), col("event_id")).orderBy("event_id")
            .collect().iterator.map(r => (r.getLong(0), r.getLong(1))).toSeq
        }
      val mem = StreamGate.memory[(Long, Long)](s)
      val counts = mem.toDF().toDF("user_id", "event_id")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      StreamGate.toMemory(s, counts, "update", feed(mem, inChunks(rows, 3)))
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("id_sum"))).as("fin"),
          count(lit(1)).as("n_emissions"))
        .select(col("user_id"), col("fin.n_events").as("n_events"),
          col("fin.id_sum").as("id_sum"), col("n_emissions"))
        .orderBy("user_id")
    },
    Some("""WITH f AS (SELECT user_id, event_id,
          row_number() OVER (ORDER BY event_id) AS rn,
          COUNT(*) OVER () AS n
        FROM events WHERE user_id < 40),
      c AS (SELECT user_id, event_id,
          (rn - 1) // ((n + 2) // 3) AS chunk FROM f)
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(event_id) AS BIGINT) AS id_sum,
        CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_emissions
      FROM c GROUP BY user_id ORDER BY user_id"""))

  /** Stream-stream FULL OUTER attribution join — completes the
    * stream-join output-type matrix (inner q131, left outer q137):
    * matched (impression, click) pairs plus unconverted impressions AND
    * orphan clicks, each null side emitted exactly once, only after the
    * global watermark proves no future match can arrive. The same
    * two-sentinel watermark-advance protocol as q137 forces both flush
    * paths deterministically; the batch FULL JOIN oracle must
    * hash-match, so a missing or duplicated orphan emission fails.
    *
    * Scale: identical state bound to q137 — both sides buffer only
    * inside the watermark-delayed horizon window; the orphan-click
    * flush adds no state, it reuses the click buffer's expiry scan.
    */
  private val q236 = Q("q236_streaming_full_outer",
    (s, d) => {
      val (iDf, cDf, rounds) = joinReplay(s, d, "0 seconds", sentinels = 2)
      val joined = graft.streaming.Joins
        .attribution(iDf, cDf, "24 hours", joinType = "fullOuter")
      StreamGate.toMemory(s, joined, "append", rounds)
        .filter(col("user_id") >= 0)
        .orderBy("imp_id", "clk_id")
    },
    Some("""SELECT i.event_id AS imp_id, c.event_id AS clk_id,
        COALESCE(i.user_id, c.user_id) AS user_id
      FROM (SELECT * FROM events WHERE event_id % 2 = 0 AND user_id < 50) i
      FULL JOIN (SELECT * FROM events WHERE event_id % 2 = 1 AND user_id < 50) c
        ON i.user_id = c.user_id
        AND epoch_ms(c.ts) BETWEEN epoch_ms(i.ts) AND epoch_ms(i.ts) + 86400000
      ORDER BY imp_id, clk_id"""))

  /** Streaming observable metrics — q246's `observe` under Structured
    * Streaming, where the metrics surface PER MICRO-BATCH in each
    * `StreamingQueryProgress.observedMetrics`: a 3-chunk replay of the
    * events slice is counted and QC'd (rows, high-value rows, value sum
    * on the decimal route) by an `observe` node on the RAW stream while
    * the query itself just passes rows through to the sink. The gate
    * emits one row per micro-batch from the progress objects and the
    * oracle reconstructs the chunking arithmetic — a lost batch,
    * double-fired observation, or metrics computed post-filter all
    * hash-mismatch.
    *
    * Scale: per-batch QC without a second aggregation stream — the
    * observe node folds map-side inside the batch's own tasks; this is
    * how a production ingest reports per-trigger row/error counts with
    * zero extra passes.
    */
  private val q256 = Q("q256_streaming_observe",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(Long, Long, Double)] =
        StreamFixtures.replayRows("q256", d) {
          Tables.events(s, d)
            .filter(col("user_id") < 40)
            .select(col("user_id"), col("event_id"), col("value"))
            .orderBy("event_id")
            .collect().iterator.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        }
      val mem = StreamGate.memory[(Long, Long, Double)](s)
      val observed = mem.toDF().toDF("user_id", "event_id", "value")
        .observe("batch_qc",
          count(lit(1)).as("n_rows"),
          sum(when(col("value") > 50.0d, 1L).otherwise(0L)).as("n_high"),
          sum(col("value").cast("decimal(38,6)")).as("dval"))
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Double)]
      def record(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
        val om = q.lastProgress.observedMetrics.get("batch_qc")
        if (om == null) throw new IllegalStateException(
          s"micro-batch ${perBatch.size} carried no observed metrics")
        perBatch += ((perBatch.size, om.getAs[Long]("n_rows"),
          om.getAs[Long]("n_high"),
          om.getAs[java.math.BigDecimal]("dval").doubleValue()))
      }
      val sunk = StreamGate.toMemory(s, observed.select("user_id", "event_id"), "append",
        feed(mem, inChunks(rows, 3)), afterRound = record).count()
      if (sunk != rows.size) throw new IllegalStateException(
        s"sink saw $sunk rows, stream carried ${rows.size}")
      s.createDataFrame(perBatch.toSeq)
        .toDF("chunk", "n_rows", "n_high", "value_sum")
        .orderBy("chunk")
    },
    Some(s"""WITH f AS (SELECT event_id, value,
          row_number() OVER (ORDER BY event_id) AS rn,
          COUNT(*) OVER () AS n
        FROM events WHERE user_id < 40),
      c AS (SELECT event_id, value,
          CAST((rn - 1) // ((n + 2) // 3) AS INTEGER) AS chunk FROM f)
      SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        ${O.dsum("value")} AS value_sum
      FROM c GROUP BY chunk ORDER BY chunk"""))

  /** Interval union (gaps-and-islands): total COVERED time per user over
    * overlapping activity intervals — the classic de-overlap that naive
    * duration sums double-count (billing, engagement, GPU-hour
    * accounting). Islands form where an interval starts after the
    * running max of all previous ends (window ordered by the tie-free
    * (start, event_id) key); per-island coverage is max(end)−min(start).
    * Every quantity is exact 64-bit millisecond arithmetic.
    *
    * Scale: one user-keyed exchange feeds both windows and both
    * aggregations; per-row state is a running max — the sweep-line in
    * SQL form, no self-join, no explode of the time axis.
    */
  private val q253 = Q("q253_interval_union",
    (s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"), col("event_id"),
        col("ts_ms").as("st"),
        (col("ts_ms") + (pmod(col("event_id"), lit(300)) + 60) * 1000L).as("en"))
      val order = Window.partitionBy("user_id").orderBy("st", "event_id")
      val marked = iv
        .withColumn("prev_max_en",
          max("en").over(order.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1L)
            .otherwise(0L))
        .withColumn("island",
          sum("new_island").over(order.rowsBetween(Window.unboundedPreceding, 0)))
      marked.groupBy("user_id", "island")
        .agg(count(lit(1)).as("n_iv"), min("st").as("ist"), max("en").as("ien"),
          sum(col("en") - col("st")).as("raw"))
        .groupBy("user_id")
        .agg(sum(col("n_iv")).as("n_intervals"),
          count(lit(1)).as("n_islands"),
          sum(col("raw")).as("raw_ms"),
          sum(col("ien") - col("ist")).as("covered_ms"))
        .withColumn("overlap_ms", col("raw_ms") - col("covered_ms"))
        .orderBy("user_id")
    },
    Some("""WITH iv AS (SELECT user_id, event_id, epoch_ms(ts) AS st,
          epoch_ms(ts) + ((event_id % 300) + 60) * 1000 AS en
        FROM events),
      m AS (SELECT user_id, event_id, st, en,
          MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_en
        FROM iv),
      f AS (SELECT user_id, st, en,
          CASE WHEN prev_max_en IS NULL OR st > prev_max_en
            THEN 1 ELSE 0 END AS new_island,
          event_id
        FROM m),
      isl AS (SELECT user_id, st, en,
          SUM(new_island) OVER (PARTITION BY user_id ORDER BY st, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM f),
      g AS (SELECT user_id, island, COUNT(*) AS n_iv,
          MIN(st) AS ist, MAX(en) AS ien, SUM(en - st) AS raw
        FROM isl GROUP BY 1, 2)
      SELECT user_id, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
        CAST(COUNT(*) AS BIGINT) AS n_islands,
        CAST(SUM(raw) AS BIGINT) AS raw_ms,
        CAST(SUM(ien - ist) AS BIGINT) AS covered_ms,
        CAST(SUM(raw) - SUM(ien - ist) AS BIGINT) AS overlap_ms
      FROM g GROUP BY user_id ORDER BY user_id"""))

  /** Semi-structured VARIANT processing (Spark 4's `parse_json` /
    * `variant_get` / `try_variant_get` — the open-ended-JSON path that
    * needs NO up-front schema, unlike q18's `from_json`): each event's
    * props payload is wrapped into a nested document with a
    * variable-length tag array, parsed ONCE to a variant, and fields are
    * extracted by path — including an out-of-range array index that
    * `try_variant_get` must null rather than throw. The double field
    * round-trips JSON text bit-exactly (shortest-round-trip rendering on
    * both engines), so even the decimal-route sum hash-matches.
    *
    * Scale: variant is the 100 TB answer to schema-drift ingestion —
    * parse once into a binary-encoded tree, push extraction into the
    * scan, never re-parse text per query; this gate pins the extraction
    * semantics the shredded columns must reproduce.
    */
  private val q259 = Q("q259_variant_extract",
    (s, d) => {
      val doc = concat(lit("{\"id\": "), col("event_id"),
        lit(", \"tags\": [\"t0\""),
        when(pmod(col("event_id"), lit(3)) >= 1, lit(", \"t1\"")).otherwise(lit("")),
        when(pmod(col("event_id"), lit(3)) === 2, lit(", \"t2\"")).otherwise(lit("")),
        lit("], \"m\": {\"v\": "), col("value"),
        lit(", \"props\": "), col("props"), lit("}}"))
      Tables.fanOut(Tables.events(s, d))
        .select(col("event_type"), parse_json(doc).as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.id', 'bigint')").as("id"),
          expr("variant_get(v, '$.m.v', 'double')").as("val"),
          expr("variant_get(v, '$.m.props.k', 'bigint')").as("k"),
          expr("try_variant_get(v, '$.tags[1]', 'string')").as("t1"),
          expr("try_variant_get(v, '$.tags[2]', 'string')").as("t2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("id_sum"),
          sum(col("k")).as("k_sum"),
          StableAgg.dsum(col("val")).as("val_sum"),
          sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("n_t1"),
          sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n_t2"))
        .orderBy("event_type")
    },
    Some(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(event_id) AS BIGINT) AS id_sum,
        CAST(SUM(CAST(props->>'$$.k' AS BIGINT)) AS BIGINT) AS k_sum,
        ${O.dsum("value")} AS val_sum,
        CAST(SUM(CASE WHEN event_id % 3 >= 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_t1,
        CAST(SUM(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_t2
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** try_* dirty-data cleanup (`try_cast`, `try_divide`) — the ingestion
    * hygiene pass under ANSI semantics, where a plain CAST of 'N/A'
    * ABORTS the job: a synthesized dirty column cycles clean digits,
    * whitespace-padded digits, alpha garbage, empty string and NULL;
    * `try_cast` must recover exactly the two parseable shapes, and
    * `try_divide` must null the cyclic zero denominators instead of
    * raising. The oracle computes the EXPECTED cleanup from the cycle
    * arithmetic, so any drift in Spark's try semantics (trim behavior,
    * empty-string handling, zero-division) fails the hash.
    *
    * Scale: at 100 TB the difference between `cast` and `try_cast` is a
    * 6-hour job dying at hour 5 on one malformed row vs a counted,
    * quarantined null — this is the contract every bronze→silver layer
    * runs on.
    */
  private val q260 = Q("q260_try_cast_cleanup",
    (s, d) => {
      val k = expr("variant_get(parse_json(props), '$.k', 'bigint')")
      val dirty = when(pmod(col("event_id"), lit(5)) === 0, col("k0").cast("string"))
        .when(pmod(col("event_id"), lit(5)) === 1,
          concat(lit("  "), col("k0").cast("string"), lit(" ")))
        .when(pmod(col("event_id"), lit(5)) === 2, lit("N/A"))
        .when(pmod(col("event_id"), lit(5)) === 3, lit(""))
      Tables.fanOut(Tables.events(s, d))
        .withColumn("k0", k)
        .withColumn("dirty", dirty)
        .withColumn("parsed", expr("try_cast(dirty AS BIGINT)"))
        .withColumn("denom", pmod(col("event_id"), lit(7)))
        .withColumn("ratio", expr("try_divide(value, denom)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("parsed").isNotNull, 1L).otherwise(0L)).as("n_parsed"),
          sum(col("parsed")).as("parsed_sum"),
          sum(when(col("ratio").isNull, 1L).otherwise(0L)).as("n_div_null"),
          StableAgg.dsum(coalesce(col("ratio"), lit(0.0d)), 12).as("ratio_sum"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type, event_id, value,
          CAST(props->>'$$.k' AS BIGINT) AS k0 FROM events)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN event_id % 5 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT)
          AS n_parsed,
        CAST(SUM(CASE WHEN event_id % 5 IN (0, 1) THEN k0 END) AS BIGINT)
          AS parsed_sum,
        CAST(SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_div_null,
        ${O.dsum(
          "CASE WHEN event_id % 7 = 0 THEN 0.0 " +
            "ELSE value / CAST(event_id % 7 AS DOUBLE) END", 12)} AS ratio_sum
      FROM e GROUP BY event_type ORDER BY event_type"""))

  /** Seasonal-naive forecast backtest: tomorrow looks like the same
    * weekday last week (forecast(d) = count(d−7)), scored by MAE and
    * mean bias per event family — the baseline every demand/traffic
    * forecasting system must beat, and the shape of a backtest harness
    * as a relational query: self-join the daily aggregate to its lagged
    * twin, exact integer errors, one division per final metric.
    *
    * Scale: daily aggregates then a calendar-bounded self-join — the
    * fact table is touched once; the backtest joins tables whose size is
    * days × keys regardless of event volume.
    */
  private val q261 = Q("q261_seasonal_backtest",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
        .agg(count(lit(1)).as("c"))
      val fc = daily.select(col("event_type").as("et2"),
        (col("day") + 7).as("fday"), col("c").as("f"))
      daily.join(fc, col("event_type") === col("et2") && col("day") === col("fday"))
        .select(col("event_type"), col("c"), col("f"),
          abs(col("c") - col("f")).as("ae"), (col("c") - col("f")).as("err"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(col("ae")).as("abs_err_sum"),
          (sum(col("ae")).cast("double") / count(lit(1)).cast("double")).as("mae"),
          (sum(col("err")).cast("double") / count(lit(1)).cast("double")).as("mean_bias"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
          COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      j AS (SELECT a.event_type, a.c, b.c AS f,
          abs(a.c - b.c) AS ae, a.c - b.c AS err
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day = b.day + 7)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        CAST(SUM(ae) AS BIGINT) AS abs_err_sum,
        CAST(SUM(ae) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
        CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_bias
      FROM j GROUP BY event_type ORDER BY event_type"""))

  /** First/last-touch conversion attribution — the q92 funnel's companion
    * analytics shape: for every user whose journey reaches a conversion
    * (first `purchase`), credit the FIRST touchpoint of the journey and
    * the LAST touchpoint before the conversion, and report credits per
    * touchpoint type. Event order rides a zero-padded (ts_ms, event_id)
    * string key (the >63-bit composite-ordering device from the
    * determinism rules — 13+10 digits outgrows a packed BIGINT), so
    * "first purchase" and "latest touch before it" are plain MIN /
    * min_by / max_by aggregates with identical lexicographic semantics
    * in both engines; ties are impossible (event_id is unique). Users
    * who convert on their very first event have an empty journey and
    * earn no credit.
    *
    * Scale: NO window — a windowed row_number would sort every user's
    * whole history (twice, since the conversion subquery can't share the
    * window), while the min_by formulation is three partial/final
    * aggregates that all combine map-side, plus one join against the
    * |converting users| table (AQE broadcasts it when small). The final
    * credit census is |event types|. No self-join, no per-user collect,
    * no sort anywhere.
    */
  private val q309 = Q("q309_touch_attribution",
    (s, d) => {
      val key = concat(lpad(col("ts_ms").cast("string"), 13, "0"),
        lpad(col("event_id").cast("string"), 10, "0"))
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), key.as("k"))
      val conv = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("k").as("conv_k"))
      val journey = e.join(conv, "user_id").filter(col("k") < col("conv_k"))
      val touches = journey.groupBy("user_id")
        .agg(expr("min_by(event_type, k)").as("ft"),
          expr("max_by(event_type, k)").as("lt"))
      // one explode + one aggregate for both censuses — a first/last
      // census pair via separate groupBys would duplicate the whole
      // upstream (scan, conv join, touch aggregate) under each branch
      touches
        .select(explode(array(
          struct(col("ft").as("event_type"), lit(1L).as("is_first")),
          struct(col("lt").as("event_type"), lit(0L).as("is_first"))))
          .as("t"))
        .groupBy(col("t.event_type").as("event_type"))
        .agg(sum(col("t.is_first")).as("n_first_touch"),
          sum(lit(1L) - col("t.is_first")).as("n_last_touch"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT user_id, event_type,
          lpad(CAST(epoch_ms(ts) AS VARCHAR), 13, '0')
            || lpad(CAST(event_id AS VARCHAR), 10, '0') AS k
        FROM events),
      c AS (SELECT user_id, MIN(k) AS conv_k FROM e
        WHERE event_type = 'purchase' GROUP BY 1),
      j AS (SELECT e.user_id, e.event_type, e.k FROM e
        JOIN c ON e.user_id = c.user_id AND e.k < c.conv_k),
      t AS (SELECT user_id, arg_min(event_type, k) AS ft,
          arg_max(event_type, k) AS lt FROM j GROUP BY 1),
      t2 AS (SELECT ft AS event_type, 1 AS is_first FROM t
        UNION ALL SELECT lt AS event_type, 0 AS is_first FROM t)
      SELECT event_type, CAST(SUM(is_first) AS BIGINT) AS n_first_touch,
        CAST(SUM(1 - is_first) AS BIGINT) AS n_last_touch
      FROM t2 GROUP BY event_type ORDER BY event_type"""))

  override val all: Seq[Q] =
    Seq(q89, q90, q91, q92, q93, q94, q95, q96, q97, q98, q99, q100,
      q101, q102, q103, q104, q105, q106, q108, q109, q110, q111, q113, q116,
      q117, q118, q119, q120, q121, q122, q123, q128, q129, q130, q131, q132,
      q133, q136, q137, q138, q139, q144, q148, q149, q152, q153, q154, q155,
      q235, q236, q253, q256, q259, q260, q261, q309)
}
