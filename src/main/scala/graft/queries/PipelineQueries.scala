package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{OracleSql, Tables}
import graft.functions.StableAgg
import graft.operators.{Dedup, Derived, Normalizer, Similarity, TextAnalysis}

/** Round-4 additions: reference console-line byte parity (K2/D6 with
  * CPython fixed-rounding), cube aggregation, curriculum binning,
  * bloom-filter decontamination, Z-order layout keys, relational set ops,
  * and the quantizer-build stats view.
  */
object PipelineQueries extends Registry {

  /** The shared console-line latency tail in DuckDB SQL: printf's
    * fmt-based fixed formatting is ties-to-even over the exact binary
    * value — the identical digits CPython f-strings produce, which is what
    * [[graft.functions.PyFormatFixed]] reproduces on the Spark side.
    */
  private def duckLatTail(latMs: String, decNs: String, procNs: String): String =
    s"' | Ex→Recv=' || CAST($latMs AS VARCHAR) || 'ms Recv→Decode=' || " +
      s"printf('%.3f', ($decNs) / 1000.0::DOUBLE) || 'us Decode→Proc=' || " +
      s"printf('%.3f', ($procNs) / 1000.0::DOUBLE) || 'us'"

  /** K2/D6 byte parity, book shape: the reference's stdout one-liner
    * (reference/src/sinks/stdout.py:22-26) rebuilt from the full
    * normalizer output — every byte, including the f-string fixed
    * rounding on dyadic midpoints, must match the oracle's printf.
    */
  private val q39 = Q("q39_console_books",
    (s, d) => {
      val norm = Normalizer.normalize(NormalizerQueries.framedBooks(s, d),
        passthrough = Seq("src_id"))
      Derived.withLatencies(norm)
        .select(col("src_id"), Derived.consoleLine.as("line"))
        .orderBy("src_id")
    },
    Some(s"""SELECT (l_orderkey * 10 + l_linenumber) AS src_id,
        'SYM-' || CAST(l_partkey % 10 AS VARCHAR)
        || ' | bid=' || printf('%.2f', l_extendedprice)
        || ' ask=' || printf('%.2f', l_extendedprice + 1.0::DOUBLE)
        || ' spread=' || printf('%.2f', (l_extendedprice + 1.0::DOUBLE) - l_extendedprice)
        || ${duckLatTail("l_orderkey % 500", "40000", "60000")} AS line
      FROM lineitem
      WHERE l_orderkey % 17 <> 0 AND l_orderkey % 11 <> 0 AND l_orderkey % 13 <> 0
      ORDER BY src_id"""))

  /** K2/D6 byte parity, trade shape (stdout.py:27-32) — including the
    * `%.6f` sizes whose quarter-unit values (x.25) are exactly the dyadic
    * class where Java HALF_UP formatting would diverge.
    */
  private val q59 = Q("q59_console_trades",
    (s, d) => {
      val norm = Normalizer.normalize(NormalizerQueries.framedTrades(s, d),
        passthrough = Seq("src_id"))
      Derived.withLatencies(norm)
        .select(col("src_id"), col("ts_exchange_ms"), Derived.consoleLine.as("line"))
        .orderBy("src_id", "ts_exchange_ms")
    },
    Some {
      val tail1 = duckLatTail("5", "1", "2 - 1")
      s"""WITH ${NormalizerQueries.duckTapeBase}
      SELECT src_id, ship_ms AS ts_exchange_ms,
        symbol || ' | trade '
          || (CASE WHEN l_linenumber % 2 = 0 THEN 'buy' ELSE 'sell' END)
          || ' price=' || printf('%.2f', px)
          || ' size=' || printf('%.6f', qty)
          || $tail1 AS line
      FROM base
      UNION ALL
      SELECT src_id, ship_ms + 1,
        symbol || ' | trade '
          || (CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END)
          || ' price=' || printf('%.2f', px + 2.5::DOUBLE)
          || ' size=' || printf('%.6f', qty + 0.25::DOUBLE)
          || ${duckLatTail("4", "1", "2 - 1")} AS line
      FROM base WHERE l_suppkey % 4 <> 0
      ORDER BY src_id, ts_exchange_ms"""
    })

  /** CUBE aggregation: all 2^2 grouping sets of (status, priority) in one
    * pass — Spark expands the sets map-side, so it stays one shuffle by
    * the grouping-set-tagged key (no N-pass re-aggregation at scale).
    */
  private val q60 = Q("q60_cube_sales",
    (s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          StableAgg.dsum(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue"))
        .orderBy("status", "priority")
    },
    Some(s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        coalesce(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n_orders,
        ${OracleSql.dsum("o_totalprice")} AS revenue
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""))

  /** Curriculum binning: per-source ntile deciles over document length —
    * the standard difficulty-bucketing step before curriculum sampling.
    * PARTITION BY source keeps the sort parallel across stream keys (no
    * global single-partition window at scale).
    */
  private val q61 = Q("q61_ntile_curriculum",
    (s, d) => {
      val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("bucket", ntile(10).over(w))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("source", "bucket")
    },
    Some("""WITH b AS (SELECT source, doc_id, n_chars,
        CAST(ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
          AS INTEGER) AS bucket
        FROM documents)
      SELECT source, bucket, COUNT(*) AS n_docs,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM b GROUP BY source, bucket ORDER BY source, bucket"""))

  /** Bloom-filter decontamination — the sketch counterpart of q47's exact
    * n-gram overlap: benchmark shingles populate an m=4096-bit / k=4
    * filter (positions from md5 slices), and a candidate shingle "hits"
    * iff all 4 of its positions are set. At 100 TB the filter is a fixed
    * 512-byte broadcast no matter how large the benchmark set grows,
    * where q47's exact shingle broadcast scales with the benchmark — the
    * price is a deterministic false-positive rate, visible here as
    * hit_frac ≥ the exact overlap_frac.
    */
  private val q62 = Q("q62_bloom_decontaminate",
    (s, d) => {
      val docs = TrainingDataQueries.shingled(
        Tables.fanOut(Tables.documents(s, d)))
      // Index build (like the IVF quantizer literals): the filter is pure
      // fixed-size data — Dedup.bloomProbe4096 collects the set bit
      // positions once and ships the m-entry bit table as ONE plan
      // literal, so membership probing is a per-row O(k) lookup with NO
      // join and NO per-shingle aggregation. (A production filter packs
      // this into m/8 bytes; the flat 0/1 table keeps the probe pure
      // codegen'd `element_at`.) Geometry is single-owner with the
      // q316/q318 cascade.
      val hit = Dedup.bloomProbe4096(
        docs.filter(col("doc_id") < 10).select(explode(col("sh")).as("bsh")),
        col("sg"))
      docs
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
          explode(col("sh")).as("sg"))
        // hit in a projection (not inside the agg) so codegen's
        // subexpression elimination computes md5(sg) once, not 4x
        .select(col("doc_id"), col("n_sh"), hit.as("hit"))
        .groupBy("doc_id", "n_sh")
        .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
        .withColumn("hit_frac", col("n_bloom_hits").cast("double") / col("n_sh"))
        .withColumn("flagged", col("hit_frac") >= 0.5d)
        .orderBy("doc_id")
    },
    Some {
      val posList = (0 until 4).map(TrainingDataQueries.duckBloomPos)
        .mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, ${TrainingDataQueries.duckToks} AS w FROM documents),
        s AS (SELECT doc_id, list_distinct(${TrainingDataQueries.duckShingles("w")}) AS sh FROM t),
        f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM f),
        pos AS (SELECT doc_id, n_sh, sg, unnest($posList) AS pos FROM ex),
        bench AS (SELECT DISTINCT pos FROM pos WHERE doc_id < 10),
        m AS (SELECT doc_id, n_sh, sg,
            SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS m
          FROM pos LEFT JOIN bench b USING (pos)
          GROUP BY doc_id, n_sh, sg),
        h AS (SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh,
            CAST(SUM(CASE WHEN m = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
          FROM m GROUP BY doc_id, n_sh)
      SELECT doc_id, n_sh, n_bloom_hits,
        CAST(n_bloom_hits AS DOUBLE) / n_sh AS hit_frac,
        CAST(n_bloom_hits AS DOUBLE) / n_sh >= 0.5::DOUBLE AS flagged
      FROM h ORDER BY doc_id"""
    })

  /** Z-order layout keys: interleave the low 8 bits of two dimensions so
    * range predicates on EITHER dimension prune contiguous key ranges —
    * the standard multi-dimensional clustering step before a sorted
    * write (`df.repartitionByRange(zkey).sortWithinPartitions(zkey)`).
    * Pure integer bit arithmetic, bit-identical in any engine.
    */
  private val q63 = Q("q63_zorder_layout",
    (s, d) => {
      val x = col("user_id") % 256
      val y = col("event_id") % 256
      val zkey = (0 until 8).map { b =>
        shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
          shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
      }.reduce(_ + _)
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), x.as("x"), y.as("y"), zkey.as("zkey"))
        .orderBy("zkey", "event_id")
    },
    Some {
      val terms = (0 until 8).map { b =>
        s"((((user_id % 256) >> $b) & 1) << ${2 * b}) + " +
          s"((((event_id % 256) >> $b) & 1) << ${2 * b + 1})"
      }.mkString("(", ") + (", ")")
      s"""SELECT event_id, user_id % 256 AS x, event_id % 256 AS y,
        $terms AS zkey
      FROM events WHERE event_type = 'purchase'
      ORDER BY zkey, event_id"""
    })

  /** Relational set operations (INTERSECT / EXCEPT, distinct semantics):
    * urgent-priority customers who also have finished orders, minus any
    * with in-progress orders. Each set op is one hash shuffle on the key.
    */
  private val q64 = Q("q64_split_set_ops",
    (s, d) => {
      val orders = Tables.orders(s, d)
      def keys(p: org.apache.spark.sql.Column) =
        orders.filter(p).select(col("o_custkey"))
      keys(col("o_orderpriority") === "1-URGENT")
        .intersect(keys(col("o_orderstatus") === "F"))
        .except(keys(col("o_orderstatus") === "P"))
        .orderBy("o_custkey")
    },
    Some("""(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
      ORDER BY o_custkey"""))

  /** Quantizer-build stats: every vector's nearest sampled centroid (the
    * q34 IVF index) with per-cell occupancy and distortion — the view a
    * k-means/Lloyd training iteration reports. Assignment is a per-row
    * argmin over centroid literals (no join, no shuffle of vectors);
    * only the tiny (cell, stats) aggregate shuffles.
    */
  private val q65 = Q("q65_kmeans_assign",
    (s, d) => {
      val corpus = Tables.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfAssignCells(corpus, nlist = 16)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          StableAgg.dsum(col("dist")).as("distortion"))
        .orderBy("cell")
    },
    Some(s"""WITH ${TrainingDataQueries.duckCentroidCtes},
      d AS (
        SELECT c.vec_id AS id, ct.cell,
          ${TrainingDataQueries.duckSqDist("c.embedding", "ct.centroid")} AS dist,
          row_number() OVER (PARTITION BY c.vec_id
            ORDER BY ${TrainingDataQueries.duckSqDist("c.embedding", "ct.centroid")}, ct.cell) AS arank
        FROM embeddings c CROSS JOIN cents ct),
      asg AS (SELECT id, cell, dist FROM d WHERE arank = 1)
      SELECT cell, COUNT(*) AS n_members,
        MIN(id) AS min_id, MAX(id) AS max_id,
        ${OracleSql.dsum("dist")} AS distortion
      FROM asg GROUP BY cell ORDER BY cell"""))

  override val all: Seq[Q] =
    Seq(q39, q59, q60, q61, q62, q63, q64, q65)
}
