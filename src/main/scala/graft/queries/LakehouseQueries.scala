package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Lakehouse table-maintenance operators, round 2: the streaming half of
  * merge-on-read compaction (q205's latest-wins through the state store),
  * bucketed co-located joins (shuffle-free fact×dim, previously spec-only),
  * zone-map data skipping (the min/max file-pruning metadata op), and SCD2
  * history construction from a CDC change log.
  *
  * All share one deterministic change-log fixture derived from `orders`
  * (q205's derivation: every key inserts at ver 0, keys ≡0 mod 3 update at
  * ver 1, keys ≡0 mod 11 tombstone at ver 2), so the batch compaction
  * (q205), streaming compaction (q208), and history build (q211) are
  * different executions over the SAME versioned log — the Delta/Iceberg/
  * Hudi trio of views over one commit history.
  */
object LakehouseQueries extends Registry {

  /** The shared CDC change-log fixture: (o_orderkey, ver, op, price)
    * with I/U/D ops and monotone versions, unique (key, ver). The SINGLE
    * owner of the derivation — q205 (batch compaction), q208 (streaming
    * compaction), and q211 (SCD2 history) all consume it, so an edit
    * here changes every view of the log together.
    */
  private[queries] def changeLog(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val base = o.select(col("o_orderkey"), lit(0L).as("ver"),
      lit("I").as("op"), col("o_totalprice").as("price"))
    val upd = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit(1L).as("ver"), lit("U").as("op"),
        (col("o_totalprice") + 10.0d).as("price"))
    val del = o.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), lit(2L).as("ver"), lit("D").as("op"),
        lit(null).cast("double").as("price"))
    base.unionByName(upd).unionByName(del)
  }

  /** DuckDB twin of [[changeLog]] as a `log` CTE body filtered by `pred`
    * (callers prepend `WITH `).
    */
  private[queries] def duckLogCtes(pred: String): String =
    s"""base AS (SELECT o_orderkey, 0 AS ver, 'I' AS op,
          o_totalprice AS price FROM orders),
      upd AS (SELECT o_orderkey, 1 AS ver, 'U' AS op,
          o_totalprice + 10.0::DOUBLE AS price FROM orders
        WHERE o_orderkey % 3 = 0),
      del AS (SELECT o_orderkey, 2 AS ver, 'D' AS op,
          CAST(NULL AS DOUBLE) AS price FROM orders WHERE o_orderkey % 11 = 0),
      log AS (SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM del) WHERE $pred)"""

  /** Streaming merge-on-read compaction (q205's latest-wins as STATE): the
    * change log replays version-by-version through a MemoryStream — one
    * micro-batch per commit, exactly a CDC feed — into a complete-mode
    * per-key max(struct(ver, op, price)) aggregate. The latest-wins row for
    * a key is correct ONLY if the key's state survives across micro-batches
    * (inserts arrive a full batch before their updates, updates a batch
    * before their tombstones), and the final complete-mode table IS the
    * compacted snapshot: filter tombstones, read (ver, price) out of the
    * struct, and the batch q205 oracle must hash-match verbatim.
    *
    * Scale: per-key state is ONE fixed-width struct (the argmax partial),
    * merged associatively — the same map-side-combine algebra as batch
    * compaction, so state size is |live keys|, never |log|. The driver-side
    * collect is the replay HARNESS (a MemoryStream replays rows); production
    * swaps in the file/Kafka CDC source and keeps the identical in-stream
    * aggregate. The mod-4 key slice keeps the gate's state-store churn
    * proportional to signal (cross-batch upserts), not fixture size.
    */
  private val q208 = Q("q208_streaming_upsert",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(Long, Long, String, Option[Double])] =
        StreamFixtures.replayRows("q208", d) {
          changeLog(s, d).filter(col("o_orderkey") % 4 === 0)
            .orderBy("ver", "o_orderkey").collect().iterator
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
              if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
        }
      val mem = StreamGate.memory[(Long, Long, String, Option[Double])](s)
      val src = mem.toDF().toDF("o_orderkey", "ver", "op", "price")
      val latest = src.groupBy("o_orderkey")
        .agg(max(struct(col("ver"), col("op"), col("price"))).as("st"))
      // one micro-batch per commit version — upserts MUST cross batches
      StreamGate.toMemory(s, latest, "complete",
        StreamGate.feed(mem, (0L to 2L).map(v => rows.filter(_._2 == v))))
        .filter(col("st.op") =!= "D")
        .select(col("o_orderkey"), col("st.ver").as("ver"),
          col("st.price").as("price"))
        .orderBy("o_orderkey")
    },
    Some(s"""WITH ${duckLogCtes("o_orderkey % 4 = 0")},
      r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
          ORDER BY ver DESC) AS rn FROM log)
      SELECT o_orderkey, CAST(ver AS BIGINT) AS ver, price FROM r
      WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey"""))

  private val q209Runs = new java.util.concurrent.atomic.AtomicInteger

  /** Bucketed co-located join — the shuffle-elimination technique graduated
    * from spec-only (ScaleTechniquesSpec) to a gated query: orders and
    * customer are WRITTEN bucketed+sorted on the join key (8 buckets), and
    * the fact×dim join over the bucketed tables must plan with ZERO
    * Exchange nodes (asserted in-query with broadcast disabled — a planned
    * shuffle throws, failing Verify/Bench loudly the way a wrong answer
    * fails the hash). The revenue-by-segment aggregate over the co-located
    * join must then match the plain-join DuckDB oracle: bucketing is a
    * physical-layout change and may never alter results.
    *
    * Scale: THE technique for repeated 100 TB fact×dim joins on a stable
    * key — pay the bucketed write once, and every subsequent join reads
    * co-partitioned, pre-sorted buckets with no exchange and no sort. The
    * tiny collect is the result handoff (|segments| rows) so the scratch
    * tables can be dropped before returning.
    */
  private val q209 = Q("q209_bucketed_join",
    (s, d) => {
      // pid + counter: concurrent JVMs share the session warehouse dir
      // (e.g. a Verify run next to sbt test), so names must be unique
      // across processes, not just within one
      val n = s"${ProcessHandle.current().pid()}_${q209Runs.incrementAndGet()}"
      val ot = s"graft_q209_orders_$n"
      val ct = s"graft_q209_customer_$n"
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
      Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
      try {
        // broadcast off on a session CLONE (ConfScope): the co-located
        // path must be what's planned, and the collect below executes it
        // under the clone's confs — no shared-session window to leak.
        val out = ConfScope.withConfs(s,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
          val joined = c.table(ot)
            .join(c.table(ct), col("o_custkey") === col("c_custkey"))
          val plan = joined.queryExecution.executedPlan.toString
          if (plan.contains("Exchange"))
            throw new IllegalStateException(
              s"bucketed co-located join planned a shuffle:\n$plan")
          joined.groupBy("c_mktsegment")
            .agg(sum(col("o_totalprice").cast("decimal(38,6)"))
                .cast("double").as("revenue"),
              count(lit(1)).as("n_orders"))
            .orderBy("c_mktsegment")
            .collect().toIndexedSeq
            .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        }
        s.createDataFrame(out).toDF("c_mktsegment", "revenue", "n_orders")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $ot")
        s.sql(s"DROP TABLE IF EXISTS $ct")
      }
    },
    Some(s"""SELECT c_mktsegment,
        ${graft.OracleSql.dsum("o_totalprice")} AS revenue,
        COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Zone-map data skipping (the min/max file-pruning metadata op every
    * lakehouse format keeps per file): simulated files (one per 100-order
    * bucket) carry min/max l_shipdate zone maps; a calendar-1997 range
    * predicate keeps exactly the files whose [min, max] interval overlaps
    * the query window. The output is the pruning decision table itself —
    * per file: zone bounds, row count, keep/skip — i.e. the file list a
    * scan planner would hand the reader.
    *
    * Scale: this is a METADATA-plane aggregation (|files| ≪ |rows| — the
    * q206 argument): one partial/final pass builds the zone maps, the
    * overlap test is per-file arithmetic, and at 100 TB the zone-map table
    * is what's persisted in the table format's manifest so planning never
    * touches data files at all. Bounds cross the gate as yyyy-MM-dd strings
    * (the q145 date-dtype device).
    */
  private val q210 = Q("q210_zone_map_prune",
    (s, d) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      Tables.lineitem(s, d)
        .groupBy(expr("l_orderkey div 100").as("file_id"))
        .agg(min(col("l_shipdate")).as("mn"), max(col("l_shipdate")).as("mx"),
          count(lit(1)).as("n_rows"))
        .select(col("file_id"),
          date_format(col("mn"), "yyyy-MM-dd").as("min_ship"),
          date_format(col("mx"), "yyyy-MM-dd").as("max_ship"),
          col("n_rows"),
          (col("mx") >= lo && col("mn") < hi).as("keep"))
        .orderBy("file_id")
    },
    Some("""WITH f AS (SELECT l_orderkey // 100 AS file_id,
          MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx, COUNT(*) AS n_rows
        FROM lineitem GROUP BY 1)
      SELECT file_id, strftime(mn, '%Y-%m-%d') AS min_ship,
        strftime(mx, '%Y-%m-%d') AS max_ship, n_rows,
        (mx >= TIMESTAMP '1997-01-01' AND mn < TIMESTAMP '1998-01-01') AS keep
      FROM f ORDER BY file_id"""))

  /** SCD2 dimension history from the CDC change log: each non-delete
    * commit becomes a validity interval [ver, next_ver) via ONE lead()
    * window per key — the tombstone closes the final interval (it bounds
    * `valid_to` but emits no row), and `is_current` marks keys whose last
    * commit is still live. The third view over the shared log: q205/q208
    * compact it, this query KEEPS the history.
    *
    * Scale: one hash shuffle on the key, partition-local sort, no self-join
    * — the standard distributed SCD2 build; interval columns are derived
    * per-row after the window, so output cost is |log|, not |log|².
    */
  private val q211 = Q("q211_scd2_history",
    (s, d) => {
      val w = Window.partitionBy("o_orderkey").orderBy("ver")
      changeLog(s, d)
        .withColumn("valid_to", lead(col("ver"), 1).over(w))
        .filter(col("op") =!= "D")
        .select(col("o_orderkey"), col("ver").as("valid_from"),
          col("valid_to"), col("price"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("o_orderkey", "valid_from")
    },
    Some(s"""WITH ${duckLogCtes("TRUE")},
      v AS (SELECT *, lead(ver) OVER (PARTITION BY o_orderkey
          ORDER BY ver) AS valid_to FROM log)
      SELECT o_orderkey, CAST(ver AS BIGINT) AS valid_from,
        CAST(valid_to AS BIGINT) AS valid_to, price,
        valid_to IS NULL AS is_current
      FROM v WHERE op <> 'D' ORDER BY o_orderkey, valid_from"""))

  private val q224Runs = new java.util.concurrent.atomic.AtomicInteger

  /** Schema evolution on read (the additive-column migration every
    * long-lived table goes through): batch 1 is written with the v1
    * schema, batch 2 adds `o_orderpriority`, and a `mergeSchema` read
    * over both file sets must surface the union schema with v1 rows
    * null-filled — the per-priority aggregate (NULL = pre-migration
    * rows) hash-matches an oracle that reconstructs the same evolution
    * from the base table.
    *
    * Scale: schema merging is a FOOTER-only operation (one task per
    * file footer, no data read) and null-filling is free at scan time —
    * this is why additive evolution is the only kind a 100 TB table
    * does in place; anything else is a rewrite (q205's compaction
    * path). The per-run write is the fixture build.
    */
  private val q224 = Q("q224_schema_evolution",
    (s, d) => {
      import java.io.File
      val root = graft.streaming.TempDirs.scratch(
        s"graft_q224_${ProcessHandle.current().pid()}_${q224Runs.incrementAndGet()}")
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(new File(root, "b1").getPath)
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(new File(root, "b2").getPath)
      val merged = s.read.option("mergeSchema", "true")
        .parquet(new File(root, "b1").getPath, new File(root, "b2").getPath)
      if (!merged.columns.contains("o_orderpriority"))
        throw new IllegalStateException(
          s"mergeSchema did not surface the evolved column: ${merged.columns.mkString(",")}")
      merged.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(38,6)"))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
          ELSE o_orderpriority END AS o_orderpriority,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${graft.OracleSql.dsum("o_totalprice")} AS revenue
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Time travel (`VERSION AS OF`) over the shared change log: the
    * snapshot at version v is latest-wins over every entry with
    * ver ≤ v, minus tombstones — reconstructed for ALL of v ∈ {0,1,2}
    * in ONE pass by exploding each log entry to the versions it is
    * visible at, then the same max(struct(ver, op, price)) argmax as
    * q205. Per-version row counts and checksums certify each historic
    * snapshot (ver 0 = all inserts, ver 1 = updates applied, ver 2 =
    * deletes applied).
    *
    * Scale: the explode multiplies the log by ≤ |versions| (metadata-
    * bounded, not data-bounded in a real table format — the log IS the
    * commit history), and the single (as_of, key) exchange carries one
    * fixed-width argmax struct per key per version.
    */
  private val q238 = Q("q238_time_travel",
    (s, d) => {
      changeLog(s, d)
        .withColumn("as_of", explode(sequence(col("ver"), lit(2L))))
        .groupBy("as_of", "o_orderkey")
        .agg(max(struct(col("ver"), col("op"), col("price"))).as("last"))
        .filter(col("last.op") =!= "D")
        .groupBy("as_of")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          graft.functions.StableAgg.dsum(col("last.price")).as("price_sum"))
        .orderBy("as_of")
    },
    Some(s"""WITH ${duckLogCtes("TRUE")},
      vis AS (SELECT l.o_orderkey, l.ver, l.op, l.price,
          CAST(u.v AS BIGINT) AS as_of
        FROM log l, unnest(range(0, 3)) u(v) WHERE l.ver <= u.v),
      snap AS (SELECT as_of, o_orderkey,
          arg_max(op, ver) AS op, arg_max(price, ver) AS price
        FROM vis GROUP BY 1, 2)
      SELECT as_of, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        ${graft.OracleSql.dsum("price")} AS price_sum
      FROM snap WHERE op <> 'D' GROUP BY as_of ORDER BY as_of"""))

  /** Deletion vectors (the Delta/Iceberg merge-on-read ROW-level delete
    * representation): data files stay immutable; a sidecar per file
    * lists the ordinal positions of deleted rows, and the read path
    * anti-joins (file, position) against the vector. The fixture
    * assigns rows to files of 100 (ordinal = rank within file) and
    * deletes every position whose key ≡ 0 mod 7; surviving counts and
    * checksums per file bucket must match the oracle's direct filter —
    * the proof the positional indirection loses and resurrects nothing.
    *
    * Scale: the DV table is |deleted rows| (≪ |rows|), the anti-join
    * key is (file_id, pos) — hash-partitionable, no file rewrite; this
    * is why DVs beat copy-on-write for scattered deletes at 100 TB.
    */
  private val q239 = Q("q239_deletion_vectors",
    (s, d) => {
      val wFile = Window.partitionBy("file_id").orderBy("o_orderkey")
      val rows = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          expr("o_orderkey div 100").as("file_id"))
        .withColumn("pos", row_number().over(wFile).cast("long"))
      val dv = rows.filter(col("o_orderkey") % 7 === 0)
        .select(col("file_id"), col("pos"))
      rows.join(dv, Seq("file_id", "pos"), "left_anti")
        .groupBy((col("file_id") % 10).as("file_bucket"))
        .agg(count(lit(1)).as("n_live"),
          sum(col("o_orderkey")).as("key_sum"),
          graft.functions.StableAgg.dsum(col("o_totalprice")).as("price_sum"))
        .orderBy("file_bucket")
    },
    Some(s"""WITH rows_t AS (SELECT o_orderkey, o_totalprice,
          o_orderkey // 100 AS file_id FROM orders)
      SELECT CAST(file_id % 10 AS BIGINT) AS file_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_live,
        CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        ${graft.OracleSql.dsum("o_totalprice")} AS price_sum
      FROM rows_t WHERE o_orderkey % 7 <> 0
      GROUP BY 1 ORDER BY 1"""))

  /** VACUUM planning (retention-horizon file reclamation): from the
    * table's file metadata — (file, added_ver, removed_ver) — a file is
    * reclaimable iff it was removed at or before `current − retention`
    * versions; files removed inside the horizon must survive for time
    * travel (q238's reader). Pure metadata-plane arithmetic: the
    * planner never opens a data file, and the output sizes the
    * reclamation per added-version cohort.
    *
    * Scale: |files| rows however big the table — the same
    * metadata-only contract as q210's zone maps and q206's compaction
    * bins.
    */
  private val q240 = Q("q240_vacuum_plan",
    (s, d) => {
      val files = Tables.orders(s, d)
        .groupBy(expr("o_orderkey div 50").as("file_id"))
        .agg(count(lit(1)).as("bytes"))
        .withColumn("added_ver", col("file_id") % 3)
        .withColumn("removed_ver",
          when(col("file_id") % 4 === 0,
            col("added_ver") + 1 + col("file_id") % 2))
      val currentVer = 4L
      val retention = 2L
      files
        .withColumn("reclaimable",
          col("removed_ver").isNotNull &&
            col("removed_ver") <= lit(currentVer - retention))
        .groupBy("added_ver")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("reclaimable"), 1L).otherwise(0L)).as("n_reclaimable"),
          sum(when(col("reclaimable"), col("bytes")).otherwise(0L))
            .as("bytes_reclaimed"),
          sum(when(col("removed_ver").isNotNull && !col("reclaimable"), 1L)
            .otherwise(0L)).as("n_held_for_travel"))
        .orderBy("added_ver")
    },
    Some("""WITH files AS (SELECT o_orderkey // 50 AS file_id,
          CAST(COUNT(*) AS BIGINT) AS bytes
        FROM orders GROUP BY 1),
      meta AS (SELECT file_id, bytes, file_id % 3 AS added_ver,
          CASE WHEN file_id % 4 = 0
            THEN file_id % 3 + 1 + file_id % 2 END AS removed_ver
        FROM files),
      f AS (SELECT *, removed_ver IS NOT NULL AND removed_ver <= 2
          AS reclaimable FROM meta)
      SELECT CAST(added_ver AS BIGINT) AS added_ver,
        CAST(COUNT(*) AS BIGINT) AS n_files,
        CAST(SUM(CASE WHEN reclaimable THEN 1 ELSE 0 END) AS BIGINT)
          AS n_reclaimable,
        CAST(SUM(CASE WHEN reclaimable THEN bytes ELSE 0 END) AS BIGINT)
          AS bytes_reclaimed,
        CAST(SUM(CASE WHEN removed_ver IS NOT NULL AND NOT reclaimable
          THEN 1 ELSE 0 END) AS BIGINT) AS n_held_for_travel
      FROM f GROUP BY 1 ORDER BY 1"""))

  private val q244Runs = new java.util.concurrent.atomic.AtomicInteger

  /** Partition-spec evolution (the layout twin of q224's schema
    * evolution): generation 1 of the table was written UNPARTITIONED,
    * generation 2 partitioned by the query column — the Iceberg
    * partition-evolution situation, where old files keep their old
    * layout forever and the reader must span both. The union read
    * filters on the partition column; the in-query plan assertion
    * requires the v2 arm to prune via PartitionFilters (directory-level
    * skip) while the v1 arm pushes the same predicate as a data filter —
    * absence of either throws. The aggregate hash-matches the plain
    * oracle, proving the split-layout read loses nothing.
    *
    * Scale: this is how layout migrations actually ship at 100 TB — new
    * data lands in the better layout immediately, old files are
    * rewritten lazily (q206's compaction bins) or never; queries prune
    * what they can per generation.
    */
  private val q244 = Q("q244_partition_evolution",
    (s, d) => {
      import java.io.File
      val dir = graft.streaming.TempDirs.scratch(
        s"graft_q244_${ProcessHandle.current().pid()}_${q244Runs.incrementAndGet()}")
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val v1 = base.filter(col("o_orderkey") % 2 === 0)
      val v2 = base.filter(col("o_orderkey") % 2 =!= 0)
      v1.write.mode("overwrite").parquet(new File(dir, "gen1").getPath)
      v2.write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(new File(dir, "gen2").getPath)
      val unioned = s.read.parquet(new File(dir, "gen1").getPath)
        .unionByName(s.read.parquet(new File(dir, "gen2").getPath))
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      val plan = unioned.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val partFiltered = plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") && l.contains("o_orderpriority"))
      val dataFiltered = plan.linesIterator.exists(l =>
        l.contains("PushedFilters: [") && l.contains("o_orderpriority"))
      if (!partFiltered || !dataFiltered)
        throw new IllegalStateException(
          s"partition-evolution read did not prune both generations " +
            s"(partition=$partFiltered, data=$dataFiltered):\n$plan")
      val out = unioned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.StableAgg.dsum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
        .collect().toIndexedSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.createDataFrame(out).toDF("o_orderpriority", "n_orders", "revenue")
    },
    Some(s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${graft.OracleSql.dsum("o_totalprice")} AS revenue
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Hilbert-curve clustering vs Z-order vs single-column sort — the
    * layout bake-off a lakehouse clustering decision runs, measured by
    * the metric that matters: probe-rectangle file skips against each
    * layout's per-file min/max zone maps (q210's pruning rule). The
    * domain is the DISTINCT (x, y) cell grid (≤ 65536 cells at any data
    * scale — the layout decision operates on the key-space census, not
    * the row count), each layout assigns cells to 64 equal files by
    * `ntile` over its curve key, and 16 fixed 41×41 probe rectangles
    * count how many (file, probe) pairs prune. Hilbert's
    * every-step-adjacent walk yields the tightest bounding boxes, the
    * bit-interleaved Z-order next, the x-major sort last
    * ([[graft.operators.SpaceFillingCurves]]; the ordering is asserted
    * by LakehouseCertificatesSpec, the exact counts by the oracle).
    *
    * Scale: at 100 TB the census is a groupBy bounded by the 65536-cell
    * grid, the layout write is one `repartitionByRange(curve_key)`, and
    * this query IS the planning pass that justifies it — the ntile
    * window runs over the bounded cell table, never the data.
    */
  private val q250 = Q("q250_hilbert_layout",
    (s, d) => {
      import graft.operators.SpaceFillingCurves
      val cells = Tables.fanOut(Tables.lineitem(s, d))
        .select(pmod(col("l_partkey"), lit(256)).cast("int").as("x"),
          pmod(col("l_suppkey"), lit(256)).cast("int").as("y"))
        .distinct()
        .withColumn("hkey", SpaceFillingCurves.hilbertKey(col("x"), col("y")))
        .withColumn("zkey", SpaceFillingCurves.zorderKey(col("x"), col("y")))
        .withColumn("xkey", col("x").cast("long") * 256L + col("y"))
      val layouts = Seq("hilbert" -> "hkey", "zorder" -> "zkey",
        "xsort" -> "xkey")
      val keyed = layouts.map { case (name, k) =>
        cells.select(lit(name).as("layout"), col(k).as("curve_key"),
          col("x"), col("y"))
      }.reduce(_ unionByName _)
      val filed = keyed.withColumn("file_id",
        ntile(64).over(Window.partitionBy("layout")
          .orderBy("curve_key", "x", "y")))
      val boxes = filed.groupBy("layout", "file_id")
        .agg(min("x").as("xmin"), max("x").as("xmax"),
          min("y").as("ymin"), max("y").as("ymax"))
      boxes
        .select(col("layout"), col("file_id"), col("xmin"), col("xmax"),
          col("ymin"), col("ymax"),
          explode(typedLit((0 until 16).toArray)).as("p"))
        .withColumn("xlo", pmod(col("p") * 37, lit(200)))
        .withColumn("ylo", pmod(col("p") * 53, lit(200)))
        .withColumn("skip",
          when(col("xmax") < col("xlo") || col("xmin") > col("xlo") + 40 ||
            col("ymax") < col("ylo") || col("ymin") > col("ylo") + 40, 1L)
            .otherwise(0L))
        .groupBy("layout")
        .agg(countDistinct(col("file_id")).as("n_files"),
          count(lit(1)).as("n_file_probes"),
          sum(col("skip")).as("n_skipped"))
        .orderBy("layout")
    },
    Some {
      // 8 unrolled Hilbert levels: quadrant accumulate + reflect/transpose
      def lvl(sv: Int, src: String, dst: String) =
        s"""$dst AS (SELECT x, y, zkey,
          d + ${sv.toLong * sv} * (CASE WHEN (wx & $sv) > 0
              THEN (CASE WHEN (wy & $sv) > 0 THEN 2 ELSE 3 END)
              ELSE (CASE WHEN (wy & $sv) > 0 THEN 1 ELSE 0 END) END) AS d,
          CASE WHEN (wy & $sv) > 0 THEN wx
            ELSE (CASE WHEN (wx & $sv) > 0 THEN 255 - wy ELSE wy END) END AS wx,
          CASE WHEN (wy & $sv) > 0 THEN wy
            ELSE (CASE WHEN (wx & $sv) > 0 THEN 255 - wx ELSE wx END) END AS wy
        FROM $src)"""
      val levels = Seq(128, 64, 32, 16, 8, 4, 2, 1).zipWithIndex
        .map { case (sv, i) =>
          lvl(sv, if (i == 0) "base" else s"l$i", s"l${i + 1}") }
        .mkString(",\n        ")
      val zterms = (0 until 8).map { b =>
        s"((((x % 256) >> $b) & 1) << ${2 * b}) + " +
          s"((((y % 256) >> $b) & 1) << ${2 * b + 1})"
      }.mkString("(", ") + (", ")")
      s"""WITH cells AS (SELECT DISTINCT l_partkey % 256 AS x,
            l_suppkey % 256 AS y FROM lineitem),
        base AS (SELECT x, y, $zterms AS zkey,
            CAST(0 AS BIGINT) AS d, x AS wx, y AS wy FROM cells),
        $levels,
        keys AS (SELECT x, y, d AS hkey, zkey,
            CAST(x AS BIGINT) * 256 + y AS xkey FROM l8),
        u AS (
          SELECT 'hilbert' AS layout, hkey AS curve_key, x, y FROM keys
          UNION ALL SELECT 'zorder', zkey, x, y FROM keys
          UNION ALL SELECT 'xsort', xkey, x, y FROM keys),
        f AS (SELECT layout, x, y,
            ntile(64) OVER (PARTITION BY layout ORDER BY curve_key, x, y)
              AS file_id
          FROM u),
        bb AS (SELECT layout, file_id,
            MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
          FROM f GROUP BY 1, 2),
        pr AS (SELECT layout, file_id, xmin, xmax, ymin, ymax, t.p,
            (t.p * 37) % 200 AS xlo, (t.p * 53) % 200 AS ylo
          FROM bb, range(0, 16) t(p))
      SELECT layout, CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files,
        CAST(COUNT(*) AS BIGINT) AS n_file_probes,
        CAST(SUM(CASE WHEN xmax < xlo OR xmin > xlo + 40
            OR ymax < ylo OR ymin > ylo + 40 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_skipped
      FROM pr GROUP BY layout ORDER BY layout"""
    })

  private val q257Runs = new java.util.concurrent.atomic.AtomicInteger

  /** Dynamic partition overwrite (`partitionOverwriteMode=dynamic`) — the
    * idempotent-backfill primitive: generation 1 writes all five
    * priority partitions; a corrected recompute of ONLY the urgent/high
    * slice (prices bumped by an exact integer amount) is written with
    * `mode(overwrite)`, and dynamic mode must replace ONLY the two
    * partitions present in the new data. The read-back aggregate
    * hash-matches an oracle where urgent/high carry updated prices and
    * the other three partitions keep generation-1 values — under STATIC
    * overwrite semantics the three untouched partitions would be
    * deleted and the row counts collapse, so the gate is
    * self-certifying.
    *
    * Scale: this is how daily reprocessing lands at 100 TB — recompute
    * the affected date/priority partitions, overwrite exactly those
    * directories atomically-per-partition, never rewrite (or lock) the
    * rest of the table.
    */
  private val q257 = Q("q257_dynamic_partition_overwrite",
    (s, d) => {
      import java.io.File
      val dir = graft.streaming.TempDirs.scratch(
        s"graft_q257_${ProcessHandle.current().pid()}_${q257Runs.incrementAndGet()}")
      // dynamic overwrite mode on a session CLONE (ConfScope): the two
      // writes execute under the clone, so the mode can never leak to an
      // unrelated query planned concurrently on the shared session.
      ConfScope.withConfs(s,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") { c =>
        val base = Tables.orders(c, d)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        base.write.mode("overwrite").partitionBy("o_orderpriority")
          .parquet(dir.getPath)
        base.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0d)
          .write.mode("overwrite").partitionBy("o_orderpriority")
          .parquet(dir.getPath)
      }
      s.read.parquet(dir.getPath)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.StableAgg.dsum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${graft.OracleSql.dsum(
          "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
            "THEN o_totalprice + 1000.0 ELSE o_totalprice END")} AS revenue
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Hidden file-metadata columns (`_metadata.file_name` / `file_path` /
    * `file_size` / `file_block_start`) — the provenance surface every
    * bad-file investigation at 100 TB starts from: which physical file
    * did this row come from, how big is it, which split? The gate groups
    * by the exposed file name and asserts the physical-layout
    * invariants the fixture guarantees (single file, positive size,
    * block starts at zero) as COMPUTED booleans, with the row count
    * hash-matching the plain scan — proving the metadata projection
    * neither duplicates nor drops rows.
    *
    * Scale: _metadata is constant-folded per split at scan time — zero
    * per-row cost, no extra I/O; it is the supported replacement for
    * input_file_name() (which breaks under whole-stage codegen
    * boundaries and returns '' on joins).
    */
  private val q268 = Q("q268_file_metadata",
    (s, d) => {
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("_metadata.file_name").as("file_name"),
          col("_metadata.file_size").as("file_size"),
          col("_metadata.file_block_start").as("block_start"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n_rows"),
          (min(col("file_size")) > 0L).as("nonzero_size"),
          (min(col("block_start")) === 0L).as("starts_at_zero"))
        .orderBy("file_name")
        // the hash gate pins the OUTPUT CARDINALITY too: a second
        // physical file would emit a second row and fail the row match
    },
    Some("""SELECT 'documents.parquet' AS file_name,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        TRUE AS nonzero_size, TRUE AS starts_at_zero
      FROM documents"""))

  /** Per-(JVM, sfDir) memo of the q301/q302 bucketed fact tables.
    *
    * The bucketed WRITE is the once-per-dataset cost a production table
    * layout pays at ingest; every subsequent join/lookup amortizes it.
    * Memoizing per JVM mirrors that shape (the bench samples the query
    * several times — re-paying the write per sample would measure ingest,
    * not the join), while the physical dirs are registered for exit-time
    * deletion and the catalog entries die with the in-memory catalog.
    * Build under a plain lock (NOT computeIfAbsent — holding a CHM bin
    * lock across Spark write jobs is the ADVICE-r10 replayRows bug class;
    * here a dedicated object lock contends only among q301/q302 callers).
    */
  private val factTableMemo = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private val factTableBuilds = new java.util.concurrent.atomic.AtomicInteger

  private def bucketedFactTables(s: SparkSession, d: String): (String, String) = {
    // Memo hits are revalidated against the catalog (ADVICE r11): the
    // JVM-wide memo outlives the in-memory catalog of a recreated session,
    // and a stale hit would hand back table names `s.table` can't resolve.
    def valid(p: (String, String)): Boolean =
      s.catalog.tableExists(p._1) && s.catalog.tableExists(p._2)
    val hit = factTableMemo.get(d)
    if (hit != null && valid(hit)) return hit
    factTableMemo.synchronized {
      val again = factTableMemo.get(d)
      if (again != null && valid(again)) return again
      // pid + monotone counter, NOT d.hashCode (ADVICE r11): two dirs
      // colliding on hashCode would share table names, and the second
      // overwrite-build would silently replace the first dir's data while
      // its memo entry kept pointing at the same tables.
      val n = s"${ProcessHandle.current().pid()}_${factTableBuilds.incrementAndGet()}"
      val lt = s"graft_q301_lineitem_$n"
      val ot = s"graft_q301_orders_$n"
      // repartition on the bucket key first: one task per bucket ⇒ one
      // file per bucket, which also lets Spark trust the per-bucket sortBy
      // order (multi-file buckets forfeit the sorted-scan property).
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_quantity")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir"))
      val whDir = new java.io.File(if (wh.getScheme == null) wh.toString else wh.getPath)
      graft.streaming.TempDirs.register(new java.io.File(whDir, lt)): Unit
      graft.streaming.TempDirs.register(new java.io.File(whDir, ot)): Unit
      val pair = (lt, ot)
      factTableMemo.put(d, pair): Unit
      pair
    }
  }

  /** Bucketed FACT-FACT join with a live zero-exchange plan (VERDICT r10
    * ask #3). q209 proves the technique fact×dim but hands back a
    * collected tiny result, so its invariant row pins the handoff plan,
    * not the join; here the returned DataFrame IS the bucket-aligned
    * lineitem⋈orders plan, so `docs/plan_invariants.tsv` carries an
    * exchanges=0 row for a fact-fact join and `PlanInvariantsSpec` fails
    * any regression that re-introduces a shuffle. The in-query assert
    * throws on any Exchange — a planned shuffle fails the gate as loudly
    * as a wrong answer.
    *
    * The audited plan is ALSO the executed plan (ADVICE r11, high): the
    * forcing confs live permanently on a session CLONE (ConfScope), and
    * the returned DataFrame carries that clone as its own session — so
    * when Bench's noop write or Verify's parquet dump builds a fresh
    * QueryExecution from the logical plan (DataFrameWriter always does),
    * the re-plan runs under the same confs and reproduces exactly the
    * asserted zero-Exchange/zero-Sort shape. Under the old set/restore
    * window the writer re-planned AFTER the finally restored the confs
    * and benched a broadcast join while attributing the number to the
    * merge join; plan_invariants.tsv pins the shape externally.
    *
    * Scale: repeated fact-fact joins on a stable key (orders⋈lineitem,
    * events⋈sessions) are THE shuffle bill at 100 TB; bucketing both
    * facts on the join key turns every such join into a zero-exchange
    * per-bucket merge, and the follow-on groupBy on the same key reuses
    * the bucket partitioning — this plan has no Exchange anywhere.
    */
  private val q301 = Q("q301_bucketed_fact_join",
    (s, d) => {
      val (lt, ot) = bucketedFactTables(s, d)
      // With ONE file per bucket (the repartition-before-write above) and
      // sortBy on the bucket key, the scan can also report its ORDER —
      // the merge join then needs no Sort at all. Spark gates this behind
      // the legacy flag (multi-file buckets would need a merge read); it
      // lives on the clone for the query's whole lifetime.
      ConfScope.withConfs(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1", // SMJ must be what's planned
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") { c =>
        val out = c.table(lt)
          .join(c.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderstatus"))
          .agg(
            graft.functions.StableAgg.dsum(
              col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
        val plan = out.queryExecution.executedPlan.toString
        if (plan.contains("Exchange"))
          throw new IllegalStateException(
            s"bucketed fact-fact join planned a shuffle:\n$plan")
        if ("\\bSort\\b".r.findFirstIn(plan).isDefined)
          throw new IllegalStateException(
            s"bucketed sorted scan still planned a Sort:\n$plan")
        out
      }
    },
    Some(s"""SELECT o_orderkey, o_orderstatus,
        ${graft.OracleSql.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderkey, o_orderstatus"""))

  /** Bucket pruning: an equality predicate on the bucket key reads ONLY
    * the matching bucket's files (`SelectedBucketsCount: 1 out of 8`,
    * asserted in-query) — the storage-layout point lookup. The key set is
    * derived from the data (every 500th distinct orderkey) so the gate is
    * scale-portable; the oracle is the plain filter, because bucket
    * pruning is pure I/O elimination and may never change results.
    *
    * Scale: at 100 TB a bucketed key lookup touches 1/N of the files with
    * no index structure at all — the cheap half of the q210 zone-map
    * story, and the read-side payoff of the q301 layout.
    */
  /** Per-(JVM, sfDir) memo of q302's probe keys (ADVICE r11): the
    * distinct+sort+limit scan is key DERIVATION, not the pruned lookup the
    * bench number claims to measure — without the memo every warmup/timed
    * round re-paid a full lineitem scan inside the timed body. The
    * derivation is deterministic and idempotent per dir, so a lost
    * putIfAbsent race only duplicates work once (no lock held across the
    * Spark job — the r10 replayRows lesson).
    */
  private val probeKeyMemo = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def q302ProbeKeys(s: SparkSession, d: String): (Long, Long) = {
    val hit = probeKeyMemo.get(d)
    if (hit != null) return hit
    // deterministic probe keys from the data itself: min key and the
    // 1000th distinct key (order statistics, not fixture-magic ids)
    val keys = Tables.lineitem(s, d).select(col("l_orderkey"))
      .distinct().orderBy("l_orderkey").limit(1001)
      .agg(min("l_orderkey").as("k1"), max("l_orderkey").as("k2"))
      .collect()(0)
    probeKeyMemo.putIfAbsent(d, (keys.getLong(0), keys.getLong(1))): Unit
    probeKeyMemo.get(d)
  }

  private val q302 = Q("q302_bucket_pruning",
    (s, d) => {
      val (lt, _) = bucketedFactTables(s, d)
      val (k1, k2) = q302ProbeKeys(s, d)
      // isin (an IN-list), not an OR chain: bucket pruning recognizes
      // EqualTo/In/InSet on the bucket column, but not a disjunction. The
      // assert runs on the FULL plan (filter + groupBy on the bucket key):
      // a bare filter gets its bucketed scan auto-disabled by
      // DisableUnnecessaryBucketedScan ("Bucketed: false") and never
      // prunes — the downstream aggregate is what makes the bucket
      // partitioning useful enough to keep.
      val out = s.table(lt).filter(col("l_orderkey").isin(k1, k2))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          graft.functions.StableAgg.dsum(col("l_quantity")).as("sum_qty"))
      val plan = out.queryExecution.executedPlan.toString
      // 2 keys hit ≤2 of 8 buckets; an unpruned scan prints "8 out of 8".
      val sel = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(plan)
      if (!sel.exists(_.group(1).toInt <= 2))
        throw new IllegalStateException(s"bucket pruning did not fire:\n$plan")
      // The assert covers the executed plan too: a DataFrameWriter re-plan
      // of this DataFrame is deterministic (no conf window is involved —
      // pruning derives from the literal IN-list and the catalog's bucket
      // spec), so it reproduces the audited pruned scan; the invariant row
      // in plan_invariants.tsv pins the shape externally.
      out
    },
    Some(s"""WITH ks AS (
        SELECT min(k) AS k1, max(k) AS k2 FROM (
          SELECT DISTINCT l_orderkey AS k FROM lineitem ORDER BY k LIMIT 1001))
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        ${graft.OracleSql.dsum("l_quantity")} AS sum_qty
      FROM lineitem, ks WHERE l_orderkey = k1 OR l_orderkey = k2
      GROUP BY l_orderkey"""))

  /** Clustering-depth census (the Snowflake/Databricks re-cluster trigger
    * metric): given a layout key (order date), how many files' [min,max]
    * zones OVERLAP each file's lower bound? Perfectly clustered data has
    * depth ≈ 1 (each probe point falls in one file's zone); scattered data
    * has depth ≈ |files| (every zone spans the whole domain, so q210-style
    * min/max skipping prunes nothing). Both layouts are simulated
    * deterministically over `orders` — range assignment via ntile (the
    * writer's range-partitioner, q63/q250's job) vs a hash scatter — and
    * the census reports n_files / avg / max depth per layout, the exact
    * numbers a table-maintenance service compares against its re-cluster
    * threshold. LakehouseCertificatesSpec pins the discrimination property
    * (clustered depth ≪ scattered depth).
    *
    * Scale: depth computes from PER-FILE min/max zones — one row per file
    * (the manifest/footer stats a real table already has), so the metric
    * is metadata-only at any corpus size: the self-join is |files|²
    * bounded by overlap, never |rows|, and the verdict drives whether the
    * expensive rewrite (q250's space-filling-curve sort) runs at all. The
    * global ntile here only SIMULATES the writer's range partitioning on
    * the fixture; a real writer assigns files at write time.
    */
  private val q305 = Q("q305_clustering_depth",
    (s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).as("kday"))
      val clustered = base.select(lit("clustered").as("layout"),
        ntile(16).over(Window.orderBy("kday", "o_orderkey"))
          .cast("long").as("file_id"), col("kday"))
      val scattered = base.select(lit("scattered").as("layout"),
        (graft.operators.Dedup.hexHash32(md5(concat(lit("cd:"),
          col("o_orderkey").cast("string")))) % 16).as("file_id"),
        col("kday"))
      // zones = the manifest: 32 rows of per-file min/max. localCheckpoint
      // cuts the self-join's duplicate recompute of the whole zone build
      // (two more orders scans + window) — the real system reads these
      // rows from file footers, so materializing them once IS the shape.
      val zones = clustered.union(scattered)
        .groupBy("layout", "file_id")
        .agg(min("kday").as("mn"), max("kday").as("mx"))
        .localCheckpoint()
      val z1 = zones.select(col("layout"), col("file_id"), col("mn"))
      val z2 = zones.select(col("layout").as("layout2"),
        col("mn").as("mn2"), col("mx").as("mx2"))
      val depth = z1.join(z2, col("layout") === col("layout2") &&
          col("mn2") <= col("mn") && col("mn") <= col("mx2"))
        .groupBy("layout", "file_id").agg(count(lit(1)).as("depth"))
      depth.groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          graft.functions.StableAgg.lavg(col("depth")).as("avg_depth"),
          max("depth").as("max_depth"))
        .orderBy("layout")
    },
    Some {
      val h = "md5('cd:' || o_orderkey)"
      s"""WITH base AS (SELECT o_orderkey,
          date_diff('day', DATE '1992-01-01', o_orderdate) AS kday
        FROM orders),
      a AS (
        SELECT 'clustered' AS layout,
          CAST(ntile(16) OVER (ORDER BY kday, o_orderkey) AS BIGINT)
            AS file_id, kday
        FROM base
        UNION ALL
        SELECT 'scattered' AS layout,
          (${TrainingDataQueries.duckHash32(h)}) % 16 AS file_id, kday
        FROM base),
      z AS (SELECT layout, file_id, MIN(kday) AS mn, MAX(kday) AS mx
        FROM a GROUP BY 1, 2),
      dep AS (SELECT z1.layout, z1.file_id, COUNT(*) AS depth
        FROM z z1 JOIN z z2 ON z1.layout = z2.layout
          AND z2.mn <= z1.mn AND z1.mn <= z2.mx
        GROUP BY 1, 2)
      SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        ${graft.OracleSql.lavg("depth")} AS avg_depth,
        CAST(MAX(depth) AS BIGINT) AS max_depth
      FROM dep GROUP BY layout ORDER BY layout"""
    })

  /** Per-(JVM, sfDir) memo of the q307 per-file Bloom index: 16 parquet
    * files hash-scattered on user_id (so the lookup key event_id has NO
    * layout correlation — the case zone maps and bucket pruning both
    * fail), one Bloom filter per file built BY THE ENGINE (bit positions
    * from the library's hexHash32∘md5 chain, OR-folded per 64-bit word
    * with bit_or) and persisted as a MANIFEST TABLE of two scratch
    * parquet relations:
    *
    *  - `meta(f, nwords)` — one row per data file, each file's filter
    *    sized from THAT file's own row count (24 bits/key at 3 hashes ⇒
    *    fpp ≈ (1−e^(−3/24))³ ≈ 0.16 % per file, with no global coupling:
    *    adding files never resizes existing filters);
    *  - `words(f, w, bits)` — only the OCCUPIED 64-bit words.
    *
    * The driver value holds paths + the 3 deterministic probe keys and
    * their true home files; the dense bit arrays never leave the
    * executors (the r12 shape held an O(corpus rows/64) Array[Long] per
    * file in a driver map). The write + index build is the
    * once-per-dataset ingest cost (Bench's memoBuild pass, q301's
    * discipline); probing is a broadcast join against the manifest.
    */
  private case class BloomIndex(dataPath: String, metaPath: String,
      wordsPath: String, files: Seq[String], probes: Seq[Long],
      trueFiles: Set[String])
  private val bloomMemo =
    new java.util.concurrent.ConcurrentHashMap[String, BloomIndex]()
  // per-dir build locks: concurrent builds for DIFFERENT sfDirs proceed
  // in parallel (a global lock serialized them through one monitor)
  private val bloomLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val bloomBuilds = new java.util.concurrent.atomic.AtomicInteger

  /** First-8-hex-chars md5 hash as a Long — the JVM mirror of
    * `Dedup.hexHash32(md5(x))`, for probing the engine-built Bloom words
    * on the driver (big-endian first 4 digest bytes = the nibble sum the
    * Catalyst expression computes; equality is asserted per probe in
    * LakehouseCertificatesSpec).
    */
  private[queries] def jvmHash32(x: String): Long = {
    val dg = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
      ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
  }

  /** Build (or append) the per-file Bloom manifest for exactly the data
    * files in `dataPaths`: one meta(f, nwords) row per file — sized from
    * THAT file's own row count, the no-global-coupling property q315
    * exists to prove — and its occupied words(f, w, bits). `mode` is
    * "overwrite" for an ingest-time full build (q307) and "append" for
    * incremental maintenance (q315): appending only ever ADDS manifest
    * part-files, so existing filters are never rebuilt or resized.
    */
  private def writeBloomManifest(s: SparkSession, dataPaths: Seq[String],
      metaPath: String, wordsPath: String, mode: String): Unit = {
    val back = s.read.parquet(dataPaths: _*)
    // per-file sizing: m_f = 24 bits × that file's rows (floor 1024
    // bits so a near-empty file still has a well-formed filter) — fpp ≈
    // (1−e^(−3/24))³ ≈ 0.16 % per file without any global-row-count
    // coupling: adding files never resizes existing filters
    back.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"))
      .select(col("f"),
        greatest(lit(16L), expr("(rows * 24 + 63) div 64")).as("nwords"))
      .write.mode(mode).parquet(metaPath)
    // the join on f restricts to `back`'s own files, so in append mode
    // the (now larger) meta relation still only sizes the NEW files' bits
    val meta = s.read.parquet(metaPath)
    def bitCol(j: Int) =
      graft.operators.Dedup.hexHash32(md5(concat(lit(s"bf$j:"),
        col("event_id").cast("string")))) % (col("nwords") * lit(64L))
    // sparse word build: one broadcast of the |files|-row meta onto the
    // scan, explode to 3 bit positions, one bit_or aggregate — the
    // manifest is written straight back to parquet, nothing collects.
    // The round-robin repartition decouples hash parallelism from the
    // FILE layout: an incrementally-appended batch is often ONE file =
    // one scan partition, which serialized the whole md5∘hexHash32 chain
    // onto a single task (measured 8× the full rebuild's per-row wall at
    // sf10); input_file_name() is pinned before the exchange.
    back.select(input_file_name().as("f"), col("event_id"))
      .repartition(s.sessionState.conf.numShufflePartitions)
      .join(broadcast(meta), "f")
      .select(col("f"),
        explode(array(bitCol(0), bitCol(1), bitCol(2))).as("bit"))
      .select(col("f"), expr("bit div 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").as("mask"))
      .groupBy("f", "w").agg(expr("bit_or(mask)").as("bits"))
      // w-sorted within each manifest file so the probe's pushed
      // `w IN (...)` predicate prunes at parquet row-group min/max —
      // a point lookup reads O(|probes|·k) row groups, never the
      // whole words relation
      .sortWithinPartitions("w")
      .write.mode(mode).parquet(wordsPath)
  }

  /** Probe the manifest for `probes`: returns the sorted surviving file
    * names (files where ALL 3 candidate bits of some probe are set). The
    * only driver transfers are the |files|-row meta collect and the
    * surviving names — never a dense bit array.
    */
  private def probeSurvivors(s: SparkSession, metaPath: String,
      wordsPath: String, probes: Seq[Long]): Seq[String] = {
    import s.implicits._
    // manifest-scale meta collect: one (f, nwords) row per data FILE
    val meta = s.read.parquet(metaPath)
      .select("f", "nwords").as[(String, Long)].collect()
    // candidate bit table: |files| × |probes| × 3 rows, bit positions
    // from the SAME hash chain the build used (cert-pinned jvmHash32),
    // each reduced mod that file's own m_f
    val cand = for {
      (f, nw) <- meta.toSeq
      id <- probes
      j <- 0 to 2
    } yield {
      val bit = jvmHash32(s"bf$j:$id") % (nw * 64L)
      (f, id, bit / 64L, 1L << (bit % 64L).toInt)
    }
    // probe via the manifest join: the `w IN (...)` predicate pushes to
    // the parquet scan (row-group min/max over the w-sorted manifest,
    // so a lookup reads O(|probes|·k) row groups, never the whole words
    // relation), then the candidate table broadcasts onto the survivors
    // (an inner hash join — a missing word means the bit is 0). A probe
    // survives a file iff ALL 3 of its candidate bits are set; the
    // driver receives only surviving file names.
    if (cand.isEmpty) Seq.empty
    else s.read.parquet(wordsPath)
      .filter(col("w").isin(cand.map(_._3).distinct: _*))
      .join(broadcast(cand.toDF("f", "id", "w", "mask")), Seq("f", "w"))
      .filter((col("bits").bitwiseAND(col("mask"))) =!= 0L)
      .groupBy("f", "id").agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === 3)
      .select("f").distinct()
      .as[String].collect().toSeq.sorted
  }

  private def bloomIndex(s: SparkSession, d: String): BloomIndex = {
    // content check, not a bare isDirectory: a partially-deleted scratch
    // tree would otherwise be reused as a stale index — _SUCCESS is the
    // committer's atomic completion marker for each of the three writes
    def valid(i: BloomIndex): Boolean =
      Seq(i.dataPath, i.metaPath, i.wordsPath)
        .forall(p => new java.io.File(p, "_SUCCESS").isFile)
    val hit = bloomMemo.get(d)
    if (hit != null && valid(hit)) return hit
    val lock = bloomLocks.computeIfAbsent(d, _ => new Object)
    lock.synchronized {
      val again = bloomMemo.get(d)
      if (again != null && valid(again)) return again
      val dir = graft.streaming.TempDirs.scratch(
        s"graft_q307_${ProcessHandle.current().pid()}_${bloomBuilds.incrementAndGet()}")
      val dataPath = new java.io.File(dir, "data").getPath
      val metaPath = new java.io.File(dir, "meta").getPath
      val wordsPath = new java.io.File(dir, "words").getPath
      Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
        .repartition(16, col("user_id"))
        .write.mode("overwrite").parquet(dataPath)
      val back = s.read.parquet(dataPath)
      writeBloomManifest(s, Seq(dataPath), metaPath, wordsPath, "overwrite")
      val probes = back.select("event_id")
        .filter(graft.operators.Dedup.hexHash32(md5(concat(lit("bfp:"),
          col("event_id").cast("string")))) % 97 === 0)
        .orderBy("event_id").limit(3)
        .collect().map(_.getLong(0)).toSeq
      val trueFiles = back.filter(col("event_id").isin(probes: _*))
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      val idx = BloomIndex(dataPath, metaPath, wordsPath,
        back.inputFiles.toSeq.sorted, probes, trueFiles)
      bloomMemo.put(d, idx): Unit
      idx
    }
  }

  /** File-level Bloom-index point lookup — the secondary-index skipping
    * layer for keys the physical layout does NOT organize: the fixture
    * files are hash-scattered on user_id, so a point lookup on event_id
    * gets nothing from zone maps (q210: every file's [min,max] spans the
    * domain) or bucket pruning (q302: wrong key) — but each file's Bloom
    * bitmask answers "definitely absent" in KB of metadata, and the scan
    * list shrinks from 16 files to the probes' ≈3 homes plus rare false
    * positives. The in-query asserts pin both Bloom obligations: NO false
    * negative (every probe's true file survives — a miss would silently
    * drop rows and fail the hash too) and real pruning (survivors <
    * total). The returned rows are layout-independent, so the oracle is a
    * plain IN lookup.
    *
    * Scale: this is parquet's own footer Bloom machinery re-expressed as
    * an explicit index table — built once at ingest by the engine itself
    * (bit positions via the hexHash32∘md5 chain, one bit_or aggregate;
    * each file's filter sized from its OWN row count at 24 bits = 3
    * bytes/row and stored sparsely as occupied words in a manifest
    * parquet relation).
    * Probing broadcast-joins a |files|×|probes|×3-row candidate bit table
    * (driver-computed via jvmHash32, certificate-asserted equal to the
    * engine chain) against the words manifest, so the only driver
    * transfers are the |files|-row meta collect and the surviving file
    * names — never a dense bit array. At 100 TB the index rides the
    * manifest the same way zone maps do: the words relation is ~rows/4
    * entries but lives and is scanned distributed, and per-file sizing
    * means ingesting new files never rebuilds or resizes old filters.
    */
  private val q307 = Q("q307_bloom_file_skip",
    (s, d) => {
      val idx = bloomIndex(s, d)
      val surviving = probeSurvivors(s, idx.metaPath, idx.wordsPath, idx.probes)
      if (!idx.trueFiles.subsetOf(surviving.toSet))
        throw new IllegalStateException("Bloom false negative: " +
          s"${idx.trueFiles -- surviving.toSet} pruned but hold probe rows")
      if (idx.probes.nonEmpty && surviving.size >= idx.files.size)
        throw new IllegalStateException(
          s"Bloom index pruned nothing (${surviving.size}/${idx.files.size})")
      val scan =
        if (surviving.isEmpty)
          s.read.schema("event_id BIGINT, user_id BIGINT, " +
            "event_type STRING, value DOUBLE").parquet()
        else s.read.parquet(surviving: _*)
      scan.filter(col("event_id").isin(idx.probes: _*))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
    Some {
      val h = "md5('bfp:' || event_id)"
      s"""WITH probes AS (SELECT event_id FROM events
          WHERE (${TrainingDataQueries.duckHash32(h)}) % 97 = 0
          ORDER BY event_id LIMIT 3)
        SELECT e.event_id, e.user_id, e.event_type, e.value
        FROM events e JOIN probes p ON e.event_id = p.event_id
        ORDER BY e.event_id"""
    })

  /** Per-(JVM, sfDir) memo of the q315 incrementally-maintained index:
    * a BASE corpus (events with event_id % 16 ≠ 15, hash-scattered into
    * 15 files) indexed with a full manifest build, then ONE late-arriving
    * data file (the event_id % 16 = 15 rows) ingested INCREMENTALLY —
    * only its own meta row and words rows are computed and APPENDED to
    * the manifest. `baseManifest` snapshots every base manifest
    * part-file's (name → size) immediately after the base build: the
    * proof obligation is that the append created only NEW part-files and
    * left every base one byte-for-byte in place.
    */
  private case class BloomAppendIndex(dataPaths: Seq[String],
      metaPath: String, wordsPath: String, files: Seq[String],
      probes: Seq[Long], trueFiles: Set[String], newFiles: Set[String],
      baseManifest: Map[String, Long])
  private val bloomAppendMemo =
    new java.util.concurrent.ConcurrentHashMap[String, BloomAppendIndex]()
  private val bloomAppendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def manifestSnapshot(paths: Seq[String]): Map[String, Long] =
    paths.flatMap { p =>
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_"))
        .map(f => f.getPath -> f.length())
    }.toMap

  private def bloomAppendIndex(s: SparkSession, d: String): BloomAppendIndex = {
    def valid(i: BloomAppendIndex): Boolean =
      (i.dataPaths ++ Seq(i.metaPath, i.wordsPath))
        .forall(p => new java.io.File(p, "_SUCCESS").isFile)
    val hit = bloomAppendMemo.get(d)
    if (hit != null && valid(hit)) return hit
    val lock = bloomAppendLocks.computeIfAbsent(d, _ => new Object)
    lock.synchronized {
      val again = bloomAppendMemo.get(d)
      if (again != null && valid(again)) return again
      val dir = graft.streaming.TempDirs.scratch(
        s"graft_q315_${ProcessHandle.current().pid()}_${bloomBuilds.incrementAndGet()}")
      val basePath = new java.io.File(dir, "base").getPath
      val newPath = new java.io.File(dir, "new").getPath
      val metaPath = new java.io.File(dir, "meta").getPath
      val wordsPath = new java.io.File(dir, "words").getPath
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      // ingest #1: the existing corpus, full manifest build (split on
      // event_id: sf0.001's user_id domain is only [0,15), so a user_id
      // split would leave the late file empty there)
      ev.filter(col("event_id") % 16 =!= 15)
        .repartition(15, col("user_id"))
        .write.mode("overwrite").parquet(basePath)
      writeBloomManifest(s, Seq(basePath), metaPath, wordsPath, "overwrite")
      val base = manifestSnapshot(Seq(metaPath, wordsPath))
      // ingest #2: one late file — index ONLY it, append to the manifest
      ev.filter(col("event_id") % 16 === 15)
        .repartition(1)
        .write.mode("overwrite").parquet(newPath)
      writeBloomManifest(s, Seq(newPath), metaPath, wordsPath, "append")
      // probes: 2 from the base corpus (q307's deterministic mod-97
      // chain) + the new file's smallest event_id, so the lookup
      // exercises base filters AND the appended one in the same probe set
      val baseBack = s.read.parquet(basePath)
      val newBack = s.read.parquet(newPath)
      val baseProbes = baseBack.select("event_id")
        .filter(graft.operators.Dedup.hexHash32(md5(concat(lit("bfp:"),
          col("event_id").cast("string")))) % 97 === 0)
        .orderBy("event_id").limit(2)
        .collect().map(_.getLong(0)).toSeq
      val newProbe = newBack.agg(min("event_id")).collect().head.getLong(0)
      val probes = (baseProbes :+ newProbe).distinct
      val all = baseBack.unionByName(newBack)
      val trueFiles = all.filter(col("event_id").isin(probes: _*))
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      val idx = BloomAppendIndex(Seq(basePath, newPath), metaPath, wordsPath,
        (baseBack.inputFiles ++ newBack.inputFiles).toSeq.sorted, probes,
        trueFiles, newBack.inputFiles.toSet, base)
      bloomAppendMemo.put(d, idx): Unit
      idx
    }
  }

  /** Dev accessor for q315 certificates: (base-manifest snapshot taken
    * right after the full build, current manifest snapshot, the appended
    * data files, probes). Read-only view of the memoized index.
    */
  private[graft] def bloomAppendView(s: SparkSession, d: String)
      : (Map[String, Long], Map[String, Long], Set[String], Seq[Long]) = {
    val idx = bloomAppendIndex(s, d)
    (idx.baseManifest, manifestSnapshot(Seq(idx.metaPath, idx.wordsPath)),
      idx.newFiles, idx.probes)
  }

  /** Incremental Bloom-index maintenance — q307's design note made a
    * claim ("adding files never rebuilds or resizes old filters",
    * per-file sizing with no global coupling) that r13's VERDICT asked to
    * be PROVEN as an operator, not asserted in prose. A base corpus is
    * indexed once; a late-arriving file is then ingested by computing
    * only ITS meta row and words rows and appending them to the manifest
    * relations — O(new file) work regardless of corpus size, the property
    * that makes the index maintainable at 100 TB (a full rebuild is
    * O(corpus) and component-timed at 72 s/sf10).
    *
    * Three in-query asserts pin the contract: (a) every base manifest
    * part-file is still present at its snapshot size and the post-append
    * manifest is a strict superset — the append touched nothing old; (b)
    * no false negative across BOTH generations — the probe set includes a
    * key that lives only in the appended file, so a silently-missing
    * incremental filter fails loudly here, not as a hash mismatch; (c)
    * the lookup still prunes (survivors < total files). The returned rows
    * are layout-independent, so the oracle is a plain IN lookup.
    */
  private val q315 = Q("q315_bloom_index_append",
    (s, d) => {
      val idx = bloomAppendIndex(s, d)
      val after = manifestSnapshot(Seq(idx.metaPath, idx.wordsPath))
      val touched = idx.baseManifest.filter { case (p, sz) =>
        after.get(p) match { case Some(now) => now != sz; case None => true }
      }
      if (touched.nonEmpty)
        throw new IllegalStateException("incremental append rewrote base " +
          s"manifest files: ${touched.keys.toSeq.sorted.take(3)}")
      if (after.size <= idx.baseManifest.size)
        throw new IllegalStateException("incremental append added no " +
          s"manifest part-files (${after.size} <= ${idx.baseManifest.size})")
      val surviving = probeSurvivors(s, idx.metaPath, idx.wordsPath, idx.probes)
      if (!idx.trueFiles.subsetOf(surviving.toSet))
        throw new IllegalStateException("Bloom false negative after append: " +
          s"${idx.trueFiles -- surviving.toSet} pruned but hold probe rows")
      if (idx.probes.nonEmpty && surviving.size >= idx.files.size)
        throw new IllegalStateException(
          s"appended index pruned nothing (${surviving.size}/${idx.files.size})")
      val scan = s.read.parquet(surviving: _*)
      scan.filter(col("event_id").isin(idx.probes: _*))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
    Some {
      val h = "md5('bfp:' || event_id)"
      s"""WITH probes AS (
          SELECT event_id FROM (
            SELECT event_id FROM events
            WHERE event_id % 16 <> 15
              AND (${TrainingDataQueries.duckHash32(h)}) % 97 = 0
            ORDER BY event_id LIMIT 2)
          UNION
          SELECT MIN(event_id) FROM events WHERE event_id % 16 = 15)
        SELECT e.event_id, e.user_id, e.event_type, e.value
        FROM events e JOIN probes p ON e.event_id = p.event_id
        ORDER BY e.event_id"""
    })

  override val all: Seq[Q] = Seq(q208, q209, q210, q211, q224, q238, q239,
    q240, q244, q250, q257, q268, q301, q302, q305, q307, q315)
}
