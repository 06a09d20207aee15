package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{OracleSql => O, Tables}
import graft.functions.StableAgg
import graft.streaming.TempDirs
import StreamGate.{feed, inChunks}

/** Shared on-disk replay fixtures for the file-source streaming gates
  * (q149, q152, q159): each gate used to rebuild its parquet spool with
  * 4 `coalesce(1)` write jobs PER RUN, which the bench then pays 2-3
  * times per gate per round (VERDICT r5 item 1). The slices are instead
  * written ONCE per (JVM, sfDir) here and each run copies the part
  * files into its private spool dir — a few ms of `Files.copy` against
  * seconds of Spark write jobs. Runs stay independent (the file stream
  * source tracks processed files by absolute path, so per-run spools
  * keep checkpoint logs disjoint); the fixture dir itself is never
  * mutated after creation and is swept by [[TempDirs]] at exit.
  */
private[queries] object StreamFixtures {
  import java.io.File

  final case class Spool(files: IndexedSeq[File],
      schema: org.apache.spark.sql.types.StructType, maxTsMs: Long)

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Spool]()

  private def partFile(dir: File): File =
    dir.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head

  private def root(kind: String, d: String): File =
    TempDirs.scratch(
      s"graft_fix_${kind}_${ProcessHandle.current().pid()}_${math.abs(d.hashCode)}")

  private def eventCols(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_ms"))

  /** The (doc_id, text) replay of the documents table in doc_id order,
    * memoized under `key` (q204, q318). */
  def docRows(s: SparkSession, d: String, key: String): Seq[(Long, String)] =
    replayRows(key, d) {
      Tables.documents(s, d).select("doc_id", "text")
        .orderBy("doc_id").collect().iterator
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    }

  /** A spool dir of `fix`'s files as a parquet file stream, one file per
    * trigger (q149, q152, q159, q275). */
  def stream(s: SparkSession, fix: Spool, dir: File): DataFrame =
    s.readStream.schema(fix.schema).option("maxFilesPerTrigger", "1").parquet(dir.getPath)

  /** 4 slices by `event_id % 4` — arrival order irrelevant (complete-mode
    * gates q149/q152).
    */
  def mod4(s: SparkSession, d: String): Spool =
    cache.computeIfAbsent(s"mod4|$d", _ => {
      val ev = eventCols(s, d)
      val dir = root("mod4", d)
      val files = (0 until 4).map { i =>
        val slice = new File(dir, s"w$i")
        ev.filter(pmod(col("event_id"), lit(4)) === i)
          .coalesce(1).write.mode("overwrite").parquet(slice.getPath)
        partFile(slice)
      }
      Spool(files, ev.schema, 0L)
    })

  /** 4 slices in EVENT-TIME order (global (ts_ms, event_id) rank
    * quartiles) plus a 5th watermark-sentinel file 2 h past the end —
    * the arrival shape the event-time gates need (q159): time advances
    * across files, so watermarks move batch by batch and windows
    * straddle the slice boundaries.
    */
  def timeQuarters(s: SparkSession, d: String): Spool =
    cache.computeIfAbsent(s"timeq|$d", _ => {
      import s.implicits._
      val ev = eventCols(s, d)
      val maxTs = ev.agg(max(col("ts_ms"))).head().getLong(0)
      val dir = root("timeq", d)
      val bucketed = ev.withColumn("bkt",
        ntile(4).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts_ms"), col("event_id"))))
      val files = (1 to 4).map { i =>
        val slice = new File(dir, s"w$i")
        bucketed.filter(col("bkt") === i).drop("bkt")
          .coalesce(1).write.mode("overwrite").parquet(slice.getPath)
        partFile(slice)
      }
      val sentSlice = new File(dir, "sentinel")
      Seq((-1L, "zz_sentinel", 0.0d, maxTs + 7200000L))
        .toDF("event_id", "event_type", "value", "ts_ms")
        .coalesce(1).write.mode("overwrite").parquet(sentSlice.getPath)
      Spool(files :+ partFile(sentSlice), ev.schema, maxTs)
    })

  /** Copy fixture part files into a run-private spool dir. The file
    * stream source orders files by (modification time, path), so the
    * copies get STRICTLY INCREASING mtimes in slice order — with
    * `maxFilesPerTrigger=1` that pins one slice per micro-batch in
    * event-time order, which the watermark-sensitive gates (q159)
    * need: a later slice processed first would advance the watermark
    * past the earlier slices and drop their rows as late.
    */
  private val rowCache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Per-JVM memo of a gate's driver-side replay fixture — the
    * collected, sorted row Seq a MemoryStream gate feeds in its replay
    * rounds. The collect is replay HARNESS, not the gated operator
    * (the production entry is the DSv2 source; the MemoryStream exists
    * to pin arrival order hermetically), and the bench samples every
    * gate twice per JVM — memoizing pays the Spark collect+sort once,
    * exactly like the spool-file cache above pays its write jobs once.
    * Keyed by (gate, sfDir); each entry is an sf-scale event
    * projection (~100k tuples / a few MB at sf0.1), and entries live
    * for the JVM — bounded by |gates|, not |runs|.
    */
  def replayRows[T <: AnyRef](key: String, d: String)(build: => T): T = {
    // Build OUTSIDE any CHM lock: computeIfAbsent would hold the hash-bin
    // lock across the whole Spark collect+sort job, serializing unrelated
    // builders that collide on a bin under parallel suites, and a builder
    // that itself called replayRows would hit CHM's recursive-update
    // restriction. get-then-putIfAbsent races at worst duplicate a cheap
    // driver-side collect; the first writer wins and everyone returns it.
    val k = s"$key|$d"
    val hit = rowCache.get(k)
    if (hit != null) return hit.asInstanceOf[T]
    val built = build
    val prev = rowCache.putIfAbsent(k, built)
    (if (prev != null) prev else built).asInstanceOf[T]
  }

  def copyTo(files: Seq[File], spool: File): Unit = {
    spool.mkdirs(): Unit
    val base = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = new File(spool, s"$i-${f.getName}")
      java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
      dst.setLastModified(base + i * 2000L): Unit
    }
  }
}

/** Scale-headroom operators (round 6): mergeable approximate sketches
  * (the 100 TB profiling path exact COUNT(DISTINCT)/sort-based
  * percentiles cannot walk), the degree-ordered triangle orientation
  * (the hub-skew bound), and checkpoint recovery across a STATEFUL
  * streaming operator (state-store recovery, not just source-offset
  * recovery).
  */
object ScaleQueries extends Registry {

  /** HLL++ mergeable distinct sketch (`approx_count_distinct`, rsd 1 %)
    * gated against the exact count: the estimate itself cannot be
    * reproduced cross-engine, so the gate hashes (a) the exact distinct
    * count, which DuckDB recomputes, and (b) an integer error bucket
    * `floor(|approx-exact| * 50 / exact)` that is 0 iff the estimate
    * lands within 2 % — deterministic because HLL registers are a
    * commutative max over per-value hashes (partition-order-free; see
    * SketchSpec for the explicit merge-invariance property test). This
    * is the sketch that replaces q134's exact distincts at 100 TB:
    * partial sketches merge across partitions with no (column, value)
    * shuffle, turning the profile's Expand-based distincts into one
    * scan + tiny buffers.
    */
  private val q156 = Q("q156_hll_distinct_sketch",
    (s, d) => {
      // r14: dedupe (event_type, user_id) FIRST, then count + sketch the
      // distinct pairs. The old single-agg form (countDistinct +
      // approx_count_distinct together) planned as an Expand whose partial
      // aggregate carried the rsd-1% HLL's ~13 KB register buffer PER
      // (event_type, user_id) GROUP — ~1.3 GB of buffer churn per pass
      // (measured: 61-72 s of task CPU at sf0.1 once the scan was fanned).
      // HLL register updates are idempotent max()es, so sketching the
      // distinct pairs yields the IDENTICAL estimate, n_exact is the pair
      // count, and exactly |event_type| HLL buffers ever exist — which is
      // also the 100 TB shape (map-side partial distinct, tiny sketch
      // state). fanOut: partial distinct agg off the 1-task fixture scan.
      // r15: count(user_id), not count(1), over the deduped pairs — a NULL
      // user_id row survives the pair distinct but COUNT(DISTINCT user_id)
      // (the oracle, and the HLL) excludes NULLs; count(col) restores exact
      // COUNT(DISTINCT) semantics at zero cost (r14 verdict item 1).
      Tables.fanOut(Tables.events(s, d))
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy("event_type")
        .agg(
          count(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.01).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          floor(abs(col("n_approx") - col("n_exact")).cast("double") *
            lit(50.0d) / col("n_exact").cast("double")).cast("long")
            .as("err_bucket_2pct"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        CAST(0 AS BIGINT) AS err_bucket_2pct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Mergeable quantile sketch (`percentile_approx`, Greenwald-Khanna
    * summaries, accuracy 1000 ⇒ rank error ≤ n/1000) gated by the
    * GK THEOREM rather than the estimate: the sketch value is joined
    * back against the data to measure its exact rank window
    * [cnt_lt+1, cnt_le], which must intersect [⌈(p−ε)n⌉−1, ⌊(p+ε)n⌋+1].
    * That boolean is TRUE for ANY valid GK output — robust to the
    * summary's merge-order sensitivity — and FALSE for a broken sketch,
    * which is exactly the falsifiable surface an approximate operator
    * can offer a hash gate. n and the group keys pin the rest. At
    * 100 TB this sketch replaces sort-based percentiles (q9): summaries
    * merge across partitions in O(1/ε) space with no global sort.
    */
  private val q157 = Q("q157_quantile_sketch",
    (s, d) => {
      val eps = 0.001d
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val sk = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          percentile_approx(col("value"),
            array(lit(0.5d), lit(0.95d), lit(0.99d)), lit(1000)).as("est"))
        .select(col("event_type"), col("n"),
          posexplode(col("est")).as(Seq("pi", "est_v")))
        .withColumn("p",
          element_at(array(lit(0.5d), lit(0.95d), lit(0.99d)), col("pi") + 1))
      val ranked = ev.join(broadcast(sk), Seq("event_type"))
        .groupBy("event_type", "p", "n", "est_v")
        .agg(
          sum(when(col("value") <= col("est_v"), 1L).otherwise(0L)).as("cnt_le"),
          sum(when(col("value") < col("est_v"), 1L).otherwise(0L)).as("cnt_lt"))
      ranked
        .withColumn("lo", ceil((col("p") - lit(eps)) * col("n").cast("double")) - lit(1))
        .withColumn("hi", floor((col("p") + lit(eps)) * col("n").cast("double")) + lit(1))
        .select(col("event_type"), col("p"), col("n"),
          (col("cnt_le") >= col("lo") && col("cnt_lt") <= col("hi")).as("rank_ok"))
        .orderBy("event_type", "p")
    },
    Some("""SELECT event_type, p, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS rank_ok
      FROM events CROSS JOIN (VALUES (0.5::DOUBLE), (0.95::DOUBLE), (0.99::DOUBLE)) AS pp(p)
      GROUP BY event_type, p ORDER BY event_type, p"""))

  /** Degree-ordered triangle counting (VERDICT r5 item 4): same
    * min-support co-supply graph and same per-node triangle counts as
    * q117, but wedges are anchored by DEGREE orientation — every edge
    * points from its lower-(degree, id) endpoint to the higher one, and
    * wedges form only at each triangle's lowest-degree vertex. This is
    * the standard hub-skew bound (Suri & Vassilvitskii's MR triangle
    * counting): a vertex's oriented out-degree is O(√|E|) regardless of
    * its raw degree, so the wedge join's per-key fan-out — the term
    * that explodes on power-law graphs at 100 TB — is capped, where
    * q117's id-ordered orientation lets a low-id hub anchor all its
    * wedges. Same oracle as q117: per-node counts are orientation-
    * invariant (each triangle still counted exactly once, at exactly
    * one anchor); TriangleOrientSpec property-tests the equality
    * query-side too.
    */
  private val q158 = Q("q158_triangle_degree_ordered",
    (s, d) => {
      val e = ExtendedQueries.coSupplyEdges(s, d)
      val deg = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      // total orientation key: deg ⊕ id packed into one BIGINT (ids are
      // suppkeys < 2^32; ties on degree break by id, so the order is
      // strict and the orientation acyclic)
      def key(degC: org.apache.spark.sql.Column, idC: org.apache.spark.sql.Column) =
        degC * lit(4294967296L) + idC
      val ek = e
        .join(deg.as("da"), col("a") === col("da.v"))
        .join(deg.as("db"), col("b") === col("db.v"))
        .select(col("a"), col("b"),
          key(col("da.deg"), col("a")).as("ka"),
          key(col("db.deg"), col("b")).as("kb"))
      val oriented = ek.select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
        greatest(col("ka"), col("kb")).as("kdst"))
      val wedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
        .select(col("e1.src").as("w"), col("e1.dst").as("u"),
          col("e2.dst").as("v"))
      // the closing edge {u,v} — if present — is oriented u→v because
      // key(u) = e1.kdst < e2.kdst = key(v)
      val tris = wedges.join(oriented.as("e3"),
          col("u") === col("e3.src") && col("v") === col("e3.dst"))
        .select(col("w"), col("u"), col("v"))
      ExtendedQueries.triangleCounts(tris)
    },
    Some(ExtendedQueries.triangleOracle))

  /** Checkpoint recovery across a STATEFUL operator (VERDICT r5 item
    * 8): an event-time tumbling-window aggregation in APPEND mode runs
    * over the first two time-quartile files, stops mid-stream, and a
    * NEW query resumes from the same checkpoint over the rest. Append
    * mode makes this strictly stronger than q152's complete-mode gate:
    * (a) the boundary window straddles the restart, so its counts are
    * right only if the partial per-window AGGREGATION STATE was
    * restored from the state store — complete mode could hide a lost
    * window behind re-emission, append cannot; (b) windows are emitted
    * exactly once across BOTH runs only if the WATERMARK was restored —
    * a watermark reset to 0 re-emits run-1 windows and duplicates them
    * in the union; (c) re-listed spool files must not replay (source
    * log recovery). The union of the two runs' append outputs (run 2
    * closed by the sentinel file) must equal the whole-input batch
    * oracle, with zero overlap.
    */
  private val q159 = Q("q159_stateful_restart",
    (s, d) => {
      val fix = StreamFixtures.timeQuarters(s, d)
      val dir = StreamGate.scratch("q159")
      val spool = new java.io.File(dir, "spool")
      val cp = new java.io.File(dir, "checkpoint").getPath
      val out = new java.io.File(dir, "out").getPath
      // PARQUET file sink, not memory: the memory sink refuses append-
      // mode checkpoint recovery, and the file sink adds its own
      // restart surface to the gate — the sink's commit log must carry
      // run 1's committed batches across the restart, or the batch
      // read below would see duplicates/partials.
      def runHalf(): Unit = {
        val src = StreamFixtures.stream(s, fix, spool)
        val agg = src
          .withColumn("event_time", timestamp_millis(col("ts_ms")))
          .withWatermark("event_time", "0 seconds")
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            StableAgg.dsum(col("value")).as("total_value"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("event_type"), col("cnt"), col("total_value"))
        StreamGate.replay(s, agg, StreamGate.drainOnly) {
          _.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
        }
      }
      StreamFixtures.copyTo(fix.files.take(2), spool)
      runHalf() // first run: quartiles 1-2, stop mid-stream
      StreamFixtures.copyTo(fix.files.drop(2), spool) // quartiles 3-4 + sentinel
      runHalf() // NEW query, same checkpoint: state must resume
      s.read.parquet(out)
        .filter(col("event_type") =!= "zz_sentinel")
        .select(col("window_start_ms"), col("event_type"), col("cnt"),
          col("total_value"))
        .orderBy("window_start_ms", "event_type")
    },
    Some(s"""SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        ${O.dsum("value")} AS total_value
      FROM events GROUP BY window_start_ms, event_type
      ORDER BY window_start_ms, event_type"""))

  /** Two-level Datasketches HLL rollup (`hll_sketch_agg` →
    * `hll_union_agg`): per-(type, day) sketches — the shape a 100 TB
    * profile PERSISTS as a binary column — are re-merged to per-type
    * estimates two different ways (one-level union vs union of
    * per-shard unions), and the two must agree EXACTLY: HLL union is
    * register-wise max, so any grouping of the same sketch set yields
    * the same union state. That associativity boolean is the
    * mergeability contract incremental profiling relies on (yesterday's
    * sketches + today's partition = the running total, no rescan), and
    * it is falsifiable cross-engine-free; the exact distinct count and
    * a 5 % error bucket (lgK=12 ⇒ rsd ≈ 1.6 %) pin accuracy via the
    * DuckDB oracle. Unlike q156's HLL++ (whose buffers live only
    * inside one aggregation), these sketches are first-class binary
    * VALUES — they can be stored, shipped, and unioned next week.
    */
  private val q160 = Q("q160_hll_sketch_rollup",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("day", expr("(ts_ms - pmod(ts_ms, 86400000L)) div 86400000L"))
      val daily = ev.groupBy("event_type", "day")
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val one = daily.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_one"))
      val two = daily
        .withColumn("shard", pmod(col("day"), lit(3)))
        .groupBy("event_type", "shard")
        .agg(hll_union_agg(col("sk")).as("sk2"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk2"))).as("n_two"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(one, "event_type").join(two, "event_type")
        .select(col("event_type"), col("n_exact"),
          (col("n_one") === col("n_two")).as("assoc_ok"),
          floor(abs(col("n_one") - col("n_exact")).cast("double") *
            lit(20.0d) / col("n_exact").cast("double")).cast("long")
            .as("err_bucket_5pct"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        TRUE AS assoc_ok, CAST(0 AS BIGINT) AS err_bucket_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Count-Min sketch frequency bounds (`count_min_sketch`, ε=1e-4,
    * δ=0.001, fixed seed): one linear-mergeable sketch over the token
    * stream, probed for every token whose exact count clears ε·N. The
    * gate asserts the CMS THEOREM per token — estimates never
    * underestimate (row-hash min over pairwise-independent rows) and
    * stay within exact + ⌈ε·N⌉ (deterministic on a fixed corpus +
    * seed) — alongside the exact counts the DuckDB oracle recomputes.
    * The probe set is KB-sized (heavy tokens only), so the UDF probe
    * runs over |candidates| rows, never the corpus; the threshold is
    * exact integer ceil-division on BOTH engines (a double ε·N would
    * diverge by one ulp at round counts). At 100 TB this is the
    * frequency complement to q160: per-partition CMS arrays sum
    * linearly (spec-verified via mergeInPlace), so token-frequency
    * profiling ships fixed 1.6 MB buffers instead of a vocabulary
    * shuffle — the approximate twin of q114's exact MG heavy hitters.
    */
  private val q161 = Q("q161_cms_freq_bounds",
    (s, d) => {
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      val skRow = toks.agg(
          count_min_sketch(col("tok"), lit(0.0001d), lit(0.999d), lit(42)).as("cms"),
          count(lit(1)).as("n_total"))
        .head()
      val bytes = skRow.getAs[Array[Byte]]("cms")
      val nTotal = skRow.getLong(1)
      val slack = (nTotal + 9999L) / 10000L // ⌈ε·N⌉, exact integer on both engines
      val probe = udf(new CmsProbeFn(bytes))
      toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .filter(col("n_exact") >= lit(slack))
        .withColumn("est", probe(col("tok")))
        .select(col("tok"), col("n_exact"),
          (col("est") >= col("n_exact")).as("no_underestimate"),
          (col("est") <= col("n_exact") + lit(slack)).as("within_eps_bound"))
        .orderBy("tok")
    },
    Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        n AS (SELECT (COUNT(*) + 9999) // 10000 AS slack FROM t)
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact,
        TRUE AS no_underestimate, TRUE AS within_eps_bound
      FROM t GROUP BY tok HAVING COUNT(*) >= (SELECT slack FROM n)
      ORDER BY tok"""))

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540;
    * [[graft.operators.Similarity.semDedup]]): quantize the embedding
    * space with the deterministic sampled quantizer (q34's device, so the
    * whole index hash-reproduces in DuckDB), then inside each cell mark
    * every vector whose cosine to a smaller-id cell-mate reaches τ as a
    * duplicate of the smallest such id. `dup_of IS NULL` rows are the
    * pruned corpus — the embedding-space complement to the lexical dedup
    * family (q20-q24, q38): near-identical MEANING with different
    * surface text, which no shingle method can see. τ = 0.3 sits at the
    * fixture's ~99.2th cosine percentile so real dup groups form at
    * every SF. Quadratic work is confined to cells; the cell key is the
    * only shuffle.
    */
  private val q162 = Q("q162_semantic_dedup",
    (s, d) => {
      val corpus = Tables.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.operators.Similarity.semDedup(corpus, tau = 0.3, nlist = 16)
        .select(col("id").as("vec_id"), col("cell"), col("dup_of"), col("is_semdup"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ${TrainingDataQueries.duckCentroidCtes},
      ${TrainingDataQueries.duckCellAssignCte},
      p AS (
        SELECT b.id AS id, MIN(a.id) AS dup_of
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
        WHERE ${TrainingDataQueries.duckCos("a.vec", "b.vec")} >= 0.3::DOUBLE
        GROUP BY b.id)
      SELECT g.id AS vec_id, g.cell, p.dup_of, p.dup_of IS NOT NULL AS is_semdup
      FROM asg g LEFT JOIN p USING (id) ORDER BY vec_id"""))

  /** Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter — the
    * "sideways information passing" a 100 TB fact×selective-dim shuffle
    * join needs): with broadcast disabled (forcing the shuffle-join shape
    * big sides take at scale), the optimizer must build a bloom filter
    * from the filtered orders side and inject a `might_contain` predicate
    * into the lineitem scan stage — rows that can't join are dropped
    * BEFORE the shuffle, cutting exchange volume by the dim's
    * selectivity. The injection is asserted in-query (its absence throws,
    * failing the gate loudly); results must equal the plain-join oracle —
    * a bloom filter may only drop rows that cannot match.
    *
    * Scale: at sf0.1 the filter is belt-and-braces; at 100 TB it is the
    * difference between shuffling the whole fact table and shuffling the
    * ~20 % that can match. The application-side threshold is lowered
    * in-query because the harness scans are MB-sized; production keeps
    * the default 10 GB floor so tiny scans don't pay filter cost.
    */
  private val q216 = Q("q216_runtime_bloom_join",
    (s, d) => {
      // tuned confs on a session CLONE (ConfScope): the assert and the
      // collect both run under the clone, and nothing touches the shared
      // session's confs.
      val out = ConfScope.withConfs(s,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
        val li = Tables.lineitem(c, d)
          .select("l_orderkey", "l_returnflag", "l_extendedprice")
        val urgent = Tables.orders(c, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val joined = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        val opt = joined.queryExecution.optimizedPlan.toString
        if (!opt.contains("might_contain"))
          throw new IllegalStateException(
            s"runtime bloom filter was not injected:\n$opt")
        joined.groupBy("l_returnflag")
          .agg(StableAgg.dsum(col("l_extendedprice")).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("l_returnflag")
          .collect().toIndexedSeq
          .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      }
      s.createDataFrame(out).toDF("l_returnflag", "revenue", "n_items")
    },
    Some(s"""SELECT l_returnflag, ${O.dsum("l_extendedprice")} AS revenue,
        COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q217Runs = new java.util.concurrent.atomic.AtomicInteger

  /** Dynamic partition pruning (the partition-layout twin of q216's
    * row-level bloom filter): orders are WRITTEN partitioned by
    * o_orderpriority (the layout a 100 TB fact table ships with), and a
    * join against a filtered dim on the partition column must inject a
    * `dynamicpruning` expression into the fact scan's PartitionFilters —
    * the fact side then LISTS only the matching partition directories
    * instead of scanning all of them. Asserted in-query (missing DPP
    * throws); the aggregate must match the static-predicate oracle.
    *
    * Scale: with date/tenant partitioning this is the dominant scan
    * eliminator — the dim filter prunes whole directory trees at
    * planning/runtime, and the broadcast that feeds the join is REUSED as
    * the pruning subquery (reuseBroadcastOnly default), so pruning costs
    * nothing extra. The per-run partitioned write is the fixture build;
    * production tables are already laid out this way.
    */
  private val q217 = Q("q217_dynamic_partition_pruning",
    (s, d) => {
      import java.io.File
      val dir = graft.streaming.TempDirs.scratch(
        s"graft_q217_${ProcessHandle.current().pid()}_${q217Runs.incrementAndGet()}")
      Tables.orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(dir.getPath)
      val fact = s.read.parquet(dir.getPath)
      // dim derives from a parquet scan so its filter survives as a
      // selective predicate (a LocalRelation dim would constant-fold and
      // DPP would see no filter to prune with)
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderpriority").as("prio")).distinct()
      val joined = fact.join(dim, col("o_orderpriority") === col("prio"))
      val plan = joined.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      if (!plan.toLowerCase.contains("dynamicpruning"))
        throw new IllegalStateException(
          s"dynamic partition pruning was not planned:\n$plan")
      val out = joined.groupBy("o_orderpriority")
        .agg(StableAgg.dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
        .collect().toIndexedSeq
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      s.createDataFrame(out).toDF("o_orderpriority", "revenue", "n_orders")
    },
    Some(s"""SELECT o_orderpriority, ${O.dsum("o_totalprice")} AS revenue,
        COUNT(*) AS n_orders
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** q219/q220's static side: 100 overlapping [5i, 5i + 7.5] intervals. */
  private def rangeIntervals(s: SparkSession) =
    s.range(0L, 100L).select(col("id").as("interval_id"),
      (col("id").cast("double") * 5.0d).as("lo"),
      (col("id").cast("double") * 5.0d + 7.5d).as("hi"))

  /** q219/q220's result: per-interval point count and exact value sum. */
  private def intervalStats(joined: DataFrame) =
    joined.groupBy("interval_id")
      .agg(count(lit(1)).as("n_points"),
        StableAgg.dsum(col("value")).as("sum_value"))
      .orderBy("interval_id")

  /** The plain range-predicate oracle of q219 and its streaming twin q220. */
  private lazy val rangeJoinOracle: String =
    s"""WITH iv AS (SELECT r.i AS interval_id,
          r.i * 5.0::DOUBLE AS lo, r.i * 5.0::DOUBLE + 7.5::DOUBLE AS hi
        FROM range(0, 100) r(i))
      SELECT interval_id, CAST(COUNT(*) AS BIGINT) AS n_points,
        ${O.dsum("value")} AS sum_value
      FROM events e JOIN iv ON e.value >= iv.lo AND e.value <= iv.hi
      GROUP BY interval_id ORDER BY interval_id"""

  /** The engine's own Catalyst extension at work: a point-in-interval
    * join (events.value ∈ [lo, hi] over 100 overlapping intervals) runs
    * through `RangeJoin.binned`, and the injected
    * [[graft.plans.RangeJoinRewrite]] rule must turn the would-be
    * BroadcastNestedLoopJoin into a bin-bucketed EQUI-join (asserted
    * in-query: any BNLJ/CartesianProduct in the plan throws). Results
    * must hash-match the plain range-predicate oracle — the rewrite
    * keeps the exact [lo, hi] residual, and a point lives in exactly one
    * bin, so no duplicate matches exist to dedup.
    *
    * Scale: this is THE shape for time-window attribution / IP-range /
    * value-band joins at 100 TB — O(|points|·|intervals|) nested-loop
    * pair work becomes a hash shuffle whose per-key cost is
    * points-per-bin × intervals-per-bin, tunable by the bin width like
    * every banding operator in this library.
    */
  private val q219 = Q("q219_range_join_rewrite",
    (s, d) => {
      import graft.operators.RangeJoin
      val pts = Tables.events(s, d).select(col("event_id"), col("value"))
      val iv = rangeIntervals(s)
      val joined = RangeJoin.binned(pts, col("value"), iv,
        col("lo"), col("hi"), width = 5.0)
      val plan = joined.queryExecution.executedPlan.toString
      if (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
        throw new IllegalStateException(
          s"range-join rewrite did not fire — nested-loop plan:\n$plan")
      intervalStats(joined)
    },
    Some(rangeJoinOracle))

  /** Streaming twin of q219: the SAME custom rewrite rule must fire
    * inside the micro-batch plan of a stream-static join — streaming
    * points (events replayed over 3 MemoryStream chunks) range-join the
    * static interval table through `RangeJoin.binned`, stateless append.
    * After the run the LAST micro-batch's executed plan is asserted
    * nested-loop-free (the rule ran under IncrementalExecution, not just
    * batch planning), and the post-stream aggregate must hash-match the
    * same batch oracle as q219 — a dropped chunk, duplicate emission, or
    * a rewrite that changes results all break the hash.
    *
    * Scale: the attribution shape (event stream × window/band table)
    * with the nested loop eliminated per micro-batch; the static side's
    * exploded bins build once per batch at |intervals| cost.
    */
  private val q220 = Q("q220_streaming_range_join",
    (s, d) => {
      import s.implicits._
      import graft.operators.RangeJoin
      val rows: Seq[(Long, Double)] =
        StreamFixtures.replayRows("q220", d) {
          Tables.events(s, d)
            .select(col("event_id"), col("value")).orderBy("event_id")
            .collect().iterator.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        }
      val iv = rangeIntervals(s)
      val mem = StreamGate.memory[(Long, Double)](s)
      val pts = mem.toDF().toDF("event_id", "value")
      val joined = RangeJoin.binned(pts, col("value"), iv,
        col("lo"), col("hi"), width = 5.0)
        .select("interval_id", "event_id", "value")
      // the assertion must never pass vacuously: failing to reach the
      // micro-batch plan is itself a gate failure, not a skip
      def checkPlan(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
        val plan = q match {
          case sqw: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
            Option(sqw.streamingQuery.lastExecution)
              .map(_.executedPlan.toString)
              .getOrElse(throw new IllegalStateException(
                "no micro-batch executed — cannot attest the streaming plan"))
          case other => throw new IllegalStateException(
            s"cannot inspect micro-batch plan of ${other.getClass.getName}")
        }
        if (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
          throw new IllegalStateException(
            s"range-join rewrite did not fire in the micro-batch plan:\n$plan")
      }
      // binned-join expansion is real per-row compute: keep it fused
      intervalStats(StreamGate.toMemory(s, joined, "append", feed(mem, inChunks(rows, 3)),
        StreamGate.GateConf(keepCodegen = true), afterRound = checkPlan))
    },
    Some(rangeJoinOracle))

  /** Decimal twin of q219 — the price-band range join as real market-data
    * lakes store it: DECIMAL price points against DECIMAL band bounds.
    * Stock Catalyst plans this as a nested loop; the engine's
    * RangeJoinRewrite previously fell back to the expanded BETWEEN for
    * decimal operands, and now bins them EXACTLY in unscaled-long space
    * (every operand losslessly rescaled to the common scale, unscaled
    * longs floor-divided by the width's unscaled form — pure integer
    * arithmetic, no double rounding; `plans/RangeJoinRewrite.scala`).
    * Both halves are asserted in-query: the optimized plan must carry
    * the generated bin columns (proof the DECIMAL path fired, not the
    * BETWEEN fallback) and the executed plan must be nested-loop-free.
    * Bands overlap (span 3000, step 2000) so points match 1-2 bands —
    * the multi-match semantics a disjoint banding would not exercise.
    *
    * Oracle parity: the double→decimal cast goes through VARCHAR on the
    * DuckDB side (shortest-round-trip digits + one HALF_UP rounding —
    * Spark's Decimal.set(Double) convention, see OracleSql.dsum); the
    * decimal sum is exact in both engines and renders to double through
    * the same exact-digit path.
    *
    * Scale: the rewrite turns O(|lineitem|·|bands|) pair work into a
    * hash equi-join shuffled on ⌊price/2000⌋ — band rows replicate to
    * ≤2 bins each, point rows to exactly one.
    */
  private val q280 = Q("q280_decimal_range_join",
    (s, d) => {
      import graft.operators.RangeJoin
      val pts = Tables.lineitem(s, d).select(
        col("l_extendedprice").cast("decimal(12,2)").as("price"))
      val iv = s.range(0L, 60L).select(col("id").as("band_id"),
        (col("id") * 2000).cast("decimal(10,2)").as("lo"),
        ((col("id") * 2000).cast("decimal(10,2)") +
          lit(BigDecimal("2999.99")).cast("decimal(6,2)")).as("hi"))
      val joined = RangeJoin.binned(pts, col("price"), iv,
        col("lo"), col("hi"), width = 2000.0)
      val opt = joined.queryExecution.optimizedPlan.toString
      if (!opt.contains("__graft_bin_l"))
        throw new IllegalStateException(
          s"decimal bin path did not fire — BETWEEN fallback plan:\n$opt")
      val plan = joined.queryExecution.executedPlan.toString
      if (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
        throw new IllegalStateException(
          s"range-join rewrite did not fire — nested-loop plan:\n$plan")
      joined.groupBy("band_id")
        .agg(count(lit(1)).as("n_items"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy("band_id")
    },
    Some("""WITH iv AS (SELECT r.i AS band_id,
          (r.i * 2000)::DECIMAL(10,2) AS lo,
          (r.i * 2000)::DECIMAL(10,2) + 2999.99 AS hi
        FROM range(0, 60) r(i)),
      pts AS (SELECT CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(12,2)) AS price
        FROM lineitem)
      SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) AS sum_price
      FROM pts JOIN iv ON price >= lo AND price <= hi
      GROUP BY band_id ORDER BY band_id"""))

  /** AQE skew-join handling — the runtime half of the q49 salting story:
    * a 70%-hot join key makes one shuffle partition carry most of the
    * fact table, and AQE's OptimizeSkewedJoin must SPLIT that partition
    * into parallel sub-reads at runtime (asserted in-query: the final
    * adaptive plan must carry `skew=true`; its absence throws). Salting
    * (q49) rewrites the QUERY to spread a known hot key; AQE skew
    * handling fixes the same straggler with NO query change, from
    * runtime shuffle statistics — the two complementary answers the
    * engine ships for skew at 100 TB. Broadcast is disabled so the join
    * actually shuffles; thresholds are lowered to make the sf0.01
    * fixture's hot partition register as skewed; the aggregate must
    * still hash-match the plain oracle (splitting a partition cannot
    * change the answer).
    */
  private val q237 = Q("q237_aqe_skew_join",
    (s, d) => {
      // tuned AQE thresholds on a session CLONE (ConfScope) — collect and
      // plan assert both execute under the clone's confs.
      // The skew test compares the hot partition with the MEDIAN partition
      // size, so both split counts are fixed rather than the session's
      // core count: with 2 reduce partitions the median is the mean of the
      // two, and the hot partition can never reach 2x of it.
      val splits = 8
      val out = ConfScope.withConfs(s,
        "spark.sql.shuffle.partitions" -> splits.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") { c =>
        // the map-side split matters beyond parallelism here: AQE splits a
        // skewed reduce partition at MAP-OUTPUT granularity, so a
        // single-mapper scan (one small parquet file) leaves nothing to
        // split and the rule silently never fires — exactly the
        // single-file trap a 100 TB table never has
        val fact = Tables.lineitem(c, d).repartition(splits).select(
          when(col("l_orderkey") % 10 < 7, 0L)
            .otherwise(col("l_orderkey") % 97).as("k"),
          col("l_extendedprice"), col("l_quantity"))
        val dim = c.range(0L, 97L)
          .select(col("id").as("k"), (col("id") % 7).as("grp"))
        val agg = fact.join(dim, "k")
          .groupBy("grp")
          .agg(StableAgg.dsum(col("l_extendedprice")).as("revenue"),
            count(lit(1)).as("n_items"),
            StableAgg.dsum(col("l_quantity")).as("qty"))
          .orderBy("grp")
        val rows = agg.collect().toIndexedSeq
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
        val plan = agg.queryExecution.executedPlan.toString
        if (!plan.contains("skew=true"))
          throw new IllegalStateException(
            s"AQE did not split the skewed join partition:\n$plan")
        rows
      }
      s.createDataFrame(out).toDF("grp", "revenue", "n_items", "qty")
    },
    Some(s"""SELECT CAST(k % 7 AS BIGINT) AS grp,
        ${O.dsum("l_extendedprice")} AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        ${O.dsum("l_quantity")} AS qty
      FROM (SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
            ELSE l_orderkey % 97 END AS k,
          l_extendedprice, l_quantity FROM lineitem)
      GROUP BY 1 ORDER BY 1"""))

  /** AMS "tug-of-war" join-size estimation (Alon-Matias-Szegedy 1996 —
    * the sketch a cost-based optimizer consults before picking a join
    * strategy): each side folds to 64 signed counters
    * S[i] = Σ_k n_k·s_i(k) with s_i(k) ∈ {−1,+1} the i-th bit of
    * md5(key); E[S_A[i]·S_B[i]] = |A ⋈ B| exactly, and averaging the 64
    * products estimates the join size from TWO 64-long sketches instead
    * of a join. The signs are pure md5-nibble arithmetic, so the
    * ESTIMATE ITSELF is deterministic and hash-matched (not just
    * bounded) — plus the exact size, the relative error, and a
    * 0.5-bound flag the oracle pins.
    *
    * Scale: one hash exchange on the key (the same pass also computes
    * the exact multiplicity product Σ n_a·n_b as the control), then a
    * single 129-column global fold. In production the two sketch
    * vectors are persisted per table/column at ingest and the estimator
    * runs at PLANNING time — zero data touched per query; the exact arm
    * drops out.
    */
  private val q245 = Q("q245_ams_join_size",
    (s, d) => {
      val a = Tables.lineitem(s, d)
        .select(col("l_partkey").as("key"), lit(1L).as("na"), lit(0L).as("nb"))
      val b = Tables.part(s, d)
        .select(col("p_partkey").as("key"), lit(0L).as("na"), lit(1L).as("nb"))
      def hex32(hexStr: Column, off: Int): Column = {
        def nibble(pos: Int): Column = {
          val c = ascii(substring(hexStr, pos, 1)).cast("long")
          when(c >= 97, c - 87).otherwise(c - 48)
        }
        ((off + 1) to (off + 8))
          .map(p => shiftleft(nibble(p), (8 - (p - off)) * 4)).reduce(_ + _)
      }
      val perKey = a.unionByName(b)
        .groupBy("key")
        .agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))
        .withColumn("mdh", md5(col("key").cast("string")))
        .withColumn("h1", hex32(col("mdh"), 0))
        .withColumn("h2", hex32(col("mdh"), 8))
      def sign(i: Int): Column = {
        val h = if (i < 32) col("h1") else col("h2")
        (shiftright(h, i % 32).bitwiseAND(lit(1L)) * 2 - 1)
      }
      val sketchCols = (0 until 64).flatMap(i => Seq(
        sum(col("na") * sign(i)).as(s"sa_$i"),
        sum(col("nb") * sign(i)).as(s"sb_$i")))
      val g = perKey.agg(
        sum(col("na") * col("nb")).as("exact_join_size"),
        sketchCols: _*)
      val prod = (0 until 64).map(i => col(s"sa_$i") * col(s"sb_$i")).reduce(_ + _)
      g.withColumn("ams_estimate", prod.cast("double") / 64.0d)
        .withColumn("rel_err",
          abs(col("ams_estimate") - col("exact_join_size").cast("double"))
            / col("exact_join_size").cast("double"))
        .withColumn("bound_ok", col("rel_err") <= 0.5d)
        .select("exact_join_size", "ams_estimate", "rel_err", "bound_ok")
    },
    Some {
      def duckNib(p: Int) =
        s"(CASE WHEN ascii(substr(mdh, $p, 1)) >= 97 " +
          s"THEN CAST(ascii(substr(mdh, $p, 1)) - 87 AS BIGINT) " +
          s"ELSE CAST(ascii(substr(mdh, $p, 1)) - 48 AS BIGINT) END)"
      def duckHex32(off: Int) =
        ((off + 1) to (off + 8))
          .map(p => s"(${duckNib(p)} << ${(8 - (p - off)) * 4})").mkString(" + ")
      def sign(i: Int) =
        if (i < 32) s"(((h1 >> ${i % 32}) & 1) * 2 - 1)"
        else s"(((h2 >> ${i % 32}) & 1) * 2 - 1)"
      val sketchSums = (0 until 64).flatMap(i => Seq(
        s"CAST(SUM(na * ${sign(i)}) AS BIGINT) AS sa_$i",
        s"CAST(SUM(nb * ${sign(i)}) AS BIGINT) AS sb_$i")).mkString(",\n          ")
      val prod = (0 until 64).map(i => s"sa_$i * sb_$i").mkString(" + ")
      s"""WITH u AS (
        SELECT l_partkey AS key, 1 AS na, 0 AS nb FROM lineitem
        UNION ALL SELECT p_partkey, 0, 1 FROM part),
      pk AS (SELECT key, CAST(SUM(na) AS BIGINT) AS na,
          CAST(SUM(nb) AS BIGINT) AS nb, md5(CAST(key AS VARCHAR)) AS mdh
        FROM u GROUP BY key, md5(CAST(key AS VARCHAR))),
      ph AS (SELECT key, na, nb, ${duckHex32(0)} AS h1, ${duckHex32(8)} AS h2
        FROM pk),
      g AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_join_size,
          $sketchSums
        FROM ph)
      SELECT exact_join_size,
        CAST(($prod) AS DOUBLE) / 64.0 AS ams_estimate,
        abs(CAST(($prod) AS DOUBLE) / 64.0 - CAST(exact_join_size AS DOUBLE))
          / CAST(exact_join_size AS DOUBLE) AS rel_err,
        abs(CAST(($prod) AS DOUBLE) / 64.0 - CAST(exact_join_size AS DOUBLE))
          / CAST(exact_join_size AS DOUBLE) <= 0.5 AS bound_ok
      FROM g"""
    })

  /** Observable metrics (`Dataset.observe` + `Observation`): ingest QC
    * counters — raw row count, bulk-quantity count, zero-discount count —
    * computed AT THE SCAN, inside the same job that runs the downstream
    * filtered aggregate. The observed numbers cover ALL rows while the
    * aggregate sees only the filtered subset, and both surface in one
    * result (observed rows carry the `_observed:` prefix), so the gate
    * proves the metrics came from the pre-filter stage and cost no
    * second scan.
    *
    * Scale: this is THE mechanism for data-quality accounting at 100 TB —
    * per-batch QC counters ride the production job as map-side
    * accumulators (one `CollectMetrics` node, no extra pass, no
    * `cache()`+`count()` double-scan), and the same call works unchanged
    * under Structured Streaming where the metrics land in each
    * `StreamingQueryProgress`.
    */
  private val q246 = Q("q246_observe_metrics",
    (s, d) => {
      val obs = org.apache.spark.sql.Observation("q246_ingest_qc")
      val li = Tables.fanOut(Tables.lineitem(s, d))
        .select(col("l_returnflag"), col("l_quantity"), col("l_discount"),
          col("l_extendedprice"))
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity") > 30.0d, 1L).otherwise(0L)).as("n_bulk"),
          sum(when(col("l_discount") === 0.0d, 1L).otherwise(0L)).as("n_nodisc"))
      val agg = li.filter(col("l_quantity") > 5.0d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), StableAgg.dsum(col("l_extendedprice")).as("revenue"))
      val main = agg.collect().toIndexedSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      val m = obs.get // filled by the job above — throws if never observed
      val observed = Seq("n_rows", "n_bulk", "n_nodisc")
        .map(k => (s"_observed:$k", m(k).asInstanceOf[Long], 0.0d))
      s.createDataFrame(main ++ observed)
        .toDF("metric", "n", "revenue")
        .orderBy("metric")
    },
    Some(s"""SELECT l_returnflag AS metric, CAST(COUNT(*) AS BIGINT) AS n,
        ${O.dsum("l_extendedprice")} AS revenue
      FROM lineitem WHERE l_quantity > 5 GROUP BY 1
      UNION ALL SELECT '_observed:n_rows', CAST(COUNT(*) AS BIGINT),
        0.0::DOUBLE FROM lineitem
      UNION ALL SELECT '_observed:n_bulk',
        CAST(SUM(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT),
        0.0::DOUBLE FROM lineitem
      UNION ALL SELECT '_observed:n_nodisc',
        CAST(SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT),
        0.0::DOUBLE FROM lineitem
      ORDER BY metric"""))

  private val q247Runs = new java.util.concurrent.atomic.AtomicInteger

  /** Cost-based join reorder (the catalog-statistics leg of the optimizer
    * family, next to q216's runtime bloom filter, q217's DPP and q237's
    * AQE skew split): the query is WRITTEN fact⋈supplier⋈part with the
    * selective predicate on PART — the worst order, joining the whole
    * fact against supplier first. With `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR ALL COLUMNS` row counts + column histograms in the
    * catalog and `spark.sql.cbo.joinReorder.enabled`, Catalyst's
    * CostBasedJoinReorder must flip the tree to join the ~4 %-selectivity
    * part side first. The flip is asserted structurally in-query (the
    * innermost Join must carry part's attributes and not supplier's;
    * absence throws) and the aggregate hash-matches the plain oracle —
    * reordering may never change results.
    *
    * Scale: at 100 TB join order is THE difference between shuffling the
    * fact table once against a 4 % slice vs twice against everything;
    * stats collection (one ANALYZE pass per table at ingest) is what
    * makes the optimizer able to see that before running anything.
    */
  private val q247 = Q("q247_cbo_join_reorder",
    (s, d) => {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val pfx = s"q247_${ProcessHandle.current().pid()}_${q247Runs.incrementAndGet()}"
      try {
        // CBO on a session CLONE (ConfScope): stats-driven planning, the
        // assert, and the collect all run under the clone's confs.
        val out = ConfScope.withConfs(s,
          "spark.sql.cbo.enabled" -> "true",
          "spark.sql.cbo.joinReorder.enabled" -> "true") { c =>
          // deterministic fact subset keeps the per-run catalog write cheap
          Tables.lineitem(c, d).filter(col("l_orderkey") % 4 === 0)
            .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
            .write.mode("overwrite").saveAsTable(s"${pfx}_li")
          Tables.part(c, d).select("p_partkey", "p_size")
            .write.mode("overwrite").saveAsTable(s"${pfx}_part")
          Tables.supplier(c, d).select("s_suppkey", "s_nationkey")
            .write.mode("overwrite").saveAsTable(s"${pfx}_supp")
          Seq("li", "part", "supp").foreach { t =>
            c.sql(s"ANALYZE TABLE ${pfx}_$t COMPUTE STATISTICS FOR ALL COLUMNS")
          }
          val agg = c.table(s"${pfx}_li")
            .join(c.table(s"${pfx}_supp"), col("l_suppkey") === col("s_suppkey"))
            .join(c.table(s"${pfx}_part").filter(col("p_size") < 3),
              col("l_partkey") === col("p_partkey"))
            .groupBy("s_nationkey")
            .agg(count(lit(1)).as("n_items"),
              StableAgg.dsum(col("l_extendedprice")).as("revenue"))
            .orderBy("s_nationkey")
          val joins = agg.queryExecution.optimizedPlan.collect { case j: Join => j }
          val innermost = joins.lastOption.getOrElse(
            throw new IllegalStateException("no Join in the optimized plan"))
          val names = innermost.output.map(_.name).toSet
          if (!names.contains("p_partkey") || names.contains("s_suppkey"))
            throw new IllegalStateException(
              "CBO did not reorder the selective part join innermost: " +
                s"innermost join output = $names\n" +
                agg.queryExecution.optimizedPlan.toString)
          agg.collect().toIndexedSeq
            .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        }
        s.createDataFrame(out).toDF("s_nationkey", "n_items", "revenue")
      } finally {
        Seq("li", "part", "supp").foreach(t =>
          s.sql(s"DROP TABLE IF EXISTS ${pfx}_$t"))
      }
    },
    Some(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        ${O.dsum("l_extendedprice")} AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN part ON l_partkey = p_partkey
      WHERE l_orderkey % 4 = 0 AND p_size < 3
      GROUP BY 1 ORDER BY 1"""))

  /** AQE partition coalescing — the runtime complement of q237's skew
    * SPLIT: a shuffle planned at 64 partitions whose output is KB-sized
    * must be READ back as a handful of coalesced partitions (the final
    * plan's AQEShuffleRead must report `coalesced`; its absence throws).
    * At 100 TB the same mechanism works in reverse importance: nobody
    * can statically pick `spark.sql.shuffle.partitions` that suits both
    * the TB-scale first aggregate and the KB-scale final rollup of one
    * query — AQE sizes each exchange read from actual map-output stats,
    * which is why the engine leaves partition counts alone and lets
    * runtime statistics drive them (`parallelismFirst=false`, the
    * size-respecting production setting).
    */
  private val q254 = Q("q254_aqe_coalesce",
    (s, d) => {
      // coalesce tuning on a session CLONE (ConfScope).
      val out = ConfScope.withConfs(s,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "64",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB") { c =>
        val agg = Tables.fanOut(Tables.orders(c, d))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            StableAgg.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("o_orderpriority")
        val rows = agg.collect().toIndexedSeq
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        val plan = agg.queryExecution.executedPlan.toString
        if (!plan.contains("AQEShuffleRead") || !plan.contains("coalesced"))
          throw new IllegalStateException(
            s"AQE did not coalesce the small shuffle read:\n$plan")
        rows
      }
      s.createDataFrame(out).toDF("o_orderpriority", "n_orders", "revenue")
    },
    Some(s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${O.dsum("o_totalprice")} AS revenue
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Exchange reuse — Catalyst must recognize that both sides of a
    * self-join are the SAME aggregate subtree and ship its shuffle once
    * (the executed plan must carry a ReusedExchange; absence throws):
    * customers-with-equal-order-count pairs join the per-customer count
    * table to itself on the count. Broadcast is disabled so both sides
    * plan the identical shuffle exchange that reuse deduplicates.
    *
    * Scale: self-joins of derived tables are everywhere in analytics
    * (cohort vs cohort, week vs week); reuse halves the scan+aggregate
    * cost and is only visible when the plan keeps both sides literally
    * identical — the reason the engine builds such queries from ONE
    * shared DataFrame value rather than re-deriving per side.
    */
  private val q255 = Q("q255_reuse_exchange",
    (s, d) => {
      // broadcast off on a session CLONE (ConfScope) so both sides plan
      // the identical shuffle exchange that reuse deduplicates.
      val out = ConfScope.withConfs(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
        val byCust = Tables.fanOut(Tables.orders(c, d))
          .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        val pairs = byCust.select(col("o_custkey").as("c1"), col("n_orders"))
          .join(byCust.select(col("o_custkey").as("c2"),
            col("n_orders").as("n2")),
            col("n_orders") === col("n2") && col("c1") < col("c2"))
        val agg = pairs.groupBy("n_orders")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("n_orders")
        val rows = agg.collect().toIndexedSeq
          .map(r => (r.getLong(0), r.getLong(1)))
        val plan = agg.queryExecution.executedPlan.toString
        if (!plan.contains("ReusedExchange"))
          throw new IllegalStateException(
            s"self-join did not reuse the aggregate's exchange:\n$plan")
        rows
      }
      s.createDataFrame(out).toDF("n_orders", "n_pairs")
    },
    Some("""WITH c AS (SELECT o_custkey, COUNT(*) AS n_orders
          FROM orders GROUP BY 1),
        g AS (SELECT n_orders, COUNT(*) AS k FROM c GROUP BY 1)
      SELECT CAST(n_orders AS BIGINT) AS n_orders,
        CAST((k * (k - 1)) // 2 AS BIGINT) AS n_pairs
      FROM g WHERE k >= 2 ORDER BY n_orders"""))

  /** Order-independent table checksum (anti-entropy): XOR-fold of
    * per-row md5-derived 32-bit halves — the commutative/associative
    * content fingerprint replication systems compare instead of moving
    * data (Cassandra repair, DynamoDB anti-entropy, cross-region copy
    * verification). Three properties are computed IN the query and
    * gated: the checksum itself, invariance under repartition(7) (any
    * partitioning/order yields the same fold), and sensitivity to a
    * single-row mutation (one price bumped → checksum must differ).
    * The oracle recomputes all three from the same md5 arithmetic.
    *
    * Scale: one scan, one 2×32-bit accumulator per partition, one tiny
    * final XOR — verifying a 100 TB copy costs a scan and ships 8
    * bytes; the per-row hash string uses the engines' shared
    * shortest-round-trip double rendering so heterogeneous engines
    * agree on content.
    */
  private val q265 = Q("q265_table_checksum",
    (s, d) => {
      def rowHash(df: DataFrame): DataFrame = {
        val h = md5(concat_ws("|", col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")))
        def half(off: Int): Column = {
          def nibble(pos: Int): Column = {
            val c = ascii(substring(h, pos, 1)).cast("long")
            when(c >= 97, c - 87).otherwise(c - 48)
          }
          ((off + 1) to (off + 8))
            .map(p => shiftleft(nibble(p), (8 - (p - off)) * 4)).reduce(_ + _)
        }
        df.select(half(0).as("h_lo"), half(8).as("h_hi"))
      }
      def ck(df: DataFrame): DataFrame =
        rowHash(df).agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h_lo)").as("ck_lo"), expr("bit_xor(h_hi)").as("ck_hi"))
      // fanOut (r14): the nibble-decode hash ran in the 1-task scan; the
      // checksum is partition-invariant by construction (that is the gate)
      val base = Tables.fanOut(Tables.orders(s, d))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val mutated = base.withColumn("o_totalprice",
        when(col("o_orderkey") === 7L, col("o_totalprice") + 0.01d)
          .otherwise(col("o_totalprice")))
      val Array(b) = ck(base).collect()
      val Array(r) = ck(base.repartition(7)).collect()
      val Array(m) = ck(mutated).collect()
      s.createDataFrame(Seq((b.getLong(0), b.getLong(1), b.getLong(2),
          r.getLong(1) == b.getLong(1) && r.getLong(2) == b.getLong(2),
          m.getLong(1) != b.getLong(1) || m.getLong(2) != b.getLong(2))))
        .toDF("n_rows", "ck_lo", "ck_hi", "stable_under_repartition",
          "detects_mutation")
    },
    Some {
      def duckNib(h: String, p: Int) =
        s"(CASE WHEN ascii(substr($h, $p, 1)) >= 97 " +
          s"THEN CAST(ascii(substr($h, $p, 1)) - 87 AS BIGINT) " +
          s"ELSE CAST(ascii(substr($h, $p, 1)) - 48 AS BIGINT) END)"
      def half(off: Int) = ((off + 1) to (off + 8))
        .map(p => s"(${duckNib("h", p)} << ${(8 - (p - off)) * 4})")
        .mkString(" + ")
      val rowH = "md5(CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(o_custkey AS VARCHAR) || '|' || CAST(o_totalprice AS VARCHAR)" +
        " || '|' || o_orderpriority)"
      val rowHMut = "md5(CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(o_custkey AS VARCHAR) || '|' || CAST(CASE WHEN o_orderkey = 7 " +
        "THEN o_totalprice + 0.01::DOUBLE ELSE o_totalprice END AS VARCHAR)" +
        " || '|' || o_orderpriority)"
      s"""WITH hb AS (SELECT ${half(0)} AS h_lo, ${half(8)} AS h_hi
          FROM (SELECT $rowH AS h FROM orders)),
        hm AS (SELECT ${half(0)} AS h_lo, ${half(8)} AS h_hi
          FROM (SELECT $rowHMut AS h FROM orders)),
        cb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
            bit_xor(h_lo) AS ck_lo, bit_xor(h_hi) AS ck_hi FROM hb),
        cm AS (SELECT bit_xor(h_lo) AS ck_lo, bit_xor(h_hi) AS ck_hi FROM hm)
      SELECT cb.n_rows, cb.ck_lo, cb.ck_hi,
        TRUE AS stable_under_repartition,
        (cm.ck_lo <> cb.ck_lo OR cm.ck_hi <> cb.ck_hi) AS detects_mutation
      FROM cb, cm"""
    })

  /** Bitmap-index segment algebra: per event family, the distinct-user
    * audience as a BITMAP (64 users per row-word, built by one
    * `bit_or(1 << bit)` aggregate), then pairwise AND/OR word joins +
    * `bit_count` give exact intersection/union cardinalities and
    * Jaccard affinity between all family pairs — the audience-overlap
    * engine behind segment targeting, computed without ever
    * materializing a user set. The oracle computes the same numbers by
    * plain DISTINCT-set algebra, so the bitmap path must agree with
    * set semantics exactly.
    *
    * Scale: the bitmap rows are |universe|/64 words per segment (a
    * 1e9-user universe is 16M words ≈ 125 MB per segment, mergeable,
    * partitionable on word index); pair algebra touches words, never
    * users — the exact-arithmetic sibling of q167's KMV estimates.
    */
  private val q266 = Q("q266_bitmap_segments",
    (s, d) => {
      val bm = Tables.fanOut(Tables.events(s, d))
        .select(col("event_type"), expr("user_id div 64").as("word"),
          pmod(col("user_id"), lit(64)).as("bit"))
        .groupBy("event_type", "word")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))").as("bits"))
      // |A∪B| = |A| + |B| − |A∩B|: the AND join may stay INNER on word
      // (a word missing from either side contributes nothing to the
      // intersection), while the per-segment popcounts supply the union
      val pc = bm.groupBy("event_type")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_set"))
      val a = bm.select(col("event_type").as("et_a"), col("word"), col("bits").as("ba"))
      val b = bm.select(col("event_type").as("et_b"), col("word"), col("bits").as("bb"))
      a.join(b, Seq("word")).filter(col("et_a") < col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(sum(expr("bit_count(ba & bb)")).cast("long").as("n_and"))
        .join(pc.select(col("event_type").as("et_a"), col("n_set").as("n_a")), "et_a")
        .join(pc.select(col("event_type").as("et_b"), col("n_set").as("n_b")), "et_b")
        .withColumn("n_or", col("n_a") + col("n_b") - col("n_and"))
        .withColumn("jaccard",
          col("n_and").cast("double") / col("n_or").cast("double"))
        .select("et_a", "et_b", "n_and", "n_or", "jaccard")
        .orderBy("et_a", "et_b")
    },
    Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        n AS (SELECT event_type, COUNT(*) AS c FROM u GROUP BY 1),
        i AS (SELECT a.event_type AS et_a, b.event_type AS et_b,
            COUNT(*) AS n_and
          FROM u a JOIN u b ON a.user_id = b.user_id
            AND a.event_type < b.event_type
          GROUP BY 1, 2)
      SELECT et_a, et_b, CAST(i.n_and AS BIGINT) AS n_and,
        CAST(na.c + nb.c - i.n_and AS BIGINT) AS n_or,
        CAST(i.n_and AS DOUBLE) / CAST(na.c + nb.c - i.n_and AS DOUBLE)
          AS jaccard
      FROM i JOIN n na ON i.et_a = na.event_type
        JOIN n nb ON i.et_b = nb.event_type
      ORDER BY et_a, et_b"""))

  /** Built-in approximate aggregates under certificate
    * (`percentile_approx` = GK-style quantile summary,
    * `approx_count_distinct` = HyperLogLog++): the approximate VALUES
    * never cross the gate — sketches don't owe cross-engine equality —
    * but their published ERROR CONTRACTS do: the approx median's exact
    * rank must sit within the accuracy window (±n/acc of n/2, counted
    * against the data), and the HLL++ estimate within its rsd envelope
    * of the exact distinct count. Exact counterparts ride along as
    * hash-gated values. A certificate gate in the q161 CMS style, for
    * the two approx aggregates the engine ships built in.
    *
    * Scale: these are the one-pass mergeable summaries that replace
    * exact sort/distinct at 100 TB; the gate pins that the engine's
    * implementations honor the bounds a capacity plan is built on.
    */
  private val q270 = Q("q270_approx_agg_bounds",
    (s, d) => {
      val e = Tables.fanOut(Tables.events(s, d))
      val agg = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("exact_cd"),
          approx_count_distinct(col("user_id"), 0.05).as("approx_cd"),
          percentile_approx(col("value"), lit(0.5d), lit(1000)).as("approx_p50"),
          element_at(graft.functions.ExactPercentile(col("value"), Seq(0.5)), 1)
            .as("exact_p50"))
      val rankOfApprox = e.join(agg.select(col("event_type").as("et2"),
          col("approx_p50")), col("event_type") === col("et2"))
        .groupBy("event_type")
        .agg(sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L))
          .as("rank_le"))
      agg.join(rankOfApprox, "event_type")
        .select(col("event_type"), col("n"), col("exact_cd"), col("exact_p50"),
          // GK guarantee: rank error <= n / accuracy (+1 for the
          // boundary element itself)
          (abs(col("rank_le") - col("n") / 2)
            <= col("n") / 1000 + 1).as("p50_rank_ok"),
          // HLL++ rsd 0.05: allow 3 sigma + small-count slack
          (abs(col("approx_cd") - col("exact_cd")).cast("double")
            <= col("exact_cd").cast("double") * 0.15d + 10.0d).as("cd_ok"))
        .orderBy("event_type")
    },
    Some("""WITH r AS (SELECT event_type, value,
          row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events e2
          WHERE e2.event_type = r.event_type) AS exact_cd,
        MAX(CASE WHEN rn = CAST(floor(0.5::DOUBLE * (n-1)) AS BIGINT)
          THEN value END) AS exact_p50,
        TRUE AS p50_rank_ok, TRUE AS cd_ok
      FROM r GROUP BY event_type ORDER BY event_type"""))

  /** `foreachBatch` exactly-once file sink via idempotent per-batch
    * overwrite — the pattern for sinks with no transactional commit log
    * (plain object stores, JDBC staging, search indexes): each
    * micro-batch lands in its OWN directory keyed by batchId with
    * `mode(overwrite)`, so a batch replayed after a crash rewrites the
    * same directory instead of appending duplicates. The gate makes the
    * replay REAL: every batch's write is executed TWICE (simulating the
    * retry after a failure between sink write and checkpoint commit),
    * the stream is additionally stopped mid-spool and resumed from its
    * checkpoint with a fresh query, and the union of all batch
    * directories must STILL hash-match the exact batch oracle — any
    * append-leak double-counts and fails.
    *
    * Scale: this is the production recipe for the 90 % of sinks that
    * are not a transactional table; state cost is one directory rename
    * per batch, and the checkpoint's batchId is the idempotence key.
    */
  private val q275 = Q("q275_foreachbatch_exactly_once",
    (s, d) => {
      val fix = StreamFixtures.timeQuarters(s, d)
      val dir = StreamGate.scratch("q275")
      val spool = new java.io.File(dir, "spool")
      val cp = new java.io.File(dir, "checkpoint").getPath
      val out = new java.io.File(dir, "out")
      def runHalf(): Unit = {
        val src = StreamFixtures.stream(s, fix, spool)
          .select("event_id", "event_type", "value")
        StreamGate.replay(s, src, StreamGate.drainOnly) {
          _.foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            val target = new java.io.File(out, s"batch_$batchId").getPath
            // write TWICE: the second write is the simulated retry a
            // real failure between write and commit produces — the
            // overwrite makes it invisible
            df.write.mode("overwrite").parquet(target)
            df.write.mode("overwrite").parquet(target)
          }.option("checkpointLocation", cp)
        }
      }
      StreamFixtures.copyTo(fix.files.take(2), spool)
      runHalf() // first run, stops mid-spool
      StreamFixtures.copyTo(fix.files.drop(2), spool)
      runHalf() // fresh query, same checkpoint: resume, no re-emission
      val batchDirs = Option(out.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      if (batchDirs.length < 4)
        throw new IllegalStateException(
          s"expected >=4 per-batch directories, got ${batchDirs.length}")
      s.read.parquet(batchDirs.map(_.getPath).toIndexedSeq: _*)
        .filter(col("event_type") =!= "zz_sentinel")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("id_sum"),
          StableAgg.dsum(col("value")).as("value_sum"))
        .orderBy("event_type")
    },
    Some(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(event_id) AS BIGINT) AS id_sum,
        ${O.dsum("value")} AS value_sum
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Salted window with boundary repair — the documented mitigation for
    * per-key WINDOW skew (q8's shape), now gated. AQE's skew split only
    * helps JOINS; a lag()-window partitioned by a hot entity (the r11
    * skew fixture's bot user: 30 % of all events on one user_id) sorts
    * that entity's whole series in ONE task. This query computes q8's
    * exact per-user gap statistics with the series SPLIT across 8
    * deterministic time chunks: lag() runs within (user, chunk) — 8-way
    * parallel for the hot user — and the chunk-boundary gaps are
    * repaired from a tiny per-(user, chunk) edge table (first/last
    * (ts, event_id) structs; |users|×8 rows) whose own window is over
    * chunk INDEXES, not rows. Union of in-chunk and boundary gaps is
    * exactly the full-series gap multiset, and the gap statistics are
    * order-free aggregates, so the output is bit-identical to q8's —
    * which is precisely what the shared oracle asserts.
    *
    * Scale: the hot entity's O(n log n) single-task sort becomes 8
    * parallel sorts plus a |users×chunks|-row repair join; chunk count
    * is a knob (set it ~ executor cores / hot-key mass). This is the
    * q49-salting idea applied to sequences, where the salt must respect
    * ORDER — time-range chunks do, random salts would not.
    */
  private val q303 = Q("q303_salted_window_stats",
    (s, d) => {
      val ev = Tables.events(s, d).select("user_id", "ts_ms", "event_id")
      // deterministic global time chunks (the two scalars are a KB-scale
      // collect, same class as the ANN quantizer literals)
      val Array(r0) = ev.agg(min("ts_ms"), max("ts_ms")).collect()
      val (lo, hi) = (r0.getLong(0), r0.getLong(1))
      val width = math.max(1L, (hi - lo) / 8 + 1)
      val chunked = ev.withColumn("chunk", ((col("ts_ms") - lo) / width).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "chunk").orderBy("ts_ms", "event_id")
      val inChunk = chunked
        .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
        .filter(col("gap_ms").isNotNull)
        .select("user_id", "gap_ms")
      // edge table: first/last event per (user, chunk); boundary gap =
      // this chunk's first ts − the user's PREVIOUS populated chunk's
      // last ts (lag over chunk index skips empty chunks by construction)
      val edges = chunked.groupBy("user_id", "chunk")
        .agg(min(struct(col("ts_ms"), col("event_id"))).as("first"),
          max(struct(col("ts_ms"), col("event_id"))).as("last"))
      val we = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("chunk")
      val boundary = edges
        .withColumn("prev_last_ts", lag(col("last.ts_ms"), 1).over(we))
        .filter(col("prev_last_ts").isNotNull)
        .select(col("user_id"), (col("first.ts_ms") - col("prev_last_ts")).as("gap_ms"))
      inChunk.union(boundary)
        .transform(CoreQueries.staleStats(col("user_id"), "gap_ms"))
    },
    // q8's oracle verbatim: the salted plan must reproduce the plain
    // full-series window bit-for-bit
    Some(O.stalenessStats))

  /** q303's window-skew mitigation DEPLOYED on the streaming path — the
    * gated answer to the measured streaming hot-key straggler
    * (docs/SCALING.md "Skew on the STREAMING path": one bot entity = 30 %
    * of events hashes to ONE state-store partition, max/p50 task 4.2×).
    * Per-entity sequential state (gaps, sessions) cannot be salted with a
    * random key, and flatMapGroupsWithState hands the hot entity's whole
    * batch slice to one task by construction. This gate restructures the
    * pipeline instead: foreachBatch computes each micro-batch's gaps with
    * q303's time-chunked window (lag within (user, chunk), 8-way parallel
    * for the hot user, in-batch boundary repair over chunk indexes), and
    * the only keyed state is ONE row per user — the last (ts) seen — kept
    * in a batchId-versioned parquet table: batch b reads state b−1,
    * repairs the cross-batch boundary gaps with a |users|-row join, and
    * overwrites gaps/batch=b and state/batch=b idempotently (q154's
    * replay-safe discipline; a retried batch re-reads the same b−1 state
    * and rewrites the same outputs). The union of in-chunk, in-batch
    * boundary, and cross-batch boundary gaps is exactly the full-series
    * gap multiset, so the final aggregation must match q8's oracle
    * bit-for-bit — the same proof obligation as q303, now across
    * micro-batch boundaries.
    *
    * Scale: per batch the hot entity costs 8 parallel chunk sorts instead
    * of one straggler task, and the stateful footprint drops from "every
    * event through one partition's state store" to a |users|-row join —
    * the shape that holds when the bot is 30 % of a 100 TB stream.
    */
  private val q304 = Q("q304_streaming_salted_staleness",
    (s, d) => {
      import s.implicits._
      val rows: Seq[(String, String, Long, Long)] =
        ExtendedQueries.stalenessSymRows(s, d)
      val dir = StreamGate.scratch("q304")
      val gapsRoot = new java.io.File(dir, "gaps").getPath
      val stateRoot = new java.io.File(dir, "state").getPath
      // 8 input partitions: the replay block parallelizes like q155's.
      val mem = StreamGate.memory[(String, String, Long, Long)](s, Some(8))
      val src = mem.toDF().toDF("symbol", "channel", "ts_exchange_ms", "arr")
      StreamGate.replay(s, src, feed(mem, inChunks(rows, 2))) {
        _.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            val ss = batch.sparkSession
            val b = batch.select(col("symbol"),
              col("ts_exchange_ms").as("ts_ms"), col("arr"))
            // KB-scale scalar collect (the q303 class): the batch's time
            // range, for deterministic chunking
            val r0 = b.agg(min("ts_ms"), max("ts_ms")).collect()(0)
            val prev =
              if (id == 0)
                ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("symbol",
                      org.apache.spark.sql.types.StringType),
                    org.apache.spark.sql.types.StructField("s_last_ts",
                      org.apache.spark.sql.types.LongType))))
              else ss.read.parquet(s"$stateRoot/batch=${id - 1}")
            if (r0.isNullAt(0)) {
              // empty batch: carry state forward so batch ids stay dense
              prev.write.mode("overwrite").parquet(s"$stateRoot/batch=$id")
            } else {
              val (lo, hi) = (r0.getLong(0), r0.getLong(1))
              val width = math.max(1L, (hi - lo) / 8 + 1)
              val chunked = b.withColumn("chunk",
                ((col("ts_ms") - lo) / width).cast("long"))
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy("symbol", "chunk").orderBy("ts_ms", "arr")
              val inChunk = chunked
                .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
                .filter(col("gap_ms").isNotNull)
                .select("symbol", "gap_ms")
              val edges = chunked.groupBy("symbol", "chunk")
                .agg(min(col("ts_ms")).as("first_ts"), max(col("ts_ms")).as("last_ts"))
              val we = org.apache.spark.sql.expressions.Window
                .partitionBy("symbol").orderBy("chunk")
              val inBatchBoundary = edges
                .withColumn("prev_last_ts", lag(col("last_ts"), 1).over(we))
                .filter(col("prev_last_ts").isNotNull)
                .select(col("symbol"), (col("first_ts") - col("prev_last_ts")).as("gap_ms"))
              // |users|-row state join: the replay feeds global ts order,
              // so every b−1 ts ≤ every b ts per user — the cross-batch
              // gap is (batch first − state last)
              val perUser = chunked.groupBy("symbol")
                .agg(min(col("ts_ms")).as("first_ts"), max(col("ts_ms")).as("last_ts"))
              val crossBoundary = perUser.join(prev, "symbol")
                .select(col("symbol"), (col("first_ts") - col("s_last_ts")).as("gap_ms"))
              inChunk.union(inBatchBoundary).union(crossBoundary)
                .write.mode("overwrite").parquet(s"$gapsRoot/batch=$id")
              // next state: users seen this batch update, absentees carry
              prev.join(perUser, Seq("symbol"), "full_outer")
                .select(col("symbol"),
                  coalesce(col("last_ts"), col("s_last_ts")).as("s_last_ts"))
                .write.mode("overwrite").parquet(s"$stateRoot/batch=$id")
            }
          }
      }
      s.read.parquet(gapsRoot)
        .transform(CoreQueries.staleStats(col("symbol").cast("bigint").as("user_id"), "gap_ms"))
    },
    // q8's oracle verbatim (q108/q303's): the streaming chunked+repaired
    // pipeline must reproduce the plain full-series window bit-for-bit
    Some(O.stalenessStats))

  /** The (user_id, event_type) replay of q311 and q314, in arrival order. */
  private def erasureRows(s: SparkSession, d: String): Seq[(Long, String)] =
    StreamFixtures.replayRows("q311", d) {
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
        .orderBy("ts_ms", "event_id")
        .collect().iterator.map(r => (r.getLong(0), r.getString(1))).toSeq
    }

  /** Empty (user_id, event_type, n) counter state: what batch 0 merges. */
  private def emptyCounters(ss: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("n", LongType))))
  }

  /** Per-event_type totals of a final counter state (q311, q314). */
  private def erasureCounts(state: DataFrame): DataFrame =
    state.groupBy("event_type")
      .agg(sum("n").as("n_after"), countDistinct(col("user_id")).as("n_users_after"))
      .orderBy("event_type")

  /** "All events of non-requested users": the batch oracle both erasure
    * gates must reproduce. */
  private lazy val erasureOracle: String =
    s"""WITH del AS (${ErasureFixture.oracleDelCte})
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_after,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_after
        FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.user_id = e.user_id)
        GROUP BY event_type ORDER BY event_type"""

  /** q306's right-to-be-forgotten cascade DEPLOYED on the streaming path:
    * per-user event counters accumulate across micro-batches in a
    * batchId-versioned parquet state table (q304's replay-safe device —
    * batch b reads state b−1, writes state b idempotently), and from the
    * batch where the deletion-request list is live (id ≥ 1) every commit
    * BOTH purges the requested users' accumulated state retroactively
    * (LEFT ANTI against the KB-scale request list) and drops their
    * incoming rows — so the final state is independent of where the
    * chunk boundaries fell, and must hash-match the plain batch oracle
    * "all events of non-requested users". This is the streaming shape a
    * GDPR pipeline actually runs: erasure requests arrive MID-stream and
    * must erase history, not just future rows.
    *
    * Engine-stateless by design (the PlanInvariantsSpec stateless set):
    * the keyed state lives in the versioned table where the anti-join
    * can reach ALL of it — the store's per-key state would need a full
    * key scan per request batch. The request list stays a literal local
    * relation for q306's reason (no filter lineage for
    * InferFiltersFromConstraints to copy onto the stream side).
    */
  private val q311 = Q("q311_streaming_erasure",
    (s, d) => {
      import s.implicits._
      val rows = erasureRows(s, d)
      // the deletion-request list: ErasureFixture's draw (the SINGLE
      // owner q306 shares), collected once per (JVM, sfDir) — KB-scale,
      // the external-DSR-table stand-in
      // memoized inside ErasureFixture (per JVM, sfDir) — a second
      // replayRows layer here would be a cache that could desynchronize
      val requested: Seq[Long] = ErasureFixture.requestedUsers(s, d)
      // The retroactive purge activates from batch id ≥ 1 (the request
      // list goes live MID-stream by design), so the semantics need ≥ 2
      // micro-batches: a ≤1-row fixture would replay as a single batch 0,
      // never purge, and surface as an oracle hash mismatch instead of a
      // precondition — and an empty fixture would throw on the max() over
      // zero batch dirs. Fail loudly at the invariant instead.
      require(rows.size > 1,
        s"q311 needs >1 replay rows for a mid-stream erasure (got ${rows.size})")
      val dir = StreamGate.scratch("q311")
      val stateRoot = new java.io.File(dir, "state").getPath
      val mem = StreamGate.memory[(Long, String)](s)
      val src = mem.toDF().toDF("user_id", "event_type")
      StreamGate.replay(s, src, feed(mem, inChunks(rows, 3))) {
        _.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            val ss = batch.sparkSession
            val del = ss.createDataFrame(requested.map(Tuple1(_))).toDF("user_id")
            val prev =
              if (id == 0) emptyCounters(ss)
              else ss.read.parquet(s"$stateRoot/batch=${id - 1}")
            val cur = batch.groupBy("user_id", "event_type")
              .agg(count(lit(1)).as("n"))
            val merged = prev.unionByName(cur)
              .groupBy("user_id", "event_type").agg(sum("n").as("n"))
            // request list live from batch 1: retroactive purge + drop
            val kept =
              if (id >= 1) merged.join(del, Seq("user_id"), "left_anti")
              else merged
            kept.write.mode("overwrite").parquet(s"$stateRoot/batch=$id")
          }
      }
      val last = new java.io.File(stateRoot).listFiles()
        .map(_.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).max
      erasureCounts(s.read.parquet(s"$stateRoot/batch=$last"))
    },
    Some(erasureOracle))

  private val DeltaBuckets = 8

  /** q311's erasure cascade with DELTA state maintenance — the answer to
    * its one scale caveat: q311 rewrites the ENTIRE state table every
    * micro-batch (per-batch cost grows with |accumulated state| even for
    * a one-row batch). Here state is RANGE-BUCKETED on user_id into
    * [[DeltaBuckets]] independently versioned partitions
    * (state/v=batchId/bkt=j), and a batch rewrites ONLY the buckets it
    * touches — plus, exactly once when the deletion-request list goes
    * live (batch 1), the requested users' home buckets (the retroactive
    * purge; an untouched bucket can never hold a requested user after
    * that, so later batches stay delta). Reads are replay-safe the q304
    * way: batch b merges each touched bucket's latest version < b and
    * overwrites v=b idempotently; the final state is the per-bucket
    * latest-version union, so chunk boundaries and replay cannot change
    * it — it must hash-match the same plain batch oracle as q311.
    *
    * All touched buckets of a batch land in ONE Spark write job
    * (`partitionBy("bkt")` into `v=batchId/`), not one job per bucket —
    * the r13 shape serialized ≈14 tiny jobs per run on the driver, a
    * pure scheduling tax that would dominate at high bucket counts
    * (VERDICT r13 ask #1). `partitionBy` only materializes directories
    * for buckets that still HAVE rows, and a purge can legally empty a
    * bucket (every user in it requested erasure) — so "which buckets did
    * v rewrite" cannot be read from directory presence alone. Each
    * version dir carries a `_touched` manifest (the batch's touched-
    * bucket set, written driver-side after the data job); latest-state
    * resolution is per-bucket max manifest version, with an absent
    * `bkt=j` dir at that version meaning "rewritten to empty", never
    * "fall back to the stale previous version".
    *
    * The replay arrives in user-range chunks (the multi-tenant shape
    * where delta state wins: a batch carries a key subset, and the
    * pipeline is commutative counters so arrival order is free); the
    * in-query assert pins the delta property itself — DISTINCT
    * (bucket, version) rewrites strictly under nBatches × nBuckets, the
    * full-rewrite cost q311 pays by construction (distinct pairs, not a
    * raw counter, so a foreachBatch retry of an idempotent overwrite
    * can't double-count and spuriously trip the assert — r13 ADVICE).
    * At 100 TB the bucket count scales
    * with |users| and per-batch write cost is O(touched buckets), not
    * O(|state|); the purge stays a one-time KB-scale anti-join per
    * bucket.
    */
  private val q314 = Q("q314_streaming_erasure_delta",
    (s, d) => {
      import s.implicits._
      val rows = erasureRows(s, d)
      // memoized inside ErasureFixture (per JVM, sfDir) — a second
      // replayRows layer here would be a cache that could desynchronize
      val requested: Seq[Long] = ErasureFixture.requestedUsers(s, d)
      require(rows.size > 1,
        s"q314 needs >1 replay rows for a mid-stream erasure (got ${rows.size})")
      val maxUser = rows.iterator.map(_._1).max
      val bucketW = maxUser / DeltaBuckets + 1
      val chunkW = maxUser / 3 + 1
      val chunks = rows.groupBy(_._1 / chunkW).toSeq.sortBy(_._1)
      // the purge activates at batch 1, so the user span must yield >1
      // chunk — fail at the precondition, not as an oracle mismatch
      require(chunks.size > 1,
        s"q314 needs >1 user-range chunks (got ${chunks.size})")
      val dir = StreamGate.scratch("q314")
      val stateRoot = new java.io.File(dir, "state")
      // distinct (bucket, version) rewrites — replay-proof accounting
      val writtenPairs =
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      // manifest helpers: state/v=<id>/_touched lists the bucket ids the
      // batch rewrote (an absent bkt dir at that version = emptied)
      def readTouched(vdir: java.io.File): Set[Long] = {
        val f = new java.io.File(vdir, "_touched")
        if (!f.exists()) Set.empty
        else java.nio.file.Files.readAllLines(f.toPath)
          .toArray(Array.empty[String]).filter(_.nonEmpty).map(_.toLong).toSet
      }
      def versionDirs(): Seq[(Long, java.io.File)] =
        Option(stateRoot.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("v="))
          .map(f => f.getName.stripPrefix("v=").toLong -> f).toSeq
      val mem = StreamGate.memory[(Long, String)](s)
      val src = mem.toDF().toDF("user_id", "event_type")
      StreamGate.replay(s, src, feed(mem, chunks.map(_._2))) {
        _.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            val ss = batch.sparkSession
            val del = ss.createDataFrame(requested.map(Tuple1(_))).toDF("user_id")
            // request list live from batch 1: drop incoming requested rows
            val live =
              if (id >= 1) batch.join(del, Seq("user_id"), "left_anti")
              else batch
            val cur = live.groupBy("user_id", "event_type")
              .agg(count(lit(1)).as("n"))
              .withColumn("bkt", expr(s"user_id div $bucketW"))
              .persist()
            try {
              val touchedNow = cur.select("bkt").distinct()
                .collect().map(_.getLong(0)).toSet
              // one-time retroactive purge: rewrite every requested
              // user's home bucket when the list goes live
              val purgeBkts =
                if (id == 1L) requested.map(_ / bucketW).toSet
                else Set.empty[Long]
              val touched = touchedNow ++ purgeBkts
              // per-touched-bucket latest version < id, from the
              // manifests (driver-side listing: |versions| tiny files)
              val history = versionDirs().filter(_._1 < id)
                .sortBy(_._1).flatMap { case (v, vdir) =>
                  readTouched(vdir).map(j => j -> (v, vdir))
                }.groupBy(_._1).map { case (j, hs) => j -> hs.last._2 }
              val prevPaths = touched.toSeq.sorted.flatMap { j =>
                history.get(j).flatMap { case (v, vdir) =>
                  val bdir = new java.io.File(vdir, s"bkt=$j")
                  // absent dir at the latest manifest version = the
                  // bucket was rewritten to EMPTY, not "use older state"
                  if (bdir.isDirectory) Some(bdir.getPath) else None
                }
              }
              val prev =
                if (prevPaths.isEmpty) emptyCounters(ss)
                else ss.read.parquet(prevPaths: _*)
              // ONE job rewrites every touched bucket: merge + purge +
              // partitionBy(bkt) into this batch's version dir (whole-dir
              // overwrite = idempotent under foreachBatch replay)
              val merged = prev.unionByName(cur.drop("bkt"))
                .groupBy("user_id", "event_type").agg(sum("n").as("n"))
              val kept =
                if (id >= 1) merged.join(del, Seq("user_id"), "left_anti")
                else merged
              kept.withColumn("bkt", expr(s"user_id div $bucketW"))
                .repartition(col("bkt"))
                .write.partitionBy("bkt").mode("overwrite")
                .parquet(s"$stateRoot/v=$id")
              java.nio.file.Files.write(
                new java.io.File(stateRoot, s"v=$id/_touched").toPath,
                touched.toSeq.sorted.mkString("\n").getBytes("UTF-8")): Unit
              touched.foreach(j => writtenPairs.add(s"$j/$id"): Unit)
            } finally { cur.unpersist(): Unit }
          }
      }
      // user-range chunks, one micro-batch each: the key-subset arrival
      // shape delta state is for (counters commute, so the oracle is
      // order-independent)
      val nBatches = chunks.size.toLong
      // the delta property q314 exists for: strictly fewer DISTINCT
      // (bucket, version) rewrites than the full-rewrite cost (q311 pays
      // nBatches full-table writes = nBatches × nBuckets bucket-
      // equivalents by construction)
      if (writtenPairs.size() >= nBatches * DeltaBuckets)
        throw new IllegalStateException(
          s"delta state degenerated to full rewrites: ${writtenPairs.size()} " +
            s"bucket writes over $nBatches batches × $DeltaBuckets buckets")
      // final state = per-bucket latest MANIFEST version's bkt dir
      // (absent dir at that version = the bucket ended empty)
      val latest = versionDirs().sortBy(_._1).flatMap { case (_, vdir) =>
        readTouched(vdir).map(j => j -> vdir)
      }.groupBy(_._1).toSeq.flatMap { case (j, hs) =>
        val bdir = new java.io.File(hs.last._2, s"bkt=$j")
        if (bdir.isDirectory) Some(bdir.getPath) else None
      }
      erasureCounts(s.read.parquet(latest.toIndexedSeq: _*))
    },
    Some(erasureOracle))

  override val all: Seq[Q] =
    Seq(q156, q157, q158, q159, q160, q161, q162, q216, q217, q219, q220,
      q237, q245, q246, q247, q254, q255, q265, q266, q270, q275, q280,
      q303, q304, q311, q314)
}

/** Serializable Count-Min probe: holds the sketch BYTES (what the
  * aggregate emitted and what a real pipeline would persist) and
  * deserializes once per executor via a transient lazy — the closure
  * ships ~1.6 MB once, not per row, and never depends on the sketch
  * class's own serialization form.
  */
private final class CmsProbeFn(bytes: Array[Byte])
    extends (String => Long) with Serializable {
  @transient private lazy val cms =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  def apply(tok: String): Long = cms.estimateCount(tok)
}
