package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan attestation, two artifacts from one pass:
  *
  *  - `docs/PLANS.md` — `explain("formatted")` dumps for every batch query
  *    in the registry (curated scale narratives where written, auto entries
  *    otherwise) + micro-batch topology notes for each streaming gate, so
  *    all registry queries have a plan entry.
  *  - `docs/plan_invariants.tsv` — one machine-readable invariant record
  *    per batch query (exchange/join/scan node counts, pushdown coverage,
  *    per-scan ReadSchema). `PlanInvariantsSpec` recomputes these records
  *    on every `sbt test` run and diffs them against the checked-in file,
  *    so a plan regression (new shuffle, lost pushdown, broadcast→SMJ flip,
  *    a CartesianProduct sneaking in) fails the build the same way a wrong
  *    answer fails CORRECTNESS.
  *
  * Regenerate both after an INTENTIONAL plan change:
  * {{{ sbt -batch "runMain graft.tools.PlanAudit" }}}
  */
object PlanAudit {

  /** Queries whose `run` executes a Structured Streaming replay gate and
    * returns the materialized sink table — there is no batch physical plan
    * to audit (the returned DataFrame is a memory/parquet batch read of
    * results). Their evidence is the gate spec + bench_stages attribution;
    * PLANS.md carries a topology note for each.
    */
  val streamingGates: Set[String] = Set(
    "q108_streaming_staleness", "q111_streaming_sessions",
    "q119_streaming_bars", "q120_streaming_dedup", "q121_streaming_metrics",
    "q122_streaming_zero_rates", "q123_streaming_msg_counts",
    "q127_streaming_ann", "q131_streaming_join", "q133_streaming_tws_staleness",
    "q137_streaming_outer_join", "q138_streaming_tws_sessions",
    "q139_streaming_file_source", "q149_streaming_available_now",
    "q152_streaming_restart", "q153_streaming_late_drop",
    "q154_foreach_batch_sink", "q155_streaming_chained_aggs",
    "q159_stateful_restart", "q204_streaming_tagging",
    "q208_streaming_upsert", "q220_streaming_range_join",
    "q235_streaming_update_mode", "q236_streaming_full_outer",
    "q304_streaming_salted_staleness", "q311_streaming_erasure",
    "q314_streaming_erasure_delta")

  /** Batch registry queries in name order — the plan-audited surface. */
  def batchQueryNames: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.filterNot(streamingGates).sorted

  /** Streaming gates in name order — audited via their executed
    * micro-batch plans (captured through StreamGate). */
  def streamingQueryNames: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.filter(streamingGates).sorted

  /** One plan-shape invariant record, derived purely from
    * `explain("formatted")` text so it captures exactly what a human plan
    * review reads. Counts cover the whole explain output including
    * subquery sections.
    *
    * @param scansWithPushdown number of parquet scans whose PushedFilters
    *                          list is non-empty
    * @param readSchemas       per-scan `<file>=<ReadSchema struct>` in plan
    *                          order (catches both lost column pruning and
    *                          fixture-encoding drift, the round-6 incident)
    */
  /** @param stateOps  streaming gates: stateful operator count in the
    *                   executed micro-batch plan (state-store saves,
    *                   TWS/fMGWS, streaming dedup/joins); 0 for batch
    * @param mode       streaming gates: sink output mode of the last
    *                   micro-batch ("Append"/"Complete"/"Update");
    *                   "batch" for batch queries
    * @param batches    micro-batches each StreamingQuery the query started
    *                   executed, joined with "+" for the restart gates; "-"
    *                   when it started none
    */
  final case class PlanRecord(
      name: String,
      exchanges: Int,
      reusedExchanges: Int,
      broadcastExchanges: Int,
      bhj: Int,
      smj: Int,
      shj: Int,
      bnlj: Int,
      cartesian: Int,
      generates: Int,
      scans: Int,
      scansWithPushdown: Int,
      readSchemas: Seq[String],
      stateOps: Int = 0,
      mode: String = "batch",
      batches: String = "-") {
    def tsvLine: String =
      s"$name\t$exchanges\t$reusedExchanges\t$broadcastExchanges\t$bhj\t$smj" +
        s"\t$shj\t$bnlj\t$cartesian\t$generates\t$scans\t$scansWithPushdown" +
        s"\t${readSchemas.mkString(";")}\t$stateOps\t$mode\t$batches"
  }

  val tsvHeader: String =
    "name\texchanges\treused_exchanges\tbroadcast_exchanges\tbhj\tsmj\tshj" +
      "\tbnlj\tcartesian\tgenerates\tscans\tscans_with_pushdown\tread_schemas" +
      "\tstate_ops\tmode\tbatches"

  def parseTsv(text: String): Map[String, PlanRecord] =
    text.linesIterator.drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      val schemas = if (f(12).isEmpty) Seq.empty[String] else f(12).split(";").toSeq
      f(0) -> PlanRecord(f(0), f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt,
        f(5).toInt, f(6).toInt, f(7).toInt, f(8).toInt, f(9).toInt,
        f(10).toInt, f(11).toInt, schemas,
        if (f.length > 13) f(13).toInt else 0,
        if (f.length > 14) f(14) else "batch",
        if (f.length > 15) f(15) else "-")
    }.toMap

  /** Formatted explain text for a registry query (initial physical plan;
    * AQE re-optimizes exchanges at runtime but node shape is what we pin). */
  def planText(spark: SparkSession, name: String, sf: String): String =
    graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  private val treeNode = """^[\s+:|-]*(?:\* )?([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$""".r
  private val locRe = """Location:.*[/\[]([^/\]]+\.parquet)[^/]*\]?\s*$""".r.unanchored
  private val pushedRe = """PushedFilters:\s*\[(.*)\]""".r.unanchored
  private val schemaRe = """ReadSchema:\s*(.*\S)\s*$""".r.unanchored

  /** Parse a formatted plan into its invariant record. */
  def record(name: String, plan: String): PlanRecord = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val locs = scala.collection.mutable.ArrayBuffer.empty[String]
    val pushed = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val schemas = scala.collection.mutable.ArrayBuffer.empty[String]
    plan.linesIterator.foreach {
      case treeNode(node, _) =>
        // tree lines carry qualifiers ("BroadcastHashJoin Inner BuildRight",
        // "BroadcastNestedLoopJoin Cross BuildRight") — key on the operator
        // name alone ("Scan parquet" keeps its two tokens)
        val toks = node.trim.split(' ')
        val key = if (toks.head == "Scan" && toks.length > 1) s"Scan ${toks(1)}" else toks.head
        counts(key) += 1
      case locRe(file)       =>
        // scratch-table scans (q307's Bloom-surviving file list) surface
        // writer part files whose UUID is fresh per build — normalize to
        // "?" (the bucketed-table device) so the golden stays JVM-stable
        locs += (if (file.startsWith("part-")) "?" else file)
      case pushedRe(body)    => pushed += body.trim.nonEmpty
      case schemaRe(s)       => schemas += s
      case _                 =>
    }
    val readSchemas = locs.zipAll(schemas, "?", "?")
      .map { case (f, s) => s"$f=$s" }.toSeq
    PlanRecord(
      name = name,
      exchanges = counts("Exchange"),
      reusedExchanges = counts("ReusedExchange"),
      broadcastExchanges = counts("BroadcastExchange"),
      bhj = counts("BroadcastHashJoin"),
      smj = counts("SortMergeJoin"),
      shj = counts("ShuffledHashJoin"),
      bnlj = counts("BroadcastNestedLoopJoin"),
      cartesian = counts("CartesianProduct"),
      generates = counts("Generate"),
      scans = counts("Scan parquet"),
      scansWithPushdown = pushed.count(identity),
      readSchemas = readSchemas)
  }

  def record(spark: SparkSession, name: String, sf: String): PlanRecord =
    planAndRecord(spark, name, sf)._2

  /** Plan text and record of a batch query; one whose `run` drives a stream
    * to build its result (the foreachBatch/observe gates) also pins that
    * stream's batch count. */
  private def planAndRecord(spark: SparkSession, name: String, sf: String): (String, PlanRecord) = {
    val (plan, qs) = graft.queries.StreamGate.captureStreamingQueries {
      planText(spark, name, sf)
    }
    (plan, record(name, plan).copy(batches = batchCounts(qs)))
  }

  /** Stateful streaming operator node names as they print in a
    * SparkPlan tree (nodeName strips the Exec suffix). */
  private val stateOpTokens = Set(
    "StateStoreSave", "SessionWindowStateStoreSave", "TransformWithState",
    "FlatMapGroupsWithState", "StreamingDeduplicate",
    "StreamingDeduplicateWithinWatermark", "StreamingGlobalLimit",
    "StreamingSymmetricHashJoin")

  private val streamNode = """^[\s+:|*()0-9-]*([A-Za-z][A-Za-z]*)""".r.unanchored

  /** Invariant record for a streaming gate, from the executed plans of
    * the StreamingQuery handles the gate started (captured via
    * `StreamGate.captureStreamingQueries`; `lastExecution` outlives
    * `stop()`). Counts come from the LAST handle's last micro-batch —
    * the resumed run for restart gates — except bnlj/cartesian, which
    * take the max over every run so a nested loop in ANY micro-batch
    * trips the gate. Scan schemas aren't pinned (the simple tree string
    * truncates metadata); the dtype surface is the hash gate's job.
    */
  def streamRecord(name: String,
      queries: Seq[org.apache.spark.sql.streaming.StreamingQuery]): PlanRecord = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    require(queries.nonEmpty,
      s"$name: gate started no StreamingQuery through StreamGate — cannot attest")
    def lastExec(q: org.apache.spark.sql.streaming.StreamingQuery) = q match {
      case w: StreamingQueryWrapper => Option(w.streamingQuery.lastExecution)
        .getOrElse(throw new IllegalStateException(
          s"$name: no micro-batch executed — cannot attest the streaming plan"))
      case other => throw new IllegalStateException(
        s"$name: cannot inspect ${other.getClass.getName}")
    }
    def tokens(plan: String): Seq[String] =
      plan.linesIterator.toSeq.collect { case streamNode(t) => t }
    val plans = queries.map(q => tokens(lastExec(q).executedPlan.toString))
    val t = plans.last
    def c(tok: String) = t.count(_ == tok)
    PlanRecord(
      name = name,
      exchanges = c("Exchange"),
      reusedExchanges = c("ReusedExchange"),
      broadcastExchanges = c("BroadcastExchange"),
      bhj = c("BroadcastHashJoin"),
      smj = c("SortMergeJoin"),
      shj = c("ShuffledHashJoin"),
      bnlj = plans.map(_.count(_ == "BroadcastNestedLoopJoin")).max,
      cartesian = plans.map(_.count(_ == "CartesianProduct")).max,
      generates = c("Generate"),
      scans = c("FileScan"),
      scansWithPushdown = 0,
      readSchemas = Nil,
      stateOps = t.count(stateOpTokens),
      mode = lastExec(queries.last).outputMode.toString,
      batches = batchCounts(queries))
  }

  /** Executed micro-batches per captured query, in start order ("3",
    * "2+3"), as [[graft.obs.Recorder.executed]] defines them. */
  private def batchCounts(queries: Seq[org.apache.spark.sql.streaming.StreamingQuery]): String =
    if (queries.isEmpty) "-"
    else queries.map(_.recentProgress.count(graft.obs.Recorder.executed)).mkString("+")

  /** Run one streaming gate under capture and derive its record. */
  def streamRecord(spark: SparkSession, name: String, sf: String): PlanRecord = {
    val (_, qs) = graft.queries.StreamGate.captureStreamingQueries {
      graft.SparkEntry.queries(name)(spark, sf).count() // drive the gate
    }
    streamRecord(name, qs)
  }

  /** The SF both the generator and PlanInvariantsSpec plan against — the
    * driver's correctness SF, so broadcast-threshold decisions in the
    * golden match the plans the CORRECTNESS gate actually runs. */
  val invariantSf = "/root/testdata/sf0.01"

  /** Queries where a BroadcastNestedLoopJoin is the INTENDED plan: the
    * nested-loop side is a bounded tiny relation (a handful of query
    * points, a 1-row scalar, a KB-sized literal index), so the "join" is a
    * per-row evaluation against a broadcast constant — the exact shape
    * you want at 100 TB. Any BNLJ outside this list fails the spec.
    */
  val bnljAllowed: Set[String] = Set(
    "q26_ann_bruteforce_topk",  // 5 query vectors broadcast vs corpus scan
    "q42_tfidf_top_terms",      // 1-row corpus-size scalar for idf
    "q55_length_filter",        // 2-number percentile scalar broadcast
    "q79_ann_pq",               // 50-row coarse-candidate set vs PQ codes
    "q134_column_profile",      // 1-row stats scalar crossJoin (r15 dedupe-first profile)
    "q141_domain_mixture",      // 1-row budget scalar crossJoin
    "q142_bigram_lm_score",     // 1-row vocab-size crossJoin
    "q167_kmv_theta_setops",    // 5-row sketch table pairwise self-join
    "q170_cluster_aware_split", // 1-row leak-counter scalar crossJoin
    "q179_temperature_mixture", // 1-row Σ√n denominator scalar crossJoin
    "q183_bm25_retrieval",      // 1-row (N, avgdl) corpus-stat scalar crossJoin
    "q184_quantile_normalize",  // 1-row N scalar + KB interval-table range join
    "q191_hard_negatives",      // 5-row anchor set broadcast vs corpus scan (q26 shape)
    "q241_knn_label_agreement", // anchor set broadcast vs corpus scan (q26 shape)
    "q258_ann_recall_eval",     // anchor set broadcast vs corpus scan (q26 truth side)
    "q272_resample_ffill",      // calendar spine × 5-row family list (both KB-sized)
    "q198_freshness_weights",   // 1-row max-day scalar crossJoin
    "q199_zipf_head",           // 1-row token-total scalar crossJoin on 20 rows
    "q203_modularity",          // 1-row 2m edge-count scalar crossJoin
    "q214_dsir_importance",     // 1-row (nt, ns, V) corpus-stat scalar crossJoin
    "q226_distribution_drift",  // 1-row (n_old, n_new) totals scalar crossJoin
    "q284_token_lift_pairs",    // 1-row n_docs scalar crossJoin (support floors + lift)
    "q292_kaplan_meier",        // 1-row censoring-horizon scalar crossJoin
    "q293_profile_census",      // 1-row stats scalar crossJoin (r15 dedupe-first profile)
    "q299_rrf_fusion",          // 5-anchor set broadcast vs corpus scan (q26 shape)
    "q300_ndcg_at_10",          // 5-anchor set broadcast vs corpus scan (q26 shape)
    "q310_data_contract",       // 1-row × 1-row × 1-row clause-scalar crossJoins
    "q317_waterfill_budget")    // 1-row budget + 1-row level scalar crossJoins on |domains| rows

  // ---------------------------------------------------------------------
  // Curated scale narratives (kept from rounds 2-7; auto entries cover the
  // rest of the registry).
  private val audited: Map[String, String] = Map(
    "q2_filter_project" ->
      "Predicate + projection pushdown: both filters and the 4-column read schema reach the parquet scan.",
    "q1_pricing_summary" ->
      "Partial aggregation: HashAggregate(partial) before the 2-key exchange, final after — map-side combine bounds the shuffle by |groups|.",
    "q6_revenue_by_nation" ->
      "Star join: all three dims broadcast (BroadcastHashJoin), the fact table never shuffles before aggregation.",
    "q5_topk_orders" ->
      "Top-k: TakeOrderedAndProject (per-partition heaps + driver merge of k rows), no global sort materialization.",
    "q8_staleness_stats" ->
      "Window lag then per-key aggregate: one shuffle for the window partition, aggregation reuses it.",
    "q12_hourly_window_stats" ->
      "Tumbling event-time window aggregate: partial/final split over (window, key).",
    "q22_lsh_candidate_pairs" ->
      "LSH (r02): native one-pass minhash signatures behind a Generate barrier at scan speed; the self-join input is exploded (band, doc_id) pairs only.",
    "q24_ngram_jaccard" ->
      "Consecutive-pair compare (r02): single scan, Generate to pair keys, one shuffle + 2-row groupBy — no self-join, corpus shingled once.",
    "q26_ann_bruteforce_topk" ->
      "ANN brute force: query set broadcast (BroadcastNestedLoopJoin over 5 rows), corpus scanned once, per-query window top-k.",
    "q16_normalize_books5" ->
      "Normalizer (r02): ONE Generate(parse_okx_frame) straight off the scan — a single streaming-JSON pass per frame replaces the from_json envelope materialization + declarative event builder; event structs explode in the same stage.",
    "q34_ann_ivf" ->
      "IVF ANN (r03): the sampled coarse quantizer ships as array LITERALS (collected once at index build) — cell assignment is a per-row argmin at scan speed, no corpus x centroid join and no per-id window; only bucket-joined candidates shuffle.",
    "q42_tfidf_top_terms" ->
      "TF-IDF (r03): df derives FROM tf, so the tf branch's scan+explode+aggregate exchanges are byte-identical on both join sides — the initial plan prints them twice, AQE stage reuse runs them once.",
    "q47_decontaminate" ->
      "Decontamination (r03): benchmark shingle set distinct + broadcast; corpus side is one Generate behind the fan-out (the explode barrier keeps the shingle filter from re-evaluating the chain pre-exchange); only per-doc counts shuffle.",
    "q49_skew_salted_join" ->
      "Salted join (r03): build side replicated saltFactor x via Generate, probe tagged with a deterministic salt, join key extended with __salt. At this SF the replicated build broadcasts (no shuffle to skew at all); when the build side outgrows the broadcast threshold the same plan becomes a shuffle join keyed (event_type, __salt) — the hot key spread that motivates salting.",
    "q48_pack_sequences" ->
      "Sequence packing (r03): one window cumsum per stream key (lang) — a single exchange, then pure per-row block arithmetic.",
    "q55_length_filter" ->
      "Quantile trim (r03): the two-pass broadcast-scalar shape — a 2-number exact-percentile aggregate broadcast against the full scan; the corpus itself never shuffles.",
    "q58_incremental_dedup" ->
      "Incremental dedup (r03): left-anti hash join of the new batch's content hashes against history — only 32-char hashes move, never documents.",
    "q35_asof_join" ->
      "As-of join: union-then-window formulation — one shuffle by symbol, last_value over the interleaved stream, no range-join explosion.",
    "q38_dup_clusters" ->
      "Connected components: per-iteration min-label propagation joins stay on the doc_id key; candidate-pair input is the LSH band join, quadratic work confined to buckets.",
    "q60_cube_sales" ->
      "CUBE (r04): Expand emits all 2^2 grouping sets map-side, then ONE partial/final hash aggregate pair — grouping sets never re-scan or re-shuffle per set.",
    "q62_bloom_decontaminate" ->
      "Bloom decontamination (r04): the 4096-bit filter ships as ONE array literal (512-byte equivalent) — membership is 4 codegen'd element_at probes per shingle, no join; only (doc, counts) shuffle. Constant index size at any benchmark scale, vs q47's exact set that grows with the benchmark.",
    "q66_ohlc_bars" ->
      "OHLC bars (r04): open/close are min/max over a ((ts<<36|src_id), price) struct — one partial/final aggregate pass after the normalizer Generate with a 2-field struct of state per bar. The struct buffer costs SortAggregate (variable width), but the partial still combines map-side so the exchange ships |bars|; the trailing price field keeps the answer unique under the fixture's duplicate (orderkey, linenumber) trades — determinism over buffer width.",
    "q69_moving_order_stats" ->
      "Window frames (r04): all five window functions (row_number, frame sum/count, lag x2, first_value) share one (custkey) partition spec — a single exchange + sort feeds every frame.",
    "q75_bollinger_bands" ->
      "Bollinger (r04): bar aggregate shuffles (symbol, day); the trailing-20 window re-partitions by symbol only — two exchanges total, decimal frame sums inside the window stage.",
    "q80_grouping_sets" ->
      "GROUPING SETS (r04): Expand emits the 3 declared sets map-side (not the 2^n cube), one partial/final aggregate pair — same single-shuffle shape as ROLLUP/CUBE.",
    "q82_corr_covar" ->
      "Exact correlation (r04): six decimal partial sums per group combine map-side; the exchange ships |groups| x 6 decimals, and the corr/covar doubles are computed post-aggregate — order-independent on any partitioning.",
    "q83_range_frame" ->
      "RANGE + ROWS frames (r04): both window specs partition by o_custkey — one exchange; the two sort orders (d) and (d, o_orderkey) each get a local sort, no re-shuffle.",
    "q85_twap_mid" ->
      "TWAP (r04): the lead() window and the final aggregate both key by symbol — the aggregate reuses the window's exchange; dwell weighting never leaves the partition.",
    "q86_asof_forward" ->
      "Forward as-of (r04): same union-then-window single-shuffle shape as q35, traversed descending; tolerance is a post-window per-row predicate, no second pass.",
    "q87_gap_fill_locf" ->
      "Gap fill (r04): the bars subplan appears under both the calendar-bounds branch and the join branch with byte-identical exchanges — AQE stage reuse runs it once (the q42 pattern); |bars| = symbols x days stays broadcastable at any fact scale, and the LOCF window keys by symbol.",
    "q88_sliding_window_stats" ->
      "Sliding windows (r04): Spark's window() Expand emits length/slide=4 rows per event map-side, then one partial/final aggregate — no self-join against a window table.",
    "q89_topk_per_group" ->
      "Per-group top-k (r04): the rank filter compiles to WindowGroupLimit Partial BEFORE the exchange — each map task keeps 3 rows per group, so the shuffle ships |groups| x k rows regardless of scan size.",
    "q91_islands_gaps" ->
      "Gaps-and-islands (r04): the lag window, the running-sum window, and BOTH island aggregates all key by o_custkey — one hash exchange feeds the whole chain; island ids never leave their partition.",
    "q94_balanced_resample" ->
      "Balanced resample (r04): per-class replication factors are a tiny aggregate (|classes| rows) broadcast back onto the pruned 2-column scan; the explode(sequence) Generate is zero-shuffle, so output volume ~ |classes| x majority-class size is the only cost at any corpus scale.",
    "q96_max_concurrency" ->
      "Sweep-line concurrency (r04): +1/-1 deltas collapse map-side per (type, instant) before any shuffle (partial_sum in the Union stage); the running sum's ordering key is unique by construction, making the window deterministic on any partitioning.",
    "q100_table_checksum" ->
      "Table checksum (r04): per-row identity hashes sum inside a partial/final hash aggregate — order- and layout-invariant by algebra (spec-asserted via repartition), ships one row per partition key; the 100 TB migration-validation primitive.",
    "q101_copurchase_pairs" ->
      "Co-purchase pairs (r04): at this SF the deduped basket side fits the broadcast threshold (BroadcastHashJoin below); past it the same plan becomes a SortMergeJoin co-partitioned on l_orderkey — one shuffle per side, quadratic work confined to per-order baskets. Pair counts collapse map-side and the full-order LIMIT compiles to TakeOrderedAndProject — per-partition heaps, no global sort.",
    "q103_skew_report" ->
      "Skew audit (r04): two aggregate levels — per-key counts (partial/final) then a single-row summary with the exact-percentile buffer over |keys| counts, not |rows|; the pre-flight for the q49 salting decision.",
    "q107_image_decode" ->
      "Real-codec decode (r05): two SerializeFromObject/MapPartitions stages (PNG encode, then decode) pipelined scan-side — no shuffle anywhere; the codec instantiates per partition and the fan-out repartition is the only exchange.",
    "q109_window_disc_mode" ->
      "percentile_disc/mode windows (r05): all four window specs partition by event_type (two add orderings, one adds user_id) — the event_type exchange is paid once; distinct collapses the per-row window outputs to |partitions| rows map-side first.",
    "q113_sliding_disc_percentile" ->
      "Framed disc percentile (r05): ONE exchange on user_id + one in-partition sort feeds the trailing-20 collect_list; frame state is O(20) per row and the three quantile probes are per-row array ops after the window stage.",
    "q114_heavy_hitters" ->
      "Heavy hitters (r05): MG candidates come out of a MapPartitions directly on the token Generate; the recount joins via BroadcastHashJoin (candidate set, KB-sized) so the only aggregation shuffle ships candidate matches — never the vocabulary.",
    "q115_inverted_index" ->
      "Inverted index (r05): tokens Generate at scan speed; tf collapses (term, doc_id) partial/final so the term-level exchange ships postings, not token occurrences; per-term agg state is O(df) — that IS the index being built, and at 100 TB the term key is the natural range-partition for the posting shards.",
    "q116_pagerank_fixed" ->
      "PageRank (r05): integer fixed-point ranks make the result bit-exact on any partitioning; edges+degrees localCheckpoint once, each of the 5 rounds is one (src) join + one (node) aggregate, and the per-round localCheckpoint truncates lineage so plan size stays O(1) across iterations instead of O(iters).",
    "q117_triangle_count" ->
      "Triangle count (r05): the support threshold prunes the co-supply graph BEFORE wedge generation, so quadratic fan-out is confined to thresholded adjacency; wedges anchor at each triangle's min vertex and close via an (u,v) edge hash join — canonical a<b edges are the only shuffle payload. At 100 TB the id orientation swaps for degree orientation (same join pattern, O(sqrt(E)) wedge bound).",
    "q118_lateral_topn" ->
      "LATERAL top-n (r05): Catalyst decorrelates the per-customer LIMIT subquery into a ROW_NUMBER window with WindowGroupLimit pushed BEFORE the exchange — map tasks keep 2 rows per customer, so the shuffle ships |customers| x 2 regardless of the orders scan size; no nested-loop re-execution per outer row.",
    "q124_bpe_pair_counts" ->
      "BPE pair counting (r05): adjacent 2-grams are a codegen'd slice/transform Generate at scan speed (no shuffle before aggregation), pair counts collapse map-side, and the top-200 merge candidates compile to TakeOrderedAndProject — per-partition heaps, the driver sees 200 rows at any corpus scale.",
    "q128_recursive_cte" ->
      "Recursive CTE (r06): WITH RECURSIVE plans as UnionLoop — a Catalyst-managed distributed fixpoint whose recursive arm re-executes per iteration over the shrinking frontier only; no driver loop, no collected state, O(depth) rounds.",
    "q134_column_profile" ->
      "Column profile (r06): four exact COUNT(DISTINCT)s plus min/max/null counts evaluate in ONE multi-aggregate pass — Expand replicates rows per distinct column map-side, a single partial/final pair follows, and the long-form pivot is a zero-scan explode of the one result row.",
    "q135_prefix_filter_join" ->
      "Prefix-filter similarity join (r06, hash-space since r08): candidate generation self-joins ONLY each doc's (n - ceil(tau*n) + 1) rarest shingles — the exchange ships prefix (hash, doc_id) pairs (64-bit xxhash64 shingle hashes; everything past shingling leaves string space), quadratic work is confined to per-shingle groups that are small by construction (prefixes are rare-first), and the exact Jaccard verify runs the zero-allocation sorted_intersect_count merge walk over sorted array<long> sets through SHUFFLE_HASH-pinned doc_id joins — broadcast is the wrong shape once candidates outgrow memory, and the strategy flip was half the r7 bench variance.",
    "q142_bigram_lm_score" ->
      "Bigram LM scoring (r06): the corpus explodes to bigrams ONCE — both model counts (c12, c1) aggregate from that Generate and join back onto it; the model tables are vocabulary-sized so AQE broadcasts them (corpus never shuffles for the joins), the vocab size crossJoins as a 1-row broadcast, and the per-doc mean rides the decimal route.",
    "q143_correlated_subqueries" ->
      "Correlated subqueries (r06): Catalyst decorrelates all four — EXISTS/NOT EXISTS become semi/anti joins and both scalar COUNTs become aggregate-then-left-join, every one keyed on o_custkey; no per-row subquery re-execution anywhere in the plan.",
    "q145_date_spine" ->
      "Date spine (r06): the bounds aggregate collapses to a 1-row broadcast feeding sequence+explode (the spine never touches the fact table's partitioning), daily counts partial-aggregate map-side, and the spine-counts join broadcasts the |days|-bounded side.",
    "q150_epoch_upsample" ->
      "Epoch upsampling (r06): pure scan-local pipeline — digest draw, copy count, sequence+explode all codegen in the scan stage with zero exchanges before the gate's orderBy; at 100 TB repetition materializes at scan speed and composes with any downstream shuffle.",
    "q140_gopher_rules" ->
      "Gopher rule suite (r06): every rule column (word count, mean word length, alphabetic fraction, stopword count) is a codegen'd higher-order function over the token array — one scan stage, zero exchanges before the gate's orderBy; the filter columns materialize at scan speed on any corpus size.",
    "q141_domain_mixture" ->
      "Domain mixture plan (r06): the only data-sized pass is the token-count scan feeding a 5-group partial/final lang aggregate; targets join as a broadcast literal table and the budget scalar crossJoins back as a 1-row broadcast — the planning table costs one shuffle of 5 rows at any corpus scale.",
    "q144_hof_vector_ops" ->
      "Higher-order-function closure (r06): transform/filter/exists/aggregate/zip_with/slice/sort_array all evaluate inside WholeStageCodegen on the embedding arrays — a single scan stage with no UDF boundary and no exchange before the gate's orderBy.",
    "q146_audio_decode" ->
      "Real audio codec (r06): WAV encode and decode are two pipelined MapPartitions stages directly on the fan-out — per-partition SPI reader instances (no AudioSystem static lock), no shuffle anywhere; feature extraction composes scan-side like any other column.",
    "q147_realized_volatility" ->
      "Realized volatility (r06): daily bars aggregate once keyed (event_type, day) with the deterministic (ts,id)-struct close; the returns lag window re-keys by event_type only — two exchanges total, and the variance rides exact decimal moment sums (order-free on any partitioning).",
    "q148_json_roundtrip" ->
      "JSONL round-trip (r06): the audited plan is the read-back side — a schema-pinned JSON scan (no inference pass) feeding a partial/final decimal aggregate; the write side is a plain partitioned JSON sink. Proves the text codec preserves shortest-round-trip doubles bit-exactly.",
    "q151_substring_dedup" ->
      "Substring dedup (r06): K-token window hashes are a sequence+explode Generate at scan speed; the duplicate-hash filter is a LEFT SEMI join on the 16-byte hash (only (hash, doc_id, pos) triples ever shuffle, never text), and the island merge windows key by doc_id — one partition-local sort chain.",
    "q156_hll_distinct_sketch" ->
      "HLL++ distinct sketch (r06): approx_count_distinct's registers merge map-side in the same partial/final pass as the exact control count — the exchange ships one fixed-size buffer per (group, partition). At 100 TB the exact arm drops and the profile becomes one scan + KB-sized mergeable sketches: no (column, value) shuffle at all (contrast q134's Expand-based exact distincts).",
    "q157_quantile_sketch" ->
      "GK quantile sketch (r06): percentile_approx builds O(1/eps) Greenwald-Khanna summaries that combine map-side (partial/final split visible in the plan); the 15-row sketch output broadcasts back onto the scan for the rank-window verification join — the data-sized side never shuffles. The 100 TB replacement for sort-based exact percentiles.",
    "q158_triangle_degree_ordered" ->
      "Degree-ordered triangles (r06): same thresholded co-supply edges as q117, but each edge re-keys to point low-(degree,id) → high — the wedge self-join's per-key fan-out is bounded by the oriented out-degree, O(sqrt(|E|)) for ANY degree distribution (Suri-Vassilvitskii), where q117's id-orientation lets one low-id hub anchor all its wedges. Degree lookup is two joins against a |V|-sized aggregate (broadcastable); the closing-edge probe is the same (u,v) hash join.",
    "q160_hll_sketch_rollup" ->
      "HLL sketch rollup (r07): daily hll_sketch_agg buffers combine map-side (partial/final), then BOTH rollup paths — direct union and shard-then-union — are hll_union_agg over |event_type x day| KB-sized binaries, never re-reading events; the three 5-row branches join as broadcasts. This is the persistable-sketch path: at 100 TB the daily layer is written once and every rollup is a union of stored binaries, a plan with NO scan of raw data at all (the assoc_ok column proves union associativity makes that re-aggregation exact).",
    "q161_cms_freq_bounds" ->
      "Count-Min frequency bounds (r07): ONE count_min_sketch aggregate pass over the token Generate collapses per-partition 1.6 MB CMS arrays linearly (partial/final visible); the heavy-token probe then runs over the |candidates|-sized exact-count aggregate with the sketch bytes shipped once per executor (transient-lazy deserialization), never per row. The vocabulary-sized side shuffles only (tok, count) pairs; the corpus never shuffles.",
    "q162_semantic_dedup" ->
      "SemDeDup (r08, Abbas 2023): cell assignment is a scan-local argmin over the sampled quantizer shipped as LITERALS (q34's device — no corpus x centroid join); the all-pairs cosine work is confined to per-cell groups by the cell-keyed self-join, and dup marking is a per-cell aggregate. At 100 TB nlist scales with the corpus so cells stay bounded — the quadratic never escapes a cell.",
    "q209_bucketed_join" ->
      "Bucketed co-located join (r08): both sides written bucketBy(8, key)+sortBy, so the fact x dim join plans with ZERO Exchange nodes — asserted IN-QUERY with broadcast disabled (a planned shuffle throws). The audited record is the collected result handoff (scans=0 by design); the co-located join plan itself is pinned by the in-query assertion plus ScaleTechniquesSpec. At 100 TB this is the pay-the-shuffle-once layout for repeated joins on a stable key.",
    "q210_zone_map_prune" ->
      "Zone-map pruning (r08): metadata-plane aggregation — one partial/final pass builds per-file min/max zone maps (|files| << |rows|), the range-overlap keep/skip decision is per-file arithmetic after the aggregate. The 100 TB planner path reads ONLY this table, never data files.",
    "q211_scd2_history" ->
      "SCD2 history (r08): one hash exchange on the dimension key feeds a partition-local lead() window; validity intervals derive per-row post-window — |log| output, no self-join, the standard distributed SCD2 build over the shared q205/q208 change log.",
    "q212_jl_projection" ->
      "JL random-sign projection (r08, Achlioptas 2003): the 16x64 sign matrix is an engine-computed 1024-row index build (hexHash32∘md5, the spec-asserted DuckDB-mirror chain) shipped as ONE nested typedLit — projection is zip_with+aggregate inside whole-stage codegen, zero shuffle, constant-size matrix at any corpus scale.",
    "q213_k_anonymity" ->
      "k-anonymity audit (r08): one partial/final aggregate on the quasi-identifier key; |QI groups| << |rows| and the k>=5 release decision is per-group arithmetic post-aggregate — the privacy census shape at any scale.",
    "q214_dsir_importance" ->
      "DSIR importance weights (r08, Xie 2023): corpus explodes to tokens ONCE; both unigram model tables are vocabulary-sized (AQE broadcasts), corpus scalars ride a 1-row BNLJ (allowlisted), per-doc means are partial/final decimal aggregates — the one-pass 100 TB crawl-scoring profile, kept log-free so the gate can hash it.",
    "q215_group_ols" ->
      "Closed-form per-group OLS (r08): six fixed-width moment partials combine map-side (the q82 device), the exchange ships |groups| rows, slope/intercept/R² are per-group scalar arithmetic after the aggregate — no iteration, no driver math.",
    "q216_runtime_bloom_join" ->
      "Runtime bloom-filter join (r08): with broadcast disabled (the big-side shuffle-join shape), InjectRuntimeFilter must build a bloom filter from the selective orders side and push might_contain into the lineitem scan stage — asserted IN-QUERY (absence throws). At 100 TB this drops non-joining fact rows BEFORE the shuffle; the audited record is the collected result handoff.",
    "q217_dynamic_partition_pruning" ->
      "Dynamic partition pruning (r08): the fact table is written partitioned on the join column; the filtered-dim join must inject dynamicpruning into the fact scan's PartitionFilters (asserted in-query), so only matching partition directories are listed — the dominant scan eliminator for date/tenant-partitioned 100 TB tables; the pruning subquery reuses the join's broadcast.",
    "q218_span_corruption" ->
      "T5 span corruption (r08): positions explode once, the span-start lag() window and the reassembly aggregate both key by doc_id — ONE hash exchange feeds both stages; the mask is the salted-digest draw (retry-stable, no shuffle), and text reassembly is the deterministic sort_array(collect_list(struct(pos,…))) device. The (corrupted, target) training artifact materializes at scan-pipeline cost on any corpus size.",
    "q219_range_join_rewrite" ->
      "Range-join rewrite (r08): the engine's OWN injected Rule[LogicalPlan] (plans/RangeJoinRewrite via SparkSessionExtensions) turns the point-in-interval nested loop into a bin-bucketed equi-join — points gain floor(v/w), intervals explode to their covered bins, the exact [lo,hi] predicate stays as residual. Asserted in-query (any BNLJ/CartesianProduct throws); at 100 TB this is O(points-per-bin × intervals-per-bin) shuffle work instead of O(|L|·|R|) pair work.",
    "q221_bars_rollup" ->
      "Bar rollup (r08): daily candles from MERGED hourly partials — struct-min/max open/close keys, decimal volume sums, no raw-trade re-scan; the oracle recomputes daily bars directly, so the hash gate IS the merge-associativity proof (the q160/q207 re-aggregation argument for OHLC state). The market-data storage pattern: persist fine bars once, derive every coarser granularity at |bars| cost.",
    "q222_trade_signs" ->
      "Lee-Ready classification (r08): the as-of window (prevailing mid) and the tick-rule lag window both partition by symbol — one exchange feeds both passes and the final per-symbol aggregate; O(1) state per key, signed volumes on the decimal route.",
    "q223_amihud_illiquidity" ->
      "Amihud illiquidity (r08): one shuffle to daily bars (deterministic struct-max close, decimal notional), one symbol-keyed lag window, one |symbols|-row aggregate — the q147 profile with a liquidity numerator; libm-free so the scale-18 mean hashes cross-engine.",
    "q224_schema_evolution" ->
      "Schema evolution (r08): mergeSchema unions file footers (metadata-only — no data read to discover the evolved column), v1 rows null-fill at scan time, and the evolved-column aggregate hash-matches an oracle reconstructing the same migration. Additive evolution is the only in-place kind at 100 TB; everything else is q205's rewrite path.",
    "q225_source_purity" ->
      "Source purity (r08): (source, lang) counts, a source-keyed window for totals, and a |sources|-row rollup all share ONE exchange; Gini (1 − Σp², log-free on purpose) rides the scale-18 decimal route and the majority language is a deterministic struct max.",
    "q226_distribution_drift" ->
      "Distribution drift (r08): one token explode feeds a single (token)-keyed conditional-count pass, the two corpus totals broadcast back as a 1-row aggregate, and the top-20 by (|p−q|, token) compiles to TakeOrderedAndProject — per-partition heaps, |vocab| never globally sorts.")

  /** Micro-batch topology notes — one per streaming gate, so every
    * registry query has a PLANS.md entry. */
  private val streamingNotes: Map[String, String] = Map(
    "q108_streaming_staleness" ->
      "flatMapGroupsWithState staleness gate: per-key (user_id) state carries the previous event-time; lag emits per event, state keyed under the 2-partition StreamGate clamp; replayed over 2 MemoryStream chunks to force cross-batch state reads.",
    "q111_streaming_sessions" ->
      "session_window aggregate (event-time, 30 min gap) in append mode with watermark; session merges span micro-batches, state keyed (user_id, session) under the 2-partition clamp.",
    "q119_streaming_bars" ->
      "1-day tumbling event-time OHLC bars with watermark, append mode; open/close ride the same deterministic (ts,id)-struct min/max as batch q66 so replay order cannot change the answer.",
    "q120_streaming_dedup" ->
      "dropDuplicatesWithinWatermark on content digest: dedup state expires with the watermark (bounded state at any stream length — the streaming half of exact dedup q20); 2 chunks force a cross-batch duplicate.",
    "q121_streaming_metrics" ->
      "5 s sliding event-time windows (1 s slide) over latency columns, append mode with watermark — the reference's rolling-metrics loop as a watermark-correct windowed aggregate (MetricsStream).",
    "q122_streaming_zero_rates" ->
      "complete-mode global aggregate of cumulative zero-rates — one-row state, exercises complete output semantics across batches.",
    "q123_streaming_msg_counts" ->
      "complete-mode per-key cumulative counts (the reference's per-symbol message counters); state is |keys| rows under the 2-partition clamp.",
    "q127_streaming_ann" ->
      "stream-static LSH join: streaming query vectors probe the static bucketed index (stateless append join) — the index side is the same KB-sized literal structure as batch q27, so micro-batches never shuffle the corpus.",
    "q131_streaming_join" ->
      "stream-stream inner join with both-side watermarks and an event-time range condition; join state is bounded by the watermark delay, replayed across chunks so matches span batches.",
    "q133_streaming_tws_staleness" ->
      "transformWithState staleness gate (Spark 4 TWS API): typed per-key state handle re-implements q108's lag semantics with explicit state TTL — the migration path off flatMapGroupsWithState.",
    "q137_streaming_outer_join" ->
      "stream-stream LEFT OUTER join: watermark-driven null-side flush — unmatched left rows emit only once the watermark passes their join window; the sentinel chunk advances the watermark to force the flush deterministically.",
    "q138_streaming_tws_sessions" ->
      "transformWithState session windows: explicit ListState of open sessions per user, closed on gap timeout — q111's semantics on the typed-state API, proving session merges survive batch boundaries.",
    "q139_streaming_file_source" ->
      "file-source replay: readStream over a spooled parquet directory (maxFilesPerTrigger=1) → per-key counts, complete mode; exercises source listing/offset tracking rather than MemoryStream.",
    "q149_streaming_available_now" ->
      "Trigger.AvailableNow file-spool drain: stateful complete-mode keyed aggregate, state keyed by event_type under 2 state partitions (StreamGate clamp); the run reuses a shared per-JVM spool fixture (StreamFixtures.mod4) so the bench pays file COPIES, not 4 Spark write jobs per run. Self-terminates via awaitTermination — the nightly-backfill trigger surface.",
    "q152_streaming_restart" ->
      "Source-offset restart: two sequential queries share one checkpoint over the shared mod4 spool; the second run's micro-batch log must resume AFTER the first run's committed offsets (re-listed files must not replay). Complete-mode keyed aggregate, 2 state partitions.",
    "q153_streaming_late_drop" ->
      "Event-time watermark drop: append-mode windowed aggregate whose watermark advances across 2 MemoryStream chunks; rows behind the watermark are dropped by the EventTimeWatermark operator BEFORE the stateful aggregate — the oracle counts only surviving rows, so a broken watermark hash-fails.",
    "q154_foreach_batch_sink" ->
      "foreachBatch idempotent sink: per-batch overwrite into batch=<id> partition dirs; the retry replays batch 0 from rows materialized INSIDE the callback (the only scope where the batch DF is valid) and must leave directory contents identical — exactly-once by idempotent overwrite, the Delta/Iceberg-style sink discipline.",
    "q155_streaming_chained_aggs" ->
      "Chained stateful aggregates: two groupBy levels in one streaming query (Spark 4 multiple-stateful-operator support) — window counts feed a per-key rollup, both levels' state in the store under the 2-partition clamp; 2 MemoryStream chunks force cross-batch merges at BOTH levels.",
    "q159_stateful_restart" ->
      "STATE restart (r06): append-mode event-time windowed aggregate killed between time-quartile files and resumed from checkpoint by a NEW query — the boundary window's count is right only if per-window aggregation state was restored, windows emit exactly once only if the WATERMARK was restored, and the parquet sink's commit log must carry run 1's batches. File mtimes pin one time-ordered slice per micro-batch (maxFilesPerTrigger=1); union of both runs' appends equals the whole-input batch oracle.",
    "q208_streaming_upsert" ->
      "Streaming merge-on-read compaction (r08): the q205 change log replays one micro-batch PER COMMIT VERSION through a complete-mode per-key max(struct(ver, op, price)) aggregate — latest-wins is correct only if key state survives across batches (inserts land a batch before updates, updates before tombstones). Final complete-mode table = compacted snapshot, hash-matched against the batch q205-shape oracle; per-key state is one fixed-width argmax struct, merged associatively (the map-side-combine algebra), so state is |live keys| not |log|.",
    "q220_streaming_range_join" ->
      "Streaming range join (r08): the engine's injected RangeJoinRewrite must fire inside IncrementalExecution — streaming points bin-join the static interval table per micro-batch (stateless append), the LAST micro-batch's executed plan is asserted nested-loop-free in-query, and the post-stream aggregate hash-matches q219's batch oracle. The attribution shape (event stream × band table) with O(|L|·|R|) eliminated per batch.",
    "q235_streaming_update_mode" ->
      "Update-output-mode gate (r09): keyed aggregate emitting ONLY changed keys per micro-batch; the memory sink accumulates the update log, so per-key emission count equals batches-that-touched-the-key — recomputed by the oracle from the deterministic 3-chunk split. Completes the sink-mode matrix (append/complete/update).",
    "q236_streaming_full_outer" ->
      "Stream-stream FULL OUTER attribution join (r09): matched pairs plus watermark-flushed unconverted impressions AND orphan clicks, each emitted once (the q137 two-sentinel advance protocol); hash-matched against the batch FULL JOIN. Completes the stream-join output-type matrix (inner/leftOuter/fullOuter); state bound identical to q137.")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("plan-audit", "8")
    val sf = args.headOption.getOrElse(invariantSf)
    // args(1): alternate output dir (default docs/ — the checked-in
    // goldens); args(2): comma-list query filter. Both exist for the
    // scale-sanity re-dump (docs/SCALING.md): re-derive the invariant
    // rows for a query subset against the 10× fixture WITHOUT touching
    // the goldens, then diff row-for-row to prove no plan flipped with
    // data volume.
    val outDir = args.lift(1).getOrElse("docs")
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val allNames = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val sb = new StringBuilder
    sb.append("# Physical plan audit\n\n")
    sb.append(s"Generated by `graft.tools.PlanAudit` against `$sf` " +
      s"(${allNames.size} registry queries: ${allNames.size - streamingGates.size} " +
      "batch plans + " + streamingGates.size + " streaming-gate topology notes).\n")
    sb.append("AQE is enabled; plans below are the initial physical plans " +
      "(AQE re-optimizes exchanges at runtime). Plan-shape invariants for " +
      "every batch query are pinned in `docs/plan_invariants.tsv` and " +
      "asserted by `PlanInvariantsSpec` on every `sbt test` run.\n\n")
    val records = scala.collection.mutable.ArrayBuffer.empty[PlanRecord]
    allNames.foreach { name =>
      if (streamingGates(name)) {
        val note = streamingNotes.getOrElse(name, "streaming gate")
        val rec = streamRecord(spark, name, sf)
        records += rec
        sb.append(s"## $name (streaming gate)\n\n$note\n\n")
        sb.append(s"Executed micro-batch plan invariants (last batch): " +
          s"state_ops=${rec.stateOps}, mode=${rec.mode}, batches=${rec.batches}, " +
          s"exchanges=${rec.exchanges}, bnlj=${rec.bnlj}, " +
          s"cartesian=${rec.cartesian}.\n\n")
      } else {
        val note = audited.getOrElse(name,
          "Auto-audited: plan-shape invariants pinned in plan_invariants.tsv (PlanInvariantsSpec).")
        val (plan, rec) = planAndRecord(spark, name, sf)
        records += rec
        sb.append(s"## $name\n\n$note\n\n```\n")
        // keep the operator tree + the scan details; trim the long column lists
        val lines = plan.linesIterator.toSeq
        val treeEnd = lines.indexWhere(_.trim.isEmpty) match {
          case -1 => lines.size
          case i  => i
        }
        val tree = lines.take(treeEnd)
        val details = lines.drop(treeEnd).filter(l =>
          l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("Location") || l.startsWith("(") && l.contains("Scan parquet"))
        sb.append(tree.mkString("\n"))
        sb.append("\n--- scan details ---\n")
        sb.append(details.map(_.take(200)).mkString("\n"))
        sb.append("\n```\n\n")
      }
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/PLANS.md"), sb.toString)
    Files.writeString(Paths.get(s"$outDir/plan_invariants.tsv"),
      (tsvHeader +: records.map(_.tsvLine)).mkString("", "\n", "\n"))
    println(s"wrote $outDir/PLANS.md (${allNames.size} entries) and " +
      s"$outDir/plan_invariants.tsv (${records.size} records)")
    spark.stop()
  }
}
