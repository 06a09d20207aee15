package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design:
  *  - signatures (minhash/simhash/fingerprints) are per-row higher-order-
  *    function expressions — computed at scan speed, no shuffle, no UDF;
  *  - candidate generation shuffles only (band_hash → doc_id) pairs, never
  *    documents;
  *  - verification joins operate on pre-shrunk candidate sets.
  *
  * Hashes are salted md5 hex strings (lexicographic min == numeric min on
  * a uniform hash), chosen so an external SQL engine reproduces them
  * bit-for-bit for the correctness oracle.
  */
object Dedup {

  /** Exact dedup: group by content hash; keep the smallest doc_id as the
    * canonical representative. One shuffle of (hash, doc_id) pairs only.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature: `numHashes` hash functions derived from
    * ceil(numHashes/3) salted md5s per shingle — each md5's 32 hex chars
    * yield three independent 40-bit keys (10-hex-char slices), cutting the
    * md5 work 3× vs one digest per hash function. A 40-bit key space is
    * ample for minhash ordering (collisions need ~2^20 shingles per doc).
    * Per-row HOF computation, shuffle-free.
    */
  def minhashCols(shingles: Column, numHashes: Int): Seq[Column] =
    (0 until numHashes).map { i =>
      val salt = i / 3
      val slice = i % 3
      array_min(transform(shingles,
        x => substring(md5(concat(lit(s"$salt:"), x)), 1 + slice * 10, 10)))
        .as(s"mh$i")
    }

  /** All `numHashes` minhash minima as ONE array column via the native
    * [[graft.functions.MinHashSigs]] expression — identical values to
    * [[minhashCols]] (a spec asserts it), one pass, ~3x less md5.
    */
  def minhashArray(shingles: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.MinHashSigs(
      ColumnBridge.expression(shingles), numHashes))
  }

  /** mh0..mhN-1 projections over a [[minhashArray]] column. */
  def minhashColsFromArray(arr: Column, numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i => element_at(arr, i + 1).as(s"mh$i"))

  /** LSH banding: group `numHashes` signature columns into bands of
    * `rowsPerBand`, hash each band. Docs sharing any band hash are
    * candidate near-duplicates.
    */
  def bandCols(numHashes: Int, rowsPerBand: Int): Seq[Column] = {
    (0 until numHashes / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      md5(concat_ws("|", parts: _*)).as(s"band$b")
    }
  }

  /** (band_idx, band_hash) structs of the band0..band(numBands−1) columns. */
  private def bandStructsOf(numBands: Int): Column =
    array((0 until numBands).map(b =>
      struct(lit(b).as("band_idx"), col(s"band$b").as("band_hash"))): _*)

  /** One (doc_id, band_idx, band_hash) row per band of each signature. */
  private def explodeBands(sigs: DataFrame, numBands: Int): DataFrame =
    sigs.select(col("doc_id"), explode(bandStructsOf(numBands)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_hash"))

  /** Distinct (doc_id_a < doc_id_b) pairs sharing a (band_idx, band_hash)
    * bucket of the exploded band rows. */
  private def bucketPairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
  }

  /** Candidate pairs via LSH: explode bands, self-join per (band index,
    * band hash) bucket, emit distinct ordered pairs. The join input is
    * |docs|×|bands| small rows; the quadratic blowup is confined to within
    * buckets (the point of LSH).
    */
  def lshCandidatePairs(sigs: DataFrame, numBands: Int): DataFrame =
    bucketPairs(explodeBands(sigs, numBands))

  /** [[lshCandidatePairs]] with FAMILY-SIZE CAPPING at ingest — the
    * standard 100 TB dedup guard: an LSH bucket of f members generates
    * C(f,2) pairs, so one boilerplate family (a license header, a
    * template page) of f = 10^6 docs costs 5·10^11 comparisons in ANY
    * engine. Before pair generation, each bucket (band_idx, band_hash)
    * keeps only its `k` best members by (`qualityCol` DESC, doc_id ASC)
    * — the q41 keep-best rule, so the retained representatives are
    * exactly the docs the downstream resolution would keep anyway — and
    * every bucket's pair work is bounded by C(k,2): total candidate
    * pairs ≤ (k−1)/2 · |band rows| = O(k·n), linear in the corpus at
    * fixed k instead of quadratic in the hottest family.
    *
    * Scale shape: one shuffle on the bucket key for the window rank
    * (each family sorts f·log f — the cap's point: f·log f ≪ f², and a
    * rank-k cutoff never materializes the family in memory beyond the
    * sort spill machinery), then the standard bucket self-join over rows
    * whose per-bucket cardinality is ≤ k. `sigs` must carry `doc_id`,
    * `qualityCol`, and band0..band(numBands−1).
    */
  def cappedLshCandidatePairs(sigs: DataFrame, numBands: Int, k: Int,
      qualityCol: String = "quality_score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = sigs
      .select(col("doc_id"), col(qualityCol), explode(bandStructsOf(numBands)).as("b"))
      .select(col("doc_id"), col(qualityCol), col("b.band_idx"), col("b.band_hash"))
    val capped = exploded
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band_idx"), col("band_hash"))
          .orderBy(col(qualityCol).desc, col("doc_id"))))
      .filter(col("rn") <= k)
      .select("doc_id", "band_idx", "band_hash")
    bucketPairs(capped)
  }

  /** Incremental LSH screening — the ingestion-time shape of near-dup
    * dedup (the MinHash sibling of the exact-hash anti-join in q58): band
    * an INCOMING batch's signatures and probe them against an existing
    * corpus INDEX's bands; an incoming doc sharing any (band_idx,
    * band_hash) bucket with the index is a near-dup candidate and gets
    * `dup_of` = the smallest matching index doc (deterministic), else
    * `keep = true`. The index side is banded once and persisted in a real
    * pipeline — each new batch only shuffles ITS OWN |batch|×|bands| rows
    * plus the bucket-matched index rows; the corpus is never rescanned.
    */
  def lshScreenAgainst(index: DataFrame, incoming: DataFrame, numBands: Int): DataFrame = {
    val hits = explodeBands(incoming, numBands).as("n")
      .join(explodeBands(index, numBands).as("o"),
        col("n.band_idx") === col("o.band_idx") &&
        col("n.band_hash") === col("o.band_hash"))
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(min(col("o.doc_id")).as("dup_of"))
    incoming.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** 32-bit integer from the first 8 hex chars of a digest string, decoded
    * arithmetically ('a'..'f' → 10..15, '0'..'9' → 0..9). Apply to a
    * md5-hex lambda variable so the digest is computed once per token.
    */
  def hexHash32(hexStr: Column): Column = {
    def nibble(pos: Int): Column = {
      val c = ascii(substring(hexStr, pos, 1)).cast("long")
      when(c >= 97, c - 87).otherwise(c - 48)
    }
    (1 to 8).map(p => shiftleft(nibble(p), (8 - p) * 4)).reduce(_ + _)
  }

  /** m=4096/k=4 Bloom geometry — SINGLE OWNER for the fixed-size
    * decontamination filter (q62's probe, q316/q318's cascade prefilter):
    * position j is an independent 12-bit hash from md5 slice j of the
    * shingle. Keeping m, k, and the slice offsets in one place means the
    * Spark probes and the DuckDB oracle mirrors
    * ([[graft.queries.TrainingDataQueries.duckBloomPos]]) cannot drift
    * apart query-by-query. Reference src/metrics.py:1-40 computes its
    * overlap reports driver-side; the filter is the plan-native stand-in.
    */
  def bloomPos4096(sg: Column, j: Int): Column =
    hexHash32(substring(md5(sg), 1 + 8 * j, 8)) % 4096

  /** Build the 4096-bit filter from a holdout shingle column `bsh` and
    * return the codegen'd k=4 membership probe over `sgCol`. The bit
    * table ships as ONE Literal node (a 4096-child CreateArray costs
    * ~7 s/run of driver-side planning — the q62 lesson); the collect is
    * the index build, fixed-size no matter how large the corpus.
    */
  def bloomProbe4096(benchSh: DataFrame, sgCol: Column): Column = {
    val setBits = benchSh
      .select(array((0 until 4).map(j => bloomPos4096(col("bsh"), j)): _*).as("ps"))
      .select(explode(col("ps")).as("pos"))
      .distinct()
      .collect().map(_.getLong(0).toInt).toSet
    val bitsLit = typedLit((0 until 4096).map(p =>
      if (setBits(p)) 1 else 0).toArray)
    (0 until 4)
      .map(j => element_at(bitsLit, (bloomPos4096(sgCol, j) + 1).cast("int")) === 1)
      .reduce(_ && _)
  }

  /** All token hashes as one array column via the native
    * [[graft.functions.TokenHash32]] expression — identical values to
    * `hexHash32(md5(token))` per token (spec-asserted). Use behind an
    * explode barrier when feeding [[simhash32]], whose 32 per-bit
    * aggregates each reference the array.
    */
  def tokenHash32Array(tokens: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.TokenHash32(
      ColumnBridge.expression(tokens)))
  }

  /** 32-bit SimHash over a pre-hashed token array (`tok_hash`, from
    * [[tokenHash32Array]] or the declarative hexHash32∘md5 chain): for
    * each bit position, sum ±1 votes; the sign of the sum sets the bit.
    * Integer arithmetic only — bit-exact everywhere — and per-row
    * (shuffle-free).
    */
  def simhash32(tokHash: Column): Column = {
    val bits = (0 until 32).map { b =>
      val sumVotes = aggregate(tokHash, lit(0L), (acc, h) =>
        acc + shiftright(h, b).bitwiseAND(lit(1L)) * 2L - 1L)
      when(sumVotes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (for near-dup banding /
    * verification).
    */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** n-gram Jaccard similarity between two shingle arrays (distinct
    * semantics): |A∩B| / |A∪B|.
    */
  def jaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB))

  /** Streaming exact dedup: drop events whose content hash was already
    * seen, with state bounded by the watermark horizon (idiomatic
    * Structured Streaming dedup — state is GC'd once the event-time
    * watermark passes).
    *
    * @param eventTimeCol TimestampType column the watermark rides on
    */
  def streamingExact(events: DataFrame, textCol: String,
      eventTimeCol: String, watermarkDelay: String): DataFrame =
    events
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Duplicate-cluster resolution: connected components over the LSH
    * candidate-pair graph — each doc's cluster id becomes the smallest
    * doc_id in its component (the canonical representative to keep).
    *
    * Algorithm: the large-star/small-star alternation of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC'14) — public
    * paper, re-expressed as DataFrame joins/aggregations:
    *  - large-star(u): with m = min(Γ(u) ∪ {u}), link every neighbor
    *    v > u to m;
    *  - small-star(u): over smaller neighbors N = {v : (u,v), v < u},
    *    with m = min(N), link u and every v ∈ N\{m} to m.
    * Both preserve connectivity; the alternation converges in O(log n)
    * rounds to one star per component rooted at the component minimum —
    * vs O(diameter) for plain min-label propagation, and without the
    * propagation join's single hot `dst` key on a mega-cluster: here the
    * heavy per-node state is a partial-aggregatable `min` (map-side
    * combine), and the one hub-keyed join is a 1-row probe that AQE
    * skew-split handles.
    *
    * `localCheckpoint` truncates lineage so plans don't grow per round.
    */
  def duplicateClusters(pairs: DataFrame): DataFrame =
    duplicateClustersWithRounds(pairs)._1

  /** [[duplicateClusters]] plus the number of large+small alternation
    * rounds taken (exposed for the O(log n) convergence spec).
    */
  private[graft] def duplicateClustersWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    // Invariant: edges oriented src > dst, distinct, no self-loops.
    val nodes = pairs.select(col("doc_id_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_id_b").as("doc_id")))
      .distinct().localCheckpoint()
    var edges = pairs
      .select(greatest(col("doc_id_a"), col("doc_id_b")).as("src"),
        least(col("doc_id_a"), col("doc_id_b")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()

    // large-star: undirected neighborhoods; m = min(Γ(u) ∪ {u}); emit
    // (v, m) for v ∈ Γ(u), v > u. Emitted edges keep src > dst because
    // v > u ≥ m.
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      val m = und.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      und.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // small-star: per src over its (all-smaller) dst neighbors N with
    // m = min(N): emit (v, m) for v ∈ N\{m} and (src, m).
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("src").agg(min(col("dst")).as("m"))
      val relink = e.join(m, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      relink.unionByName(m.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // Converged when a full large+small round leaves the edge set
    // unchanged (then every component is a star rooted at its minimum).
    // Set-equality check is an order-insensitive signature: count plus
    // two independent xxhash64 XOR folds (XOR never overflows under ANSI
    // mode) — one tiny aggregation per round instead of a join-shaped
    // except().
    def sig(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(dst, src, 7))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var curSig = sig(edges)
    var rounds = 0
    var converged = edges.isEmpty
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "large-star/small-star CC failed to converge in 64 rounds")
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = sig(next)
      converged = nextSig == curSig
      edges = next
      curSig = nextSig
    }
    val labels = nodes
      .join(edges.groupBy(col("src")).agg(min(col("dst")).as("parent")),
        nodes("doc_id") === col("src"), "left")
      .select(col("doc_id"), coalesce(col("parent"), col("doc_id")).as("cluster_id"))
    (labels, rounds)
  }
}
