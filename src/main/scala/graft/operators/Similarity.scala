package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; per-row dot products in codegen'd
  *    higher-order functions; ranking via window row_number (per-query
  *    partitions). The corpus is scanned once, never shuffled.
  *  - [[lshBucketedTopK]]: the scale path — random-hyperplane LSH buckets
  *    corpus and queries (signs of dot products with deterministic
  *    pseudo-random planes); candidates are only same-bucket rows, turning
  *    O(|corpus|·|queries|) into O(bucket) work. Recall < 1 by design;
  *    multi-probe = compare on fewer bits.
  *
  * All arithmetic is double-deterministic: elementwise products folded
  * left-to-right (IEEE order fixed) so results reproduce bit-for-bit on
  * any partitioning and in the external oracle.
  */
object Similarity {

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Cosine similarity of two double arrays — native one-pass kernel
    * ([[graft.functions.VecCosine]]), bit-identical to
    * [[cosineDeclarative]] (spec-asserted A/B).
    */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.VecCosine(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The declarative HOF form of [[cosine]] (what the DuckDB oracles
    * mirror): left-to-right folds via aggregate/zip_with/transform. Kept
    * as the cross-engine semantic reference and for the A/B spec.
    */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** Native left-to-right dot product ([[graft.functions.VecDot]]). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.VecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Candidate (qid, qvec, id, vec) pairs minus self-pairs, with their
    * exact `cos_sim`. */
  private def scored(pairs: DataFrame): DataFrame =
    pairs.filter(col("id") =!= col("qid"))
      .withColumn("cos_sim", cosine(asDouble(col("qvec")), asDouble(col("vec"))))

  /** Each query's `k` best (qid, id, cos_sim) rows by (cos_sim DESC, id):
    * (qid, rank, neighbor_id, cos_sim). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos_sim"), asc("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"), col("cos_sim"))
  }

  /** The corpus vectors at ids 0, step, 2·step, … (step = ⌊corpus/n⌋), the
    * first `n` of them in id order, collected: the deterministic sampled
    * quantizer / codebook source of the IVF and PQ indexes. */
  private def sampledVectors(corpus: DataFrame, n: Int): Seq[Seq[Double]] = {
    val step = math.max(1L, corpus.count() / n) // index-build-time action
    corpus
      .filter(col("id") % step === 0 && (col("id") / step) < n)
      .orderBy((col("id") / step).cast("int"))
      .select(asDouble(col("vec")))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
  }

  /** Exact top-k neighbors for each query vector.
    * @param corpus  (id, vec) rows
    * @param queries (qid, qvec) rows — small; broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(scored(corpus.crossJoin(broadcast(queries))), k)

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i):
    * a value in [-0.5, 0.5) derived from md5 via pure nibble arithmetic —
    * reproducible in any SQL engine (no RNG state, no engine-specific
    * base conversion), which is what lets the LSH-ANN query carry a full
    * external oracle.
    *
    * The components are CONSTANTS per (p, i), so they're computed once on
    * the driver (same md5 → 32-bit → [-0.5,0.5) arithmetic, bit-identical
    * to the in-plan form an external oracle mirrors) and shipped as array
    * literals — the previous in-plan formulation re-ran numPlanes×dim md5
    * calls per ROW (512/row at 8 planes × 64 dims), dominating the
    * bucketing stage.
    */
  private def planeComponent(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    u32.toDouble / 4294967296.0d - 0.5d
  }

  // One Literal NODE per constant array (not a dim-child CreateArray):
  // the optimizer walks/clones every expression node on each analysis
  // and optimization pass, so wide constant trees (64-dim planes, 16
  // centroids, bitmask tables) turn into seconds of driver-side planning
  // per run. A typedLit ships the same values as a single node.
  private def planeLit(p: Int, dim: Int): Column =
    typedLit((0 until dim).map(i => planeComponent(p, i)).toArray)

  /** Sign-bucket signature: bit p = (vec · plane_p) >= 0.
    * @param dim the embedding dimensionality (plane literals need a static
    *            length; vectors must have exactly `dim` components)
    */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int = 64): Column = {
    val bits = (0 until numPlanes).map { p =>
      when(dot(vec, planeLit(p, dim)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * corpus vector to one of `nlist` cells; each query probes only its
    * `nProbe` nearest cells and ranks exactly within them. This is the
    * classic billion-scale layout: the corpus is partitioned by cell once
    * (one shuffle at index-build time), queries touch nProbe/nlist of the
    * data. `nProbe = nlist` degrades to exact brute force (used by the
    * spec as the correctness anchor).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val spark = corpus.sparkSession
    val corpusFv = corpus
      .withColumn("v", asDouble(col("vec")))
      .withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nlist).setSeed(42).setMaxIter(5)
      .setFeaturesCol("fv").fit(corpusFv)
    val assigned = model.transform(corpusFv)
      .select(col("id"), col("vec"), col("prediction").as("cell"))

    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "centroid")

    ivfProbeAndRank(assigned, centroids, queries, k, nProbe)
  }

  /** IVF with a deterministic sampled coarse quantizer: centroids are the
    * corpus vectors at ids 0, step, 2·step, … (systematic sample, step =
    * ⌊corpus/nlist⌋) and every vector joins its euclidean-nearest sampled
    * centroid's cell. Sampling instead of training is a standard IVF
    * shortcut (coarse quantizers are routinely trained on small samples;
    * a plain sample is the degenerate case) — recall is below KMeans cells
    * but the layout and probe path are identical, and because the
    * centroids are pure data (no RNG, no iteration) the WHOLE index is
    * reproducible in an external SQL engine, which is what lets the q34
    * gate carry a full DuckDB oracle rather than a rows-only check.
    */
  def ivfSampledTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nProbe: Int = 4): DataFrame = {
    // Index build: the sampled coarse quantizer is nlist×dim doubles (KB)
    // of pure data — collect it once and ship it to every task as array
    // LITERALS, exactly like a real IVF broadcasts its quantizer. Cell
    // assignment then becomes a per-row argmin over constants: no
    // corpus×centroids join, no per-id window, no shuffle of vector rows
    // (the previous formulation shuffled |corpus|·nlist wide rows to sort
    // each id's candidates). Values are unchanged: same sqDist folds, and
    // array_position's first-match rule reproduces the (dist asc, cell
    // asc) tie-break.
    val cents = sampledVectors(corpus, nlist)
    def centLit(c: Int): Column = typedLit(cents(c).toArray)
    def cellDists(v: Column): Column =
      array((0 until cents.size).map(c => sqDist(v, centLit(c))): _*)
    def argminCell(v: Column): Column = {
      val d = cellDists(v)
      (array_position(d, array_min(d)) - 1).cast("int")
    }

    val assigned = corpus
      .withColumn("cell", argminCell(asDouble(col("vec"))))
      .select(col("id"), col("vec"), col("cell"))

    // Probe routing: nProbe nearest cells per query via one sorted
    // (dist, cell) struct array — same ordering the window rank produced.
    val qCells = queries
      .withColumn("ds", cellDists(asDouble(col("qvec"))))
      .withColumn("probe", slice(array_sort(zip_with(
        col("ds"),
        typedLit((0 until cents.size).toArray),
        (d, c) => struct(d.as("dist"), c.as("cell")))), 1, nProbe))
      .select(col("qid"), col("qvec"), explode(col("probe.cell")).as("cell"))

    topK(scored(assigned.join(broadcast(qCells), Seq("cell"))), k)
  }

  /** Cell assignment under the sampled literal quantizer — the same index
    * build as [[ivfSampledTopK]] (centroids = systematic id-sample shipped
    * as literals, per-row argmin over constants, no join/shuffle), but
    * returning every vector's winning cell WITH its squared distance.
    * This is the quantizer-build reporting view (cell occupancy +
    * distortion) a k-means/IVF training step emits each Lloyd iteration.
    */
  def ivfAssignCells(corpus: DataFrame, nlist: Int = 16): DataFrame = {
    val cents = sampledVectors(corpus, nlist)
    def centLit(c: Int): Column = typedLit(cents(c).toArray)
    val ds = array((0 until cents.size).map(c =>
      sqDist(asDouble(col("vec")), centLit(c))): _*)
    corpus
      .withColumn("ds", ds)
      .withColumn("cell",
        (array_position(col("ds"), array_min(col("ds"))) - 1).cast("int"))
      .withColumn("dist", array_min(col("ds")))
      .select(col("id"), col("vec"), col("cell"), col("dist"))
  }

  /** SemDeDup-style semantic near-duplicate marking (public literature:
    * Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): cluster the
    * embedding space, then mark a vector as a duplicate of its
    * smallest-id same-cell neighbor with cosine ≥ `tau`. Keeping
    * `dup_of IS NULL` rows implements the paper's one-representative-
    * per-semantic-group corpus prune.
    *
    * Scale shape — the whole point of the clustering step: the quadratic
    * pair work is CONFINED TO CELLS (the all-pairs join keys on `cell`,
    * so each shuffle group is one cluster, never the corpus), and the
    * quantizer ships as literals ([[ivfAssignCells]]) so assignment is a
    * scan-local argmin. At 100 TB, `nlist` scales with the corpus
    * (SemDeDup uses ~10⁵ clusters) which keeps cells bounded; the
    * deterministic sampled quantizer makes the gate hash-reproducible in
    * DuckDB (same device as q34's IVF oracle).
    */
  def semDedup(corpus: DataFrame, tau: Double, nlist: Int = 16): DataFrame = {
    val asg = ivfAssignCells(corpus, nlist).select(col("id"), col("vec"), col("cell"))
    val dups = asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(cosine(asDouble(col("a.vec")), asDouble(col("b.vec"))) >= tau)
      .groupBy(col("b.id").as("id"))
      .agg(min(col("a.id")).as("dup_of"))
    asg.select(col("id"), col("cell"))
      .join(dups, Seq("id"), "left")
      .withColumn("is_semdup", col("dup_of").isNotNull)
  }

  /** Squared euclidean distance — native left-to-right kernel
    * ([[graft.functions.VecSqDist]]), bit-identical to the declarative
    * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)` fold the
    * oracles mirror.
    */
  /** Squared euclidean distance via the native left-to-right VecSqDist
    * fold (public: also the distance kernel of the k-center coreset
    * build, q173).
    */
  def sqDist(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.VecSqDist(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Shared IVF probe path: route each query to its `nProbe` nearest cells
    * (euclidean, matching the quantizer metric), rank exactly within them.
    */
  private def ivfProbeAndRank(assigned: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val qCells = queries
      .withColumn("qv", asDouble(col("qvec")))
      .crossJoin(broadcast(centroids))
      .withColumn("dist", sqDist(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(asc("dist"), asc("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("qid"), col("qvec"), col("cell"))

    topK(scored(assigned.join(broadcast(qCells), Seq("cell"))), k)
  }

  /** Multi-probe LSH ANN: each query probes its own bucket AND every
    * bucket at hamming distance 1 (flip each plane bit) — numPlanes+1
    * probes per query. Recovers most of the recall lost to hyperplane
    * boundary splits at the SAME index size/layout; the corpus side is
    * identical to [[lshBucketedTopK]] (bucketed once, never re-hashed).
    */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val cb = corpus.withColumn("bucket", lshBucket(asDouble(col("vec")), numPlanes, dim))
    val masks = array((lit(0L) +: (0 until numPlanes).map(p => lit(1L << p))): _*)
    val qb = queries
      .withColumn("bucket0", lshBucket(asDouble(col("qvec")), numPlanes, dim))
      .withColumn("mask", explode(masks))
      .withColumn("bucket", col("bucket0").bitwiseXOR(col("mask")))
      .select(col("qid"), col("qvec"), col("bucket"))
    val cand = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"),  col("id"),
        cosine(asDouble(col("qvec")), asDouble(col("vec"))).as("cos_sim"))
      .distinct() // a candidate can surface via several probes
    topK(cand, k)
  }

  /** Product-quantization ANN (the memory-side scale path, complementing
    * IVF's compute-side path): vectors split into `m` subspaces; each
    * subspace has a `k`-codeword codebook (systematic id-sample, like the
    * IVF quantizer — deterministic and oracle-reproducible); a vector
    * compresses to m small codes (here 4 bytes vs 512 — the 128x
    * compression that lets a billion-vector index live in RAM). Query
    * distance is ADC: per-query lookup tables of subspace distances,
    * approx dist = Σ_m lut[m][code_m].
    *
    * Scale shape: codebooks + encoded corpus build with NO shuffle
    * (argmin over literal codewords at scan speed); queries broadcast
    * with their LUTs as computed columns; top-k is the per-query window.
    * Every arithmetic step is an ordered fold or an exact lookup, so the
    * whole index hash-reproduces in DuckDB.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, sub: Int = 16, codebookK: Int = 16): DataFrame = {
    // codebookK × dim sampled codeword source vectors, collected once
    val sampled = sampledVectors(corpus, codebookK).map(_.toArray)
    def cwLit(mm: Int, kk: Int): Column =
      typedLit(sampled(kk).slice(mm * sub, (mm + 1) * sub))
    def subV(v: Column, mm: Int): Column = slice(v, mm * sub + 1, sub)
    // per-subspace argmin code; array_position's first-match rule is the
    // (dist asc, code asc) tie-break
    def code(v: Column, mm: Int): Column = {
      val ds = array((0 until codebookK).map(kk => sqDist(subV(v, mm), cwLit(mm, kk))): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    val enc = corpus
      .withColumn("v", asDouble(col("vec")))
      .select(col("id") +: (0 until m).map(mm => code(col("v"), mm).as(s"c$mm")): _*)
    val qLut = queries
      .withColumn("qv", asDouble(col("qvec")))
      .select(col("qid") +:
        (0 until m).map(mm => array((0 until codebookK).map(kk =>
          sqDist(subV(col("qv"), mm), cwLit(mm, kk))): _*).as(s"lut$mm")): _*)
    val adist = (0 until m).map(mm =>
      element_at(col(s"lut$mm"), col(s"c$mm") + 1)).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(asc("adist"), asc("id"))
    enc.crossJoin(broadcast(qLut))
      .filter(col("id") =!= col("qid"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"), col("adist"))
  }

  /** Pre-bucketed LSH index over a corpus: the build side of the
    * streaming ANN lookup. At scale this is written out partitioned by
    * `bucket` so per-batch lookups prune to matching buckets.
    */
  def lshIndex(corpus: DataFrame, numPlanes: Int = 8, dim: Int = 64): DataFrame =
    corpus.withColumn("bucket", lshBucket(asDouble(col("vec")), numPlanes, dim))

  /** Streaming ANN candidate lookup: query vectors arrive on a stream;
    * each micro-batch is LSH-bucketed with the SAME plane literals as the
    * batch index and joined stream-static on `bucket` against the
    * pre-bucketed corpus. STATELESS append — no watermark, no state
    * store: every candidate pair for a query is emitted in the
    * micro-batch that carried the query, so per-query ranking (a plain
    * window over qid) can run inside `foreachBatch` on each batch's
    * output without cross-batch state. At scale the static index is
    * bucket-partitioned storage, the per-batch query set is tiny, and
    * the join prunes to the probed buckets — per-batch work is
    * O(queries × avg bucket size), independent of corpus size.
    */
  def lshStreamCandidates(index: DataFrame, queryStream: DataFrame,
      numPlanes: Int = 8, dim: Int = 64): DataFrame =
    queryStream
      .withColumn("bucket", lshBucket(asDouble(col("qvec")), numPlanes, dim))
      .join(index, Seq("bucket"))
      .transform(scored)
      .select(col("qid"), col("id"), col("cos_sim"))

  /** ANN: exact ranking within LSH buckets. Corpus is bucketed once
    * (shuffle by bucket id — small keys); each query only scans its own
    * bucket.
    */
  def lshBucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val cb = corpus.withColumn("bucket", lshBucket(asDouble(col("vec")), numPlanes, dim))
    val qb = queries.withColumn("bucket", lshBucket(asDouble(col("qvec")), numPlanes, dim))
    topK(scored(cb.join(broadcast(qb), Seq("bucket"))), k)
  }
}
