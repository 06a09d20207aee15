package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.operators.{Dedup, HeavyHitters, Multimodal, Sampling, Similarity, TextAnalysis}

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
  * similarity search (brute-force + LSH-bucketed ANN), text analysis
  * (lang-ID, quality, token counts, fingerprints), multimodal plumbing.
  *
  * Oracle parity notes: all hashing is salted md5 (reproducible in any
  * SQL engine); all floating-point reductions are left-to-right folds
  * (IEEE order fixed); DuckDB fractional literals are cast ::DOUBLE to
  * escape its decimal literal typing.
  */
object TrainingDataQueries extends Registry {

  private[queries] val NumHashes = 6
  private[queries] val RowsPerBand = 2
  private[queries] val NumBands = NumHashes / RowsPerBand

  // ---- shared DuckDB SQL fragments (mirror TextAnalysis/Dedup exactly) --
  private[queries] val duckToks = "string_split(text, ' ')"
  private[queries] def duckShingles(w: String): String =
    s"list_transform(range(1, len($w)-1), i -> array_to_string(($w)[i:i+2], ' '))"
  private[queries] def duckMh(i: Int): String =
    s"list_aggregate(list_transform(sh, x -> substr(md5('${i / 3}:' || x), ${1 + (i % 3) * 10}, 10)), 'min')"
  private[queries] def duckCos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(1, len($x)+1), i -> CAST(($x)[i] AS DOUBLE) * CAST(($y)[i] AS DOUBLE)), (acc, v) -> acc + v)"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }
  private[queries] def duckNib(h: String, p: Int): String =
    s"(CASE WHEN ascii(substr($h, $p, 1)) >= 97 " +
      s"THEN CAST(ascii(substr($h, $p, 1)) - 87 AS BIGINT) " +
      s"ELSE CAST(ascii(substr($h, $p, 1)) - 48 AS BIGINT) END)"
  private[queries] def duckHash32(h: String): String =
    (1 to 8).map(p => s"(${duckNib(h, p)} << ${(8 - p) * 4})").mkString(" + ")

  /** DuckDB mirror of `TextAnalysis.qualityColumns`'s quality_score over
    * a tokenized column `w` and the raw `text` — the SINGLE owner of the
    * scoring formula on the oracle side (q41, q43-family, q48, q313 all
    * splice it); an edit here moves every oracle with the Spark side
    * together instead of hunting four inline copies.
    */
  private[queries] val duckQuality: String =
    """least(CAST(len(w) AS DOUBLE) / 100.0::DOUBLE, 1.0::DOUBLE) * 0.5::DOUBLE
          + (CASE WHEN CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) >= 3.0::DOUBLE
                   AND CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) <= 10.0::DOUBLE
              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) * 0.2::DOUBLE
          + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','is','to','in','that'))) AS DOUBLE)
              / len(w)) * 3.0::DOUBLE, 1.0::DOUBLE) * 0.3::DOUBLE"""

  /** Shared CTE chain ending in the LSH candidate `pairs` table
    * (doc_id_a < doc_id_b), mirroring minhashSigFrame + Dedup banding
    * exactly; callers prepend `WITH [RECURSIVE]` (q38, q170).
    */
  private[queries] lazy val duckLshPairsCtes: String = duckLshPairsCtesFrom("documents")

  /** [[duckLshPairsCtes]] over an arbitrary (possibly filtered) doc
    * relation carrying (doc_id, text) — q188 evaluates on a hash sample.
    */
  private[queries] def duckLshPairsCtesFrom(rel: String): String =
    s"""t AS (SELECT doc_id, $duckToks AS w FROM $rel),
      s AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM t),
      mh AS (SELECT doc_id,
        ${(0 until NumHashes).map(i => s"${duckMh(i)} AS mh$i").mkString(", ")}
        FROM s WHERE len(sh) > 0),
      sig AS (SELECT doc_id,
        ${(0 until NumBands).map(b =>
          s"md5(mh${b * RowsPerBand} || '|' || mh${b * RowsPerBand + 1}) AS band$b")
          .mkString(", ")}
        FROM mh),
      bands AS (${(0 until NumBands).map(b =>
          s"SELECT doc_id, $b AS band_idx, band$b AS band_hash FROM sig")
          .mkString("\n        UNION ALL ")}),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
          AND a.doc_id < b.doc_id)"""

  /** Exact dedup by content hash (hash-groupBy; one tiny shuffle). */
  private val q20 = Q("q20_dedup_exact",
    (s, d) => Dedup.exactGroups(Tables.fanOut(Tables.documents(s, d))).orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      COUNT(*) AS n_copies FROM documents
      GROUP BY md5(text) ORDER BY content_hash"""))

  /** One-pass native minhash signatures shared by q21/q22/q38: the
    * explode(array(...)) Generate is a collapse barrier, so shingling and
    * the MinHashSigs pass run exactly once per row; the element_at
    * projections after it are free. mhs[0] IS NULL ⇔ the shingle set was
    * empty (mirrors the old filter(size(sh) > 0)).
    */
  private[queries] def minhashSigFrame(s: org.apache.spark.sql.SparkSession, d: String) =
    minhashSigFrameOf(Tables.fanOut(Tables.documents(s, d)))

  /** [[minhashSigFrame]] over an arbitrary (doc_id, text) frame — the
    * single owner of the signature construction (q188 samples first). */
  private[queries] def minhashSigFrameOf(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), explode(array(Dedup.minhashArray(
        TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3), NumHashes))).as("mhs"))
      .filter(element_at(col("mhs"), 1).isNotNull)

  /** LSH candidate pairs (doc_id_a < doc_id_b) from the shared signature
    * frame — the Spark mirror of [[duckLshPairsCtes]] (q38, q170).
    */
  private[graft] def lshPairsFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    lshPairsFrameOf(Tables.fanOut(Tables.documents(s, d)))

  /** [[lshPairsFrame]] over an arbitrary (doc_id, text) frame (q188
    * evaluates on a hash sample) — the Spark mirror of
    * [[duckLshPairsCtesFrom]].
    */
  private[queries] def lshPairsFrameOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sigs = minhashSigFrameOf(docs)
      .select(col("doc_id") +: Dedup.minhashColsFromArray(col("mhs"), NumHashes): _*)
      .select(col("doc_id") +: Dedup.bandCols(NumHashes, RowsPerBand): _*)
    Dedup.lshCandidatePairs(sigs, NumBands)
  }

  /** MinHash signatures: per-row native one-pass computation, shuffle-free. */
  private val q21 = Q("q21_minhash_signatures",
    (s, d) => {
      minhashSigFrame(s, d)
        .select(col("doc_id") +: Dedup.minhashColsFromArray(col("mhs"), NumHashes): _*)
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      s AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM t)
      SELECT doc_id,
        ${(0 until NumHashes).map(i => s"${duckMh(i)} AS mh$i").mkString(",\n        ")}
      FROM s WHERE len(sh) > 0 ORDER BY doc_id"""))

  /** LSH candidate pairs: explode band hashes, bucket self-join — the
    * quadratic work is confined to within buckets.
    */
  private val q22 = Q("q22_lsh_candidate_pairs",
    (s, d) => {
      val sigs = minhashSigFrame(s, d)
        .select(col("doc_id") +: Dedup.minhashColsFromArray(col("mhs"), NumHashes): _*)
        .select(col("doc_id") +: Dedup.bandCols(NumHashes, RowsPerBand): _*)
      Dedup.lshCandidatePairs(sigs, NumBands).orderBy("doc_id_a", "doc_id_b")
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      s AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM t),
      mh AS (SELECT doc_id,
        ${(0 until NumHashes).map(i => s"${duckMh(i)} AS mh$i").mkString(", ")}
        FROM s WHERE len(sh) > 0),
      sig AS (SELECT doc_id,
        ${(0 until NumBands).map(b =>
          s"md5(mh${b * RowsPerBand} || '|' || mh${b * RowsPerBand + 1}) AS band$b")
          .mkString(", ")}
        FROM mh),
      bands AS (${(0 until NumBands).map(b =>
          s"SELECT doc_id, $b AS band_idx, band$b AS band_hash FROM sig")
          .mkString("\n        UNION ALL ")})
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        AND a.doc_id < b.doc_id
      ORDER BY doc_id_a, doc_id_b"""))

  /** 32-bit SimHash — one md5+nibble decode per token, then arithmetic-only
    * per-bit votes.
    */
  private val q23 = Q("q23_simhash",
    (s, d) => {
      // explode barrier: token_hash32 runs once per row; the 32 per-bit
      // aggregates of simhash32 then read the bound array attribute
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(array(
          Dedup.tokenHash32Array(TextAnalysis.tokens(col("text"))))).as("tok_hash"))
        .select(col("doc_id"), Dedup.simhash32(col("tok_hash")).as("simhash"))
        .orderBy("doc_id")
    },
    Some {
      val hash32 = duckHash32("h")
      val bitTerms = (0 until 32).map { b =>
        s"(CASE WHEN list_sum(list_transform(th, h -> ((h >> $b) & 1) * 2 - 1)) > 0 " +
          s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }
      s"""WITH t AS (SELECT doc_id,
        list_transform(list_transform($duckToks, t -> md5(t)), h -> $hash32) AS th
        FROM documents)
      SELECT doc_id, ${bitTerms.mkString("\n        + ")} AS simhash
      FROM t ORDER BY doc_id"""
    })

  /** n-gram Jaccard between consecutive docs. A naive self-join on
    * doc_id+1 scans and shingles the corpus TWICE and shuffles both
    * sides; instead each doc emits itself under two pair keys (as the
    * left of pair doc_id and the right of pair doc_id-1) from ONE scan —
    * a Generate, a single shuffle by pair key, and a 2-row groupBy
    * replace the join entirely. Same rows/values (oracle unchanged).
    */
  private val q24 = Q("q24_ngram_jaccard",
    (s, d) => {
      // explode(array(...)) barrier: without it the size(sh) > 0 filter
      // pushes below the projection and the whole shingling chain is
      // evaluated 3x per row (twice in the filter, once in the project)
      // on the pre-fan-out single-task scan
      val keyed = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(array(
          array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)))).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(explode(array(
          struct(col("doc_id").as("k"), lit(true).as("is_left"),
            col("doc_id"), col("sh")),
          struct((col("doc_id") - 1).as("k"), lit(false).as("is_left"),
            col("doc_id"), col("sh")))).as("e"))
        .select(col("e.k"), col("e.is_left"), col("e.doc_id"), col("e.sh"))
      keyed.groupBy("k")
        .agg(
          max(when(col("is_left"), struct(col("doc_id"), col("sh")))).as("a"),
          max(when(!col("is_left"), struct(col("doc_id"), col("sh")))).as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull)
        .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"),
          size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("n_inter"),
          size(array_union(col("a.sh"), col("b.sh"))).cast("long").as("n_union"),
          Dedup.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
        .orderBy("doc_id_a")
    },
    Some(s"""WITH raw AS (SELECT doc_id,
        unnest(${duckShingles(duckToks)}) AS sh FROM documents),
      s AS (SELECT DISTINCT doc_id, sh FROM raw),
      c AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
      i AS (SELECT a.doc_id AS doc_id_a, COUNT(*) AS n_inter
            FROM s a JOIN s b ON b.sh = a.sh AND b.doc_id = a.doc_id + 1
            GROUP BY a.doc_id)
      SELECT ca.doc_id AS doc_id_a, cb.doc_id AS doc_id_b,
        coalesce(n_inter, 0) AS n_inter,
        ca.n + cb.n - coalesce(n_inter, 0) AS n_union,
        CAST(coalesce(n_inter, 0) AS DOUBLE)
          / (ca.n + cb.n - coalesce(n_inter, 0)) AS jaccard
      FROM c ca JOIN c cb ON cb.doc_id = ca.doc_id + 1
      LEFT JOIN i ON i.doc_id_a = ca.doc_id
      ORDER BY doc_id_a"""))

  /** Embedding cosine near-dup between consecutive vectors — exact
    * left-to-right double folds, bit-reproducible.
    */
  private val q25 = Q("q25_embedding_neardup",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = e.as("a")
      val b = e.as("b")
      a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
        .select(col("a.vec_id").as("vec_id_a"), col("b.vec_id").as("vec_id_b"),
          Similarity.cosine(col("a.v"), col("b.v")).as("cos_sim"))
        .withColumn("near_dup", col("cos_sim") > 0.95d)
        .orderBy("vec_id_a")
    },
    Some(s"""SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      ${duckCos("a.embedding", "b.embedding")} AS cos_sim,
      ${duckCos("a.embedding", "b.embedding")} > 0.95::DOUBLE AS near_dup
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      ORDER BY vec_id_a"""))

  /** Brute-force cosine top-k: broadcast query set over one corpus scan. */
  private val q26 = Q("q26_ann_bruteforce_topk",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(corpus, queries, 10)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
        FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
      sim AS (SELECT qid, id, ${duckCos("qvec", "vec")} AS cos_sim
        FROM q CROSS JOIN c WHERE id <> qid),
      r AS (SELECT qid, id, cos_sim,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id)
          AS INTEGER) AS rank FROM sim)
      SELECT qid, rank, id AS neighbor_id, cos_sim
      FROM r WHERE rank <= 10 ORDER BY qid, rank"""))

  /** LSH-bucketed ANN (the scale path): random-hyperplane sign buckets,
    * exact ranking within buckets. Fully oracled — the planes derive from
    * md5 nibble arithmetic both engines can compute, and the dot products
    * are ordered folds.
    */
  private val q27 = Q("q27_ann_lsh_bucketed",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshBucketedTopK(corpus, queries, 10, numPlanes = 8)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("qid", "rank")
    },
    Some(lshTopKOracle))

  /** Shared oracle for the LSH-bucketed top-10 lookup (q27 batch, q127
    * streaming): plane literals from md5 nibble arithmetic, sign-bit
    * buckets, exact cosine ranking within buckets.
    */
  private lazy val lshTopKOracle: String = {
      val mdExpr = "md5('plane' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR))"
      s"""WITH pc AS (
        SELECT p, i,
          (CAST(${duckHash32(mdExpr)} AS DOUBLE) / 4294967296.0 - 0.5::DOUBLE) AS comp
        FROM range(0, 8) t1(p), range(0, 64) t2(i)),
      pl AS (SELECT p, list(comp ORDER BY i) AS comps FROM pc GROUP BY p),
      c AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
      cd AS (SELECT id, p,
          list_reduce(list_transform(range(1, len(vec)+1),
            i -> CAST(vec[i] AS DOUBLE) * comps[i]), (a, b) -> a + b) AS dot
        FROM c CROSS JOIN pl),
      cb AS (SELECT id,
          SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
        FROM cd GROUP BY id),
      corp AS (SELECT cb.id, c.vec, bucket FROM cb JOIN c USING (id)),
      qb AS (SELECT id AS qid, vec AS qvec, bucket FROM corp WHERE id < 5),
      j AS (SELECT qid, qvec, id, vec
            FROM qb JOIN corp USING (bucket) WHERE id <> qid),
      sim AS (SELECT qid, id, ${duckCos("qvec", "vec")} AS cos_sim FROM j),
      r AS (SELECT qid, id, cos_sim,
            CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id)
              AS INTEGER) AS rank FROM sim)
      SELECT qid, rank, id AS neighbor_id, cos_sim
      FROM r WHERE rank <= 10 ORDER BY qid, rank"""
  }

  /** Multi-probe LSH ANN: same index as q27, but each query also probes
    * the 8 hamming-distance-1 buckets — the standard recall knob that
    * trades probe count (not index size) for recall. Fully oracled like
    * q27: plane literals + xor-mask probe expansion reproduce in SQL.
    */
  private val q57 = Q("q57_ann_multiprobe",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshMultiProbeTopK(corpus, queries, 10, numPlanes = 8)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("qid", "rank")
    },
    Some {
      val mdExpr = "md5('plane' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR))"
      s"""WITH pc AS (
        SELECT p, i,
          (CAST(${duckHash32(mdExpr)} AS DOUBLE) / 4294967296.0 - 0.5::DOUBLE) AS comp
        FROM range(0, 8) t1(p), range(0, 64) t2(i)),
      pl AS (SELECT p, list(comp ORDER BY i) AS comps FROM pc GROUP BY p),
      c AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
      cd AS (SELECT id, p,
          list_reduce(list_transform(range(1, len(vec)+1),
            i -> CAST(vec[i] AS DOUBLE) * comps[i]), (a, b) -> a + b) AS dot
        FROM c CROSS JOIN pl),
      cb AS (SELECT id,
          SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
        FROM cd GROUP BY id),
      corp AS (SELECT cb.id, c.vec, bucket FROM cb JOIN c USING (id)),
      qb0 AS (SELECT id AS qid, vec AS qvec, bucket AS b0 FROM corp WHERE id < 5),
      qb AS (SELECT qid, qvec, xor(b0, m) AS bucket
             FROM qb0, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS m) masks),
      sim AS (SELECT DISTINCT qid, id, ${duckCos("qvec", "vec")} AS cos_sim
              FROM qb JOIN corp USING (bucket) WHERE id <> qid),
      r AS (SELECT qid, id, cos_sim,
            CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id)
              AS INTEGER) AS rank FROM sim)
      SELECT qid, rank, id AS neighbor_id, cos_sim
      FROM r WHERE rank <= 10 ORDER BY qid, rank"""
    })

  /** Language-ID heuristic: marker-lexicon hit counts + argmax. */
  private val q28 = Q("q28_lang_id",
    (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      val scoreNames = TextAnalysis.langMarkers.map { case (l, _) => s"score_$l" }
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id") +: TextAnalysis.langScores(toks): _*)
        .withColumn("predicted_lang", TextAnalysis.langPredict(scoreNames))
        .orderBy("doc_id")
    },
    Some {
      val scores = TextAnalysis.langMarkers.map { case (lang, words) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter($duckToks, t -> t IN ($inList))) AS INTEGER) AS score_$lang"
      }
      s"""WITH sc AS (SELECT doc_id, ${scores.mkString(",\n        ")}
        FROM documents)
      SELECT doc_id, score_de, score_en, score_es, score_fr,
        CASE WHEN score_fr > greatest(score_de, score_en, score_es) THEN 'fr'
             WHEN score_es > greatest(score_de, score_en) THEN 'es'
             WHEN score_en > score_de THEN 'en'
             ELSE 'de' END AS predicted_lang
      FROM sc ORDER BY doc_id"""
    })

  /** Quality scoring: length/stopword/word-shape heuristics. */
  private val q29 = Q("q29_quality_score",
    (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id") +: TextAnalysis.qualityColumns(col("text"), toks): _*)
        .withColumn("n_words", col("n_words").cast("long"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, text, $duckToks AS w FROM documents),
      m AS (SELECT doc_id,
        len(w) AS n_words,
        CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) AS avg_word_len,
        CAST(len(list_filter(w, t -> t IN ('the','a','of','and','is','to','in','that'))) AS DOUBLE)
          / len(w) AS stopword_ratio,
        least(CAST(len(w) AS DOUBLE) / 100.0::DOUBLE, 1.0::DOUBLE) AS len_score
        FROM t)
      SELECT doc_id, n_words, avg_word_len, stopword_ratio,
        len_score * 0.5::DOUBLE
          + (CASE WHEN avg_word_len >= 3.0::DOUBLE AND avg_word_len <= 10.0::DOUBLE
              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) * 0.2::DOUBLE
          + least(stopword_ratio * 3.0::DOUBLE, 1.0::DOUBLE) * 0.3::DOUBLE
          AS quality_score
      FROM m ORDER BY doc_id"""))

  /** Token counting: whitespace + BPE-ish chars/4 estimate. */
  private val q30 = Q("q30_token_stats",
    (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.fanOut(Tables.documents(s, d))
        .select(Seq(col("doc_id"), col("n_chars")) ++
          TextAnalysis.tokenCounts(col("text"), toks): _*)
        .withColumn("n_ws_tokens", col("n_ws_tokens").cast("long"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chars,
      len(string_split(text, ' ')) AS n_ws_tokens,
      len(regexp_extract_all(text, '[a-z0-9]+')) AS n_regex_tokens,
      CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
      FROM documents ORDER BY doc_id"""))

  /** Document fingerprints (full + 64-char prefix digests). */
  private val q31 = Q("q31_fingerprint",
    (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id") +: TextAnalysis.fingerprints(col("text")): _*)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      md5(lower(trim(text))) AS fp_full,
      md5(substr(lower(trim(text)), 1, 64)) AS fp_prefix64
      FROM documents ORDER BY doc_id"""))

  /** Multimodal metadata plumbing: opaque binary payload + typed meta. */
  private val q32 = Q("q32_multimodal_meta",
    (s, d) => {
      Multimodal.withMediaColumns(Tables.fanOut(Tables.documents(s, d)))
        .select(col("doc_id"),
          col("media_meta.byte_len").as("byte_len"),
          col("media_meta.declared_width").as("declared_width"),
          col("media_meta.declared_height").as("declared_height"),
          md5(col("media_bytes")).as("content_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      CAST(doc_id % 64 + 16 AS INTEGER) AS declared_width,
      CAST(doc_id % 48 + 16 AS INTEGER) AS declared_height,
      md5(text) AS content_md5
      FROM documents ORDER BY doc_id"""))

  /** Duplicate clusters: connected components over the LSH candidate
    * graph (iterative min-label propagation); cluster id = smallest
    * doc_id in the component. Oracle: recursive CTE reachability.
    */
  private val q38 = Q("q38_dup_clusters",
    (s, d) => Dedup.duplicateClusters(lshPairsFrame(s, d)).orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $duckLshPairsCtes,
      edges AS (
        SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
        UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
      reach(doc_id, lbl) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst)
      SELECT doc_id, MIN(lbl) AS cluster_id FROM reach
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Left-to-right squared-euclidean fold (mirrors Similarity.sqDist). */
  private[queries] def duckSqDist(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE)) " +
      s"* (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE))), (acc, v) -> acc + v)"

  /** IVF ANN over the deterministic sampled coarse quantizer
    * (Similarity.ivfSampledTopK): centroids are a systematic id-sample of
    * the corpus, so the entire index — assignment, probe routing, in-cell
    * ranking — reproduces in DuckDB and the gate gets a full hash oracle.
    * The KMeans quantizer path (Similarity.ivfTopK) stays the quality
    * default and is anchored by the spec's nProbe=nlist == brute-force
    * equivalence.
    */
  private val q34 = Q("q34_ann_ivf",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfSampledTopK(corpus, queries, 10, nlist = 16, nProbe = 4)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH n AS (SELECT greatest(COUNT(*) // 16, 1) AS step FROM embeddings),
      cents AS (
        SELECT CAST(vec_id // step AS INTEGER) AS cell, embedding AS centroid
        FROM embeddings, n WHERE vec_id % step = 0 AND vec_id // step < 16),
      asg AS (
        SELECT id, vec, cell FROM (
          SELECT c.vec_id AS id, c.embedding AS vec, ct.cell,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${duckSqDist("c.embedding", "ct.centroid")}, ct.cell) AS arank
          FROM embeddings c CROSS JOIN cents ct)
        WHERE arank = 1),
      qc AS (
        SELECT qid, qvec, cell FROM (
          SELECT q.vec_id AS qid, q.embedding AS qvec, ct.cell,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${duckSqDist("q.embedding", "ct.centroid")}, ct.cell) AS crank
          FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
          CROSS JOIN cents ct)
        WHERE crank <= 4),
      j AS (SELECT qid, qvec, id, vec FROM asg JOIN qc USING (cell) WHERE id <> qid),
      sim AS (SELECT qid, id, ${duckCos("qvec", "vec")} AS cos_sim FROM j),
      r AS (SELECT qid, id, cos_sim,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id)
          AS INTEGER) AS rank FROM sim)
      SELECT qid, rank, id AS neighbor_id, cos_sim
      FROM r WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Multimodal feature-extraction via per-partition batches, codec-free
    * arm (Multimodal.ByteStats): deterministic byte-level features for
    * payloads with no JVM decoder. The DuckDB SQL mirrors the
    * 31-polynomial checksum and byte-histogram feature over the
    * (all-ASCII) payload bytes, so the mapPartitions plumbing — schema,
    * batching, row streaming — is verified end to end, not rows-only.
    * The real-codec arm (ImageIO PNG round-trip) is q107.
    */
  private val q33 = Q("q33_multimodal_features",
    (s, d) => {
      val media = Multimodal.withMediaColumns(Tables.fanOut(Tables.documents(s, d)))
      Multimodal.extractFeatures(s, media)
        .select(col("doc_id"), col("byte_len"), col("checksum"),
          col("width"), col("height"),
          element_at(col("features"), 1).as("feat0"))
        .orderBy("doc_id")
    },
    Some("""WITH b AS (SELECT doc_id, text,
        list_transform(range(1, length(text)+1),
          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS bytes
        FROM documents)
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS byte_len,
        list_reduce(bytes, (acc, v) -> (acc * 31 + v) & 4294967295) AS checksum,
        CAST(doc_id % 64 + 16 AS INTEGER) AS width,
        CAST(doc_id % 48 + 16 AS INTEGER) AS height,
        list_reduce(
          list_transform(range(1, length(text)+1, 8),
            i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE) / CAST(255 AS DOUBLE)),
          (acc, v) -> acc + v) AS feat0
      FROM b ORDER BY doc_id"""))

  /** Multimodal decode through a REAL image codec (javax.imageio, JDK
    * PNG): synthesize a deterministic grayscale pattern per doc, encode
    * to actual PNG bytes, decode back through ImageIO, and extract
    * pixel-level features. The pattern g(x,y) = (7x + 13y + 31·doc_id)
    * mod 256 is a pure closed form, so the oracle recomputes the decoded
    * pixel sum / rolling checksum / mean directly — any lossy or faked
    * round-trip hash-mismatches. Dims come from doc_id (w=doc_id%64+16,
    * h=doc_id%48+16), matching q32's declared metadata.
    */
  private val q107 = Q("q107_image_decode",
    (s, d) => {
      val media = Multimodal.synthesizeImages(Tables.fanOut(Tables.documents(s, d)))
      Multimodal.decodeImages(media).orderBy("doc_id")
    },
    Some("""WITH dims AS (
        SELECT doc_id,
          CAST(doc_id % 64 + 16 AS INTEGER) AS width,
          CAST(doc_id % 48 + 16 AS INTEGER) AS height
        FROM documents),
      pix AS (
        SELECT doc_id, width, height,
          flatten(list_transform(range(0, CAST(height AS BIGINT)),
            y -> list_transform(range(0, CAST(width AS BIGINT)),
              x -> (x*7 + y*13 + doc_id*31) % 256))) AS g
        FROM dims)
      SELECT doc_id, width, height,
        CAST(list_sum(g) AS BIGINT) AS pix_sum,
        list_reduce(g, (acc, v) -> (acc*31 + v) & 4294967295) AS pix_checksum,
        CAST(CAST(list_sum(g) AS BIGINT) AS DOUBLE)
          / CAST(CAST(width AS BIGINT) * height * 255 AS DOUBLE) AS mean_gray
      FROM pix ORDER BY doc_id"""))

  /** Multi-band (RGB truecolor) image decode through the real codec:
    * 3-channel PNG round-trip with independent per-channel closed-form
    * patterns. Decode reads semantic raster bands (0=R,1=G,2=B); the
    * interleaved r,g,b checksum makes a band-order mistake (e.g.
    * confusing the BGR byte layout with band order) hash-mismatch.
    */
  private val q112 = Q("q112_image_rgb_decode",
    (s, d) => {
      val media = Multimodal.synthesizeRgbImages(Tables.fanOut(Tables.documents(s, d)))
      Multimodal.decodeRgbImages(media).orderBy("doc_id")
    },
    Some("""WITH dims AS (
        SELECT doc_id,
          CAST(doc_id % 32 + 8 AS INTEGER) AS width,
          CAST(doc_id % 24 + 8 AS INTEGER) AS height
        FROM documents),
      pix AS (
        SELECT doc_id, width, height,
          flatten(list_transform(range(0, CAST(height AS BIGINT)),
            y -> list_transform(range(0, CAST(width AS BIGINT)),
              x -> (x*7 + y*13 + doc_id*31) % 256))) AS rs,
          flatten(list_transform(range(0, CAST(height AS BIGINT)),
            y -> list_transform(range(0, CAST(width AS BIGINT)),
              x -> (x*11 + y*5 + doc_id*17) % 256))) AS gs,
          flatten(list_transform(range(0, CAST(height AS BIGINT)),
            y -> list_transform(range(0, CAST(width AS BIGINT)),
              x -> (x*3 + y*19 + doc_id*23) % 256))) AS bs,
          flatten(list_transform(range(0, CAST(height AS BIGINT)),
            y -> flatten(list_transform(range(0, CAST(width AS BIGINT)),
              x -> [(x*7 + y*13 + doc_id*31) % 256,
                    (x*11 + y*5 + doc_id*17) % 256,
                    (x*3 + y*19 + doc_id*23) % 256])))) AS inter
        FROM dims)
      SELECT doc_id, width, height,
        CAST(list_sum(rs) AS BIGINT) AS sum_r,
        CAST(list_sum(gs) AS BIGINT) AS sum_g,
        CAST(list_sum(bs) AS BIGINT) AS sum_b,
        list_reduce(inter, (acc, v) -> (acc*31 + v) & 4294967295) AS pix_checksum,
        CAST(CAST(list_sum(rs) AS BIGINT) + CAST(list_sum(gs) AS BIGINT)
          + CAST(list_sum(bs) AS BIGINT) AS DOUBLE)
          / CAST(3 * CAST(width AS BIGINT) * height * 255 AS DOUBLE) AS mean_luma
      FROM pix ORDER BY doc_id"""))

  /** Heavy hitters over the token stream (vocabulary head / stopword
    * mining): exact top-25 tokens via per-partition Misra-Gries candidate
    * summaries + broadcast recount — the shuffle ships candidate matches
    * only, never the full vocabulary (see HeavyHitters scaladoc for the
    * containment guarantee). The oracle computes the true top-25 by full
    * aggregation, so the gate verifies the exactness claim, and the spec
    * asserts partition-invariance (candidates vary with partitioning;
    * the recounted top-k must not).
    */
  private val q114 = Q("q114_heavy_hitters",
    (s, d) => {
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      HeavyHitters.topKExact(toks, "tok", 25)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("item").asc)).cast("int"))
    },
    Some("""WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS item FROM documents),
      c AS (SELECT item, COUNT(*) AS cnt FROM tok GROUP BY item)
      SELECT item, cnt,
        CAST(row_number() OVER (ORDER BY cnt DESC, item ASC) AS INTEGER) AS rank
      FROM c ORDER BY cnt DESC, item ASC LIMIT 25"""))

  /** Inverted-index build (term → posting list): per-term document
    * frequency, total term frequency, and the first 10 postings in
    * doc_id order (flattened to CSV so the gate's column compare stays
    * scalar). Two aggregations: (term, doc) term frequencies collapse
    * map-side first, then per-term assembly — the exchange after the
    * first aggregate ships |distinct (term, doc)| rows, not the token
    * stream, and posting arrays are built per term (bounded by the
    * slice), never on the driver.
    */
  private val q115 = Q("q115_inverted_index",
    (s, d) => {
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          sum(col("tf")).as("tf_total"),
          array_join(transform(
            slice(array_sort(collect_list(col("doc_id"))), 1, 10),
            _.cast("string")), ",").as("postings10"))
        .orderBy("term")
    },
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY term, doc_id)
      SELECT term, COUNT(*) AS df,
        CAST(SUM(tf) AS BIGINT) AS tf_total,
        array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings10
      FROM tf GROUP BY term ORDER BY term"""))

  /** Dedup RESOLUTION — the retention policy a training-data pipeline
    * actually executes after clustering: every doc lands in a cluster
    * (its LSH connected component, or itself if unpaired) and the
    * highest-quality copy wins (tie → lowest doc_id). Composes q38's
    * clustering with q29's quality scoring; the winner choice is a
    * deterministic window rank so both engines agree bit-for-bit.
    */
  private val q41 = Q("q41_dedup_keep_best",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
      val quality = docs.select(col("doc_id") +:
        TextAnalysis.qualityColumns(col("text"), TextAnalysis.tokens(col("text"))): _*)
        .select(col("doc_id"), col("quality_score"))
      val sigs = minhashSigFrame(s, d)
        .select(col("doc_id") +: Dedup.minhashColsFromArray(col("mhs"), NumHashes): _*)
        .select(col("doc_id") +: Dedup.bandCols(NumHashes, RowsPerBand): _*)
      val clusters = Dedup.duplicateClusters(Dedup.lshCandidatePairs(sigs, NumBands))
      val withCluster = quality
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      // winner via ONE hash aggregation instead of two window passes
      // (count + rank shared a partition but sorted twice): max of
      // (quality, -doc_id) structs picks highest quality, ties -> lowest
      // doc_id — the same deterministic rule the oracle's window mirrors.
      withCluster
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("best"))
        .select(col("cluster_id"),
          (-col("best.neg_id")).as("keep_id"),
          col("n_docs"),
          col("best.quality_score").as("best_quality"))
        .orderBy("cluster_id")
    },
    Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $duckToks AS w FROM documents),
      s AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM t),
      mh AS (SELECT doc_id,
        ${(0 until NumHashes).map(i => s"${duckMh(i)} AS mh$i").mkString(", ")}
        FROM s WHERE len(sh) > 0),
      sig AS (SELECT doc_id,
        ${(0 until NumBands).map(b =>
          s"md5(mh${b * RowsPerBand} || '|' || mh${b * RowsPerBand + 1}) AS band$b")
          .mkString(", ")}
        FROM mh),
      bands AS (${(0 until NumBands).map(b =>
          s"SELECT doc_id, $b AS band_idx, band$b AS band_hash FROM sig")
          .mkString("\n        UNION ALL ")}),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
          AND a.doc_id < b.doc_id),
      edges AS (
        SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
        UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
      reach(doc_id, lbl) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
      cc AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id),
      q AS (SELECT doc_id,
        ${duckQuality} AS quality_score
        FROM (SELECT doc_id, text, $duckToks AS w FROM documents)),
      wc AS (SELECT q.doc_id, coalesce(cc.cluster_id, q.doc_id) AS cluster_id,
               quality_score
             FROM q LEFT JOIN cc ON cc.doc_id = q.doc_id),
      r AS (SELECT cluster_id, doc_id, quality_score,
        COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY quality_score DESC, doc_id) AS rn FROM wc)
      SELECT cluster_id, doc_id AS keep_id, n_docs, quality_score AS best_quality
      FROM r WHERE rn = 1 ORDER BY cluster_id"""))

  /** LSH family-size cap for [[q313]]. 2 is a FIXTURE-SCALE choice, not
    * a production recommendation: the sf0.01 corpus's largest band
    * bucket holds 3 docs (64 buckets of 2, 5 of 3), so any k ≥ 3 would
    * make the cap vacuous and the oracle gate would never observe the
    * rank filter. At k = 2 the gate exercises keep-best on the 5
    * 3-buckets while the 2-buckets pass through untouched. Production
    * corpora run the same operator with k in the tens-to-hundreds
    * (boilerplate families are 10^4-10^6 docs); the bound is C(k,2) per
    * bucket at ANY k.
    */
  private[graft] val CapK = 2

  /** Cluster-size capping AT INGEST — the guard that keeps LSH dedup
    * linear at 100 TB (reference scope: the dedup family of
    * `src/pipeline.py`; the cap itself is the standard large-corpus
    * extension — cf. q41's resolution rule). An LSH bucket of f members
    * generates C(f,2) candidate pairs, and real corpora HAVE such
    * families (boilerplate, license headers, template pages) — sf10's
    * third-decade runs measured exactly this quadratic tail (LSH pairs
    * 286 k → 30.9 M at 10×; docs/SCALING.md). The cap keeps each bucket's
    * best `CapK` members by (quality DESC, doc_id ASC) — the q41
    * keep-best rule, so survivors are the docs resolution keeps anyway —
    * BEFORE pair generation, bounding pair work at C(k,2) per bucket and
    * O(k·n) overall. Output: per-doc capped candidate degree (doc_id,
    * n_partners), the adjacency census downstream clustering consumes.
    *
    * Scale: one bucket-key shuffle for the window rank (f·log f per
    * family instead of the join's f²), then the standard bucket
    * self-join over ≤ k rows per bucket. The certificate spec pins
    * capped ⊆ uncapped, the per-bucket C(k,2) bound, and the keep-best
    * property; the sf10 A/B row lives in docs/SCALING.md.
    */
  /** Capped LSH candidate pairs at family cap `k` — q313's pair driver,
    * shared with PairCensus so the scale table counts exactly the pair
    * population the gate processes.
    */
  private[graft] def cappedLshPairsFrame(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): org.apache.spark.sql.DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
    val quality = docs.select(col("doc_id") +:
      TextAnalysis.qualityColumns(col("text"), TextAnalysis.tokens(col("text"))): _*)
      .select(col("doc_id"), col("quality_score"))
    val sigs = minhashSigFrame(s, d)
      .select(col("doc_id") +: Dedup.minhashColsFromArray(col("mhs"), NumHashes): _*)
      .select(col("doc_id") +: Dedup.bandCols(NumHashes, RowsPerBand): _*)
      .join(quality, "doc_id")
    Dedup.cappedLshCandidatePairs(sigs, NumBands, k)
  }

  private val q313 = Q("q313_lsh_family_cap",
    (s, d) => {
      // one explode, one aggregate: a union of two projections would
      // execute the pair join twice (the branches differ, so no reuse)
      cappedLshPairsFrame(s, d, CapK)
        .select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_partners"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      s AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM t),
      mh AS (SELECT doc_id,
        ${(0 until NumHashes).map(i => s"${duckMh(i)} AS mh$i").mkString(", ")}
        FROM s WHERE len(sh) > 0),
      sig AS (SELECT doc_id,
        ${(0 until NumBands).map(b =>
          s"md5(mh${b * RowsPerBand} || '|' || mh${b * RowsPerBand + 1}) AS band$b")
          .mkString(", ")}
        FROM mh),
      bands AS (${(0 until NumBands).map(b =>
          s"SELECT doc_id, $b AS band_idx, band$b AS band_hash FROM sig")
          .mkString("\n        UNION ALL ")}),
      q AS (SELECT doc_id,
        ${duckQuality} AS quality_score
        FROM (SELECT doc_id, text, $duckToks AS w FROM documents)),
      ranked AS (SELECT b.doc_id, b.band_idx, b.band_hash,
          row_number() OVER (PARTITION BY b.band_idx, b.band_hash
            ORDER BY q.quality_score DESC, b.doc_id) AS rn
        FROM bands b JOIN q ON q.doc_id = b.doc_id),
      cap AS (SELECT doc_id, band_idx, band_hash FROM ranked WHERE rn <= $CapK),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM cap a JOIN cap b ON a.band_idx = b.band_idx
          AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      ends AS (SELECT doc_id_a AS doc_id FROM pairs
        UNION ALL SELECT doc_id_b FROM pairs)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners
      FROM ends GROUP BY doc_id ORDER BY doc_id"""))

  /** TF-IDF top terms per document. Scale shape: one explode feeds two
    * partial-aggregated shuffles (tf by (doc,term), df by term — both
    * map-side combined), the tf⋈df join shares the term shuffle key, the
    * corpus size joins in as a broadcast scalar, and the final top-3 is a
    * per-doc window rank. Scoring is log-free on purpose: tf·N/df keeps
    * every intermediate an exactly-representable double (integer products
    * < 2^53, one IEEE division), so ranking and hashes are bit-identical
    * across engines — a libm `ln` would not be.
    */
  private val q42 = Q("q42_tfidf_top_terms",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df(term) = |{doc: tf(doc,term) > 0}| — derived FROM tf, so the
      // corpus is exploded once and the (doc_id, term) shuffle is shared
      // by both sides of the join (ReusedExchange), instead of a second
      // scan+explode+distinct pipeline.
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT doc_id, term, tf, df,
          CAST(tf AS DOUBLE) * n_docs / df AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term) AS INTEGER) AS rank FROM sc)
      SELECT doc_id, rank, term, tf, df, score FROM r
      WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Hash-stratified sampling by language (corpus rebalancing): per-row
    * salted-digest draw vs per-stratum keep-rate — deterministic across
    * engines, partitionings, and retries (see operators.Sampling). No
    * shuffle; at 100 TB this runs at scan speed and composes with any
    * downstream op.
    */
  private val q43 = Q("q43_stratified_sample",
    (s, d) => {
      Sampling.stratified(Tables.fanOut(Tables.documents(s, d)),
          key = col("doc_id"), stratum = col("lang"),
          rates = Seq("en" -> 0.25, "de" -> 0.5), defaultRate = 1.0,
          salt = "smp")
        .select("doc_id", "lang", "sample_u")
        .orderBy("doc_id")
    },
    Some {
      val u = duckHash32("md5('smp:' || CAST(doc_id AS VARCHAR))")
      s"""WITH t AS (SELECT doc_id, lang,
          CAST($u AS DOUBLE) / 4294967296.0 AS sample_u FROM documents)
        SELECT doc_id, lang, sample_u FROM t
        WHERE sample_u < (CASE WHEN lang = 'en' THEN 0.25::DOUBLE
                               WHEN lang = 'de' THEN 0.5::DOUBLE
                               ELSE 1.0::DOUBLE END)
        ORDER BY doc_id"""
    })

  /** Deterministic global shuffle of training examples: order by a salted
    * digest of the stable row key, plus the hash-shard each row would land
    * in when written as N shuffled output files. The sort is a range
    * exchange (sampled boundaries, fully parallel) — the canonical way to
    * produce a reproducible random permutation of a 100 TB corpus; no
    * driver-side anything.
    */
  private val q44 = Q("q44_global_shuffle",
    (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("shuffle_key"))
        .withColumn("shard",
          pmod(Dedup.hexHash32(col("shuffle_key")), lit(64L)).cast("int"))
        .orderBy("shuffle_key")
    },
    Some {
      val keyed = "md5('shuf:' || CAST(doc_id AS VARCHAR))"
      s"""WITH t AS (SELECT doc_id, $keyed AS shuffle_key FROM documents)
        SELECT doc_id, shuffle_key,
          CAST((${duckHash32("shuffle_key")}) % 64 AS INTEGER) AS shard
        FROM t ORDER BY shuffle_key"""
    })

  /** Overlapping token chunking (32-token chunks, stride 24) — the
    * RAG/embedding chunker. One Generate per doc (no shuffle); chunk
    * content is carried as a digest so the verified output stays small
    * while still pinning the exact token spans byte-for-byte.
    */
  private val q45 = Q("q45_doc_chunks",
    (s, d) => {
      val ChunkSize = 32
      val Stride = 24
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(TextAnalysis.chunkStarts(size(col("toks")), ChunkSize, Stride))
            .as(Seq("chunk_idx", "start_tok")))
        .select(col("doc_id"),
          col("chunk_idx").cast("int").as("chunk_idx"),
          col("start_tok").cast("int").as("start_tok"),
          size(slice(col("toks"), col("start_tok") + 1, lit(ChunkSize)))
            .as("n_chunk_toks"),
          md5(concat_ws(" ", slice(col("toks"), col("start_tok") + 1, lit(ChunkSize))))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      k AS (SELECT doc_id, w,
          1 + CAST(floor((greatest(len(w) - 32, 0) + 23) / 24.0) AS INTEGER) AS k
        FROM t),
      c AS (SELECT doc_id, w, unnest(range(0, k)) AS chunk_idx FROM k)
      SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        CAST(chunk_idx * 24 AS INTEGER) AS start_tok,
        CAST(len(w[chunk_idx*24 + 1 : chunk_idx*24 + 32]) AS INTEGER) AS n_chunk_toks,
        md5(array_to_string(w[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ')) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_idx"""))

  /** Benchmark decontamination: fraction of each doc's distinct 3-gram
    * shingles that appear anywhere in a benchmark suite (here: doc_id <
    * 10); contaminated ⇔ overlap ≥ 0.5. Scale shape: the benchmark
    * shingle set is tiny relative to the corpus → distinct once,
    * broadcast, and each corpus doc's overlap is a map-side membership
    * count — the 100 TB corpus is scanned once and never shuffled (only
    * the per-doc counts move).
    */
  private val q47 = Q("q47_decontaminate",
    (s, d) => {
      val docs = shingled(Tables.fanOut(Tables.documents(s, d)))
      val benchSh = docs.filter(col("doc_id") < 10)
        .select(explode(col("sh")).as("bsh")).distinct()
      docs
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
          explode(col("sh")).as("s"))
        .join(broadcast(benchSh), col("s") === col("bsh"), "left")
        .groupBy("doc_id", "n_sh")
        .agg(sum(when(col("bsh").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
        .withColumn("overlap_frac",
          col("n_overlap").cast("double") / col("n_sh"))
        .withColumn("contaminated", col("overlap_frac") >= 0.5d)
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      s AS (SELECT doc_id, list_distinct(${duckShingles("w")}) AS sh FROM t),
      f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      bench AS (SELECT DISTINCT unnest(sh) AS bsh FROM f WHERE doc_id < 10),
      ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM f),
      ov AS (SELECT doc_id, n_sh,
          CAST(SUM(CASE WHEN b.bsh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_overlap
        FROM ex LEFT JOIN bench b ON b.bsh = ex.sg
        GROUP BY doc_id, n_sh)
      SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh, n_overlap,
        CAST(n_overlap AS DOUBLE) / n_sh AS overlap_frac,
        CAST(n_overlap AS DOUBLE) / n_sh >= 0.5::DOUBLE AS contaminated
      FROM ov ORDER BY doc_id"""))

  /** Sequence packing (concat-and-chop, the standard LLM pretraining
    * layout): per language stream, documents are concatenated in doc_id
    * order and chopped into fixed 256-token blocks; each doc reports its
    * token offset and the block span it lands in. One window cumsum per
    * stream — at scale the stream key is the output shard, so packing is
    * embarrassingly parallel across shards and needs no global order.
    */
  private val q48 = Q("q48_pack_sequences",
    (s, d) => {
      val Block = 256
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          (col("cum") - col("n_toks")).as("tok_offset"),
          floor((col("cum") - col("n_toks")) / Block).as("first_block"),
          floor((col("cum") - 1) / Block).as("last_block"))
        .withColumn("n_blocks", col("last_block") - col("first_block") + 1L)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
      c AS (SELECT doc_id, lang, n_toks,
          CAST(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM t)
      SELECT doc_id, lang, n_toks,
        cum - n_toks AS tok_offset,
        (cum - n_toks) // 256 AS first_block,
        (cum - 1) // 256 AS last_block,
        (cum - 1) // 256 - (cum - n_toks) // 256 + 1 AS n_blocks
      FROM c ORDER BY doc_id"""))

  /** SimHash near-dup pairs: byte-banding (4 bands × 8 bits) routes
    * candidate generation — docs sharing any band byte meet in a bucket —
    * then the full 32-bit hamming distance verifies (≤ 6 bits differ).
    * Completes the SimHash path from signature (q23) to verified pairs.
    * Scale shape mirrors MinHash-LSH: the join input is (band, byte,
    * doc_id, simhash) rows — fixed-width, never documents — and the
    * quadratic work is confined to byte buckets.
    */
  private val q50 = Q("q50_simhash_near_dup",
    (s, d) => {
      val sims = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(array(
          Dedup.tokenHash32Array(TextAnalysis.tokens(col("text"))))).as("th"))
        .select(col("doc_id"), Dedup.simhash32(col("th")).as("simhash"))
      val bands = sims.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band_idx"),
          shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("band_val"))): _*)).as("b"))
        .select(col("doc_id"), col("simhash"), col("b.band_idx"), col("b.band_val"))
      val a = bands.as("a")
      val bb = bands.as("b")
      a.join(bb,
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"),
          Dedup.hamming64(col("a.simhash"), col("b.simhash")).cast("int").as("hamming"))
        // verify BEFORE distinct: hamming is pair-determined, so the
        // result set is identical but the distinct's shuffle input drops
        // from every banded candidate to just the near-dups
        .filter(col("hamming") <= 6)
        .distinct()
        .orderBy("doc_id_a", "doc_id_b")
    },
    Some {
      val hash32 = duckHash32("h")
      val bitTerms = (0 until 32).map { b =>
        s"(CASE WHEN list_sum(list_transform(th, h -> ((h >> $b) & 1) * 2 - 1)) > 0 " +
          s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }
      s"""WITH t AS (SELECT doc_id,
          list_transform(list_transform($duckToks, t -> md5(t)), h -> $hash32) AS th
          FROM documents),
        sh AS (SELECT doc_id, ${bitTerms.mkString("\n          + ")} AS simhash
          FROM t),
        bands AS (SELECT doc_id, simhash, b AS band_idx,
            (simhash >> CAST(b * 8 AS INTEGER)) & 255 AS band_val
          FROM sh, range(0, 4) r(b)),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id)
        SELECT doc_id_a, doc_id_b, hamming FROM pairs
        WHERE hamming <= 6 ORDER BY doc_id_a, doc_id_b"""
    })

  /** Intra-document repetition (a Gopher-style quality signal): fraction
    * of a doc's word 2-grams that are repeats. Pure per-row array
    * arithmetic behind an explode barrier (the 2-gram array is computed
    * once, consumed by both size() and array_distinct()).
    */
  private val q51 = Q("q51_repetition",
    (s, d) => {
      val g2 = TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 2)
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(array(g2)).as("g"))
        .select(col("doc_id"),
          size(col("g")).cast("long").as("n_2grams"),
          size(array_distinct(col("g"))).cast("long").as("n_distinct_2grams"))
        .withColumn("dup_ratio", when(col("n_2grams") > 0,
            (col("n_2grams") - col("n_distinct_2grams")).cast("double") / col("n_2grams"))
          .otherwise(lit(0.0)))
        .withColumn("flagged", col("dup_ratio") > 0.2d)
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      g AS (SELECT doc_id,
          list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) AS g2
        FROM t),
      r AS (SELECT doc_id,
          CAST(len(g2) AS BIGINT) AS n_2grams,
          CAST(len(list_distinct(g2)) AS BIGINT) AS n_distinct_2grams,
          CASE WHEN len(g2) > 0
            THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
            ELSE 0.0::DOUBLE END AS dup_ratio
        FROM g)
      SELECT doc_id, n_2grams, n_distinct_2grams, dup_ratio,
        dup_ratio > 0.2::DOUBLE AS flagged
      FROM r ORDER BY doc_id"""))

  /** Data-mixture report: per-source doc counts, token totals, and mean
    * quality — the table every training-data pipeline publishes before a
    * run. One partial-aggregated shuffle keyed by source; quality means go
    * through the scale-12 stable-decimal route (unit-magnitude series).
    */
  private val q52 = Q("q52_source_mix",
    (s, d) => {
      import graft.functions.{StableAgg => SA}
      val toks = TextAnalysis.tokens(col("text"))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("source") +: (size(toks).cast("long").as("n_toks") +:
          TextAnalysis.qualityColumns(col("text"), toks)): _*)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_toks"),
          SA.davg(col("quality_score"), scale = 12).as("mean_quality"))
        .orderBy("source")
    },
    Some {
      val davg12 = graft.OracleSql.davg("quality_score", 12)
      s"""WITH t AS (SELECT source, text, $duckToks AS w FROM documents),
        q AS (SELECT source, CAST(len(w) AS BIGINT) AS n_toks,
          ${duckQuality} AS quality_score
          FROM t)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS total_toks,
          $davg12 AS mean_quality
        FROM q GROUP BY source ORDER BY source"""
    })

  /** Train/valid/test split assignment (90/5/5): every row gets a split
    * label from the same salted-digest uniform as q43 — deterministic,
    * leak-free (a doc's split never depends on the rest of the corpus),
    * and stable under reprocessing. Zero shuffle.
    */
  private val q53 = Q("q53_train_test_split",
    (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"),
          Sampling.uniform(col("doc_id"), "split").as("split_u"))
        .withColumn("split",
          when(col("split_u") < 0.90d, lit("train"))
            .when(col("split_u") < 0.95d, lit("valid"))
            .otherwise(lit("test")))
        .orderBy("doc_id")
    },
    Some {
      val u = duckHash32("md5('split:' || CAST(doc_id AS VARCHAR))")
      s"""WITH t AS (SELECT doc_id, lang,
          CAST($u AS DOUBLE) / 4294967296.0 AS split_u FROM documents)
        SELECT doc_id, lang, split_u,
          CASE WHEN split_u < 0.90::DOUBLE THEN 'train'
               WHEN split_u < 0.95::DOUBLE THEN 'valid'
               ELSE 'test' END AS split
        FROM t ORDER BY doc_id"""
    })

  /** Cross-table enrichment: documents ⋈ embeddings on the shared id,
    * emitting the embedding L2 norm via the native vec kernel. The join
    * is a plain equi-join on the key both tables share — at 100 TB both
    * sides are big, so AQE picks shuffle-hash/sort-merge co-partitioned
    * on the id (bucketing both tables by id makes it exchange-free).
    */
  private val q54 = Q("q54_doc_embedding_join",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select("doc_id", "lang", "n_chars")
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      docs.join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          sqrt(Similarity.dot(col("v"), col("v"))).as("vec_norm"))
        .orderBy("doc_id")
    },
    Some {
      def dot(x: String, y: String) =
        s"list_reduce(list_transform(range(1, len($x)+1), i -> CAST(($x)[i] AS DOUBLE) * CAST(($y)[i] AS DOUBLE)), (acc, v) -> acc + v)"
      s"""SELECT doc_id, lang, n_chars,
        sqrt(${dot("e.embedding", "e.embedding")}) AS vec_norm
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      ORDER BY doc_id"""
    })

  /** Quantile-based length filtering (outlier trimming): keep docs whose
    * word count lies inside the corpus's exact [p5, p95]. The classic
    * two-pass shape — a tiny aggregate (2 numbers) computed once and
    * broadcast against the full scan — so at 100 TB the corpus is read
    * twice but never shuffled. Exact floor-index percentiles come from
    * the engine's native ExactPercentile aggregate.
    */
  private val q55 = Q("q55_length_filter",
    (s, d) => {
      import graft.functions.ExactPercentile
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_words"))
      val bounds = docs.agg(
        ExactPercentile(col("n_words").cast("double"), Seq(0.05, 0.95)).as("ps"))
        .select(element_at(col("ps"), 1).as("p5"), element_at(col("ps"), 2).as("p95"))
      docs.crossJoin(broadcast(bounds))
        .filter(col("n_words") >= col("p5") && col("n_words") <= col("p95"))
        .select("doc_id", "n_words", "p5", "p95")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
      r AS (SELECT doc_id, n_words,
        row_number() OVER (ORDER BY CAST(n_words AS DOUBLE)) - 1 AS rn,
        COUNT(*) OVER () AS n FROM t),
      b AS (SELECT
        MAX(CASE WHEN rn = CAST(floor(0.05::DOUBLE * (n-1)) AS BIGINT)
          THEN CAST(n_words AS DOUBLE) END) AS p5,
        MAX(CASE WHEN rn = CAST(floor(0.95::DOUBLE * (n-1)) AS BIGINT)
          THEN CAST(n_words AS DOUBLE) END) AS p95 FROM r)
      SELECT doc_id, n_words, p5, p95 FROM t CROSS JOIN b
      WHERE n_words >= p5 AND n_words <= p95
      ORDER BY doc_id"""))

  /** Token-budget selection: per language stream, take documents in
    * quality order (best first) while the running token total stays
    * within the budget — "select the best N tokens per stratum", the
    * data-selection step of a curation pipeline. One window cumsum per
    * stratum (embarrassingly parallel across strata at scale); the
    * deterministic (quality desc, doc_id) order makes the greedy cut
    * reproducible everywhere.
    */
  private val q56 = Q("q56_token_budget_select",
    (s, d) => {
      val Budget = 3000L
      val toks = TextAnalysis.tokens(col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(desc("quality_score"), asc("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_toks"),
          TextAnalysis.qualityColumns(col("text"), toks).last)
        .withColumn("cum_toks", sum(col("n_toks")).over(w))
        .filter(col("cum_toks") <= Budget)
        .select("doc_id", "lang", "n_toks", "quality_score", "cum_toks")
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, lang, text, $duckToks AS w FROM documents),
      q AS (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_toks,
        ${duckQuality} AS quality_score
        FROM t),
      c AS (SELECT doc_id, lang, n_toks, quality_score,
          CAST(SUM(n_toks) OVER (PARTITION BY lang
            ORDER BY quality_score DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
        FROM q)
      SELECT doc_id, lang, n_toks, quality_score, cum_toks
      FROM c WHERE cum_toks <= 3000 ORDER BY doc_id"""))

  /** Incremental dedup: a new batch (odd doc_ids) anti-joined by content
    * hash against the historical corpus (even doc_ids) — the shape every
    * incremental ingestion run executes. Only hashes shuffle (anti-join
    * on a 32-char key), never documents; at scale the history side is a
    * bucketed/Bloom-backed hash table, and the anti-join is the exact
    * batch analog of the streaming dropDuplicatesWithinWatermark path
    * ([[Dedup.streamingExact]]).
    */
  private val q58 = Q("q58_incremental_dedup",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
      val history = docs.filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("h")).distinct()
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
      batch.join(history, col("content_hash") === col("h"), "left_anti")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(text) AS content_hash
      FROM documents b WHERE doc_id % 2 = 1
        AND NOT EXISTS (SELECT 1 FROM documents h
          WHERE h.doc_id % 2 = 0 AND md5(h.text) = md5(b.text))
      ORDER BY doc_id"""))

  /** Product-quantization ANN (Similarity.pqTopK): 64-dim vectors → 4
    * subspace codes from 16-codeword systematic-sample codebooks, query
    * ranking by ADC lookup sums. The whole index (codebooks, encoding,
    * LUTs, approx distances) reproduces in DuckDB: sampling is pure id
    * arithmetic, argmin ties break by code order (row_number mirror of
    * array_position's first-match), and the ADC sum is an explicit
    * left-to-right 4-term chain in both engines.
    */
  private val q79 = Q("q79_ann_pq",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopK(corpus, queries, 10)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("qid", "rank")
    },
    Some {
      def sl(v: String, m: String) = s"($v)[(($m)*16+1):(($m)*16+16)]"
      val encDist = duckSqDist(sl("e.embedding", "m.m"), sl("cb.embedding", "m.m"))
      val lutDist = duckSqDist(sl("q.qvec", "m.m"), sl("cb.embedding", "m.m"))
      def term(mm: Int) = s"MAX(CASE WHEN m = $mm THEN d END)"
      s"""WITH n AS (SELECT greatest(COUNT(*) // 16, 1) AS step FROM embeddings),
      cb AS (
        SELECT CAST(vec_id // step AS INTEGER) AS k, embedding
        FROM embeddings, n WHERE vec_id % step = 0 AND vec_id // step < 16),
      ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      enc0 AS (
        SELECT e.vec_id AS id, m.m, cb.k, $encDist AS dist
        FROM embeddings e CROSS JOIN ms m CROSS JOIN cb),
      codes AS (
        SELECT id, m, k AS code FROM (
          SELECT id, m, k, row_number() OVER (PARTITION BY id, m
            ORDER BY dist, k) AS rn FROM enc0) WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
      lut AS (
        SELECT q.qid, m.m, cb.k, $lutDist AS dist
        FROM q CROSS JOIN ms m CROSS JOIN cb),
      pair AS (
        SELECT l.qid, c.id, c.m, l.dist AS d
        FROM codes c JOIN lut l ON l.m = c.m AND l.k = c.code
        WHERE c.id <> l.qid),
      ad AS (
        SELECT qid, id,
          (((${term(0)} + ${term(1)}) + ${term(2)}) + ${term(3)}) AS adist
        FROM pair GROUP BY qid, id),
      r AS (SELECT qid, id, adist,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, id)
          AS INTEGER) AS rank FROM ad)
      SELECT qid, rank, id AS neighbor_id, adist
      FROM r WHERE rank <= 10 ORDER BY qid, rank"""
    })

  /** BPE vocabulary induction, the counting step: adjacent-token pair
    * frequencies over the corpus with the top-200 merge candidates —
    * the inner loop of byte-pair-encoding tokenizer training (count
    * pairs → merge the most frequent → recount), which at corpus scale
    * is THE distributed primitive (single-node BPE trainers sample;
    * this counts the whole corpus). One scan: pairs are
    * [[graft.operators.TextAnalysis.shingles]] 2-grams (codegen'd
    * slice/transform, no shuffle before aggregation), pair counts
    * collapse map-side, and the top-200 compiles to
    * TakeOrderedAndProject (per-partition heaps of 200, no global
    * sort) — the exchange ships |distinct pairs| partials and the
    * driver sees 200 rows regardless of corpus size. The (cnt DESC,
    * pair ASC) ordering is total, so the cut is deterministic
    * cross-engine. Iterating the merge loop re-runs this query with
    * the learned merges applied — each round is the same one-scan
    * shape.
    */
  private val q124 = Q("q124_bpe_pair_counts",
    (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.fanOut(Tables.documents(s, d))
        .select(explode(TextAnalysis.shingles(toks, 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(200)
    },
    Some("""WITH tok AS (
        SELECT doc_id,
          unnest(string_split(text, ' ')) AS tok,
          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        FROM documents),
      p AS (
        SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS pair
        FROM tok)
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM p WHERE pair IS NOT NULL
      GROUP BY pair ORDER BY cnt DESC, pair LIMIT 200"""))

  /** Vocabulary sizing — q124's companion decision report: the minimum
    * vocab size whose cumulative token-frequency share reaches 50/90/99 %
    * of corpus occurrences (the Zipf-coverage cut every tokenizer design
    * starts from). Token counts collapse map-side (|vocab| partials on
    * the exchange); the ranking pass is ONE unpartitioned window over
    * |vocab| rows — millions at 100 TB, a single comfortable partition
    * for a driver-bound report (the same deliberate shape as q96's
    * sweep-line; for 100M+ vocabs the cut moves to a two-pass quantile
    * probe). Ordering (cnt DESC, tok ASC) is total, so rank, cumsum and
    * every coverage boundary are deterministic cross-engine; the share
    * compare divides BIGINTs as doubles identically in both engines.
    */
  private val q125 = Q("q125_vocab_coverage",
    (s, d) => {
      val wOrd = Window.orderBy(col("cnt").desc, col("tok").asc)
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = Tables.fanOut(Tables.documents(s, d))
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .select(
          row_number().over(wOrd).as("rank"),
          sum("cnt").over(wCum).as("cum"),
          sum("cnt").over(wAll).as("total"))
        .withColumn("cum_share", col("cum").cast("double") / col("total"))
      ranked.agg(
        min(when(col("cum_share") >= 0.5, col("rank"))).as("vocab_50"),
        min(when(col("cum_share") >= 0.9, col("rank"))).as("vocab_90"),
        min(when(col("cum_share") >= 0.99, col("rank"))).as("vocab_99"),
        max(col("rank")).as("vocab_full"),
        max(col("total")).as("total_tokens"))
    },
    Some("""WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
      r AS (SELECT
          CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INTEGER) AS rank,
          CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          CAST(SUM(cnt) OVER () AS BIGINT) AS total
        FROM c)
      SELECT
        MIN(CASE WHEN CAST(cum AS DOUBLE)/total >= 0.5::DOUBLE THEN rank END) AS vocab_50,
        MIN(CASE WHEN CAST(cum AS DOUBLE)/total >= 0.9::DOUBLE THEN rank END) AS vocab_90,
        MIN(CASE WHEN CAST(cum AS DOUBLE)/total >= 0.99::DOUBLE THEN rank END) AS vocab_99,
        MAX(rank) AS vocab_full,
        CAST(MAX(total) AS BIGINT) AS total_tokens
      FROM r"""))

  /** Iterated BPE merge loop — the full tokenizer-training inner loop
    * (count pairs → pick the most frequent → APPLY the merge → recount),
    * three rounds, closing VERDICT r4 / NOTES round-6 candidate "iterated
    * BPE merge loop". Round r's pair counts are computed over the corpus
    * WITH rounds 1..r-1's merges applied ([[TextAnalysis.bpeMerge]], a
    * scan-local HOF expression), so the gate verifies merge APPLICATION,
    * not just counting: a wrong apply step changes round-2/3 frequencies
    * and the hash. Selection is restricted to pairs x != y — then every
    * occurrence merges (no overlap is possible) and application order
    * cannot matter, which is what makes the loop deterministic on any
    * partitioning AND cross-engine (classic BPE's greedy left-to-right
    * tie-walk over x==x runs is partition-order-dependent; a distributed
    * trainer needs this restriction or a segment-stitching pass).
    *
    * Scale: per round, ONE corpus scan → map-side-combined pair counts
    * (|distinct pairs| partials on the exchange) → TakeOrderedAndProject
    * top-1 to the driver. The collected state is the learned merge table
    * (KB — index-build pattern, like the IVF quantizer); the corpus is
    * never collected, and `tokens_after` is derived arithmetically
    * (merges applied == pair count when x != y). At 100 TB you would
    * checkpoint the merged corpus every ~10 rounds to cap lineage depth;
    * three rounds of nested HOF expressions stay comfortably codegen'd.
    */
  /** Shared BPE inner loop for q126/q163: learn `rounds` greedy merges
    * (restricted to x != y — see q126's scaladoc for why that makes the
    * loop partition- and engine-deterministic) and APPLY each as it is
    * learned. Returns the learned merge table and the encoded corpus
    * (doc_id, n_tokens0, toks). Index-build pattern: the merge table is
    * the only collected state; the corpus never leaves the cluster.
    */
  private def bpeLearnApply(s: org.apache.spark.sql.SparkSession, d: String, rounds: Int)
      : (Seq[(Int, String, Long, Long)], org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val base = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n_tokens0", size(col("toks")).cast("long"))
    // r15: tokens0 rides round 1's job as an Observation side metric
    // instead of its own agg action — one fewer full tokenize pass over
    // the corpus per invocation (guide §1.2: don't pay a pass for a
    // scalar another pass already computes). The observe node sits only
    // on round 1's source; the merge chain keeps the unobserved base.
    val obs = org.apache.spark.sql.Observation()
    var toks = base
    var remaining = 0L
    val learned = Seq.newBuilder[(Int, String, Long, Long)]
    for (r <- 1 to rounds) {
      val sp = split(col("pair"), " ", 2)
      val src = if (r == 1) toks.observe(obs, sum(col("n_tokens0")).as("n0")) else toks
      val top = src
        .select(explode(TextAnalysis.shingles(col("toks"), 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .filter(element_at(sp, 1) =!= element_at(sp, 2))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1)
        .as[(String, Long)].head()
      if (r == 1) remaining = obs.get("n0").asInstanceOf[Long]
      val Array(x, y) = top._1.split(" ", 2)
      remaining -= top._2
      learned += ((r, top._1, top._2, remaining))
      toks = toks.withColumn("toks",
        TextAnalysis.bpeMerge(col("toks"), x, y, x + "_" + y))
    }
    (learned.result(), toks)
  }

  /** DuckDB mirror of one learn+apply BPE round over t{r-1} → t{r}. */
  private def duckBpeRound(r: Int): String = {
    val prev = s"t${r - 1}"
    s"""p$r AS (SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS pair
      FROM $prev),
    c$r AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM p$r WHERE pair IS NOT NULL GROUP BY pair),
    m$r AS (SELECT pair, cnt,
        string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y
      FROM c$r WHERE string_split(pair, ' ')[1] <> string_split(pair, ' ')[2]
      ORDER BY cnt DESC, pair LIMIT 1),
    t$r AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i, tok
      FROM (
        SELECT t.doc_id, t.i,
          CASE WHEN t.tok = m.x AND lead(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.i) = m.y
                 THEN m.x || '_' || m.y
               WHEN lag(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.i) = m.x AND t.tok = m.y
                 THEN NULL
               ELSE t.tok END AS tok
        FROM $prev t CROSS JOIN m$r m)
      WHERE tok IS NOT NULL)"""
  }

  /** The t0 tokenized-corpus CTE both BPE oracles start from. */
  private val duckBpeT0: String =
    """t0 AS (SELECT doc_id, i, tok FROM (
      SELECT doc_id,
        unnest(string_split(text, ' ')) AS tok,
        unnest(generate_series(1, len(string_split(text, ' ')))) AS i
      FROM documents) u)"""

  private val q126 = Q("q126_bpe_merge_loop",
    (s, d) => {
      val (learned, _) = bpeLearnApply(s, d, 3)
      import s.implicits._
      learned.toDF("round", "pair", "cnt", "tokens_after")
        .orderBy("round")
    },
    Some {
      s"""WITH $duckBpeT0,
        n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t0),
        ${duckBpeRound(1)},
        ${duckBpeRound(2)},
        ${duckBpeRound(3)}
      SELECT CAST(round AS INTEGER) AS round, pair, cnt, tokens_after FROM (
        SELECT 1 AS round, m1.pair AS pair, m1.cnt AS cnt,
          n0.n - m1.cnt AS tokens_after FROM m1, n0
        UNION ALL SELECT 2, m2.pair, m2.cnt,
          n0.n - m1.cnt - m2.cnt FROM m1, m2, n0
        UNION ALL SELECT 3, m3.pair, m3.cnt,
          n0.n - m1.cnt - m2.cnt - m3.cnt FROM m1, m2, m3, n0) z
      ORDER BY round"""
    })

  /** Tokenizer APPLICATION — the other half of the BPE family (q124
    * counts pairs, q126 learns merges; this ENCODES the corpus with the
    * learned merges and reports per-document compression, the number a
    * data pipeline actually budgets by). The encode is the same
    * scan-local [[TextAnalysis.bpeMerge]] HOF chain the training loop
    * applies, so the gate verifies that a corpus encoded with a learned
    * merge table reproduces bit-for-bit cross-engine. Scale: merges ship
    * as literals inside the expression (the KB-sized index pattern);
    * encoding is pure per-row work at scan speed — at 100 TB this runs
    * as a streaming-friendly map with zero shuffles before the gate's
    * orderBy.
    */
  private val q163 = Q("q163_bpe_encode",
    (s, d) => {
      val (_, encoded) = bpeLearnApply(s, d, 3)
      encoded
        .select(col("doc_id"), col("n_tokens0").as("n_before"),
          size(col("toks")).cast("long").as("n_after"))
        .withColumn("compression", col("n_after").cast("double") / col("n_before"))
        .orderBy("doc_id")
    },
    Some {
      s"""WITH $duckBpeT0,
        ${duckBpeRound(1)},
        ${duckBpeRound(2)},
        ${duckBpeRound(3)},
      b AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_before FROM t0 GROUP BY doc_id),
      a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after FROM t3 GROUP BY doc_id)
      SELECT b.doc_id, b.n_before, a.n_after,
        CAST(a.n_after AS DOUBLE) / b.n_before AS compression
      FROM b JOIN a USING (doc_id) ORDER BY doc_id"""
    })

  /** Incremental near-dup dedup — the MinHash/LSH sibling of q58's
    * exact-hash incremental dedup ([[Dedup.lshScreenAgainst]]): screen an
    * incoming batch (odd doc_ids) against the existing corpus's LSH index
    * (even doc_ids). An incoming doc colliding with any index band bucket
    * is marked `dup_of` its smallest matching index doc; docs with empty
    * shingle sets have no signature and pass through kept — the oracle's
    * LEFT JOIN covers both paths. This is the ingestion-time shape at
    * 100 TB: the index's bands are computed once and persisted; each new
    * batch shuffles only its own |batch|×bands rows against the matched
    * buckets, never rescanning the corpus.
    */
  private val q164 = Q("q164_incremental_lsh_dedup",
    (s, d) => {
      val sigs = minhashSigFrame(s, d)
        .select(col("doc_id") +: Dedup.minhashColsFromArray(col("mhs"), NumHashes): _*)
        .select(col("doc_id") +: Dedup.bandCols(NumHashes, RowsPerBand): _*)
      val index = sigs.filter(col("doc_id") % 2 === 0)
      val incoming = sigs.filter(col("doc_id") % 2 === 1)
      val screened = Dedup.lshScreenAgainst(index, incoming, NumBands)
      Tables.documents(s, d).filter(col("doc_id") % 2 === 1).select(col("doc_id"))
        .join(screened.select(col("doc_id"), col("dup_of")), Seq("doc_id"), "left")
        .withColumn("keep", col("dup_of").isNull)
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      s AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM t),
      mh AS (SELECT doc_id,
        ${(0 until NumHashes).map(i => s"${duckMh(i)} AS mh$i").mkString(", ")}
        FROM s WHERE len(sh) > 0),
      sig AS (SELECT doc_id,
        ${(0 until NumBands).map(b =>
          s"md5(mh${b * RowsPerBand} || '|' || mh${b * RowsPerBand + 1}) AS band$b")
          .mkString(", ")}
        FROM mh),
      bands AS (${(0 until NumBands).map(b =>
          s"SELECT doc_id, $b AS band_idx, band$b AS band_hash FROM sig")
          .mkString("\n        UNION ALL ")}),
      p AS (SELECT n.doc_id AS doc_id, MIN(o.doc_id) AS dup_of
        FROM bands n JOIN bands o
          ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
        WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
        GROUP BY n.doc_id)
      SELECT d.doc_id, p.dup_of, p.dup_of IS NULL AS keep
      FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      LEFT JOIN p USING (doc_id) ORDER BY doc_id"""))

  /** Streaming ANN gate (NOTES round-6 candidate "streaming ANN"): query
    * vectors replayed over a 3-micro-batch MemoryStream, LSH-bucketed
    * per batch and joined STREAM-STATIC on `bucket` against the
    * pre-bucketed corpus index ([[Similarity.lshStreamCandidates]] —
    * stateless append, no watermark). The candidate pairs cross the
    * streaming execution path; every candidate for a query is confined
    * to the micro-batch that carried the query, so the post-stream
    * top-10 ranking over the sink table is exactly the per-batch
    * `foreachBatch` ranking a production lookup would run — and the
    * whole result must equal the BATCH lookup's (q27's oracle,
    * verbatim): a wrong bucket, a missed candidate, or a duplicate
    * emission across batches all break the hash.
    */
  private val q127 = Q("q127_streaming_ann",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val index = Similarity.lshIndex(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")), numPlanes = 8)
      val qrows: Seq[(Long, Seq[Float])] = e.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
        .orderBy("vec_id")
        .collect().iterator
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val mem = StreamGate.memory[(Long, Seq[Float])](s)
      val src = mem.toDF().toDF("qid", "qvec")
      val cand = Similarity.lshStreamCandidates(index, src, numPlanes = 8)
      val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), asc("id"))
      StreamGate.toMemory(s, cand, "append", StreamGate.feed(mem, qrows.grouped(2)))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("id").as("neighbor_id"), col("cos_sim"))
        .orderBy("qid", "rank")
    },
    Some(lshTopKOracle))

  /** Column profiling — the data-quality report every ingest runs before
    * training: per-column row/null/exact-distinct counts and min/max
    * (rendered as strings so one long-form schema covers every column
    * type). ONE scan: all per-column aggregates evaluate in a single
    * multi-aggregate pass (the distincts plan as one Expand — the
    * standard exact-profile shape; at 100 TB you'd swap the exact
    * distincts for HLL sketches, which is a one-line change here but
    * not cross-engine hashable, hence exact in the gate), then the
    * single result row pivots to long form with a scan-free explode.
    * min/max string rendering rides the shortest-round-trip double rule
    * (NOTES: Spark CAST(double AS STRING) == DuckDB ::VARCHAR digits).
    */
  /** Exact per-column distinct counts, dedupe-first (q134, q293): explode
    * to (col_name, value-string) pairs, dedupe, and count the non-null
    * values per column. The pair count equals COUNT(DISTINCT) only where
    * the string cast tells apart exactly the values COUNT(DISTINCT) does.
    * Long, decimal, string and date casts do. A DOUBLE cast does not:
    * COUNT(DISTINCT) counts -0.0 and 0.0 as one value, but they cast to
    * "-0.0" and "0.0". Adding 0.0 first turns -0.0 into 0.0 and leaves
    * every other double unchanged (every NaN still casts to "NaN").
    */
  private[queries] def distinctCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map { c =>
        val v = if (df.schema(c).dataType == DoubleType) col(c) + lit(0.0d) else col(c)
        struct(lit(c).as("c"), v.cast("string").as("v"))
      }: _*)).as("p"))
      .select(col("p.c").as("col_name"), col("p.v").as("v"))
      .distinct()
      .groupBy("col_name").agg(count(col("v")).as("n_distinct"))

  private val q134 = Q("q134_column_profile",
    (s, d) => {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      // r15 (the q156 dedupe-first treatment, guide §5 agg-buffer shape):
      // the old single multi-distinct aggregate planned as an Expand(5)
      // whose partial aggregate was keyed by (gid, all four columns) and
      // carried EVERY count/min/max buffer per group — measured 13.5 s of
      // task CPU at sf0.1 for a 600k-row scan. Split into (a) one plain
      // single-group pass for the non-distinct stats (tiny buffer, no
      // Expand) and (b) ONE dedupe-first pass for all four exact distinct
      // counts ([[distinctCounts]]): explode to (col_name, value-string)
      // pairs, dedupe map-side, then count per column with count(v) (NULLs
      // excluded, matching COUNT(DISTINCT)). The shuffle carries distinct
      // (name, value) pairs with zero aggregation buffers, which is also
      // the 100 TB shape: map-side partial distinct bounds the exchange
      // by Σ|distinct(c)|, not |rows|, and no wide buffer rides per group.
      val li = Tables.fanOut(Tables.lineitem(s, d))
      val statsExprs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(
          count(col(c)).as(s"${c}__nn"),
          min(col(c)).cast("string").as(s"${c}__mn"),
          max(col(c)).cast("string").as(s"${c}__mx"))
      }
      val stats = li.agg(statsExprs.head, statsExprs.tail: _*)
      val dist = distinctCounts(li, cols)
      def pick(suffix: String) =
        cols.tail.foldLeft(
          when(col("col_name") === cols.head, col(s"${cols.head}__$suffix"))) {
          (acc, c) => acc.when(col("col_name") === c, col(s"${c}__$suffix"))
        }
      dist.crossJoin(broadcast(stats))
        .select(col("col_name"), col("n_rows"),
          (col("n_rows") - pick("nn")).as("n_null"),
          col("n_distinct"),
          pick("mn").as("min_val"),
          pick("mx").as("max_val"))
        .orderBy("col_name")
    },
    Some {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      val arms = cols.map { c =>
        s"""SELECT '$c' AS col_name, b.n_rows,
          b.n_rows - CAST(COUNT($c) AS BIGINT) AS n_null,
          CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
          CAST(MIN($c) AS VARCHAR) AS min_val,
          CAST(MAX($c) AS VARCHAR) AS max_val
        FROM lineitem, base b GROUP BY b.n_rows"""
      }
      s"""WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
      ${arms.mkString("", "\n      UNION ALL\n      ", "")}
      ORDER BY col_name"""
    })

  /** Exact all-pairs similarity join via PREFIX FILTERING (the
    * PPJoin-family technique; public literature: Xiao et al., WWW'08) —
    * the zero-false-negative complement to LSH banding (q22): two docs
    * with Jaccard ≥ τ over their 3-gram shingle sets MUST share at
    * least one of each other's (n - ⌈τ·n⌉ + 1) rarest shingles, so
    * candidate generation joins only on those prefix shingles, ordered
    * by ascending global frequency (rare-first minimizes collisions).
    * On the harness corpus the prefix join prunes to ~2 % of all pairs
    * (300k candidates of 12.5M at sf0.1), each verified with one exact
    * set intersection. Scale: the shuffle keys are (shingle, doc_id)
    * pairs for PREFIX shingles only; quadratic work is confined to
    * per-shingle groups whose members are by construction documents
    * where that shingle is rare; the exact verify joins candidates back
    * to shingle sets — never all pairs.
    *
    * Hash-space execution (r08, after chasing the r7 bench outlier into
    * this query's stages): every pipeline stage past shingling works on
    * 64-bit xxhash64 shingle hashes, never strings — the explode ships
    * (doc_id, long) pairs, the frequency table and prefix window key on
    * longs, and the verify side ships each doc's set as a SORTED
    * array<long> verified with the zero-allocation
    * [[graft.functions.SortedIntersectCount]] merge walk instead of
    * `array_intersect`'s per-pair hash set. Correctness is unchanged:
    * prefix filtering only needs SOME canonical global order (ascending
    * frequency, ties on the hash is one), candidates are a superset
    * either way, and the exact Jaccard verify collapses both to the same
    * final pairs — so the DuckDB oracle keeps its string formulation. A
    * 64-bit collision inside one pair's union (P ≈ |union|²/2⁶⁵ ≈ 1e-11
    * per pair) would perturb one count — the standard
    * exact-PPJoin-over-hashes trade.
    *
    * Why hashes: the r7/r8 outlier hunt (13 s / 97 s / 9 s samples on
    * identical input) attributed the variance to JIT-unlucky rounds
    * running fat-string stages at interpreter speed (cpu≈wall, gc≈0,
    * 15-25× CPU on the same stage) and to the verify join flipping
    * between an 18 s single-threaded broadcast build of the string-array
    * table and an AQE-coalesced 5-task shuffled join carrying 250 s of
    * CPU. 8-byte elements shrink every one of those stages ~4× in bytes
    * and far more in CPU (one long compare vs a UTF8String walk), the
    * verify joins are pinned SHUFFLE_HASH on doc_id (broadcast is the
    * wrong shape at scale: candidates ≫ memory), and build.sbt's
    * -XX:-DontCompileHugeMethods keeps the generated stages compilable
    * at all.
    */
  /** q135's shingle-set and candidate-pair relations, extracted so the
    * scale census (tools via [[PairCensus]]) can count the TRUE work unit
    * of the exact-Jaccard join — candidate pairs — without duplicating
    * the prefix-filter logic (docs/SCALING.md "work-unit-normalized"
    * table: the skew fixture grows dup families linearly with copies, so
    * pair populations grow quadratically while wall stays sub-linear PER
    * PAIR).
    */
  private[queries] def q135Candidates(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val tau = 0.6
    // leave string space immediately: one xxhash64 per distinct shingle
    // localCheckpoint: the shingle→hash→sort relation feeds THREE
    // consumers (tf via the explode, the prefix table, and both sides
    // of the verify join) with different downstream partitionings, so
    // without it the tokenizer+xxhash64+sort pipeline re-executes per
    // consumer — the r10 postmortem attributed q135's residual sample
    // variance (spread 2.2, gc_ms up to 5.5 s) to exactly this
    // repeated array churn. Materializing |docs| sorted long[] once
    // (MBs at sf0.1; at 100 TB this is the standard cache/checkpoint
    // of a reused candidate relation) cuts the work 3× and the
    // allocation pressure with it (the q116 edge-relation device).
    val t = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"),
        array_sort(array_distinct(transform(
          array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)),
          tk => xxhash64(tk)))).as("hs"))
      .localCheckpoint()
    val ex = t.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("tok"))
    val tf = ex.groupBy("tok").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("doc_id").orderBy(col("freq").asc, col("tok").asc)
    val pfx = ex.join(tf, "tok")
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - ceil(col("n") * lit(tau)) + 1)
      .select(col("tok"), col("doc_id"))
    val cand = pfx.as("a").join(pfx.as("b"), "tok")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    (t, cand)
  }

  private val q135 = Q("q135_prefix_filter_join",
    (s, d) => {
      val tau = 0.6
      val (t, cand) = q135Candidates(s, d)
      val th = t
      cand
        .join(th.as("ta").hint("shuffle_hash"), col("da") === col("ta.doc_id"))
        .join(th.as("tb").hint("shuffle_hash"), col("db") === col("tb.doc_id"))
        .withColumn("inter", org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.SortedIntersectCount(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("ta.hs")),
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("tb.hs")))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (size(col("ta.hs")) + size(col("tb.hs")) - col("inter")))
        .filter(col("jaccard") >= tau)
        .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      -- oracle stays on the string sets: hashed-set Jaccard equals
      -- string-set Jaccard absent 64-bit collisions (P ~ 1e-11/pair)
      t AS (SELECT doc_id, list_distinct(${duckShingles("w")}) AS toks FROM w0),
      ex AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
      tf AS (SELECT tok, COUNT(*) AS freq FROM ex GROUP BY tok),
      rk AS (SELECT e.doc_id, e.n, e.tok,
          row_number() OVER (PARTITION BY e.doc_id ORDER BY f.freq, e.tok) AS r
        FROM ex e JOIN tf f USING (tok)),
      pfx AS (SELECT tok, doc_id FROM rk
        WHERE r <= n - CAST(ceil(0.6::DOUBLE * n) AS BIGINT) + 1),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM pfx a JOIN pfx b USING (tok) WHERE a.doc_id < b.doc_id),
      v AS (SELECT da, db,
          CAST(len(list_filter(ta.toks, x -> list_contains(tb.toks, x))) AS DOUBLE) /
            (len(ta.toks) + len(tb.toks)
             - len(list_filter(ta.toks, x -> list_contains(tb.toks, x)))) AS jaccard
        FROM cand JOIN t ta ON ta.doc_id = da JOIN t tb ON tb.doc_id = db)
      SELECT da AS doc_a, db AS doc_b, jaccard
      FROM v WHERE jaccard >= 0.6::DOUBLE
      ORDER BY doc_a, doc_b"""))

  /** Gopher-style quality-filter rule suite (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A1.1 — published rule thresholds):
    * per-document boolean verdicts for word-count bounds, mean-word-length
    * band, alphabetic-word fraction, and stop-word presence, plus the
    * conjunction. Differs from q29 (a weighted SCORE) — this is the
    * FILTER surface: each rule is its own auditable column, which is what
    * a corpus-curation pipeline ships (per-rule rejection stats drive
    * threshold tuning). All columns are scan-local array arithmetic behind
    * one tokenize; no shuffle before the gate's orderBy.
    */
  private val q140 = Q("q140_gopher_rules",
    (s, d) => {
      val stop = Seq("the", "a", "of", "and", "is", "to", "in", "that")
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_words"),
          ((length(col("text")) - (size(col("w")) - 1)).cast("double") /
            size(col("w"))).as("mean_word_len"),
          (size(filter(col("w"), t => t.rlike("[a-z]"))).cast("double") /
            size(col("w"))).as("alpha_frac"),
          size(filter(col("w"), t => t.isin(stop: _*))).cast("long").as("n_stopwords"))
        .withColumn("r_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
        .withColumn("r_mean_word_len", col("mean_word_len") >= 3.0d && col("mean_word_len") <= 10.0d)
        .withColumn("r_alpha", col("alpha_frac") >= 0.8d)
        .withColumn("r_stopwords", col("n_stopwords") >= 2)
        .withColumn("passes_gopher",
          col("r_word_count") && col("r_mean_word_len") && col("r_alpha") && col("r_stopwords"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, text, $duckToks AS w FROM documents),
      m AS (SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) AS mean_word_len,
        CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(w) AS alpha_frac,
        CAST(len(list_filter(w, x -> x IN ('the','a','of','and','is','to','in','that'))) AS BIGINT)
          AS n_stopwords
        FROM t)
      SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
        (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        (mean_word_len >= 3.0::DOUBLE AND mean_word_len <= 10.0::DOUBLE) AS r_mean_word_len,
        (alpha_frac >= 0.8::DOUBLE) AS r_alpha,
        (n_stopwords >= 2) AS r_stopwords,
        ((n_words >= 50 AND n_words <= 100000)
          AND (mean_word_len >= 3.0::DOUBLE AND mean_word_len <= 10.0::DOUBLE)
          AND alpha_frac >= 0.8::DOUBLE AND n_stopwords >= 2) AS passes_gopher
      FROM m ORDER BY doc_id"""))

  /** Domain-mixture reweighting: given target language shares, compute the
    * largest corpus achievable WITHOUT upsampling (budget = min over
    * languages of tokens_l / share_l), then each language's sampling rate
    * and expected token yield. This is the planning table a pretraining
    * run publishes before sampling (the actual draw is q43's stratified
    * sampler, whose rates this computes). One partial-aggregated shuffle
    * keyed by lang (5 groups), a broadcast join against the literal
    * target table, and a 1-row budget scalar crossJoined back — at 100 TB
    * the only data-sized pass is the scan feeding the lang aggregation.
    * All arithmetic is exact: token sums are integers; rate/budget are
    * single IEEE divisions/multiplies evaluated identically per engine.
    */
  private val q141 = Q("q141_domain_mixture",
    (s, d) => {
      import s.implicits._
      val targets = Seq(("en", 0.5d), ("de", 0.15d), ("fr", 0.15d),
        ("es", 0.1d), ("zh", 0.1d)).toDF("lang", "target_share")
      val perLang = Tables.fanOut(Tables.documents(s, d))
        .select(col("lang"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("lang_tokens"))
        .join(broadcast(targets), "lang")
      val budget = perLang
        .agg(min(col("lang_tokens").cast("double") / col("target_share")).as("budget_tokens"))
      perLang.crossJoin(broadcast(budget))
        .withColumn("sample_rate",
          least(col("target_share") * col("budget_tokens") / col("lang_tokens").cast("double"), lit(1.0d)))
        .withColumn("expected_tokens",
          floor(col("sample_rate") * col("lang_tokens").cast("double")).cast("long"))
        .select("lang", "n_docs", "lang_tokens", "target_share", "sample_rate", "expected_tokens")
        .orderBy("lang")
    },
    Some("""WITH tgt(lang, target_share) AS (VALUES
        ('en', 0.5::DOUBLE), ('de', 0.15::DOUBLE), ('fr', 0.15::DOUBLE),
        ('es', 0.1::DOUBLE), ('zh', 0.1::DOUBLE)),
      pl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
        FROM documents GROUP BY lang),
      j AS (SELECT pl.*, tgt.target_share FROM pl JOIN tgt USING (lang)),
      b AS (SELECT MIN(CAST(lang_tokens AS DOUBLE) / target_share) AS budget_tokens FROM j)
      SELECT lang, n_docs, lang_tokens, target_share,
        least(target_share * budget_tokens / CAST(lang_tokens AS DOUBLE), 1.0::DOUBLE) AS sample_rate,
        CAST(floor(least(target_share * budget_tokens / CAST(lang_tokens AS DOUBLE), 1.0::DOUBLE)
          * CAST(lang_tokens AS DOUBLE)) AS BIGINT) AS expected_tokens
      FROM j CROSS JOIN b ORDER BY lang"""))

  /** CCNet-style LM quality scoring (Wenzek et al. 2020): train a
    * token-bigram language model on the in-domain subset (lang='en'),
    * then score EVERY document by its mean smoothed bigram probability —
    * the importance-filtering signal a pretraining pipeline computes over
    * the whole crawl. Add-one smoothing: p(w2|w1) = (c(w1,w2)+1) /
    * (c(w1)+V). Deliberately linear-domain (no libm log — see q42's
    * rationale): every p is one IEEE division of small exact integers,
    * and the per-doc mean goes through the scale-18 decimal route so the
    * reduction is order-free. Scale shape: the corpus is exploded to
    * bigrams ONCE and reused for both model counts and scoring; the model
    * tables are vocabulary-sized (≪ corpus, broadcastable at any SF —
    * AQE picks broadcast here); the scoring join never shuffles the
    * corpus twice (both model joins key on w1-derived columns).
    */
  private val q142 = Q("q142_bigram_lm_score",
    (s, d) => {
      import graft.functions.{StableAgg => SA}
      val docs = Tables.fanOut(Tables.documents(s, d))
      // r15: explode (w1, w2) STRUCTS instead of "w1 w2" shingle strings
      // re-split twice per bigram — the concat_ws + 2× split round-trip
      // was pure per-row string churn (the pairs are the same tokens by
      // construction: tokens contain no spaces). Values identical, so
      // the model counts, joins and scores are bit-unchanged.
      val bi = docs
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.bigramPairs(TextAnalysis.tokens(col("text")))).as("p"))
        .withColumn("w1", col("p.w1"))
        .withColumn("w2", col("p.w2"))
      val train = bi.filter(col("lang") === "en")
      val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
      val voc = docs.filter(col("lang") === "en")
        .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .agg(countDistinct(col("t")).as("vsz"))
      bi.join(c12, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .crossJoin(broadcast(voc))
        .withColumn("p",
          (coalesce(col("c12"), lit(0L)) + 1L).cast("double") /
            (coalesce(col("c1"), lit(0L)) + col("vsz")).cast("double"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          SA.dsum(col("p"), 18).as("sum_p"),
          min(col("p")).as("min_p"))
        .withColumn("avg_p", col("sum_p") / col("n_bigrams").cast("double"))
        .select("doc_id", "n_bigrams", "avg_p", "min_p")
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, lang, $duckToks AS w FROM documents),
      bi AS (SELECT doc_id, lang,
          w[i] AS w1, w[i+1] AS w2
        FROM t, unnest(range(1, len(w))) AS r(i)),
      c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi WHERE lang = 'en' GROUP BY w1, w2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi WHERE lang = 'en' GROUP BY w1),
      voc AS (SELECT COUNT(DISTINCT tok) AS vsz
        FROM (SELECT unnest(w) AS tok FROM t WHERE lang = 'en')),
      sc AS (SELECT bi.doc_id,
          CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
            / CAST(coalesce(c1.c1, 0) + voc.vsz AS DOUBLE) AS p
        FROM bi LEFT JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
          LEFT JOIN c1 ON bi.w1 = c1.w1
          CROSS JOIN voc)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        ${graft.OracleSql.dsum("p", 18)} / CAST(COUNT(*) AS DOUBLE) AS avg_p,
        MIN(p) AS min_p
      FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** Multimodal decode through a REAL audio codec (javax.sound.sampled,
    * JDK WAV): synthesize the closed-form PCM16 waveform s(i) = ((7i +
    * 31·doc_id) mod 65536) − 32768 per doc, encode to actual RIFF/WAVE
    * bytes, decode back through AudioSystem, and extract header fields +
    * sample-level features. The header columns (sample_rate, channels,
    * bits) come from the decoded format — a parse bug fails the gate; the
    * PCM columns have a full closed-form oracle like q107's image twin.
    */
  private val q146 = Q("q146_audio_decode",
    (s, d) => {
      val media = Multimodal.synthesizeAudio(Tables.fanOut(Tables.documents(s, d)))
      Multimodal.decodeAudio(media).orderBy("doc_id")
    },
    Some("""WITH dims AS (
        SELECT doc_id, CAST(doc_id % 480 + 240 AS BIGINT) AS n FROM documents),
      wav AS (
        SELECT doc_id, n,
          list_transform(range(0, n),
            i -> (i*7 + doc_id*31) % 65536 - 32768) AS smp
        FROM dims)
      SELECT doc_id,
        8000 AS sample_rate, 1 AS channels, 16 AS bits,
        n AS n_samples,
        CAST(list_sum(smp) AS BIGINT) AS sample_sum,
        CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS abs_sum,
        list_reduce(list_transform(smp, x -> x + 32768),
          (acc, v) -> (acc*31 + v) & 4294967295) AS sample_checksum,
        CAST(CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS DOUBLE)
          / (CAST(n AS DOUBLE) * 32768.0::DOUBLE) AS mean_abs
      FROM wav ORDER BY doc_id"""))

  /** Epoch-aware fractional up/down-sampling — the repetition operator a
    * data-mixing plan needs once q141 emits NON-INTEGER rates: a rate of
    * 2.3 means every doc appears twice and a deterministic 30 % of docs
    * (by salted digest, the q43 device) appear a third time; a rate of
    * 0.5 means a deterministic half appear at all. copies(doc) =
    * ⌊rate⌋ + [u(doc) < frac(rate)], materialized as one row per
    * (doc, copy_idx) via sequence+explode. Retry-stable and
    * partition-free like all the digest sampling: no shuffle, no state,
    * identical multiset on any engine — which is exactly what makes
    * epoch-boundary-free repetition safe at 100 TB (a rerun of any
    * partition reproduces the same copies; changing the salt per epoch
    * yields a fresh fractional subset).
    */
  private val q150 = Q("q150_epoch_upsample",
    (s, d) => {
      val rates = Seq("en" -> 1.0d, "de" -> 2.3d, "fr" -> 0.5d,
        "es" -> 1.7d, "zh" -> 3.0d)
      val rate = rates.foldRight(lit(1.0d): org.apache.spark.sql.Column) {
        case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
      }
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), rate.as("rate"),
          Sampling.uniform(col("doc_id"), "epoch1").as("u"))
        .withColumn("copies",
          (floor(col("rate")) +
            when(col("u") < col("rate") - floor(col("rate")), 1L).otherwise(0L))
            .cast("long"))
        .filter(col("copies") > 0)
        .select(col("doc_id"), col("lang"), col("copies"),
          explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    },
    Some {
      val u = s"(${duckHash32("md5('epoch1:' || CAST(doc_id AS VARCHAR))")}) / 4294967296.0::DOUBLE"
      s"""WITH r AS (SELECT doc_id, lang,
          CASE lang WHEN 'en' THEN 1.0::DOUBLE WHEN 'de' THEN 2.3::DOUBLE
            WHEN 'fr' THEN 0.5::DOUBLE WHEN 'es' THEN 1.7::DOUBLE
            WHEN 'zh' THEN 3.0::DOUBLE ELSE 1.0::DOUBLE END AS rate,
          $u AS u
        FROM documents),
      c AS (SELECT doc_id, lang,
          CAST(floor(rate) + (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END) AS BIGINT)
            AS copies
        FROM r)
      SELECT doc_id, lang, copies, unnest(generate_series(1, copies)) AS copy_idx
      FROM c WHERE copies > 0
      ORDER BY doc_id, copy_idx"""
    })

  /** Exact substring (repeated-passage) deduplication — the Lee et al.
    * 2022 "Deduplicating Training Data Makes Language Models Better"
    * operator the shingle/MinHash family doesn't cover: find maximal
    * SPANS of ≥ K consecutive tokens that appear verbatim in more than
    * one document (boilerplate, licenses, templated passages), reported
    * as (doc, span_start, span_end) for surgical removal rather than
    * whole-doc dropping. Pipeline: K-token sliding windows with
    * positions → window hash → hashes seen in ≥ 2 docs → per-doc merge
    * of overlapping flagged windows into maximal spans (the
    * gaps-and-islands device, break at gap > K). Scale: the suffix-array
    * construction the paper uses is replaced by a shuffle of (window
    * hash, doc, pos) rows — hashes only, never text; the island merge is
    * one window pass partitioned by doc. The ≥2-distinct-docs filter
    * partial-aggregates map-side.
    */
  private val q151 = Q("q151_substring_dedup",
    (s, d) => {
      val K = 10
      val t = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= K)
      val win = t
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), size(col("w")) - (K - 1))).as("pos"))
        .select(col("doc_id"), col("pos"),
          md5(concat_ws(" ", slice(col("w"), col("pos"), lit(K)))).as("h"))
      val dup = win.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select("h")
      val flagged = win.join(dup, Seq("h"), "left_semi")
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      flagged
        .withColumn("brk",
          when(lag(col("pos"), 1).over(byDoc).isNull ||
            col("pos") - lag(col("pos"), 1).over(byDoc) > K, 1L).otherwise(0L))
        .withColumn("grp", sum(col("brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "grp")
        .agg(min(col("pos")).cast("long").as("span_start"),
          (max(col("pos")) + (K - 1)).cast("long").as("span_end"),
          (max(col("pos")) + (K - 1) - min(col("pos")) + 1).cast("long").as("span_len"),
          count(lit(1)).as("n_windows"))
        .select("doc_id", "span_start", "span_end", "span_len", "n_windows")
        .orderBy("doc_id", "span_start")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
        WHERE len(string_split(text,' ')) >= 10),
      win AS (SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+9],' ')) AS h
        FROM (SELECT doc_id, w, unnest(range(1, len(w)-8)) AS i FROM t)),
      dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      f AS (SELECT doc_id, pos FROM win WHERE h IN (SELECT h FROM dup)),
      isl AS (SELECT doc_id, pos,
          CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
          THEN 1 ELSE 0 END AS brk
        FROM f),
      g AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM isl)
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        CAST(MAX(pos) + 9 AS BIGINT) AS span_end,
        CAST(MAX(pos) + 9 - MIN(pos) + 1 AS BIGINT) AS span_len,
        CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM g GROUP BY doc_id, grp ORDER BY doc_id, span_start"""))

  /** T5-style span corruption (Raffel et al. 2020's denoising objective,
    * the masking preprocessor a seq2seq pretraining pipeline runs over
    * every document): each token position masks independently at 15 %
    * via the salted-digest draw (hexHash32∘md5 on (doc_id, pos) — the
    * q43 sampling device, so the mask is partition/retry-stable and
    * engine-mirrorable), CONSECUTIVE masked positions merge into one
    * sentinel in the corrupted text (the defining span-corruption move),
    * and the target sequence is the masked tokens in order. Output =
    * the actual training artifact: corrupted input, target, and the
    * span/token accounting.
    *
    * Scale: positions explode once; the span-start flags are one lag()
    * window and the reassembly is one aggregate — both key by doc_id, so
    * the single hash exchange is paid once and reused (window feeds the
    * aggregate without re-shuffling). Text reassembly uses the
    * deterministic sort_array(collect_list(struct(pos, …))) device —
    * order-stable on any partitioning.
    */
  private val q218 = Q("q218_span_corruption",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pos = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("masked",
          Dedup.hexHash32(md5(concat(col("doc_id").cast("string"), lit(":"),
            col("pos").cast("string")))) % 100 < 15)
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val spans = pos
        .withColumn("span_start",
          col("masked") && !coalesce(lag(col("masked"), 1).over(w), lit(false)))
        .withColumn("piece",
          when(!col("masked"), col("tok"))
            .when(col("span_start"), lit("<X>"))
            .otherwise(lit(null).cast("string")))
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
          sum(when(col("span_start"), 1L).otherwise(0L)).as("n_spans"),
          concat_ws(" ", expr(
            "transform(filter(array_sort(collect_list(struct(pos, piece))), " +
              "x -> x.piece is not null), x -> x.piece)")).as("corrupted_text"),
          concat_ws(" ", expr(
            "transform(filter(array_sort(collect_list(struct(pos, " +
              "CASE WHEN masked THEN tok END AS mt))), " +
              "x -> x.mt is not null), x -> x.mt)")).as("target_text"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS ls FROM documents),
      p AS (SELECT doc_id, CAST(r.p AS INTEGER) AS pos, ls[CAST(r.p + 1 AS INTEGER)] AS tok,
          (${duckHash32("md5(doc_id || ':' || r.p)")}) % 100 < 15 AS masked
        FROM t, unnest(range(0, len(ls))) AS r(p)),
      f AS (SELECT *, masked AND NOT coalesce(lag(masked) OVER
          (PARTITION BY doc_id ORDER BY pos), FALSE) AS span_start FROM p),
      g AS (SELECT doc_id, span_start,
          CASE WHEN NOT masked THEN tok
               WHEN span_start THEN '<X>' END AS piece,
          CASE WHEN masked THEN tok END AS mt, pos FROM f)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN mt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        -- count the span_start FLAG, not piece = '<X>': a document whose
        -- unmasked text contains the literal token '<X>' must not inflate
        -- the span count (mirrors Spark's sum over span_start)
        CAST(SUM(CASE WHEN span_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        coalesce(string_agg(piece, ' ' ORDER BY pos), '') AS corrupted_text,
        coalesce(string_agg(mt, ' ' ORDER BY pos), '') AS target_text
      FROM g GROUP BY doc_id ORDER BY doc_id"""))

  /** Label-noise detection via k-NN agreement (the Confident-Learning /
    * deep-k-NN screen: a label that disagrees with its feature-space
    * neighborhood is probably wrong): for each anchor vector, take its
    * 10 nearest corpus neighbors by exact cosine (the q26 broadcast
    * shape) and score the fraction whose label matches the anchor's;
    * agreement < 0.5 flags the anchor for relabeling. The embeddings
    * fixture carries a `label` column, so the whole audit is oracled.
    *
    * Scale: anchors broadcast against one corpus scan (never the
    * reverse); at full corpus-×-corpus scale the neighbor search swaps
    * for q27's LSH buckets with the identical agreement tail.
    */
  private val q241 = Q("q241_knn_label_agreement",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val anchors = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      Similarity.bruteForceTopK(corpus, anchors, 10)
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .join(labels.select(col("vec_id").as("qid"),
          col("label").as("q_label")), "qid")
        .groupBy("qid")
        .agg(max(col("q_label")).as("label"),
          count(lit(1)).as("k"),
          sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
            .as("n_agree"))
        .withColumn("agreement",
          col("n_agree").cast("double") / col("k").cast("double"))
        .withColumn("flag_noisy", col("agreement") < 0.5d)
        .orderBy("qid")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
        FROM embeddings WHERE vec_id % 29 = 0),
      c AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
      sim AS (SELECT qid, id, ${duckCos("qvec", "vec")} AS cos_sim
        FROM q CROSS JOIN c WHERE id <> qid),
      r AS (SELECT qid, id,
        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id)
          AS rank FROM sim),
      nn AS (SELECT qid, id FROM r WHERE rank <= 10),
      j AS (SELECT nn.qid, ql.label AS q_label, nl.label AS n_label
        FROM nn JOIN embeddings nl ON nn.id = nl.vec_id
          JOIN embeddings ql ON nn.qid = ql.vec_id)
      SELECT qid, MAX(q_label) AS label, CAST(COUNT(*) AS BIGINT) AS k,
        CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
          AS n_agree,
        CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS agreement,
        CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) < 0.5 AS flag_noisy
      FROM j GROUP BY qid ORDER BY qid"""))

  /** Perceptual image deduplication via difference-hash (dHash): every
    * image decodes through the REAL PNG codec, downsamples to a 9×8
    * nearest-neighbor grid, and emits 64 gradient-sign bits; exact-hash
    * groups are the perceptual duplicate clusters (re-encodes, resizes
    * and brightness shifts of one image collide — the standard image-
    * dedup pass in multimodal training-data pipelines). The oracle
    * recomputes the grid from the closed-form pattern, so a codec,
    * sampling-grid, or bit-packing bug hash-mismatches.
    *
    * Scale: one codec pass (mapPartitions, CPU-local) then a single
    * hash-partitioned groupBy on the 64-bit hash — never pairwise; group
    * sizes are bounded by true duplicate multiplicity, so no skew. The
    * hash rides as two non-negative 32-bit halves in BIGINTs to stay
    * sign-portable across engines.
    */
  private val q248 = Q("q248_image_dhash_dedup",
    (s, d) => {
      val media = Multimodal.synthesizeImages(Tables.fanOut(Tables.documents(s, d)))
      Multimodal.imageDHashes(media)
        .groupBy("hash_lo", "hash_hi")
        .agg(count(lit(1)).as("group_size"),
          min(col("doc_id")).as("keeper_doc_id"),
          array_join(
            transform(sort_array(collect_list(col("doc_id"))),
              _.cast("string")), ",").as("doc_ids"))
        .filter(col("group_size") >= 2)
        .orderBy("hash_lo", "hash_hi")
    },
    Some {
      // g(x,y) = (7x + 13y + 31·doc) mod 256 sampled at the nearest-
      // neighbor grid x_i = (i·w)//9, y_j = (j·h)//8; bit b (i=b%8,
      // j=b//8) set when the right grid sample strictly exceeds the left.
      def bitTerm(shift: String) =
        s"""CASE WHEN (7*((((b%8)+1)*w)//9) + 13*(((b//8)*h)//8) + 31*doc_id) % 256
             > (7*(((b%8)*w)//9) + 13*(((b//8)*h)//8) + 31*doc_id) % 256
           THEN (CAST(1 AS BIGINT) << ($shift)) ELSE CAST(0 AS BIGINT) END"""
      s"""WITH dims AS (SELECT doc_id, doc_id % 64 + 16 AS w,
          doc_id % 48 + 16 AS h FROM documents),
        hb AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0,32), b -> ${bitTerm("b")}))
            AS BIGINT) AS hash_lo,
          CAST(list_sum(list_transform(range(32,64), b -> ${bitTerm("b-32")}))
            AS BIGINT) AS hash_hi
        FROM dims)
      SELECT hash_lo, hash_hi, CAST(COUNT(*) AS BIGINT) AS group_size,
        MIN(doc_id) AS keeper_doc_id,
        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
      FROM hb GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2"""
    })

  /** Audio loudness/clipping census — the audio-curation pass (drop
    * saturated takes, flag dead air) over a gained, saturating waveform
    * encoded and decoded through the REAL WAV codec: per 128-sample
    * window, exact integer peak/|v|-sum/energy; a window is CLIPPED at
    * peak ≥ 32760 and QUIET below mean |v| of 8192. The verdict `keep`
    * (no clipping, at most half the windows quiet) is the filter a
    * speech-pretraining pipeline applies before transcription.
    *
    * Scale: pure scan-local codec + integer window folds (mapPartitions),
    * no shuffle until the final per-doc row — the same shape at 100 TB
    * with the codec as the only CPU cost.
    */
  private val q249 = Q("q249_audio_loudness_census",
    (s, d) => {
      val media = Multimodal.synthesizeGainedAudio(
        Tables.fanOut(Tables.documents(s, d)))
      Multimodal.decodeAudioLoudness(media)
        .withColumn("clip_frac",
          col("n_clipped").cast("double") / col("n_windows").cast("double"))
        .withColumn("quiet_frac",
          col("n_quiet").cast("double") / col("n_windows").cast("double"))
        .withColumn("keep",
          col("n_clipped") === 0L && col("n_quiet") * 2 <= col("n_windows"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (SELECT doc_id,
          CAST(doc_id % 480 + 240 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, n // 128 AS n_windows FROM dims),
      win AS (SELECT doc_id, n, n_windows,
          unnest(range(0, n_windows)) AS k FROM w),
      smp AS (SELECT doc_id, n, n_windows, k,
          list_transform(range(k*128, (k+1)*128), i ->
            greatest(-32768, least(32767,
              ((((i*7 + doc_id*9973) % 65536)
                  * ((37*doc_id + 53*(i//128)) % 80)) // 64)
                - 512*((37*doc_id + 53*(i//128)) % 80)))) AS vals
        FROM win),
      ws AS (SELECT doc_id, n, n_windows, k,
          CAST(list_max(list_transform(vals, x -> abs(x))) AS BIGINT)
            AS win_peak,
          CAST(list_sum(list_transform(vals, x -> abs(x))) AS BIGINT)
            AS abs_sum,
          CAST(list_sum(list_transform(vals,
            x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS win_energy
        FROM smp),
      agg AS (SELECT doc_id, MAX(n) AS n_samples,
          CAST(MAX(n_windows) AS BIGINT) AS n_windows,
          CAST(SUM(CASE WHEN win_peak >= 32760 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_clipped,
          CAST(SUM(CASE WHEN abs_sum < 1048576 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_quiet,
          CAST(SUM(win_energy) AS BIGINT) AS energy,
          CAST(MAX(win_peak) AS INTEGER) AS peak_abs
        FROM ws GROUP BY doc_id)
      SELECT doc_id, n_samples, n_windows, n_clipped, n_quiet, energy,
        peak_abs,
        CAST(n_clipped AS DOUBLE) / CAST(n_windows AS DOUBLE) AS clip_frac,
        CAST(n_quiet AS DOUBLE) / CAST(n_windows AS DOUBLE) AS quiet_frac,
        (n_clipped = 0 AND n_quiet * 2 <= n_windows) AS keep
      FROM agg ORDER BY doc_id"""))

  /** ANN index-quality evaluation: recall@10 of the LSH-bucketed index
    * (q27's production path, UNMODIFIED) against brute-force cosine
    * truth (q26's path) over the q241 anchor set — the recall curve a
    * team reads before choosing plane count / probe strategy, as a
    * first-class gated operator like q188's dedup evaluation. Per
    * anchor: truth size, predicted size (a singleton bucket may predict
    * nothing — LEFT join, zero-filled), hits, recall. Every ingredient
    * is already deterministic (md5-derived planes, ordered-fold dots,
    * tie-broken ranks), so the evaluation itself hash-reproduces.
    *
    * Scale: the truth side is the only quadratic piece and runs over
    * anchors×corpus exactly like q26 (broadcast anchors, one corpus
    * scan); production evaluates on a fixed anchor sample exactly this
    * way — index quality is estimated, never computed corpus×corpus.
    */
  private val q258 = Q("q258_ann_recall_eval",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val anchors = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val truth = Similarity.bruteForceTopK(corpus, anchors, 10)
        .select(col("qid"), col("neighbor_id"))
      val pred = Similarity.lshBucketedTopK(corpus, anchors, 10, numPlanes = 8)
        .select(col("qid").as("pqid"), col("neighbor_id").as("pnid"))
      val hits = truth
        .join(pred, col("qid") === col("pqid") && col("neighbor_id") === col("pnid"),
          "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("pnid").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      val nPred = pred.groupBy(col("pqid").as("qid"))
        .agg(count(lit(1)).as("n_pred"))
      hits.join(nPred, Seq("qid"), "left")
        .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
        .withColumn("recall_at_10", col("n_hit").cast("double") / 10.0d)
        .select("qid", "n_true", "n_pred", "n_hit", "recall_at_10")
        .orderBy("qid")
    },
    Some {
      val mdExpr = "md5('plane' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR))"
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
          FROM embeddings WHERE vec_id % 29 = 0),
        c AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
        bsim AS (SELECT qid, id, ${duckCos("qvec", "vec")} AS cos_sim
          FROM q CROSS JOIN c WHERE id <> qid),
        br AS (SELECT qid, id,
          row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id)
            AS rank FROM bsim),
        truth AS (SELECT qid, id FROM br WHERE rank <= 10),
        pc AS (SELECT p, i,
            (CAST(${duckHash32(mdExpr)} AS DOUBLE) / 4294967296.0 - 0.5::DOUBLE)
              AS comp
          FROM range(0, 8) t1(p), range(0, 64) t2(i)),
        pl AS (SELECT p, list(comp ORDER BY i) AS comps FROM pc GROUP BY p),
        cd AS (SELECT id, p,
            list_reduce(list_transform(range(1, len(vec)+1),
              i -> CAST(vec[i] AS DOUBLE) * comps[i]), (a, b) -> a + b) AS dot
          FROM c CROSS JOIN pl),
        cb AS (SELECT id,
            SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
              AS bucket
          FROM cd GROUP BY id),
        corp AS (SELECT cb.id, c.vec, bucket FROM cb JOIN c USING (id)),
        qb AS (SELECT id AS qid, vec AS qvec, bucket FROM corp
          WHERE id % 29 = 0),
        j AS (SELECT qid, qvec, id, vec
          FROM qb JOIN corp USING (bucket) WHERE id <> qid),
        lsim AS (SELECT qid, id, ${duckCos("qvec", "vec")} AS cos_sim FROM j),
        lr AS (SELECT qid, id,
          row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id)
            AS rank FROM lsim),
        pred AS (SELECT qid, id FROM lr WHERE rank <= 10),
        h AS (SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
            CAST(SUM(CASE WHEN p.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_hit
          FROM truth t LEFT JOIN pred p ON t.qid = p.qid AND t.id = p.id
          GROUP BY t.qid),
        np AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_pred
          FROM pred GROUP BY qid)
      SELECT h.qid, h.n_true, COALESCE(np.n_pred, 0) AS n_pred, h.n_hit,
        CAST(h.n_hit AS DOUBLE) / 10.0 AS recall_at_10
      FROM h LEFT JOIN np ON h.qid = np.qid
      ORDER BY h.qid"""
    })

  /** Decontamination CASCADE — the shape that survives a benchmark set
    * too big to broadcast. q47 (exact) broadcasts the full holdout
    * shingle set to every task; q62 (Bloom) is a fixed 512-byte literal
    * but pays a deterministic false-positive rate. The cascade composes
    * them: a scan-local codegen'd Bloom probe (q62's m=4096/k=4 literal)
    * kills the overwhelmingly-clean shingle stream FIRST, and only the
    * survivors — true overlaps plus the filter's load-dependent FP tail
    * (sf0.01: 1,720 of 26,136 shingle rows survive, 636 of them FPs the
    * verify stage then kills; a production filter sized at ~24 bits/key
    * like q307's pushes the tail to the 0.1 % class) — enter an
    * UN-HINTED equi-join against the exact holdout set, so the sg-keyed
    * exchange carries survivors, not the corpus, and the exact side may
    * be arbitrarily large (shuffle join; AQE is free to downgrade it to
    * broadcast at fixture scale, and does). The output carries BOTH
    * counts per doc: the oracle computes n_exact_hits independently of
    * the filter (plain membership), so a single false NEGATIVE in the
    * Bloom literal — a survivor wrongly killed before the verify join —
    * breaks the hash: the gate pins the no-false-negative property, and
    * fp_killed shows the verify stage earning its keep.
    *
    * Scale: the bloom census and the survivors branch both hang off the
    * same pruned (doc_id, text) scan; at 100 TB the census folds into
    * whatever per-doc stats pass already runs (or the exploded frame is
    * checkpointed once). The property that matters is that NO corpus-
    * sized relation is ever broadcast and no corpus-sized stream is
    * ever shuffled — reference src/metrics.py computes its overlap
    * reports on the driver; here both stages are plan-native.
    */
  // ---- cascade internals, single owner for q316 (batch) + q318 (per
  // micro-batch): the same dataflow MUST produce the same rows whether
  // it sees the corpus at once or in arrival order. Bloom geometry
  // lives in Dedup.bloomPos4096/bloomProbe4096 (shared with q62). -----

  /** DuckDB mirror of [[graft.operators.Dedup.bloomPos4096]] — the
    * oracle-side single owner of the m=4096/k=4 geometry (q62's oracle
    * and the cascade oracle both splice it). */
  private[queries] def duckBloomPos(j: Int): String =
    s"((${duckHash32(s"substr(md5(sg), ${1 + 8 * j}, 8)")}) % 4096)"

  /** (doc_id, sh) with the empty-shingle docs dropped — q47's explode
    * barrier (keeps the size filter from re-evaluating the chain 3x).
    * Shared by q47/q62/q316/q318. */
  private[queries] def shingled(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(array(
      array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)))).as("sh"))
      .filter(size(col("sh")) > 0)

  /** The hashed shingle stream (doc_id, n_sh, sg, bloom_hit) — the
    * expensive frame: every row pays the md5∘hexHash32 probe chain (the
    * deliberate cross-engine-hash tax every oracle-gated dedup query
    * carries). bloomHit sits in a projection (not downstream) so
    * codegen's subexpression elimination computes md5(sg) once, not 4x. */
  private def cascadeEx(docs: DataFrame,
      bloomHit: org.apache.spark.sql.Column): DataFrame =
    docs
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        explode(col("sh")).as("sg"))
      .select(col("doc_id"), col("n_sh"), col("sg"), bloomHit.as("bloom_hit"))

  /** The cascade over a hashed shingle stream: scan-local Bloom census,
    * then exact verification of SURVIVORS ONLY against the holdout. No
    * broadcast hint on the verify join: the declared plan is an
    * equi-join whose left side the Bloom already shrank (15x at fixture
    * load, 1000x at production bits/key), so it scales to a holdout set
    * that cannot broadcast. Both stages consume `ex`; whether its hash
    * chain is evaluated once (a checkpointed micro-batch, q318) or per
    * branch (the corpus-sized batch operator, q316 — a 100 TB exploded
    * frame cannot materialize) is the CALLER's scale decision.
    * Unordered — callers sort. */
  private def cascadeDecisions(ex: DataFrame, benchSh: DataFrame): DataFrame = {
    // Stage 1: per-doc Bloom census — map-combined keyed agg straight
    // off the stream; every doc appears (zero-hit docs included).
    val bloomCnt = ex.groupBy("doc_id", "n_sh")
      .agg(sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
    // Stage 2: exact verification of survivors.
    val exactCnt = ex.filter(col("bloom_hit"))
      .join(benchSh, col("sg") === col("bsh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
    bloomCnt.join(exactCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"), col("n_bloom_hits"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact_hits"))
      .withColumn("fp_killed", col("n_bloom_hits") - col("n_exact_hits"))
      .withColumn("overlap_frac",
        col("n_exact_hits").cast("double") / col("n_sh"))
      .withColumn("contaminated", col("overlap_frac") >= 0.5d)
  }

  /** Shared DuckDB twin for q316/q318 (batch-invariant: each doc's
    * decision depends only on its own shingles and the fixed holdout, so
    * whole-corpus and per-micro-batch execution must hash identically). */
  private val cascadeOracle: String = {
    val posList = (0 until 4).map(duckBloomPos).mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      s AS (SELECT doc_id, list_distinct(${duckShingles("w")}) AS sh FROM t),
      f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM f),
      pos AS (SELECT doc_id, n_sh, sg, unnest($posList) AS pos FROM ex),
      bpos AS (SELECT DISTINCT pos FROM pos WHERE doc_id < 10),
      bsh AS (SELECT DISTINCT sg FROM ex WHERE doc_id < 10),
      m AS (SELECT doc_id, n_sh, ex.sg,
          SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS nb
        FROM pos ex LEFT JOIN bpos b USING (pos)
        GROUP BY doc_id, n_sh, ex.sg),
      -- n_exact is EXACT membership, independent of the filter: a Bloom
      -- false negative on the Spark side would undercount vs this.
      h AS (SELECT m.doc_id, CAST(m.n_sh AS BIGINT) AS n_sh,
          CAST(SUM(CASE WHEN m.nb = 4 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_bloom_hits,
          CAST(SUM(CASE WHEN b.sg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_exact_hits
        FROM m LEFT JOIN bsh b USING (sg)
        GROUP BY m.doc_id, m.n_sh)
    SELECT doc_id, n_sh, n_bloom_hits, n_exact_hits,
      n_bloom_hits - n_exact_hits AS fp_killed,
      CAST(n_exact_hits AS DOUBLE) / n_sh AS overlap_frac,
      CAST(n_exact_hits AS DOUBLE) / n_sh >= 0.5::DOUBLE AS contaminated
    FROM h ORDER BY doc_id"""
  }

  private val q316 = Q("q316_decontam_cascade",
    (s, d) => {
      val docs = shingled(Tables.fanOut(Tables.documents(s, d)))
      val benchSh = docs.filter(col("doc_id") < 10)
        .select(explode(col("sh")).as("bsh")).distinct()
      // both cascade stages re-evaluate the hash chain from the scan: a
      // corpus-sized exploded frame cannot materialize at 100 TB, so the
      // batch operator pays the chain per branch (the census folds into
      // whatever per-doc stats pass already runs in production)
      cascadeDecisions(cascadeEx(docs, Dedup.bloomProbe4096(benchSh, col("sg"))), benchSh)
        .orderBy("doc_id")
    },
    Some(cascadeOracle))

  /** ONLINE decontamination — the q316 cascade run per micro-batch at
    * ingest, the admission-control shape a continuously-crawling corpus
    * needs (decide AT ARRIVAL, not in a nightly batch; reference
    * src/app.py's pipeline is exactly this always-on posture). The
    * holdout index — Bloom literal + exact shingle set — is built ONCE
    * before the stream starts and reused by every batch: per batch the
    * cascade pays only its own rows. Decisions land idempotently in
    * batchId-keyed parquet (q154's exactly-once discipline), and the
    * post-stream union must hash-match the WHOLE-CORPUS oracle: a
    * dropped batch, a duplicated emission, or any cross-batch
    * sensitivity in the operator (each doc's decision must depend only
    * on its own shingles and the fixed holdout) breaks the gate. The
    * driver-side doc collect is the replay HARNESS (a MemoryStream
    * replays rows); production swaps in the file/WebSocket source and keeps
    * the identical in-stream dataflow.
    */
  private val q318 = Q("q318_streaming_decontam",
    (s, d) => {
      import s.implicits._
      // Holdout index: built from the static table before the stream
      // opens (deploy-time in production) and MATERIALIZED once —
      // localCheckpoint pins the distinct holdout shingles so the
      // per-batch verify join reads the checkpointed KB-scale frame
      // instead of re-deriving scan→shingle→distinct every micro-batch
      // (review finding: the "built once" claim must hold for the exact
      // set too, not just the Bloom literal).
      val benchSh = shingled(Tables.documents(s, d))
        .filter(col("doc_id") < 10)
        .select(explode(col("sh")).as("bsh")).distinct()
        .localCheckpoint()
      val bloomHit = Dedup.bloomProbe4096(benchSh, col("sg"))
      val rows: Seq[(Long, String)] =
        StreamFixtures.replayRows("q318", d) {
          Tables.documents(s, d).select("doc_id", "text")
            .orderBy("doc_id").collect().iterator
            .map(r => (r.getLong(0), r.getString(1))).toSeq
        }
      val dir = StreamGate.scratch("q318")
      val outRoot = new java.io.File(dir, "out").getPath
      // 16 input partitions + 8 shuffle partitions, NOT the stateful-gate
      // clamp (n=2): this gate is STATELESS — no state-store instances to
      // churn — and its per-batch cost is real CPU (md5 shingle chains),
      // so the map side should parallelize like any batch scan. At 4
      // source partitions the cascade ran ~2.5-way (stage_wall 4.6 s of
      // 11.7 s cpu at sf0.1); the sizing below is the q155 device applied
      // to a foreachBatch gate.
      val mem = StreamGate.memory[(Long, String)](s, Some(16))
      val src = mem.toDF().toDF("doc_id", "text")
      // real per-row md5 chains: interpreted eval costs more than recompiles
      StreamGate.replay(s, src, StreamGate.feed(mem, StreamGate.inChunks(rows, 3)),
          StreamGate.GateConf(n = 8, keepCodegen = true)) {
        _.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            // a micro-batch is ingest-rate-bounded, so materializing ITS
            // hashed shingle frame is safe at any corpus size — pay the
            // md5 chain once per batch instead of once per cascade stage
            // (the batch operator q316 cannot make this trade; measured:
            // stage cpu ~halves at sf0.1). persist(), not localCheckpoint:
            // the CacheManager substitutes the cached relation into BOTH
            // cascade stages of the single write job, and unpersist()
            // actually frees the blocks (it is a no-op on a checkpointed
            // frame — review finding).
            val ex = cascadeEx(shingled(batch), bloomHit).persist()
            try cascadeDecisions(ex, benchSh)
              .write.mode("overwrite").parquet(s"$outRoot/batch=$id")
            finally { ex.unpersist(): Unit }
          }
      }
      // drop the inferred batch partition column: the gate is the union
      s.read.parquet(outRoot)
        .select(col("doc_id"), col("n_sh"), col("n_bloom_hits"),
          col("n_exact_hits"), col("fp_killed"), col("overlap_frac"),
          col("contaminated"))
        .orderBy("doc_id")
    },
    Some(cascadeOracle))

  override val all: Seq[Q] = Seq(q20, q21, q22, q23, q24, q25, q26, q27,
    q28, q29, q30, q31, q32, q33, q34, q38, q41, q42, q43, q44, q45, q47, q107, q112, q114, q115,
    q48, q50, q51, q52, q53, q54, q55, q56, q57, q58, q79, q124, q125, q126,
    q127, q134, q135, q140, q141, q142, q146, q150, q151, q163, q164, q218,
    q241, q248, q249, q258, q313, q316, q318)
}
