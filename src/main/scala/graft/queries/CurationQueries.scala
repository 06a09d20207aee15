package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextAnalysis

/** Round-8 curation surface: the dataset-management operators a corpus
  * team runs BETWEEN pipeline stages — snapshot diffing (what changed
  * since the last crawl), multi-criteria document selection (Pareto
  * frontier), mixture reweighting (sampling-temperature domain
  * balancing), and entity-resolution blocking (fuzzy key matching
  * confined to blocks). Same contract as every registry: each Q is one
  * operator family with a full DuckDB hash oracle at sf0.01.
  */
object CurationQueries extends Registry {

  /** Snapshot diff / CDC between two corpus versions: full-outer join on
    * the stable key, rows classified added / removed / changed (value
    * drift), unchanged rows dropped. The two "versions" are derived
    * deterministically from `orders` (old = keys ≢3 mod 10; new = keys
    * ≢2 mod 7, with prices doubled on keys ≡0 mod 5) so the diff
    * exercises all three classes. This is the incremental-crawl shape:
    * at 100 TB both sides hash-partition on the key and the join is a
    * single co-partitioned shuffle — no sort, no broadcast (both sides
    * are corpus-sized), and AQE handles the residual skew. Downstream
    * consumers read only the (small) diff.
    */
  private val q177 = Q("q177_snapshot_diff",
    (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey"), col("o_totalprice").as("price_a"),
          col("o_orderstatus").as("status_a"))
      val b = o.filter(col("o_orderkey") % 7 =!= 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("price_b"),
          col("o_orderstatus").as("status_b"))
      a.join(b, Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("price_a").isNull, "added")
            .when(col("price_b").isNull, "removed")
            .when(col("price_a") =!= col("price_b")
              || col("status_a") =!= col("status_b"), "changed")
            .otherwise("unchanged"))
        .filter(col("change_type") =!= "unchanged")
        .select("o_orderkey", "change_type", "price_a", "price_b")
        .orderBy("o_orderkey")
    },
    Some("""WITH a AS (SELECT o_orderkey, o_totalprice AS price_a,
          o_orderstatus AS status_a FROM orders WHERE o_orderkey % 10 <> 3),
      b AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
               ELSE o_totalprice END AS price_b,
          o_orderstatus AS status_b FROM orders WHERE o_orderkey % 7 <> 2)
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        CASE WHEN a.o_orderkey IS NULL THEN 'added'
             WHEN b.o_orderkey IS NULL THEN 'removed'
             ELSE 'changed' END AS change_type,
        price_a, price_b
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
      WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
        OR price_a <> price_b OR status_a <> status_b
      ORDER BY o_orderkey"""))

  /** Pareto-frontier document selection on two maximize-criteria
    * (length `n_chars`, lexical richness = distinct-token count): a doc
    * survives iff no other doc strictly beats it on BOTH axes — the
    * multi-objective "keep the efficient set" selector that replaces
    * ad-hoc threshold pairs in curation. Computed scale-first: per-x
    * group max (one shuffle on a bounded-cardinality key), then the
    * strictly-greater-x running max over the TINY aggregated table
    * (window over |distinct x| rows, not |docs|), broadcast-joined back
    * so the corpus-sized side is touched exactly twice at scan speed —
    * never a global window over all docs.
    */
  private val q178 = Q("q178_pareto_frontier",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("n_chars"),
          size(array_distinct(TextAnalysis.tokens(col("text"))))
            .cast("long").as("n_terms"))
      graft.operators.Curation.paretoFrontier2D(docs, "n_chars", "n_terms")
        .select("doc_id", "n_chars", "n_terms")
        .orderBy("doc_id")
    },
    Some("""WITH docs AS (SELECT doc_id, n_chars,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_terms
        FROM documents),
      perx AS (SELECT n_chars, MAX(n_terms) AS ym FROM docs GROUP BY n_chars),
      thr AS (SELECT n_chars, MAX(ym) OVER (ORDER BY n_chars DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS y_gt
        FROM perx)
      SELECT doc_id, docs.n_chars, n_terms
      FROM docs JOIN thr ON docs.n_chars = thr.n_chars
      WHERE y_gt IS NULL OR y_gt <= n_terms
      ORDER BY doc_id"""))

  /** Sampling-temperature mixture reweighting (the multilingual-corpus
    * balancing rule of XLM-R/mT5): per-source weight ∝ n^α with
    * α = 1/2, i.e. sqrt — chosen because sqrt is IEEE-correctly-rounded
    * and therefore bit-identical cross-engine, unlike the pow/exp/ln
    * family (see NOTES.md). The denominator Σ√n is accumulated in an
    * EXPLICIT left-to-right reduce over the source-sorted array
    * (Spark `aggregate`(sort_array(collect_list)); DuckDB
    * `list_reduce`(list(... ORDER BY source))) because windowed/plain
    * double SUM pins no accumulation order in either engine. Output:
    * per-source doc share before vs after tempering plus a 1M-token
    * budget allocation. Scale: the per-source agg is one map-combined
    * shuffle on ~dozens of keys; everything after runs on a
    * domain-count-sized table broadcast back to nothing — corpus data
    * is read once.
    */
  private val q179 = Q("q179_temperature_mixture",
    (s, d) => {
      val g = Tables.fanOut(Tables.documents(s, d))
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("s", sqrt(col("n_docs")))
      val tot = g.agg(
        sum("n_docs").as("n_total"),
        aggregate(
          transform(array_sort(collect_list(struct(col("source"), col("s")))),
            x => x.getField("s")),
          lit(0d), (acc, x) => acc + x).as("s_total"))
      g.crossJoin(broadcast(tot))
        .withColumn("w", col("s") / col("s_total"))
        .select(col("source"), col("n_docs"),
          (col("n_docs").cast("double") / col("n_total")).as("raw_share"),
          col("w").as("tempered_share"),
          round(col("w") * 1000000L).cast("long").as("alloc_1m"))
        .orderBy("source")
    },
    Some("""WITH g AS (SELECT source, COUNT(*) AS n_docs,
          sqrt(COUNT(*)) AS s FROM documents GROUP BY source),
      tot AS (SELECT SUM(n_docs) AS n_total,
          list_reduce(list(s ORDER BY source), (a, b) -> a + b) AS s_total
        FROM g)
      SELECT source, n_docs,
        CAST(n_docs AS DOUBLE) / n_total AS raw_share,
        s / s_total AS tempered_share,
        CAST(round(s / s_total * 1000000) AS BIGINT) AS alloc_1m
      FROM g CROSS JOIN tot
      ORDER BY source"""))

  /** Entity-resolution blocking + fuzzy verify: candidate pairs are
    * generated ONLY within a block key (first name token, p_size), then
    * verified with full Levenshtein ≤ 3 — the classic blocked-matching
    * shape (Fellegi–Sunter pipelines, dedupe.io) that confines the
    * quadratic to block-local work exactly like q135's PPJoin confines
    * it to rare-shingle buckets. At 100 TB: one shuffle on the block
    * key, per-block |b|² edit distances with |b| bounded by blocking
    * design (add block attributes to split hot blocks), never an
    * all-pairs join. Output: matched key pairs with their distance.
    */
  private val q180 = Q("q180_er_blocking",
    (s, d) => {
      val p = Tables.part(s, d).select(
        col("p_partkey"), col("p_name"), col("p_size"),
        split(col("p_name"), " ").getItem(0).as("blk"))
      val a = p.select(col("blk"), col("p_size"),
        col("p_partkey").as("a_key"), col("p_name").as("a_name"))
      val b = p.select(col("blk"), col("p_size"),
        col("p_partkey").as("b_key"), col("p_name").as("b_name"))
      a.join(b, Seq("blk", "p_size"))
        .filter(col("a_key") < col("b_key"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
        .filter(col("dist") <= 3)
        .select(col("a_key"), col("b_key"), col("dist").cast("int").as("dist"))
        .orderBy("a_key", "b_key")
    },
    Some("""WITH p AS (SELECT p_partkey, p_name, p_size,
          string_split(p_name, ' ')[1] AS blk FROM part)
      SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_size = b.p_size
        AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3
      ORDER BY a_key, b_key"""))

  /** Degenerate-repetition (loop) detection: the longest run of tokens
    * satisfying t[i] = t[i−p] for periods p = 1 ("the the the") and p = 2
    * ("a b a b a b") — the model-collapse / boilerplate-loop screen run
    * alongside Gopher's repetition fractions (q140, which measure MASS,
    * not RUN LENGTH). Islands trick per document: flag = (token equals
    * its lag-p), reset-group = running count of zeros, max streak = max
    * per-group flag count. Scale: every window is PARTITIONED BY doc_id
    * — per-doc state only, no global sort; the explode shuffles
    * (doc, pos) once and both periods share it.
    */
  private val q181 = Q("q181_repetition_loops",
    (s, d) => {
      val t = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val f = t
        .withColumn("f1", coalesce((col("tok") === lag("tok", 1).over(w)).cast("int"), lit(0)))
        .withColumn("f2", coalesce((col("tok") === lag("tok", 2).over(w)).cast("int"), lit(0)))
        .withColumn("g1", sum(lit(1) - col("f1")).over(w))
        .withColumn("g2", sum(lit(1) - col("f2")).over(w))
      def maxRun(flag: String, grp: String) = f.filter(col(flag) === 1)
        .groupBy(col("doc_id"), col(grp)).agg(count(lit(1)).as("run"))
        .groupBy("doc_id").agg(max("run").as(s"max_$flag"))
      val n = t.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      n.join(maxRun("f1", "g1"), Seq("doc_id"), "left")
        .join(maxRun("f2", "g2"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("max_f1"), lit(0L)).as("max_run_p1"),
          coalesce(col("max_f2"), lit(0L)).as("max_run_p2"))
        .orderBy("doc_id")
    },
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      t AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
          w[CAST(u.i AS INTEGER)] AS tok
        FROM tk, unnest(range(1, len(w) + 1)) u(i)),
      f AS (SELECT doc_id, pos,
          CASE WHEN lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) = tok
               THEN 1 ELSE 0 END AS f1,
          CASE WHEN lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) = tok
               THEN 1 ELSE 0 END AS f2
        FROM t),
      g AS (SELECT doc_id, f1, f2,
          SUM(1 - f1) OVER (PARTITION BY doc_id ORDER BY pos) AS g1,
          SUM(1 - f2) OVER (PARTITION BY doc_id ORDER BY pos) AS g2
        FROM f),
      r1 AS (SELECT doc_id, MAX(c) AS m FROM (
          SELECT doc_id, g1, COUNT(*) AS c FROM g WHERE f1 = 1
          GROUP BY doc_id, g1) GROUP BY doc_id),
      r2 AS (SELECT doc_id, MAX(c) AS m FROM (
          SELECT doc_id, g2, COUNT(*) AS c FROM g WHERE f2 = 1
          GROUP BY doc_id, g2) GROUP BY doc_id),
      n AS (SELECT doc_id, COUNT(*) AS n_tokens FROM t GROUP BY doc_id)
      SELECT n.doc_id, n.n_tokens,
        COALESCE(r1.m, 0) AS max_run_p1, COALESCE(r2.m, 0) AS max_run_p2
      FROM n LEFT JOIN r1 ON n.doc_id = r1.doc_id
        LEFT JOIN r2 ON n.doc_id = r2.doc_id
      ORDER BY n.doc_id"""))

  private val tagDict = Seq(
    "spark" -> "engine", "stream" -> "engine", "query" -> "engine",
    "vector" -> "ml", "agg" -> "ml",
    "table" -> "storage", "scan" -> "storage", "row" -> "storage")

  /** Dictionary keyword tagging (the FlashText/Aho–Corasick shape at the
    * token level): a curated term→tag dictionary is BROADCAST against
    * one exploded corpus scan; per document we emit total hits, distinct
    * matched terms, and the winning tag (hit-count desc, tag asc
    * tie-break), keeping unmatched documents via a left join from the
    * doc spine. Scale: the dictionary is KB-sized forever (it's
    * human-curated), so this is scan + broadcast-hash-join + one
    * map-combined aggregation — no shuffle grows with the dictionary.
    */
  /** (doc_id, term, tag) for every dictionary term of every doc (q182
    * batch, q204 inside the stream). */
  private def tagHits(docs: DataFrame, dict: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .join(broadcast(dict), "term")

  /** Post-hit aggregation shared by q182 (batch) and q204 (streaming
    * sink table): per-doc totals + winning tag, unmatched docs kept. */
  private def tagAggregate(hits: DataFrame, docs: DataFrame): DataFrame = {
    val perTag = hits.groupBy("doc_id", "tag").agg(count(lit(1)).as("tag_hits"))
    val wTop = Window.partitionBy("doc_id")
      .orderBy(desc("tag_hits"), asc("tag"))
    val top = perTag.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1).select(col("doc_id"), col("tag").as("top_tag"))
    val agg = hits.groupBy("doc_id").agg(
      count(lit(1)).as("n_hits"),
      countDistinct("term").as("n_terms_matched"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_terms_matched"), lit(0L)).as("n_terms_matched"),
        col("top_tag"))
      .orderBy("doc_id")
  }

  private val q182 = Q("q182_keyword_tagging",
    (s, d) => {
      import s.implicits._
      val dict = tagDict.toDF("term", "tag")
      val docs = Tables.fanOut(Tables.documents(s, d))
      val hits = tagHits(docs, dict)
      tagAggregate(hits, docs)
    },
    Some(tagOracleSql))

  private lazy val tagOracleSql: String = {
      val vals = tagDict.map { case (t, g) => s"('$t','$g')" }.mkString(", ")
      s"""WITH dict(term, tag) AS (VALUES $vals),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      hits AS (SELECT doc_id, toks.term, tag
        FROM toks JOIN dict ON toks.term = dict.term),
      pertag AS (SELECT doc_id, tag, COUNT(*) AS tag_hits
        FROM hits GROUP BY doc_id, tag),
      top AS (SELECT doc_id, tag AS top_tag FROM (
          SELECT doc_id, tag, row_number() OVER (PARTITION BY doc_id
            ORDER BY tag_hits DESC, tag) AS rn FROM pertag)
        WHERE rn = 1),
      agg AS (SELECT doc_id, COUNT(*) AS n_hits,
          COUNT(DISTINCT term) AS n_terms_matched FROM hits GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(agg.n_hits, 0) AS n_hits,
        COALESCE(agg.n_terms_matched, 0) AS n_terms_matched, top.top_tag
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        LEFT JOIN top ON d.doc_id = top.doc_id
      ORDER BY d.doc_id"""
  }

  private val bm25Queries = Seq(
    (1L, Seq("spark", "table")),
    (2L, Seq("stream", "window", "scan")),
    (3L, Seq("vector", "agg")))

  /** BM25 retrieval (Robertson–Spärck Jones, k1 = 1.2, b = 0.75) with a
    * LOG-FREE idf — idf(t) = (N − df + 0.5)/(df + 0.5), the raw RSJ odds
    * ratio whose logarithm standard BM25 takes. ln is not IEEE
    * correctly-rounded (NOTES.md), so the oracle-gated score keeps the
    * odds form; the ranking-relevant structure (tf saturation, length
    * normalization, df damping) is identical. Per-(query, doc) scores
    * sum over query terms in an EXPLICIT term-sorted left-to-right
    * reduce (the q179 discipline — plain double SUM pins no order).
    * Scale: tf/df/dl all derive from ONE exploded scan (df and dl reuse
    * tf's exchange), the query set and corpus-stat scalars broadcast,
    * and per-query top-5 is a windowed rank partitioned by query.
    */
  private val q183 = Q("q183_bm25_retrieval",
    (s, d) => {
      import s.implicits._
      val qterms = bm25Queries.flatMap { case (q, ts) => ts.map(q -> _) }
        .toDF("qid", "term")
      val docs = Tables.fanOut(Tables.documents(s, d))
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
        .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      val scored = broadcast(qterms)
        .join(tf, "term").join(broadcast(dfreq), "term")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("idf",
          (col("n_docs") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d)))
        .withColumn("sat",
          col("tf").cast("double") * lit(2.2d)
            / (col("tf").cast("double")
              + lit(1.2d) * (lit(0.25d)
                + lit(0.75d) * col("dl").cast("double") / col("avgdl"))))
        .withColumn("sc", col("idf") * col("sat"))
      val perDoc = scored.groupBy("qid", "doc_id").agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("sc")))),
            x => x.getField("sc")),
          lit(0d), (acc, x) => acc + x).as("score"),
        count(lit(1)).as("n_terms_hit"))
      val w = Window.partitionBy("qid").orderBy(desc("score"), asc("doc_id"))
      perDoc.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .select("qid", "rank", "doc_id", "score", "n_terms_hit")
        .orderBy("qid", "rank")
    },
    Some {
      val qvals = bm25Queries.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')") }.mkString(", ")
      s"""WITH qterms(qid, term) AS (VALUES $qvals),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      stats AS (SELECT COUNT(*) AS n_docs,
          CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      scored AS (SELECT qid, tf.doc_id, tf.term,
          ((n_docs - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE))
          * (CAST(tf AS DOUBLE) * 2.2::DOUBLE
             / (CAST(tf AS DOUBLE) + 1.2::DOUBLE * (0.25::DOUBLE
                + 0.75::DOUBLE * CAST(dl.dl AS DOUBLE) / avgdl))) AS sc
        FROM qterms JOIN tf ON qterms.term = tf.term
          JOIN df ON tf.term = df.term
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
      perdoc AS (SELECT qid, doc_id,
          list_reduce(list(sc ORDER BY term), (a, b) -> a + b) AS score,
          COUNT(*) AS n_terms_hit
        FROM scored GROUP BY qid, doc_id),
      r AS (SELECT qid, doc_id, score, n_terms_hit,
          CAST(row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        FROM perdoc)
      SELECT qid, rank, doc_id, score, n_terms_hit FROM r
      WHERE rank <= 5 ORDER BY qid, rank"""
    })

  /** Quantile normalization of a per-source statistic onto the global
    * distribution (the cross-corpus score-alignment step before mixing
    * sources whose quality scales differ): doc at within-source midpoint
    * rank p of n_s maps to the global value at index
    * ⌊(2p+1)·N / (2n_s)⌋ — all INTEGER arithmetic, no interpolation, so
    * the oracle is exact. Scale-first global lookup: instead of a global
    * row_number over the corpus (single-partition sort), the global
    * distribution is the per-value count table (bounded domain) with a
    * running-offset window over THAT small table, range-joined back by
    * index interval — the corpus never globally sorts. The within-source
    * rank window partitions by source.
    */
  private val q184 = Q("q184_quantile_normalize",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("n_chars"))
      val nTotal = docs.agg(count(lit(1)).as("n_total"))
      val wSrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      val wCnt = Window.partitionBy("source")
      val ranked = docs
        .withColumn("p", row_number().over(wSrc).cast("long") - 1)
        .withColumn("n_s", count(lit(1)).over(wCnt))
        .crossJoin(broadcast(nTotal))
        .withColumn("idx", expr("((2*p + 1) * n_total) div (2 * n_s)"))
      val g = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val iv = g.withColumn("cum", sum("cnt").over(wCum))
        .select(col("n_chars").as("norm_chars"),
          (col("cum") - col("cnt")).as("lo"), col("cum").as("hi"))
      ranked.join(broadcast(iv),
          col("idx") >= col("lo") && col("idx") < col("hi"))
        .select("doc_id", "source", "n_chars", "norm_chars")
        .orderBy("doc_id")
    },
    Some("""WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
      nt AS (SELECT COUNT(*) AS n_total FROM docs),
      ranked AS (SELECT doc_id, source, n_chars,
          row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS p,
          COUNT(*) OVER (PARTITION BY source) AS n_s
        FROM docs),
      idxd AS (SELECT doc_id, source, n_chars,
          ((2 * p + 1) * n_total) // (2 * n_s) AS idx
        FROM ranked CROSS JOIN nt),
      g AS (SELECT n_chars, COUNT(*) AS cnt FROM docs GROUP BY n_chars),
      iv AS (SELECT n_chars AS norm_chars,
          SUM(cnt) OVER (ORDER BY n_chars
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS lo,
          SUM(cnt) OVER (ORDER BY n_chars
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        FROM g)
      SELECT doc_id, source, n_chars, norm_chars
      FROM idxd JOIN iv ON idx >= lo AND idx < hi
      ORDER BY doc_id"""))

  /** Embedding outlier screen by distance-to-class-centroid (the
    * corpus-hygiene pass before ANN indexing — mislabeled or corrupt
    * vectors sit far from their label's centroid; the fixture vectors
    * are unit-normalized, so a plain ‖v‖ screen would be degenerate).
    * Centroids are per-(label, dim) means through
    * [[graft.functions.StableAgg]] exact decimal sums
    * (order-independent → partition count can't move a flag); d² to the
    * centroid is the dim-ordered left-to-right reduce (the q25/q26
    * discipline); a vector is flagged iff |d² − μ| > 2σ within its
    * label, with σ > 0 guarding the z division. Scale: centroids are a
    * |labels|·|dims| aggregation (map-side combined) that broadcasts
    * back as a KB-sized array table — one corpus scan for centroids,
    * one for distances, no self-join, no global sort.
    */
  private val q185 = Q("q185_embedding_outliers",
    (s, d) => {
      import graft.functions.StableAgg
      val e = Tables.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val comps = e.select(col("label"),
        posexplode(col("v")).as(Seq("dim", "x")))
      val cent = comps.groupBy("label", "dim")
        .agg(StableAgg.davg(col("x"), 12).as("mu_dim"))
        .groupBy("label")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("mu_dim")))),
          x => x.getField("mu_dim")).as("c"))
      val dists = e.join(broadcast(cent), "label")
        .withColumn("d2", aggregate(
          zip_with(col("v"), col("c"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, x) => acc + x))
      val stats = dists.groupBy("label").agg(
        StableAgg.davg(col("d2"), 12).as("mu"),
        StableAgg.dstdSamp(col("d2")).as("sigma"))
      dists.join(broadcast(stats), "label")
        .filter(col("sigma") > 0d
          && abs(col("d2") - col("mu")) > lit(2.0d) * col("sigma"))
        .select(col("vec_id"), col("label"), col("d2"),
          ((col("d2") - col("mu")) / col("sigma")).as("z"))
        .orderBy("vec_id")
    },
    Some {
      val d2 = "list_reduce(list_transform(range(1, len(v)+1), " +
        "i -> (v[i] - c[CAST(i AS INTEGER)]) * (v[i] - c[CAST(i AS INTEGER)])), " +
        "(a, b) -> a + b)"
      s"""WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      comps AS (SELECT label, CAST(u.i AS BIGINT) - 1 AS dim,
          v[CAST(u.i AS INTEGER)] AS x
        FROM e, unnest(range(1, len(v) + 1)) u(i)),
      cd AS (SELECT label, dim, ${graft.OracleSql.davg("x", 12)} AS mu_dim
        FROM comps GROUP BY label, dim),
      cent AS (SELECT label, list(mu_dim ORDER BY dim) AS c
        FROM cd GROUP BY label),
      dists AS (SELECT vec_id, e.label, $d2 AS d2
        FROM e JOIN cent ON e.label = cent.label),
      stats AS (SELECT label, ${graft.OracleSql.davg("d2", 12)} AS mu,
          ${graft.OracleSql.dstdSamp("d2")} AS sigma
        FROM dists GROUP BY label)
      SELECT vec_id, dists.label, d2, (d2 - mu) / sigma AS z
      FROM dists JOIN stats ON dists.label = stats.label
      WHERE sigma > 0 AND abs(d2 - mu) > 2.0::DOUBLE * sigma
      ORDER BY vec_id"""
    })

  /** Robust outlier detection by MAD (median absolute deviation): per
    * event type, med = exact floor-index median (the engine's
    * [[graft.functions.ExactPercentile]] native aggregate, q9
    * semantics), MAD = median(|x − med|), flag |x − med| > 3·MAD. The
    * robust-statistics complement to the mean/σ screens (q8/q185) —
    * immune to the outliers it hunts. Two aggregation passes by
    * construction (MAD is a median OF deviations FROM a median); each
    * pass is one map-combined shuffle on event_type and the per-type
    * scalars broadcast back, so the corpus is scanned twice and never
    * self-joined.
    */
  private val q186 = Q("q186_mad_outliers",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      graft.operators.Curation.madOutliers(e, "event_type", "value", 3.0)
        .select("event_id", "event_type", "value", "med", "mad")
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT event_id, event_type, value,
          row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
      med AS (SELECT event_type, MAX(CASE WHEN rn =
            CAST(floor(0.5::DOUBLE * (n - 1)) AS BIGINT) THEN value END) AS med
        FROM r GROUP BY event_type),
      dv AS (SELECT event_id, e.event_type, value, med,
          abs(value - med) AS adev
        FROM events e JOIN med ON e.event_type = med.event_type),
      r2 AS (SELECT event_type, adev,
          row_number() OVER (PARTITION BY event_type ORDER BY adev) - 1 AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dv),
      mad AS (SELECT event_type, MAX(CASE WHEN rn =
            CAST(floor(0.5::DOUBLE * (n - 1)) AS BIGINT) THEN adev END) AS mad
        FROM r2 GROUP BY event_type)
      SELECT event_id, dv.event_type, value, dv.med, mad.mad
      FROM dv JOIN mad ON dv.event_type = mad.event_type
      WHERE adev > 3.0::DOUBLE * mad.mad
      ORDER BY event_id"""))

  /** Deterministic audit-sample of the documents table (rate 0.5,
    * salted-digest draw — the q43 discipline). The quadratic exact-pair
    * audits (q188, q194) run on this population; production samples the
    * same way. */
  private[queries] def sampledDocs(s: SparkSession, d: String, salt: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .filter(graft.operators.Sampling.uniform(col("doc_id"), salt) < 0.5d)

  private[queries] def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(
        TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)

  /** All pairs sharing ≥ 1 distinct shingle, with exact overlap and set
    * sizes: (ida < idb, ni = |A∩B|, na, nb). Shingle sets are distinct,
    * so the grouped co-occurrence count IS the intersection size — no
    * array-carrying join. Shared by q188 (Jaccard truth) and q194
    * (containment). */
  private[queries] def pairOverlap(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    ex.select(col("doc_id").as("ida"), col("g"))
      .join(ex.select(col("doc_id").as("idb"), col("g")), "g")
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("ni"))
      .join(sh.select(col("doc_id").as("ida"),
        size(col("sh")).cast("long").as("na")), "ida")
      .join(sh.select(col("doc_id").as("idb"),
        size(col("sh")).cast("long").as("nb")), "idb")
  }

  /** DuckDB mirror of [[sampledDocs]]+[[shingleSets]]+[[pairOverlap]]:
    * CTEs ev (sampled docs), sg (distinct shingles), sz (sizes),
    * po (ida, idb, ni, na, nb). */
  private def duckPairOverlapCtes(salt: String): String =
    s"""ev AS (SELECT doc_id, text FROM documents
        WHERE CAST(${TrainingDataQueries.duckHash32(s"md5('$salt:' || CAST(doc_id AS VARCHAR))")} AS DOUBLE)
          / 4294967296.0 < 0.5::DOUBLE),
      raw AS (SELECT doc_id,
          unnest(${TrainingDataQueries.duckShingles(TrainingDataQueries.duckToks)}) AS g
        FROM ev),
      sg AS (SELECT DISTINCT doc_id, g FROM raw),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sg GROUP BY doc_id),
      po AS (SELECT i.ida, i.idb, i.ni, za.n AS na, zb.n AS nb
        FROM (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS ni
              FROM sg a JOIN sg b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2) i
        JOIN sz za ON i.ida = za.doc_id
        JOIN sz zb ON i.idb = zb.doc_id)"""

  /** Dedup-quality evaluation: the LSH candidate generator (q22's exact
    * banding, via the shared [[TrainingDataQueries.lshPairsFrame]]) is
    * scored against GROUND TRUTH = exact 3-shingle Jaccard ≥ 0.5
    * all-pairs (candidates by shared shingle — complete, since J > 0
    * requires ≥ 1 shared shingle — then exact set verify). One row out:
    * pair counts, TP/FP/FN, precision, recall. This is the harness a
    * curation team runs before trusting a near-dedup config at scale;
    * precision/recall are single integer-ratio divisions
    * (deterministic). Scale: the truth side is the expensive exact join
    * — run at audit SF only (sampled in production); the predicted side
    * is the production-scale LSH path; the comparison is a full-outer
    * join on the pair key.
    */
  private val q188 = Q("q188_dedup_eval",
    (s, d) => {
      // Hash-sampled evaluation population ([[sampledDocs]]): the
      // exact-truth side is quadratic in the population, so production
      // audits it on a deterministic sample; both sides see the SAME
      // population, keeping precision/recall unbiased for it.
      val base = sampledDocs(s, d, "eval")
      val pred = TrainingDataQueries.lshPairsFrameOf(base)
        .withColumn("p", lit(1))
      val truth = pairOverlap(shingleSets(base))
        .filter(col("ni").cast("double") / (col("na") + col("nb") - col("ni")) >= 0.5d)
        .select(col("ida").as("doc_id_a"), col("idb").as("doc_id_b"),
          lit(1).as("t"))
      pred.join(truth, Seq("doc_id_a", "doc_id_b"), "full_outer")
        .agg(
          sum(coalesce(col("p"), lit(0))).as("n_pred"),
          sum(coalesce(col("t"), lit(0))).as("n_truth"),
          sum(when(col("p").isNotNull && col("t").isNotNull, 1).otherwise(0)).as("tp"),
          sum(when(col("p").isNotNull && col("t").isNull, 1).otherwise(0)).as("fp"),
          sum(when(col("p").isNull && col("t").isNotNull, 1).otherwise(0)).as("fn"))
        .select(col("n_pred"), col("n_truth"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"))
    },
    Some(s"""WITH ${duckPairOverlapCtes("eval")},
      ${TrainingDataQueries.duckLshPairsCtesFrom("ev")},
      truth AS (SELECT ida AS doc_id_a, idb AS doc_id_b FROM po
        WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= 0.5::DOUBLE),
      m AS (SELECT
          COALESCE(p.doc_id_a, t.doc_id_a) AS a,
          p.doc_id_a IS NOT NULL AS in_p, t.doc_id_a IS NOT NULL AS in_t
        FROM pairs p FULL OUTER JOIN truth t
          ON p.doc_id_a = t.doc_id_a AND p.doc_id_b = t.doc_id_b)
      SELECT
        CAST(SUM(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
        CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
        CAST(SUM(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CASE WHEN SUM(CASE WHEN in_p THEN 1 ELSE 0 END) > 0 THEN
          CAST(SUM(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN in_p THEN 1 ELSE 0 END) END AS precision,
        CASE WHEN SUM(CASE WHEN in_t THEN 1 ELSE 0 END) > 0 THEN
          CAST(SUM(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN in_t THEN 1 ELSE 0 END) END AS recall
      FROM m"""))

  /** Rendezvous (highest-random-weight) sharding: every document goes to
    * the shard s ∈ 0..7 maximizing hash(s, doc) — coordination-free
    * deterministic placement with the HRW minimal-disruption guarantee:
    * when a shard is removed, ONLY its documents move (asserted by the
    * certificate spec via the emitted `shard_drop3` column, the
    * assignment with shard 3 removed). Hashes are the engine's salted
    * md5→u32 (Sampling/q43 discipline), bit-identical in any engine.
    * Scale: pure per-row scan-local arithmetic — no shuffle, no
    * coordination service, retry-stable; THE placement primitive for
    * 100 TB ingest fan-out.
    */
  private val q189 = Q("q189_rendezvous_shards",
    (s, d) => {
      import graft.operators.Curation.rendezvousShard
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          rendezvousShard(col("doc_id"), 0 until 8).as("shard"),
          rendezvousShard(col("doc_id"),
            (0 until 8).filterNot(_ == 3)).as("shard_drop3"))
        .orderBy("doc_id")
    },
    Some {
      val hv = TrainingDataQueries.duckHash32(
        "md5('shard' || u.i || ':' || CAST(doc_id AS VARCHAR))")
      s"""WITH h AS (SELECT doc_id, CAST(u.i AS BIGINT) AS s, $hv AS hv
        FROM documents, unnest(range(0, 8)) u(i)),
      r AS (SELECT doc_id, s,
          row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) AS rn
        FROM h),
      r3 AS (SELECT doc_id, s,
          row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) AS rn
        FROM h WHERE s <> 3)
      SELECT a.doc_id, a.s AS shard, b.s AS shard_drop3
      FROM (SELECT doc_id, s FROM r WHERE rn = 1) a
      JOIN (SELECT doc_id, s FROM r3 WHERE rn = 1) b ON a.doc_id = b.doc_id
      ORDER BY a.doc_id"""
    })

  /** Cross-source duplication matrix: near-dup candidate pairs (the
    * exact q22 LSH banding, shared helper) rolled up by the UNORDERED
    * source pair of their endpoints — the "who is copying whom"
    * contamination view that decides which corpus pairs need
    * cross-source dedup at all. Scale: pair generation is the
    * production LSH path (band-bucket join, never all-pairs); the
    * rollup is a count on ≤ |sources|² keys with the doc→source map
    * joined in (corpus-sized but equi-join on doc_id).
    */
  private val q190 = Q("q190_cross_source_dup_matrix",
    (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      TrainingDataQueries.lshPairsFrame(s, d)
        .join(src.select(col("doc_id").as("doc_id_a"), col("source").as("sa")), "doc_id_a")
        .join(src.select(col("doc_id").as("doc_id_b"), col("source").as("sb")), "doc_id_b")
        .select(least(col("sa"), col("sb")).as("src_lo"),
          greatest(col("sa"), col("sb")).as("src_hi"))
        .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_lo", "src_hi")
    },
    Some(s"""WITH ${TrainingDataQueries.duckLshPairsCtes}
      SELECT least(da.source, db.source) AS src_lo,
        greatest(da.source, db.source) AS src_hi,
        COUNT(*) AS n_pairs
      FROM pairs p JOIN documents da ON p.doc_id_a = da.doc_id
        JOIN documents db ON p.doc_id_b = db.doc_id
      GROUP BY 1, 2 ORDER BY src_lo, src_hi"""))

  /** Hard-negative mining for embedding training (DPR/Contriever
    * recipe): for each anchor vector, the top-10 most-similar vectors
    * with a DIFFERENT label — near the anchor geometrically, wrong
    * semantically — via exact cosine (the ordered-fold q26 discipline)
    * over one corpus scan with the 5-anchor set broadcast. Scale: this
    * is brute-force per anchor ON PURPOSE at audit SF; the production
    * path swaps the corpus scan for the IVF/LSH index (q34/q27) and
    * keeps the same label-exclusion filter and ranking.
    */
  private val q191 = Q("q191_hard_negatives",
    (s, d) => {
      val e = Tables.fanOut(Tables.embeddings(s, d))
      val anchors = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qvec"))
      val corpus = e.select(col("vec_id").as("id"), col("label"),
        col("embedding").as("vec"))
      val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), asc("id"))
      corpus.join(broadcast(anchors), col("label") =!= col("qlabel"))
        .withColumn("cos_sim",
          graft.operators.Similarity.cosine(
            col("qvec").cast("array<double>"), col("vec").cast("array<double>")))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 10)
        .select("qid", "rank", "id", "label", "cos_sim")
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel,
          embedding AS qvec FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS id, label, embedding AS vec FROM embeddings),
      sim AS (SELECT qid, id, label,
          ${TrainingDataQueries.duckCos("qvec", "vec")} AS cos_sim
        FROM q JOIN c ON c.label <> q.qlabel),
      r AS (SELECT qid, id, label, cos_sim,
          CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos_sim DESC, id) AS INTEGER) AS rank
        FROM sim)
      SELECT qid, rank, id, label, cos_sim FROM r
      WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Sequence-length bucketing / padding-efficiency report: docs are
    * assigned to 16-token buckets (⌈len/16⌉·16, integer arithmetic) and
    * each bucket reports doc count, real tokens, padding waste, and
    * utilization — the batch-shaping decision input for fixed-shape
    * training kernels (padding waste IS wasted FLOPs). Scale: one
    * scan-local bucket assignment + one map-combined aggregation on a
    * handful of bucket keys; utilization is a single integer-ratio
    * division.
    */
  private val q192 = Q("q192_padding_efficiency",
    (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
        .withColumn("bucket", expr("((n_toks + 15) div 16) * 16"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n_docs"),
          sum("n_toks").as("real_tokens"),
          sum(col("bucket") - col("n_toks")).as("padding"))
        .withColumn("utilization",
          col("real_tokens").cast("double") / (col("bucket") * col("n_docs")))
        .orderBy("bucket")
    },
    Some("""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
          AS n_toks FROM documents),
      b AS (SELECT n_toks, ((n_toks + 15) // 16) * 16 AS bucket FROM t)
      SELECT bucket, COUNT(*) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
        CAST(SUM(bucket - n_toks) AS BIGINT) AS padding,
        CAST(SUM(n_toks) AS DOUBLE) / (bucket * COUNT(*)) AS utilization
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Deterministic source-interleaved training order: doc k of source i
    * lands at global position (k−1)·|sources| + idx(i) — strict
    * round-robin over sources with NO global sort: the source→index map
    * is a window over the tiny distinct-source table, broadcast back,
    * and every document's position is then pure scan-local arithmetic.
    * This is the reproducible "epoch order" generator (mixing without a
    * shuffle service); positions are unique by construction and
    * per-source order is doc_id-ascending. Scale: one broadcast join +
    * one per-source window — the corpus never globally sorts, and a
    * writer can range-partition directly on mix_pos.
    */
  private val q193 = Q("q193_interleave_order",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"))
      val wIdx = Window.orderBy("source")
      val smap = docs.select("source").distinct()
        .withColumn("sidx", row_number().over(wIdx).cast("long") - 1)
        .withColumn("n_src",
          count(lit(1)).over(wIdx.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val wSrc = Window.partitionBy("source").orderBy("doc_id")
      docs.withColumn("rn", row_number().over(wSrc).cast("long") - 1)
        .join(broadcast(smap), "source")
        .withColumn("mix_pos", col("rn") * col("n_src") + col("sidx"))
        .select("doc_id", "source", "mix_pos")
        .orderBy("mix_pos")
    },
    Some("""WITH docs AS (SELECT doc_id, source FROM documents),
      smap AS (SELECT source,
          row_number() OVER (ORDER BY source) - 1 AS sidx,
          COUNT(*) OVER () AS n_src
        FROM (SELECT DISTINCT source FROM docs)),
      rn AS (SELECT doc_id, docs.source,
          row_number() OVER (PARTITION BY docs.source ORDER BY doc_id) - 1 AS rn
        FROM docs)
      SELECT doc_id, rn.source, rn.rn * smap.n_src + smap.sidx AS mix_pos
      FROM rn JOIN smap ON rn.source = smap.source
      ORDER BY mix_pos"""))

  /** Asymmetric containment dedup, C(A,B) = |A∩B| / |A| ≥ 0.8 over
    * 3-shingle sets: finds "A is (nearly) a sub-document of B" —
    * quotes, page templates, prepended boilerplate — which symmetric
    * Jaccard (q24/q135) misses whenever |B| ≫ |A|. Both directions are
    * evaluated per candidate pair. Population is the q188 hash sample
    * (the exact candidate join is quadratic; production audits samples
    * and prunes the rest with the one-sided prefix filter). Scale:
    * candidates by shared shingle confine the join to co-occurring
    * docs; the containment arithmetic is integer-ratio division.
    */
  private val q194 = Q("q194_containment_dedup",
    (s, d) => {
      val sized = pairOverlap(shingleSets(sampledDocs(s, d, "cont")))
      val aInB = sized
        .filter(col("ni").cast("double") / col("na") >= 0.8d)
        .select(col("ida").as("inner_doc"), col("idb").as("outer_doc"),
          col("ni"), col("na").as("n_inner"),
          (col("ni").cast("double") / col("na")).as("containment"))
      val bInA = sized
        .filter(col("ni").cast("double") / col("nb") >= 0.8d)
        .select(col("idb").as("inner_doc"), col("ida").as("outer_doc"),
          col("ni"), col("nb").as("n_inner"),
          (col("ni").cast("double") / col("nb")).as("containment"))
      aInB.unionByName(bInA).orderBy("inner_doc", "outer_doc")
    },
    Some(s"""WITH ${duckPairOverlapCtes("cont")},
      sized AS (SELECT ida, idb, ni, na, nb FROM po)
      SELECT * FROM (
        SELECT ida AS inner_doc, idb AS outer_doc, ni, na AS n_inner,
          CAST(ni AS DOUBLE) / na AS containment
        FROM sized WHERE CAST(ni AS DOUBLE) / na >= 0.8::DOUBLE
        UNION ALL
        SELECT idb AS inner_doc, ida AS outer_doc, ni, nb AS n_inner,
          CAST(ni AS DOUBLE) / nb AS containment
        FROM sized WHERE CAST(ni AS DOUBLE) / nb >= 0.8::DOUBLE)
      ORDER BY inner_doc, outer_doc"""))

  /** 10%-trimmed mean per event type — the robust-location complement
    * to q186's MAD spread: drop the lowest and highest ⌊n/10⌋ values by
    * rank (floor arithmetic, exact), average the core through
    * [[graft.functions.StableAgg]] exact decimal sums. Trimmed
    * statistics are what latency dashboards SHOULD aggregate (mean is
    * outlier-hostage, median wastes data). Scale: rank is a window
    * PARTITIONED BY event_type; the trim predicate and the exact-sum
    * agg pipeline into one exchange on the same key.
    */
  private val q195 = Q("q195_trimmed_mean",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      graft.operators.Curation
        .trimmedMean(e, "event_type", "value", "event_id")
        .orderBy("event_type")
    },
    Some(s"""WITH r AS (SELECT event_type, value,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type, COUNT(*) AS n_core,
        ${graft.OracleSql.davg("value")} AS trimmed_mean
      FROM r WHERE rn > n // 10 AND rn <= n - n // 10
      GROUP BY event_type ORDER BY event_type"""))

  /** Bag-of-words canonical dedup key: md5 of the SORTED DISTINCT token
    * set — catches reordered/shuffled duplicates that byte-exact dedup
    * (q20) misses and near-dup (q22) only finds probabilistically;
    * standard as the cheap middle rung of the dedup ladder. Same
    * group-and-keep-min contract as q20. Scale: the key is scan-local
    * (sort of a ≤doc-vocab array per row), then ONE hash-partition
    * groupBy on the 16-byte digest — no pairwise anything.
    */
  private val q196 = Q("q196_bow_dedup_key",
    (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), md5(concat_ws(" ",
          array_sort(array_distinct(TextAnalysis.tokens(col("text"))))))
          .as("bow_hash"))
        .groupBy("bow_hash").agg(
          min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("bow_hash")
    },
    Some("""SELECT md5(array_to_string(list_sort(list_distinct(
          string_split(text, ' '))), ' ')) AS bow_hash,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY bow_hash"""))

  /** Per-domain cap enforcement (the "no domain may exceed N docs"
    * rule of web-corpus recipes): rank within source by quality
    * (n_chars desc, doc_id tie-break), keep rank ≤ 20, report kept /
    * spilled counts and an integer checksum of the kept set. Scale:
    * one window PARTITIONED BY source + one map-combined agg — the cap
    * never needs a global view, and the spill report is what operators
    * actually read before re-tuning caps.
    */
  private val q197 = Q("q197_domain_cap",
    (s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(desc("n_chars"), asc("doc_id"))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rn", row_number().over(w))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= 20, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > 20, 1L).otherwise(0L)).as("n_spilled"),
          sum(when(col("rn") <= 20, col("doc_id")).otherwise(0L)).as("kept_checksum"))
        .orderBy("source")
    },
    Some("""WITH r AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_spilled,
        CAST(SUM(CASE WHEN rn <= 20 THEN doc_id ELSE 0 END) AS BIGINT)
          AS kept_checksum
      FROM r GROUP BY source ORDER BY source"""))

  /** Freshness-decay weighting with EXACT power-of-two half-life
    * weights: age in weeks k ⇒ weight 2⁻ᵏ — a multiply by 2⁻ᵏ is
    * IEEE-EXACT (mantissa untouched), so the weighted sums stay
    * bit-reproducible through [[graft.functions.StableAgg]] where a
    * exp(−λ·age) weighting could never hash-match cross-engine.
    * Per event type: weighted value sum, total weight, and the
    * freshness-weighted mean. Scale: the max-timestamp scalar
    * broadcasts (1 row); weights are scan-local integer shifts; one
    * map-combined exchange on event_type.
    */
  private val q198 = Q("q198_freshness_weights",
    (s, d) => {
      import graft.functions.StableAgg
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          expr("ts_ms div 86400000").as("day"))
      val mx = e.agg(max("day").as("max_day"))
      e.crossJoin(broadcast(mx))
        .withColumn("k", least(expr("(max_day - day) div 7"), lit(30L)))
        .withColumn("wt", lit(1.0d) / expr("shiftleft(1L, cast(k as int))"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          StableAgg.dsum(col("value") * col("wt")).as("wsum"),
          StableAgg.dsum(col("wt"), 12).as("wtot"))
        .withColumn("wmean", col("wsum") / col("wtot"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type, value,
          epoch_ms(ts) // 86400000 AS day FROM events),
      mx AS (SELECT MAX(day) AS max_day FROM e),
      wtd AS (SELECT event_type, value,
          1.0::DOUBLE / (1::BIGINT << CAST(least((max_day - day) // 7, 30) AS INTEGER)) AS wt
        FROM e CROSS JOIN mx)
      SELECT event_type, COUNT(*) AS n,
        ${graft.OracleSql.dsum("value * wt")} AS wsum,
        ${graft.OracleSql.dsum("wt", 12)} AS wtot,
        ${graft.OracleSql.dsum("value * wt")} / ${graft.OracleSql.dsum("wt", 12)} AS wmean
      FROM wtd GROUP BY event_type ORDER BY event_type"""))

  /** Zipf head report: the top-20 corpus tokens with rank and CUMULATIVE
    * corpus share — the first artifact a tokenizer designer reads (how
    * much of the stream do k head types absorb?). Distinct from q125,
    * which scores coverage of a GIVEN vocab; this derives the head from
    * the corpus itself. The cumulative share is an ordered ROWS-frame
    * window over the 20-row head table (integer counts, one division per
    * row — exact). Scale: one map-combined (token → count) exchange with
    * |vocab| keys; the top-k is a TakeOrdered; everything after runs on
    * 20 rows.
    */
  private val q199 = Q("q199_zipf_head",
    (s, d) => {
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val tot = toks.agg(count(lit(1)).as("n_total"))
      val w = Window.orderBy(desc("cnt"), asc("tok"))
      val head20 = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(20)
        .withColumn("rank", row_number().over(w).cast("int"))
        .withColumn("cum_cnt", sum("cnt").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      head20.crossJoin(broadcast(tot))
        .select(col("rank"), col("tok"), col("cnt"),
          (col("cum_cnt").cast("double") / col("n_total")).as("cum_share"))
        .orderBy("rank")
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents),
      tot AS (SELECT COUNT(*) AS n_total FROM toks),
      h AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        ORDER BY cnt DESC, tok LIMIT 20),
      r AS (SELECT tok, cnt,
          CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INTEGER) AS rank,
          SUM(cnt) OVER (ORDER BY cnt DESC, tok
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
        FROM h)
      SELECT rank, tok, cnt, CAST(cum_cnt AS DOUBLE) / n_total AS cum_share
      FROM r CROSS JOIN tot ORDER BY rank"""))

  /** End-to-end curation funnel — the flagship composition: language
    * filter → length band → exact dedup (q20) → bag-of-words dedup
    * (q196) → lexical-diversity floor, emitting the per-stage survivor
    * count and retention fraction that every corpus run reports first.
    * Each stage reuses the corresponding operator family's exact
    * dataflow. Scale: stages compose as one pipeline — two digest
    * groupBys and scan-local filters; nothing quadratic, nothing
    * globally sorted; at 100 TB the funnel report costs one pass plus
    * the two dedup exchanges.
    *
    * Single-pass construction: every stage is a per-row SURVIVAL FLAG
    * (the dedup ranks order survivors-first within their digest
    * partition, so rn = 1 ∧ upstream-alive ⇔ kept), and all six counts
    * come from ONE aggregation — not six actions re-running the prefix.
    */
  private val q200 = Q("q200_curation_funnel",
    (s, d) => {
      import s.implicits._
      val base = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .withColumn("p1", col("lang").isin("en", "de", "fr"))
        .withColumn("p2", col("p1") && size(col("toks")).between(10, 200))
      // dedup-rank among p2 survivors: order puts them first per digest
      val w3 = Window.partitionBy(md5(col("text")))
        .orderBy(col("p2").desc, col("doc_id"))
      val p3d = base.withColumn("p3",
        col("p2") && row_number().over(w3) === 1)
      val w4 = Window.partitionBy(
          md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))))
        .orderBy(col("p3").desc, col("doc_id"))
      val flags = p3d.withColumn("p4",
          col("p3") && row_number().over(w4) === 1)
        .withColumn("p5", col("p4") &&
          size(array_distinct(col("toks"))).cast("double") / size(col("toks")) >= 0.5d)
      val r = flags.agg(
        count(lit(1)).as("c0"),
        sum(when(col("p1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("p2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("p3"), 1L).otherwise(0L)).as("c3"),
        sum(when(col("p4"), 1L).otherwise(0L)).as("c4"),
        sum(when(col("p5"), 1L).otherwise(0L)).as("c5")).head()
      val counts = Seq("0_all", "1_lang", "2_length", "3_exact_dedup",
        "4_bow_dedup", "5_diversity").zipWithIndex
        .map { case (st, i) => st -> r.getLong(i) }
      val n0 = counts.head._2
      s.createDataFrame(counts.map { case (st, n) =>
        (st, n, n.toDouble / n0) }).toDF("stage", "n_docs", "retention")
        .orderBy("stage")
    },
    Some("""WITH s0 AS (SELECT doc_id, lang, text,
          string_split(text, ' ') AS toks FROM documents),
      s1 AS (SELECT * FROM s0 WHERE lang IN ('en', 'de', 'fr')),
      s2 AS (SELECT * FROM s1 WHERE len(toks) BETWEEN 10 AND 200),
      s3 AS (SELECT * FROM (SELECT *, row_number() OVER
          (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM s2)
        WHERE rn = 1),
      s4 AS (SELECT * FROM (SELECT doc_id, lang, text, toks, row_number() OVER
          (PARTITION BY md5(array_to_string(list_sort(list_distinct(toks)), ' '))
           ORDER BY doc_id) AS rn2 FROM s3)
        WHERE rn2 = 1),
      s5 AS (SELECT * FROM s4
        WHERE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.5::DOUBLE),
      c AS (SELECT '0_all' AS stage, COUNT(*) AS n_docs FROM s0
        UNION ALL SELECT '1_lang', COUNT(*) FROM s1
        UNION ALL SELECT '2_length', COUNT(*) FROM s2
        UNION ALL SELECT '3_exact_dedup', COUNT(*) FROM s3
        UNION ALL SELECT '4_bow_dedup', COUNT(*) FROM s4
        UNION ALL SELECT '5_diversity', COUNT(*) FROM s5),
      n0 AS (SELECT n_docs AS base FROM c WHERE stage = '0_all')
      SELECT stage, n_docs, CAST(n_docs AS DOUBLE) / base AS retention
      FROM c CROSS JOIN n0 ORDER BY stage"""))

  /** CUSUM change-point detection per event type: cumulative sum of
    * deviations from the type mean in EVENT-TIME order, reporting the
    * position where |CUSUM| peaks — the classic level-shift detector
    * (Page 1954) for "did this stream's distribution move, and when".
    * Both the mean and every running sum go through
    * [[graft.functions.StableAgg]] exact decimal arithmetic
    * ([[graft.functions.StableAgg.dsumOver]] for the window), so the
    * detected change-point cannot move with partition count or engine.
    * Scale: one broadcast stats row + ONE window partitioned by
    * event_type ordered by (ts, id) — per-type sequential state only,
    * no global sort.
    */
  private val q201 = Q("q201_cusum_changepoint",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), col("ts_ms"))
      graft.operators.Curation
        .cusumChangepoint(e, "event_type", "value", Seq("ts_ms", "event_id"))
        .select(col("event_type"), col("event_id").as("cp_event_id"),
          col("cusum").as("cp_cusum"), col("abs_cusum").as("cp_magnitude"))
        .orderBy("event_type")
    },
    Some {
      val over = "(PARTITION BY event_type ORDER BY epoch_ms(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      s"""WITH stats AS (SELECT event_type,
          ${graft.OracleSql.davg("value")} AS mu
        FROM events GROUP BY event_type),
      j AS (SELECT event_id, e.event_type, value, ts, mu
        FROM events e JOIN stats ON e.event_type = stats.event_type),
      c AS (SELECT event_id, event_type, epoch_ms(ts) AS ts_ms,
          ${graft.OracleSql.dsumOver("value - mu", over)} AS cusum
        FROM j),
      r AS (SELECT event_type, event_id, cusum, abs(cusum) AS abs_cusum,
          row_number() OVER (PARTITION BY event_type
            ORDER BY abs(cusum) DESC, ts_ms, event_id) AS rn
        FROM c)
      SELECT event_type, event_id AS cp_event_id, cusum AS cp_cusum,
        abs_cusum AS cp_magnitude
      FROM r WHERE rn = 1 ORDER BY event_type"""
    })

  private val fdCandidates = Seq(
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem.l_orderkey->l_suppkey", "lineitem", "l_orderkey", "l_suppkey"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"))

  /** Functional-dependency discovery (data profiling beyond q134's
    * per-column stats): for each candidate FD X→Y, count the X-groups
    * whose Y is not unique — zero violations ⇔ the dependency holds.
    * This is the key-inference / normalization-check primitive a
    * pipeline runs before trusting join keys on unfamiliar data. Scale:
    * each FD is one (X, Y)-distinct + one X-group count — map-combined
    * exchanges keyed by X; candidate FDs are metadata-sized, the union
    * is over four scalar rows.
    */
  private val q202 = Q("q202_fd_discovery",
    (s, d) => {
      val frames = fdCandidates.map { case (name, table, lhs, rhs) =>
        val t = table match {
          case "orders"   => Tables.orders(s, d)
          case "lineitem" => Tables.lineitem(s, d)
          case "customer" => Tables.customer(s, d)
        }
        t.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("ndv"))
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("ndv") > 1, 1L).otherwise(0L)).as("n_violating"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
            (col("n_violating") === 0).as("holds"))
      }
      frames.reduce(_ unionByName _).orderBy("fd")
    },
    Some {
      val parts = fdCandidates.map { case (name, table, lhs, rhs) =>
        s"""SELECT '$name' AS fd, COUNT(*) AS n_lhs,
          CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating,
          SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0 AS holds
        FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS ndv
              FROM $table GROUP BY $lhs)"""
      }.mkString("\n      UNION ALL ")
      s"""SELECT * FROM ($parts) ORDER BY fd"""
    })

  /** Merge-on-read upsert compaction (the Delta/Iceberg/Hudi MOR
    * pattern): base snapshot + versioned change log (updates and
    * tombstone deletes, derived deterministically from `orders`)
    * compact to latest-wins-per-key with tombstones dropped — one
    * window PARTITIONED BY the key over the unioned log, which is
    * exactly how a distributed compactor resolves file groups (one
    * hash shuffle on the key, no global sort, no driver state).
    */
  private val q205 = Q("q205_upsert_compaction",
    (s, d) => {
      // the change log has a single owner (LakehouseQueries.changeLog) —
      // q205/q208/q211 are three views over the SAME derivation
      val w = Window.partitionBy("o_orderkey").orderBy(desc("ver"))
      LakehouseQueries.changeLog(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select("o_orderkey", "ver", "price")
        .orderBy("o_orderkey")
    },
    Some(s"""WITH ${LakehouseQueries.duckLogCtes("TRUE")},
      r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
          ORDER BY ver DESC) AS rn FROM log)
      SELECT o_orderkey, CAST(ver AS BIGINT) AS ver, price FROM r
      WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey"""))

  /** Small-file compaction planning (the lakehouse hygiene op at
    * 100 TB: billions of rows, but the FILE LISTING is metadata-scale):
    * simulated files (one per 100-order bucket, weight = row count)
    * ordered size-descending, assigned to bins by cumulative-weight
    * division — the scan-friendly distributed analogue of first-fit-
    * decreasing. The ONLY global window in the registry family runs on
    * the metadata-plane file table (|files| ≪ |rows|; documented), not
    * on data.
    */
  private val q206 = Q("q206_compaction_plan",
    (s, d) => {
      val target = 1000L
      val files = Tables.lineitem(s, d)
        .groupBy((col("l_orderkey") / 100).cast("long").as("file_id"))
        .agg(count(lit(1)).as("bytes"))
      val w = Window.orderBy(desc("bytes"), asc("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files
        .withColumn("cum", sum("bytes").over(w))
        .withColumn("bin", expr(s"(cum - 1) div $target"))
        .groupBy("bin").agg(
          count(lit(1)).as("n_files"),
          sum("bytes").as("tot_bytes"))
        .withColumn("fill", col("tot_bytes").cast("double") / target)
        .orderBy("bin")
    },
    Some("""WITH files AS (SELECT CAST(l_orderkey // 100 AS BIGINT) AS file_id,
          COUNT(*) AS bytes FROM lineitem GROUP BY 1),
      c AS (SELECT file_id, bytes,
          SUM(bytes) OVER (ORDER BY bytes DESC, file_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM files),
      b AS (SELECT CAST((cum - 1) // 1000 AS BIGINT) AS bin, bytes FROM c)
      SELECT bin, COUNT(*) AS n_files,
        CAST(SUM(bytes) AS BIGINT) AS tot_bytes,
        CAST(SUM(bytes) AS DOUBLE) / 1000 AS fill
      FROM b GROUP BY bin ORDER BY bin"""))

  /** Incremental aggregate refresh (materialized-view maintenance):
    * the base aggregate (orders ≢0 mod 10) is MERGED with the delta
    * aggregate (≡0 mod 10) by summing partial states — never
    * re-reading the base data — and the gate asserts the merged result
    * EQUALS a full recompute (the DuckDB oracle recomputes from
    * scratch; hash equality IS the incremental-maintenance proof).
    * Partial sums stay in exact decimal through the merge, so state
    * combination is associative and partition-order-proof — the same
    * property that makes map-side partials correct. Scale: the delta
    * path reads ONLY new data + a |G|-row state table; this is the
    * 100 TB daily-refresh shape.
    */
  private val q207 = Q("q207_incremental_agg_refresh",
    (s, d) => {
      def part(df: DataFrame) = df.groupBy("o_orderpriority").agg(
        sum(col("o_totalprice").cast("decimal(38,6)")).as("dec_sum"),
        count(lit(1)).as("cnt"))
      val o = Tables.orders(s, d)
      val baseAgg = part(o.filter(col("o_orderkey") % 10 =!= 0))
      val deltaAgg = part(o.filter(col("o_orderkey") % 10 === 0))
      baseAgg.unionByName(deltaAgg)
        .groupBy("o_orderpriority").agg(
          sum("dec_sum").as("merged_dec"), sum("cnt").as("n_orders"))
        .select(col("o_orderpriority"),
          col("merged_dec").cast("double").as("revenue"), col("n_orders"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority,
        ${graft.OracleSql.dsum("o_totalprice")} AS revenue,
        COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Streaming keyword tagging — the curation surface crossing the
    * Structured Streaming execution path: documents replayed over a
    * 3-micro-batch MemoryStream, tokenized and broadcast-joined against
    * the dictionary INSIDE the stream (stateless append — the per-batch
    * dataflow is q182's, unchanged), hit rows land in a memory sink,
    * and the post-stream per-doc aggregation must equal the BATCH
    * q182 oracle verbatim: a dropped batch, a duplicate emission, or a
    * broadcast re-resolution bug all break the hash. The driver-side
    * doc collect is the replay HARNESS (a MemoryStream replays rows),
    * not the operator — production replaces it with the file/WebSocket
    * source and keeps the identical in-stream dataflow.
    */
  private val q204 = Q("q204_streaming_tagging",
    (s, d) => {
      import s.implicits._
      val dict = tagDict.toDF("term", "tag")
      val docs = Tables.documents(s, d)
      val docRows = StreamFixtures.docRows(s, d, "q204")
      val mem = StreamGate.memory[(Long, String)](s)
      val src = mem.toDF().toDF("doc_id", "text")
      val hits = tagHits(src, dict)
      // real per-row tag compute: interpreted eval costs more than the recompiles
      val tagged = StreamGate.toMemory(s, hits, "append",
        StreamGate.feed(mem, docRows.grouped(math.max(1, docRows.size / 3))),
        StreamGate.GateConf(keepCodegen = true))
      tagAggregate(tagged, docs)
    },
    Some(tagOracleSql))

  /** Per-source language purity via Gini impurity (1 − Σ p²) — the
    * log-free concentration measure (entropy needs libm `ln`, which no
    * cross-engine hash can gate — the q42 stance): per source, the
    * language mix, its Gini, and the deterministic majority language
    * (max by (count, lang) — tie-safe). The data-quality screen that
    * catches mislabeled or mixed-language sources before they pollute a
    * mixture plan (q141).
    *
    * Scale: two keyed aggregates — (source, lang) counts then a
    * |sources|-row rollup; p² terms are exact per-term IEEE ops and the
    * Σ rides the scale-18 decimal route, so the impurity is
    * partition-order-proof.
    */
  private val q225 = Q("q225_source_purity",
    (s, d) => {
      import graft.functions.{StableAgg => SA}
      val byLang = Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      // window first (per-source totals), THEN aggregate — a window
      // cannot nest inside an aggregate, and both key by source so the
      // exchange is shared anyway
      val withP = byLang
        .withColumn("n_src",
          sum(col("c")).over(Window.partitionBy("source")))
        .withColumn("pr",
          col("c").cast("double") / col("n_src").cast("double"))
      val bySource = withP.groupBy("source")
        .agg(max(col("n_src")).as("n_docs"), count(lit(1)).as("n_langs"),
          max(struct(col("c"), col("lang"))).as("mx"),
          SA.dsum(col("pr") * col("pr"), 18).as("sum_p2"))
      bySource.select(col("source"), col("n_docs"), col("n_langs"),
          col("mx.lang").as("majority_lang"),
          (col("mx.c").cast("double") / col("n_docs").cast("double"))
            .as("majority_share"),
          (lit(1.0d) - col("sum_p2")).as("gini_impurity"))
        .orderBy("source")
    },
    Some(s"""WITH bl AS (SELECT source, lang, COUNT(*) AS c
        FROM documents GROUP BY source, lang),
      p AS (SELECT source, lang, c,
          CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS pr
        FROM bl),
      g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_langs,
          arg_max(lang, printf('%012d|%s', c, lang)) AS majority_lang,
          CAST(MAX(printf('%012d', c)) AS BIGINT) AS mx_c,
          ${graft.OracleSql.dsum("pr * pr", 18)} AS sum_p2
        FROM p GROUP BY source)
      SELECT source, n_docs, n_langs, majority_lang,
        CAST(mx_c AS DOUBLE) / CAST(n_docs AS DOUBLE) AS majority_share,
        1.0::DOUBLE - sum_p2 AS gini_impurity
      FROM g ORDER BY source"""))

  /** Corpus distribution drift between two snapshots (the halves of the
    * corpus by doc_id parity): per-token relative frequencies p (old)
    * and q (new) over the UNION vocabulary, ranked by absolute drift —
    * the token-level report a data-quality monitor emits when a new
    * crawl shifts the distribution. Top-20 by (|p−q| desc, token asc) —
    * a total order, so the cut is deterministic.
    *
    * Scale: one token explode, two conditional aggregates in a single
    * (token)-keyed pass, two 1-row totals broadcast back, and the
    * top-20 compiles to TakeOrderedAndProject — per-partition heaps,
    * |vocab| never sorts globally.
    */
  private val q226 = Q("q226_distribution_drift",
    (s, d) => {
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select((col("doc_id") % 2 === 0).as("is_old"),
          explode(TextAnalysis.tokens(col("text"))).as("t"))
      val counts = toks.groupBy("t").agg(
        sum(when(col("is_old"), 1L).otherwise(0L)).as("c_old"),
        sum(when(!col("is_old"), 1L).otherwise(0L)).as("c_new"))
      val totals = counts.agg(sum(col("c_old")).as("n_old"),
        sum(col("c_new")).as("n_new"))
      counts.crossJoin(broadcast(totals))
        .withColumn("p_old", col("c_old").cast("double") / col("n_old").cast("double"))
        .withColumn("p_new", col("c_new").cast("double") / col("n_new").cast("double"))
        .withColumn("abs_drift", abs(col("p_old") - col("p_new")))
        .select("t", "c_old", "c_new", "p_old", "p_new", "abs_drift")
        .orderBy(col("abs_drift").desc, col("t").asc)
        .limit(20)
    },
    Some("""WITH tk AS (SELECT doc_id % 2 = 0 AS is_old,
          unnest(string_split(text, ' ')) AS t FROM documents),
      c AS (SELECT t,
          CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
          CAST(SUM(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS c_new
        FROM tk GROUP BY t),
      tot AS (SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
          CAST(SUM(c_new) AS BIGINT) AS n_new FROM c),
      x AS (SELECT t, c_old, c_new,
          CAST(c_old AS DOUBLE) / CAST(n_old AS DOUBLE) AS p_old,
          CAST(c_new AS DOUBLE) / CAST(n_new AS DOUBLE) AS p_new
        FROM c CROSS JOIN tot)
      SELECT t, c_old, c_new, p_old, p_new, abs(p_old - p_new) AS abs_drift
      FROM x ORDER BY abs_drift DESC, t LIMIT 20"""))

  /** Gopher REPETITION rules (Rae et al. 2021 §A1.1 — the repetition
    * half of the quality suite; q140 covers the word-count/character
    * rules): per document, the fraction of word 2-grams claimed by the
    * single most frequent 2-gram (tie → lexicographically smallest) and
    * the fraction of word 3-grams that are duplicate occurrences
    * (Σ (c−1) over 3-grams with c > 1). High values flag boilerplate /
    * template spam that the length-based rules can't see.
    *
    * Scale: n-grams explode once per size, counts collapse map-side on
    * (doc_id, gram), the top-1 filter compiles to a per-doc
    * WindowGroupLimit, and the final join keys are all doc_id — the
    * per-doc output is |docs| rows however large the corpus.
    */
  private val q232 = Q("q232_repetition_rules",
    (s, d) => {
      val base = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
      val n = base.select(col("doc_id"), size(col("ts")).as("n_toks"))
      val c2 = base
        .select(col("doc_id"),
          explode(TextAnalysis.shingles(col("ts"), 2)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val wTop = Window.partitionBy("doc_id").orderBy(desc("c"), asc("g"))
      val top2 = c2.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("g").as("top2_gram"),
          col("c").as("top2_count"))
      val d3 = base
        .select(col("doc_id"),
          explode(TextAnalysis.shingles(col("ts"), 3)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
          .as("dup3_extra"))
      n.join(top2, Seq("doc_id"), "left")
        .join(d3, Seq("doc_id"), "left")
        .na.fill(0L, Seq("top2_count", "dup3_extra"))
        .withColumn("top2_frac",
          when(col("n_toks") >= 2,
            col("top2_count").cast("double") / (col("n_toks") - 1))
            .otherwise(0.0d))
        .withColumn("dup3_frac",
          when(col("n_toks") >= 3,
            col("dup3_extra").cast("double") / (col("n_toks") - 2))
            .otherwise(0.0d))
        .select("doc_id", "n_toks", "top2_gram", "top2_count", "top2_frac",
          "dup3_extra", "dup3_frac")
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
          FROM documents),
      n AS (SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_toks FROM toks),
      g2 AS (SELECT doc_id, ts[CAST(u.i AS INTEGER)] || ' ' ||
            ts[CAST(u.i + 1 AS INTEGER)] AS g
        FROM toks, unnest(range(1, greatest(len(ts) - 1, 0) + 1)) u(i)),
      c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
      t2 AS (SELECT doc_id, g AS top2_gram, CAST(c AS BIGINT) AS top2_count
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY c DESC, g) AS rn FROM c2)
        WHERE rn = 1),
      g3 AS (SELECT doc_id, ts[CAST(u.i AS INTEGER)] || ' ' ||
            ts[CAST(u.i + 1 AS INTEGER)] || ' ' ||
            ts[CAST(u.i + 2 AS INTEGER)] AS g
        FROM toks, unnest(range(1, greatest(len(ts) - 2, 0) + 1)) u(i)),
      c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
      d3 AS (SELECT doc_id,
          CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
            AS dup3_extra
        FROM c3 GROUP BY 1)
      SELECT n.doc_id, n.n_toks, t2.top2_gram,
        COALESCE(t2.top2_count, 0) AS top2_count,
        CASE WHEN n.n_toks >= 2 THEN
          CAST(COALESCE(t2.top2_count, 0) AS DOUBLE) / (n.n_toks - 1)
        ELSE 0.0::DOUBLE END AS top2_frac,
        COALESCE(d3.dup3_extra, 0) AS dup3_extra,
        CASE WHEN n.n_toks >= 3 THEN
          CAST(COALESCE(d3.dup3_extra, 0) AS DOUBLE) / (n.n_toks - 2)
        ELSE 0.0::DOUBLE END AS dup3_frac
      FROM n LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
      ORDER BY doc_id"""))

  /** URL canonicalization + host-level duplicate grouping — the crawl-
    * side dedup key every web-corpus pipeline computes before any
    * content hash (Common Crawl dedups by canonical URL first): parse
    * scheme/host/path/query/fragment with shared-dialect regexes, then
    * lowercase scheme+host, strip the default port and `www.`, drop the
    * fragment, resolve `segment/..` path climbs (bounded depth 2 —
    * documented; crawl frontiers normalize deeper paths at fetch time),
    * drop `utm_*` tracking parameters, and SORT the surviving query
    * parameters. Docs whose raw URLs differ only in case/port/tracking/
    * param-order collapse to one canonical group. The raw URLs are
    * synthesized deterministically from (source, doc_id) — the fixture
    * carries no URL column — with every rule exercised by construction.
    *
    * Scale: pure scan-local string work (regex + split/sort of ≤ 3
    * params) followed by one hash-partitioned groupBy on the canonical
    * key; identical shape at crawl scale.
    */
  private val q252 = Q("q252_url_canonical_dedup",
    (s, d) => {
      val raw = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/Dir"), pmod(col("doc_id"), lit(7)),
        lit("/../p"), pmod(col("doc_id"), lit(13)),
        lit("?utm_src=crawl&b="), pmod(col("doc_id"), lit(3)),
        lit("&a="), pmod(col("doc_id"), lit(5)), lit("#sec"))
      val parts = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), raw.as("raw_url"))
        .withColumn("scheme", lower(regexp_extract(col("raw_url"), "^([A-Za-z]+)://", 1)))
        .withColumn("host",
          regexp_replace(regexp_replace(
            lower(regexp_extract(col("raw_url"), "^[A-Za-z]+://([^/?#]+)", 1)),
            ":443$", ""), "^www\\.", ""))
        .withColumn("path0",
          regexp_extract(col("raw_url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1))
        .withColumn("path",
          regexp_replace(regexp_replace(col("path0"),
            "/[^/]+/\\.\\./", "/"), "/[^/]+/\\.\\./", "/"))
        .withColumn("qsorted",
          array_join(array_sort(filter(
            split(regexp_extract(col("raw_url"), "\\?([^#]*)", 1), "&"),
            x => !x.startsWith("utm_"))), "&"))
      parts
        .withColumn("canonical_url",
          concat(col("scheme"), lit("://"), col("host"), col("path"),
            when(col("qsorted") === "", lit("")).otherwise(concat(lit("?"), col("qsorted")))))
        .groupBy("canonical_url", "host")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc_id"))
        .orderBy("canonical_url")
    },
    Some("""WITH raw AS (SELECT doc_id,
          'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Dir'
            || CAST(doc_id % 7 AS VARCHAR) || '/../p'
            || CAST(doc_id % 13 AS VARCHAR) || '?utm_src=crawl&b='
            || CAST(doc_id % 3 AS VARCHAR) || '&a='
            || CAST(doc_id % 5 AS VARCHAR) || '#sec' AS raw_url
        FROM documents),
      parts AS (SELECT doc_id,
          lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1)) AS scheme,
          regexp_replace(regexp_replace(
            lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]+)', 1)),
            ':443$', ''), '^www\.', '') AS host,
          regexp_replace(regexp_replace(
            regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
            '/[^/]+/\.\./', '/'), '/[^/]+/\.\./', '/') AS path,
          array_to_string(list_sort(list_filter(
            string_split(regexp_extract(raw_url, '\?([^#]*)', 1), '&'),
            x -> NOT starts_with(x, 'utm_'))), '&') AS qsorted
        FROM raw),
      canon AS (SELECT doc_id, host,
          scheme || '://' || host || path ||
            (CASE WHEN qsorted = '' THEN '' ELSE '?' || qsorted END)
            AS canonical_url
        FROM parts)
      SELECT canonical_url, host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN(doc_id) AS keeper_doc_id
      FROM canon GROUP BY 1, 2 ORDER BY canonical_url"""))

  /** Weak supervision by majority vote (the Snorkel labeling-function
    * model in its deterministic majority flavor): four labeling
    * functions — language, length, keyword presence, source parity —
    * each vote +1 / −1 / 0 (abstain) per document; the label is the
    * vote-sum's sign (ties and all-abstain → abstain), confidence is
    * |sum| over non-abstaining votes. LF agreement/conflict counts per
    * document are what a label-model diagnostic reads before training
    * on the programmatic labels.
    *
    * Scale: labeling functions are scan-local boolean/arithmetic
    * columns — the entire labeling pass is one projection, no shuffle
    * until the (optional) per-label census; adding an LF is adding a
    * column.
    */
  private val q267 = Q("q267_weak_supervision",
    (s, d) => {
      val v1 = when(col("lang") === "en", 1L).otherwise(0L)
      val v2 = when(col("n_chars") > 250L, 1L).otherwise(-1L)
      val v3 = when(col("text").contains("data"), 1L).otherwise(-1L)
      val v4 = when(
        expr("try_cast(substr(source, 4) AS BIGINT)") % 2 === 0, 1L)
        .otherwise(-1L)
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), v1.as("v1"), v2.as("v2"), v3.as("v3"), v4.as("v4"))
        .withColumn("vote_sum", col("v1") + col("v2") + col("v3") + col("v4"))
        .withColumn("n_voting",
          when(col("v1") =!= 0L, 1L).otherwise(0L) +
            when(col("v2") =!= 0L, 1L).otherwise(0L) +
            when(col("v3") =!= 0L, 1L).otherwise(0L) +
            when(col("v4") =!= 0L, 1L).otherwise(0L))
        .withColumn("label",
          when(col("vote_sum") > 0L, lit("keep"))
            .when(col("vote_sum") < 0L, lit("drop"))
            .otherwise(lit("abstain")))
        .withColumn("confidence",
          when(col("n_voting") === 0L, lit(0.0d))
            .otherwise(abs(col("vote_sum")).cast("double")
              / col("n_voting").cast("double")))
        .select("doc_id", "vote_sum", "n_voting", "label", "confidence")
        .orderBy("doc_id")
    },
    Some("""WITH v AS (SELECT doc_id,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS v1,
          CASE WHEN n_chars > 250 THEN 1 ELSE -1 END AS v2,
          CASE WHEN contains(text, 'data') THEN 1 ELSE -1 END AS v3,
          CASE WHEN TRY_CAST(substr(source, 4) AS BIGINT) % 2 = 0
            THEN 1 ELSE -1 END AS v4
        FROM documents),
      t AS (SELECT doc_id,
          CAST(v1 + v2 + v3 + v4 AS BIGINT) AS vote_sum,
          CAST((CASE WHEN v1 <> 0 THEN 1 ELSE 0 END)
            + (CASE WHEN v2 <> 0 THEN 1 ELSE 0 END)
            + (CASE WHEN v3 <> 0 THEN 1 ELSE 0 END)
            + (CASE WHEN v4 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_voting
        FROM v)
      SELECT doc_id, vote_sum, n_voting,
        CASE WHEN vote_sum > 0 THEN 'keep'
             WHEN vote_sum < 0 THEN 'drop' ELSE 'abstain' END AS label,
        CASE WHEN n_voting = 0 THEN 0.0::DOUBLE
             ELSE CAST(abs(vote_sum) AS DOUBLE) / CAST(n_voting AS DOUBLE)
        END AS confidence
      FROM t ORDER BY doc_id"""))

  /** Text canonicalization for dedup keys — the normalization pass that
    * runs BEFORE any content hash (q20's md5, q21's shingles) so that
    * trivially-variant copies collide: casefold, accent stripping
    * (NFD-equivalent for the Latin-1 set via `translate` — codegen'd;
    * a full-Unicode `Normalizer` expression is the upgrade path),
    * punctuation removal, and whitespace collapse+trim. The fixture
    * text is mutated deterministically (case flips, injected accents,
    * doubled spaces, punctuation) so every rule is exercised, and docs
    * must regroup with their unmutated twins: the gate counts the
    * mutated corpus's canonical groups against the original text's
    * distinct count.
    *
    * Scale: four codegen'd string functions, scan-local; the canonical
    * key feeds the same hash-partition dedup as q20 with zero extra
    * shuffle.
    */
  private val q278 = Q("q278_text_canonical_key",
    (s, d) => {
      // deterministic mutation: shout-case (mod 4 = 0), accent injection
      // (mod 4 = 1), doubled spaces + punctuation (mod 4 = 2), raw
      val mutated = when(pmod(col("doc_id"), lit(4)) === 0, upper(col("text")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          translate(col("text"), "aeiou", "áéíóú"))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(regexp_replace(col("text"), " ", "  "), lit("!!")))
        .otherwise(col("text"))
      def canon(c: org.apache.spark.sql.Column) =
        trim(regexp_replace(regexp_replace(
          translate(lower(c), "áéíóú", "aeiou"),
          "[!?.,;:]", ""), "\\s+", " "))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("text"), mutated.as("mut"))
        .withColumn("ckey", canon(col("mut")))
        .groupBy("ckey")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
          sum(when(col("mut") =!= col("text"), 1L).otherwise(0L)).as("n_mutated"))
        .orderBy("ckey")
    },
    Some("""WITH m AS (SELECT doc_id, text,
          CASE WHEN doc_id % 4 = 0 THEN upper(text)
               WHEN doc_id % 4 = 1
                 THEN translate(text, 'aeiou', 'áéíóú')
               WHEN doc_id % 4 = 2
                 THEN regexp_replace(text, ' ', '  ', 'g') || '!!'
               ELSE text END AS mut
        FROM documents),
      c AS (SELECT doc_id, text, mut,
          trim(regexp_replace(regexp_replace(
            translate(lower(mut), 'áéíóú', 'aeiou'),
            '[!?.,;:]', '', 'g'), '\s+', ' ', 'g')) AS ckey
        FROM m)
      SELECT ckey, CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN(doc_id) AS keeper,
        CAST(SUM(CASE WHEN mut <> text THEN 1 ELSE 0 END) AS BIGINT)
          AS n_mutated
      FROM c GROUP BY ckey ORDER BY ckey"""))

  /** Probability-calibration bins (the reliability diagram as a query):
    * a scored classifier's predictions are bucketed by predicted
    * probability decile and each bin compares mean predicted
    * probability against the empirical positive rate — the
    * miscalibration evidence that decides whether scores need
    * temperature scaling before they gate data selection. Predictions
    * and outcomes are salted-digest synthesized (outcome rate rises
    * with predicted prob by construction, so bins are non-trivially
    * populated and imperfectly calibrated); everything is exact count
    * arithmetic plus one division per bin statistic.
    *
    * Scale: scan-local scoring, one 10-key aggregate — model-quality
    * monitoring at corpus scale is one pass.
    */
  private val q279 = Q("q279_calibration_bins",
    (s, d) => {
      import graft.operators.Sampling
      val p = Sampling.uniform(col("doc_id"), "calib_p")
      val u = Sampling.uniform(col("doc_id"), "calib_y")
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), p.as("p"), u.as("u"))
        // outcome ~ Bernoulli(0.2 + 0.6·p): monotone in p, miscalibrated
        .withColumn("y", when(col("u") < lit(0.2d) + lit(0.6d) * col("p"), 1L)
          .otherwise(0L))
        .withColumn("bin", least(floor(col("p") * 10).cast("long"), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(col("y")).as("n_pos"),
          (graft.functions.StableAgg.dsum(col("p"), 12) / count(lit(1)))
            .as("mean_pred"),
          (sum(col("y")).cast("double") / count(lit(1)).cast("double"))
            .as("empirical_rate"))
        .withColumn("gap", col("mean_pred") - col("empirical_rate"))
        .orderBy("bin")
    },
    Some {
      val p = s"(${TrainingDataQueries.duckHash32("md5('calib_p:' || CAST(doc_id AS VARCHAR))")}) / 4294967296.0::DOUBLE"
      val u = s"(${TrainingDataQueries.duckHash32("md5('calib_y:' || CAST(doc_id AS VARCHAR))")}) / 4294967296.0::DOUBLE"
      s"""WITH s AS (SELECT doc_id, $p AS p, $u AS u FROM documents),
        t AS (SELECT doc_id, p,
            CASE WHEN u < 0.2::DOUBLE + 0.6::DOUBLE * p THEN 1 ELSE 0 END AS y,
            least(CAST(floor(p * 10) AS BIGINT), 9) AS bin
          FROM s)
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(y) AS BIGINT) AS n_pos,
        ${graft.OracleSql.dsum("p", 12)} / COUNT(*) AS mean_pred,
        CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS empirical_rate,
        ${graft.OracleSql.dsum("p", 12)} / COUNT(*)
          - CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS gap
      FROM t GROUP BY bin ORDER BY bin"""
    })

  /** Water-filling token-budget allocation — the EXACT mixture solve
    * behind "cap the biggest domains so the corpus fits the budget":
    * given per-domain token counts t_d and a global budget B (here 80 %
    * of total), find the unique integer level c with
    * Σ_d min(t_d, c) ≤ B < Σ_d min(t_d, c+1); domains under the level
    * keep everything, domains above are capped at c. q197 enforces a
    * FIXED per-domain cap and q141/q179 REWEIGHT by temperature — this
    * is the third recipe primitive, where the cap itself is solved from
    * the budget. Closed form on the asc-sorted domain table: the level
    * lies in the first segment i where p_{i−1} + t_i·(n−i+1) ≥ B, and
    * c = ⌊(B − p_{i−1}) / (n−i+1)⌋ — all integer arithmetic, so the gate
    * hashes exactly.
    *
    * Scale: the ONLY corpus-touching work is the per-domain token count
    * (map-combined, one exchange on the domain key); everything after —
    * the sort, the prefix sums, the segment scan — runs on |domains|
    * rows, a metadata-scale frame (the single-partition window is over
    * that table, not the corpus). The budget and level ride 1-row
    * broadcast crossJoins (q141's device, BNLJ-allowlisted).
    */
  private val q317 = Q("q317_waterfill_budget",
    (s, d) => {
      // ONE corpus scan: the per-domain token count is the only
      // corpus-touching job; localCheckpoint pins its |domains|-row
      // result so the budget/level/final branches below never re-derive
      // it (without this the lineage re-scans documents once per
      // crossJoin branch — 4 scans for a 5-row table).
      val t = Tables.fanOut(Tables.documents(s, d))
        .select(col("lang"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
        .groupBy("lang").agg(sum(col("n")).as("toks"))
        .localCheckpoint()
      val tot = t.agg(sum(col("toks")).as("tt"), count(lit(1)).as("nd"))
        .select(expr("tt * 4 div 5").as("budget"), col("nd"))
      // |domains|-row frame from here down: metadata scale by design
      val w = Window.orderBy("toks", "lang")
      val seg = t.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(w))
        .withColumn("pfx",
          coalesce(sum(col("toks")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("cand",
          when(col("pfx") + col("toks") * (col("nd") - col("i") + 1) >= col("budget"),
            expr("(budget - pfx) div (nd - i + 1)")))
      // first qualifying segment holds the level (B < T ⇒ nonempty);
      // min(struct(i, cand)) picks it without a second sort
      val level = seg.filter(col("cand").isNotNull)
        .agg(min(struct(col("i"), col("cand"))).as("m"))
        .select(col("m.cand").as("level"))
      seg.crossJoin(broadcast(level))
        .select(col("lang"), col("toks"), col("budget"), col("level"),
          least(col("toks"), col("level")).as("allocated"),
          (col("toks") > col("level")).as("capped"))
        .orderBy("lang")
    },
    Some("""WITH t AS (SELECT lang,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY lang),
      tot AS (SELECT CAST(SUM(toks) * 4 // 5 AS BIGINT) AS budget,
          COUNT(*) AS nd FROM t),
      seg AS (SELECT lang, toks, budget, nd,
          row_number() OVER (ORDER BY toks, lang) AS i,
          COALESCE(SUM(toks) OVER (ORDER BY toks, lang
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
        FROM t CROSS JOIN tot),
      cands AS (SELECT i, (budget - pfx) // (nd - i + 1) AS cand FROM seg
        WHERE pfx + toks * (nd - i + 1) >= budget),
      lvl AS (SELECT CAST(cand AS BIGINT) AS level FROM cands
        ORDER BY i LIMIT 1)
      SELECT lang, toks, budget, level,
        CAST(least(toks, level) AS BIGINT) AS allocated,
        toks > level AS capped
      FROM seg CROSS JOIN lvl ORDER BY lang"""))

  /** ONLINE per-source token-quota admission — the ENFORCEMENT half of
    * the budget family, run at ingest: q56 selects under a budget in
    * QUALITY order (a ranking decision a nightly batch makes), q317
    * SOLVES the cap from a global budget; this gate applies a per-source
    * cap to a LIVE stream in ARRIVAL order — "take each source's
    * documents as they arrive until its quota line is crossed", the
    * admission-control shape a continuously-crawling corpus needs
    * (reference src/app.py's always-on posture, same as q318's
    * decontamination twin). Each micro-batch joins its in-batch
    * running token sums against ONE |sources|-row state frame (tokens
    * arrived before this batch), decides admitted = cumulative ≤ cap,
    * and writes decisions + updated state to batchId-versioned parquet
    * (q154/q304's idempotent replay discipline: a retried batch re-reads
    * state b−1 and overwrites the same outputs). The replay feeds global
    * doc_id order, so batch boundaries respect arrival order and the
    * decision stream must reproduce the whole-corpus prefix-sum oracle
    * bit-for-bit — a dropped batch, a doubled batch, or any state drift
    * breaks the hash; the certificate separately pins online == batch.
    *
    * Scale: the stateful footprint is |sources| rows per version — the
    * per-batch work is one token count over the batch plus a broadcast-
    * sized join, and NO corpus-sized state ever accumulates (the q304
    * "one row per key" state shape, applied to quota ledgers). At
    * 100 TB/day of crawl the quota ledger is still KB. The in-batch
    * cumsum window partitions by source, so one source dominating a
    * batch serializes ITS prefix sum onto one task — the q108-measured
    * streaming hot-key shape; the deployed mitigation is q303/q304's
    * time-chunk split (lag-free here: a running SUM decomposes over
    * chunks with a per-chunk offset join), worth it only once a single
    * source's per-batch mass × per-row cost nears the batch wall.
    */
  private val q320 = Q("q320_streaming_token_quota",
    (s, d) => {
      import s.implicits._
      val Cap = 500L
      val rows: Seq[(Long, String, String)] =
        StreamFixtures.replayRows("q320", d) {
          Tables.documents(s, d).select("doc_id", "source", "text")
            .orderBy("doc_id").collect().iterator
            .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        }
      val dir = StreamGate.scratch("q320")
      val outRoot = new java.io.File(dir, "out").getPath
      val stateRoot = new java.io.File(dir, "state").getPath
      val mem = StreamGate.memory[(Long, String, String)](s, Some(8))
      val src = mem.toDF().toDF("doc_id", "source", "text")
      StreamGate.replay(s, src, StreamGate.feed(mem, StreamGate.inChunks(rows, 3))) {
        _.outputMode("append")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val ss = batch.sparkSession
            val prev =
              if (id == 0)
                ss.createDataFrame(
                  ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("source",
                      org.apache.spark.sql.types.StringType),
                    org.apache.spark.sql.types.StructField("arrived",
                      org.apache.spark.sql.types.LongType))))
              else ss.read.parquet(s"$stateRoot/batch=${id - 1}")
            val toks = batch.select(col("doc_id"), col("source"),
              size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
            val w = Window.partitionBy("source").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, 0)
            toks.withColumn("in_batch_cum", sum(col("n_toks")).over(w))
              .join(prev, Seq("source"), "left")
              .withColumn("cum_toks",
                coalesce(col("arrived"), lit(0L)) + col("in_batch_cum"))
              .withColumn("admitted", col("cum_toks") <= Cap)
              .select("doc_id", "source", "n_toks", "cum_toks", "admitted")
              .write.mode("overwrite").parquet(s"$outRoot/batch=$id")
            // next state: absent sources carry, arrivals add their batch
            // mass (the quota counts ARRIVED tokens — cutoff semantics,
            // q56's device — so admission never reopens after the line)
            prev.join(toks.groupBy("source").agg(sum("n_toks").as("b_toks")),
                Seq("source"), "full_outer")
              .select(col("source"),
                (coalesce(col("arrived"), lit(0L))
                  + coalesce(col("b_toks"), lit(0L))).as("arrived"))
              .write.mode("overwrite").parquet(s"$stateRoot/batch=$id")
          }
      }
      s.read.parquet(outRoot)
        .select("doc_id", "source", "n_toks", "cum_toks", "admitted")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents),
      c AS (SELECT doc_id, source, n_toks,
          CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_toks
        FROM t)
      SELECT doc_id, source, n_toks, cum_toks,
        cum_toks <= 500 AS admitted
      FROM c ORDER BY doc_id"""))

  override val all: Seq[Q] = Seq(q177, q178, q179, q180, q181, q182, q183,
    q184, q185, q186, q188, q189, q190, q191, q192, q193, q194, q195, q196,
    q197, q198, q199, q200, q201, q202, q204, q205, q206, q207, q225, q226,
    q232, q252, q267, q278, q279, q317, q320)
}
