package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Certificates for the round-15 optimization changes: invariants the
  * row-value oracles cannot state (NULL edge cases the fixtures never
  * exercise, and plan shapes the post-checkpoint PlanAudit golden cannot
  * see).
  */
class Round15CertificatesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q156 dedupe-first count matches COUNT(DISTINCT) on NULL user_ids") {
    // The r14 rewrite counted distinct (event_type, user_id) PAIRS with
    // count(1), which would have counted a NULL-user row that
    // COUNT(DISTINCT user_id) excludes — green only because the fixture
    // has no NULL user_ids. r15 counts count(user_id) over the deduped
    // pairs; this pins the parity on an input that HAS the NULL.
    val ev = Seq(
      ("click", Option(1L)), ("click", Option(1L)), ("click", Option(2L)),
      ("click", None), ("view", None), ("view", Option(7L))
    ).toDF("event_type", "user_id")
    val dedupeFirst = ev
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type")
      .agg(count(col("user_id")).as("n_exact"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    assert(dedupeFirst.orderBy("event_type").collect().toSeq ==
      exact.orderBy("event_type").collect().toSeq,
      "dedupe-first count(user_id) diverged from COUNT(DISTINCT user_id)")
    // and the interesting row really exercised the NULL path
    val n = dedupeFirst.filter(col("event_type") === "view")
      .select("n_exact").as[Long].head()
    assert(n == 1L, s"view group should count 1 non-null distinct user, got $n")
  }

  test("graph edge builds stay UNION ALL — no |E| dedup above the symmetrization") {
    // r14 removed a no-op full-edge-list shuffle+dedup from q116's edge
    // build (the two union legs live in provably disjoint even/odd
    // namespaces). The audited q116 plan is post-localCheckpoint (an RDD
    // scan), so this is the pin that fails if a `.distinct()` returns
    // above the union in either edge constructor.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
    def assertUnionIsTop(nm: String, df: org.apache.spark.sql.DataFrame): Unit = {
      var cur: LogicalPlan = df.queryExecution.optimizedPlan
      val benign = Set("Project")
      while (!cur.isInstanceOf[Union]) {
        assert(benign.contains(cur.nodeName),
          s"$nm: ${cur.nodeName} sits above the symmetrization union — " +
            "a dedup/shuffle was reintroduced on the |E| edge list")
        assert(cur.children.size == 1, s"$nm: unexpected plan shape")
        cur = cur.children.head
      }
      // both legs present: the union must have exactly 2 children
      assert(cur.children.size == 2, s"$nm: union has ${cur.children.size} legs")
    }
    assertUnionIsTop("q116 pagerankEdges", ExtendedQueries.pagerankEdges(spark, sf))
    assertUnionIsTop("tradeGraph", FrontierQueries.tradeGraph(spark, sf))
  }

  test("q134/q293 dedupe-first distinct counts equal COUNT(DISTINCT) per column") {
    // The r15 profile rewrites count distinct values as distinct
    // (col_name, value-string) pairs. Parity needs the cast to tell apart
    // exactly the values COUNT(DISTINCT) does AND NULLs excluded — pinned
    // here on a frame with NULLs, duplicate values, values equal across
    // columns (long 1 vs string "1" must not merge across col_name), and
    // the DOUBLE values a plain cast splits: -0.0 vs 0.0, and NaN.
    val d1 = Option(java.sql.Date.valueOf("2024-01-01"))
    val df = Seq(
      (Option(1L), Option("1"), d1, Option(0.0d)),
      (Option(1L), Option("1.0"), None, Option(-0.0d)),
      (None, Option("x"), d1, Option(Double.NaN)),
      (Option(10L), None, Option(java.sql.Date.valueOf("2024-02-01")), None),
      (None, None, None, Option(Double.NaN)),
      (None, None, None, Option(2.5d))
    ).toDF("a", "b", "dt", "x")
    val cols = Seq("a", "b", "dt", "x")
    val dist = TrainingDataQueries.distinctCounts(df, cols)
      .orderBy("col_name").as[(String, Long)].collect().toSeq
    val expected = cols.sorted.map { c =>
      c -> df.agg(countDistinct(col(c))).as[Long].head()
    }
    assert(dist == expected,
      s"dedupe-first per-column distinct diverged: $dist vs $expected")
    // the double column really exercised the signed-zero/NaN path:
    // {0.0 = -0.0, NaN, 2.5}
    assert(expected.toMap.apply("x") == 3L, s"x distinct count: $expected")
  }
}
