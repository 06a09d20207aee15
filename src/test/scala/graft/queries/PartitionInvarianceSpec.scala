package graft.queries

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

import graft.{SparkEntry, SparkSpec}
import graft.tools.PlanAudit

/** Registry results must not depend on the shuffle-partition count (the
  * session sets it to the core count, so a host with other cores would
  * otherwise get other answers). Each run goes through a session clone
  * with its own `spark.sql.shuffle.partitions`, AQE on as in every graft
  * session. */
class PartitionInvarianceSpec extends SparkSpec {

  private val sf = PlanAudit.invariantSf

  private def withPartitions(n: Int): SparkSession = {
    val c = SessionBridge.cloneSession(spark)
    c.conf.set("spark.sql.shuffle.partitions", n.toString)
    c
  }

  test("q237 splits its skewed join partition on a 2-partition session") {
    val rows = SparkEntry.queries("q237_aqe_skew_join")(withPartitions(2), sf).collect()
    assert(rows.nonEmpty)
  }

  /** One value as text that keeps its exact bytes: doubles and floats by
    * raw bits, so -0.0 and every NaN payload stay distinct; decimals with
    * their scale. Array order counts; map entries are compared as a set. */
  private def exact(v: Any): String = v match {
    case null => "null"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case b: java.math.BigDecimal => s"n${b.unscaledValue}e${b.scale}"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(exact).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => exact(k) + "->" + exact(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(exact).mkString("[", ",", "]")
    case o => s"${o.getClass.getSimpleName}:$o"
  }

  /** A query's schema and its rows as a sorted multiset of exact texts. */
  private def result(s: SparkSession, name: String): (String, Seq[String]) = {
    val df = SparkEntry.queries(name)(s, sf)
    (df.schema.simpleString, df.collect().toSeq.map(exact).sorted)
  }

  // Batch queries only: the streaming gates pin their own state
  // partitions, and q237/q254 assert their own AQE rewrites.
  private val sampled = Seq(
    "q1_pricing_summary", "q5_topk_orders", "q6_revenue_by_nation",
    "q9_exact_percentiles", "q16_normalize_books5", "q17_normalize_trades",
    "q18_semi_anti_customers", "q19_rollup_sales", "q20_dedup_exact",
    "q35_asof_join", "q36_session_windows", "q41_dedup_keep_best",
    "q49_skew_salted_join", "q66_ohlc_bars", "q74_rank_suite",
    "q89_topk_per_group", "q117_triangle_count", "q130_grouping_sets",
    "q219_range_join_rewrite", "q253_interval_union")

  test("20 sampled batch queries give the same bytes at shuffle partitions 1 and 7") {
    val differing = for {
      name <- sampled
      base = result(spark, name)
      n <- Seq(1, 7)
      if result(withPartitions(n), name) != base
    } yield s"$name@$n"
    assert(differing.isEmpty, differing)
  }
}
