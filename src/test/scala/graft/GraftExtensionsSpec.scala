package graft

import graft.SparkSpec

/** The native expression library resolves from plain SQL text via
  * spark.sql.extensions=graft.GraftExtensions (wired in GraftSession).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("parse_okx_frame resolves and normalizes from SQL text") {
    val rows = spark.sql(
      """SELECT evt.symbol, evt.ts_exchange_ms, evt.trade.price
        |FROM (SELECT explode(parse_okx_frame(
        |  '{"arg":{"channel":"trades","instId":"BTC-USDT"},
        |    "data":[{"ts":"17","px":"9.5","sz":"1.0","side":"buy"}]}')) AS evt)
        |""".stripMargin.replace("\n", " ")).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "BTC-USDT")
    assert(rows.head.getLong(1) == 17L)
    assert(rows.head.getDouble(2) == 9.5)
  }

  test("minhash_sigs and py_double_repr resolve from SQL text") {
    val r = spark.sql(
      "SELECT minhash_sigs(array('a b c', 'b c d'), 6) AS mhs, " +
        "py_double_repr(CAST(0.0005 AS DOUBLE)) AS d").collect().head
    assert(r.getSeq[String](0).length == 6)
    assert(r.getSeq[String](0).forall(_ != null))
    assert(r.getString(1) == "0.0005")
  }

  test("token_hash32 resolves from SQL text and bounds to 32 bits") {
    val r = spark.sql("SELECT token_hash32(array('alpha','beta')) AS h").collect().head
    val hs = r.getSeq[Long](0)
    assert(hs.length == 2 && hs.forall(h => h >= 0L && h <= 0xffffffffL))
  }

  test("vec_dot / vec_sqdist / vec_cosine resolve from SQL text") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "vec_sqdist(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS s, " +
        "vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").collect().head
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 8.0 && r.getDouble(2) == 1.0)
    // type check rejects non-double arrays with a clear message
    val e = intercept[Exception](spark.sql("SELECT vec_dot(array('x'), array('y'))").collect())
    assert(e.getMessage.contains("array<double>") || e.getMessage.toLowerCase.contains("type"))
  }

  test("py_format_fixed resolves from SQL text and rounds ties to even") {
    val r = spark.sql(
      "SELECT py_format_fixed(0.125D, 2) AS t, py_format_fixed(2.5D, 0) AS u").collect().head
    // CPython f'{0.125:.2f}' == '0.12'; Java's HALF_UP would give 0.13
    assert(r.getString(0) == "0.12")
    assert(r.getString(1) == "2")
  }

  test("exact_percentile resolves from SQL text") {
    import spark.implicits._
    Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0))
      .toDF("g", "x").createOrReplaceTempView("fx")
    val out = spark.sql(
      "SELECT g, exact_percentile(x, array(0.5D, 1.0D)) AS p FROM fx GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Double]]("p").toSeq).toMap
    assert(out("a") == Seq(2.0, 3.0))
    assert(out("b") == Seq(10.0, 10.0))
  }
}
