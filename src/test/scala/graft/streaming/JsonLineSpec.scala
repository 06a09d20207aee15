package graft.streaming

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Schemas
import graft.operators.{Normalizer, NormalizerFuzzSpec}

/** The native encoder behind [[Sinks.jsonLine]] must write the same line,
  * byte for byte and NULL for NULL, as the Column-built
  * [[JsonLineOracle]], on fuzzed frames, on feed-shaped frames and on
  * rows with NULLs in every place the schema allows one.
  */
class JsonLineSpec extends SparkSpec {
  import spark.implicits._

  private def frames(raw: Seq[String]): DataFrame =
    raw.zipWithIndex.map { case (f, i) => (f, i.toLong) }.toDF("raw", "i").select(
      col("raw"),
      (lit(1700000000000L) + col("i")).as("ts_recv_epoch_ms"),
      (lit(5000000000L) + col("i")).as("ts_recv_mono_ns"),
      (lit(5000010000L) + col("i")).as("ts_decoded_mono_ns"),
      (lit(5000025000L) + col("i")).as("ts_proc_mono_ns"))

  /** (rows, NULL lines, first differing rows) of encoder vs oracle, with
    * the codegen fallback off so a generated-code failure cannot hide
    * behind the interpreted path. */
  private def compare(events: DataFrame): (Long, Long, Seq[Row]) = {
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val both = events.select(Sinks.jsonLine.as("native"), JsonLineOracle.jsonLine.as("oracle"))
        .collect().toSeq
      val differ = both.filterNot(r => r.get(0) == r.get(1))
      (both.size.toLong, both.count(_.isNullAt(0)).toLong, differ.take(5))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("encoder equals the Column oracle on 3000 fuzzed frames") {
    val rnd = new Random(20260812L)
    val (n, nulls, differ) =
      compare(Normalizer.normalize(frames(Seq.fill(3000)(NormalizerFuzzSpec.genFrame(rnd)))))
    assert(n > 500, s"fuzz produced too few events: $n")
    assert(differ.isEmpty, differ.mkString("\n"))
    // fuzzed trades drop `side` often; those lines are not NULL any more
    assert(nulls == 0)
  }

  test("encoder equals the Column oracle on feed-shaped books and trades") {
    val rnd = new java.util.SplittableRandom(7L)
    val symbols = (0 until 20).map(i => s"S$i-USDT")
    val scale = symbols.map(_ => 1 + rnd.nextInt(4))
    val mid = symbols.indices.map(i => (10L + rnd.nextLong(100000L)) * math.pow(10, scale(i)).toLong).toArray
    def dec(units: Long, s: Int): String = java.math.BigDecimal.valueOf(units, s).toPlainString
    def size(): String = dec(1L + rnd.nextLong(5000000L), 6)
    val raw = (0 until 3000).map { i =>
      val s = rnd.nextInt(symbols.size)
      val tick = math.max(1L, mid(s) / 20000L)
      mid(s) = math.max(10L * tick, mid(s) + (rnd.nextInt(5) - 2) * tick)
      val ts = 1738195200000L + i
      if (rnd.nextInt(3) < 2) {
        def side(sign: Int) = (1 to 5).map(k =>
          s"""["${dec(mid(s) + sign * k * tick, scale(s))}","${size()}","0","${1 + rnd.nextInt(30)}"]""")
          .mkString("[", ",", "]")
        s"""{"arg":{"channel":"books5","instId":"${symbols(s)}"},"data":[{"asks":${side(1)},"bids":${side(-1)},"ts":"$ts"}]}"""
      } else {
        val fills = (0 until 1 + rnd.nextInt(3)).map { k =>
          val side = rnd.nextInt(4) match {
            case 0 => ""                       // no side: rendered as null
            case 1 => ",\"side\":\"buy\""
            case _ => ",\"side\":\"sell\""
          }
          s"""{"tradeId":"${1000000L * (s + 1) + i * 4L + k}","px":"${dec(mid(s) + (rnd.nextInt(3) - 1) * tick, scale(s))}","sz":"${size()}"$side,"ts":"$ts"}"""
        }
        s"""{"arg":{"channel":"trades","instId":"${symbols(s)}"},"data":[${fills.mkString(",")}]}"""
      }
    }
    val (n, nulls, differ) = compare(Normalizer.normalize(frames(raw)))
    assert(n >= 3000)
    assert(differ.isEmpty, differ.mkString("\n"))
    assert(nulls == 0)
  }

  test("NULL lines and NULL fields match the Column oracle") {
    val okBook = Row(5, 92578.7, 0.0005,
      Seq(Row(92578.7, 1e-5, 3), null, Row(Double.NaN, -0.0, 1)),
      null)
    val okTrade = Row(3205.85, 1.5e16, "sell", "42")
    def event(exchange: String, eventType: String, ts: java.lang.Long, book: Row, trade: Row): Row =
      Row(exchange, "BTC-USDT", "books5", eventType, 1738195200123L, 1738195200444L,
        Long.MinValue, -5L, ts, book, trade)
    val rows = Seq(
      event("okx", "book_topn", 1L, okBook, null),
      event("okx", "book_topn", 2L, Row(5, 1.0, Double.PositiveInfinity, null, Seq.empty), null),
      event("okx", "book_topn", 3L, null, okTrade),                        // NULL line
      event("okx", "book_topn", 4L, okBook, okTrade),                      // book wins
      event("okx", "trade", 5L, null, okTrade),
      event("okx", "trade", 6L, null, Row(100.5, 0.25, null, "7")),        // side null
      event("okx", "trade", 7L, null, Row(100.5, 0.25, null, null)),
      event("okx", "trade", 8L, okBook, null),                             // NULL line
      event("okx", "other", 9L, null, okTrade),                            // trade payload
      event(null, "trade", 10L, null, okTrade),                            // NULL line
      event("okx", null, 11L, okBook, okTrade),                            // NULL line
      event("okx", "trade", null, null, okTrade))                          // NULL line
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Schemas.normalizedEventType)
    val (n, nulls, differ) = compare(df)
    assert(n == rows.size)
    assert(differ.isEmpty, differ.mkString("\n"))
    assert(nulls == 5)
    // a local relation evaluates the projection through the interpreted
    // path (ConvertToLocalRelation) instead of generated code
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), Schemas.normalizedEventType)
    val (ln, lnulls, ldiffer) = compare(local)
    assert(ln == rows.size && lnulls == 5)
    assert(ldiffer.isEmpty, ldiffer.mkString("\n"))

    // payloads whose fields are typed nullable: a NULL level field drops
    // that level, a NULL best_bid makes the line NULL
    def level(px: String, sz: String, cnt: String) =
      s"named_struct('price', $px, 'size', $sz, 'count', $cnt)"
    def book(bid: String) = expr(s"named_struct('n', 5, 'best_bid', $bid, 'best_ask', 2.0D, " +
      s"'bids', array(${level("CAST(NULL AS DOUBLE)", "1.0D", "1")}, " +
      s"${level("3.0D", "CAST(NULL AS DOUBLE)", "2")}, ${level("4.0D", "1.0D", "CAST(NULL AS INT)")}, " +
      s"${level("5.0D", "1.0D", "3")}), 'asks', array(${level("6.0D", "2.0D", "4")}))")
    val first = df.filter(col("ts_proc_mono_ns") === 1L)
    val nullableFields = first.withColumn("book", book("1.0D"))
      .union(first.withColumn("book", book("CAST(NULL AS DOUBLE)")))
    val (fn, fnulls, fdiffer) = compare(nullableFields)
    assert(fn == 2 && fnulls == 1)
    assert(fdiffer.isEmpty, fdiffer.mkString("\n"))
    assert(nullableFields.select(Sinks.jsonLine).collect().flatMap(r => Option(r.getString(0)))
      .exists(_.contains(""""bids":[[5.0,1.0,3]],"asks":[[6.0,2.0,4]]""")))
  }
}
