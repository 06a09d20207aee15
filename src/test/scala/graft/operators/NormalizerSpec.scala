package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fixture-driven normalizer tests: every skip path in FIXTURES.md §1.3
  * (derived from reference/src/normalizer.py + okx_ws.py).
  */
class NormalizerSpec extends SparkSpec {
  import spark.implicits._

  private def framesOf(raws: String*): DataFrame =
    raws.toSeq.zipWithIndex.toDF("raw", "i").select(
      col("raw"),
      (lit(1700000000000L) + col("i")).as("ts_recv_epoch_ms"),
      (lit(5000000000L) + col("i") * 100L).as("ts_recv_mono_ns"),
      (lit(5000010000L) + col("i") * 100L).as("ts_decoded_mono_ns"),
      (lit(5000025000L) + col("i") * 100L).as("ts_proc_mono_ns"))

  private val goodBook =
    """{"arg":{"channel":"books5","instId":"BTC-USDT"},
      |"data":[{"ts":"1738195200123",
      |"bids":[["92578.70","0.51","0","3"],["92578.60","1.20","0","5"]],
      |"asks":[["92578.80","0.10","0","1"]]}]}""".stripMargin.replace("\n", "")

  private val goodTrades =
    """{"arg":{"channel":"trades","instId":"ETH-USDT"},
      |"data":[{"ts":"1738195200456","px":"3205.85","sz":"0.034120","side":"buy","tradeId":"987654321"},
      |{"ts":"1738195200457","px":"3205.86","sz":"1.0","side":"sell"}]}""".stripMargin.replace("\n", "")

  test("good books5 frame normalizes with parsed levels and best bid/ask") {
    val out = Normalizer.normalize(framesOf(goodBook))
    val row = out.collect().toSeq
    assert(row.size == 1)
    val r = row.head
    assert(r.getAs[String]("symbol") == "BTC-USDT")
    assert(r.getAs[String]("event_type") == "book_topn")
    assert(r.getAs[Long]("ts_exchange_ms") == 1738195200123L)
    val book = r.getAs[org.apache.spark.sql.Row]("book")
    assert(book.getAs[Double]("best_bid") == 92578.70)
    assert(book.getAs[Double]("best_ask") == 92578.80)
    assert(book.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bids").map(_.getAs[Double]("price")) == Seq(92578.70, 92578.60))
    assert(book.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bids").map(_.getAs[Int]("count")) == Seq(3, 5))
  }

  test("trades frame explodes to N events, nullable tradeId preserved") {
    val out = Normalizer.normalize(framesOf(goodTrades)).orderBy("ts_exchange_ms")
    val rows = out.collect().toSeq
    assert(rows.size == 2)
    val t0 = rows.head.getAs[org.apache.spark.sql.Row]("trade")
    assert(t0.getAs[Double]("price") == 3205.85 && t0.getAs[String]("side") == "buy")
    assert(t0.getAs[String]("trade_id") == "987654321")
    assert(rows(1).getAs[org.apache.spark.sql.Row]("trade").getAs[String]("trade_id") == null)
  }

  test("control / malformed / unknown-channel frames are all dropped") {
    val out = Normalizer.normalize(framesOf(
      """{"event":"subscribe","arg":{"channel":"books5","instId":"X"}}""",
      """{"event":"unsubscribe","arg":{"channel":"books5","instId":"X"}}""",
      """{"event":"error","arg":{"channel":"books5","instId":"X"}}""",
      """{"arg":{"instId":"X"},"data":[{"ts":"1"}]}""",          // no channel
      """{"arg":{"channel":"books5"},"data":[{"ts":"1"}]}""",    // no instId
      """{"arg":{"channel":"books5","instId":"X"},"data":[]}""", // empty data
      """{"arg":{"channel":"books50","instId":"X"},"data":[{"ts":"1"}]}""", // unknown channel
      """not json at all""",
      """[1,2,3]""",
      """{"arg":{"channel":"books5","instId":"X"},"data":[{"ts":"NaNope","bids":[],"asks":[]}]}""" // bad ts
    ))
    assert(out.count() == 0)
  }

  test("short/malformed book levels skipped but event kept; empty sides → 0.0 defaults") {
    val out = Normalizer.normalize(framesOf(
      """{"arg":{"channel":"books5","instId":"X"},"data":[{"ts":"5",
        |"bids":[["100.5","1"],["bad","x","0","1"],["99.5","2.0","0","7"]],
        |"asks":[]}]}""".stripMargin.replace("\n", "")))
    val r = out.collect().head
    val book = r.getAs[org.apache.spark.sql.Row]("book")
    // 2-element and non-numeric levels dropped (normalizer.py:100-121)
    assert(book.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bids").map(_.getAs[Double]("price")) == Seq(99.5))
    assert(book.getAs[Double]("best_bid") == 99.5)
    assert(book.getAs[Double]("best_ask") == 0.0) // empty side default (normalizer.py:123-125)
  }

  test("trade items with unparseable ts/px/sz are skipped individually") {
    val out = Normalizer.normalize(framesOf(
      """{"arg":{"channel":"trades","instId":"X"},"data":[
        |{"ts":"10","px":"1.5","sz":"2.5","side":"buy","tradeId":"a"},
        |{"ts":"xx","px":"1.5","sz":"2.5","side":"buy","tradeId":"b"},
        |{"ts":"12","px":"no","sz":"2.5","side":"buy","tradeId":"c"},
        |{"ts":"13","px":"1.5","sz":"no","side":"buy","tradeId":"d"}]}""".stripMargin.replace("\n", "")))
    val ids = out.select("trade.trade_id").as[String].collect().toSet
    assert(ids == Set("a"))
  }

  test("non-array book level is skipped individually, siblings kept (native path)") {
    // reference normalizer.py:101-102: `if not isinstance(level, list): continue`.
    // The built-ins-only NormalizerOracle can't express this (PERMISSIVE
    // from_json nulls the whole side on a conversion failure) — documented
    // divergence of the oracle; the native normalizer is reference-true.
    val out = Normalizer.normalize(framesOf(
      """{"arg":{"channel":"books5","instId":"X"},"data":[{"ts":"5",
        |"bids":[7,["375.2","1.0","0","3"]],"asks":[]}]}""".stripMargin.replace("\n", "")))
    val book = out.collect().head.getAs[org.apache.spark.sql.Row]("book")
    assert(book.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bids")
      .map(_.getAs[Double]("price")) == Seq(375.2))
    assert(book.getAs[Double]("best_bid") == 375.2)
  }

  test("trailing garbage after the root object drops the frame (strict msgspec decode)") {
    val valid = """{"arg":{"channel":"trades","instId":"Q"},"data":[{"ts":"5","px":"1","sz":"1","side":"buy"}]}"""
    assert(Normalizer.normalize(framesOf(valid)).count() == 1)
    assert(Normalizer.normalize(framesOf(valid + " garbage")).count() == 0)
    assert(Normalizer.normalize(framesOf(valid + "{}")).count() == 0)
    assert(Normalizer.normalize(framesOf(valid + "   ")).count() == 1) // whitespace ok
  }

  test("missing ts field maps to ts_exchange_ms=0, not a drop (d.get('ts','0'))") {
    val out = Normalizer.normalize(framesOf(
      """{"arg":{"channel":"books5","instId":"X"},"data":[{"bids":[["1.0","2.0","0","1"]],"asks":[]}]}""",
      """{"arg":{"channel":"trades","instId":"Y"},"data":[{"px":"1.5","sz":"2.5","side":"buy"}]}"""))
    val rows = out.orderBy("symbol").collect().toSeq
    assert(rows.size == 2)
    assert(rows.forall(_.getAs[Long]("ts_exchange_ms") == 0L))
  }

  /** Every fixture in this spec, plus ordering/duplication edge frames, must
    * normalize identically through the native ParseOkxFrame path and the
    * built-ins-only [[NormalizerOracle]].
    */
  test("native and declarative normalizers agree on the full fixture battery") {
    val battery = framesOf(
      goodBook, goodTrades,
      """{"event":"subscribe","arg":{"channel":"books5","instId":"X"}}""",
      """{"arg":{"instId":"X"},"data":[{"ts":"1"}]}""",
      """{"arg":{"channel":"books5"},"data":[{"ts":"1"}]}""",
      """{"arg":{"channel":"books5","instId":"X"},"data":[]}""",
      """{"arg":{"channel":"books50","instId":"X"},"data":[{"ts":"1"}]}""",
      """not json at all""",
      """[1,2,3]""",
      """{"arg":{"channel":"books5","instId":"X"},"data":[{"ts":"NaNope","bids":[],"asks":[]}]}""",
      """{"arg":{"channel":"books5","instId":"X"},"data":[{"bids":[["1.0","2.0","0","1"]],"asks":[]}]}""",
      """{"arg":{"channel":"trades","instId":"Y"},"data":[{"px":"1.5","sz":"2.5","side":"buy"}]}""",
      // data before arg (field-order robustness)
      """{"data":[{"ts":"77","px":"9.5","sz":"0.5","side":"sell","tradeId":"z"}],"arg":{"channel":"trades","instId":"Z"}}""",
      """{"data":[{"ts":"88","bids":[["5.0","1.0","0","2"]],"asks":[["6.0","1.0","0","2"]]}],"arg":{"channel":"books5","instId":"W"}}""",
      // extra unknown envelope fields + nested junk
      """{"junk":{"deep":[1,{"x":2}]},"arg":{"channel":"books5","instId":"V"},"data":[{"ts":"99","bids":[["1.5","2.5","0","4"]],"asks":[]}],"more":[true,null]}""",
      """{"arg":{"channel":"trades","instId":"X"},"data":[
        |{"ts":"10","px":"1.5","sz":"2.5","side":"buy","tradeId":"a"},
        |{"ts":"xx","px":"1.5","sz":"2.5","side":"buy","tradeId":"b"},
        |{"ts":"12","px":"no","sz":"2.5","side":"buy","tradeId":"c"}]}""".stripMargin.replace("\n", ""))
    val native = Normalizer.normalize(battery)
      .orderBy("symbol", "ts_exchange_ms", "channel").collect().toSeq
    val declarative = NormalizerOracle.normalize(battery)
      .orderBy("symbol", "ts_exchange_ms", "channel").collect().toSeq
    assert(native.nonEmpty)
    assert(native == declarative)
  }

  test("nan/inf literals parse as Python float() does, on both normalizers") {
    // float() takes nan/inf/infinity in any case with an optional sign;
    // Double.valueOf takes only "NaN"/"Infinity", try_cast no signed nan
    val specials = Seq("nan" -> Double.NaN, "-nan" -> Double.NaN, "NaN" -> Double.NaN,
      "inf" -> Double.PositiveInfinity, "+Infinity" -> Double.PositiveInfinity,
      "-INF" -> Double.NegativeInfinity)
    val frames = specials.map { case (v, _) =>
      s"""{"arg":{"channel":"trades","instId":"X"},"data":[{"ts":"1","px":"$v","sz":"1"}]}""" } ++
      specials.map { case (v, _) =>
        s"""{"arg":{"channel":"books5","instId":"Y"},"data":[{"ts":"1","bids":[["$v","1","0","1"]],"asks":[]}]}""" }
    for (norm <- Seq[DataFrame => DataFrame](Normalizer.normalize(_), NormalizerOracle.normalize(_))) {
      val rows = norm(framesOf(frames: _*)).orderBy("ts_recv_epoch_ms").collect().toSeq
      val prices = rows.map(r =>
        if (r.getAs[String]("channel") == "trades")
          r.getAs[org.apache.spark.sql.Row]("trade").getAs[Double]("price")
        else r.getAs[org.apache.spark.sql.Row]("book").getAs[Double]("best_bid"))
      assert(prices.size == 2 * specials.size)
      (prices zip (specials ++ specials)).foreach { case (got, (v, want)) =>
        assert(java.lang.Double.compare(got, want) == 0, s"$v -> $got")
      }
    }
  }

  /** CPython's int()/float() outcome per input string, written by
    * tools/gen_pycast_golden.py. */
  private case class PyCast(json: String, text: String, int: Option[BigInt], float: Option[Double])

  private lazy val pyCasts: Seq[PyCast] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = getClass.getResourceAsStream("/pycast_golden.tsv")
    assert(in != null, "missing pycast_golden.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).map { line =>
        val f = line.split("\t", -1)
        PyCast(f(0), mapper.readValue(f(0), classOf[String]),
          Option.when(f(1) != "error")(BigInt(f(1))),
          Option.when(f(2) != "error")(java.lang.Double.longBitsToDouble(f(2).toLong)))
      }.toVector
    finally in.close()
  }

  test("both normalizers cast ts, price and level count as CPython int()/float() do") {
    // each input as a trade price, a trade ts and a book level count, one
    // instId per (field, input); a value past BIGINT/INT drops (schema)
    val frames = pyCasts.zipWithIndex.flatMap { case (c, i) => Seq(
      s"""{"arg":{"channel":"trades","instId":"px$i"},"data":[{"ts":"1","px":${c.json},"sz":"1"}]}""",
      s"""{"arg":{"channel":"trades","instId":"ts$i"},"data":[{"ts":${c.json},"px":"1","sz":"1"}]}""",
      s"""{"arg":{"channel":"books5","instId":"cnt$i"},"data":[{"ts":"1","bids":[["1","1","0",${c.json}]],"asks":[]}]}""")
    }
    def sameDouble(a: Double, b: Double) = a.isNaN && b.isNaN || a == b && (1 / a) == (1 / b)
    for ((label, norm) <- Seq[(String, DataFrame => DataFrame)](
        "native" -> (Normalizer.normalize(_)), "oracle" -> (NormalizerOracle.normalize(_)))) {
      val byId = norm(framesOf(frames: _*)).collect().map(r => r.getAs[String]("symbol") -> r).toMap
      val wrong = pyCasts.zipWithIndex.flatMap { case (c, i) =>
        val px = byId.get(s"px$i").map(_.getAs[org.apache.spark.sql.Row]("trade").getAs[Double]("price"))
        val ts = byId.get(s"ts$i").map(_.getAs[Long]("ts_exchange_ms"))
        val cnt = byId(s"cnt$i").getAs[org.apache.spark.sql.Row]("book")
          .getSeq[org.apache.spark.sql.Row](3).headOption.map(_.getAs[Int]("count"))
        val pxOk = (px, c.float) match {
          case (Some(a), Some(b)) => sameDouble(a, b)
          case (a, b) => a.isEmpty && b.isEmpty
        }
        val tsOk = ts == c.int.filter(_.isValidLong).map(_.toLong)
        val cntOk = cnt == c.int.filter(_.isValidInt).map(_.toInt)
        Option.when(!(pxOk && tsOk && cntOk))(c.json -> s"float=$px int=$ts count=$cnt")
      }
      // the oracle's one documented corner: no built-in reads Unicode digits
      val expected =
        if (label == "native") Nil
        else pyCasts.filter(_.text.codePoints().anyMatch(cp => cp > 0x7f && Character.isDigit(cp)))
      assert(wrong.map(_._1) == expected.map(_.json), s"$label: ${wrong.mkString("; ")}")
    }
  }

  test("capture timestamps pass through unchanged (S5) and latencies derive (D1-D3)") {
    val out = Derived.withLatencies(Normalizer.normalize(framesOf(goodBook)))
    val r = out.collect().head
    assert(r.getAs[Long]("lat_ex_to_recv_ms") == 1700000000000L - 1738195200123L)
    assert(r.getAs[Long]("lat_recv_to_decode_ns") == 10000L)
    assert(r.getAs[Long]("lat_decode_to_proc_ns") == 15000L)
  }
}
