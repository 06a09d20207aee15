package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Seeded fuzz: the native ParseOkxFrame path and the built-ins-only
  * [[NormalizerOracle]] (`from_json` + higher-order functions + `try_cast`)
  * must normalize identically over randomized frames —
  * shuffled field order, unquoted JSON numbers, junk/duplicate fields,
  * short/malformed levels, bad numerics, empty/missing envelope parts.
  *
  * (This fuzz caught the declarative path missing the empty-string
  * channel/instId drops in r02.) The oracle parses book levels with
  * `try_cast` too, so the native level parser is checked against Spark's
  * own casts, not against a second hand-written parser.
  *
  * Known intentional divergences are NOT generated: trailing garbage
  * after the root (native is msgspec-strict, from_json lenient),
  * explicit JSON-null `ts` (native mirrors int(None) → drop; SQL
  * coalesce can't distinguish null from absent), and non-array LEVEL
  * elements inside bids/asks (the reference and native skip just that
  * level; PERMISSIVE from_json nulls the whole side — see the
  * "non-array book level" test in NormalizerSpec).
  */
class NormalizerFuzzSpec extends SparkSpec {
  import spark.implicits._
  import NormalizerFuzzSpec.genFrame

  test("native and declarative paths agree on 3000 seeded fuzzed frames") {
    val rnd = new Random(20260812L)
    val frames = (0 until 3000).map(i => (genFrame(rnd), i.toLong))
    val df = frames.toDF("raw", "i").select(
      col("raw"),
      (lit(1700000000000L) + col("i")).as("ts_recv_epoch_ms"),
      (lit(5000000000L) + col("i")).as("ts_recv_mono_ns"),
      (lit(5000010000L) + col("i")).as("ts_decoded_mono_ns"),
      (lit(5000025000L) + col("i")).as("ts_proc_mono_ns"))
    val sortCols = Seq("ts_recv_epoch_ms", "symbol", "channel",
      "ts_exchange_ms", "event_type").map(col)
    val native = Normalizer.normalize(df).sort(sortCols: _*).collect().toSeq
    val declarative = NormalizerOracle.normalize(df).sort(sortCols: _*).collect().toSeq
    assert(native.size > 500, s"fuzz produced too few events: ${native.size}")
    assert(native.size == declarative.size,
      s"row counts differ: native=${native.size} declarative=${declarative.size}")
    native.zip(declarative).zipWithIndex.foreach { case ((n, d), idx) =>
      assert(n == d, s"row $idx differs:\n  native     $n\n  declarative $d")
    }
  }
}

/** The seeded fuzz-frame generator, shared with the JSONL encoder spec. */
object NormalizerFuzzSpec {

  private def shuffled(rnd: Random, fields: Seq[String]): String =
    rnd.shuffle(fields).mkString("{", ",", "}")

  private def num(rnd: Random, v: String): String =
    if (rnd.nextBoolean()) "\"" + v + "\"" else v // quoted or raw number token

  private def genLevel(rnd: Random): String = rnd.nextInt(6) match {
    case 0 => """["bad","x","0","1"]"""                       // non-numeric
    case 1 => s"""[${num(rnd, "1.5")},${num(rnd, "2.0")}]"""  // short → skipped
    case 2 => "[]"                                            // empty level → skipped
    case 3 => s"""[${num(rnd, (10 + rnd.nextInt(90)).toString)},${num(rnd, "0.5")},"0",${num(rnd, rnd.nextInt(9).toString)},"extra"]"""
    case _ => s"""[${num(rnd, s"${rnd.nextInt(1000)}.${rnd.nextInt(100)}")},${num(rnd, "1.0")},"0",${num(rnd, "3")}]"""
  }

  private def genBookItem(rnd: Random): String = {
    val fields = scala.collection.mutable.Buffer[String]()
    val tsKind = rnd.nextInt(5)
    if (tsKind != 0) fields += s""""ts":${
      if (tsKind == 1) "\"zz\"" else num(rnd, (1700000000000L + rnd.nextInt(100000)).toString)}"""
    if (rnd.nextInt(4) != 0)
      fields += s""""bids":[${Seq.fill(rnd.nextInt(4))(genLevel(rnd)).mkString(",")}]"""
    if (rnd.nextInt(4) != 0)
      fields += s""""asks":[${Seq.fill(rnd.nextInt(3))(genLevel(rnd)).mkString(",")}]"""
    if (rnd.nextBoolean()) fields += s""""junk":{"deep":[1,2,{"x":"y"}]}"""
    shuffled(rnd, fields.toSeq)
  }

  private def genTradeItem(rnd: Random): String = {
    val fields = scala.collection.mutable.Buffer[String]()
    val tsKind = rnd.nextInt(5)
    if (tsKind != 0) fields += s""""ts":${
      if (tsKind == 1) "\"nope\"" else num(rnd, (1700000000000L + rnd.nextInt(100000)).toString)}"""
    if (rnd.nextInt(5) != 0) fields += s""""px":${
      if (rnd.nextInt(6) == 0) "\"NaNope\"" else num(rnd, s"${rnd.nextInt(99999)}.${rnd.nextInt(100)}")}"""
    if (rnd.nextInt(5) != 0) fields += s""""sz":${num(rnd, s"0.${rnd.nextInt(999999)}")}"""
    if (rnd.nextBoolean()) fields += s""""side":"${if (rnd.nextBoolean()) "buy" else "sell"}""""
    if (rnd.nextBoolean()) fields += s""""tradeId":"${rnd.nextInt(1000000)}""""
    if (rnd.nextInt(3) == 0) fields += s""""ignored":[${rnd.nextInt(5)}]"""
    shuffled(rnd, fields.toSeq)
  }

  def genFrame(rnd: Random): String = rnd.nextInt(20) match {
    case 0 => "not json"
    case 1 => "[1,2,3]"
    case 2 => "{\"broken"
    case 3 => s"""{"event":"${Seq("subscribe", "unsubscribe", "error", "other")(rnd.nextInt(4))}","arg":{"channel":"books5","instId":"X"},"data":[${genBookItem(rnd)}]}"""
    case 4 => shuffled(rnd, Seq(s""""arg":{"channel":"weird${rnd.nextInt(3)}","instId":"X"}""", s""""data":[${genTradeItem(rnd)}]"""))
    case 5 => """{"arg":{"instId":"X"},"data":[{"ts":"1"}]}"""          // no channel
    case 6 => """{"arg":{"channel":"books5"},"data":[{"ts":"1"}]}"""    // no instId
    case 7 => s"""{"arg":{"channel":"books5","instId":""},"data":[${genBookItem(rnd)}]}""" // empty instId
    case 8 => s"""{"arg":{"channel":"trades","instId":"T"},"data":[]}"""
    case n if n < 14 =>
      val items = Seq.fill(1 + rnd.nextInt(3))(genTradeItem(rnd)).mkString(",")
      shuffled(rnd, Seq(
        s""""arg":${shuffled(rnd, Seq(s""""channel":"trades"""", s""""instId":"T-${rnd.nextInt(5)}""""))}""",
        s""""data":[$items]""") ++
        (if (rnd.nextBoolean()) Seq(s""""junk":"${rnd.nextInt(100)}"""") else Nil))
    case _ =>
      val extra = if (rnd.nextInt(3) == 0) Seq(s""""x":{"y":[${rnd.nextInt(9)}]}""") else Nil
      shuffled(rnd, Seq(
        s""""arg":${shuffled(rnd, Seq(s""""channel":"books5"""", s""""instId":"B-${rnd.nextInt(4)}""""))}""",
        s""""data":[${genBookItem(rnd)}${if (rnd.nextInt(4) == 0) "," + genBookItem(rnd) else ""}]""") ++ extra)
  }
}
