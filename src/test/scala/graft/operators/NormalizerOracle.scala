package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas

/** The normalizer stated with Spark built-ins only — `from_json` into the
  * raw envelope, then higher-order functions and `try_cast` — as the
  * independent reference [[Normalizer.normalize]] (the native
  * [[graft.functions.ParseOkxFrame]]) is compared against, as
  * `graft.streaming.JsonLineOracle` is for the JSONL encoder. It calls no
  * graft expression or UDF.
  *
  * Same semantics as [[Normalizer.normalize]] on the wire domain, with
  * known inexpressible corners where the native path is reference-true and
  * this one deviates: trailing content after the JSON root is accepted
  * (`from_json` is lenient; msgspec drops), an explicit JSON-null `ts` reads
  * as absent (`coalesce` cannot tell them apart; the reference's
  * `int(None)` drops), a non-array element inside bids/asks nulls the
  * WHOLE side under PERMISSIVE parsing (the reference skips just that
  * level), and a number spelled with non-ASCII decimal digits (Python's
  * `int()`/`float()` read `'٣'` as 3) drops, since no built-in maps
  * Unicode digits to ASCII.
  */
object NormalizerOracle {

  /** One merged item schema for both channels; `from_json` (PERMISSIVE)
    * leaves the fields of the "other" channel null, which the channel
    * dispatch (N3) then ignores.
    */
  val rawItemType: StructType = StructType(Seq(
    StructField("ts", StringType),
    // books5 (normalizer.py:87-95): level = [px, sz, liquidated, count] strings
    StructField("bids", ArrayType(ArrayType(StringType))),
    StructField("asks", ArrayType(ArrayType(StringType))),
    // trades (normalizer.py:164-174)
    StructField("px", StringType),
    StructField("sz", StringType),
    StructField("side", StringType),
    StructField("tradeId", StringType)
  ))

  /** Raw OKX envelope: {event?, arg:{channel, instId}, data:[...]} */
  val rawEnvelopeType: StructType = StructType(Seq(
    StructField("event", StringType),
    StructField("arg", StructType(Seq(
      StructField("channel", StringType),
      StructField("instId", StringType)))),
    StructField("data", ArrayType(rawItemType))
  ))

  private val bookDdl = Schemas.bookPayloadType.sql
  private val tradeDdl = Schemas.tradePayloadType.sql

  /** The whitespace Python `int()`/`float()` strip, as a Java regex
    * class: ASCII space and \t-\r, and every non-ASCII char
    * `str.isspace()` takes (Java's whitespace and space separators, plus
    * NEL). */
  private val pySpace =
    raw"[ \\x{9}-\\x{d}\\x{85}[\\p{javaWhitespace}\\p{javaSpaceChar}&&[^\\x{0}-\\x{7f}]]]"

  /** The text Python `int()`/`float()` parse when it matches `grammar`,
    * else '' (which `try_cast` makes null): `e` with `str.isspace()` chars
    * stripped at both ends and each `_` between two digits dropped
    * (PEP 515). */
  private def pyNumber(e: String, grammar: String): String =
    raw"regexp_extract(regexp_replace(regexp_replace($e, '^$pySpace+|$pySpace+$$', ''), " +
      raw"'(?<=[0-9])_(?=[0-9])', ''), '^($grammar)$$', 0)"

  /** Python `int(e)` as `ty` (null where it raises or overflows `ty`). */
  private def pyInt(e: String, ty: String): String =
    s"try_cast(${pyNumber(e, "[+-]?[0-9]+")} AS $ty)"

  /** Python `float(e)`: its decimal grammar and nan/inf/infinity in any
    * case with an optional sign; the sign comes off a nan, which
    * `try_cast` takes only unsigned. */
  private def pyFloat(e: String): String = {
    val grammar = "[+-]?(([0-9]+[.]?[0-9]*|[.][0-9]+)([eE][+-]?[0-9]+)?|(?i:inf|infinity|nan))"
    raw"try_cast(regexp_replace(${pyNumber(e, grammar)}, '^[+-]((?i)nan)$$', '$$1') AS DOUBLE)"
  }

  /** N5: one side's levels — [px, sz, liq, cnt] string arrays → (price,
    * size, count) structs, skipping short or non-numeric levels
    * (normalizer.py:97-121). */
  private def levelsSql(side: String): String =
    s"""filter(transform(coalesce(try_element_at(msg.data, 1).$side, array()), l ->
       |  CASE WHEN size(l) >= 4
       |        AND ${pyFloat("try_element_at(l, 1)")} IS NOT NULL
       |        AND ${pyFloat("try_element_at(l, 2)")} IS NOT NULL
       |        AND ${pyInt("try_element_at(l, 4)", "INT")} IS NOT NULL THEN
       |    named_struct(
       |      'price', ${pyFloat("try_element_at(l, 1)")},
       |      'size', ${pyFloat("try_element_at(l, 2)")},
       |      'count', ${pyInt("try_element_at(l, 4)", "INT")})
       |  END), x -> x IS NOT NULL)""".stripMargin

  /** The per-frame event builder: returns an array of normalized event
    * structs (empty = frame dropped; N items for a trades frame). The
    * books branch let-binds the parsed levels via a single-element
    * `transform` so they're computed once and reused for best_bid/best_ask.
    */
  private def eventsSql: String =
    s"""CASE
       |  WHEN msg.arg.channel = 'books5' THEN
       |    element_at(transform(array(named_struct(
       |        'ts', ${pyInt("coalesce(try_element_at(msg.data, 1).ts, '0')", "BIGINT")},
       |        'bids', ${levelsSql("bids")},
       |        'asks', ${levelsSql("asks")})),
       |      t -> CASE WHEN t.ts IS NOT NULL THEN array(named_struct(
       |          'symbol', msg.arg.instId,
       |          'channel', 'books5',
       |          'event_type', 'book_topn',
       |          'ts_exchange_ms', t.ts,
       |          'book', named_struct(
       |            'n', 5,
       |            'best_bid', coalesce(try_element_at(t.bids, 1).price, CAST(0.0 AS DOUBLE)),
       |            'best_ask', coalesce(try_element_at(t.asks, 1).price, CAST(0.0 AS DOUBLE)),
       |            'bids', t.bids,
       |            'asks', t.asks),
       |          'trade', CAST(NULL AS $tradeDdl)))
       |        ELSE array() END), 1)
       |  WHEN msg.arg.channel = 'trades' THEN
       |    filter(transform(msg.data, item ->
       |      CASE WHEN ${pyInt("coalesce(item.ts, '0')", "BIGINT")} IS NOT NULL
       |            AND ${pyFloat("item.px")} IS NOT NULL
       |            AND ${pyFloat("item.sz")} IS NOT NULL THEN
       |        named_struct(
       |          'symbol', msg.arg.instId,
       |          'channel', 'trades',
       |          'event_type', 'trade',
       |          'ts_exchange_ms', ${pyInt("coalesce(item.ts, '0')", "BIGINT")},
       |          'book', CAST(NULL AS $bookDdl),
       |          'trade', named_struct(
       |            'price', ${pyFloat("item.px")},
       |            'size', ${pyFloat("item.sz")},
       |            'side', item.side,
       |            'trade_id', item.tradeId))
       |      END), x -> x IS NOT NULL)
       |  ELSE array()
       |END""".stripMargin

  /** Decode (S6) + N1/N2 envelope filtering. */
  private def decode(raw: DataFrame): DataFrame = {
    raw
      // parse barrier: exactly one from_json per row — naive alias use
      // gets inlined into every filter/field access
      .withColumn("msg", explode(array(from_json(col("raw"), rawEnvelopeType))))
      // S6: invalid JSON → null struct → dropped
      .filter(col("msg").isNotNull)
      // N1: control events dropped (subscribe/unsubscribe/error)
      .filter(col("msg.event").isNull ||
        !col("msg.event").isin("subscribe", "unsubscribe", "error"))
      // N2: envelope validation — Python truthiness (normalizer.py:73,77):
      // empty-string channel/instId drop the frame too, not just null
      .filter(col("msg.arg.channel").isNotNull && col("msg.arg.channel") =!= "" &&
        col("msg.arg.instId").isNotNull && col("msg.arg.instId") =!= "" &&
        col("msg.data").isNotNull && size(col("msg.data")) > 0)
  }

  /** The full reference normalizer; same input contract and output columns
    * as [[Normalizer.normalize]]. */
  def normalize(raw: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val exploded = decode(raw).select(
      passthrough.map(col) ++ Normalizer.captureCols :+ explode(expr(eventsSql)).as("evt"): _*)
    Normalizer.project(exploded, passthrough)
  }
}
