package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Raw OKX frame stream → normalized event stream (SURVEY.md §2.2, N1-N10).
  *
  * Input contract: a DataFrame (batch or streaming — the transform is
  * mode-agnostic) with columns
  *   raw: String                 — one JSON frame
  *   ts_recv_epoch_ms: Long      — ingest wall clock (S5)
  *   ts_recv_mono_ns: Long       — ingest monotonic clock (S5)
  *   ts_decoded_mono_ns: Long    — post-decode monotonic clock (S5)
  *   ts_proc_mono_ns: Long       — post-normalize monotonic clock (N7/N10)
  *
  * Output: Schemas.normalizedEventType rows, one per book snapshot or trade.
  *
  * Execution shape (deliberate, for 100 TB):
  *   Scan → Generate(parse once) → Filter → Generate(build+explode) → Project
  *  - The JSON parse is wrapped in `explode(array(from_json(...)))`: the
  *    Generate node is a barrier Catalyst won't collapse or push filters
  *    through, so each frame is parsed exactly ONCE (naive alias use gets
  *    inlined into every filter/field access — 21 copies in this plan).
  *  - Both channel branches are built in ONE projection as an array of
  *    event structs and exploded once: a single scan+parse pass, no
  *    self-union, output rows produced by a codegen'd generator.
  *  - Every skip-on-malformed branch of the reference maps to a
  *    null-producing `try_*` expression inside the generator — no UDFs:
  *    invalid JSON / non-object frames (okx_ws.py:78-81,92-94 → S6),
  *    control events (normalizer.py:64-66 → N1), envelope validation
  *    (:68-78 → N2), channel dispatch (:82,161 → N3), books5 data[0] + ts
  *    cast-or-drop (:84-91 → N4), per-level parse-or-skip (:93-121 → N5),
  *    best bid/ask head-of-array with 0.0 default (:123-125 → N6), payload
  *    assembly with n=5/exchange=okx (:127-159 → N7), trades 1→N explode
  *    (:161-200 → N8), per-item cast-or-skip (:164-175 → N9).
  */
object Normalizer {

  private val captureCols: Seq[Column] = Seq("ts_recv_epoch_ms",
    "ts_recv_mono_ns", "ts_decoded_mono_ns", "ts_proc_mono_ns").map(col)

  private val bookDdl = Schemas.bookPayloadType.sql
  private val tradeDdl = Schemas.tradePayloadType.sql

  /** N5: one side's levels — parse [px, sz, liq, cnt] string arrays into
    * (price, size, count) structs, dropping short/malformed levels.
    * Delegates to the native [[graft.functions.ParseBookLevels]]
    * expression (one tight loop per row instead of nested interpreted
    * lambdas — the normalizer's former hot spot).
    */
  private def levelsSql(side: String): String =
    s"parse_book_levels(coalesce(try_element_at(msg.data, 1).$side, array()))"

  /** The per-frame event builder: returns an array of normalized event
    * structs (empty = frame dropped; N items for a trades frame). The
    * books branch let-binds the parsed levels via a single-element
    * `transform` so they're computed once and reused for best_bid/best_ask.
    */
  private def eventsSql: String =
    s"""CASE
       |  WHEN msg.arg.channel = 'books5' THEN
       |    element_at(transform(array(named_struct(
       |        'ts', try_cast(coalesce(try_element_at(msg.data, 1).ts, '0') AS BIGINT),
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
       |      CASE WHEN try_cast(coalesce(item.ts, '0') AS BIGINT) IS NOT NULL
       |            AND try_cast(item.px AS DOUBLE) IS NOT NULL
       |            AND try_cast(item.sz AS DOUBLE) IS NOT NULL THEN
       |        named_struct(
       |          'symbol', msg.arg.instId,
       |          'channel', 'trades',
       |          'event_type', 'trade',
       |          'ts_exchange_ms', try_cast(coalesce(item.ts, '0') AS BIGINT),
       |          'book', CAST(NULL AS $bookDdl),
       |          'trade', named_struct(
       |            'price', try_cast(item.px AS DOUBLE),
       |            'size', try_cast(item.sz AS DOUBLE),
       |            'side', item.side,
       |            'trade_id', item.tradeId))
       |      END), x -> x IS NOT NULL)
       |  ELSE array()
       |END""".stripMargin

  /** Decode (S6) + N1/N2 envelope filtering. */
  def decode(raw: DataFrame): DataFrame = {
    raw
      // parse barrier: exactly one from_json per row (see class doc)
      .withColumn("msg", explode(array(from_json(col("raw"), Schemas.rawEnvelopeType))))
      // S6: invalid JSON → null struct → dropped
      .filter(col("msg").isNotNull)
      // N1: control events dropped (subscribe/unsubscribe/error)
      .filter(col("msg.event").isNull ||
        !col("msg.event").isin("subscribe", "unsubscribe", "error"))
      // N2: envelope validation — Python truthiness (normalizer.py:73,77):
      // empty-string channel/instId drop the frame too, not just null
      // (the r02 fuzz caught the =!= "" halves missing here)
      .filter(col("msg.arg.channel").isNotNull && col("msg.arg.channel") =!= "" &&
        col("msg.arg.instId").isNotNull && col("msg.arg.instId") =!= "" &&
        col("msg.data").isNotNull && size(col("msg.data")) > 0)
  }

  /** Full normalizer. `passthrough` columns from the input survive into
    * the output (lineage ids / replay bookkeeping; no reference analog).
    *
    * Default path: the native [[graft.functions.ParseOkxFrame]] expression —
    * one streaming-JSON pass per frame straight to event structs (~10x less
    * CPU than `from_json` + declarative builder, which materializes the
    * whole envelope tree first). [[normalizeDeclarative]] keeps the
    * pure-built-ins formulation; a spec asserts both paths agree.
    */
  def normalize(raw: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val parsed = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ParseOkxFrame(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("raw"))))
    val exploded = raw.select(
      passthrough.map(col) ++ captureCols :+ explode(parsed).as("evt"): _*)
    project(exploded, passthrough)
  }

  /** The declarative (pure Spark built-ins) normalizer: `from_json` +
    * higher-order functions. Same semantics as [[normalize]] on the wire
    * domain (a 3000-frame fuzz asserts agreement); kept as the
    * cross-check reference and for environments where custom expressions
    * are unwanted. Known inexpressible corners where [[normalize]] is
    * reference-true and this path deviates: trailing content after the
    * JSON root is accepted (from_json is lenient; msgspec drops), and a
    * non-array element inside bids/asks nulls the WHOLE side under
    * PERMISSIVE parsing (the reference skips just that level).
    */
  def normalizeDeclarative(raw: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    org.apache.spark.sql.graftbridge.FunctionRegistryBridge.register(
      raw.sparkSession, "parse_book_levels",
      exprs => graft.functions.ParseBookLevels(exprs.head))
    val decoded = decode(raw)
    val exploded = decoded.select(
      passthrough.map(col) ++ captureCols :+ explode(expr(eventsSql)).as("evt"): _*)
    project(exploded, passthrough)
  }

  private def project(exploded: DataFrame, passthrough: Seq[String]): DataFrame =
    exploded.select(
      passthrough.map(col) ++ Seq(
        lit("okx").as("exchange"),                      // normalizer.py:149,190
        col("evt.symbol").as("symbol"),
        col("evt.channel").as("channel"),
        col("evt.event_type").as("event_type"),
        col("evt.ts_exchange_ms").as("ts_exchange_ms")) ++
      captureCols ++ Seq(
        col("evt.book").as("book"),
        col("evt.trade").as("trade")): _*)
}
