package graft.model

import org.apache.spark.sql.types._

/** Engine schemas mirroring the reference's data model (SURVEY.md §1).
  *
  * `NormalizedEvent` mirrors reference/src/normalizer.py:37-48
  * with the payload union (BookPayload | TradePayload) represented as two
  * nullable struct columns discriminated by `event_type` (SURVEY.md §1.4).
  */
object Schemas {

  val bookLevelType: StructType = StructType(Seq(
    StructField("price", DoubleType, nullable = false),
    StructField("size", DoubleType, nullable = false),
    StructField("count", IntegerType, nullable = false)))

  val bookPayloadType: StructType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("best_bid", DoubleType, nullable = false),
    StructField("best_ask", DoubleType, nullable = false),
    StructField("bids", ArrayType(bookLevelType)),
    StructField("asks", ArrayType(bookLevelType))))

  val tradePayloadType: StructType = StructType(Seq(
    StructField("price", DoubleType, nullable = false),
    StructField("size", DoubleType, nullable = false),
    StructField("side", StringType),
    StructField("trade_id", StringType)))

  /** The per-event header columns every normalized event carries: venue,
    * key, discriminator, and the exchange/recv/decode/proc clocks. */
  val eventHeaderFields: Seq[StructField] = Seq(
    StructField("exchange", StringType),
    StructField("symbol", StringType),
    StructField("channel", StringType),
    StructField("event_type", StringType),
    StructField("ts_exchange_ms", LongType),
    StructField("ts_recv_epoch_ms", LongType),
    StructField("ts_recv_mono_ns", LongType),
    StructField("ts_decoded_mono_ns", LongType),
    StructField("ts_proc_mono_ns", LongType))

  /** Flat engine schema for the normalized stream (payload union flattened
    * into nullable `book` / `trade` structs, SURVEY.md §1.4).
    */
  val normalizedEventType: StructType = StructType(eventHeaderFields ++ Seq(
    StructField("book", bookPayloadType),
    StructField("trade", tradePayloadType)))
}

/** Typed views for Dataset[T] ergonomics where compile-time fields help. */
case class BookLevel(price: Double, size: Double, count: Int)
case class BookPayload(n: Int, best_bid: Double, best_ask: Double,
    bids: Seq[BookLevel], asks: Seq[BookLevel])
case class TradePayload(price: Double, size: Double, side: String,
    trade_id: Option[String])
case class NormalizedEvent(
    exchange: String,
    symbol: String,
    channel: String,
    event_type: String,
    ts_exchange_ms: Long,
    ts_recv_epoch_ms: Long,
    ts_recv_mono_ns: Long,
    ts_decoded_mono_ns: Long,
    ts_proc_mono_ns: Long,
    book: Option[BookPayload],
    trade: Option[TradePayload])
