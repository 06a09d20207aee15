package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The K5 line built from Column expressions (codegen'd string
  * concatenation over [[graft.functions.PyDoubleRepr]]): the byte-identity
  * oracle for the native [[graft.functions.JsonLine]] encoder behind
  * [[Sinks.jsonLine]], as `graft.operators.NormalizerOracle` is
  * for `ParseOkxFrame`. A NULL `side` renders `null`, as `trade_id` does.
  */
object JsonLineOracle {

  def jsonLine: Column = {
    def d(c: Column): Column = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PyDoubleRepr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
    def quotedOrNull(c: Column): Column =
      when(c.isNull, lit("null")).otherwise(concat(lit("\""), c, lit("\"")))
    def levels(c: Column): Column = concat(lit("["),
      concat_ws(",", transform(c, l => concat(
        lit("["), d(l.getField("price")), lit(","), d(l.getField("size")),
        lit(","), l.getField("count").cast("string"), lit("]")))),
      lit("]"))
    val head = concat(
      lit("{\"exchange\":\""), col("exchange"),
      lit("\",\"symbol\":\""), col("symbol"),
      lit("\",\"channel\":\""), col("channel"),
      lit("\",\"event_type\":\""), col("event_type"),
      lit("\",\"ts_exchange_ms\":"), col("ts_exchange_ms").cast("string"),
      lit(",\"ts_recv_epoch_ms\":"), col("ts_recv_epoch_ms").cast("string"),
      lit(",\"ts_recv_mono_ns\":"), col("ts_recv_mono_ns").cast("string"),
      lit(",\"ts_decoded_mono_ns\":"), col("ts_decoded_mono_ns").cast("string"),
      lit(",\"ts_proc_mono_ns\":"), col("ts_proc_mono_ns").cast("string"),
      lit(",\"payload\":"))
    val bookPayload = concat(
      lit("{\"n\":"), col("book.n").cast("string"),
      lit(",\"best_bid\":"), d(col("book.best_bid")),
      lit(",\"best_ask\":"), d(col("book.best_ask")),
      lit(",\"bids\":"), levels(col("book.bids")),
      lit(",\"asks\":"), levels(col("book.asks")), lit("}"))
    val tradePayload = concat(
      lit("{\"price\":"), d(col("trade.price")),
      lit(",\"size\":"), d(col("trade.size")),
      lit(",\"side\":"), quotedOrNull(col("trade.side")),
      lit(",\"trade_id\":"), quotedOrNull(col("trade.trade_id")),
      lit("}"))
    concat(head,
      when(col("event_type") === "book_topn", bookPayload).otherwise(tradePayload),
      lit("}")).as("value")
  }
}
