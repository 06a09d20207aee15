package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas

/** Replay source: reads the engine's (and the reference's) partitioned
  * JSONL output back into the normalized event model — FIXTURES.md §2
  * "engine OUTPUT, also replay INPUT". Batch and streaming variants share
  * the schema + un-flattening logic; book levels come back from the
  * [price, size, count] wire arrays into typed structs.
  *
  * At scale this is an ordinary partitioned-file scan: partition pruning
  * applies on the exchange/channel/event_date/symbol directory keys, and
  * the JSON schema is fixed (no inference pass).
  */
object ReplaySource {

  /** Wire schema: payload is the superset of both shapes (absent fields
    * null — the discriminator is event_type).
    */
  val wireSchema: StructType = StructType(Schemas.eventHeaderFields :+
    StructField("payload", StructType(Seq(
      StructField("n", IntegerType),
      StructField("best_bid", DoubleType),
      StructField("best_ask", DoubleType),
      StructField("bids", ArrayType(ArrayType(DoubleType))),
      StructField("asks", ArrayType(ArrayType(DoubleType))),
      StructField("price", DoubleType),
      StructField("size", DoubleType),
      StructField("side", StringType),
      StructField("trade_id", StringType)))))

  private def levels(c: org.apache.spark.sql.Column) =
    transform(c, a => struct(
      element_at(a, 1).as("price"),
      element_at(a, 2).as("size"),
      element_at(a, 3).cast("int").as("count")))

  /** Wire rows → Schemas.normalizedEventType rows. */
  def unflatten(wire: DataFrame): DataFrame = {
    val isBook = col("event_type") === "book_topn"
    wire.select(
      col("exchange"), col("symbol"), col("channel"), col("event_type"),
      col("ts_exchange_ms"), col("ts_recv_epoch_ms"), col("ts_recv_mono_ns"),
      col("ts_decoded_mono_ns"), col("ts_proc_mono_ns"),
      when(isBook, struct(
        col("payload.n").as("n"),
        col("payload.best_bid").as("best_bid"),
        col("payload.best_ask").as("best_ask"),
        levels(col("payload.bids")).as("bids"),
        levels(col("payload.asks")).as("asks")))
        .otherwise(lit(null).cast(Schemas.bookPayloadType)).as("book"),
      when(!isBook, struct(
        col("payload.price").as("price"),
        col("payload.size").as("size"),
        col("payload.side").as("side"),
        col("payload.trade_id").as("trade_id")))
        .otherwise(lit(null).cast(Schemas.tradePayloadType)).as("trade"))
  }

  /** Batch replay of a captured JSONL tree. */
  def read(spark: SparkSession, path: String): DataFrame =
    unflatten(spark.read.schema(wireSchema).json(path))

  /** Streaming replay (file source — exactly-once, in file order). Use
    * `maxFilesPerTrigger` via options for rate control.
    */
  def readStream(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    unflatten(spark.readStream.schema(wireSchema).options(options).json(path))
}
