package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Schemas

/** Byte-exact JSONL parity with the reference serializer on
  * layout-boundary doubles. The expected strings below were produced by
  * CPython json.dumps with the reference's compact separators
  * (jsonl.py:144,152) over the _event_to_dict shape (jsonl.py:32-70) —
  * values chosen to cross the JVM/CPython notation boundaries
  * (12345678.9 and 0.0005 plain, 1.5e+16 and 1e-05 scientific, null
  * trade_id, and a fill without `side`, which json.dumps renders as
  * `"side":null`).
  */
class JsonlGoldenSpec extends SparkSpec {

  private val bookGolden =
    """{"exchange":"okx","symbol":"BTC-USDT","channel":"books5","event_type":"book_topn","ts_exchange_ms":1738195200123,"ts_recv_epoch_ms":1738195200444,"ts_recv_mono_ns":5000000000,"ts_decoded_mono_ns":5000010000,"ts_proc_mono_ns":5000025000,"payload":{"n":5,"best_bid":12345678.9,"best_ask":0.0005,"bids":[[12345678.9,0.0005,3],[92578.6,1.5e+16,5]],"asks":[[1e-05,100.0,1]]}}"""
  private val tradeGolden =
    """{"exchange":"okx","symbol":"ETH-USDT","channel":"trades","event_type":"trade","ts_exchange_ms":1738195200456,"ts_recv_epoch_ms":1738195200999,"ts_recv_mono_ns":6000000000,"ts_decoded_mono_ns":6000010000,"ts_proc_mono_ns":6000025000,"payload":{"price":3205.85,"size":0.0005,"side":"sell","trade_id":null}}"""

  private val noSideGolden =
    """{"exchange":"okx","symbol":"BTC-USDT","channel":"trades","event_type":"trade","ts_exchange_ms":1738195200789,"ts_recv_epoch_ms":1738195201001,"ts_recv_mono_ns":7000000000,"ts_decoded_mono_ns":7000010000,"ts_proc_mono_ns":7000025000,"payload":{"price":100.5,"size":0.25,"side":null,"trade_id":"7"}}"""

  test("jsonLine is byte-identical to CPython json.dumps on boundary doubles") {
    val rows = Seq(
      Row("okx", "BTC-USDT", "books5", "book_topn",
        1738195200123L, 1738195200444L, 5000000000L, 5000010000L, 5000025000L,
        Row(5, 12345678.9, 0.0005,
          Seq(Row(12345678.9, 0.0005, 3), Row(92578.6, 1.5e16, 5)),
          Seq(Row(1e-5, 100.0, 1))),
        null),
      Row("okx", "ETH-USDT", "trades", "trade",
        1738195200456L, 1738195200999L, 6000000000L, 6000010000L, 6000025000L,
        null,
        Row(3205.85, 0.0005, "sell", null)),
      Row("okx", "BTC-USDT", "trades", "trade",
        1738195200789L, 1738195201001L, 7000000000L, 7000010000L, 7000025000L,
        null,
        Row(100.5, 0.25, null, "7")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), Schemas.normalizedEventType)
    val golden = Seq(tradeGolden, bookGolden, noSideGolden)
    for (line <- Seq(Sinks.jsonLine, JsonLineOracle.jsonLine)) {
      val got = df.select(line).orderBy(col("value").desc)
        .collect().map(_.getString(0)).toSeq
      assert(got == golden.sorted.reverse)
    }
  }
}
