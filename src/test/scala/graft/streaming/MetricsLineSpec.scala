package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.WindowStats

class MetricsLineSpec extends SparkSpec {
  import spark.implicits._

  test("metrics line matches the reference format with gating and zero-rates") {
    // 21 events (≥ 20-sample gate), symbol split 11/10, latencies 1..21 ms;
    // decode lat: two zeros among 21 → zero=9.5%; proc lat all 1000 ns.
    val events = (1 to 21).map { i =>
      (if (i % 2 == 0) "BTC-USDT" else "ETH-USDT",
        i.toLong,                                 // lat_ex_to_recv_ms
        if (i <= 2) 0L else i * 1000L,            // lat_recv_to_decode_ns
        1000L)                                    // lat_decode_to_proc_ns
    }.toDF("symbol", "lat_ex_to_recv_ms", "lat_recv_to_decode_ns", "lat_decode_to_proc_ns")
    val line = MetricsStream.metricsLine(events).as[String].collect().head
    // floor-index percentiles over sorted 1..21: p50 idx=10 → 11; p95 idx=19 → 20; p99 idx=19 → 20
    assert(line ==
      "Metrics | Ex→Recv p50=11.0ms p95=20.0ms p99=20.0ms" +
      " | Recv→Decode p50=11.000us p95=20.000us p99=20.000us (zero=9.5%)" +
      " | Decode→Proc p50=1.000us p95=1.000us p99=1.000us (zero=0.0%)" +
      " | Msgs: BTC-USDT:10, ETH-USDT:11")
  }

  test("series below the min-sample gate are omitted from the line") {
    val events = (1 to 5).map(i => ("X", i.toLong, i.toLong, i.toLong))
      .toDF("symbol", "lat_ex_to_recv_ms", "lat_recv_to_decode_ns", "lat_decode_to_proc_ns")
    val line = MetricsStream.metricsLine(events).as[String].collect().head
    assert(line == "Metrics | Msgs: X:5")
  }

  test("formatted 13-column CSV snapshot shape (D7/D8)") {
    // (symbol, channel, ts_exchange_ms, ts_recv_mono_ns, latency ms):
    // A/books5 latencies 10/20/30 and exchange gaps 100/300; B/trades one
    // event (no gap: A9 zero defaults); C/trades latencies past 3.04e9,
    // whose Long squares overflow
    val events = Seq(
      ("A", "books5", 1000L, 1L, 10L), ("A", "books5", 1100L, 2L, 20L),
      ("A", "books5", 1400L, 3L, 30L), ("B", "trades", 5000L, 4L, 5L),
      ("C", "trades", 1000L, 5L, 92500000000L), ("C", "trades", 1001L, 6L, 92500000002L))
      .toDF("symbol", "channel", "ts_exchange_ms", "ts_recv_mono_ns", "lat")
      .withColumn("ts_recv_epoch_ms", col("ts_exchange_ms") + col("lat"))
    val out = WindowStats.csvSnapshotFormatted(MetricsStream.snapshot(events))
    assert(out.columns.toSeq == Seq("generated_at_utc", "symbol", "channel",
      "lat_count", "lat_mean_ms", "lat_std_ms", "lat_min_ms", "lat_max_ms",
      "stale_count", "stale_mean_ms", "stale_std_ms", "stale_min_ms", "stale_max_ms"))
    val rows = out.collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("A", "B", "C"))
    val a = rows(0)
    assert(a.getLong(3) == 3L && a.getString(4) == "20.000")   // lat mean %.3f
    assert(a.getString(5) == "10.000")                         // sample std
    assert(a.getString(6) == "10.000" && a.getString(7) == "30.000")
    assert(a.getLong(8) == 2L && a.getString(9) == "200.000")  // stale mean
    assert(a.getString(11) == "100.000" && a.getString(12) == "300.000")
    val b = rows(1)
    assert(b.getLong(3) == 1L && b.getString(5) == "0.000")
    assert(b.getLong(8) == 0L && b.getString(9) == "0.000" && b.getString(12) == "0.000")
    val c = rows(2)
    assert(c.getLong(3) == 2L && c.getString(4) == "92500000001.000")
    assert(c.getString(11) == "1.000")
  }
}
