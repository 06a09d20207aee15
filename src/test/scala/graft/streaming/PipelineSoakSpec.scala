package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.{Derived, Normalizer}

/** Bounded soak of the full live wiring (the shape app.Main assembles):
  * one synthetic source fanned out to the JSONL sink, the CSV snapshot
  * sink on its cadence, and the metrics stream — all running concurrently
  * against one normalized stream, as in production (K7).
  */
class PipelineSoakSpec extends SparkSpec {

  test("fan-out soak: JSONL partitions + CSV snapshot cadence + metrics run concurrently") {
    val root = Files.createTempDirectory("graft-soak").toString
    // NOTE: each started query instantiates its own MicroBatchStream (and
    // provider) from this definition — three queries = three independent
    // feeds, deterministic and identical here. maxBuffer must absorb the
    // full burst: the default 1024 drops overflow by design (at-most-once
    // backpressure, okx_ws.py max_queue), which a soak must not trip.
    val raw = spark.readStream.format("okx")
      .option("provider", "synthetic")
      .option("symbols", "BTC-USDT,ETH-USDT")
      .option("frames", "3000")
      .option("frameIntervalMs", "1")
      .option("burst", "50")
      .option("maxBuffer", "20000")
      .load()
    val events = Normalizer.normalize(raw)

    val jsonlQ = Sinks.jsonl(events, s"$root/jsonl", s"$root/ckpt-jsonl",
      trigger = Trigger.ProcessingTime("1 second")).start()

    val csvQ = Sinks.csvSnapshot(MetricsStream.snapshot(events), s"$root/metrics.csv",
      s"$root/ckpt-csv", intervalSecs = 2).start()

    val metricsQ = MetricsStream.latencyPercentiles(
        Derived.withLatencies(events),
        "lat_ex_to_recv_ms", timestamp_millis(col("ts_recv_epoch_ms")))
      .writeStream.outputMode("update").format("memory").queryName("soak_metrics")
      .option("checkpointLocation", s"$root/ckpt-metrics")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

    try {
      // 3000 frames at 50/ms-ish: the provider finishes in ~60 ms of feed
      // time; let every query drain + at least two CSV cadence ticks pass
      val deadline = System.currentTimeMillis() + 60000
      var lines = 0L
      while (lines < 3000 && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000)
        jsonlQ.processAllAvailable()
        lines = spark.read.textFile(s"$root/jsonl").count()
      }
      csvQ.processAllAvailable()
      metricsQ.processAllAvailable()

      // JSONL: every event landed, reference partition keys in the layout
      assert(lines == 3000L, s"expected 3000 JSONL lines, got $lines")
      val dirs = Files.walk(Paths.get(s"$root/jsonl")).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.toString).toSeq
      assert(dirs.exists(_.contains("exchange=okx")))
      assert(dirs.exists(_.contains("channel=books5")))
      assert(dirs.exists(_.contains("channel=trades")))
      assert(dirs.exists(_.contains("symbol=BTC-USDT")))
      // line shape: compact JSON, payload keyed by event shape
      val sample = spark.read.textFile(s"$root/jsonl").head()
      assert(sample.startsWith("{\"exchange\":\"okx\",\"symbol\":\""))

      // CSV snapshot: single file, the reference's 13-column header, one
      // row per (symbol, channel) in key order, every event counted
      val csv = Paths.get(s"$root/metrics.csv")
      assert(Files.exists(csv), "csv snapshot file missing")
      val csvLines = Files.readAllLines(csv).asScala
      assert(csvLines.head == "generated_at_utc,symbol,channel," +
        "lat_count,lat_mean_ms,lat_std_ms,lat_min_ms,lat_max_ms," +
        "stale_count,stale_mean_ms,stale_std_ms,stale_min_ms,stale_max_ms")
      assert(csvLines.size == 5, s"expected 4 key rows + header, got ${csvLines.size}")
      val rows = csvLines.tail.map(_.split(",", -1).toSeq)
      assert(rows.map(r => (r(1), r(2))) == rows.map(r => (r(1), r(2))).sorted)
      assert(rows.map(_(3).toLong).sum == 3000L)
      assert(rows.forall(r => r(8).toLong == r(3).toLong - 1))

      // metrics stream produced gated window rows
      assert(spark.table("soak_metrics").count() > 0)
    } finally {
      jsonlQ.stop(); csvQ.stop(); metricsQ.stop()
    }
  }
}
