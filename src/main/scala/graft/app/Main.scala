package graft.app

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.operators.{Derived, Normalizer}
import graft.streaming.{MetricsStream, Sinks, TempDirs}

/** Live pipeline entry point — the analog of the reference's CLI
  * (reference/src/app.py:150-233), Spark-first: one source definition, N
  * independent streaming queries (K7 fan-out with per-sink isolation —
  * each query has its own checkpoint and failure domain, improving on the
  * reference's sequential per-event fan-out).
  *
  * Fan-out semantics: each started query instantiates its OWN
  * MicroBatchStream from the source definition — with the live websocket
  * provider that is one socket PER SINK (the reference multiplexes one
  * socket). Deterministic providers (synthetic/replay) feed every sink
  * identically; for live multi-sink deployments where one connection must
  * feed all sinks, land frames in a replayable log (Kafka / captured
  * JSONL → ReplaySource) and fan out from there — that is also the 100 TB
  * shape, where ingest and analytics scale independently.
  *
  * Flags (mirroring src/app.py):
  *   --symbols BTC-USDT,ETH-USDT   --channels books5,trades
  *   --url wss://...               --provider websocket|synthetic
  *   --no-stdout  --no-jsonl       --jsonl-dir DIR
  *   --csv-export PATH             --csv-export-interval SECS
  *   --max-buffer N (frame buffer per query; overflow drops, T6)
  *   --duration SECS (0 = forever; synthetic demos use a bound)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map(
      "symbols" -> "BTC-USDT,ETH-USDT", "channels" -> "books5,trades",
      "url" -> "wss://ws.okx.com:8443/ws/v5/public",
      "provider" -> "websocket", "jsonl-dir" -> "data/okx",
      "csv-export" -> "", "csv-export-interval" -> "30",
      "max-buffer" -> "1024",
      "duration" -> "0", "stdout" -> "true", "jsonl" -> "true"))

    val spark = GraftSession.get("graft-pipeline")
    // Fresh per run, so no later run can resume from it: delete it at exit.
    val checkpointRoot = TempDirs.register(
      new java.io.File(s"/tmp/graft-ckpt-${System.currentTimeMillis()}")).getPath

    val raw = spark.readStream.format("okx")
      .option("provider", opts("provider"))
      .option("symbols", opts("symbols"))
      .option("channels", opts("channels"))
      .option("url", opts("url"))
      .option("maxBuffer", opts("max-buffer"))
      .load()

    val events = Normalizer.normalize(raw)

    var queries = Vector.empty[StreamingQuery]

    // K2: console event lines
    if (opts("stdout") == "true")
      queries :+= Sinks.console(events)
        .option("checkpointLocation", s"$checkpointRoot/console").start()

    // K3-K5: partitioned JSONL
    if (opts("jsonl") == "true")
      queries :+= Sinks.jsonl(events, opts("jsonl-dir"), s"$checkpointRoot/jsonl").start()

    // Metrics report (A1-A3): 5 s windows over the ingest clock, 1 s slide
    val latencies = Derived.withLatencies(events)
    queries :+= MetricsStream.latencyPercentiles(latencies,
        "lat_ex_to_recv_ms", timestamp_millis(col("ts_recv_epoch_ms")))
      .writeStream.outputMode("update").format("console")
      .option("truncate", "false")
      .option("checkpointLocation", s"$checkpointRoot/metrics")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

    // K6: CSV snapshot of per-key latency and staleness stats
    if (opts("csv-export").nonEmpty)
      queries :+= Sinks.csvSnapshot(MetricsStream.snapshot(events), opts("csv-export"),
        s"$checkpointRoot/csv", opts("csv-export-interval").toInt).start()

    val durationSecs = opts("duration").toLong
    if (durationSecs > 0) {
      Thread.sleep(durationSecs * 1000)
      queries.foreach(_.stop())       // T7 graceful shutdown
    } else {
      spark.streams.awaitAnyTermination()
    }
    spark.stop()
  }

  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--no-stdout" :: rest => parse(rest, acc + ("stdout" -> "false"))
      case "--no-jsonl" :: rest => parse(rest, acc + ("jsonl" -> "false"))
      case flag :: value :: rest if flag.startsWith("--") =>
        parse(rest, acc + (flag.drop(2) -> value))
      case other :: _ =>
        throw new IllegalArgumentException(s"unexpected argument: $other")
    }
}
