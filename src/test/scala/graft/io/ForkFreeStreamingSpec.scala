package graft.io

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Derived, Normalizer}
import graft.streaming.{MetricsStream, Sinks, TempDirs}

/** Regression guard for the fork-free local filesystem: the app's two
  * streaming queries (partitioned JSONL sink, stateful metrics window)
  * start, run micro-batches and stop without starting a single OS
  * process. JFR's `jdk.ProcessStart` event counts every
  * `ProcessBuilder.start`, so the guard needs no timing: the stock
  * filesystem forks a `chmod` per created file and a `readlink` per
  * rename side, the fork-free one none.
  */
class ForkFreeStreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` under a JFR recording of process starts only; returns
    * its result and the recorded starts. */
  private def processStarts[A](body: => A): (A, Seq[RecordedEvent]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutThreshold().withStackTrace()
    rec.start()
    val result = try body finally rec.stop()
    val dump = Files.createTempFile("graft-fork-guard", ".jfr")
    try {
      rec.dump(dump)
      (result, RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  /** Runs `body` while the cleaner thread of Spark's `ArtifactManager` is
    * parked inside a sentinel cleanup action. That cleaner deletes the
    * artifact directory of every SparkSession the GC collects through
    * `rm -rf`, on its one thread; a session an earlier suite left behind
    * could otherwise be collected, and its directory deleted, inside the
    * recording. Held, the thread runs those cleanups after `body`. */
  private def withArtifactCleanerHeld[A](body: => A): A = {
    val module = Class.forName("org.apache.spark.sql.artifact.ArtifactManager$")
      .getField("MODULE$").get(null)
    val cleaner = module.getClass
      .getMethod("org$apache$spark$sql$artifact$ArtifactManager$$cleaner")
      .invoke(module).asInstanceOf[java.lang.ref.Cleaner]
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    cleaner.register(new Object, () => { held.countDown(); release.await() })
    try {
      var gcs = 0
      while (!held.await(100, TimeUnit.MILLISECONDS)) {
        gcs += 1
        assert(gcs <= 100, "the artifact cleaner never ran the sentinel")
        System.gc()
      }
      body
    } finally release.countDown()
  }

  private def describe(e: RecordedEvent): String =
    e.getString("command") + Option(e.getStackTrace).toSeq
      .flatMap(_.getFrames.asScala.take(12))
      .map(f => s"\n    at ${f.getMethod.getType.getName}.${f.getMethod.getName}")
      .mkString

  test("the recording sees a process start (control)") {
    val (_, starts) = processStarts(new ProcessBuilder("true").start().waitFor())
    assert(starts.size == 1)
  }

  test("JSONL sink and stateful metrics stream: 3 micro-batches start no process") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs.scratch(s"graft_fork_guard_${System.nanoTime()}")
    val mem = MemoryStream[(String, Long, Long, Long, Long)]
    val events = Normalizer.normalize(mem.toDF()
      .toDF("raw", "ts_recv_epoch_ms", "ts_recv_mono_ns", "ts_decoded_mono_ns", "ts_proc_mono_ns"))
    val base = 1738195200000L
    def frames(round: Int) = for {
      sym <- Seq("BTC-USDT", "ETH-USDT", "SOL-USDT")
      i <- 0 until 10
    } yield {
      val ts = base + round * 1000L + i * 50
      val raw = if (i % 3 == 2)
        s"""{"arg":{"channel":"trades","instId":"$sym"},"data":[{"ts":"$ts","px":"100.5","sz":"0.25","side":"buy","tradeId":"$round$i"}]}"""
      else
        s"""{"arg":{"channel":"books5","instId":"$sym"},"data":[{"ts":"$ts","bids":[["100.4","1.5","0","2"]],"asks":[["100.6","0.5","0","1"]]}]}"""
      (raw, ts + 7, ts * 1000000L, ts * 1000000L + 9000, ts * 1000000L + 21000)
    }

    // Forks that are Spark's, not the filesystem's, kept out of the
    // recording: the once-per-JVM page-size probe (`getconf PAGESIZE`,
    // run by the driver heartbeater at its first beat), and the `rm -rf`
    // of a RocksDB store's local dir when the background maintenance
    // thread unloads a store an earlier stream in this JVM left loaded.
    // A collected session's artifact-directory `rm -rf` is held off by
    // withArtifactCleanerHeld.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    StateStore.stop()
    val (q, starts) = withArtifactCleanerHeld(processStarts {
      val queries = Seq(
        Sinks.jsonl(events, new File(dir, "jsonl").getPath, new File(dir, "ckpt/jsonl").getPath).start(),
        MetricsStream.latencyPercentiles(Derived.withLatencies(events),
            "lat_ex_to_recv_ms", timestamp_millis(col("ts_recv_epoch_ms")))
          .writeStream.outputMode("update").format("noop")
          .option("checkpointLocation", new File(dir, "ckpt/metrics").getPath)
          .start())
      try {
        for (round <- 0 until 3) {
          mem.addData(frames(round))
          queries.foreach(_.processAllAvailable())
        }
      } finally queries.foreach(_.stop())
      queries.head
    })

    assert(q.exception.isEmpty)
    assert(q.lastProgress.batchId == 2, "expected exactly 3 JSONL micro-batches")
    assert(spark.read.text(new File(dir, "jsonl").getPath).count() == 3 * 30)
    assert(starts.isEmpty,
      s"${starts.size} process start(s) during the streaming run:\n" + starts.map(describe).mkString("\n"))
  }
}
