package graft.streaming

import java.io.{File, IOException}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.operators.Normalizer

/** The native JSONL sink behind `Sinks.jsonl` against Spark's own
  * partitioned text sink, which stays here as its oracle: the same
  * (partition directory, line) multiset, the same partition values read
  * back, per-epoch idempotence under a replay after a cut-off commit, and
  * no staged or `.crc` file left behind.
  */
class JsonlSinkSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val partitionKeys = Seq("exchange", "channel", "event_date", "symbol")

  /** The oracle: Spark's file sink over the same projection. */
  private def sparkFileSink(rows: DataFrame, keys: Seq[String], root: String,
      checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream.format("text").partitionBy(keys: _*)
      .option("path", root).option("checkpointLocation", checkpoint)

  private def nativeSink(rows: DataFrame, root: String, checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream.format(classOf[JsonlSinkProvider].getName)
      .option("path", root).option("checkpointLocation", checkpoint)

  /** (partition directories, line) of every line under `root`. */
  private def dirLines(root: String, keys: Int): Seq[(String, String)] =
    spark.read.text(root)
      .select(regexp_extract(input_file_name(), s"((?:[^/]+/){$keys})[^/]+$$", 1), col("value"))
      .as[(String, String)].collect().toSeq.sortBy(identity)

  private def tempDir(prefix: String): Path =
    TempDirs.register(Files.createTempDirectory(prefix).toFile).toPath

  private def files(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  /** Books and trades for four symbols; ingest stamps straddle a UTC
    * midnight so `event_date` takes two values. */
  private def frames(round: Int) = {
    val midnight = 1738195200000L
    for {
      sym <- Seq("BTC-USDT", "ETH-USDT", "SOL-USDT", "DOGE-USDT")
      i <- 0 until 12
    } yield {
      val ts = midnight - 3000L + round * 2000L + i * 97
      val raw = if (i % 3 == 2)
        s"""{"arg":{"channel":"trades","instId":"$sym"},"data":[{"ts":"$ts","px":"100.5","sz":"0.00001","side":"sell","tradeId":"$round$i"},{"ts":"$ts","px":"1e7","sz":"2","side":"buy","tradeId":"x$round$i"}]}"""
      else
        s"""{"arg":{"channel":"books5","instId":"$sym"},"data":[{"ts":"$ts","bids":[["100.4","1.5","0","2"],["100.3","3","0","1"]],"asks":[["100.6","0.5","0","1"]]}]}"""
      (raw, ts + 7, ts * 1000000L, ts * 1000000L + 9000, ts * 1000000L + 21000)
    }
  }

  private def run(queries: Seq[StreamingQuery])(rounds: Int)(feed: Int => Unit): Unit =
    try {
      for (round <- 0 until rounds) {
        feed(round)
        queries.foreach(_.processAllAvailable())
      }
    } finally queries.foreach(_.stop())

  test("Sinks.jsonl writes the (partition dir, line) multiset of Spark's partitioned text sink") {
    val dir = tempDir("graft-jsonl-sink").toFile
    val mem = MemoryStream[(String, Long, Long, Long, Long)](3)
    val events = Normalizer.normalize(mem.toDF()
      .toDF("raw", "ts_recv_epoch_ms", "ts_recv_mono_ns", "ts_decoded_mono_ns", "ts_proc_mono_ns"))
    val native = new File(dir, "native").getPath
    val oracle = new File(dir, "oracle").getPath
    val projected = events.withColumn("event_date", graft.operators.Derived.eventDate)
      .select((partitionKeys.map(col) :+ Sinks.jsonLine): _*)
    val queries = Seq(
      Sinks.jsonl(events, native, new File(dir, "ckpt-native").getPath).start(),
      sparkFileSink(projected, partitionKeys, oracle, new File(dir, "ckpt-oracle").getPath).start())
    run(queries)(3)(round => mem.addData(frames(round)))

    assert(queries.forall(_.exception.isEmpty))
    assert(queries.head.lastProgress.batchId == 2, "expected exactly 3 JSONL micro-batches")
    val got = dirLines(native, 4)
    assert(got.size == 3 * 4 * (8 + 4 * 2), "every book event and trade fill is one line")
    assert(got.map(_._1).distinct.size == 2 * 2 * 4, "channel x event_date x symbol directories")
    assert(got == dirLines(oracle, 4))

    val left = files(Path.of(native))
    val named = left.filterNot(_.toString.contains(s"/${JsonlSink.LogDir}/"))
    assert(named.forall(_.getFileName.toString.matches("part-\\d{5}-\\d{5}-[0-9a-f-]{36}\\.jsonl")),
      s"unexpected files: ${named.mkString(", ")}")
    assert(!left.exists(p => p.getFileName.toString.startsWith(".") || p.toString.endsWith(".crc")),
      s"staged or checksum files left: ${left.mkString(", ")}")
    assert(!Files.exists(Path.of(native, "_spark_metadata")))
  }

  test("NULL, empty and path-special partition values read back as Spark's sink writes them") {
    val dir = tempDir("graft-jsonl-values").toFile
    val mem = MemoryStream[(Option[String], String)]
    val rows = mem.toDF().toDF("symbol", "value").select(lit("okx").as("exchange"), col("symbol"), col("value"))
    val native = new File(dir, "native").getPath
    val oracle = new File(dir, "oracle").getPath
    val queries = Seq(
      nativeSink(rows, native, new File(dir, "ckpt-native").getPath).start(),
      sparkFileSink(rows, Seq("exchange", "symbol"), oracle, new File(dir, "ckpt-oracle").getPath).start())
    val symbols = Seq(None, Some("A/B=C"), Some("x%y z"), Some(""), Some("BTC-USDT"))
    run(queries)(1)(_ => mem.addData(symbols.zipWithIndex.map { case (s, i) => (s, s"line$i") }))

    def readBack(root: String) =
      spark.read.text(root).select("symbol", "value").as[(String, String)].collect().toSet
    assert(readBack(native) == Set[(String, String)]((null, "line0"), ("A/B=C", "line1"),
      ("x%y z", "line2"), (null, "line3"), ("BTC-USDT", "line4")))
    assert(dirLines(native, 2) == dirLines(oracle, 2))
  }

  /** Spark's calls into the sink for one epoch, without a stream: one
    * writer per partition, then the tasks' commit messages. */
  private class Driver(root: Path) {
    private val schema = StructType(Seq("exchange", "symbol", "value").map(StructField(_, StringType)))
    val write = new JsonlStreamingWrite(root, schema, "query")
    private val factory = write.createStreamingWriterFactory(null)
    private def row(values: String*) = InternalRow(values.map(UTF8String.fromString): _*)

    def tasks(epoch: Long, partitions: Seq[Seq[String]]): Array[WriterCommitMessage] =
      partitions.zipWithIndex.map { case (lines, p) =>
        val w = factory.createWriter(p, p.toLong, epoch)
        try { lines.foreach(l => w.write(row("okx", "BTC-USDT", l))); w.commit() } finally w.close()
      }.toArray

    def lines: Seq[String] = spark.read.text(root.toString).select("value").as[String].collect().toSeq.sorted
  }

  test("a replayed epoch with fewer partitions after a cut-off commit leaves no stale or duplicate line") {
    val root = tempDir("graft-jsonl-replay")
    val d = new Driver(root)
    d.write.commit(0, d.tasks(0, Seq(Seq("e0"))))
    val epoch1 = (0 until 9).map(i => s"e1-$i")

    // the first attempt's third rename hits a directory: the commit stops
    // after renaming two of three files
    val blocker = root.resolve("exchange=okx/symbol=BTC-USDT/part-00001-00002-query.jsonl")
    Files.createDirectories(blocker)
    Files.writeString(blocker.resolve("x"), "")
    intercept[IOException](d.write.commit(1, d.tasks(1, epoch1.grouped(3).toSeq)))
    Files.delete(blocker.resolve("x"))
    Files.delete(blocker)
    assert(d.lines == ("e0" +: epoch1.take(6)).sorted, "the cut-off commit published two files")

    d.write.commit(1, d.tasks(1, Seq(epoch1)))
    assert(d.lines == ("e0" +: epoch1).sorted)
    assert(!files(root).exists(_.getFileName.toString.startsWith(".")), "a staged file survived the replay")

    d.write.commit(2, d.tasks(2, Seq(Seq("e2"))))
    d.write.commit(3, d.tasks(3, Seq(Seq("e3"))))
    val records = root.resolve(JsonlSink.LogDir).resolve("query")
    assert(records.toFile.list().toSet == Set("2", "3"))
  }

  test("a staged file is invisible to spark.read.text until its epoch commits; abort deletes it") {
    val root = tempDir("graft-jsonl-staged")
    val d = new Driver(root)
    d.write.commit(0, d.tasks(0, Seq(Seq("e0"))))
    val staged = d.tasks(1, Seq(Seq("e1a"), Seq("e1b")))
    assert(files(root).count(_.getFileName.toString.startsWith(".")) == 2)
    assert(d.lines == Seq("e0"))
    d.write.abort(1, staged :+ null)
    assert(!files(root).exists(_.getFileName.toString.startsWith(".")))
    d.write.commit(1, d.tasks(1, Seq(Seq("e1a"), Seq("e1b"))))
    assert(d.lines == Seq("e0", "e1a", "e1b"))
  }

  test("a fresh checkpoint into the same root keeps the earlier run's lines; a restart resumes") {
    val dir = tempDir("graft-jsonl-runs").toFile
    val root = new File(dir, "jsonl").getPath
    // a fresh checkpoint gets a new query id, a restart keeps its own
    val first, second = MemoryStream[String]
    def runOnce(mem: MemoryStream[String], checkpoint: String, lines: Seq[String]): Unit = {
      val rows = mem.toDF().select(lit("okx").as("exchange"), col("value"))
      run(Seq(nativeSink(rows, root, new File(dir, checkpoint).getPath).start()))(lines.size) { r =>
        mem.addData(lines(r))
      }
    }
    runOnce(first, "ckpt-a", Seq("line0", "line1"))
    runOnce(second, "ckpt-b", Seq("line2", "line3"))
    runOnce(first, "ckpt-a", Seq("line4", "line5"))
    assert(spark.read.text(root).select("value").as[String].collect().sorted.toSeq ==
      (0 until 6).map(i => s"line$i"))
  }

  test("a non-local root fails at start()") {
    val mem = MemoryStream[String]
    val e = intercept[IllegalArgumentException](
      nativeSink(mem.toDF(), "s3a://bucket/jsonl", tempDir("graft-jsonl-ckpt").toString)
        .start())
    assert(e.getMessage.contains("local paths only"))
  }
}
