package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Derived, Normalizer}
import graft.streaming.{MetricsStream, Sinks}

/** `live_feed`: the `graft.app.Main` wiring (okx source → Normalizer →
  * JSONL sink plus the 5 s latency-percentile stream, both on 1 s
  * triggers; console off, metrics to `noop`) fed by the [[Feed]] generator.
  *
  * Phases, after a warm-up steady phase and warm-up bursts: a steady phase at
  * `rate` frames/s (latency) and `bursts` backlogs of `burstFrames` frames
  * offered at once (capacity). Each phase starts only when both queries
  * have committed everything offered before it.
  */
object LiveFeed {
  final case class Params(rate: Double, warmSecs: Double, steadySecs: Double,
      burstFrames: Int, warmBursts: Int, bursts: Int, maxBuffer: Int)

  private val stampFields =
    "\"ts_recv_epoch_ms\":-?\\d+,\"ts_recv_mono_ns\":-?\\d+,\"ts_decoded_mono_ns\":-?\\d+,\"ts_proc_mono_ns\":-?\\d+"

  private def masked(c: org.apache.spark.sql.Column) = regexp_replace(c, stampFields, "\"ts_recv\":0")

  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.endOffset)).map(_.trim.stripPrefix("\"").stripSuffix("\"").toLong)
      .getOrElse(0L)

  def run(spark: SparkSession, outDir: String, seed: Long, p: Params,
      spans: Option[Spans], isolate: Boolean): Map[String, Any] = {
    val nWarm = (p.rate * p.warmSecs).toInt
    val nSteady = (p.rate * p.steadySecs).toInt
    val n = nWarm + (p.warmBursts + p.bursts) * p.burstFrames + nSteady
    val (frames, eventsPerFrame) = Feed.generate(seed, n)
    Feed.install(frames)

    val raw = spark.readStream.format("okx")
      .option("provider", classOf[FeedProvider].getName)
      .option("symbols", Feed.symbols.mkString(","))
      .option("channels", "books5,trades")
      .option("maxBuffer", p.maxBuffer.toString)
      .load()
    val events = Normalizer.normalize(raw)
    val jsonl = Sinks.jsonl(events, s"$outDir/jsonl", s"$outDir/ckpt/jsonl")
      .queryName("jsonl").start()
    val metrics = MetricsStream.latencyPercentiles(Derived.withLatencies(events),
        "lat_ex_to_recv_ms", timestamp_millis(col("ts_recv_epoch_ms")))
      .writeStream.outputMode("update").format("noop").queryName("metrics")
      .option("checkpointLocation", s"$outDir/ckpt/metrics")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    val queries = Seq(jsonl, metrics)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (Feed.providers.size < 2) {
      require(System.nanoTime() < deadline, "the okx source did not start its providers")
      Thread.sleep(10)
    }

    var backlogMax = 0L
    var sampling = false
    def offered: Long = { var m = 0L; Feed.providers.forEach(pr => m = math.max(m, pr.emitted.toLong)); m }
    def tick(): Unit = {
      queries.foreach(q => q.exception.foreach(e => throw e))
      if (sampling) backlogMax = math.max(backlogMax, offered - committed(jsonl))
      Thread.sleep(5)
    }
    def awaitCommitted(upTo: Long): Unit = {
      val limit = System.nanoTime() + 60L * 1000000000L
      while (queries.exists(committed(_) < upTo)) {
        require(System.nanoTime() < limit, s"frames up to $upTo were not committed")
        tick()
      }
    }
    var cursor = 0
    def steady(count: Int): Long = {
      val t = System.nanoTime() + 10000000L
      Feed.schedule(cursor, cursor + count, t, p.rate)
      cursor += count
      while (System.nanoTime() < t + (count / p.rate * 1e9).toLong) tick()
      awaitCommitted(cursor)
      t
    }
    def burst(): Unit = {
      Feed.schedule(cursor, cursor + p.burstFrames, System.nanoTime(), Double.PositiveInfinity)
      cursor += p.burstFrames
      awaitCommitted(cursor)
    }
    def phase[A](name: String)(body: => A): A = {
      val t0 = Clock.ms
      val r = body
      spans.foreach(_.add(0, name, t0, Clock.ms, name))
      r
    }

    steady(nWarm)
    (1 to p.warmBursts).foreach(_ => burst())
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val timedStart = Clock.ms
    sampling = true
    val steadyFrom = cursor
    val steadyStartNs = phase("phase.steady")(steady(nSteady))
    val burstFroms = (1 to p.bursts).map { k => val from = cursor; phase(s"phase.burst$k")(burst()); from }
    sampling = false
    val timedEnd = Clock.ms
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val finalOffsets = queries.map(committed)
    val progress = queries.map(q => q.name -> q.recentProgress.map(_.json).toList).toMap
    queries.foreach(_.stop())

    val late = Feed.providers.toArray(Array.empty[FeedProvider])
      .flatMap(_.lateNs.slice(steadyFrom, steadyFrom + nSteady)).sorted
    val lateP99Ms = if (late.isEmpty) 0.0 else late(((late.length - 1) * 0.99).toInt) / 1e6

    // Correctness, outside the timed region: the JSONL lines with the
    // receive stamps masked must equal, as a multiset, Sinks.jsonLine over
    // the same frames normalized in batch.
    import spark.implicits._
    val framesDf = frames.toSeq.toDF("raw").select(col("raw") +:
      Seq("ts_recv_epoch_ms", "ts_recv_mono_ns", "ts_decoded_mono_ns", "ts_proc_mono_ns")
        .map(c => lit(0L).as(c)): _*).cache()
    val expected = Normalizer.normalize(framesDf).select(masked(Sinks.jsonLine).as("line"))
    val written = spark.read.text(s"$outDir/jsonl")
    val actual = written.select(masked(col("value")).as("line"))
    val misfiled = written.filter(!col("value").contains(
      concat(lit("\"symbol\":\""), col("symbol"), lit("\",\"channel\":\""), col("channel"), lit("\""))))
      .select(col("value").as("line"))
    val bad = expected.exceptAll(actual).union(actual.exceptAll(expected)).union(misfiled)
      .select(regexp_extract(col("line"), "\"ts_exchange_ms\":(\\d+)", 1).as("k"))
      .distinct().count()
    val dropped = finalOffsets.map(o => n - o).sum
    // a frame the JSONL query dropped already counts in `bad` (its lines are missing)
    val failedFrames = bad + (n - finalOffsets(1))

    val isolated = if (!isolate) Map.empty[String, Double] else {
      val total = eventsPerFrame.map(_.toLong).sum.toDouble
      def rate(df: => DataFrame): Double = {
        val walls = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        total / walls(1)
      }
      framesDf.count()
      val normalizeRate = rate(Normalizer.normalize(framesDf))
      val normalized = Normalizer.normalize(framesDf).cache()
      normalized.count()
      val lineRate = rate(normalized.select(Sinks.jsonLine))
      normalized.unpersist()
      Map("normalize_events_per_s" -> normalizeRate, "jsonline_events_per_s" -> lineRate)
    }
    framesDf.unpersist()

    Map("timed_start_ms" -> timedStart, "timed_end_ms" -> timedEnd,
      "frames" -> n, "compiles" -> compiles,
      "rate" -> p.rate, "steady_from" -> steadyFrom, "steady_frames" -> nSteady,
      "steady_start_ms" -> Clock.msAt(steadyStartNs),
      "bursts" -> burstFroms.map(from => Map("from" -> from, "frames" -> p.burstFrames,
        "events" -> eventsPerFrame.slice(from, from + p.burstFrames).map(_.toLong).sum)),
      "dropped" -> dropped, "failed_frames" -> failedFrames,
      "backlog_frames_max" -> backlogMax, "late_ms_p99" -> lateP99Ms,
      "progress" -> progress, "isolated" -> isolated)
  }
}
