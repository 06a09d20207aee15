package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.AtomicInteger

/** Pins the LOUD-failure contract of the two driver entry points (the
  * round-6 failure mode was a query erroring *silently* — absent from
  * CORRECTNESS because no parquet dir existed, and improving BENCH because
  * it failed in 0.05 s):
  *
  *  - Verify: a failing query still yields outDir/<name> as a 1-row
  *    `_graft_error` marker parquet (visible schema/hash mismatch in the
  *    driver compare) and an errors.json entry; healthy queries dump
  *    normally.
  *  - Bench: a query with zero successful timed samples is excluded from
  *    the results/total and classified `failed`; a query that fails only
  *    some timed rounds is `flaky` (honest min, still nonzero exit); a
  *    query that fails only the untimed warmup is `warmupOnly` (reported,
  *    zero exit). Both failed and flaky force a nonzero exit code.
  */
class VerifyBenchContractSpec extends SparkSpec {

  private def withTempDir[A](f: String => A): A = {
    val base = java.nio.file.Files.createTempDirectory("graft-contract")
    try f(base.toString)
    finally {
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_: Path))
    }
  }

  private val good: Bench.QueryFn = (s: SparkSession, _: String) => {
    import s.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "v")
  }

  test("Verify writes _graft_error marker parquet + errors.json for a failing query") {
    withTempDir { out =>
      val broken: Bench.QueryFn =
        (_, _) => throw new RuntimeException("boom: deliberate contract-spec failure")
      val errors = Verify.run(spark,
        Seq("q_good" -> good, "q_broken" -> broken), "/root/testdata/sf0.001", out)

      // Healthy query dumps normally.
      val g = spark.read.parquet(s"$out/q_good")
      assert(g.count() == 2 && g.columns.sameElements(Array("id", "v")))
      assert(!errors.contains("q_good"))

      // Failing query is never an absence: marker parquet exists, carries
      // the sentinel column and the message.
      val m = spark.read.parquet(s"$out/q_broken")
      assert(m.columns.sameElements(Array("_graft_error")))
      val msg = m.collect().map(_.getString(0)).mkString
      assert(msg.contains("boom"))
      assert(errors.keySet == Set("q_broken") && errors("q_broken").contains("boom"))

      // errors.json round-trips the entry.
      Verify.writeErrorsJson(out, errors)
      val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/errors.json"))
      assert(json.contains("\"q_broken\"") && json.contains("boom"))
    }
  }

  test("Bench classifies failed/flaky/warmup-only and exits nonzero on timed failures") {
    val dir = "/root/testdata/sf0.001"
    val alwaysBroken: Bench.QueryFn =
      (_, _) => throw new RuntimeException("always broken")
    // Call order per query under sample(): warmup, round 0, round 1.
    val flakyCalls = new AtomicInteger(0)
    val flaky: Bench.QueryFn = (s, d) => {
      if (flakyCalls.incrementAndGet() == 3) throw new RuntimeException("flaky round")
      good(s, d)
    }
    val warmCalls = new AtomicInteger(0)
    val warmupOnly: Bench.QueryFn = (s, d) => {
      if (warmCalls.incrementAndGet() == 1) throw new RuntimeException("warmup only")
      good(s, d)
    }

    // spreadBound = MaxValue here: contamination handling has its own
    // deterministic test below; tiny-DF noop saves can jitter >1.5×.
    val run = Bench.sample(spark,
      Seq("q_broken" -> alwaysBroken, "q_flaky" -> flaky, "q_good" -> good,
        "q_warm" -> warmupOnly),
      sfDir = dir, warmDir = dir, nRounds = 2,
      spreadBound = Double.MaxValue)

    assert(run.failed.sameElements(Array("q_broken")))
    assert(run.flaky.sameElements(Array("q_flaky")))
    assert(run.warmupOnly.sameElements(Array("q_warm")))
    val resultNames = run.results.map(_._1).toSet
    // Excluded from results/total: only the zero-sample query.
    assert(resultNames == Set("q_flaky", "q_good", "q_warm"))
    assert(run.results.forall(_._2 > 0))
    // Flaky still has exactly one honest sample (round 1 failed).
    assert(run.sampleRounds(0).contains("q_flaky") && !run.sampleRounds(1).contains("q_flaky"))
    assert(Bench.exitCode(run) == 1)

    // A fully-green registry exits 0 with empty failure buckets.
    val clean = Bench.sample(spark, Seq("q_good" -> good), dir, dir, 2,
      spreadBound = Double.MaxValue)
    assert(clean.failed.isEmpty && clean.flaky.isEmpty && clean.warmupOnly.isEmpty)
    assert(Bench.exitCode(clean) == 0)

    // bench_out.json format: value is min-of-samples per query, and the
    // `spread` object carries max/min for EVERY reported query — the
    // drift-legibility column (BENCH_r10 contract). A flaky query's
    // single sample yields spread exactly 1.0.
    val json = Bench.resultJson(run, dir, 4, Map("q_good" -> 0.123))
    assert(json.startsWith("""{"metric":"total","value":"""), json)
    assert(json.contains(""""spread":{"""), json)
    // stage_wall: drift-adjudication column (VERDICT r10 ask #6) — every
    // reported query appears; provided values round-trip, absent → 0.000.
    assert(json.contains(""""stage_wall":{"""), json)
    val stageObj = json.split("\"stage_wall\":\\{", 2)(1).split("\\}", 2)(0)
    assert(stageObj.contains("\"q_good\":0.123"), json)
    assert(stageObj.contains("\"q_flaky\":0.000"), json)
    for (n <- resultNames) {
      assert(json.contains("\"" + n + "\":"), s"$n missing from json: $json")
      val spreadObj = json.split("\"spread\":\\{", 2)(1).split("\\}", 2)(0)
      assert(spreadObj.contains("\"" + n + "\":"), s"$n missing from spread: $json")
      assert(stageObj.contains("\"" + n + "\":"), s"$n missing from stage_wall: $json")
    }
    val spreadObj = json.split("\"spread\":\\{", 2)(1).split("\\}", 2)(0)
    val flakySpread = spreadObj.split("\"q_flaky\":", 2)(1).takeWhile(c => c.isDigit || c == '.')
    assert(flakySpread.toDouble == 1.0, s"single-sample spread must be 1.0: $json")
    // every spread is >= 1 (max/min of positive samples)
    val allSpreads = spreadObj.split(",").map(_.split(":")(1).toDouble)
    assert(allSpreads.forall(_ >= 1.0), json)
    assert(json.contains(""""failed":["q_broken"]"""), json)
    // contamination columns are ALWAYS present (empty here: nothing
    // tripped the — disabled — bound), so a consumer can key on them
    assert(json.contains(""""resampled":[],"n_resampled":0"""), json)
    assert(json.contains(""""contaminated":[],"n_contaminated":0"""), json)
    // the session's task slots ride in the line, so a consumer can tell
    // which core count produced it
    assert(json.endsWith(s""""cpus":4,"sf":"$dir"}"""), json)
  }

  test("Bench resamples storm-straddled queries and flags unresolved ones contaminated") {
    val dir = "/root/testdata/sf0.001"
    // Sample durations are INJECTED per tag (fakeClockForTest), not
    // encoded as Thread.sleep ratios: a loaded CI host could stretch two
    // "fast" real samples past the 1.5× bound and flake the very test
    // that certifies storm handling (r13 ADVICE). The queries run real
    // noop saves; only the recorded duration is fake.
    //
    // q_storm reproduces the r12 q41 failure mode: a host storm inflates
    // round 0, while every later sample sees the steady state — so one
    // extra sample must cure it and the reported fastest-window spread
    // must fall back ≤ bound.
    // q_bimodal has NO steady state: fast once (round 0), slow on every
    // later sample — the extra-round budget exhausts and it must be
    // reported contaminated, with the honest min kept from the fast sample.
    val fake: String => Option[Double] = {
      case "q_storm@r0" => Some(2.4)
      case t if t.startsWith("q_storm@r") => Some(0.4)
      case "q_bimodal@r0" => Some(0.4)
      case t if t.startsWith("q_bimodal@r") => Some(2.4)
      case _ => None // warmup tags: untimed, real clock is fine
    }
    val run = Bench.sample(spark,
      Seq("q_bimodal" -> good, "q_storm" -> good),
      sfDir = dir, warmDir = dir, nRounds = 2,
      spreadBound = 1.5, maxExtraRounds = 2, fakeClockForTest = fake)

    assert(run.resampled.sameElements(Array("q_bimodal", "q_storm")),
      run.resampled.mkString(","))
    assert(run.contaminated.sameElements(Array("q_bimodal")),
      run.contaminated.mkString(","))
    // extra rounds were appended past the base nRounds, and the cured
    // query stopped being resampled once its window tightened
    assert(run.sampleRounds.size == 4, run.sampleRounds.toString)
    assert(run.sampleRounds(2).contains("q_storm") &&
      !run.sampleRounds(3).contains("q_storm"))
    // min is over ALL samples: the storm sample never becomes the floor
    val stormMin = run.results.toMap.apply("q_storm")
    assert(stormMin < 1.5, s"storm sample leaked into the min: $stormMin")
    assert(run.results.toMap.apply("q_bimodal") < 1.5)

    val json = Bench.resultJson(run, dir, 4)
    assert(json.contains(""""resampled":["q_bimodal","q_storm"],"n_resampled":2"""), json)
    assert(json.contains(""""contaminated":["q_bimodal"],"n_contaminated":1"""), json)
    def spreadOf(q: String): Double = {
      val spreadObj = json.split("\"spread\":\\{", 2)(1).split("\\}", 2)(0)
      spreadObj.split("\"" + q + "\":", 2)(1)
        .takeWhile(c => c.isDigit || c == '.').toDouble
    }
    // cured: the fastest-nRounds window excludes the storm sample
    assert(spreadOf("q_storm") <= 1.5, json)
    // unresolved: even the window straddles the two modes
    assert(spreadOf("q_bimodal") > 1.5, json)
  }

  test("Bench keeps extra-round failures out of flaky/failed and the exit code") {
    val dir = "/root/testdata/sf0.001"
    // r13 ADVICE: a query reaches an extra round only with nRounds
    // successful samples behind it, so an error THERE (e.g. a storm
    // timing out a resample) must not reclassify it flaky and fail a run
    // whose pinned rounds all passed. Calls: 1 = warmup, 2 = r0, 3 = r1
    // (wide spread via the fake clock), 4/5 = both extra rounds fail.
    val calls = new AtomicInteger(0)
    val wideThenBroken: Bench.QueryFn = (s, d) => {
      if (calls.incrementAndGet() >= 4) throw new RuntimeException("extra-round storm")
      good(s, d)
    }
    val fake: String => Option[Double] = {
      case "q_wide@r0" => Some(2.4)
      case t if t.startsWith("q_wide@r") => Some(0.4)
      case _ => None
    }
    val run = Bench.sample(spark, Seq("q_wide" -> wideThenBroken),
      sfDir = dir, warmDir = dir, nRounds = 2,
      spreadBound = 1.5, maxExtraRounds = 2, fakeClockForTest = fake)

    // the min over the pinned rounds is reported, the run stays green
    assert(run.results.toMap.apply("q_wide") == 0.4)
    assert(run.failed.isEmpty && run.flaky.isEmpty, run.timedFailed.toString)
    assert(Bench.exitCode(run) == 0)
    // both the attempt and the unresolved spread stay legible
    assert(run.resampled.sameElements(Array("q_wide")))
    assert(run.contaminated.sameElements(Array("q_wide")))
    assert(run.resampleFailed.keySet == Set("q_wide") &&
      run.resampleFailed("q_wide").contains("extra-round storm"))

    val json = Bench.resultJson(run, dir, 4)
    assert(json.contains(""""resample_failed":["q_wide"],"n_resample_failed":1"""), json)
    assert(json.contains(""""flaky":[]"""), json)

    // and the column is always present (empty on a clean run)
    val clean = Bench.sample(spark, Seq("q_good" -> good), dir, dir, 2,
      spreadBound = Double.MaxValue)
    val cleanJson = Bench.resultJson(clean, dir, 4)
    assert(cleanJson.contains(""""resample_failed":[],"n_resample_failed":0"""), cleanJson)
  }

  test("Bench memoBuild queries get one extra untimed priming pass at the timed dir") {
    // Two distinct dirs so the per-dir memo shape is observable: the
    // sf0.001 warmup primes only warmDir's memo, so without the extra
    // pass the first TIMED sample at sfDir pays the one-time build
    // (VERDICT r11 ask #4: q301's spread read 3.0 from exactly this).
    val warmDir = "/root/testdata/sf0.001"
    val sfDir = "/root/testdata/sf0.01"
    val callsAtSfDir = new AtomicInteger(0)
    val memoized: Bench.QueryFn = (s, d) => {
      if (d == sfDir) callsAtSfDir.incrementAndGet(): Unit
      good(s, d)
    }
    // spreadBound = MaxValue: this test counts CALLS, so a jitter-triggered
    // contamination resample would break the arithmetic it pins
    val run = Bench.sample(spark, Seq("q_memo" -> memoized),
      sfDir = sfDir, warmDir = warmDir, nRounds = 2,
      memoBuild = Set("q_memo"), spreadBound = Double.MaxValue)
    // priming pass + 2 timed rounds at sfDir; only the rounds are timed.
    assert(callsAtSfDir.get() == 3)
    assert(run.sampleRounds.map(_.size).sum == 2)
    assert(run.results.map(_._1) == Seq("q_memo") && Bench.exitCode(run) == 0)

    // A priming-pass failure is classified warmup-only (reported, rc 0
    // untouched by it) — the timed samples behind the total stay real.
    val failOnce = new AtomicInteger(0)
    val buildFails: Bench.QueryFn = (s, d) => {
      if (d == sfDir && failOnce.incrementAndGet() == 1)
        throw new RuntimeException("memo build failed")
      good(s, d)
    }
    val run2 = Bench.sample(spark, Seq("q_memo2" -> buildFails),
      sfDir = sfDir, warmDir = warmDir, nRounds = 2,
      memoBuild = Set("q_memo2"), spreadBound = Double.MaxValue)
    assert(run2.warmupOnly.sameElements(Array("q_memo2")))
    assert(run2.results.map(_._1) == Seq("q_memo2") && Bench.exitCode(run2) == 0)
  }

  test("memoBuild queries still perform real reads in their TIMED rounds") {
    // The memo pass may absorb one-time INGEST cost only (bucketed-table
    // writes, Bloom manifests): a memo that cached query RESULTS would
    // make the timed rounds read ~nothing, turning the bench into a
    // result-cache benchmark (r14 verdict ask #8). Prime each memo once
    // (the untimed pass), then run the timed-round shape under an
    // input-bytes listener and require a real scan.
    val sf = "/root/testdata/sf0.001"
    val memoBuild = Seq("q301_bucketed_fact_join", "q302_bucket_pruning",
      "q307_bloom_file_skip", "q315_bloom_index_append")
    memoBuild.foreach { name =>
      val fn = SparkEntry.queries(name)
      // priming pass (memo build billed here, as in Bench's @m pass)
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead): Unit
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        // listener bus is async: drain it so every task-end event has landed
        org.apache.spark.sql.graftbridge.SessionBridge.drainListenerBus(spark)
        assert(bytes.get() > 0L,
          s"$name timed round read zero input bytes — the memo pass is " +
            "absorbing query work, not just ingest")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
