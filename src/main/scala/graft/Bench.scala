package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.obs.Recorder

object Bench {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Outcome of a full warmup+timed sampling pass.
    *
    * The failure taxonomy keeps three distinct buckets so a broken query can
    * never improve the bench (round-6 postmortem) while a flaky-but-
    * measurable one still reports an honest min:
    *  - `failed`: zero successful timed samples — excluded from `results`
    *    and the total, forces a nonzero exit;
    *  - `flaky`: failed ≥1 timed round but has ≥1 successful sample — its
    *    min is real, but the run still exits nonzero so the breakage
    *    surfaces in the driver artifact;
    *  - `warmupOnly`: failed only the untimed sf0.001 warmup pass — reported
    *    but does not fail the run (every timed number behind the totals is
    *    real).
    *
    * Contamination accounting (round-13: the r12 artifact recorded q41 at
    * 5.7× its real wall because all three samples straddled a host storm —
    * 170/312 queries had spread >1.5 in one run):
    *  - `resampled`: queries whose initial samples spread wider than the
    *    bound and earned extra timed samples;
    *  - `contaminated`: queries STILL wider than the bound after the extra
    *    samples — their min is the honest floor of every sample taken, but
    *    the artifact flags that no storm-free steady state was observed;
    *  - `resampleFailed`: queries that errored during a contamination-
    *    handling EXTRA round (r13 ADVICE). Kept OUT of `flaky`/`failed`
    *    and out of the exit-code gate: every pinned `nRounds` sample
    *    passed, so the query's min is as real as the pre-r13 contract
    *    ever required — a storm must not be able to fail a bench run by
    *    merely triggering resampling. Reported alongside `contaminated`
    *    so the artifact still shows the extra sample was attempted;
    *  - `spreadWindow`: the reported `spread` is max/min over each query's
    *    FASTEST `spreadWindow` samples, so a cured query's storm samples
    *    stop polluting the stability column while its min (all samples)
    *    is unchanged. Non-resampled queries have ≤ `spreadWindow` samples,
    *    so their spread semantics are exactly the pre-r13 max/min.
    */
  final case class Run(
      sampleRounds: IndexedSeq[Map[String, Double]],
      results: Seq[(String, Double)],
      failed: Array[String],
      flaky: Array[String],
      warmupOnly: Array[String],
      timedFailed: Map[String, String],
      warmupFailed: Map[String, String],
      resampled: Array[String] = Array.empty,
      contaminated: Array[String] = Array.empty,
      resampleFailed: Map[String, String] = Map.empty,
      spreadWindow: Int = Int.MaxValue,
      spreadBound: Double = 1.5,
      stageTotals: Map[String, Recorder.Totals] = Map.empty)

  def exitCode(r: Run): Int = if (r.failed.nonEmpty || r.flaky.nonEmpty) 1 else 0

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** max/min over the FASTEST `window` samples (all of them when the query
    * has ≤ `window`). Guarded: a zero/NaN sample would render as
    * Infinity/NaN, which is not valid JSON and would break every
    * downstream consumer — report 1.0 (single-sample semantics) instead.
    */
  private[graft] def windowSpread(times: Seq[Double], window: Int): Double = {
    if (times.size < 2) return 1.0
    val w = times.sorted.take(math.min(times.size, math.max(2, window)))
    val ratio = if (w.head <= 0) 1.0 else w.last / w.head
    if (ratio.isNaN || ratio.isInfinite) 1.0 else ratio
  }
  private def names(a: Array[String]): String =
    a.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The full bench_out.json line (testable: VerifyBenchContractSpec pins
    * the format). `queries` carries each query's MIN across ALL timed
    * samples (including contamination-handling extras); `spread` carries
    * max/min across the query's fastest `spreadWindow` samples — the
    * drift-legibility column from the r9 review: two same-evening HEAD
    * runs differed 336 vs 405 s from uniform host drift, and without a
    * per-query spread a wall-time delta can't be classified as regression
    * vs noise from one artifact. spread ≈ 1 ⇒ the min is a stable
    * steady-state number; spread ≫ 1 ⇒ the query is in `contaminated`:
    * even its extra samples straddled a host/JIT storm and its min is the
    * honest floor (single-sample queries report 1.0 by construction).
    * `resampled`/`contaminated` make the r12 failure mode legible: a
    * nonzero n_contaminated says the artifact's totals include storm
    * floors, not engine regressions. `cpus` is the session's task-slot
    * count, so a reader can tell which core count produced the line.
    */
  def resultJson(run: Run, sfDir: String, cpus: Int,
      stageWall: Map[String, Double] = Map.empty): String = {
    val qs = run.results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // stage_wall: per-query stage-attributed wall of the SAME round that
    // produced the reported min. This folds the drift adjudication into
    // the primary artifact (VERDICT r10 ask #6): wall ≫ stage_wall with
    // spread ≈ 1 reads as host/harness drift hitting every sample; wall ≈
    // stage_wall reads as real plan cost — previously a reader needed
    // bench_stages.json + NOTES side by side to classify a delta.
    val sw = run.results.map { case (k, _) =>
      "\"" + k + "\":" + f3(stageWall.getOrElse(k, 0.0))
    }.mkString("{", ",", "}")
    val spread = run.results.map { case (k, _) =>
      "\"" + k + "\":" + f3(windowSpread(run.sampleRounds.flatMap(_.get(k)), run.spreadWindow))
    }.mkString("{", ",", "}")
    val total = if (run.results.nonEmpty) run.results.map(_._2).sum else 0.0
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
      s""""spread":$spread,"stage_wall":$sw,""" +
      s""""resampled":${names(run.resampled)},"n_resampled":${run.resampled.length},""" +
      s""""contaminated":${names(run.contaminated)},"n_contaminated":${run.contaminated.length},""" +
      s""""resample_failed":${names(run.resampleFailed.keys.toArray.sorted)},""" +
      s""""n_resample_failed":${run.resampleFailed.size},""" +
      s""""failed":${names(run.failed)},"n_failed":${run.failed.length},""" +
      s""""flaky":${names(run.flaky)},"warmup_failed":${names(run.warmupOnly)},""" +
      s""""cpus":$cpus,"sf":"$sfDir"}"""
  }

  /** Testable core (VerifyBenchContractSpec): untimed warmup at `warmDir`,
    * then `nRounds` interleaved timed rounds at `sfDir`, min per query. */
  /** @param memoBuild queries whose FIRST invocation per (JVM, sfDir) pays
    *   a one-time build (q301/q302's bucketed table write — the ingest
    *   cost a production layout pays once). They get one extra untimed
    *   pass at `sfDir` before the timed rounds, so their reported min and
    *   spread describe the steady-state query, not sample 1's build
    *   (VERDICT r11 ask #4: q301's spread read 3.0 purely from the
    *   memo-priming sample).
    */
  /** @param spreadBound per-query spread above which the initial samples
    *   are treated as storm-contaminated and the query is re-sampled
    *   (round-13 contamination handling); `maxExtraRounds` bounds the
    *   extra interleaved rounds so a genuinely bimodal query terminates
    *   as `contaminated` instead of looping.
    */
  /** @param fakeClockForTest test-only seam (VerifyBenchContractSpec):
    *   maps a sample tag ("name@r0", "name@w", …) to a FAKE duration in
    *   seconds, replacing the wall clock for that sample. The
    *   contamination tests used to encode storm/steady-state shapes as
    *   real `Thread.sleep` ratios, which a loaded CI host could push
    *   across the spread bound and flake the very test that certifies
    *   storm handling (r13 ADVICE) — injected durations pin the logic,
    *   not host timing. Production callers never pass it.
    */
  def sample(spark: SparkSession, ordered: Seq[(String, QueryFn)], sfDir: String,
      warmDir: String, nRounds: Int,
      memoBuild: Set[String] = Set.empty, spreadBound: Double = 1.5,
      maxExtraRounds: Int = 2,
      fakeClockForTest: String => Option[Double] = _ => None): Run = {
    val timedFailed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val warmupFailed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // Each sample's stage totals, keyed by its tag. Samples run strictly
    // one at a time, so a window around the sample also holds the jobs a
    // streaming gate runs on its stream thread (r11: q111's stage_wall read
    // 0.49 s against a 3.2 s wall while those jobs went unattributed).
    val stageTotals = new java.util.concurrent.ConcurrentHashMap[String, Recorder.Totals]()
    val recorder = Recorder(spark)
    def runOnce(name: String, fn: QueryFn, dir: String, tag: String,
        failSink: java.util.concurrent.ConcurrentHashMap[String, String]): Option[Double] =
      try {
        val (sec, w) = recorder.measure {
          val t0 = System.nanoTime()
          // noop sink forces full materialization of every output column
          // (a bare .count() would let Catalyst prune the computed columns
          // away and under-report the real work).
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          fakeClockForTest(tag).getOrElse((System.nanoTime() - t0) / 1e9)
        }
        stageTotals.put(tag, w.totals)
        Some(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED ($tag): ${e.getMessage}")
        failSink.put(name, Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        None
      }

    // Untimed warmup of every query, streaming gates included, at the
    // smallest SF only: compiles each query's generated code so timed
    // rounds measure data processing, not one-time codegen.
    ordered.foreach { case (name, fn) =>
      runOnce(name, fn, warmDir, s"$name@w", warmupFailed)
    }

    // Untimed memo-priming pass at the TIMED dir for one-time-build
    // queries: the sf0.001 warmup above primes their memo for the warm
    // dir only, so without this pass round 0 at sfDir would bill the
    // bucketed-table write to the query and inflate its spread.
    ordered.foreach { case (name, fn) =>
      if (memoBuild(name)) runOnce(name, fn, sfDir, s"$name@m", warmupFailed)
    }

    // Min-of-N timed samples, INTERLEAVED round-robin (JMH-style min):
    // the JVM suffers sporadic time-localized slowdowns (JIT deopt storms,
    // host CPU-steal windows) that can last several seconds — consecutive
    // samples of one query land in the same storm, but samples a full
    // sweep apart don't, so min-per-query across separated rounds measures
    // the steady state a resident cluster session delivers.
    val baseRounds = (0 until nRounds).map { r =>
      ordered.flatMap { case (name, fn) =>
        runOnce(name, fn, sfDir, s"$name@r$r", timedFailed).map(name -> _)
      }.toMap
    }

    // Contamination handling (round 13): a host storm that straddles ALL
    // of a query's initial samples inflates its reported min 2-6× (the r12
    // artifact's q41 read 16.1 s against a 3.4 s steady state). A query
    // whose samples spread wider than `spreadBound` gets up to
    // `maxExtraRounds` extra interleaved samples — time-separated from the
    // storm window — until the fastest-`nRounds` window tightens under the
    // bound. min stays min over ALL samples (extras can only improve it);
    // queries still wide after the budget are reported `contaminated`.
    var rounds: IndexedSeq[Map[String, Double]] = baseRounds
    def spreadOf(name: String): Double =
      windowSpread(rounds.flatMap(_.get(name)), nRounds)
    var suspects: Set[String] = ordered.collect {
      case (name, _) if spreadOf(name) > spreadBound => name
    }.toSet
    val everResampled = scala.collection.mutable.TreeSet.empty[String]
    // extra-round failures go to their OWN sink: a query only reaches an
    // extra round with nRounds successful samples behind it, so an error
    // here must not reclassify it flaky / fail the run (r13 ADVICE — a
    // storm could otherwise fail a bench whose pinned rounds all passed)
    val extraFailed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    var extra = 0
    while (suspects.nonEmpty && extra < maxExtraRounds) {
      val r = nRounds + extra
      val m = ordered.flatMap { case (name, fn) =>
        if (!suspects(name)) None
        else {
          everResampled += name
          runOnce(name, fn, sfDir, s"$name@r$r", extraFailed).map(name -> _)
        }
      }.toMap
      rounds = rounds :+ m
      suspects = suspects.filter(n => spreadOf(n) > spreadBound)
      extra += 1
    }

    val sampleRounds = rounds
    val results = ordered.flatMap { case (name, _) =>
      val times = sampleRounds.flatMap(_.get(name))
      if (times.isEmpty) None else Some(name -> times.min)
    }
    val succeeded = results.map(_._1).toSet
    val timedFailedNames = timedFailed.keySet().toArray(Array.empty[String]).sorted
    import scala.jdk.CollectionConverters._
    Run(
      sampleRounds = sampleRounds,
      results = results,
      failed = timedFailedNames.filterNot(succeeded),
      flaky = timedFailedNames.filter(succeeded),
      warmupOnly = warmupFailed.keySet().toArray(Array.empty[String]).sorted
        .filterNot(timedFailed.containsKey(_)),
      timedFailed = timedFailed.asScala.toMap,
      warmupFailed = warmupFailed.asScala.toMap,
      resampled = everResampled.toArray,
      contaminated = everResampled.filter(n => spreadOf(n) > spreadBound).toArray,
      resampleFailed = extraFailed.asScala.toMap,
      spreadWindow = nRounds,
      spreadBound = spreadBound,
      stageTotals = stageTotals.asScala.toMap)
  }

  /** Totals of the sample `run` took of `name` in round `r` (zeros when it
    * has none). */
  private def totalsAt(run: Run, name: String, r: Int): Recorder.Totals =
    run.stageTotals.getOrElse(s"$name@r$r", Recorder.Totals(0, 0, 0, 0, 0))

  /** Per-query stage wall (s) of the round that produced the reported min,
    * for [[resultJson]]'s `stage_wall`. */
  private[graft] def stageWallAtMin(run: Run): Map[String, Double] =
    run.results.map { case (name, best) =>
      // indices cover contamination-handling extra rounds past nRounds
      val r = run.sampleRounds.indices
        .find(i => run.sampleRounds(i).get(name).contains(best)).getOrElse(0)
      name -> totalsAt(run, name, r).stageWallMs / 1e3
    }.toMap

  /** bench_stages.json: the stage totals of every successful timed sample
    * of each of `names`. */
  private[graft] def stagesJson(run: Run, names: Seq[String]): String =
    names.map { name =>
      val rounds = run.sampleRounds.indices.flatMap { r =>
        run.sampleRounds(r).get(name).map { wall =>
          val t = totalsAt(run, name, r)
          s"""{"wall":${f3(wall)},"stage_wall":${f3(t.stageWallMs / 1e3)},""" +
            s""""run_ms":${t.runMs},"cpu_ms":${t.cpuMs},"gc_ms":${t.gcMs},"n_stages":${t.nStages}}"""
        }
      }.mkString("[", ",", "]")
      s""""$name":$rounds"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.get("graft-bench", cpus)

    // GRAFT_BENCH_ONLY: dev-only comma-list filter (scale-sanity runs
    // over the top-N heaviest queries at the 10× fixture — see
    // docs/SCALING.md). The driver never sets it, so the per-round bench
    // always covers the full registry.
    val only: Option[Set[String]] =
      sys.env.get("GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val warmDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    }
    // GRAFT_BENCH_ROUNDS: dev-only override for the sf10 third-decade runs
    // (docs/SCALING.md): at 100× a timed round is ~an hour of compute, and
    // the question there is asymptotic SHAPE, not steady-state min — one
    // timed round after the untimed warmup answers it at a third the cost.
    // The driver never sets it, so per-round bench numbers stay min-of-3.
    val nRounds = sys.env.get("GRAFT_BENCH_ROUNDS").map { v =>
      val n = v.toInt
      // a zero/negative round count would emit an empty run with total
      // 0.0 and exit 0 — silently clobbering the checked-in artifact
      require(n >= 1, s"GRAFT_BENCH_ROUNDS must be >= 1, got $v")
      n
    }.getOrElse(3)
    val memoBuild = Set("q301_bucketed_fact_join", "q302_bucket_pruning",
      "q307_bloom_file_skip", "q315_bloom_index_append")
    val run = sample(spark, ordered, sfDir, warmDir, nRounds, memoBuild)

    run.results.foreach { case (name, sec) =>
      val times = run.sampleRounds.flatMap(_.get(name))
      System.err.println(s"[bench-q] $name ${f3(sec)} s (samples ${times.map(f3).mkString("/")})")
    }
    run.failed.foreach(n => System.err.println(s"[bench-q] $n FAILED (no successful sample): ${run.timedFailed(n)}"))
    run.flaky.foreach(n => System.err.println(s"[bench-q] $n FLAKY (failed ≥1 timed round): ${run.timedFailed(n)}"))
    run.warmupOnly.foreach(n => System.err.println(s"[bench-q] $n warmup-only failure: ${run.warmupFailed(n)}"))
    if (run.resampled.nonEmpty)
      System.err.println(s"[bench] resampled (initial spread > ${run.spreadBound}): ${run.resampled.mkString(", ")}")
    if (run.contaminated.nonEmpty)
      System.err.println(s"[bench] contaminated (still > ${run.spreadBound} after extras): ${run.contaminated.mkString(", ")}")
    val failedJson = names(run.failed)
    val total = if (run.results.nonEmpty) run.results.map(_._2).sum else 0.0
    // Per-query stage_wall of the round that produced the reported min —
    // paired so "wall ≫ stage_wall" is readable from bench_out.json alone.
    // the task slots the session really runs with (local[N] → N)
    val slots = spark.sparkContext.defaultParallelism
    val json = resultJson(run, sfDir, slots, stageWallAtMin(run))

    // Persist full artifacts next to the repo (the captured process tail
    // retains only ~2 KB, which truncates a 161-query map): bench_out.json
    // is the complete result line; bench_stages.json attributes every
    // (query, round) to its stage-level profile so a wall-time delta can
    // be classified as plan change vs host noise in one read.
    // A GRAFT_BENCH_ONLY-filtered run writes *_partial artifacts instead:
    // a subset total is shape-identical to a full-run line, and clobbering
    // the checked-in full-registry artifact would read as a huge
    // regression/improvement to any later comparison.
    val suffix = if (only.isDefined) "_partial" else ""
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"bench_out$suffix.json"), json + "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"bench_stages$suffix.json"),
        stagesJson(run, ordered.map(_._1)) + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }

    // The JSON line must be the LAST line of the process's combined output:
    // a consumer that merges stdout+stderr and parses the final line would
    // otherwise trip over Spark's stop/shutdown-hook logging. So: silence
    // all logging, stop Spark (its stop-time log lines are now suppressed),
    // drain stderr, THEN print the JSON.
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    spark.stop()
    System.err.flush()
    // Print the full line first (complete-capture consumers), then a
    // compact final line guaranteed to fit a ~2 KB tail capture: the
    // 161-name full map is ~3.2 KB, which truncated every BENCH_r0*.json
    // to parsed:null — the compact line carries the total, the 20
    // slowest queries, and a pointer to bench_out.json for the rest.
    val top = run.results.sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    print(s"\n$json\n")
    print(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$top,""" +
      s""""queries_truncated":true,"n_queries":${run.results.size},""" +
      s""""failed":$failedJson,"n_failed":${run.failed.length},""" +
      s""""flaky":${names(run.flaky)},"warmup_failed":${names(run.warmupOnly)},""" +
      s""""queries_file":"bench_out.json","cpus":$slots,"sf":"$sfDir"}\n""")
    System.out.flush()
    // Nonzero rc on any timed failure (hard or flaky): breakage must surface
    // in the driver's BENCH artifact, never masquerade as a fast run.
    // Warmup-only failures are reported above but don't fail the run — every
    // timed sample behind the totals is real.
    if (exitCode(run) != 0) sys.exit(exitCode(run))
  }
}
