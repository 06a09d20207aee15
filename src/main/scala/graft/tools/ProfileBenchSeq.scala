package graft.tools

import graft.GraftSession
import graft.obs.Recorder

/** Dev-only: reproduce Bench's warm-at-sf0.001 / time-at-sf0.1 sequence
  * for a subset of queries, to isolate first-run-at-scale overhead and
  * chase bench-variance outliers. Prints, after each query, per-stage
  * wall/cpu/gc for its stages over 1 s (the attribution an outlier sample
  * needs: WHICH stage inflated, and was it CPU or GC).
  */
object ProfileBenchSeq {

  /** Testable core: warm once at `warmDir`, then time two runs at `sfDir`.
    * Returns (warmSec, firstSec, secondSec). */
  def runSeq(spark: org.apache.spark.sql.SparkSession, name: String,
      warmDir: String, sfDir: String): (Double, Double, Double) = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    fn(spark, warmDir).write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** One SCALING measurement with Bench's contamination contract applied
    * (VERDICT r13 ask #4): `min` is over ALL timed samples, `spread` is
    * max/min over the fastest `nSamples`, and `contaminated` means the
    * extra-sample budget could not tighten the window under the bound —
    * the annotation every docs/SCALING.md row should carry instead of a
    * hand-eyeballed min-of-2 (the r13 q313 row saw a 132 s first / 9.9 s
    * second sample under a host storm with nothing in the artifact
    * saying so).
    */
  final case class Sampled(name: String, min: Double, spread: Double,
      samples: Seq[Double], contaminated: Boolean, warm: Double)

  /** Warm once at `warmDir`, take `nSamples` timed samples at `sfDir`,
    * then — exactly like Bench at sf0.1 — keep sampling (≤ `maxExtra`
    * extras) while the fastest-`nSamples` window spreads wider than
    * `spreadBound`. `fakeSampleForTest` maps timed-sample index → fake
    * duration so the spec pins the resample logic, not host timing
    * (the Bench fakeClockForTest seam, same rationale).
    */
  def runSampled(spark: org.apache.spark.sql.SparkSession, name: String,
      warmDir: String, sfDir: String, nSamples: Int = 2,
      spreadBound: Double = 1.5, maxExtra: Int = 2,
      fakeSampleForTest: Option[Int => Double] = None): Sampled = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    fn(spark, warmDir).write.format("noop").mode("overwrite").save()
    val warm = (System.nanoTime() - t0) / 1e9
    sampleThunk(name,
      { fn(spark, sfDir).write.format("noop").mode("overwrite").save() },
      nSamples, spreadBound, maxExtra, fakeSampleForTest, warm)
  }

  /** The generic sampler behind [[runSampled]], for timed bodies that are
    * NOT registry queries (e.g. DedupDownstreamAB's cluster+resolve
    * pipelines): same resample-on-spread contract, caller provides the
    * work as a thunk and any warm-up it already paid.
    */
  def sampleThunk(name: String, body: => Unit, nSamples: Int = 2,
      spreadBound: Double = 1.5, maxExtra: Int = 2,
      fakeSampleForTest: Option[Int => Double] = None,
      warm: Double = 0.0): Sampled = {
    def once(i: Int): Double = {
      val t0 = System.nanoTime()
      body
      val real = (System.nanoTime() - t0) / 1e9
      fakeSampleForTest.fold(real)(f => f(i))
    }
    var samples = (0 until nSamples).map(once).toVector
    def spread = graft.Bench.windowSpread(samples, nSamples)
    var extra = 0
    while (spread > spreadBound && extra < maxExtra) {
      samples :+= once(nSamples + extra)
      extra += 1
    }
    Sampled(name, samples.min, spread, samples, spread > spreadBound, warm)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("profile-bench-seq", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val names = if (args.nonEmpty) args.toSeq else Seq("q16_normalize_books5", "q17_normalize_trades")
    // GRAFT_PROF_WARM / GRAFT_PROF_SF: dev overrides so the same harness
    // drives the sf1/sf10 scale-sanity passes (docs/SCALING.md)
    val warmDir = sys.env.getOrElse("GRAFT_PROF_WARM", "/root/testdata/sf0.001")
    val sfDir = sys.env.getOrElse("GRAFT_PROF_SF", "/root/testdata/sf0.1")
    // GRAFT_PROF_DETAILS=1: stage call sites are useless for stages
    // spawned on subquery/broadcast threads (they all read
    // "withThreadLocalCaptured at CompletableFuture") — dump each job's
    // stages and each slow stage's submitting stack so the owning operator
    // is identifiable.
    val details = sys.env.contains("GRAFT_PROF_DETAILS")
    val sampled = names.map { name =>
      val (s, w) = Recorder(spark).measure(runSampled(spark, name, warmDir, sfDir))
      if (details) w.jobs.foreach { js =>
        System.err.println(s"[job] id=${js.jobId} stages=${js.stageIds.mkString(",")} " +
          s"desc=${Option(js.properties.getProperty("spark.job.description")).getOrElse("?").take(100)}")
      }
      w.stages.foreach { si =>
        val wall = Recorder.wallMs(si) / 1e3
        if (wall > 1.0) {
          val m = si.taskMetrics
          System.err.println(f"[stage] id=${si.stageId} wall=$wall%.1fs tasks=${si.numTasks} " +
            f"runMs=${m.executorRunTime} cpuMs=${m.executorCpuTime / 1000000} " +
            f"gcMs=${m.jvmGCTime} spillMB=${m.diskBytesSpilled / 1048576} ${si.name.take(60)}")
          if (details) si.details.linesIterator.take(12)
            .foreach(l => System.err.println(s"[stage-detail] $l"))
        }
      }
      val raw = s.samples.map(v => f"$v%.2f").mkString("/")
      println(f"[sampled] $name%-24s min=${s.min}%.2f spread=${s.spread}%.2f " +
        f"samples=$raw contaminated=${s.contaminated} warm=${s.warm}%.2f ($sfDir)")
      s
    }
    spark.stop()
    // One-line JSON summary (same shape as Bench's contract line, plus
    // per-query spread/contaminated) so the sf1/sf10 spot-bench rows in
    // docs/SCALING.md cite a machine-readable artifact instead of
    // hand-copied mins (r14 verdict ask #6).
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = sampled.map(s => "\"" + s.name + "\":" + f3(s.min)).mkString("{", ",", "}")
    val spreads = sampled.map(s => "\"" + s.name + "\":" + f3(s.spread)).mkString("{", ",", "}")
    val contaminated = sampled.filter(_.contaminated).map("\"" + _.name + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f3(sampled.map(_.min).sum)},"unit":"sec",""" +
      s""""queries":$qs,"spread":$spreads,"contaminated":$contaminated,""" +
      s""""cpus":"${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}","sf":"$sfDir"}""")
  }
}
