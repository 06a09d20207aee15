package graft.obs

import graft.{Bench, SparkEntry, SparkSpec}

/** Pins what a [[Recorder]] window holds: nothing from before it opened,
  * every stage and task of a batch query, and a streaming gate's
  * stream-thread jobs and executed micro-batches. */
class RecorderSpec extends SparkSpec {

  private def run(name: String, sf: String): Unit =
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()

  /** A gate's executed micro-batches as pinned in the plan golden. */
  private def goldenBatches(name: String): String = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("docs/plan_invariants.tsv")).asScala.toVector
    val header = lines.head.split("\t")
    val row = lines.find(_.startsWith(name + "\t")).get.split("\t", -1)
    row(header.indexOf("batches"))
  }

  test("a window holds nothing that ran before it opened, and windows do not nest") {
    run("q2_filter_project", "/root/testdata/sf0.001")
    val (_, w) = Recorder(spark).measure(())
    assert(w.stages.isEmpty && w.tasks.isEmpty, w.toString)
    intercept[IllegalStateException] {
      Recorder(spark).measure(Recorder(spark).measure(()))
    }
    // the failed nesting attempt closed its window
    assert(Recorder(spark).measure(())._2.stages.isEmpty)
  }

  test("a window around a batch query holds all of its stages, tasks and input") {
    val (_, w) = Recorder(spark).measure(run("q2_filter_project", "/root/testdata/sf0.001"))
    assert(w.stages.nonEmpty && w.totals.nStages == w.stages.size)
    assert(w.inputBytes > 0L)
    assert(w.tasks.size == w.stages.map(_.numTasks).sum, w.stages.map(_.numTasks))
  }

  test("a window around a streaming gate holds its stream-thread stages and executed batches") {
    val name = "q155_streaming_chained_aggs"
    val (_, w) = Recorder(spark).measure(run(name, "/root/testdata/sf0.01"))
    // micro-batch jobs run on the stream thread, tagged with the query id
    val streamStages = w.jobs
      .filter(j => j.properties != null && j.properties.getProperty("sql.streaming.queryId") != null)
      .flatMap(_.stageIds).toSet
    assert(w.stages.count(s => streamStages(s.stageId)) > 0, w.jobs.map(_.properties))
    assert(w.batches.toString == goldenBatches(name), w.progress.map(_.durationMs))
  }

  test("Bench.sample gives every successful timed sample its stage totals, gates included") {
    val sf = "/root/testdata/sf0.001"
    val gate = "q155_streaming_chained_aggs"
    val names = Seq("q155_streaming_chained_aggs", "q2_filter_project")
    val bench = Bench.sample(spark, names.map(n => n -> SparkEntry.queries(n)),
      sfDir = sf, warmDir = sf, sparse = Set(gate), nRounds = 2,
      spreadBound = Double.MaxValue)
    assert(bench.failed.isEmpty && bench.flaky.isEmpty, bench.timedFailed)
    for (r <- bench.sampleRounds.indices; name <- bench.sampleRounds(r).keys) {
      val t = bench.stageTotals.get(s"$name@r$r")
      assert(t.exists(_.nStages > 0), s"$name@r$r: $t")
    }
    assert(bench.sampleRounds.exists(_.contains(gate)))
    val stageWall = Bench.stageWallAtMin(bench)
    assert(names.forall(n => stageWall(n) > 0.0), stageWall)
    assert(Bench.stagesJson(bench, names).contains(s""""$gate":[{"wall":"""))
  }
}
