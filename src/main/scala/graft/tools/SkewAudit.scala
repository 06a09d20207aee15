package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.GraftSession
import graft.obs.Recorder

/** Dev tool for the skewed-fixture scale runs (docs/SCALING.md): executes
  * selected registry queries against a fixture dir and reports, per
  * query, the wall time and the AQE skew evidence from the FINAL
  * adaptive plan — the number of `skew=true` join nodes and of
  * AQEShuffleRead nodes with skewed partition splits. PlanAudit pins
  * INITIAL plans (stable shape goldens); skew splitting is a runtime
  * decision AQE makes from map-output sizes, so it is only visible here.
  *
  * The AQE skew thresholds are scaled to the fixture (a few hundred MB)
  * the same way q237 does: at 100 TB the DEFAULT thresholds (256 MB
  * partitions) fire on exactly the hot buckets this run synthesizes; at
  * GB scale the thresholds must shrink for the same relative skew to be
  * visible at all. Factors (5× median) are left at stock.
  *
  * {{{ sbt "runMain graft.tools.SkewAudit <sfDir> <q1,q2,...>" }}}
  */
object SkewAudit {

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf1skew")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq(
      "q22_minhash_lsh", "q38_dup_clusters", "q41_dedup_keep_best",
      "q135_prefix_filter_join", "q8_staleness_stats"))
    val spark = GraftSession.get("skew-audit", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // q237's device: scale the absolute thresholds to the fixture so the
    // same RELATIVE skew that trips the 256 MB default at 100 TB is
    // visible at GB scale. Relative factor stays stock (5x median).
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    // Without force, OptimizeSkewedJoin vetoes any split that breaks the
    // join's output partitioning for a downstream aggregate (it would add
    // one re-shuffle). At 100 TB the re-shuffle of |join output| is cheap
    // against a straggler task holding 20% of a fact table — force models
    // that trade the way a production job conf would.
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    // Broadcast OFF: at GB scale every dedup-side relation fits the 10 MB
    // broadcast threshold and plans BHJ, which AQE's skew split does not
    // apply to; at 100 TB the same relations are sort-merge joins. Forcing
    // SMJ here models the 100 TB join shape so the skew-split behavior
    // under test is the one that run would actually exercise.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // Multi-mapper scans: OptimizeSkewedJoin splits a skewed reduce
    // partition at MAP-OUTPUT granularity (the q237 lesson) — a GB-scale
    // fixture read as one 128 MB split gives the rule nothing to split,
    // where a 100 TB table has thousands of mappers. 2 MB splits model
    // that mapper count at fixture scale.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2MB")

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // Execute the DataFrame's OWN QueryExecution (a .write would build a
      // separate QE and leave this one's adaptive plan un-finalized), warm
      // pass first, then timed.
      def runOnce(): (Double, String) = {
        val df = fn(spark, sfDir)
        val t0 = System.nanoTime()
        val rdd = df.queryExecution.toRdd
        spark.sparkContext.runJob(rdd, (it: Iterator[_]) => { while (it.hasNext) it.next(); () })
        val wall = (System.nanoTime() - t0) / 1e9
        (wall, finalPlan(df.queryExecution.executedPlan).toString)
      }
      runOnce()
      // Task-level straggler evidence (VERDICT r11 ask #2): wall time alone
      // cannot distinguish "8 parallel chunk sorts" from "one hot-partition
      // sort that happens to overlap other work" — the straggler signature
      // is MAX task duration vs the task population.
      val ((wall, rendered), w) = Recorder(spark).measure(runOnce())
      val tasks = w.taskMs
      val maxTask = tasks.lastOption.getOrElse(0L) / 1e3
      val p50Task = if (tasks.nonEmpty) tasks(tasks.length / 2) / 1e3 else 0.0
      val skewJoins = "skew=true".r.findAllIn(rendered).length
      val skewReads = "AQEShuffleRead".r.findAllIn(rendered).length
      val coalesced = "coalesced".r.findAllIn(rendered).length
      println(f"[skew-audit] $name wall=$wall%.2fs skewJoinNodes=$skewJoins " +
        f"aqeShuffleReads=$skewReads coalescedReads=$coalesced " +
        f"nTasks=${tasks.length} maxTaskSec=$maxTask%.2f p50TaskSec=$p50Task%.3f")
      if (sys.env.contains("GRAFT_SKEW_PLAN"))
        println(s"[skew-audit-plan] $name\n$rendered")
    }
    spark.stop()
  }
}
