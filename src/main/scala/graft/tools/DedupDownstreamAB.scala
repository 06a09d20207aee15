package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.obs.Recorder
import graft.operators.Dedup
import graft.queries.TrainingDataQueries

/** Dev A/B of the q313 family cap's DOWNSTREAM payoff (VERDICT r13 ask
  * #2): the r13 census showed the cap cuts the sf10 candidate population
  * 30.9 M → 33 k (k=2) / 435 k (k=8), and the generation-time A/B showed
  * the cap itself costs nothing — this tool measures what those smaller
  * pair sets buy the CONSUMER, the q38 connected-components + q41
  * keep-best resolution pipeline every retained pair flows into.
  *
  * Per variant (uncapped, capped k=2, capped k=8): cluster the pair set
  * (Dedup.duplicateClusters, the large/small-star alternation), resolve
  * winners with q41's single hash aggregation, materialize to the noop
  * sink. Timing uses ProfileBenchSeq.sampleThunk — the storm-protocol
  * sampler (min over samples, resample on spread > 1.5, contaminated
  * annotation) — plus the longest successful task of each sample, since
  * the cap's claim is specifically about the HOTTEST task (the mega-family's
  * bucket) and not just the wall.
  *
  * Provenance: prints the uncapped pair count first — an sf10 run is
  * only trustworthy if it reproduces the canonical census (lshPairs
  * 30,914,399; docs/SCALING.md r13).
  *
  * {{{ sbt "runMain graft.tools.DedupDownstreamAB target/sf10" }}}
  */
object DedupDownstreamAB {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf1")
    val spark = GraftSession.get("dedup-downstream-ab",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    // q41's resolution over an arbitrary pair set: cluster, attach
    // quality, one hash-agg keep-best (max of (quality, -doc_id))
    def resolve(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val docs = graft.Tables.fanOut(graft.Tables.documents(spark, dir))
      val quality = docs.select(col("doc_id") +:
        graft.operators.TextAnalysis.qualityColumns(col("text"),
          graft.operators.TextAnalysis.tokens(col("text"))): _*)
        .select(col("doc_id"), col("quality_score"))
      val clusters = Dedup.duplicateClusters(pairs)
      quality.join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("best"))
        .select(col("cluster_id"), (-col("best.neg_id")).as("keep_id"),
          col("n_docs"), col("best.quality_score").as("best_quality"))
    }

    // provenance: the uncapped candidate population must match the
    // canonical census before any sf10 number is trusted
    val uncappedPairs = TrainingDataQueries.lshPairsFrame(spark, dir).count()
    println(s"[dedup-ab] dir=$dir uncapped lshPairs=$uncappedPairs " +
      s"(canonical target/sf10 census: 30914399)")

    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "uncapped" -> (() => TrainingDataQueries.lshPairsFrame(spark, dir)),
      s"cappedK${TrainingDataQueries.CapK}" ->
        (() => TrainingDataQueries.cappedLshPairsFrame(spark, dir, TrainingDataQueries.CapK)),
      "cappedK8" -> (() => TrainingDataQueries.cappedLshPairsFrame(spark, dir, 8)))

    variants.foreach { case (name, mk) =>
      val perSampleMaxTask = scala.collection.mutable.ArrayBuffer.empty[Long]
      val s = ProfileBenchSeq.sampleThunk(name, {
        val (_, w) = Recorder(spark).measure(
          resolve(mk()).write.format("noop").mode("overwrite").save())
        perSampleMaxTask += w.taskMs.lastOption.getOrElse(0L): Unit
      })
      val raw = s.samples.map(v => f"$v%.1f").mkString("/")
      println(f"[dedup-ab] $name%-10s min=${s.min}%.1f s spread=${s.spread}%.2f " +
        f"samples=$raw contaminated=${s.contaminated} " +
        s"maxTaskMs=${perSampleMaxTask.mkString("/")}")
    }
    spark.stop()
  }
}
