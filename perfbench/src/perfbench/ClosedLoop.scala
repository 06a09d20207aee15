package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `registry`: one client runs a fixed list of registry queries
  * pass after pass, each query written to the `noop` sink as `graft.Bench`
  * does. The seed permutes the order within each timed pass.
  *
  * Set-up is a cold pass that writes every result to parquet for the
  * caller's comparison with the DuckDB oracle, then `warmPasses` passes to
  * `noop`. Set-up passes run the list in its given order and their count
  * is fixed, so every run times the same stage of JIT warm-up. Timed passes
  * follow for about `seconds`, at least three of them.
  */
object ClosedLoop {
  def run(spark: SparkSession, names: Seq[String], dataDir: String, outDir: String,
      seconds: Double, warmPasses: Int, seed: Long, spans: Option[Spans]): Map[String, Any] = {
    val fns = SparkEntry.queries
    val sc = spark.sparkContext
    def order(pass: Int): Seq[String] =
      if (pass <= warmPasses) names else new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    def query(name: String, sample: String, passSpan: Int, parquetDir: Option[String]): Map[String, Any] = {
      sc.setJobGroup(sample + "/" + name, name, interruptOnCancel = false)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = Clock.ms
      var built, planned = t0
      try {
        val df = fns(name)(spark, dataDir)
        built = Clock.ms
        if (spans.isDefined) df.queryExecution.executedPlan
        planned = Clock.ms
        parquetDir match {
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
          case None      => df.write.format("noop").mode("overwrite").save()
        }
        val end = Clock.ms
        spans.foreach { sp =>
          val q = sp.add(passSpan, "query", t0, end, sample, Map("query" -> name))
          sp.add(q, "queries.build", t0, built, sample)
          sp.add(q, "catalyst.plan", built, planned, sample)
          sp.add(q, "spark.execute", planned, end, sample)
        }
        Map("query" -> name, "start" -> t0, "built" -> built, "planned" -> planned, "end" -> end,
          "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0), "ok" -> true)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          Map("query" -> name, "start" -> t0, "end" -> Clock.ms, "ok" -> false,
            "error" -> String.valueOf(e.getMessage).take(300))
      } finally sc.clearJobGroup()
    }

    def pass(idx: Int, kind: String, parquetDir: Option[String] = None): Map[String, Any] = {
      val sample = s"$kind$idx"
      val t0 = Clock.ms
      val passSpan = spans.map(_.open(0, "pass", t0, sample)).getOrElse(0)
      val qs = order(idx).map(query(_, sample, passSpan, parquetDir))
      val end = Clock.ms
      spans.foreach(_.close(passSpan, end))
      Map("pass" -> idx, "kind" -> kind, "sample" -> sample, "start" -> t0, "end" -> end, "queries" -> qs)
    }

    val warm = pass(0, "verify", Some(s"$outDir/results")) +: (1 to warmPasses).map(pass(_, "warm"))
    def wall(p: Map[String, Any]) = p("end").asInstanceOf[Double] - p("start").asInstanceOf[Double]
    val timedStart = Clock.ms
    val timed = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    // at least three timed passes; another only if it should end within `seconds`
    while (timed.size < 3 || Clock.ms - timedStart + wall(timed.last) <= seconds * 1000)
      timed += pass(warm.size + timed.size, "timed")
    Map("timed_start_ms" -> timedStart, "passes" -> (warm.toList ++ timed),
      "queries" -> names)
  }
}
