package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** One benchmark process: `Main <config.json>`. Runs one workload and
  * writes its raw measurements to `<out>/raw.json`; `perfbench/run.py`
  * turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val cfg = scalaValue(json.readValue(Files.readString(Paths.get(args(0))), classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
    def num(k: String): Double = cfg(k).asInstanceOf[Number].doubleValue
    val out = cfg("out_dir").toString
    val trace = cfg("trace") == true
    val spark = GraftSession.builder("perfbench", cfg("cores").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.streams.addListener(r.streams)
    }
    val spans = if (trace) Some(new Spans) else None
    val ready = Clock.ms
    val result = cfg("workload") match {
      case "live_feed" =>
        val p = cfg("live").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.asInstanceOf[Number].doubleValue }
        LiveFeed.run(spark, out, num("seed").toLong,
          LiveFeed.Params(p("rate"), p("warm_s"), num("seconds") * p("steady_share"),
            p("burst_frames").toInt, p("warm_bursts").toInt, p("bursts").toInt, p("max_buffer").toInt),
          spans, isolate = trace)
      case _ =>
        ClosedLoop.run(spark, cfg("queries").asInstanceOf[Seq[String]], cfg("data_dir").toString,
          out, num("seconds"), num("warm_passes").toInt, num("seed").toLong, spans)
    }
    recorder.foreach(_ => org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext))
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L) finally status.close()
    val doc = result ++ Map("session_ready_ms" -> ready, "peak_rss_kb" -> hwmKb,
      "oracle_sql" -> cfg.get("queries").map(_.asInstanceOf[Seq[String]]
        .flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap).getOrElse(Map.empty),
      "trace" -> recorder.map(_.snapshot ++ Map("spans" -> spans.get.all)).getOrElse(Map.empty))
    Files.writeString(Paths.get(s"$out/raw.json"), json.writeValueAsString(doc))
    spark.stop()
  }

  private def scalaValue(v: Any): Any = {
    import scala.jdk.CollectionConverters._
    v match {
      case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> scalaValue(x) }.toMap
      case l: java.util.List[_]   => l.asScala.map(scalaValue).toList
      case x                      => x
    }
  }
}
