package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every measurement in `src/main` goes through `graft.obs.Recorder`, the
  * one listener graft attaches to Spark. A private listener keeps its own
  * counters, drain and reset logic and attributes work its own way; six of
  * them once coexisted (Bench, ProfileBenchSeq, StreamProf, SkewAudit,
  * IndexAudit, DedupDownstreamAB). This grep keeps a seventh from coming
  * back unnoticed.
  */
class ListenerHygieneSpec extends AnyFunSuite {

  private val patterns = Seq("extends SparkListener", "SparkListener {",
    "StreamingQueryListener {", "addSparkListener(", "streams.addListener(",
    "listenerManager.register(")

  test("no Spark listener is defined or registered outside graft/obs") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.replace('\\', '/').contains("/graft/obs/"))
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f)
        (0 until lines.size()).collect {
          case i if patterns.exists(lines.get(i).contains) =>
            s"$f:${i + 1}: ${lines.get(i).trim}"
        }
      }
    assert(offenders.isEmpty,
      "measure through graft.obs.Recorder.measure instead of a private listener:\n" +
        offenders.mkString("\n"))
  }
}
