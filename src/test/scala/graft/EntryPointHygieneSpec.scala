package graft

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds the engine and the programs that drive it: the live
  * pipeline, the oracle dump, the bench, the plan goldens, the scale
  * fixtures and the per-batch gate profiler. A one-off measurement
  * belongs in a scratch run and its finding in NOTES.md; these pins make
  * a new entry point or environment variable a visible change to review.
  */
class EntryPointHygieneSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private val root = java.nio.file.Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString.replace('\\', '/') -> java.nio.file.Files.readString(f))
  }

  test("the files defining a main are the pipeline, Verify, Bench, PlanAudit, GenScale and StreamProf") {
    val mains = sources.collect { case (f, text) if text.contains("def main(") => f }.sorted
    assert(mains == Seq("graft/Bench.scala", "graft/Verify.scala", "graft/app/Main.scala",
      "graft/tools/GenScale.scala", "graft/tools/PlanAudit.scala", "graft/tools/StreamProf.scala"))
  }

  test("src/main reads six environment variables, each by a literal name") {
    val read = """sys\.env\.(?:get|getOrElse|contains)\("([A-Z0-9_]+)"""".r
    val keys = sources.flatMap { case (_, text) => read.findAllMatchIn(text).map(_.group(1)) }
      .distinct.sorted
    assert(keys == Seq("GRAFT_AB_CONF", "GRAFT_BENCH_ONLY", "GRAFT_BENCH_ROUNDS",
      "GRAFT_SCRATCH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"))
    // every read goes through the pattern above, so none escapes the pin
    val other = sources.flatMap { case (f, text) =>
      def uses(s: String) = s"\\Q$s\\E".r.findAllMatchIn(text).size
      if (uses("sys.env") + uses("getenv") != read.findAllMatchIn(text).size) Some(f) else None
    }
    assert(other.isEmpty, s"environment read by a non-literal name in: ${other.mkString(", ")}")
  }
}
