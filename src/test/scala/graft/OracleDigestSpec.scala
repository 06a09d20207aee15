package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Oracle-text golden: every query's DuckDB oracle, as `Verify
  * .oracleSqlJson` serializes it for the correctness gate, must hash to
  * its row in `docs/oracle_sql_digests.tsv` (sha256 of the SQL with every
  * whitespace run collapsed to one space). Sharing an oracle between a
  * streaming gate and its batch twin, or factoring a CTE into a helper,
  * must leave the text the gate receives unchanged; this spec makes that
  * a build check instead of a manual diff.
  *
  * After an intended oracle change, copy each `now=` digest this spec
  * prints on failure into that query's row (rows stay sorted by name).
  */
class OracleDigestSpec extends AnyFunSuite {

  private val goldenPath = Paths.get("docs/oracle_sql_digests.tsv")

  private def collapse(sql: String): String =
    sql.split("\\s+").filter(_.nonEmpty).mkString(" ")

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  test("every oracle's whitespace-collapsed SQL matches docs/oracle_sql_digests.tsv") {
    assert(Files.isRegularFile(goldenPath), s"$goldenPath not found")
    val golden = Files.readAllLines(goldenPath).asScala.filter(_.nonEmpty)
      .map { line => val Array(k, v) = line.split("\t"); k -> v }.toMap
    val root = new ObjectMapper().readTree(Verify.oracleSqlJson)
    val actual = root.fields().asScala
      .map(e => e.getKey -> sha256(collapse(e.getValue.asText))).toMap
    assert(actual.size == SparkEntry.oracleSql.size, "oracle_sql.json lost entries")

    val changed = (golden.keySet ++ actual.keySet).toSeq.sorted
      .filter(k => golden.get(k) != actual.get(k))
      .map(k => s"$k\tgolden=${golden.getOrElse(k, "-")}\tnow=${actual.getOrElse(k, "-")}")
    assert(changed.isEmpty,
      s"${changed.size} oracle(s) differ from the golden:\n${changed.mkString("\n")}")
  }
}
