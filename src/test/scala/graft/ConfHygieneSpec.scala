package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the conf-hygiene invariant from VERDICT r11 watch item 1 / ADVICE
  * r11 (high): registry query bodies never mutate shared-session SQL confs.
  * Conf-scoped plans go through `ConfScope.withConfs` (a session CLONE —
  * permanent confs the returned DataFrame keeps through any re-plan) or
  * `StreamGate.start` (the replay harness's one sanctioned set/restore
  * window, safe because Structured Streaming clones the session at
  * `.start()`).
  *
  * A set/restore window in a query body has two failure modes this grep
  * forbids structurally: a lazy DataFrame re-planned by DataFrameWriter
  * AFTER the `finally` restored the confs silently loses the forced plan
  * shape, and a parallel runner can plan an unrelated query inside the
  * window.
  */
class ConfHygieneSpec extends AnyFunSuite {

  private val queriesDir = new java.io.File("src/main/scala/graft/queries")

  test("no session conf mutation in any registry query file except Registry.scala") {
    assert(queriesDir.isDirectory, s"missing ${queriesDir.getPath}")
    val offenders = queriesDir.listFiles().toSeq
      .filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Registry.scala")
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f.toPath)
        (0 until lines.size()).collect {
          case i if lines.get(i).contains(".conf.set(") ||
            lines.get(i).contains(".conf.unset(") =>
            s"${f.getName}:${i + 1}: ${lines.get(i).trim}"
        }
      }
    assert(offenders.isEmpty,
      "query bodies must scope confs via ConfScope.withConfs (session clone) " +
        "or the StreamGate replay harness, never mutate the shared session:\n" +
        offenders.mkString("\n"))
  }

  test("Registry.scala conf mutations stay inside the two sanctioned helpers") {
    // StreamGate.start's window + its finally block are the only set/unset
    // sites; ConfScope sets confs on a clone (c.conf.set), never on the
    // parameter session `s` — a future `s.conf.set` creeping into
    // Registry.scala outside that window should fail this count check loudly.
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(queriesDir, "Registry.scala").toPath)
    val sSets = (0 until lines.size()).count(i =>
      lines.get(i).contains("s.conf.set(") || lines.get(i).contains("s.conf.unset("))
    // StreamGate.start: 1 set over the gate's conf list + restore block
    // (1 set / 1 unset in the prev fold) = 3 — pinned EXACTLY: a <= bound
    // with slack would let one rogue s.conf.set ship unnoticed
    assert(sSets == 3,
      s"shared-session conf-mutation count in Registry.scala drifted ($sSets " +
        "sites, expected 3) — if StreamGate.start changed intentionally, " +
        "update this count; anything else is a hygiene violation")
  }
}
