package graft

import graft.tools.PlanAudit

/** The asserting half of the plan audit: recomputes every registry
  * query's plan-shape invariant record and diffs it against the
  * checked-in golden `docs/plan_invariants.tsv`, so a plan regression —
  * an extra shuffle, a lost PushedFilters, a broadcast→SMJ flip, a
  * widened ReadSchema, a CartesianProduct sneaking in — fails `sbt test`
  * exactly the way a wrong answer fails CORRECTNESS.
  *
  * Batch queries are audited from their formatted explain; streaming
  * gates are audited from the EXECUTED last micro-batch plan of every
  * StreamingQuery the gate starts (captured through StreamGate, read
  * via lastExecution after the gate returns) — state-operator count,
  * sink output mode, exchange/join shape.
  *
  * After an INTENTIONAL plan change, regenerate with
  * `sbt -batch "runMain graft.tools.PlanAudit"` and review the tsv diff —
  * the diff IS the plan-review artifact.
  */
class PlanInvariantsSpec extends SparkSpec {

  private lazy val golden: Map[String, PlanAudit.PlanRecord] =
    PlanAudit.parseTsv(java.nio.file.Files.readString(
      java.nio.file.Paths.get("docs/plan_invariants.tsv")))

  private lazy val current: Map[String, PlanAudit.PlanRecord] =
    PlanAudit.batchQueryNames
      .map(n => n -> PlanAudit.record(spark, n, PlanAudit.invariantSf)).toMap

  private lazy val currentStream: Map[String, PlanAudit.PlanRecord] =
    PlanAudit.streamingQueryNames
      .map(n => n -> PlanAudit.streamRecord(spark, n, PlanAudit.invariantSf)).toMap

  private def allNames: Seq[String] =
    PlanAudit.batchQueryNames ++ PlanAudit.streamingQueryNames

  test("every registry query (batch AND streaming) has a golden plan-invariant record") {
    val missing = allNames.filterNot(golden.contains)
    assert(missing.isEmpty,
      s"queries missing from docs/plan_invariants.tsv (regenerate with " +
        s"`sbt \"runMain graft.tools.PlanAudit\"`): ${missing.mkString(", ")}")
    val stale = golden.keys.filterNot(allNames.contains).toSeq.sorted
    assert(stale.isEmpty, s"golden records for queries no longer in the registry: ${stale.mkString(", ")}")
  }

  test("plan-shape records match the golden file (no silent plan regressions)") {
    val combined = current ++ currentStream
    val diffs = allNames.flatMap { n =>
      (golden.get(n), combined.get(n)) match {
        case (Some(g), Some(c)) if g != c =>
          Some(s"$n:\n  golden : ${g.tsvLine}\n  current: ${c.tsvLine}")
        case _ => None
      }
    }
    assert(diffs.isEmpty,
      s"${diffs.size} plan(s) drifted from docs/plan_invariants.tsv — if " +
        "intentional, regenerate via `sbt \"runMain graft.tools.PlanAudit\"` " +
        "and review the diff:\n" + diffs.mkString("\n"))
  }

  test("the expands and windows columns pin q134/q293 without Expand and q229 with one Window") {
    assert(golden("q134_column_profile").expands == 0)
    assert(golden("q293_profile_census").expands == 0)
    assert(golden("q229_roll_spread").windows == 1)
  }

  test("PLANS.md names no pid, run counter or writer UUID") {
    val line = "Location: InMemoryFileIndex [file:/dev/shm/graft_q307_4242_3/data/" +
      "part-00004-66e32814-f6d7-4e97-9efa-cd0f955288fe-c000.snappy.parquet, ... 2 entries]"
    assert(PlanAudit.stableNames(line, 4242) == "Location: InMemoryFileIndex " +
      "[file:/dev/shm/graft_q307_<pid>_<n>/data/part-00004-<uuid>-c000.snappy.parquet, ... 2 entries]")
    assert(PlanAudit.stableNames("graft_q301_lineitem_4242_12 (1)", 4242) == "graft_q301_lineitem_<pid>_<n> (1)")
    val plans = java.nio.file.Files.readString(java.nio.file.Paths.get("docs/PLANS.md"))
    val runSpecific = """graft_\w*?_\d+_\d+\b|[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""".r
    assert(runSpecific.findFirstIn(plans).isEmpty, "a run-specific name in docs/PLANS.md")
  }

  test("no CartesianProduct anywhere; BNLJ only on documented tiny sides") {
    val all = current.values ++ currentStream.values
    val cart = all.filter(_.cartesian > 0).map(_.name).toSeq.sorted
    assert(cart.isEmpty, s"CartesianProduct in: ${cart.mkString(", ")}")
    val badBnlj = all
      .filter(r => r.bnlj > 0 && !PlanAudit.bnljAllowed(r.name)).map(_.name).toSeq.sorted
    assert(badBnlj.isEmpty,
      s"BroadcastNestedLoopJoin outside the documented tiny-side allowlist " +
        s"(PlanAudit.bnljAllowed): ${badBnlj.mkString(", ")}")
  }

  test("streaming gates carry executed-plan evidence: a real sink mode, state where claimed") {
    // every streaming record must come from an actual micro-batch (mode
    // is the IncrementalExecution's, never the "batch" placeholder), and
    // the stateless gates are exactly the documented stateless set
    // stateless appenders: stream-static joins (ANN probe, range join),
    // the per-row tagger, and the two foreachBatch sinks — q304 is
    // stateless IN THE ENGINE by design: its per-user state lives in the
    // batchId-versioned parquet table its foreachBatch maintains, which
    // is the point of the gate (hot-key state off the store's hash
    // partitioning)
    // q311 is q304's class: its per-user counters live in the versioned
    // parquet table its foreachBatch maintains, where the erasure
    // anti-join can purge ALL accumulated state per request batch —
    // store-keyed state would need a full key scan for the same purge
    // q314 is q311's delta twin: same versioned-table device, state
    // range-bucketed so a batch rewrites only touched buckets
    val stateless = Set("q127_streaming_ann", "q220_streaming_range_join",
      "q154_foreach_batch_sink", "q204_streaming_tagging",
      "q304_streaming_salted_staleness", "q311_streaming_erasure",
      "q314_streaming_erasure_delta")
    currentStream.values.foreach { r =>
      assert(r.mode != "batch", s"${r.name}: no executed micro-batch plan captured")
      if (stateless(r.name))
        assert(r.stateOps == 0, s"${r.name}: expected stateless, got ${r.stateOps} state ops")
      else
        assert(r.stateOps > 0, s"${r.name}: claimed stateful but no state operator in the executed plan")
    }
  }
}
