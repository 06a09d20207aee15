package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.obs.Recorder

/** Dev A/B of the q307 per-file Bloom index (NOT part of the engine):
  * time the SAME point lookup (a) through the index — prune the file
  * list on the driver, scan only survivors — and (b) as a full scan of
  * all 16 scratch files with the identical `event_id IN (...)` filter.
  * Both paths read the same hash-scattered dataset, so the difference is
  * purely the files skipped; the row results are identical (q307's
  * certificate). Reports wall (min of `rounds` after one warmup), files
  * scanned, and rows returned per path.
  *
  * {{{ sbt "runMain graft.tools.IndexAudit target/sf1 3" }}}
  */
object IndexAudit {
  def main(args: Array[String]): Unit = {
    // `append` mode: time q315's incremental manifest maintenance vs a
    // from-scratch rebuild over the same corpus (VERDICT r13 ask #3 —
    // the cost side of the "adding files never rebuilds old filters"
    // claim; the mechanism itself is gated by q315). min-of-2 per the
    // storm protocol.
    //   sbt "runMain graft.tools.IndexAudit append target/sf10 2"
    if (args.headOption.contains("append")) {
      val dir = args.lift(1).getOrElse("target/sf1")
      val rounds = args.lift(2).map(_.toInt).getOrElse(2)
      val spark = GraftSession.get("graft-index-audit",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      val runs = (1 to rounds).map { _ =>
        graft.queries.LakehouseQueries.bloomAppendCost(spark, dir)
      }
      val nBase = runs.head._1
      val inc = runs.map(_._2).min
      val full = runs.map(_._3).min
      println(f"[index-audit-append] dir=$dir baseFiles=$nBase rounds=$rounds " +
        f"incremental=$inc%.2f s full_rebuild=$full%.2f s ratio=${full / inc}%.1fx " +
        f"(samples inc=${runs.map(r => f"${r._2}%.2f").mkString("/")} " +
        f"full=${runs.map(r => f"${r._3}%.2f").mkString("/")})")
      spark.stop()
      return
    }
    val dir = args.headOption.getOrElse("target/sf1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.get("graft-index-audit",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    // builds (or reuses) the memoized scratch copy + index + probes;
    // the build is the ingest cost, paid before either timed path
    val (files, probes) = graft.queries.LakehouseQueries.bloomIndexView(spark, dir)

    // at fixture scale both paths fit one task wave and wall is
    // scheduler-bound, so ALSO account the scan work the cluster would
    // bill at real file sizes: input bytes + tasks launched per run
    def time(body: => Long): (Double, Long, Long, Long) = {
      var rowsOut = body // warmup (codegen/JIT)
      // report the (wall, bytes, tasks) of the SAME round — the min-wall
      // one — rather than pairing min wall with the last round's I/O
      var best = (Double.MaxValue, 0L, 0L)
      (1 to rounds).foreach { _ =>
        val (wall, w) = Recorder(spark).measure {
          val t0 = System.nanoTime()
          rowsOut = body
          (System.nanoTime() - t0) / 1e9
        }
        if (wall < best._1) best = (wall, w.inputBytes, w.tasks.size.toLong)
      }
      (best._1, rowsOut, best._2, best._3)
    }

    val pruned = time {
      graft.SparkEntry.queries("q307_bloom_file_skip")(spark, dir).count()
    }
    val full = time {
      spark.read.parquet(files: _*)
        .filter(col("event_id").isin(probes: _*))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id").count()
    }
    // the pruned path's file count: re-derive from the query's own scan
    val prunedFiles =
      graft.SparkEntry.queries("q307_bloom_file_skip")(spark, dir)
        .inputFiles.length
    println(f"[index-audit] dir=$dir probes=${probes.size} " +
      f"pruned: ${pruned._1}%.3f s, $prunedFiles/${files.size} files, " +
      f"${pruned._3 / 1048576.0}%.1f MiB in, ${pruned._4} tasks " +
      f"(${pruned._2} rows) | full: ${full._1}%.3f s, ${files.size} files, " +
      f"${full._3 / 1048576.0}%.1f MiB in, ${full._4} tasks (${full._2} rows)")
    spark.stop()
  }
}
