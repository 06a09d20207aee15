package graft.tools

import graft.GraftSession
import graft.obs.Recorder

/** Dev-only micro-batch profiler for the streaming replay gates.
  *
  * Runs selected registry gates once and prints, per micro-batch, the
  * engine's own `durationMs` breakdown (triggerExecution = whole batch;
  * queryPlanning = per-batch IncrementalExecution; addBatch = sink +
  * execution; walCommit/commitOffsets = offset/commit logs; getBatch =
  * source). This separates the three candidate costs of a gate's
  * "wall ≫ stage_wall" gap — per-batch planning, log I/O, and
  * batch-count × fixed-cost — so protocol changes (merged addData
  * chunks, disabled no-data batches) can be judged on the component
  * they claim to cut rather than on noisy end-to-end wall alone.
  *
  * {{{ sbt "runMain graft.tools.StreamProf <sfDir> <q1,q2,...>" }}}
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q153_streaming_late_drop", "q155_streaming_chained_aggs"))
    val spark = GraftSession.get("stream-prof", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // A/B knobs (session conf is cloned into each stream at start)
    sys.env.get("GRAFT_AB_CONF").foreach { kvs =>
      kvs.split(";").filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        println(s"[ab] $k=$v")
        spark.conf.set(k, v)
      }
    }

    // In-process sampler: every 10 ms, record the top interesting frame of
    // each stream-execution thread (GRAFT_PROF_STACKS=1 enables).
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread("graft-sampler") {
      override def run(): Unit = while (sampling) {
        try {
          Thread.getAllStackTraces.forEach { (t, stack) =>
            if (t.getName.startsWith("stream execution thread") && stack.nonEmpty) {
              val key = stack.take(40).map(e => s"${e.getClassName}.${e.getMethodName}")
                .filterNot(f => f.startsWith("java.") || f.startsWith("jdk.") ||
                  f.startsWith("scala.") || f.startsWith("sun."))
                .take(5).mkString(" <- ")
              if (key.nonEmpty)
                frameCounts.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong())
                  .incrementAndGet(): Unit
            }
          }
          Thread.sleep(10)
        } catch { case _: Throwable => }
      }
    }
    if (sys.env.contains("GRAFT_PROF_STACKS")) { sampler.setDaemon(true); sampler.start() }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // two passes: pass 0 pays JIT/codegen; pass 1 is the steady state
      (0 to 1).foreach { pass =>
        val (wall, w) = Recorder(spark).measure {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val t = w.totals
        // Per-task durations for the skewed-replay evidence (VERDICT r11
        // ask #6): a hot key concentrating in one state-store partition
        // shows as ONE long task per micro-batch against a flat task
        // population — max/p50 task duration is the straggler signature
        // wall can't show.
        val tasks = w.taskMs
        val maxT = tasks.lastOption.getOrElse(0L)
        val p50T = if (tasks.nonEmpty) tasks(tasks.length / 2) else 0L
        println(f"== $name pass=$pass wall=$wall%.2fs batches=${w.batches} " +
          f"stages=${t.nStages} stageWallMs=${t.stageWallMs} taskRunMs=${t.runMs} taskCpuMs=${t.cpuMs} " +
          f"nTasks=${tasks.length} maxTaskMs=$maxT p50TaskMs=$p50T")
        val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
          "latestOffset", "addBatch", "walCommit", "commitOffsets")
        // name is null for queries started without .queryName (q159's
        // file-source restart legs)
        def query(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
          Option(p.name).getOrElse(p.id.toString)
        w.progress.sortBy(p => (query(p), p.batchId)).foreach { p =>
          val d = keys.map(k => f"$k=${p.durationMs.getOrDefault(k, -1L)}%d").mkString(" ")
          println(f"   [${query(p)}#${p.batchId}] rows=${p.numInputRows} $d")
        }
        val totals = keys.map(k => k -> w.progress.map(_.durationMs.getOrDefault(k, 0L).longValue).sum)
        println("   TOTALS " + totals.map { case (k, v) => s"$k=${v}ms" }.mkString(" "))
      }
    }
    sampling = false
    if (sys.env.contains("GRAFT_PROF_STACKS")) {
      import scala.jdk.CollectionConverters._
      println("== top stream-thread frames (10ms samples) ==")
      frameCounts.asScala.toSeq.sortBy(-_._2.get).take(25).foreach { case (k, v) =>
        println(f"${v.get}%6d  $k")
      }
    }
    spark.stop()
  }
}
