package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * All entry points (Verify, Bench, tests, streaming apps) build sessions
  * here so the semantics-critical confs (UTC, nanos-as-long parquet reads,
  * AQE, shuffle-partition sizing) are applied uniformly.
  *
  * Scale notes (designed for a ~1000-executor cluster, tested on local[N]):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces hand-tuned partition counts at 100 TB.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: harness `events`
  *    fixtures have shipped `ts` as TIMESTAMP(NANOS) (which Spark's
  *    vectorized parquet reader otherwise rejects; reading as Long preserves
  *    full precision and keeps event-time arithmetic in exact integer space,
  *    matching the reference's integer-ns clocks —
  *    reference/src/time_helpers.py:12-23) and, since 2026-08-13, as plain
  *    `timestamp[us]` (unaffected by this conf; arrives as TIMESTAMP_NTZ).
  *    [[Tables.events]] adapts to whichever encoding it observes.
  */
object GraftSession {
  def builder(appName: String, cores: String = "*"): SparkSession.Builder = {
    val parallelism = cores match {
      case "*" => Runtime.getRuntime.availableProcessors().toString
      case n   => n
    }
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", parallelism)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Generated-class cache (static conf, default 100 entries): a session
      // serving this registry compiles thousands of distinct codegen units
      // (321 queries × ~5-35 WholeStageCodegen/expression units each), so at
      // the default size the cache thrashes and EVERY execution re-runs
      // Janino inside the first task of every stage — measured as whole
      // queries whose stage CPU is ~compile time (q156: 3.1 s wall / 2.4 s
      // CPU for a 100k-row two-agg plan). The bench's untimed warmup pass
      // exists precisely to amortize codegen ("so timed rounds measure data
      // processing"); a cache smaller than the working set silently defeats
      // it. 8192 entries ≈ the registry's unit count with headroom; memory
      // is bounded (generated classes are KB-scale) and the setting is
      // scale-independent — a production session running a many-query
      // workload wants the same thing.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      // Local checkpoint, state and sink files through the fork-free
      // filesystem (graft.io.LocalFs.scala): without the native Hadoop
      // library the stock one forks a chmod per created file and a
      // readlink per rename side, ~10 ms each, paid on every micro-batch.
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)
  }

  def get(appName: String, cores: String = "*"): SparkSession = {
    val s = builder(appName, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
