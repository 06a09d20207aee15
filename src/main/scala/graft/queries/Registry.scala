package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demonstration: a Spark query over the harness
  * tables plus (when SQL-expressible) a DuckDB oracle that must produce
  * identical rows at sf0.01.
  */
case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

trait Registry {
  def all: Seq[Q]
}

/** The one replay harness every streaming replay gate runs through. A gate
  * declares its plan, its output mode and its rounds; the harness creates
  * the MemoryStreams on the caller's session, starts the stream inside the
  * conf window below, drains it after every round, and always stops it.
  */
private[graft] object StreamGate {
  import org.apache.spark.sql.{Encoder, Row}
  import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MemoryStreamTable}
  import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

  /** One replay step: feeds zero or more rows into one or both streams. */
  type Round = () => Unit

  /** The three settable values of a gate's stream.
    *
    * @param n shuffle (= streaming state-store) partitions. Each stateful
    *   operator loads and commits one state store instance PER PARTITION
    *   PER MICRO-BATCH — a fixed cost that dwarfs the KB of state the
    *   replay fixtures actually carry: at the session default of 32
    *   partitions the gates spent ~1-3 s per batch on pure store churn
    *   (bench_stages shows stage_wall ≪ wall). The clamp keeps every gated
    *   operator distributed — they are partition-invariant by design, and 2
    *   partitions still exercise multi-partition state merge/commit — while
    *   cutting the fixed per-batch cost 16x vs the session default (r08 A/B
    *   on the six heaviest gates: 8→2 partitions cut their wall 25%, while
    *   moving checkpoints to tmpfs moved nothing AT 8 PARTITIONS — store
    *   instance churn dominated. With the clamp in place the I/O shows
    *   again: the r10 A/B measured a further −8% from the tmpfs scratch
    *   root, see TempDirs.scratch). Production sizing is the opposite
    *   trade: state partitions scale with executor count and amortize over
    *   seconds-long batches, which is why this clamps only the gate's
    *   stream, not the session.
    * @param keepCodegen opt a gate OUT of the whole-stage-codegen clamp.
    *   Whole-stage codegen is OFF for the gate streams (r11 A/B,
    *   StreamProf): a watermarked incremental plan folds the CURRENT
    *   WATERMARK VALUE into the generated source as a literal, so every
    *   micro-batch's source text is new and janino recompiles the whole
    *   pipeline per batch — 0.2-0.8 s of driver time per batch against
    *   fixture batches whose interpreted eval costs ~10 ms (q155 steady
    *   state 5.4 → 3.8 s, q153 3.2 → 2.4 s; factoryMode=NO_CODEGEN was NET
    *   WORSE, so only whole-stage fusion is disabled — per-expression
    *   codegen remains). Gates whose per-batch work is real per-row compute
    *   (q204's tagging expressions, q220's binned range join) lose more to
    *   interpreted eval than they save in per-batch recompiles — measured
    *   +0.6 s / +0.3 s respectively in the r11 A/B, the only two
    *   regressions.
    * @param rocksDb run the stream on the RocksDB state-store provider.
    */
  final case class GateConf(n: Int = 2, keepCodegen: Boolean = false, rocksDb: Boolean = false)

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Shared counter for memory-sink names and gate scratch directories. */
  private val runs = new java.util.concurrent.atomic.AtomicLong()

  /** A replay source on the caller's session; `numPartitions` splits each
    * added block across that many tasks (default: one partition). */
  def memory[T: Encoder](s: SparkSession, numPartitions: Option[Int] = None): MemoryStream[T] =
    numPartitions.fold(MemoryStream[T](s))(MemoryStream[T](s, _))

  /** `rows` in `k` consecutive chunks of ceil(|rows| / k). */
  def inChunks[T](rows: Seq[T], k: Int): Seq[Seq[T]] =
    rows.grouped(math.max(1, (rows.size + k - 1) / k)).toSeq

  /** One round per chunk, each adding that chunk to `mem` (an empty chunk
    * adds nothing, so its round runs no micro-batch). */
  def feed[T](mem: MemoryStream[T], chunks: IterableOnce[Seq[T]]): Seq[Round] =
    chunks.iterator.map(c => (() => if (c.nonEmpty) { mem.addData(c); () }): Round).toSeq

  /** A single round that feeds nothing: the file-source gates' one drain. */
  val drainOnly: Seq[Round] = Seq(() => ())

  /** A fresh per-run scratch directory for `gate`'s spool, checkpoint or
    * foreachBatch output. */
  def scratch(gate: String): java.io.File =
    graft.streaming.TempDirs.scratch(
      s"graft_${gate}_${ProcessHandle.current().pid()}_${runs.incrementAndGet()}")

  /** A fresh memory sink in output `mode`: its writer step and the name of
    * the table it fills. */
  def memorySink(mode: String): (DataStreamWriter[Row] => DataStreamWriter[Row], String) = {
    val name = s"gate_${runs.incrementAndGet()}"
    ((w: DataStreamWriter[Row]) => w.format("memory").queryName(name).outputMode(mode), name)
  }

  /** Start `plan`'s stream through `sink` inside the gate's conf window.
    *
    * No-data micro-batches are derived, not configured: off when the plan
    * replays a MemoryStream — the replay protocols pull every emission
    * through explicit sentinel DATA rounds, so the engine's extra empty
    * batch after each watermark advance is pure per-batch fixed cost (with
    * a watermark it near-doubles the micro-batch count) — and on, Spark's
    * default, for file sources: q159's final windows emit in exactly such
    * a batch after the sentinel file, and the restart gates exercise the
    * engine's stock trigger behavior.
    *
    * The window sets and restores confs on the caller's session — the ONE
    * sanctioned shared-session mutation site in the queries package
    * (ConfHygieneSpec). Wrapping `.start()` alone is sufficient AND
    * complete: Structured Streaming clones the session synchronously at
    * query start (StreamExecution.sparkSessionForStream) and every
    * micro-batch plans against the clone, so the immediate restore cannot
    * leak into the stream, and the post-stream batch aggregation over the
    * sink table runs at full session parallelism. The stream itself stays
    * on the caller's session: a stream started on a cloned session reports
    * progress only to the clone's StreamingQueryManager and registers its
    * memory-sink view only there.
    */
  def start(s: SparkSession, plan: DataFrame, conf: GateConf = GateConf())(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val replaysMemory = plan.queryExecution.logical.exists {
      case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 =>
        r.table.isInstanceOf[MemoryStreamTable]
      case _ => false
    }
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> conf.n.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> (!replaysMemory).toString,
      "spark.sql.codegen.wholeStage" -> conf.keepCodegen.toString) ++
      (if (conf.rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)
       else Nil)
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val query =
      try sink(plan.writeStream).start()
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    if (capturing) capturedQueries += query
    query
  }

  /** Run `rounds` through `plan`'s stream: start it, then after each round
    * drain it (`processAllAvailable`) and call `afterRound`; always stop it.
    */
  def replay(s: SparkSession, plan: DataFrame, rounds: Seq[Round],
      conf: GateConf = GateConf(), afterRound: StreamingQuery => Unit = _ => ())(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val query = start(s, plan, conf)(sink)
    try rounds.foreach { round =>
      round()
      query.processAllAvailable()
      afterRound(query)
    } finally query.stop()
  }

  /** [[replay]] into a fresh memory sink; returns the sink's table. */
  def toMemory(s: SparkSession, plan: DataFrame, mode: String, rounds: Seq[Round],
      conf: GateConf = GateConf(), afterRound: StreamingQuery => Unit = _ => ()): DataFrame = {
    val (sink, name) = memorySink(mode)
    replay(s, plan, rounds, conf, afterRound)(sink)
    s.table(name)
  }

  /** Plan-attestation hook: every StreamingQuery started through
    * [[start]] (all 31 gate streams funnel their `.start()` here) is
    * recorded while capture is on, so the plan-invariant harness can read
    * each handle's `lastExecution` — the executed micro-batch plan — AFTER
    * the gate returns: the IncrementalExecution object outlives `stop()`.
    * Off by default; production paths retain nothing.
    */
  private val capturedQueries =
    new scala.collection.mutable.ArrayBuffer[StreamingQuery]
  @volatile private var capturing = false

  /** Run `body` (typically one registry streaming gate) and return its
    * result plus every StreamingQuery it started. Synchronized: gates run
    * one at a time in the audit paths that use this.
    */
  def captureStreamingQueries[A](body: => A): (A, Seq[StreamingQuery]) =
    synchronized {
      capturing = true
      capturedQueries.clear()
      try { val r = body; (r, capturedQueries.toList) }
      finally { capturing = false; capturedQueries.clear() }
    }
}

/** Conf-scoped batch queries run against a session CLONE, never a
  * set/restore window on the shared session (ADVICE r11 high + VERDICT r11
  * watch item 1). Two failure modes of the window pattern this retires:
  *
  *  - a lazy DataFrame returned from inside the window is re-planned by
  *    `DataFrameWriter` AFTER the `finally` restored the confs, so the
  *    executed plan silently loses the forced shape (q301's zero-exchange
  *    merge join would have benched as a broadcast join);
  *  - a parallel runner planning an unrelated query inside the window
  *    inherits the forced confs.
  *
  * The clone shares the SparkContext and external catalog (bucketed
  * scratch tables stay visible), copies the parent's session state at
  * clone time (confs, temp views, registered functions), and is dropped
  * with the returned DataFrame — whose own `sparkSession` IS the clone, so
  * even a later re-plan of that DataFrame sees the query's confs.
  * ConfHygieneSpec pins the invariant that registry query bodies contain
  * no direct `conf.set` — this helper and StreamGate are the only
  * sanctioned mutation sites.
  */
private[graft] object ConfScope {
  def withConfs[A](s: SparkSession, confs: (String, String)*)(
      body: SparkSession => A): A = {
    val c = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    body(c)
  }
}
