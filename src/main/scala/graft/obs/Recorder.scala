package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The one listener graft code attaches to Spark. Bench and every
  * profiling tool measure through [[measure]]; nothing else in `src/main`
  * registers a listener (`ListenerHygieneSpec`).
  *
  * Streaming progress arrives through the same `SparkListener`
  * (`onOtherEvent`): the engine posts every `QueryProgressEvent` to the
  * context's listener bus, so this sees the progress of streams started on
  * any session, where a `StreamingQueryListener` sees only its own
  * session's streams.
  */
final class Recorder private (spark: SparkSession) extends SparkListener {
  private final class Buf {
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  }
  @volatile private var open: Buf = null

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(open).foreach(_.stages.add(e.stageInfo))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(open).foreach(_.tasks.add(e))
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(open).foreach(_.jobs.add(e))
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => Option(open).foreach(_.progress.add(p.progress))
    case _ =>
  }

  /** Runs `body` and returns its result with every event the bus delivered
    * while it ran. The bus is drained before the window opens and before it
    * closes, so the window holds exactly the jobs `body` submitted (stream
    * thread jobs included) when nothing else runs at the same time.
    * Windows do not nest. */
  def measure[A](body: => A): (A, Recorder.Window) = {
    SessionBridge.drainListenerBus(spark)
    val b = new Buf
    synchronized {
      if (open != null) throw new IllegalStateException("Recorder windows do not nest")
      open = b
    }
    try {
      val a = body
      SessionBridge.drainListenerBus(spark)
      (a, Recorder.Window(b.stages.asScala.toVector, b.tasks.asScala.toVector,
        b.jobs.asScala.toVector, b.progress.asScala.toVector))
    } finally open = null
  }
}

object Recorder {
  private var current: (SparkContext, Recorder) = null

  /** The recorder of `spark`'s SparkContext, attached on first use. */
  def apply(spark: SparkSession): Recorder = synchronized {
    val sc = spark.sparkContext
    if (current == null || (current._1 ne sc)) {
      current = (sc, new Recorder(spark))
      sc.addSparkListener(current._2)
    }
    current._2
  }

  /** A micro-batch the engine executed: its progress ran `addBatch`. The
    * engine also reports the first trigger that finds no data, at once, so
    * counting every progress entry counts a race. */
  def executed(p: StreamingQueryProgress): Boolean = p.durationMs.containsKey("addBatch")

  /** Submission-to-completion wall time of a completed stage. */
  def wallMs(s: StageInfo): Long = s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)

  /** Stage totals of one window, as Bench's `bench_stages.json` prints them. */
  final case class Totals(stageWallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long, nStages: Int)

  final case class Window(stages: Seq[StageInfo], tasks: Seq[SparkListenerTaskEnd],
      jobs: Seq[SparkListenerJobStart], progress: Seq[StreamingQueryProgress]) {
    def totals: Totals = Totals(
      stageWallMs = stages.map(wallMs).sum,
      runMs = stages.map(_.taskMetrics.executorRunTime).sum,
      cpuMs = stages.map(_.taskMetrics.executorCpuTime).sum / 1000000,
      gcMs = stages.map(_.taskMetrics.jvmGCTime).sum,
      nStages = stages.size)

    /** Durations of the successful task attempts, ascending. */
    def taskMs: IndexedSeq[Long] =
      tasks.filter(t => t.taskInfo != null && t.taskInfo.successful).map(_.taskInfo.duration).toVector.sorted

    def inputBytes: Long = tasks.flatMap(t => Option(t.taskMetrics)).map(_.inputMetrics.bytesRead).sum

    def batches: Int = progress.count(executed)
  }
}
