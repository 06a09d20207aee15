package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the listener bus's `currentTimeMillis` event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def msAt(nanoTime: Long): Double = baseMs + (nanoTime - baseNs) / 1e6
}

/** Spans recorded around the benchmark's own calls into graft (traced runs).
  * A span is (id, parent, name, start ms, end ms, sample); spans of one
  * sample (a pass or a phase) share the sample id. */
final class Spans {
  private val rows = scala.collection.mutable.LinkedHashMap.empty[Int, Map[String, Any]]
  def open(parent: Int, name: String, start: Double, sample: String,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = rows.size + 1
    rows(id) = Map("id" -> id, "parent" -> parent, "name" -> name, "start" -> start,
      "end" -> start, "sample" -> sample) ++ attrs
    id
  }
  def close(id: Int, end: Double): Unit = synchronized { rows(id) = rows(id) + ("end" -> end) }
  def add(parent: Int, name: String, start: Double, end: Double, sample: String,
      attrs: Map[String, Any] = Map.empty): Int = {
    val id = open(parent, name, start, sample, attrs)
    close(id, end)
    id
  }
  def all: Seq[Map[String, Any]] = synchronized(rows.values.toList)
}

/** Job, stage and micro-batch records from Spark's listener buses. Job and
  * stage times are the scheduler's event times (epoch ms). */
final class Recorder extends SparkListener {
  private val open = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = (e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t, st) =>
      jobs += Map("id" -> e.jobId, "start" -> t, "end" -> e.time, "stages" -> st)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages += Map("id" -> si.stageId, "start" -> si.submissionTime.getOrElse(0L),
      "end" -> si.completionTime.getOrElse(0L), "tasks" -> si.numTasks,
      "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_bytes" -> (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten),
      "input_bytes" -> m.inputMetrics.bytesRead,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress.json }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def snapshot: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList, "progress" -> progress.toList)
  }
}
