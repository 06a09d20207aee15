package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.JsonLine
import graft.model.Schemas
import graft.operators.{Derived, WindowStats}

/** The reference's three sinks (SURVEY.md §2.5), Spark-first.
  *
  * K7 (fan-out with per-sink error isolation): each sink is its own
  * streaming query with its own checkpoint — one failing sink can't stall
  * the others, improving on the reference's sequential fan-out
  * (reference/src/app.py:94-98).
  */
object Sinks {

  /** K5: union-flattening JSON serializer, byte-compatible with
    * reference/src/sinks/jsonl.py:32-70 — book levels re-encoded as
    * [price, size, count] arrays with count as a bare integer, payload
    * shape keyed by event_type, compact separators. Spark's `to_json`
    * cannot mix int/double inside one JSON array, so the line comes from
    * the native one-pass encoder [[graft.functions.JsonLine]] over the
    * normalized event columns, its doubles rendered by the
    * [[graft.functions.PyDoubleRepr]] kernel — CPython-repr layout (plain
    * decimal in [1e-4, 1e16), `1e-05`-style scientific outside), so
    * sub-millesimal sizes and >=1e7 values stay byte-identical to
    * json.dumps. The Column-built formulation of the same line lives in
    * the tests (`JsonLineOracle`) as the byte-identity oracle.
    */
  def jsonLine: Column = ColumnBridge.column(JsonLine(
    Schemas.normalizedEventType.fieldNames.toSeq.map(n => ColumnBridge.expression(col(n)))))
    .as("value")

  /** K3/K4: partitioned JSONL sink —
    * `{root}/exchange=okx/channel=.../event_date=.../symbol=.../part-<epoch>-<partition>-<query id>.jsonl`,
    * written by graft's own streaming sink ([[JsonlSinkProvider]]): each
    * task appends [[jsonLine]] bytes to one buffered file per partition
    * key, staged under a `.`-prefixed name that `spark.read` skips; the
    * driver's epoch commit renames the staged files into place.
    *
    * Replay contract (per epoch, as Structured Streaming asks of a sink):
    * the commit first records the epoch's files under
    * `{root}/_graft_jsonl/<query id>/<epoch>`; a replayed epoch deletes
    * what that record names before it renames its own files, so a commit
    * cut off partway leaves no stale or duplicate lines, even when the
    * replay has fewer partitions. There is no `_spark_metadata` log and
    * no `.crc` sidecar; a reader listing the root while an epoch commits
    * may see part of that epoch. Local paths only (plain or `file:`):
    * any other URI scheme fails at `start()`.
    *
    * Layout is Spark's `partitionBy` convention (`symbol=X/` directories
    * vs the reference's `X.jsonl` files — a cosmetic deviation; the
    * partition keys and line format are identical). The time bound of
    * the reference's flush policy maps to the trigger interval; the
    * 100-event count bound has no micro-batch analog (documented
    * deviation, K4).
    */
  def jsonl(events: DataFrame, root: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): DataStreamWriter[org.apache.spark.sql.Row] = {
    events
      .withColumn("event_date", Derived.eventDate)
      .select(col("exchange"), col("channel"), col("event_date"), col("symbol"),
        jsonLine)
      .writeStream
      .format(classOf[JsonlSinkProvider].getName)
      .option("path", root)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
  }

  /** K2: formatted console lines (stdout sink shape). */
  def console(events: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): DataStreamWriter[org.apache.spark.sql.Row] =
    Derived.withLatencies(events)
      .select(Derived.consoleLine.as("event_line"))
      .writeStream
      .format("console")
      .option("truncate", "false")
      .trigger(trigger)

  /** K6: CSV metrics snapshot — full-overwrite single file via
    * foreachBatch: format each complete-mode table of
    * [[MetricsStream.snapshot]] into the reference's 13 columns
    * ([[graft.operators.WindowStats.csvSnapshotFormatted]]), write it to a
    * temp dir, then atomically move the single part file over
    * `metrics_summary.csv` (reference/src/metrics/rolling.py:147-212
    * overwrite semantics).
    */
  def csvSnapshot(snapshot: DataFrame, outFile: String, checkpoint: String,
      intervalSecs: Int = 30): DataStreamWriter[org.apache.spark.sql.Row] = {
    snapshot.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"$intervalSecs seconds"))
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        writeSnapshotCsv(WindowStats.csvSnapshotFormatted(df), outFile)
      }
  }

  /** Batch helper shared by the streaming sink and shutdown flush.
    *
    * The temp dir is unique PER INVOCATION: the periodic export and a
    * shutdown flush may overlap, and a shared tmp path lets one
    * invocation delete the directory out from under the other's write
    * task (observed as a FileFormatWriter task abort at stop). With
    * unique tmps each write is isolated and the atomic move keeps
    * last-mover-wins snapshot semantics.
    */
  def writeSnapshotCsv(df: DataFrame, outFile: String): Unit = {
    val out = Paths.get(outFile)
    if (out.getParent != null) Files.createDirectories(out.getParent)
    val tmp = outFile + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    try {
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.startsWith("part-"))
        .findFirst()
      if (part.isPresent) {
        Files.move(part.get, out, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }
    } finally {
      if (Files.exists(Paths.get(tmp))) {
        Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }
}
