package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Raw OKX frame stream → normalized event stream (SURVEY.md §2.2, N1-N10).
  *
  * Input contract: a DataFrame (batch or streaming — the transform is
  * mode-agnostic) with columns
  *   raw: String                 — one JSON frame
  *   ts_recv_epoch_ms: Long      — ingest wall clock (S5)
  *   ts_recv_mono_ns: Long       — ingest monotonic clock (S5)
  *   ts_decoded_mono_ns: Long    — post-decode monotonic clock (S5)
  *   ts_proc_mono_ns: Long       — post-normalize monotonic clock (N7/N10)
  *
  * Output: Schemas.normalizedEventType rows, one per book snapshot or trade.
  *
  * Execution shape: Scan → Generate(explode(parse_okx_frame(raw))) → Project.
  *  - The native [[graft.functions.ParseOkxFrame]] expression reads each
  *    frame in ONE streaming-JSON pass and emits the frame's final event
  *    structs (empty array = frame dropped; N items for a trades frame), so
  *    no envelope tree is materialized and no filter re-parses the frame.
  *  - The Generate node explodes that array; the Project flattens each
  *    event struct into the header columns, carrying the capture clocks and
  *    any `passthrough` columns alongside.
  *  - Every skip-on-malformed branch of the reference is a branch of that
  *    one parser: invalid JSON / non-object frames (okx_ws.py:78-81,92-94
  *    → S6), control events (normalizer.py:64-66 → N1), envelope validation
  *    (:68-78 → N2), channel dispatch (:82,161 → N3), books5 data[0] + ts
  *    cast-or-drop (:84-91 → N4), per-level parse-or-skip (:93-121 → N5),
  *    best bid/ask head-of-array with 0.0 default (:123-125 → N6), payload
  *    assembly with n=5/exchange=okx (:127-159 → N7), trades 1→N explode
  *    (:161-200 → N8), per-item cast-or-skip (:164-175 → N9).
  *
  * The test-scope `NormalizerOracle` states the same semantics with Spark
  * built-ins only (`from_json` + higher-order functions); the normalizer
  * specs and a 3000-frame fuzz assert that both agree.
  */
object Normalizer {

  private[operators] val captureCols: Seq[Column] = Seq("ts_recv_epoch_ms",
    "ts_recv_mono_ns", "ts_decoded_mono_ns", "ts_proc_mono_ns").map(col)

  /** Full normalizer. `passthrough` columns from the input survive into
    * the output (lineage ids / replay bookkeeping; no reference analog).
    */
  def normalize(raw: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val parsed = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ParseOkxFrame(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("raw"))))
    val exploded = raw.select(
      passthrough.map(col) ++ captureCols :+ explode(parsed).as("evt"): _*)
    project(exploded, passthrough)
  }

  /** `evt` event structs (plus capture clocks and `passthrough`) → the
    * flat normalized columns. */
  private[operators] def project(exploded: DataFrame, passthrough: Seq[String]): DataFrame =
    exploded.select(
      passthrough.map(col) ++ Seq(
        lit("okx").as("exchange"),                      // normalizer.py:149,190
        col("evt.symbol").as("symbol"),
        col("evt.channel").as("channel"),
        col("evt.event_type").as("event_type"),
        col("evt.ts_exchange_ms").as("ts_exchange_ms")) ++
      captureCols ++ Seq(
        col("evt.book").as("book"),
        col("evt.trade").as("trade")): _*)
}
