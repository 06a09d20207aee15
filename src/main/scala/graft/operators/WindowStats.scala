package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StableAgg

/** The metrics engine: rolling-window aggregates (SURVEY.md §2.4, A1-A9).
  *
  * The reference maintains 5 s sliding windows incrementally in deques
  * (reference/src/metrics/rolling.py:28-97); here the same aggregates are
  * declarative windowed aggregations — Spark's hash aggregation (batch) or
  * the streaming state store (Structured Streaming) maintain the state.
  * All functions below are mode-agnostic `DataFrame => DataFrame` where
  * possible.
  */
object WindowStats {

  /** A5/A9: per-key count/mean/sample-std/min/max of a Long-typed series
    * (rolling.py:172-184), with the reference's empty/singleton defaults.
    * Exact integer sums → bit-reproducible across partitionings.
    */
  def longSeriesStats(prefix: String, c: Column): Seq[Column] = Seq(
    count(c).as(s"${prefix}_count"),
    coalesce(StableAgg.lavg(c), lit(0.0)).as(s"${prefix}_mean_ms"),
    coalesce(StableAgg.lstdSamp(c), lit(0.0)).as(s"${prefix}_std_ms"),
    coalesce(min(c), lit(0L)).as(s"${prefix}_min_ms"),
    coalesce(max(c), lit(0L)).as(s"${prefix}_max_ms"))

  /** A6 (batch form): staleness = consecutive `ts_exchange_ms` gap per
    * (symbol, channel), ordered by arrival (rolling.py:85-94). The
    * streaming form lives in graft.streaming.StalenessStream.
    */
  def stalenessGaps(
      events: DataFrame,
      keyCols: Seq[String] = Seq("symbol", "channel"),
      tsCol: String = "ts_exchange_ms",
      arrivalCol: String = "ts_recv_mono_ns"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(arrivalCol), col(tsCol))
    events
      .withColumn("stale_ms", col(tsCol) - lag(col(tsCol), 1).over(w))
      .filter(col("stale_ms").isNotNull)
  }

  /** A7/A8: per-symbol cumulative message counts, sorted (rolling.py:97,126). */
  def msgCounts(events: DataFrame, keyCol: String = "symbol"): DataFrame =
    events.groupBy(keyCol).agg(count(lit(1)).as("msg_count")).orderBy(keyCol)

  /** K6/D7/D8: the reference's exact 13-column CSV shape
    * (rolling.py:156-170) of a per-(symbol, channel) `lat_*`/`stale_*`
    * stats table ([[graft.streaming.MetricsStream.snapshot]]) —
    * generated_at_utc stamp first, floats %.3f-formatted, keys sorted.
    */
  def csvSnapshotFormatted(snapshot: DataFrame): DataFrame = {
    def f3(c: String) = graft.operators.Derived.csvNum(col(c).cast("double")).as(c)
    snapshot.select(
      graft.operators.Derived.generatedAtUtc,
      col("symbol"), col("channel"),
      col("lat_count"), f3("lat_mean_ms"), f3("lat_std_ms"),
      f3("lat_min_ms"), f3("lat_max_ms"),
      col("stale_count"), f3("stale_mean_ms"), f3("stale_std_ms"),
      f3("stale_min_ms"), f3("stale_max_ms"))
      .orderBy("symbol", "channel")
  }
}
