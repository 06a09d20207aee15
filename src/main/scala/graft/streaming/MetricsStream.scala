package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ExactPercentile
import graft.operators.{Derived, WindowStats}

/** The streaming metrics report (SURVEY.md §2.4 A1-A4, §2.6 T1/T3):
  * 5-second sliding windows (1 s slide = the reference's 1 s report
  * cadence) of the three stage-latency series with exact floor-index
  * percentiles, the ≥20-sample gate, and the cumulative zero-rate
  * counters.
  *
  * Windows are keyed on a time column the caller chooses: the ingest
  * clock (`timestamp_millis(ts_recv_epoch_ms)`) reproduces the
  * reference's processing-time behavior on replay; `timestamp_millis(
  * ts_exchange_ms)` + a watermark gives the idiomatic event-time variant
  * (T2 — absent in the reference, supported here).
  */
object MetricsStream {

  /** A1+A2+A3: sliding-window percentile report for one latency column. */
  def latencyPercentiles(
      events: DataFrame,
      latCol: String,
      timeCol: Column,
      windowLen: String = "5 seconds",
      slide: String = "1 second",
      minSamples: Int = 20): DataFrame = {
    events
      .groupBy(window(timeCol, windowLen, slide).as("w"))
      .agg(ExactPercentile(col(latCol), Seq(0.5, 0.95, 0.99)).as("pcts"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minSamples)
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        element_at(col("pcts"), 1).as("p50"),
        element_at(col("pcts"), 2).as("p95"),
        element_at(col("pcts"), 3).as("p99"),
        col("cnt"))
  }

  /** A4: cumulative (since stream start) zero-latency counters — a running
    * ungrouped aggregate; emit in update/complete mode.
    */
  def zeroRates(events: DataFrame, latCol: String): DataFrame =
    events.agg(
      count(lit(1)).as("total"),
      sum(when(col(latCol) === 0, 1L).otherwise(0L)).as("zeros"))
      .withColumn("zero_rate_pct",
        col("zeros").cast("double") / greatest(col("total"), lit(1L)) * 100.0d)

  /** A7: per-symbol cumulative message counts (update/complete mode). */
  def msgCounts(events: DataFrame): DataFrame =
    events.groupBy("symbol").agg(count(lit(1)).as("msg_count"))

  /** K6: the CSV snapshot table (rolling.py:147-212) over every event
    * since stream start: per (symbol, channel), A5/A9 stats of the
    * exchange→receive latency (`lat_*`) and of the A6 staleness gaps
    * (`stale_*`, [[StalenessStream.gaps]]), with zero defaults for a key
    * that has only one of the two series. Both series are tagged and
    * unioned into one aggregate, so a complete-mode query emits the whole
    * table every trigger. [[Sinks.csvSnapshot]] formats and writes it.
    */
  def snapshot(events: DataFrame): DataFrame = {
    val keys = Seq(col("symbol"), col("channel"))
    def series(name: String, rows: DataFrame, v: Column) =
      rows.select(keys :+ lit(name).as("series") :+ v.as("v"): _*)
    val stats = Seq("lat", "stale").flatMap(p =>
      WindowStats.longSeriesStats(p, when(col("series") === p, col("v"))))
    series("lat", events, Derived.latExToRecvMs)
      .unionByName(series("stale", StalenessStream.gaps(events).toDF(), col("stale_ms")))
      .groupBy(keys: _*).agg(stats.head, stats.tail: _*)
  }

  /** The reference's one-line metrics report (rolling.py:113-145;
    * README.md:176-185): three latency series with floor-index
    * percentiles, each shown only at ≥ minSamples window samples, the
    * internal series annotated with cumulative zero-rates, and the sorted
    * per-symbol message counts. Batch form — compute over a window's
    * events (use inside foreachBatch for the 1 s cadence).
    *
    *   Metrics | Ex→Recv p50=344.0ms p95=458.0ms p99=544.0ms |
    *   Recv→Decode p50=10.743us ... (zero=0.0%) | ... | Msgs: BTC-USDT:12
    */
  def metricsLine(events: DataFrame, minSamples: Int = 20): DataFrame = {
    val ps = Seq(0.5, 0.95, 0.99)
    def pcts(c: String) = ExactPercentile(col(c), ps)
    def zeros(c: String) = sum(when(col(c) === 0, 1L).otherwise(0L))
    val stats = events.agg(
      count(lit(1)).as("n"),
      pcts("lat_ex_to_recv_ms").as("p_ex"),
      pcts("lat_recv_to_decode_ns").as("p_dec"),
      pcts("lat_decode_to_proc_ns").as("p_proc"),
      zeros("lat_recv_to_decode_ns").as("z_dec"),
      zeros("lat_decode_to_proc_ns").as("z_proc"))
    val msgs = events.groupBy("symbol").agg(count(lit(1)).as("c"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("symbol"), col("c")))),
          s => concat(s.getField("symbol"), lit(":"), s.getField("c"))),
        ", ").as("msgs"))
    def seg(label: String, p: Column, unit: String, scale: Double, zero: Option[Column]) = {
      // Python f-string fixed rounding (ties-to-even), not Java HALF_UP —
      // keeps the metrics line byte-identical to rolling.py:130-142
      val prec = if (unit == "ms") 1 else 3
      def f(c: Column) = graft.operators.Derived.pyFixed(c, prec)
      val body = concat(
        lit(s" | $label p50="), f(element_at(p, 1) / scale), lit(unit),
        lit(" p95="), f(element_at(p, 2) / scale), lit(unit),
        lit(" p99="), f(element_at(p, 3) / scale), lit(unit))
      val z = zero.map(zc => concat(lit(" (zero="),
        graft.operators.Derived.pyFixed(
          zc.cast("double") / greatest(col("n"), lit(1L)) * 100.0d, 1),
        lit("%)"))).getOrElse(lit(""))
      when(col("n") >= minSamples, concat(body, z)).otherwise(lit(""))
    }
    stats.crossJoin(msgs).select(concat(
      lit("Metrics"),
      seg("Ex→Recv", col("p_ex"), "ms", 1.0, None),
      seg("Recv→Decode", col("p_dec"), "us", 1000.0, Some(col("z_dec"))),
      seg("Decode→Proc", col("p_proc"), "us", 1000.0, Some(col("z_proc"))),
      lit(" | Msgs: "), col("msgs")).as("metrics_line"))
  }
}
