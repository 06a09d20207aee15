package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** A6 streaming form: per-(symbol, channel) consecutive exchange-timestamp
  * gaps, the direct analog of the reference's `last_ts_exchange` dict +
  * deque update (reference/src/metrics/rolling.py:34-35,85-94).
  *
  * State per key is one Long (the last seen exchange timestamp) — constant
  * memory per key in the state store, scales to arbitrary key cardinality.
  * Events inside a micro-batch are sorted by arrival clock before folding,
  * mirroring the reference's arrival-order processing.
  */
object StalenessStream {

  case class StaleIn(symbol: String, channel: String,
      ts_exchange_ms: Long, ts_recv_mono_ns: Long)
  case class StaleGap(symbol: String, channel: String, stale_ms: Long,
      ts_recv_mono_ns: Long)
  case class LastTs(lastTsExchangeMs: Long)

  /** One key's micro-batch rows folded in arrival order from the key's
    * last exchange timestamp: the gaps, and the new last timestamp. */
  private def foldGaps(rows: Iterator[StaleIn], last: Option[Long]): (Seq[StaleGap], Option[Long]) = {
    var lastTs = last
    val out = rows.toSeq.sortBy(e => (e.ts_recv_mono_ns, e.ts_exchange_ms)).flatMap { e =>
      val gap = lastTs.map(l => StaleGap(e.symbol, e.channel,
        e.ts_exchange_ms - l, e.ts_recv_mono_ns))
      lastTs = Some(e.ts_exchange_ms)
      gap
    }
    (out, lastTs)
  }

  private def byKey(events: DataFrame): KeyValueGroupedDataset[(String, String), StaleIn] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("symbol"), col("channel"), col("ts_exchange_ms"), col("ts_recv_mono_ns"))
      .as[StaleIn]
      .groupByKey(e => (e.symbol, e.channel))
  }

  def gaps(events: DataFrame): Dataset[StaleGap] = {
    val spark = events.sparkSession
    import spark.implicits._
    byKey(events)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, String), rows: Iterator[StaleIn], state: GroupState[LastTs]) => {
          val (out, last) =
            foldGaps(rows, if (state.exists) Some(state.get.lastTsExchangeMs) else None)
          last.foreach(l => state.update(LastTs(l)))
          out.iterator
        })
  }

  /** The same per-key fold as [[gaps]], on Spark 4's transformWithState
    * API (StatefulProcessor + typed ValueState): state is a named
    * ValueState[Long] in the state store (RocksDB-backed — the API
    * requires the RocksDB provider), updated once per key per batch.
    * Semantics are identical to the fMGWS path by construction; q133
    * gates that claim against the same batch oracle as q108.
    */
  class GapsProcessor extends StatefulProcessor[(String, String), StaleIn, StaleGap] {
    @transient private var last: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Long]("lastTsExchangeMs",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (String, String), rows: Iterator[StaleIn],
        timerValues: TimerValues): Iterator[StaleGap] = {
      val (out, lastTs) = foldGaps(rows, if (last.exists()) Some(last.get()) else None)
      lastTs.foreach(last.update)
      out.iterator
    }
  }

  def gapsTws(events: DataFrame): Dataset[StaleGap] = {
    val spark = events.sparkSession
    import spark.implicits._
    byKey(events)
      .transformWithState(new GapsProcessor, TimeMode.None(), OutputMode.Append())
  }
}
