package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Derived, Normalizer}

/** End-to-end normalizer verification (SURVEY.md §2.2 N1-N10, §2.3 D1-D4).
  *
  * Raw OKX-shaped JSON frames are synthesized deterministically from
  * `lineitem` rows (including control frames, malformed JSON, bad
  * timestamps, and broken book levels — every skip branch of
  * reference/src/normalizer.py), pushed through the full
  * [[graft.operators.Normalizer]], and flattened. The DuckDB oracle
  * computes the surviving rows directly from `lineitem` — if any drop rule
  * or cast diverges, the row sets differ.
  *
  * The JSON round-trip is exact: Spark's double→string cast produces a
  * shortest round-trip decimal, so price/size parse back to the identical
  * double the oracle reads from parquet.
  */
object NormalizerQueries extends Registry {

  /** Test hook: frame synthesis exposed for RelationalExtSpec. */
  def framedBooksPublic(s: SparkSession, d: String): DataFrame = framedBooks(s, d)

  /** Frame synthesis shared by both queries. fanOut: the JSON round-trip
    * is CPU-bound, so spread the single-row-group fixture scan first.
    * Frames are assembled with codegen'd concat instead of to_json —
    * every field value is already a cast string, so the bytes are
    * identical and the synthesis (test apparatus, but inside the timed
    * queries) stops being ~45% of q16's steady-state cost.
    */
  private[queries] def framedBooks(s: SparkSession, d: String): DataFrame = {
    Tables.fanOut(Tables.lineitem(s, d)).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("src_id"),
      col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
      col("l_extendedprice").as("px"), col("l_quantity").as("qty"),
      unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
      .select(
        col("src_id"),
        // S6: invalid JSON frame (dropped at decode)
        when(col("l_orderkey") % 17 === 0, lit("{\"broken"))
          // N1: control frame (dropped)
          .when(col("l_orderkey") % 11 === 0,
            lit("""{"event":"subscribe","arg":{"channel":"books5","instId":"X"}}"""))
          .otherwise(concat(
            lit("{\"arg\":{\"channel\":\"books5\",\"instId\":\"SYM-"),
            (col("l_partkey") % 10).cast("string"),
            lit("\"},\"data\":[{\"ts\":\""),
            // N4: unparseable ts → whole event dropped
            when(col("l_orderkey") % 13 === 0, lit("notanumber"))
              .otherwise(col("ship_ms").cast("string")),
            lit("\",\"bids\":[[\""),
            col("px").cast("string"), lit("\",\""), col("qty").cast("string"),
            lit("\",\"0\",\"3\"],"),
            // N5: malformed level → level dropped, event kept
            when(col("l_linenumber") % 3 === 0, lit("[\"bad\",\"x\",\"0\",\"1\"]"))
              .otherwise(concat(lit("[\""), (col("px") - 0.5).cast("string"),
                lit("\",\""), (col("qty") + 1.0).cast("string"), lit("\",\"0\",\"5\"]"))),
            lit("],\"asks\":[[\""),
            (col("px") + 1.0).cast("string"), lit("\",\""), col("qty").cast("string"),
            lit("\",\"0\",\"2\"]]}]}"))).as("raw"),
        (col("ship_ms") + col("l_orderkey") % 500).as("ts_recv_epoch_ms"),
        ((col("ship_ms") + col("l_orderkey") % 500) * 1000000L).as("ts_recv_mono_ns"),
        ((col("ship_ms") + col("l_orderkey") % 500) * 1000000L + 40000L).as("ts_decoded_mono_ns"),
        ((col("ship_ms") + col("l_orderkey") % 500) * 1000000L + 100000L).as("ts_proc_mono_ns"))
  }

  private val q16 = Q("q16_normalize_books5",
    (s, d) => {
      val norm = Normalizer.normalize(framedBooks(s, d), passthrough = Seq("src_id"))
      Derived.withLatencies(norm)
        .select(col("src_id"), col("symbol"), col("channel"), col("event_type"),
          col("ts_exchange_ms"),
          col("book.best_bid").as("best_bid"),
          col("book.best_ask").as("best_ask"),
          (col("book.best_ask") - col("book.best_bid")).as("spread"),
          size(col("book.bids")).as("n_bids"),
          size(col("book.asks")).as("n_asks"),
          col("lat_ex_to_recv_ms"),
          col("lat_recv_to_decode_ns"),
          col("lat_decode_to_proc_ns"))
        .orderBy("src_id")
    },
    Some("""SELECT (l_orderkey * 10 + l_linenumber) AS src_id,
        'SYM-' || CAST(l_partkey % 10 AS VARCHAR) AS symbol,
        'books5' AS channel, 'book_topn' AS event_type,
        epoch_ms(l_shipdate) AS ts_exchange_ms,
        l_extendedprice AS best_bid,
        l_extendedprice + 1.0 AS best_ask,
        (l_extendedprice + 1.0) - l_extendedprice AS spread,
        CAST(CASE WHEN l_linenumber % 3 = 0 THEN 1 ELSE 2 END AS INTEGER) AS n_bids,
        CAST(1 AS INTEGER) AS n_asks,
        l_orderkey % 500 AS lat_ex_to_recv_ms,
        CAST(40000 AS BIGINT) AS lat_recv_to_decode_ns,
        CAST(60000 AS BIGINT) AS lat_decode_to_proc_ns
      FROM lineitem
      WHERE l_orderkey % 17 <> 0 AND l_orderkey % 11 <> 0 AND l_orderkey % 13 <> 0
      ORDER BY src_id"""))

  /** The lineitem rows [[framedTrades]] frames as valid trades, keyed by
    * src_id, as a DuckDB `base` CTE (q17, q59, AnalyticsQueries'
    * trade tape).
    */
  private[queries] lazy val duckTapeBase: String =
    """base AS (
        SELECT (l_orderkey * 10 + l_linenumber) AS src_id,
          'T-' || CAST(l_suppkey % 5 AS VARCHAR) AS symbol,
          epoch_ms(l_shipdate) AS ship_ms,
          l_extendedprice AS px, l_quantity AS qty,
          l_linenumber, l_partkey, l_suppkey
        FROM lineitem WHERE l_orderkey % 17 <> 0 AND l_orderkey % 11 <> 0)"""

  /** Trades-frame synthesis shared by q17 and the console-line queries. */
  private[queries] def framedTrades(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanOut(Tables.lineitem(s, d)).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("src_id"),
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_extendedprice").as("px"), col("l_quantity").as("qty"),
      unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
    val sideA = when(col("l_linenumber") % 2 === 0, lit("buy")).otherwise(lit("sell"))
    val sideB = when(col("l_linenumber") % 2 === 0, lit("sell")).otherwise(lit("buy"))
    base.select(
        col("src_id"),
        when(col("l_orderkey") % 17 === 0, lit("[1,2,3]"))   // non-object frame (S6)
          .when(col("l_orderkey") % 11 === 0,
            lit("""{"event":"error","arg":{"channel":"trades","instId":"X"}}"""))
          .otherwise(concat(
            lit("{\"arg\":{\"channel\":\"trades\",\"instId\":\"T-"),
            (col("l_suppkey") % 5).cast("string"),
            lit("\"},\"data\":[{\"ts\":\""),
            col("ship_ms").cast("string"),
            lit("\",\"px\":\""), col("px").cast("string"),
            lit("\",\"sz\":\""), col("qty").cast("string"),
            lit("\",\"side\":\""), sideA,
            lit("\",\"tradeId\":\""), (col("src_id") * 10 + 1).cast("string"),
            lit("\"},{\"ts\":\""),
            // N9: unparseable ts → this item dropped, sibling kept
            when(col("l_suppkey") % 4 === 0, lit("zz"))
              .otherwise((col("ship_ms") + 1).cast("string")),
            lit("\",\"px\":\""), (col("px") + 2.5).cast("string"),
            lit("\",\"sz\":\""), (col("qty") + 0.25).cast("string"),
            lit("\",\"side\":\""), sideB, lit("\""),
            // nullable tradeId (normalizer.py:174): omitted when null,
            // exactly as to_json drops null struct fields
            when(col("l_partkey") % 5 === 0, lit(""))
              .otherwise(concat(lit(",\"tradeId\":\""),
                (col("src_id") * 10 + 2).cast("string"), lit("\""))),
            lit("}]}"))).as("raw"),
        (col("ship_ms") + 5L).as("ts_recv_epoch_ms"),
        (col("ship_ms") * 1000000L).as("ts_recv_mono_ns"),
        (col("ship_ms") * 1000000L + 1L).as("ts_decoded_mono_ns"),
        (col("ship_ms") * 1000000L + 2L).as("ts_proc_mono_ns"))
  }

  private val q17 = Q("q17_normalize_trades",
    (s, d) => {
      Normalizer.normalize(framedTrades(s, d), passthrough = Seq("src_id"))
        .select(col("src_id"), col("symbol"), col("event_type"),
          col("ts_exchange_ms"),
          col("trade.price").as("price"),
          col("trade.size").as("trade_size"),
          col("trade.side").as("side"),
          col("trade.trade_id").as("trade_id"))
        .orderBy("src_id", "ts_exchange_ms")
    },
    Some(s"""WITH $duckTapeBase
      SELECT src_id, symbol, 'trade' AS event_type, ship_ms AS ts_exchange_ms,
        px AS price, qty AS trade_size,
        CASE WHEN l_linenumber % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
        CAST(src_id * 10 + 1 AS VARCHAR) AS trade_id
      FROM base
      UNION ALL
      SELECT src_id, symbol, 'trade', ship_ms + 1,
        px + 2.5, qty + 0.25,
        CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END,
        CASE WHEN l_partkey % 5 = 0 THEN NULL
             ELSE CAST(src_id * 10 + 2 AS VARCHAR) END
      FROM base WHERE l_suppkey % 4 <> 0
      ORDER BY src_id, ts_exchange_ms"""))

  override val all: Seq[Q] = Seq(q16, q17)
}
