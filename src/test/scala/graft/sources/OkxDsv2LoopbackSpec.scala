package graft.sources

import java.util.concurrent.TimeUnit

import graft.SparkSpec
import graft.operators.Normalizer

/** The FULL S1 stack over a real socket: `spark.readStream.format("okx")`
  * with `provider=websocket` pointed at [[LoopbackWsServer]] — DSv2
  * micro-batch planning, admission control, and offset tracking all fed
  * by actual RFC 6455 frames from the JDK WebSocket client, then
  * normalized and sunk. [[OkxLoopbackSocketSpec]] covers the provider in
  * isolation; this spec proves the provider and the DSv2 source compose:
  * the exact path `app.Main` runs in production, minus only the public
  * internet.
  */
class OkxDsv2LoopbackSpec extends SparkSpec {

  private val ack =
    """{"event":"subscribe","arg":{"channel":"books5","instId":"BTC-USDT"}}"""

  private def books5Frame(seq: Int): String = {
    val ts = 1700000000000L + seq * 1000L
    s"""{"arg":{"channel":"books5","instId":"BTC-USDT"},"data":[{"ts":"$ts",""" +
      s""""bids":[["100.$seq","1.5","0","3"]],"asks":[["101.$seq","1.0","0","2"]]}]}"""
  }

  test("readStream format(okx) over the loopback socket: frames -> micro-batches -> normalized events") {
    val nData = 5
    val server = new LoopbackWsServer(
      (_, _) => ack +: (0 until nData).map(books5Frame))
    val sinkName = "okx_dsv2_loopback"
    val raw = spark.readStream.format("okx")
      .option("provider", "websocket")
      .option("url", server.url)
      .option("symbols", "BTC-USDT")
      .option("channels", "books5")
      .load()
    val events = Normalizer.normalize(raw)
    val query = graft.queries.StreamGate.start(spark, events)(
      _.format("memory").queryName(sinkName).outputMode("append"))
    try {
      // the socket feeds asynchronously: poll micro-batches until the
      // normalizer has admitted every data frame (the ack is dropped as
      // a control event — N1)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      var n = 0L
      while (n < nData && System.nanoTime() < deadline) {
        query.processAllAvailable()
        n = spark.table(sinkName).count()
        if (n < nData) Thread.sleep(100)
      }
      assert(n == nData, s"expected $nData normalized events, got $n")
      val out = spark.table(sinkName).collect()
      out.foreach { e =>
        assert(e.getAs[String]("symbol") == "BTC-USDT")
        assert(e.getAs[String]("channel") == "books5")
        assert(e.getAs[org.apache.spark.sql.Row]("book")
          .getAs[Double]("best_bid") >= 100.0)
      }
      // offset accounting: progress must attribute the rows to the okx
      // source, not a fallback
      val lastDesc = Option(query.lastProgress)
        .map(_.sources.map(_.description).mkString).getOrElse("")
      assert(lastDesc.toLowerCase.contains("okx"), s"source desc: $lastDesc")
    } finally {
      query.stop()
      server.close()
      spark.catalog.dropTempView(sinkName)
    }
  }
}
