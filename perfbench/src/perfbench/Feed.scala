package perfbench

import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLongArray}
import java.util.concurrent.locks.LockSupport

import graft.sources.FrameProvider

/** The open-loop load generator of the `live_feed` workload.
  *
  * Frames are generated from the seed before any timed phase and released
  * on a schedule of due times (`System.nanoTime`) that the harness sets per
  * phase. Every [[FeedProvider]] (one per streaming query, as in
  * `graft.app.Main`) replays the same frames on its own thread, so the
  * generator never slows down when the engine does: a provider that wakes
  * late emits everything already due and records how late each frame was.
  */
object Feed {
  val symbols: IndexedSeq[String] = IndexedSeq(
    "BTC-USDT", "ETH-USDT", "SOL-USDT", "XRP-USDT", "DOGE-USDT", "ADA-USDT",
    "AVAX-USDT", "LINK-USDT", "DOT-USDT", "TRX-USDT", "LTC-USDT", "BCH-USDT",
    "UNI-USDT", "ATOM-USDT", "ETC-USDT", "FIL-USDT", "APT-USDT", "ARB-USDT",
    "OP-USDT", "NEAR-USDT")
  val levels = 5
  /** First exchange timestamp; frame i carries `baseTsMs + i`, which makes
    * the exchange timestamp a per-frame key for the JSONL line check. */
  val baseTsMs = 1738195200000L

  /** Seeded OKX-shaped frames: books5 with `levels` levels a side and
    * trades with 1-3 fills, two book frames per trade frame on average.
    * Returns the frames and the number of normalized events each yields.
    */
  def generate(seed: Long, n: Int): (Array[String], Array[Int]) = {
    val rnd = new java.util.SplittableRandom(seed)
    // per symbol: price scale (decimals) and mid price in price units
    val scale = symbols.indices.map(_ => 1 + rnd.nextInt(4)).toArray
    val mid = symbols.indices.map(i => (10L + rnd.nextLong(100000L)) * math.pow(10, scale(i)).toLong).toArray
    def dec(units: Long, s: Int): String = java.math.BigDecimal.valueOf(units, s).toPlainString
    def size(): String = dec(1L + rnd.nextLong(5000000L), 6)
    val frames = new Array[String](n)
    val events = new Array[Int](n)
    val sb = new java.lang.StringBuilder(512)
    var i = 0
    while (i < n) {
      val s = rnd.nextInt(symbols.size)
      val sym = symbols(s)
      val tick = math.max(1L, mid(s) / 20000L)
      mid(s) = math.max(10L * tick, mid(s) + (rnd.nextInt(5) - 2) * tick)
      val ts = (baseTsMs + i).toString
      sb.setLength(0)
      if (rnd.nextInt(3) < 2) {
        sb.append("{\"arg\":{\"channel\":\"books5\",\"instId\":\"").append(sym)
          .append("\"},\"data\":[{\"asks\":[")
        def side(sign: Int): Unit = {
          var k = 0
          while (k < levels) {
            if (k > 0) sb.append(',')
            sb.append("[\"").append(dec(mid(s) + sign * (k + 1) * tick, scale(s)))
              .append("\",\"").append(size()).append("\",\"0\",\"")
              .append(1 + rnd.nextInt(30)).append("\"]")
            k += 1
          }
        }
        side(1)
        sb.append("],\"bids\":[")
        side(-1)
        sb.append("],\"ts\":\"").append(ts).append("\"}]}")
        events(i) = 1
      } else {
        val fills = 1 + rnd.nextInt(3)
        sb.append("{\"arg\":{\"channel\":\"trades\",\"instId\":\"").append(sym).append("\"},\"data\":[")
        var k = 0
        while (k < fills) {
          if (k > 0) sb.append(',')
          sb.append("{\"instId\":\"").append(sym)
            .append("\",\"tradeId\":\"").append(1000000L * (s + 1) + i * 4L + k)
            .append("\",\"px\":\"").append(dec(mid(s) + (rnd.nextInt(3) - 1) * tick, scale(s)))
            .append("\",\"sz\":\"").append(size())
            .append("\",\"side\":\"").append(if (rnd.nextBoolean()) "buy" else "sell")
            .append("\",\"ts\":\"").append(ts).append("\"}")
          k += 1
        }
        sb.append("]}")
        events(i) = fills
      }
      frames(i) = sb.toString
      i += 1
    }
    (frames, events)
  }

  @volatile private[perfbench] var frames: Array[String] = Array.empty
  @volatile private[perfbench] var due: AtomicLongArray = new AtomicLongArray(0)
  val providers = new CopyOnWriteArrayList[FeedProvider]()

  def install(f: Array[String]): Unit = {
    val d = new AtomicLongArray(f.length)
    for (i <- f.indices) d.set(i, Long.MaxValue)
    due = d
    frames = f
  }

  /** Make frames [from, until) due from `startNs` on at `perSec` frames per
    * second; `perSec` = infinity offers them all at once (a backlog). */
  def schedule(from: Int, until: Int, startNs: Long, perSec: Double): Unit = {
    val step = if (perSec.isInfinite) 0.0 else 1e9 / perSec
    var i = from
    while (i < until) { due.set(i, startNs + ((i - from) * step).toLong); i += 1 }
  }
}

/** `provider=perfbench.FeedProvider`: replays [[Feed]]'s frames on their due
  * times. Loaded by the okx source through its public provider seam. */
class FeedProvider extends FrameProvider {
  private val frames = Feed.frames
  private val due = Feed.due
  private val stopped = new AtomicBoolean(false)
  private val next = new AtomicInteger(0)
  /** How late each frame was emitted, in ns. */
  val lateNs = new Array[Long](frames.length)
  private var thread: Thread = _

  def emitted: Int = next.get()

  override def start(emit: String => Unit): Unit = {
    thread = new Thread(() => {
      var i = 0
      while (!stopped.get()) {
        var now = System.nanoTime()
        while (i < frames.length && due.get(i) <= now) {
          emit(frames(i))
          lateNs(i) = now - due.get(i)
          i += 1
          next.set(i)
          if ((i & 255) == 0) now = System.nanoTime()
        }
        val wait = if (i < frames.length) due.get(i) - now else Long.MaxValue
        LockSupport.parkNanos(math.max(20000L, math.min(wait, 1000000L)))
      }
    }, "perfbench-feed")
    thread.setDaemon(true)
    thread.start()
    Feed.providers.add(this)
  }

  override def close(): Unit = {
    stopped.set(true)
    if (thread != null) thread.join(5000)
  }
}
