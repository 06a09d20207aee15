package graft.sources

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util
import java.util.concurrent.CompletionStage
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSource V2 streaming source for the OKX WebSocket feed
  * (SURVEY.md §2.1 S1-S6).
  *
  * Register: `spark.readStream.format("okx")` with options
  *   provider  "websocket" (default) | "synthetic" | FQCN of a
  *             [[FrameProvider]] — the seam that makes the source testable
  *             without a network
  *   maxBuffer frame buffer bound (S3/T6, reference max_queue=1024)
  *   url, symbols, channels, pingSeconds
  *             websocket provider: wss endpoint (default OKX public,
  *             okx_ws.py:13), comma lists (S2 cross-product
  *             subscription), liveness ping period
  *   symbols, frames, frameIntervalMs, burst
  *             synthetic provider: comma list, frame cap, pacing
  * The per-micro-batch admission cap and the read-partition size are the
  * fixed [[OkxMicroBatchStream.MaxFramesPerTrigger]] and
  * [[OkxMicroBatchStream.FramesPerPartition]].
  *
  * Emits (raw STRING, ts_recv_epoch_ms, ts_recv_mono_ns,
  * ts_decoded_mono_ns, ts_proc_mono_ns) — the Normalizer's input contract.
  * Clock semantics (S5): recv stamps are captured per frame on arrival;
  * in this engine JSON decode + normalization are fused into the
  * micro-batch plan, so the decode/proc stamps equal the recv mono stamp
  * and the internal stage latencies read 0 (surfaced honestly by the A4
  * zero-rate telemetry; the reference tracks them separately because its
  * decode is a separate per-event step).
  *
  * Delivery semantics (T5): at-most-once, matching the reference — frames
  * are buffered in memory between `latestOffset` calls and dropped on
  * `commit`; a crash loses in-flight frames exactly as a socket reconnect
  * does in the reference. The buffer lives on the driver (this is
  * Spark's own pattern for socket-style sources); a production deployment
  * at scale would land frames in Kafka first — but a single WebSocket is
  * itself the throughput bound, so driver-side buffering is not the
  * bottleneck.
  */
class OkxSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "okx"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OkxSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OkxTable(new CaseInsensitiveStringMap(properties))
}

object OkxSource {
  val schema: StructType = StructType(Seq(
    StructField("raw", StringType),
    StructField("ts_recv_epoch_ms", LongType),
    StructField("ts_recv_mono_ns", LongType),
    StructField("ts_decoded_mono_ns", LongType),
    StructField("ts_proc_mono_ns", LongType)))

  case class Frame(raw: String, recvEpochMs: Long, recvMonoNs: Long)
}

class OkxTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "okx_websocket"
  override def schema(): StructType = OkxSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = OkxSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new OkxMicroBatchStream(options)
      }
    }
}

/** Offset = count of frames ever admitted to the buffer. */
case class FrameOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class OkxMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  import OkxMicroBatchStream._

  private val maxBuffer = options.getInt("maxBuffer", 1024)  // okx_ws.py:55

  // frames[i] holds global offset (base + i)
  private val frames = new ArrayBuffer[OkxSource.Frame]()
  private var base = 0L
  private val lock = new Object

  private val provider: FrameProvider = FrameProvider.forOptions(options)
  provider.start { raw =>
    val f = OkxSource.Frame(raw, System.currentTimeMillis(), System.nanoTime())
    lock.synchronized {
      if (frames.size < maxBuffer) frames += f
      // else: drop (at-most-once backpressure, reference max_queue behavior)
    }
  }

  override def initialOffset(): Offset = FrameOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(MaxFramesPerTrigger)

  // Largest offset this incarnation has returned from latestOffset or seen
  // as a planInputPartitions end. A start offset BEYOND this can only come
  // from a recovered checkpoint of a previous incarnation — the rebase
  // trigger. (A start merely beyond base+frames.size is NOT enough: the
  // engine calls latestOffset(prevEnd) BEFORE source.commit(prevEnd), so
  // un-dropped frames would satisfy that weaker test and be re-served at
  // fresh offsets forever.)
  private var handedOut = 0L

  /** Restart-from-checkpoint rebase: a recovered start offset larger than
    * anything this incarnation handed out means a previous incarnation
    * committed up to `n` and this process restarted with an empty or
    * freshly-refilled buffer (base=0). The in-flight data is gone
    * (at-most-once, T5) — frames buffered since restart are NEW data, so
    * re-anchor them at the recovered offset. Without this, latestOffset
    * could return an end < start (offset regression → stuck recovery).
    */
  private def rebaseTo(n: Long): Unit = {
    if (n > handedOut && base < n && n >= base + frames.size) base = n
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = lock.synchronized {
    val startN = start.asInstanceOf[FrameOffset].n
    rebaseTo(startN)
    val available = base + frames.size
    val capped = limit match {
      case m: ReadMaxRows => math.min(available, startN + m.maxRows())
      case _              => available
    }
    // never regress behind start, even mid-rebase races
    val end = math.max(startN, capped)
    handedOut = math.max(handedOut, end)
    FrameOffset(end)
  }

  override def reportLatestOffset(): Offset = lock.synchronized {
    FrameOffset(base + frames.size)
  }

  override def deserializeOffset(json: String): Offset = FrameOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameOffset].n
    val e = end.asInstanceOf[FrameOffset].n
    val slice = lock.synchronized {
      // A WAL-replayed batch after restart lands here before any
      // latestOffset call: rebase so post-restart frames aren't served at
      // stale offsets and then over-dropped by the following commit.
      rebaseTo(s)
      handedOut = math.max(handedOut, e)
      val from = math.max(0, (s - base).toInt)
      val until = math.max(from, math.min(frames.size, (e - base).toInt))
      frames.slice(from, until).toArray
    }
    if (slice.isEmpty) Array(FramesPartition(slice))
    else slice.grouped(FramesPerPartition).map(FramesPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new FramesReader(partition.asInstanceOf[FramesPartition].frames)
    }

  override def commit(end: Offset): Unit = lock.synchronized {
    val upTo = end.asInstanceOf[FrameOffset].n
    val drop = math.max(0, math.min(frames.size.toLong, upTo - base)).toInt
    frames.remove(0, drop)
    base += drop
  }

  override def stop(): Unit = provider.close()
}

case class FramesPartition(frames: Array[OkxSource.Frame]) extends InputPartition

class FramesReader(frames: Array[OkxSource.Frame]) extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < frames.length }
  override def get(): InternalRow = {
    val f = frames(i)
    InternalRow(UTF8String.fromString(f.raw),
      f.recvEpochMs, f.recvMonoNs, f.recvMonoNs, f.recvMonoNs)
  }
  override def close(): Unit = ()
}

object OkxMicroBatchStream {
  /** T6 admission control: bound frames per micro-batch so a backlog can't
    * produce one monster batch (keeps triggers responsive; backlog drains
    * over successive batches). Enforced via SupportsAdmissionControl —
    * clamping in planInputPartitions would silently LOSE the overflow,
    * because the engine commits whatever end offset latestOffset returned.
    */
  val MaxFramesPerTrigger = 100000L
  /** Parallelize reads of large batches: split the slice into chunks so a
    * backlog drains on all cores, not one. */
  val FramesPerPartition = 5000
}

/** Pluggable frame feed. */
trait FrameProvider extends AutoCloseable {
  def start(emit: String => Unit): Unit
}

object FrameProvider {
  def forOptions(options: CaseInsensitiveStringMap): FrameProvider =
    options.getOrDefault("provider", "websocket") match {
      case "websocket" => new WebSocketFrameProvider(options)
      case "synthetic" => new SyntheticFrameProvider(options)
      case fqcn =>
        Class.forName(fqcn).getDeclaredConstructor()
          .newInstance().asInstanceOf[FrameProvider]
    }
}

/** Live feed over JDK java.net.http.WebSocket: S2 subscription
  * cross-product, S3 liveness pings, S4 exponential backoff with jitter
  * (min(30, 0.25·2^attempt)·(0.8+0.4·frac) — okx_ws.py:96-103, reset on
  * successful connect). Every reconnect logs its cause chain, attempt
  * number and backoff at WARN; a fatal error ends the provider thread.
  */
class WebSocketFrameProvider(options: CaseInsensitiveStringMap) extends FrameProvider {
  private val url = options.getOrDefault("url", "wss://ws.okx.com:8443/ws/v5/public")
  private val symbols = options.getOrDefault("symbols", "BTC-USDT").split(",").toSeq
  private val channels = options.getOrDefault("channels", "books5").split(",").toSeq
  private val pingSecs = options.getInt("pingSeconds", 20)
  private val stopped = new AtomicBoolean(false)
  private var thread: Thread = _

  private def subscribePayload: String =
    WebSocketFrameProvider.subscribePayload(symbols, channels)

  override def start(emit: String => Unit): Unit = {
    thread = new Thread(() => {
      // NOTE: no `return` in here — inside a lambda it would throw
      // NonLocalReturnControl, which escapes as an uncaught exception on
      // this thread (the enclosing start() returned long ago).
      var attempt = 0
      var interrupted = false
      while (!stopped.get() && !interrupted) {
        try {
          runOnce(emit)
          attempt = 0 // reset on clean session (okx_ws.py:60)
        } catch {
          case _: InterruptedException => interrupted = true
          case NonFatal(e) => // a fatal error is not caught: it ends this thread
            attempt += 1
            val backoff = WebSocketFrameProvider.backoffMillis(attempt,
              (System.nanoTime() % 1000) / 1000.0)
            WebSocketFrameProvider.log.warn(s"okx socket $url ended: " +
              Iterator.iterate(e)(_.getCause).takeWhile(_ != null).mkString(" <- ") +
              s"; reconnect attempt $attempt in $backoff ms")
            try Thread.sleep(backoff)
            catch { case _: InterruptedException => interrupted = true }
        }
      }
    }, "okx-ws-provider")
    thread.setDaemon(true)
    thread.start()
  }

  private def runOnce(emit: String => Unit): Unit = {
    val closed = new java.util.concurrent.CountDownLatch(1)
    val cause = new AtomicReference[Throwable]()
    val buf = new StringBuilder
    val listener = new WebSocket.Listener {
      override def onText(ws: WebSocket, data: CharSequence,
          last: Boolean): CompletionStage[_] = {
        buf.append(data)
        if (last) { emit(buf.toString()); buf.clear() }
        ws.request(1)
        null
      }
      override def onClose(ws: WebSocket, code: Int, reason: String): CompletionStage[_] = {
        cause.compareAndSet(null, new IOException(s"closed by the server: $code $reason"))
        closed.countDown(); null
      }
      override def onError(ws: WebSocket, error: Throwable): Unit = {
        cause.compareAndSet(null, error)
        closed.countDown()
      }
    }
    val ws = HttpClient.newHttpClient().newWebSocketBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))  // open-timeout, okx_ws.py:50-57
      .buildAsync(URI.create(url), listener).join()
    ws.sendText(subscribePayload, true).join()
    // S3 liveness: ping cadence
    while (!stopped.get() && closed.getCount > 0) {
      if (!closed.await(pingSecs.toLong, java.util.concurrent.TimeUnit.SECONDS)) {
        ws.sendPing(java.nio.ByteBuffer.allocate(0))
      }
    }
    ws.abort()
    if (!stopped.get()) throw new IOException("socket closed", cause.get)
  }

  override def close(): Unit = {
    stopped.set(true)
    if (thread != null) thread.interrupt()
  }
}

object WebSocketFrameProvider {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[WebSocketFrameProvider])

  /** S2: symbols × channels cross-product subscription (okx_ws.py:43-45;
    * channel-major order as the reference iterates channels outermost).
    */
  def subscribePayload(symbols: Seq[String], channels: Seq[String]): String = {
    val args = for (c <- channels; s <- symbols)
      yield s"""{"channel":"$c","instId":"$s"}"""
    s"""{"op":"subscribe","args":[${args.mkString(",")}]}"""
  }

  /** S4 reconnect backoff: min(30, 0.25·2^attempt) · (0.8 + 0.4·frac),
    * frac ∈ [0, 1) (okx_ws.py:96-103) — capped exponential with ±20%
    * jitter, in milliseconds.
    */
  def backoffMillis(attempt: Int, frac: Double): Long = {
    val backoff = math.min(30.0, 0.25 * math.pow(2.0, attempt.toDouble))
    val jitter = 0.8 + 0.4 * frac
    (backoff * jitter * 1000).toLong
  }
}

/** Deterministic synthetic feed for tests/demos: books5+trades frames for
  * the configured symbols, fixed seed, optional frame cap and rate.
  */
class SyntheticFrameProvider(options: CaseInsensitiveStringMap) extends FrameProvider {
  private val symbols = options.getOrDefault("symbols", "BTC-USDT,ETH-USDT").split(",").toSeq
  private val count = options.getLong("frames", 1000L)
  private val intervalMs = options.getLong("frameIntervalMs", 1L)
  // pacing: sleep intervalMs once per `burst` frames (burst>1 = bulk feeds
  // that stay inside the at-most-once buffer bound)
  private val burst = options.getLong("burst", 1L)
  private val stopped = new AtomicBoolean(false)
  private var thread: Thread = _

  override def start(emit: String => Unit): Unit = {
    thread = new Thread(() => {
      var i = 0L
      while (!stopped.get() && i < count) {
        val sym = symbols((i % symbols.size).toInt)
        val ts = 1700000000000L + i * 100
        val px = 50000.0 + (i % 97)
        val frame =
          if (i % 3 == 2)
            s"""{"arg":{"channel":"trades","instId":"$sym"},"data":[{"ts":"$ts","px":"$px","sz":"0.5","side":"${if (i % 2 == 0) "buy" else "sell"}","tradeId":"$i"}]}"""
          else
            s"""{"arg":{"channel":"books5","instId":"$sym"},"data":[{"ts":"$ts","bids":[["$px","1.0","0","3"],["${px - 0.5}","2.0","0","4"]],"asks":[["${px + 0.5}","1.5","0","2"]]}]}"""
        emit(frame)
        i += 1
        if (intervalMs > 0 && i % burst == 0) Thread.sleep(intervalMs)
      }
    }, "okx-synthetic-provider")
    thread.setDaemon(true)
    thread.start()
  }

  override def close(): Unit = {
    stopped.set(true)
    if (thread != null) thread.interrupt()
  }
}
