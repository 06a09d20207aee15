package graft.functions

import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas

/** Native K5 serializer: the normalized event columns (in
  * `Schemas.normalizedEventType` order) → one JSONL line, byte-identical
  * to the reference's `json.dumps(_event_to_dict(e), separators=(",",
  * ":"))` (reference/src/sinks/jsonl.py:32-70,144,152).
  *
  * One pass per row into a reused per-thread buffer: the header fields,
  * then the payload keyed by `event_type` — book levels re-encoded as
  * `[price,size,count]` arrays with count as a bare integer, doubles
  * appended through the [[PyDoubleRepr]] kernel. Strings are copied as
  * they are (symbols, channels, sides and ids are JSON-safe in the OKX
  * feed).
  *
  * NULL semantics are the Column-built oracle's (`JsonLineOracle` in the
  * tests): a NULL header field, a NULL payload struct for the event's
  * kind, or a NULL price/size/n/best_bid/best_ask makes the line NULL; a
  * NULL side or trade_id renders `null`; a NULL level array renders `[]`,
  * and a NULL level or level field drops that level.
  */
case class JsonLine(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val want = Schemas.normalizedEventType.fields.map(_.dataType.catalogString).toSeq
    val got = children.map(_.dataType.catalogString)
    if (got == want) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_line takes the normalized event columns ${want.mkString(", ")}; got ${got.mkString(", ")}")
  }

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (v.take(9).contains(null)) null
    else JsonLine.encode(
      v(0).asInstanceOf[UTF8String], v(1).asInstanceOf[UTF8String],
      v(2).asInstanceOf[UTF8String], v(3).asInstanceOf[UTF8String],
      v(4).asInstanceOf[Long], v(5).asInstanceOf[Long], v(6).asInstanceOf[Long],
      v(7).asInstanceOf[Long], v(8).asInstanceOf[Long],
      v(9).asInstanceOf[InternalRow], v(10).asInstanceOf[InternalRow])
  }

  // a real doGenCode keeps the sink's projection inside whole-stage
  // codegen: the child values go straight into one static call per row
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val (head, payload) = evals.splitAt(9)
    val headNull = head.map(_.isNull.toString).mkString(" || ")
    val args = head.map(_.value.toString) ++
      payload.map(e => s"(${e.isNull} ? null : ${e.value})")
    val call = s"graft.functions.JsonLine$$.MODULE$$.encode(${args.mkString(", ")})"
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ($headNull) ? null : $call;
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
  override def prettyName: String = "json_line"
}

object JsonLine {

  private def bytes(s: String): Array[Byte] = s.getBytes(US_ASCII)
  private val EXCHANGE = bytes("{\"exchange\":\"")
  private val SYMBOL = bytes("\",\"symbol\":\"")
  private val CHANNEL = bytes("\",\"channel\":\"")
  private val EVENT_TYPE = bytes("\",\"event_type\":\"")
  private val TS_EXCHANGE = bytes("\",\"ts_exchange_ms\":")
  private val TS_RECV_EPOCH = bytes(",\"ts_recv_epoch_ms\":")
  private val TS_RECV_MONO = bytes(",\"ts_recv_mono_ns\":")
  private val TS_DECODED = bytes(",\"ts_decoded_mono_ns\":")
  private val TS_PROC = bytes(",\"ts_proc_mono_ns\":")
  private val BOOK_N = bytes(",\"payload\":{\"n\":")
  private val BEST_BID = bytes(",\"best_bid\":")
  private val BEST_ASK = bytes(",\"best_ask\":")
  private val BIDS = bytes(",\"bids\":")
  private val ASKS = bytes(",\"asks\":")
  private val PRICE = bytes(",\"payload\":{\"price\":")
  private val SIZE = bytes(",\"size\":")
  private val SIDE = bytes(",\"side\":")
  private val TRADE_ID = bytes(",\"trade_id\":")
  private val NULL = bytes("null")
  private val BOOK_TOPN = UTF8String.fromString("book_topn")

  private val buffers = ThreadLocal.withInitial[LineBuffer](() => new LineBuffer(1024))

  /** One line, or null when the event's payload struct (or a
    * non-nullable field of it) is NULL; the header fields are non-NULL. */
  def encode(exchange: UTF8String, symbol: UTF8String, channel: UTF8String,
      eventType: UTF8String, tsExchangeMs: Long, tsRecvEpochMs: Long,
      tsRecvMonoNs: Long, tsDecodedMonoNs: Long, tsProcMonoNs: Long,
      book: InternalRow, trade: InternalRow): UTF8String = {
    val out = buffers.get()
    out.reset()
    out.append(EXCHANGE); out.append(exchange)
    out.append(SYMBOL); out.append(symbol)
    out.append(CHANNEL); out.append(channel)
    out.append(EVENT_TYPE); out.append(eventType)
    out.append(TS_EXCHANGE); out.appendLong(tsExchangeMs)
    out.append(TS_RECV_EPOCH); out.appendLong(tsRecvEpochMs)
    out.append(TS_RECV_MONO); out.appendLong(tsRecvMonoNs)
    out.append(TS_DECODED); out.appendLong(tsDecodedMonoNs)
    out.append(TS_PROC); out.appendLong(tsProcMonoNs)
    if (eventType == BOOK_TOPN) {
      if (book == null || book.isNullAt(0) || book.isNullAt(1) || book.isNullAt(2)) return null
      out.append(BOOK_N); out.appendLong(book.getInt(0))
      out.append(BEST_BID); PyDoubleRepr.append(out, book.getDouble(1))
      out.append(BEST_ASK); PyDoubleRepr.append(out, book.getDouble(2))
      out.append(BIDS); appendLevels(out, book, 3)
      out.append(ASKS); appendLevels(out, book, 4)
    } else {
      if (trade == null || trade.isNullAt(0) || trade.isNullAt(1)) return null
      out.append(PRICE); PyDoubleRepr.append(out, trade.getDouble(0))
      out.append(SIZE); PyDoubleRepr.append(out, trade.getDouble(1))
      out.append(SIDE); appendQuotedOrNull(out, trade, 2)
      out.append(TRADE_ID); appendQuotedOrNull(out, trade, 3)
    }
    out.append('}'); out.append('}')
    out.toUtf8
  }

  private def appendQuotedOrNull(out: LineBuffer, row: InternalRow, i: Int): Unit =
    if (row.isNullAt(i)) out.append(NULL)
    else { out.append('"'); out.append(row.getUTF8String(i)); out.append('"') }

  /** `[[price,size,count],…]`; a NULL side is `[]` and a NULL level (or
    * level field) is left out, as `concat_ws` drops a NULL element. */
  private def appendLevels(out: LineBuffer, book: InternalRow, i: Int): Unit = {
    out.append('[')
    if (!book.isNullAt(i)) {
      val levels = book.getArray(i)
      var first = true
      var k = 0
      while (k < levels.numElements()) {
        if (!levels.isNullAt(k)) {
          val l = levels.getStruct(k, 3)
          if (!l.isNullAt(0) && !l.isNullAt(1) && !l.isNullAt(2)) {
            if (!first) out.append(',')
            first = false
            out.append('[')
            PyDoubleRepr.append(out, l.getDouble(0)); out.append(',')
            PyDoubleRepr.append(out, l.getDouble(1)); out.append(',')
            out.appendLong(l.getInt(2))
            out.append(']')
          }
        }
        k += 1
      }
    }
    out.append(']')
  }
}

/** A growable byte buffer a line is written into, reused across rows. */
final class LineBuffer(initial: Int) {
  private var buf = new Array[Byte](initial)
  private var len = 0

  def reset(): Unit = len = 0

  private def ensure(n: Int): Unit =
    if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  def append(c: Char): Unit = { ensure(1); buf(len) = c.toByte; len += 1 }

  def append(bytes: Array[Byte]): Unit = {
    ensure(bytes.length)
    System.arraycopy(bytes, 0, buf, len, bytes.length)
    len += bytes.length
  }

  def append(s: UTF8String): Unit = {
    val n = s.numBytes()
    ensure(n)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
    len += n
  }

  /** `s` is ASCII. */
  def appendAscii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf(len + i) = s.charAt(i).toByte; i += 1 }
    len += s.length
  }

  def appendLong(v: Long): Unit =
    if (v == Long.MinValue) appendAscii(v.toString)
    else if (v < 0) { append('-'); appendPadded(-v, 1) }
    else appendPadded(v, 1)

  /** Decimal digits of `v` >= 0, left-padded with zeros to `width`. */
  def appendPadded(v: Long, width: Int): Unit = {
    var n = 1
    var t = v
    while (t >= 10) { t /= 10; n += 1 }
    n = math.max(n, width)
    ensure(n)
    var i = len + n - 1
    var x = v
    while (i >= len) { buf(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    len += n
  }

  def toUtf8: UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
  def asciiString: String = new String(buf, 0, len, ISO_8859_1)
}
