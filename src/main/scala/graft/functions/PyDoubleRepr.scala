package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Render a double exactly as Python's `repr` / `json.dumps` would
  * (reference/src/sinks/jsonl.py:32-70 serializes floats via json.dumps),
  * so JSONL output stays byte-compatible outside the range where JVM and
  * CPython formatting happen to agree.
  *
  * CPython prints the SHORTEST decimal-digit string that round-trips to
  * the same IEEE-754 double, plain decimal when the leading digit's power
  * of ten `e` is in [-4, 16) and scientific (`1e-05`, `1.5e+20`:
  * lowercase `e`, signed, >=2-digit exponent) otherwise. JDK 17's legacy
  * `Double.toString` is NOT always shortest (e.g. 2.13132399051318989E18
  * where 15 digits suffice — a 32k-value golden corpus against CPython
  * 3.12 caught this), so the digits are derived independently: the first
  * k in 1..17 whose correctly-rounded k-significant-digit form parses
  * back to the identical double. That string has no trailing zeros by
  * construction (a trailing-zero k-digit form implies the (k-1)-digit
  * form parses identically), and reading it back picks the same double
  * CPython's shortest-repr guarantees. The corpus test pins all regimes
  * including subnormals.
  *
  * Fast path (the common case, prices and sizes): for d = 0, 1, 2, …
  * decimal places, scale `v` by the exact double 10^d, round to the
  * nearest integer r, and test `r / 10^d == v`. With r < 10^15 < 2^53 and
  * 10^d exact, that one IEEE division is correctly rounded (Clinger's fast
  * path), so it IS the parse of the decimal `r·10^-d`: the test is exact.
  * Rounding the computed product instead of the exact one is safe: below
  * 10^15 < 2^50 the product is off by at most 1/16, and a d-place decimal
  * that parses back to `v` lies within half an ulp of `v`, under 1/8 in
  * units of 10^-d. So at most one d-place decimal can round-trip, it is
  * the one nearest the product, and the first d that round-trips gives
  * the shortest digits (also for powers of two, whose rounding interval
  * is asymmetric: no second candidate is in reach). Values outside
  * [1e-4, 1e15), or needing more than 15 significant digits, go to the
  * exact `BigDecimal` search. `PyDoubleReprSpec` checks the kernel
  * against that search on over a million seeded values.
  *
  * NaN/±Infinity render as `NaN`/`Infinity`/`-Infinity` — json.dumps'
  * (non-standard-JSON) spellings, which the JVM shares.
  */
case class PyDoubleRepr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == DoubleType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"py_double_repr requires DOUBLE, got ${child.dataType.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(PyDoubleRepr.repr(input.asInstanceOf[Double]))

  // a real doGenCode (vs CodegenFallback) keeps the enclosing projection
  // inside whole-stage codegen — one static call per row
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.PyDoubleRepr$$.MODULE$$.repr($c))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "py_double_repr"
}

object PyDoubleRepr {

  private val contexts: Array[java.math.MathContext] =
    (0 to 17).map(k => new java.math.MathContext(
      math.max(k, 1), java.math.RoundingMode.HALF_EVEN)).toArray

  /** 10^0 … 10^19: every 10^k with k <= 22 is exact in a double. */
  private val POW10: Array[Double] = Array.tabulate(20)(k => s"1e$k".toDouble)
  private val POW10L: Array[Long] = Array.iterate(1L, 20)(_ * 10)

  /** Shortest round-trip digits of `v` (finite, non-zero): the first
    * k in 1..17 whose CORRECTLY-ROUNDED (half-even, like dtoa — `%e`'s
    * half-up differs on the exact decimal midpoints common among big
    * integers) k-significant-digit decimal parses back to the identical
    * double. Returns (digits-without-zeros-padding, exponent of the
    * leading digit).
    */
  private[functions] def shortestDigits(v: Double): (String, Int) = {
    val exact = new java.math.BigDecimal(v) // exact binary expansion
    // round-trip success is monotone in k (more digits → strictly smaller
    // representation error), so binary-search the minimal k in [1, 17]
    var lo = 1
    var hi = 17
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (exact.round(contexts(mid)).doubleValue() == v) hi = mid else lo = mid + 1
    }
    val st = exact.round(contexts(lo)).stripTrailingZeros()
    val digits = st.unscaledValue().abs().toString
    // value = 0.d1d2... x 10^(precision - scale) => leading-digit e:
    (digits, st.precision() - st.scale() - 1)
  }

  /** The fast path (class doc) for a positive finite `v`: its shortest
    * digits as `r · 10^-d`, packed as `r << 5 | d`, or -1 outside the
    * kernel's range, where [[shortestDigits]] decides.
    */
  private[functions] def fastShortest(v: Double): Long = {
    if (!(v >= 1e-4 && v < 1e15)) return -1L
    var d = 0
    while (d < POW10.length) {
      val scale = POW10(d)
      val p = v * scale
      if (p >= 1e15) return -1L
      val r = Math.rint(p)
      if (r / scale == v) return (r.toLong << 5) | d
      d += 1
    }
    -1L
  }

  /** CPython float repr of `v` (see class doc). */
  def repr(v: Double): String = {
    val out = new LineBuffer(32)
    append(out, v)
    out.asciiString
  }

  /** [[repr]] by the exact search alone, without the fast path: the
    * reference the kernel is checked against. */
  private[functions] def reprExact(v: Double): String = {
    val out = new LineBuffer(32)
    render(out, v, fast = false)
    out.asciiString
  }

  /** Append [[repr]] of `v` to `out` as ASCII bytes. */
  def append(out: LineBuffer, v: Double): Unit = render(out, v, fast = true)

  private def render(out: LineBuffer, v: Double, fast: Boolean): Unit = {
    if (java.lang.Double.isNaN(v)) out.appendAscii("NaN")
    else if (java.lang.Double.isInfinite(v)) out.appendAscii(if (v > 0) "Infinity" else "-Infinity")
    else if (v == 0.0) out.appendAscii(if (1.0 / v < 0) "-0.0" else "0.0")
    else {
      if (v < 0) out.append('-')
      val a = Math.abs(v)
      val packed = if (fast) fastShortest(a) else -1L
      if (packed >= 0) appendScaled(out, packed >>> 5, (packed & 31).toInt)
      else {
        val (digits, e) = shortestDigits(a)
        appendDigits(out, digits, e)
      }
    }
  }

  /** Plain decimal `r · 10^-d` with at least one fraction digit. */
  private def appendScaled(out: LineBuffer, r: Long, d: Int): Unit = {
    val unit = POW10L(d)
    out.appendLong(r / unit)
    out.append('.')
    var f = r % unit
    if (f == 0) out.append('0')
    else {
      var width = d
      while (f % 10 == 0) { f /= 10; width -= 1 }
      out.appendPadded(f, width)
    }
  }

  /** CPython's layout of shortest digits with leading-digit exponent `e`. */
  private def appendDigits(out: LineBuffer, digits: String, e: Int): Unit = {
    if (e >= -4 && e < 16) {
      if (e >= digits.length - 1) {
        out.appendAscii(digits)
        var i = digits.length - 1
        while (i < e) { out.append('0'); i += 1 }
        out.append('.'); out.append('0')
      } else if (e >= 0) {
        out.appendAscii(digits.substring(0, e + 1))
        out.append('.')
        out.appendAscii(digits.substring(e + 1))
      } else {
        out.append('0'); out.append('.')
        var i = -1
        while (i > e) { out.append('0'); i -= 1 }
        out.appendAscii(digits)
      }
    } else {
      out.append(digits.charAt(0))
      if (digits.length > 1) { out.append('.'); out.appendAscii(digits.substring(1)) }
      out.append('e')
      out.append(if (e < 0) '-' else '+')
      out.appendPadded(math.abs(e).toLong, 2)
    }
  }
}
