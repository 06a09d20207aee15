package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** PyDoubleRepr must match CPython repr()/json.dumps layout (the expected
  * strings below were produced by CPython 3.12) and always round-trip.
  */
class PyDoubleReprSpec extends AnyFunSuite {

  private val pythonReprCases: Seq[(Double, String)] = Seq(
    0.0 -> "0.0",
    -0.0 -> "-0.0",
    5.0 -> "5.0",
    100.0 -> "100.0",
    0.1 -> "0.1",
    3.14 -> "3.14",
    92578.7 -> "92578.7",
    123456.789 -> "123456.789",
    // Java renders these scientific ("5.0E-4"); Python plain
    0.0005 -> "0.0005",
    0.0001 -> "0.0001",
    -0.00025 -> "-0.00025",
    // Java goes scientific at 1e7; Python at 1e16
    12345678.0 -> "12345678.0",
    1.2345678e10 -> "12345678000.0",
    1234567890123456.0 -> "1234567890123456.0",
    9999999999999998.0 -> "9999999999999998.0",
    // Python scientific forms: lowercase e, signed, 2-digit minimum
    1e-5 -> "1e-05",
    2.5e-10 -> "2.5e-10",
    1e16 -> "1e+16",
    1.5e16 -> "1.5e+16",
    1e22 -> "1e+22",
    -3.25e17 -> "-3.25e+17",
    1e100 -> "1e+100",
    1e-100 -> "1e-100",
    // min subnormal: legacy JDK toString says "4.9E-324"; CPython (and
    // the independent digit derivation here) say 5e-324
    java.lang.Double.MIN_VALUE -> "5e-324",
    2.5 -> "2.5",
    // json.dumps' non-standard spellings, shared with the JVM
    Double.PositiveInfinity -> "Infinity",
    Double.NegativeInfinity -> "-Infinity")

  test("matches CPython repr on layout-boundary cases") {
    pythonReprCases.foreach { case (v, expect) =>
      assert(PyDoubleRepr.repr(v) == expect, s"for $v")
    }
    assert(PyDoubleRepr.repr(Double.NaN) == "NaN")
  }

  test("every rendering round-trips to the identical double (10k seeded samples)") {
    val rnd = new java.util.Random(20260812L)
    var i = 0
    while (i < 10000) {
      val v = i % 4 match {
        case 0 => (rnd.nextDouble() - 0.5) * 2e7           // trading range
        case 1 => (rnd.nextDouble() - 0.5) * 2e-3          // tiny sizes
        case 2 => (rnd.nextDouble() - 0.5) * 2e20          // huge
        case _ => java.lang.Double.longBitsToDouble(rnd.nextLong()) // raw bits
      }
      if (!v.isNaN && !v.isInfinite) {
        val s = PyDoubleRepr.repr(v)
        assert(java.lang.Double.parseDouble(s) == v, s"round-trip failed: $v -> $s")
      }
      i += 1
    }
  }

  /** Mismatches of `repr` against a "<ieee754 bits>\t<CPython repr>"
    * corpus (lines starting with `#` are comments), and its values. */
  private def againstCorpus(resource: String): (Seq[String], Seq[Double]) = {
    val in = getClass.getResourceAsStream(resource)
    assert(in != null, s"golden corpus $resource missing")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).toSeq
    val values = lines.map(l => java.lang.Double.longBitsToDouble(l.split('\t')(0).toLong))
    val mismatches = lines.zip(values).flatMap { case (line, v) =>
      val expected = line.split('\t')(1)
      val got = PyDoubleRepr.repr(v)
      if (got != expected) Some(s"line=$line got=$got") else None
    }
    (mismatches, values)
  }

  test("matches CPython repr on a 32k golden corpus (all value regimes)") {
    // src/test/resources/pyrepr_golden.tsv, generated by CPython 3.12
    // (seeded; trading-range, sub-millesimal, 1e20-scale, and
    // raw-bit-pattern doubles including subnormals).
    val (mismatches, values) = againstCorpus("/pyrepr_golden.tsv")
    val n = values.size
    assert(n == 32000)
    assert(mismatches.isEmpty,
      s"${mismatches.size} of $n differ; first 5:\n${mismatches.take(5).mkString("\n")}")
  }

  test("matches CPython repr on the feed-shaped golden slice (prices, sizes, ties)") {
    // src/test/resources/pyrepr_golden_feed.tsv, written by
    // tools/gen_pyrepr_golden.py
    val (mismatches, values) = againstCorpus("/pyrepr_golden_feed.tsv")
    val n = values.size
    assert(n == 10000)
    assert(mismatches.isEmpty,
      s"${mismatches.size} of $n differ; first 5:\n${mismatches.take(5).mkString("\n")}")
    // feed values within the kernel's range never need the exact search
    val slow = values.filter(v => v >= 1e-4 && PyDoubleRepr.fastShortest(v) < 0)
    assert(slow.isEmpty, s"${slow.size} feed values fell back, e.g. ${slow.take(5)}")
  }

  test("the fast kernel equals the exact search on 1.2M seeded doubles") {
    val rnd = new java.util.SplittableRandom(20261018L)
    def pow10(k: Int): Double = s"1e$k".toDouble
    // the decimal `units · 10^-places`, parsed as the feed's strings are
    def dec(units: Long, places: Int): Double =
      java.math.BigDecimal.valueOf(units, places).doubleValue()
    def draw(kind: Int): Double = kind match {
      case 0 => (rnd.nextDouble() - 0.5) * 2e7                       // trading range
      case 1 => dec(rnd.nextLong(10000000000L), rnd.nextInt(9))      // 0-8 places
      case 2 =>                                                      // ties: last digit 5
        val places = 1 + rnd.nextInt(8)
        dec(rnd.nextLong(1000000000000L) / 10 * 10 + 5, places)
      case 3 => dec(1L + rnd.nextLong(5000000L), 6)                  // feed sizes
      case 4 => rnd.nextDouble() * 1e-4                              // below 1e-4
      case 5 => 1e15 * math.pow(10, rnd.nextDouble() * 6)           // at or above 1e15
      case 6 => java.lang.Double.longBitsToDouble(rnd.nextLong())    // raw bits
      case 7 => java.lang.Math.scalb(1.0, rnd.nextInt(-60, 60))      // powers of two
      case 8 =>                                                      // next to 10^k
        val p = pow10(rnd.nextInt(-8, 20))
        if (rnd.nextBoolean()) Math.nextUp(p) else Math.nextDown(p)
      case 9 => dec(rnd.nextLong(1000000000000000L), rnd.nextInt(16)) // 13-16 digits
      case _ => rnd.nextDouble()                                     // [0, 1)
    }
    val n = 1200000
    var fast = 0
    var mismatches = 0
    val first = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      val a = draw(i % 11)
      val v = if (rnd.nextBoolean()) -a else a
      if (!v.isNaN && !v.isInfinite) {
        if (v != 0.0 && PyDoubleRepr.fastShortest(Math.abs(v)) >= 0) fast += 1
        val got = PyDoubleRepr.repr(v)
        val want = PyDoubleRepr.reprExact(v)
        if (got != want) {
          mismatches += 1
          if (first.size < 5) first += s"$v: kernel $got, exact $want"
        }
      }
      i += 1
    }
    assert(mismatches == 0, s"$mismatches mismatches; first: ${first.mkString("; ")}")
    // the kernel must actually carry the common case
    assert(fast > n / 3, s"fast path took only $fast of $n")
  }

  test("scientific notation appears exactly outside [1e-4, 1e16)") {
    val rnd = new java.util.Random(42L)
    var i = 0
    while (i < 2000) {
      val plain = 1e-4 + rnd.nextDouble() * (9.99e15 - 1e-4)
      assert(!PyDoubleRepr.repr(plain).contains("e"), s"for $plain")
      val sci = math.pow(10, -300 + rnd.nextDouble() * 295) // up to ~1e-5
      if (sci < 1e-4) assert(PyDoubleRepr.repr(sci).contains("e-"), s"for $sci")
      i += 1
    }
  }
}
