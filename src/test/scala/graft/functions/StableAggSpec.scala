package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StableAggSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(1234)
  private val xs = Seq.fill(5000)(rnd.nextDouble() * 2000 - 1000)

  test("dsum is bit-identical across partition counts") {
    val results = Seq(1, 3, 8, 32).map { np =>
      xs.toDF("x").repartition(np).agg(StableAgg.dsum(col("x"))).collect().head.getDouble(0)
    }
    assert(results.distinct.size == 1, s"partition-order-dependent sum: $results")
  }

  test("plain double sum would NOT be stable (sanity check of the premise)") {
    // Not an engine requirement — documents why StableAgg exists. A plain
    // sum may happen to agree at small n; we only require dsum exactness.
    val exact = xs.map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)).sum
    val got = xs.toDF("x").repartition(8).agg(StableAgg.dsum(col("x"))).collect().head.getDouble(0)
    assert(math.abs(got - exact.toDouble) < 1e-9)
  }

  test("dstdSamp matches two-pass sample std closely; 0.0 for n<=1") {
    val mean = xs.sum / xs.size
    val expected = math.sqrt(xs.map(v => (v - mean) * (v - mean)).sum / (xs.size - 1))
    val got = xs.toDF("x").agg(StableAgg.dstdSamp(col("x"))).collect().head.getDouble(0)
    assert(math.abs(got - expected) / expected < 1e-9)
    val one = Seq(42.0).toDF("x").agg(StableAgg.dstdSamp(col("x"))).collect().head.getDouble(0)
    assert(one == 0.0)
  }

  test("dsum overflow fails loudly instead of silently excluding rows") {
    val huge = Seq(1.0, 1e33, 2.0) // 1e33 > decimal(38,6) capacity of ~1e31
    val ex = intercept[Exception] {
      huge.toDF("x").agg(StableAgg.dsum(col("x"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // ANSI sessions (Spark 4 default) raise from the cast itself;
    // non-ANSI sessions hit the explicit raise_error guard.
    assert(messages(ex).exists(m => m.contains("overflows decimal(38,6)") ||
      m.contains("NUMERIC_VALUE_OUT_OF_RANGE")))
  }

  test("dsum quantization bound is explicit: sub-5e-7 addends vanish at default scale; scale=12 keeps them") {
    val tiny = Seq(4e-7, 4e-7, 4e-7)
    val atDefault = tiny.toDF("x").agg(StableAgg.dsum(col("x"))).collect().head.getDouble(0)
    assert(atDefault == 0.0)
    val atScale12 = tiny.toDF("x").agg(StableAgg.dsum(col("x"), 12)).collect().head.getDouble(0)
    assert(math.abs(atScale12 - 1.2e-6) < 1e-18)
  }

  test("lstdSamp exact on integers, 0.0 for singleton groups") {
    val longs = Seq(10L, 12L, 18L, 20L)
    val got = longs.toDF("x").agg(StableAgg.lstdSamp(col("x"))).collect().head.getDouble(0)
    val mean = longs.map(_.toDouble).sum / longs.size
    val expect = math.sqrt(longs.map(v => (v - mean) * (v - mean)).sum / (longs.size - 1))
    assert(math.abs(got - expect) < 1e-12)
  }

  test("lstdSamp sums squares past the Long range (|x| >= 3.1e9)") {
    // 3.1e9² > Long.MaxValue: a Long sum of squares raises under ANSI
    val longs = Seq(3100000000L, 3100000007L, 3150000000L, 92500000000L, 92500001234L)
    val got = longs.toDF("x").repartition(3)
      .agg(StableAgg.lstdSamp(col("x"))).collect().head.getDouble(0)
    // the same formula over exact BigInt sums, each cast to double once
    val n = longs.size.toDouble
    val s1 = longs.map(BigInt(_)).sum.toDouble
    val s2 = longs.map(v => BigInt(v) * v).sum.toDouble
    assert(got == math.sqrt(math.max((s2 - s1 * s1 / n) / (n - 1.0), 0.0)))
    val mean = longs.map(BigDecimal(_)).sum / longs.size
    val twoPass = math.sqrt((longs.map(v => (BigDecimal(v) - mean).pow(2)).sum /
      (longs.size - 1)).toDouble)
    assert(math.abs(got - twoPass) / twoPass < 1e-9)
  }
}
