package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ExactPercentileAgg, MinHashSigs, ParseOkxFrame, PyDoubleRepr, PyFormatFixed, SortedIntersectCount, TokenHash32, VecCosine, VecDot, VecSqDist}

/** Session-extension injection point for the engine's native expressions —
  * the supported way to ship a Catalyst expression library so plain SQL
  * text resolves them:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  *   spark.sql("SELECT explode(parse_okx_frame(raw)) FROM frames")
  * }}}
  *
  * `GraftSession` wires this automatically. Registered functions:
  *
  *  - `parse_okx_frame(raw)` — whole OKX frame → normalized event array
  *  - `exact_percentile(x, array(p...))` — floor-index nearest-rank
  *    percentiles (aggregate; the percentages must be an array literal)
  *  - `minhash_sigs(shingles, n)` — n minhash minima in one pass
  *  - `py_double_repr(x)` — CPython repr/json.dumps double rendering
  *  - `py_format_fixed(x, prec)` — CPython `f'{x:.Nf}'` fixed rendering
  *    (ties-to-even)
  *  - `token_hash32(tokens)` — 32-bit md5-derived token hashes
  *  - `vec_dot(a, b)` / `vec_sqdist(a, b)` / `vec_cosine(a, b)` — dense-
  *    vector kernels with exact left-to-right fold order
  *  - `sorted_intersect_count(a, b)` — zero-allocation |a ∩ b| merge walk
  *    over sorted duplicate-free array<string>
  *  - `range_binned(point, lo, hi, width)` — a join predicate for the
  *    range-join rewrite below
  *
  * Also injects the [[graft.plans.RangeJoinRewrite]] optimizer rule
  * (point-in-interval joins → bin-bucketed equi-joins, opt-in via
  * `RangeJoin.binned`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "4.0.0", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Logical-plan rewrite: point-in-interval joins tagged with
    // RangeBinHint become bin-bucketed equi-joins (the range-join
    // optimization stock Catalyst lacks — see plans/RangeJoinRewrite).
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectFunction((FunctionIdentifier("parse_okx_frame"),
      info("parse_okx_frame", "raw OKX WebSocket frame -> array of normalized event structs"),
      (exprs: Seq[Expression]) => ParseOkxFrame(exprs.head)))
    ext.injectFunction((FunctionIdentifier("exact_percentile"),
      info("exact_percentile", "exact_percentile(value, array(percentages...)): floor-index nearest-rank percentiles, one per percentage"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          "exact_percentile(value, array(percentages...))")
        val ps = exprs(1) match {
          case a: org.apache.spark.sql.catalyst.expressions.CreateArray =>
            a.children.map(_.eval(null) match {
              case d: java.lang.Double => d.doubleValue()
              case d: java.math.BigDecimal => d.doubleValue()
              case d: org.apache.spark.sql.types.Decimal => d.toDouble
              case other => other.toString.toDouble
            })
          case other => throw new IllegalArgumentException(
            s"percentages must be an array literal, got $other")
        }
        ExactPercentileAgg(exprs.head, ps)
      }))
    ext.injectFunction((FunctionIdentifier("minhash_sigs"),
      info("minhash_sigs", "minhash_sigs(shingles, n): n salted-md5 minhash minima in one pass"),
      (exprs: Seq[Expression]) => MinHashSigs(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("py_double_repr"),
      info("py_double_repr", "render a double exactly as CPython repr/json.dumps"),
      (exprs: Seq[Expression]) => PyDoubleRepr(exprs.head)))
    ext.injectFunction((FunctionIdentifier("py_format_fixed"),
      info("py_format_fixed", "py_format_fixed(x, prec): CPython f'{x:.Nf}' fixed formatting (ties-to-even)"),
      (exprs: Seq[Expression]) => PyFormatFixed(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("token_hash32"),
      info("token_hash32", "array<string> tokens -> array<long> 32-bit md5-derived hashes"),
      (exprs: Seq[Expression]) => TokenHash32(exprs.head)))
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b): left-to-right dot product of two array<double>"),
      (exprs: Seq[Expression]) => VecDot(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_sqdist"),
      info("vec_sqdist", "vec_sqdist(a, b): left-to-right squared euclidean distance"),
      (exprs: Seq[Expression]) => VecSqDist(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b): cosine similarity, exact fold order"),
      (exprs: Seq[Expression]) => VecCosine(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count", "sorted_intersect_count(a, b): |a ∩ b| merge walk over sorted duplicate-free array<string>"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs.head, exprs(1))))
    // SQL surface for the range-join rewrite: `a JOIN b ON
    // range_binned(p, lo, hi, w)` — semantically p BETWEEN lo AND hi,
    // rewritten to the bin-bucketed equi-join by RangeJoinRewrite.
    ext.injectFunction((FunctionIdentifier("range_binned"),
      info("range_binned", "range_binned(point, lo, hi, width): point BETWEEN lo AND hi, tagged for the bin-bucketed range-join rewrite. width must be a positive numeric literal; an interval may span at most 2^20 bins (wider — e.g. a non-finite bound or a width far below the interval span — fails fast at execution rather than materializing a multi-million-element bin array per row; widen the width or pre-clamp the bounds)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4, "range_binned(point, lo, hi, width)")
        // Check foldability BEFORE eval(): a column reference as width
        // would otherwise throw an opaque unbound-attribute error from
        // eval() instead of this usage message.
        if (!exprs(3).resolved || !exprs(3).foldable)
          throw new IllegalArgumentException(
            "range_binned(point, lo, hi, width): width must be a numeric " +
              s"literal (got non-foldable expression ${exprs(3).sql})")
        val w = exprs(3).eval() match {
          case n: Number => n.doubleValue()
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case other => throw new IllegalArgumentException(
            s"width must be a numeric literal, got $other")
        }
        graft.plans.RangePredicate(exprs(0), exprs(1), exprs(2), w)
      }))
  }
}
