package graft.core

import graft.functions.{HammingDistance64, LongDotProduct}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native expressions as SQL
  * functions, so `spark.sql("SELECT long_dot(a, b) ...")` works next to the
  * Column API. Installed by [[EngineSession]]'s settings as
  * `spark.sql.extensions=graft.core.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", name, usage)

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.EliminateRedundantDedup)
    e.injectOptimizerRule(s => graft.plans.RewriteAggToMatView(s))
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    e.injectResolutionRule(s => graft.plans.ResolveGraftViews(s))
    e.injectFunction((
      FunctionIdentifier("long_dot"),
      info("long_dot", "long_dot(array<bigint>, array<bigint>) - exact integer dot product"),
      (args: Seq[Expression]) => LongDotProduct(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("hamming64"),
      info("hamming64", "hamming64(bigint, bigint) - popcount of xor"),
      (args: Seq[Expression]) => HammingDistance64(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("ndv_sketch_agg"),
      info("ndv_sketch_agg", "ndv_sketch_agg(x) - distinct-count sketch of a group (binary)"),
      (args: Seq[Expression]) => graft.functions.NdvSketchAgg(args.head)))
    e.injectFunction((
      FunctionIdentifier("ndv_union"),
      info("ndv_union", "ndv_union(a, b) - set-union of two distinct-count sketches"),
      (args: Seq[Expression]) => graft.functions.NdvUnion(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("ndv_estimate"),
      info("ndv_estimate", "ndv_estimate(a) - distinct count of a sketch (exact below 2048)"),
      (args: Seq[Expression]) => graft.functions.NdvEstimate(args.head)))
    e.injectFunction((
      FunctionIdentifier("poly_hash"),
      info("poly_hash", "poly_hash(string) - portable polynomial rolling hash mod 1e9+7"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.graftbridge.Bridge
        if (args.length != 1)
          Bridge.analysisError(s"poly_hash expects 1 argument, got ${args.length}")
        graft.functions.PolyHash(args(0))
      }))
    e.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      info("minhash_sigs", "minhash_sigs(array<string>, k) - k-wide MinHash signature, one pass"),
      (args: Seq[Expression]) => {
        // the signature width shapes the output schema, so it must be a
        // compile-time constant — reject columns/NULL with an analysis error
        // instead of an opaque NPE from eval()
        import org.apache.spark.sql.graftbridge.Bridge
        if (args.length != 2)
          Bridge.analysisError(s"minhash_sigs expects 2 arguments, got ${args.length}")
        if (!args(1).foldable)
          Bridge.analysisError("minhash_sigs: the width argument must be a literal, not a column")
        args(1).eval() match {
          // integral literal types only: a fractional width (8.9) silently
          // truncating to 8 would contradict this guard's purpose — and so
          // would intValue() on an out-of-int-range Long (4294967304L -> 8)
          case n: java.lang.Integer => graft.functions.MinHashSignature(args(0), n.intValue())
          case n: java.lang.Long if n.longValue() == n.intValue() =>
            graft.functions.MinHashSignature(args(0), n.intValue())
          case n: java.lang.Long => Bridge.analysisError(
            s"minhash_sigs: the width argument $n overflows Int")
          case n: java.lang.Short => graft.functions.MinHashSignature(args(0), n.intValue())
          case n: java.lang.Byte => graft.functions.MinHashSignature(args(0), n.intValue())
          case other => Bridge.analysisError(
            s"minhash_sigs: the width argument must be a non-null integer literal, got $other")
        }
      }))
  }
}
