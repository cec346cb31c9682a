package graft

import graft.functions.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension: registers the engine's custom expressions for SQL use
  * (`SELECT cosine_sim(a, b) ...`), the as-of and range-join table
  * functions and their rewrite rules, and the physical strategies for
  * as-of joins and row-local recursive CTEs. No injected name may be one
  * of Spark's built-in functions (`GraftExtensionsSpec`): the injection
  * would silently replace it in every session. Activate with
  * `spark.sql.extensions=graft.GraftExtensions`; the DataFrame API path
  * (`graft.functions.api`) needs no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(s => graft.plans.AsOfJoinRewrite(s))
    // SQL surface for the as-of plan node (§7.3): FROM asof_join('probe',
    // 'build', 'key', 'probe_ts', 'build_ts', 'build_tie'[, direction
    // [, tolerance_micros]]) — parses to UnresolvedAsOfJoin, which the
    // AsOfJoinRewrite rule validates into an AsOfJoin node once the named
    // tables resolve.
    ext.injectTableFunction((
      FunctionIdentifier("asof_join"),
      new ExpressionInfo("graft.plans.UnresolvedAsOfJoin", "asof_join"),
      (args: Seq[Expression]) => graft.plans.AsOfJoinTvf(args)))
    ext.injectResolutionRule(s => graft.plans.RangeJoinRewrite(s))
    // Physical as-of join: this strategy plans every AsOfJoin node as the
    // dedicated merge operator (plans/AsOfJoinExec).
    ext.injectPlannerStrategy(s => graft.plans.AsOfJoinStrategy(s))
    // Recursive CTEs whose step is row-local (Project/Filter over the loop's
    // own rows) run as one pass per task (plans/RowLocalUnionLoop); every
    // other WITH RECURSIVE keeps Spark's per-iteration UnionLoopExec.
    ext.injectPlannerStrategy(s => graft.plans.RowLocalUnionLoop(s))
    // SQL surface for the banded range join (point-in-interval without the
    // nested-loop plan): FROM range_join('points', 'intervals', 'ts', 'lo',
    // 'hi', band_micros[, 'key']) — parses to UnresolvedRangeJoin, which
    // RangeJoinRewrite validates and expands once the named tables resolve.
    ext.injectTableFunction((
      FunctionIdentifier("range_join"),
      new ExpressionInfo("graft.plans.UnresolvedRangeJoin", "range_join"),
      (args: Seq[Expression]) => graft.plans.RangeJoinTvf(args)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo("graft.functions.CosineSimilarity", "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo("graft.functions.MinHashSignature", "minhash_sig"),
      (children: Seq[Expression]) =>
        graft.functions.MinHashSignature(children.head).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo("graft.functions.ShingleHashes", "shingle_hashes"),
      (children: Seq[Expression]) => graft.functions.ShingleHashes(children.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo("graft.functions.SimHash64", "simhash64"),
      (children: Seq[Expression]) => graft.functions.SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("approx_topk"),
      new ExpressionInfo("graft.functions.ApproxTopK", "approx_topk"),
      (children: Seq[Expression]) => graft.functions.ApproxTopK(children.head,
        children(1).eval().asInstanceOf[Int],
        children(2).eval().asInstanceOf[Int]).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("top_ngram"),
      new ExpressionInfo("graft.functions.TopNgram", "top_ngram"),
      (children: Seq[Expression]) => graft.functions.TopNgram(children.head,
        children(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("srp_band_keys"),
      new ExpressionInfo("graft.functions.SrpBandKeys", "srp_band_keys"),
      (children: Seq[Expression]) => graft.functions.SrpBandKeys(children.head)))
    ext.injectFunction((
      FunctionIdentifier("normalize_text"),
      new ExpressionInfo("graft.functions.NormalizeText", "normalize_text"),
      (children: Seq[Expression]) => graft.functions.NormalizeText(children.head)))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo("graft.functions.JaroWinkler", "jaro_winkler"),
      (children: Seq[Expression]) =>
        graft.functions.JaroWinkler(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("co_moment"),
      new ExpressionInfo("graft.functions.CoMoment", "co_moment"),
      (children: Seq[Expression]) => graft.functions.CoMoment(children.head,
        children(1).eval().asInstanceOf[Int]).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("uniq_up_to"),
      new ExpressionInfo("graft.functions.UniqUpTo", "uniq_up_to"),
      (children: Seq[Expression]) => graft.functions.UniqUpTo(children.head,
        children(1).eval().asInstanceOf[Int]).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("zorder_value"),
      new ExpressionInfo("graft.functions.ZOrderValue", "zorder_value"),
      (children: Seq[Expression]) =>
        graft.functions.ZOrderValue(children.head, children(1))))
  }
}
