package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions integration: injects the engine's custom
  * expressions into a session's function registry AT BUILD TIME —
  *
  * {{{
  * GraftSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * // or, config-only (no code changes in the launching app):
  * // --conf spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * This is the deployment-grade registration path: every session derived
  * from the builder (including `newSession()` clones and thrift/connect
  * sessions created from the same context) sees `dot_ff`,
  * `portable_hash32`, `rolling_fingerprint`, and `zorder_interleave` as
  * SQL-callable functions with catalog metadata. The per-session
  * [[GraftFunctions.register]] remains for foreign sessions the engine
  * does not construct.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier(DotProductFF.name),
      info(DotProductFF.name,
        "dot_ff(a, b) - dot product of two float/double arrays, sequential double accumulation"),
      DotProductFF.builder))
    e.injectFunction((
      FunctionIdentifier(PortableHash32.name),
      info(PortableHash32.name,
        "portable_hash32(x) - first 4 md5 bytes of x as a non-negative long"),
      PortableHash32.builder))
    e.injectFunction((
      FunctionIdentifier(RollingFingerprint.name),
      info(RollingFingerprint.name,
        "rolling_fingerprint(tokens[, window]) - min portable hash over token shingle windows"),
      RollingFingerprint.builder))
    e.injectFunction((
      FunctionIdentifier(ZOrderInterleave.name),
      info(ZOrderInterleave.name,
        "zorder_interleave(a, b) - 62-bit Morton interleave of two integral dimensions"),
      ZOrderInterleave.builder))
    e.injectFunction((
      FunctionIdentifier(SortedSetContains.name),
      info(SortedSetContains.name,
        "sorted_set_contains(x, keys) - binary-search membership of x in a foldable string array"),
      SortedSetContains.builder))
    // The catalog decision layer, config-only: each rule is a strict
    // no-op until the session publishes its catalog conf
    // (spark.graft.joinorder.stats / spark.graft.conjunct.hists+mcvs /
    // spark.graft.broadcast.rows — the deployment forms of the rules
    // the q244/q245/q246 faces install programmatically). Injection
    // order IS the CatalogRules.standardRules composition contract:
    // shape rules (join order, conjunct order) run before the hint
    // rule, because every shape rule treats an existing hint as user
    // intent and stands down — injecting broadcast first would hide
    // joins from the order rewrite.
    e.injectOptimizerRule(_ => graft.plans.ConfMvRewriteRule)
    e.injectOptimizerRule(_ => graft.plans.ConfEagerAggregationRule)
    e.injectOptimizerRule(_ => graft.plans.ConfCatalogJoinOrderRule)
    e.injectOptimizerRule(_ => graft.plans.ConfConjunctReorderRule)
    e.injectOptimizerRule(_ => graft.plans.ConfCatalogBroadcastRule)
  }
}
