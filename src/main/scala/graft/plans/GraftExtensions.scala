package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine-wide Catalyst injection point — tier (c) of the extension ladder:
  * build sessions with
  *
  * {{{
  * graft.Session.local(cpus) // sets spark.sql.extensions to this class
  * }}}
  *
  * and the engine's semantics are active from the session's first query:
  *
  *  - [[DeterministicSums]] as an injected optimizer rule (plain
  *    `sum(double)` becomes exact decimal accumulation engine-wide), and
  *  - the custom function surface (`graft_hamming`, `graft_wavg`,
  *    `graft_dot`) in the function registry, so plain-SQL users get them
  *    without Scala calls.
  *
  * This replaces registering the rule from inside a catalog entry (a
  * session-global mutation that made semantics order-dependent on which
  * query ran first); the `register(spark)` helpers remain as idempotent
  * fallbacks for sessions built without the extension.
  *
  * Recommended alongside (set by [[graft.Session]], purely a
  * performance setting):
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true` —
  * without it, persisted frames materialize at the static shuffle
  * partition count and pin every downstream stage's task count, which
  * taxes iterative algorithms whose live sets shrink far below it; with
  * it, AQE's advisory-size coalescing applies to cached-plan reads too
  * (a no-op at full production partition sizes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def binary(name: String, build: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => build(a, b)
    case exprs => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map("functionName" -> name, "expectedNum" -> "2",
        "actualNum" -> exprs.length.toString, "docroot" -> ""))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DeterministicSums)
    ext.injectFunction((
      FunctionIdentifier(graft.functions.HammingDistance.Name),
      new ExpressionInfo(
        classOf[graft.functions.HammingDistance].getName,
        graft.functions.HammingDistance.Name),
      binary(graft.functions.HammingDistance.Name,
        graft.functions.HammingDistance(_, _))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.WeightedAvg.Name),
      new ExpressionInfo(
        classOf[graft.functions.WeightedAvg].getName,
        graft.functions.WeightedAvg.Name),
      binary(graft.functions.WeightedAvg.Name,
        graft.functions.WeightedAvg(_, _))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.DecimalDot.Name),
      new ExpressionInfo(
        classOf[graft.functions.DecimalDot].getName,
        graft.functions.DecimalDot.Name),
      binary(graft.functions.DecimalDot.Name,
        graft.functions.DecimalDot(_, _))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.IntDot.Name),
      new ExpressionInfo(
        classOf[graft.functions.IntDot].getName,
        graft.functions.IntDot.Name),
      binary(graft.functions.IntDot.Name,
        graft.functions.IntDot(_, _))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.MinHashSig.Name),
      new ExpressionInfo(
        classOf[graft.functions.MinHashSig].getName,
        graft.functions.MinHashSig.Name),
      exprs => graft.functions.MinHashSig(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.SortedInterCount.Name),
      new ExpressionInfo(
        classOf[graft.functions.SortedInterCount].getName,
        graft.functions.SortedInterCount.Name),
      binary(graft.functions.SortedInterCount.Name,
        graft.functions.SortedInterCount(_, _))))
  }
}
