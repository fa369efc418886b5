package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as session functions at build time, so SQL users get
  * `graft_cosine_sim` / `graft_rolling_hash` / `graft_exact_sum` without
  * any runtime registration call:
  *
  * {{{
  * val spark = graft.GraftSession(extensions = true)
  * spark.sql("SELECT graft_cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  *
  * Also loadable cluster-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.COSINE_SIM),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        GraftFunctions.COSINE_SIM),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(RollingHash.NAME),
      new ExpressionInfo(classOf[RollingHash].getName, RollingHash.NAME),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        RollingHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier(ExactSum.NAME),
      new ExpressionInfo(classOf[ExactSum].getName, ExactSum.NAME),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ExactSum(exprs)))
    // §2.6 tier (c): the native as-of join's planner strategy, so sessions
    // built with the extensions plan AsOfJoinPlan without the runtime
    // experimental-strategies fallback.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // ...and its optimizer rule: left-side predicate pushdown through the
    // custom node (Catalyst's own pushdown stops at unknown operators).
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}
