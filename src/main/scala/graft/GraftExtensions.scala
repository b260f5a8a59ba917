package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Production registration path for the graft native expressions:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects the vector kernels into every session at build time, so SQL
  * text can call them by name. Query closures do not need it: they call
  * the kernels as Columns through [[graft.functions.VectorFunctions.kernel]].
  * It and [[graft.functions.VectorFunctions.register]] (the SQL path for
  * sessions without the conf) iterate the same
  * [[graft.functions.VectorFunctions.kernels]] table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.VectorFunctions.kernels.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.VectorExpressions", name), build))
    }
    // Optimizer rule: free length guard ahead of un-thresholded
    // levenshtein predicates (see the rule's scaladoc for the soundness
    // argument). Runtime sessions use LevenshteinGuardRule.install.
    ext.injectOptimizerRule(_ => plans.LevenshteinGuardRule)
    // Planner strategy for the whole-operator as-of join (plans/AsOfJoin):
    // extension-configured sessions get it at build time; runtime sessions
    // use AsOfJoin.install (idempotent, via experimental.extraStrategies).
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
  }
}
