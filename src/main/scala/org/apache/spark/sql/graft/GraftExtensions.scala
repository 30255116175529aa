package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: fuse the composable `when(c = +∞ OR c = −∞, r)
  * .otherwise(c)` pattern ([[graft.ops.CleanOps.replaceInf]]'s surface
  * form) into the single codegen'd [[ReplaceInf]] expression.
  *
  * Strictly semantics-preserving (proof by case): null → CaseWhen
  * predicate null → else → null, and ReplaceInf(null) → null; NaN/finite
  * → both pass through; ±∞ → both yield `r`. The fused form evaluates
  * the child once and generates one branch instead of a CaseWhen tree —
  * the demonstrative Catalyst `Rule` surface from SURVEY §7 (strength
  * reduction of the engine's own composable API into its native
  * expression).
  */
object FuseReplaceInf extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CaseWhen(Seq((Or(EqualTo(c1, Literal(p: Double, DoubleType)),
            EqualTo(c2, Literal(n: Double, DoubleType))), repl)), Some(els))
          if p.isPosInfinity && n.isNegInfinity &&
            c1.semanticEquals(c2) && els.semanticEquals(c1) &&
            c1.dataType == DoubleType && repl.dataType == DoubleType =>
        ReplaceInf(c1, repl)
    }
}

/** Session-extension entry point: injects [[FuseReplaceInf]] into the
  * optimizer and registers the custom expressions as SQL functions, so
  * `spark.sql("SELECT replace_inf(x, -100.0) ...")` works next to the
  * Column API.
  *
  * Usage: `withExtensions(new GraftExtensions)` on a session builder
  * or `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`.
  * For an already-running session, [[GraftExtensions.register]] installs
  * the same pieces imperatively.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => FuseReplaceInf)
    e.injectFunction((FunctionIdentifier("replace_inf"),
      new ExpressionInfo(classOf[ReplaceInf].getName, "replace_inf"),
      (args: Seq[Expression]) => ReplaceInf(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1))))
  }
}

object GraftExtensions {
  /** Imperative registration on a live session (extensions normally
    * apply only at session build time). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ FuseReplaceInf
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("replace_inf",
      (args: Seq[Expression]) => ReplaceInf(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim",
      (args: Seq[Expression]) => CosineSim(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("jaro_winkler",
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1)), "scala_udf")
  }
}
