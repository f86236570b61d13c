package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType
import graft.expressions.{CosineSimExpr, DeltaRExpr, L2SqExpr}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions on any session built with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.GraftExtensions` — the deployment-grade
  * registration path (cluster-wide, survives session cloning), vs the
  * per-session `DeltaRExpr.register`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("delta_r"),
      new ExpressionInfo(classOf[DeltaRExpr].getName, "delta_r"),
      (exprs: Seq[Expression]) => DeltaRExpr(
        Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType),
        Cast(exprs(2), DoubleType), Cast(exprs(3), DoubleType))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2SqExpr].getName, "l2_sq"),
      (exprs: Seq[Expression]) => L2SqExpr(exprs(0), exprs(1))))
    // the custom-plan tier: native as-of join and histogram fill strategies
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftbridge.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.flow.DenseFillStrategy)
  }
}
