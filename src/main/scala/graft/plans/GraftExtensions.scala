package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{HammingStr, MortonInterleave, VectorDot}

/** SparkSessionExtensions entry point, installed on every session by
  * GraftSession.builder (`spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Injects graft's native expressions and planner strategies at session
  * creation; sessions derived with newSession() inherit them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[Expression]) => VectorDot(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("morton_interleave"),
      new ExpressionInfo(classOf[MortonInterleave].getName, "morton_interleave"),
      (children: Seq[Expression]) => MortonInterleave(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("hamming_str"),
      new ExpressionInfo(classOf[HammingStr].getName, "hamming_str"),
      (children: Seq[Expression]) => HammingStr(children(0), children(1))))
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
