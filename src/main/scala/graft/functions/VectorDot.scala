package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen dot product of two vector columns (each side
  * independently ARRAY<FLOAT> or ARRAY<DOUBLE>).
  *
  * Semantics are EXACTLY the declarative fold used elsewhere
  * (`aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0d, +)` /
  * DuckDB `list_reduce`): left-to-right accumulation of double products of
  * element pairs (floats widened per element, doubles used as-is), so
  * results are bit-identical to the oracle. The payoff is whole-stage
  * codegen: a tight primitive loop instead of one interpreted lambda frame
  * + boxed element per dimension — the ANN hot path runs this
  * O(|queries| x |corpus| x dim) times, and the IVFPQ approx pass runs it
  * against derived ARRAY<DOUBLE> codebook reconstructions.
  *
  * NULL if either side is NULL. Lengths must match (analysis-time check is
  * not possible for arrays; mismatch throws at runtime like zip_with-strict
  * would).
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vector_dot requires two ARRAY<FLOAT>/ARRAY<DOUBLE> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  private lazy val leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n, s"vector_dot: length mismatch $n vs ${y.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val xv = if (leftIsFloat) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"
      val yv = if (rightIsFloat) s"((double) $b.getFloat($i))" else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vector_dot: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $xv * $yv;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}
