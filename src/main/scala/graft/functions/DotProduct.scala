package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd inner product over two ARRAY<FLOAT|DOUBLE> columns —
  * the hot expression of the serving query (searcher.js:99-110 top-k IP).
  *
  * Bit-identical to the composed form
  * `aggregate(zip_with(a,b,(x,y)->x*y), 0d, (acc,x)->acc+x)`: a sequential
  * left-to-right double accumulation ([[Kernels.dot]], the one loop both
  * eval paths and the driver tier call). The win is mechanical: no
  * intermediate product array, no higher-order-function lambda dispatch —
  * one fused loop over the two ArrayData buffers inside whole-stage
  * codegen. At 100 TB the scored scan is dot-product-bound, so this is the
  * expression to keep tight.
  *
  * Null elements inside the arrays are not expected (vectors are dense);
  * length mismatch yields SQL NULL rather than an error.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fast_dot"
  // Length mismatch yields NULL even when both inputs are non-nullable; the
  // default (left.nullable || right.nullable) would let codegen bind isNull
  // to FalseLiteral and the interpreted path return null from a
  // declared-non-nullable expression.
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fast_dot requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else Kernels.dot(a, isFloat(left), b, isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |if ($a.numElements() != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.Kernels.dot($a, ${isFloat(left)}, $b, ${isFloat(right)});
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
