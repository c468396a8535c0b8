package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd squared-L2 distance over two ARRAY<FLOAT|DOUBLE>
  * columns — the L2 sibling of [[DotProduct]] (`fast_dot`), registered as
  * `fast_l2sq`. Covers Milvus `MetricType.L2` the way `fast_dot` covers the
  * reference's `MetricType.IP` (searcher.js:104): the reference serves IP
  * only, so this widens the engine to the metric surface Milvus itself
  * exposes.
  *
  * Bit-identical to the composed form
  * `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0d, (acc,x)->acc+x)`: one
  * sequential left-to-right double accumulation ([[Kernels.l2sq]]) — the
  * property the DuckDB correctness oracle relies on. Squared distance (no final sqrt): the
  * top-k order is identical, sqrt is monotone, and Milvus L2 scores are
  * squared distances too.
  *
  * Null contract mirrors fast_dot: length mismatch yields SQL NULL.
  */
case class L2SqDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fast_l2sq"
  // mismatch -> NULL even from non-nullable inputs; see DotProduct.nullable
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fast_l2sq requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else Kernels.l2sq(a, isFloat(left), b, isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |if ($a.numElements() != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.Kernels.l2sq($a, ${isFloat(left)}, $b, ${isFloat(right)});
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqDistance =
    copy(left = newLeft, right = newRight)
}
