package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd weighted sum over an SQ8-encoded vector: given `codes` (one
  * unsigned byte per dimension, BinaryType) and a DOUBLE weight array,
  * returns Σ (codes[i] & 0xFF) · w[i] ([[Kernels.byteDot]]).
  *
  * This is the hot kernel of the quantized search path (SURVEY §4, Milvus
  * IVF_SQ8 at loader.js:332-334): with weights = scale·q the approximate
  * inner product is `byte_dot(codes, scale·q) + Σ min·q` — the scan never
  * materializes dequantized vectors (4× less I/O than float32 at 100 TB).
  */
case class ByteDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "byte_dot"
  // Length mismatch yields NULL even for non-nullable inputs (see DotProduct).
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"byte_dot requires (binary, array<double>), got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[Array[Byte]]
    val w = r.asInstanceOf[ArrayData]
    if (codes.length != w.numElements()) null
    else Kernels.byteDot(codes, w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, w) => s"""
       |if ($c.length != $w.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.Kernels.byteDot($c, $w);
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteDot =
    copy(left = newLeft, right = newRight)
}
