package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd ADC (asymmetric distance computation) kernel for product
  * quantization: given `codes` (one unsigned byte code per subspace,
  * BinaryType) and a flattened per-subspace lookup table of 256 DOUBLE
  * entries each (`lut.length == codes.length * 256`), returns
  * Σ_j lut[j·256 + (codes[j] & 0xFF)] ([[Kernels.byteLutSum]]).
  *
  * The LUT is query-scoped (built once on the driver from the query's
  * subvector·centroid inner products) so the scan scores each row with m
  * array reads and m adds — PQ codes are never decoded. Sibling of
  * [[ByteDot]] (the SQ8 kernel); same null contract: a codes/LUT size
  * mismatch yields NULL rather than a wrong sum.
  */
case class ByteLutSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "byte_lut_sum"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"byte_lut_sum requires (binary, array<double>), got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[Array[Byte]]
    val lut = r.asInstanceOf[ArrayData]
    if (codes.length * 256 != lut.numElements()) null
    else Kernels.byteLutSum(codes, lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, lut) => s"""
       |if ($c.length * 256 != $lut.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.Kernels.byteLutSum($c, $lut);
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteLutSum =
    copy(left = newLeft, right = newRight)
}
