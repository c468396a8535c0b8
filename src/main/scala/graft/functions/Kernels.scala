package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The one loop of each vector-scoring function. The Catalyst expressions
  * (`fast_dot`, `fast_l2sq`, `byte_dot`, `byte_lut_sum`,
  * `centroid_argmin`) call these from interpreted eval and from generated
  * code alike, and the driver-resident serving tier
  * ([[graft.serving.LocalVector]], [[graft.serving.LocalHybrid]]) and the
  * driver-side centroid rankers call them on arrays converted once with
  * `UnsafeArrayData.fromPrimitiveArray`. Every tier therefore runs the
  * same arithmetic by construction.
  *
  * Each kernel is a sequential left-to-right DOUBLE fold starting at 0.0,
  * with per-element float→double widening for a FLOAT operand: the element
  * order of the composed [[VectorFunctions]] forms and of the DuckDB
  * oracle's `list_sum(list_transform(...))`.
  *
  * Precondition: equal lengths (`lut` holds 256 entries per code byte).
  * Callers check it and keep their own contract — the expressions return
  * NULL on a mismatch. The loops stop at the shorter operand, so a caller
  * that skips the check never reads past an array.
  */
object Kernels {

  private def at(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Σ aᵢ·bᵢ. */
  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += at(a, aFloat, i) * at(b, bFloat, i); i += 1 }
    acc
  }

  /** Σ (aᵢ − bᵢ)². */
  def l2sq(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = at(a, aFloat, i) - at(b, bFloat, i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Σ aᵢ·aᵢ. */
  def sumSq(a: ArrayData, aFloat: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val x = at(a, aFloat, i); acc += x * x; i += 1 }
    acc
  }

  /** SQ8: Σ (codesᵢ & 0xFF)·wᵢ. */
  def byteDot(codes: Array[Byte], w: ArrayData): Double = {
    val n = math.min(codes.length, w.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += (codes(i) & 0xff) * w.getDouble(i); i += 1 }
    acc
  }

  /** PQ ADC: Σⱼ lut[j·256 + (codesⱼ & 0xFF)]. */
  def byteLutSum(codes: Array[Byte], lut: ArrayData): Double = {
    val n = math.min(codes.length, lut.numElements() / 256)
    var acc = 0.0
    var j = 0
    while (j < n) { acc += lut.getDouble(j * 256 + (codes(j) & 0xff)); j += 1 }
    acc
  }
}
