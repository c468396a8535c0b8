package graft.serving

import graft.functions.Kernels
import graft.operators.{Pq, Sq8, VectorMetric}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Driver-resident serving arithmetic for the VECTOR endpoints — the
  * [[LocalHybrid]] posture applied to [[SearchService]] (VERDICT r17 #4:
  * the hybrid endpoint's driver-resident tier outran the single-leg exact
  * vector endpoint it composes, because per-request Catalyst planning and
  * job scheduling dominate single-query latency; the reference's own
  * serving cap is 100 req/s, searcher.js:125-129).
  *
  * The scorers share their arithmetic with the Catalyst expressions: each
  * calls the same [[graft.functions.Kernels]] loop as
  * [[graft.functions.DotProduct]] / [[graft.functions.L2SqDistance]] /
  * [[graft.functions.ByteDot]] / [[graft.functions.ByteLutSum]], on driver
  * arrays converted once to `UnsafeArrayData`. Around the kernels they
  * compose the same zero-norm guards as
  * [[graft.operators.AnnSearch.exactScore]] / [[Sq8.score]] /
  * [[Pq.score]], with the QUERY-SIDE parameters (SQ8 weights/bias, PQ
  * LUTs) taken from the builders the expressions use ([[Sq8.ipParams]],
  * [[Pq.ipLut]], …). [[rank]] orders like `ORDER BY score [DESC|ASC], id`:
  * Spark sorts doubles with NaN largest and −0.0 = 0.0
  * (NormalizeFloatingNumbers), ties break on id ascending in the id
  * column's own order (numeric, or UTF-8 binary for strings —
  * [[LocalHybrid.utf8Lt]]).
  *
  * What stays distributed: anything over the caller's row budget — the
  * service keeps the full Catalyst plan as the fallback and the spec pins
  * local ≡ distributed row-for-row.
  */
private[graft] object LocalVector {

  /** A driver array in the form the kernels read — convert once, at load
    * time or once per request, never per row.
    */
  def arrayData(xs: Seq[Double]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(xs.toArray)

  /** [[graft.operators.AnnSearch.exactScore]] over a float vector `v` and
    * the double query `q`. `qn` is the caller-computed query norm —
    * compute it ONCE per request, like the expression does per plan.
    */
  def exactScore(v: ArrayData, q: ArrayData, metric: VectorMetric,
                 qn: Double): Double = metric match {
    case VectorMetric.Ip => Kernels.dot(v, true, q, false)
    case VectorMetric.L2 => Kernels.l2sq(v, true, q, false)
    case VectorMetric.Cosine =>
      if (qn == 0.0) 0.0
      else {
        val n = math.sqrt(Kernels.sumSq(v, true))
        if (n > 0) Kernels.dot(v, true, q, false) / (n * qn) else 0.0
      }
  }

  /** Per-request SQ8 scorer under `metric` — [[Sq8.score]]'s branches with
    * the identical query-side parameters and operand order.
    */
  def sq8Scorer(model: Sq8.Model, query: Seq[Double],
                metric: VectorMetric): Array[Byte] => Double = {
    require(query.length == model.dim)
    def ipScorer: Array[Byte] => Double = {
      val (w, bias) = Sq8.ipParams(model, query)
      val wd = arrayData(w)
      codes => Kernels.byteDot(codes, wd) + bias
    }
    metric match {
      case VectorMetric.Ip => ipScorer
      case VectorMetric.L2 =>
        val l2 = arrayData(Sq8.l2LutFor(model, query))
        codes => Kernels.byteLutSum(codes, l2)
      case VectorMetric.Cosine =>
        val qn = math.sqrt(Kernels.sumSq(arrayData(query), false))
        if (qn == 0.0) _ => 0.0
        else {
          val ip = ipScorer
          val nl = arrayData(Sq8.normLutFor(model))
          codes => {
            val nrm = math.sqrt(Kernels.byteLutSum(codes, nl))
            if (nrm > 0) ip(codes) / (nrm * qn) else 0.0
          }
        }
    }
  }

  /** Per-request PQ/ADC scorer under `metric` — [[Pq.score]]'s branches
    * over the same LUT builders.
    */
  def pqScorer(model: Pq.Model, query: Seq[Double],
               metric: VectorMetric): Array[Byte] => Double = metric match {
    case VectorMetric.Ip =>
      val ip = arrayData(Pq.ipLut(model, query))
      codes => Kernels.byteLutSum(codes, ip)
    case VectorMetric.L2 =>
      val l2 = arrayData(Pq.l2Lut(model, query))
      codes => Kernels.byteLutSum(codes, l2)
    case VectorMetric.Cosine =>
      val qn = math.sqrt(Kernels.sumSq(arrayData(query), false))
      if (qn == 0.0) _ => 0.0
      else {
        val ip = arrayData(Pq.ipLut(model, query))
        val norms = arrayData(Pq.cnormLut(model, query))
        codes => {
          val nrm = math.sqrt(Kernels.byteLutSum(codes, norms))
          if (nrm > 0) Kernels.byteLutSum(codes, ip) / (nrm * qn) else 0.0
        }
      }
  }

  /** Spark's sort key for a double: NaN largest, −0.0 = 0.0. */
  private def normKey(d: Double): Double = if (d == 0.0) 0.0 else d

  /** id ordering replica per Spark type; None = unsupported id type (the
    * service then serves distributed-only).
    */
  def idOrdering(dt: org.apache.spark.sql.types.DataType): Option[(Any, Any) => Boolean] =
    dt match {
      case org.apache.spark.sql.types.LongType =>
        Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case org.apache.spark.sql.types.IntegerType =>
        Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
      case org.apache.spark.sql.types.StringType =>
        Some((a, b) =>
          LocalHybrid.utf8Lt(a.asInstanceOf[String], b.asInstanceOf[String]))
      case _ => None
    }

  /** `ORDER BY score [DESC|ASC], id ASC LIMIT k` over scored row indices;
    * `idLt(a, b)` orders rows `a` and `b` by their ids. Returns the kept
    * indices in served order.
    *
    * O(n log k) bounded-heap selection (VERDICT r18 #5 — the full
    * per-request sort was O(n log n) over up to `maxLocalIndex` rows).
    * Order semantics are IDENTICAL to the former stable full sort: the
    * (score, id) comparator with the row INDEX as the final tie-break is
    * a total order, and under a total order "k smallest, emitted
    * ascending" equals "stable sort, take k" — compare-equal rows (same
    * score AND same id, i.e. duplicates) keep first-encountered-first,
    * exactly what TimSort's stability gave.
    */
  def rank(scores: Array[Double], descending: Boolean,
           idLt: (Int, Int) => Boolean, k: Int): Array[Int] = {
    val n = scores.length
    def cmp(a: Int, b: Int): Int = {
      val sa = normKey(scores(a)); val sb = normKey(scores(b))
      // java.lang.Double.compare: NaN largest — Spark's double order
      val c = java.lang.Double.compare(sa, sb)
      val d =
        if (c != 0) { if (descending) -c else c }
        else if (idLt(a, b)) -1
        else if (idLt(b, a)) 1
        else 0
      if (d != 0) d else Integer.compare(a, b)
    }
    if (k <= 0 || n == 0) return Array.empty[Int]
    if (k >= n) return Array.range(0, n).sortWith((a, b) => cmp(a, b) < 0)
    // binary max-heap of the k best so far; a candidate enters only when
    // strictly smaller than the current worst, so the selection is exact
    val heap = Array.range(0, k)
    def siftDown(i0: Int): Unit = {
      var i = i0
      var moved = true
      while (moved) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < k && cmp(heap(l), heap(m)) > 0) m = l
        if (r < k && cmp(heap(r), heap(m)) > 0) m = r
        if (m == i) moved = false
        else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
      }
    }
    var i = k / 2 - 1
    while (i >= 0) { siftDown(i); i -= 1 }
    var j = k
    while (j < n) {
      if (cmp(j, heap(0)) < 0) { heap(0) = j; siftDown(0) }
      j += 1
    }
    heap.sortWith((a, b) => cmp(a, b) < 0)
  }
}
