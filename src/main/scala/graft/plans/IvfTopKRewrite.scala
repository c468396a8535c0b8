package graft.plans

import graft.functions.{ByteDot, ByteLutSum, DotProduct, Kernels, L2SqDistance}
import graft.operators.{IvfIndex, Pq}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, Descending, Expression, In, Literal, SortDirection, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData

/** Session-wide opt-in registry for the ANN auto-rewrite: when a query
  * author registers the current IVF model, any `ORDER BY <score> DESC
  * LIMIT k` over a relation carrying a `cluster_id` column — where
  * `<score>` embeds an inner product against a literal query vector — is
  * rewritten to scan only the `nprobe` most promising clusters. Explicit
  * registration keeps the approximation opt-in — an unregistered session
  * never changes results.
  */
object IvfRegistry {
  @volatile private var state: Option[(IvfIndex.Model, Int)] = None
  @volatile private var pqState: Option[Pq.Model] = None
  def register(model: IvfIndex.Model, nprobe: Int): Unit = state = Some((model, nprobe))
  /** Also register the PQ codebooks so ADC-scored top-k (byte_lut_sum)
    * queries can rank IVF centroids in the same quantized space.
    */
  def registerPq(model: Pq.Model): Unit = pqState = Some(model)
  def clear(): Unit = {
    state = None; pqState = None
    lutKinds.synchronized(lutKinds.clear())
  }
  def current: Option[(IvfIndex.Model, Int)] = state
  def currentPq: Option[Pq.Model] = pqState

  /** LUT provenance (ADVICE r10 #2): an ADC lookup table's metric is
    * knowable only at LUT-build time — the flat m×256 doubles in the plan
    * say nothing about whether larger-is-better (IP) or smaller-is-better
    * (squared L2). [[graft.operators.Pq.score]] records each table it
    * builds here, keyed by content fingerprint, so the rewrite can admit
    * ONLY the matching sort direction: an `ORDER BY adc_l2 DESC LIMIT k`
    * (k farthest) stays exact instead of being silently nprobe-pruned.
    * Kinds: `ip` (inner product), `dist` (distance, asc-is-better),
    * `cnorm` (cosine's centroid-norm² table — never a standalone scorer).
    * Kinds are deliberately metric-content facts, not per-query-metric
    * markers: a cosine query's ip table is byte-identical to a plain-Ip
    * query's, so a metric-specific kind would alias the content-keyed
    * entry across plans. Cosine-ness is read per-plan from the expression
    * shape (ip + cnorm in one score); an ip table whose companion LUT has
    * no surviving provenance record gets NO rewrite (ADVICE r11 #3 —
    * eviction declines rather than demotes). Bounded LRU: serving builds
    * a fresh LUT per query.
    */
  private val lutKinds = new java.util.LinkedHashMap[String, String](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
      size() > 512
  }
  private def lutFp(flat: Array[Double]): String = {
    val bb = java.nio.ByteBuffer.allocate(flat.length * 8)
    flat.foreach(bb.putDouble)
    graft.functions.TextFunctions.md5Hex(bb.array())
  }
  def recordLut(flat: Seq[Double], kind: String): Unit =
    lutKinds.synchronized { lutKinds.put(lutFp(flat.toArray), kind); () }
  def lutKind(flat: Array[Double]): Option[String] =
    lutKinds.synchronized { Option(lutKinds.get(lutFp(flat))) }
}

/** The optimizer rule (SURVEY §7.3 "custom Catalyst, perf only"): matches
  *
  *   GlobalLimit k ── LocalLimit k ── Sort[score DESC|ASC]
  *     ── Project[.., score AS s] ── [Filter] ── child(with cluster_id)
  *
  * for any score expression whose tree contains
  *
  *  - `fast_dot(vec, qLit)`            (plain IP — AnnSearch.exactTopK),
  *  - `fast_dot(vec, qLit) / norms`    (cosine — AnnSearch.exactTopKCosine),
  *  - `fast_l2sq(vec, qLit)`           (L2 — AnnSearch.exactTopK(L2);
  *    sorted ASCENDING, centroids rank by distance asc),
  *  - `byte_dot(codes, wLit) + bias`   (SQ8 — Sq8.searchTopK; w = scale·q,
  *    so centroid ranking in the scale-weighted space preserves the
  *    quantized score order),
  *  - `byte_lut_sum(codes, lutLit)`    (PQ ADC — Pq.searchTopK; requires
  *    `IvfRegistry.registerPq` AND a provenance record from `Pq.score`:
  *    each IVF centroid is PQ-encoded and scored through the query's LUT,
  *    admitted only in its metric's nearest direction — see [[lutScorer]]),
  *
  * and injects `Filter(cluster_id IN topNprobeClusters(q))` directly above
  * the base relation — below any pre-existing Filter, whose predicate is
  * left untouched. The IN-filter lands on the scan as a partition/predicate
  * filter when the table is laid out `partitionBy(cluster_id)`
  * (IvfIndex.write) — the Milvus nprobe semantics (searcher.js:105)
  * expressed as partition pruning. Idempotent: a plan already carrying a
  * cluster_id filter between the Sort and the base is left alone.
  */
case class IvfTopKRewrite() extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = IvfRegistry.current match {
    case None => plan
    case Some((model, nprobe)) =>
      plan.transformDown {
        case gl @ GlobalLimit(_, ll @ LocalLimit(_, sort: Sort)) if sort.global =>
          rewriteSort(sort, model, nprobe) match {
            case Some(newSort) => gl.copy(child = ll.copy(child = newSort))
            case None          => gl
          }
      }
  }

  /** A centroid-scoring function recovered from the literal query buried
    * anywhere in the score expression — IP against the (possibly
    * scale-weighted) query vector, or ADC through the PQ LUT — paired
    * with the sort direction the scorer is valid for. IVF pruning only
    * approximates NEAREST-neighbor semantics: `fast_dot ASC` (k least
    * similar) or `fast_l2sq DESC` (k farthest) are legitimate exact
    * queries the rule must leave untouched, so IP-family scorers admit
    * only Descending and L2 only Ascending. ADC LUTs carry their metric
    * in a provenance record ([[lutScorer]]) and admit only the matching
    * direction; unknown LUTs never rewrite.
    */
  private def findScorer(
      e: Expression): Option[(Array[Double] => Double, Option[SortDirection])] =
    e.collectFirst {
      case DotProduct(_, Literal(q: ArrayData, _)) =>
        (ipWith(doubles(q)) _, Some(Descending: SortDirection))
      case ByteDot(_, Literal(w: ArrayData, _)) =>
        (ipWith(doubles(w)) _, Some(Descending: SortDirection))
      case L2SqDistance(_, Literal(q: ArrayData, _)) =>
        (l2SqWith(doubles(q)) _, Some(Ascending: SortDirection))
    }.orElse(lutScorer(e))

  /** ADC (byte_lut_sum) scorer with metric-aware direction (ADVICE r10
    * #2): the LUT's kind is looked up from [[IvfRegistry.lutKind]] — a
    * `dist` LUT admits only Ascending, an `ip` LUT only Descending (a
    * cosine score additionally carries the `cnorm` table, so the centroid
    * rank divides the ADC inner product by the true centroid norm — the
    * query-norm factor is constant across centroids and drops out). A LUT
    * of UNKNOWN provenance gets NO rewrite — the plan stays exact. That
    * covers three failure classes at once: hand-built LUTs the engine
    * can't attribute a metric to, NON-PQ byte_lut_sum tables (Sq8.score's
    * dim×256 ADC tables — scoring a centroid through those with the PQ
    * codebooks would rank garbage), and provenance records evicted from
    * the bounded LRU or wiped by a concurrent `IvfRegistry.clear()` — in
    * every case the safe answer is "don't approximate", never the legacy
    * both-directions admission.
    */
  private def lutScorer(
      e: Expression): Option[(Array[Double] => Double, Option[SortDirection])] =
    IvfRegistry.currentPq.flatMap { pq =>
      val luts = e.collect {
        case ByteLutSum(_, Literal(lut: ArrayData, _)) => lut.toDoubleArray()
      }
      if (luts.isEmpty) None
      else {
        // a LUT that does not fit the registered PQ model throws here, and
        // rewriteSort's Try leaves the plan exact
        def adc(flat: Array[Double]): Array[Double] => Double = {
          val lut = UnsafeArrayData.fromPrimitiveArray(flat)
          c => {
            val codes = Pq.encodeVec(pq, c)
            require(codes.length * 256 == flat.length,
              s"LUT of ${flat.length} entries does not fit ${codes.length} PQ codes")
            Kernels.byteLutSum(codes, lut)
          }
        }
        // Metric is a PER-PLAN property read from the expression's own LUT
        // set — never from a cosine-specific kind on the shared registry:
        // the cosine score's ip table is byte-identical to the plain-Ip
        // branch's, so a metric-specific kind would alias the content-keyed
        // LRU entry and let whichever metric scored LAST rewrite the other
        // metric's plan (r12 self-review finding). Dedup by content first:
        // the cosine expression references its norm table twice (guard +
        // divisor).
        val uniq = luts.map(_.toIndexedSeq).distinct.map(_.toArray)
        val kinds = uniq.map(l => (l, IvfRegistry.lutKind(l)))
        kinds.collectFirst { case (l, Some("dist")) => l } match {
          case Some(l) => Some((adc(l), Some(Ascending: SortDirection)))
          case None =>
            kinds.collectFirst { case (l, Some("ip")) => l } match {
              case Some(l) if uniq.length == 1 =>
                // the score reads exactly one LUT and it's an IP table:
                // plain inner-product ranking
                Some((adc(l), Some(Descending: SortDirection)))
              case Some(l) if kinds.exists(_._2.contains("cnorm")) =>
                // ip + cnorm in ONE score is the cosine shape (Pq.score):
                // centroid rank divides the ADC inner product by the true
                // centroid norm (the query-norm factor is constant across
                // centroids and drops out)
                val ip = adc(l)
                val cos = (c: Array[Double]) => {
                  val n2 = Kernels.sumSq(UnsafeArrayData.fromPrimitiveArray(c), false)
                  if (n2 == 0.0) 0.0 else ip(c) / math.sqrt(n2)
                }
                Some((cos, Some(Descending: SortDirection)))
              case Some(_) =>
                // an ip table plus a COMPANION LUT that is not a cnorm:
                // either unknown provenance (possibly a cnorm record the
                // bounded LRU evicted — declining beats silently ranking a
                // cosine query by raw IP, ADVICE r11 #3), or — explicitly
                // (ADVICE r12) — a SECOND known ip table. The engine never
                // emits a two-ip-LUT score, and the single-LUT ADC ranker
                // can't reproduce whatever combination such a score
                // computes, so both shapes decline; the plan stays exact
                None
              case None =>
                // unknown provenance, or known-but-non-scoring tables
                // only (a bare cnorm read): leave the plan exact
                None
            }
        }
      }
    }

  private def doubles(lit: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(lit.toDoubleArray())

  private def ipWith(q: ArrayData)(c: Array[Double]): Double =
    Kernels.dot(q, false, UnsafeArrayData.fromPrimitiveArray(c), false)

  private def l2SqWith(q: ArrayData)(c: Array[Double]): Double =
    Kernels.l2sq(q, false, UnsafeArrayData.fromPrimitiveArray(c), false)

  /** Descending sorts rank centroids by score desc (IP-family); ascending
    * sorts rank asc (L2 distance — exact `fast_l2sq` or an ADC distance
    * LUT). The sort direction IS the better-is direction of the metric, so
    * matching on it keeps the rule metric-agnostic.
    */
  private def rewriteSort(sort: Sort, model: IvfIndex.Model, nprobe: Int): Option[Sort] =
    (sort.order, sort.child) match {
      case (Seq(SortOrder(attr: AttributeReference, dir @ (Descending | Ascending), _, _), _*),
            p @ Project(projList, pchild)) =>
        val alreadyPruned = pchild.collectFirst {
          case Filter(cond, _) if cond.references.exists(_.name == "cluster_id") => ()
        }.isDefined
        val cidOpt = pchild.output.find(_.name == "cluster_id")
        if (alreadyPruned || cidOpt.isEmpty) None
        else
          projList.collectFirst { case a: Alias if a.exprId == attr.exprId => a }
            .flatMap(a => findScorer(a.child))
            // farthest-neighbor shapes (IP asc / L2 desc) stay exact
            .filter { case (_, allowed) => allowed.forall(_ == dir) }
            .flatMap { case (scorer, _) =>
              // dim mismatch (e.g. a PQ model fit for another table) must
              // leave the plan untouched, never break analysis
              scala.util.Try {
                model.centroids.zipWithIndex
                  .map { case (c, i) => (i, scorer(c)) }
                  .sortBy(s => if (dir == Descending) -s._2 else s._2)
                  .take(nprobe).map(_._1)
              }.toOption
            }
            .map { probed =>
              // below any user Filter: prune reaches the scan first
              val pruned = pchild match {
                case f @ Filter(cond, base) =>
                  val cid = base.output.find(_.name == "cluster_id").get
                  f.copy(child = Filter(In(cid, probed.toIndexedSeq.map(Literal(_))), base))
                case base =>
                  Filter(In(cidOpt.get, probed.toIndexedSeq.map(Literal(_))), base)
              }
              sort.copy(child = p.copy(child = pruned))
            }
      case _ => None
    }
}
