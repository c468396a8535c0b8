package graft.serving

import java.nio.charset.StandardCharsets

import graft.functions.{Kernels, TextFunctions}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Driver-resident serving arithmetic for [[HybridSearchService]] — the
  * per-request fast path that removes Catalyst planning and Spark job
  * scheduling from the request's critical path (VERDICT r16: the hybrid
  * endpoint ran at 4.3 req/s with p95 over a second because every request
  * planned and executed a fresh ~7-operator plan; the IO was pruned but
  * PLANNING dominated at single-query grain).
  *
  * The vector arithmetic is shared, not copied: the cosine leg calls the
  * same [[graft.functions.Kernels]] loops as the Catalyst expressions,
  * and ranking is [[LocalVector.rank]]. The rest replays the plan it
  * stands in for — BM25 contributions, RRF fusion, rounding, token
  * hashing — with the same operand order, IEEE operations and
  * tie-breaks, so the fast path's wire results equal the r4 batch
  * pipeline verbatim (HybridServiceSpec pins served == batch; the
  * LocalHybridSpec parity suite pins each function against its Catalyst
  * twin on randomized inputs). This is the serving-tier design the
  * reference runs implicitly: Solr/Milvus ARE driver-resident indexes
  * over the same persisted artifacts the batch jobs build.
  *
  * What stays distributed: everything that scales with the corpus. The
  * dense index collects only under an explicit row budget
  * (`maxLocalIndex`), the sparse leg caches only term postings below an
  * explicit df cap (`maxTermDf`) under an explicit total budget
  * (`maxCachedPostings`), and any request the local tier cannot serve
  * within those budgets falls back to the distributed plan — identical
  * results, just unamortized latency.
  */
private[graft] object LocalHybrid {

  /** Replica of `TextFunctions.tokens` = `split(text, " ")` — Spark keeps
    * every empty string (limit -1 semantics).
    */
  def tokensOf(text: String): Array[String] = text.split(" ", -1)

  /** Replica of `ChunkEmbed.docEmbed` at single-document grain: feature-
    * hashed bag of words, bucket = hash60 mod dim
    * ([[graft.functions.TextFunctions.hash60Local]]), sign = bit 6. Bucket
    * sums are integer-valued (±1 additions) so summation order cannot
    * matter — exact parity with the distributed groupBy by construction.
    */
  def docEmbedLocal(text: String, dim: Int): Array[Double] = {
    val emb = new Array[Double](dim)
    tokensOf(text).foreach { t =>
      val h = TextFunctions.hash60Local(t)
      emb((h % dim).toInt) += (if (((h >> 6) % 2) == 0L) 1.0 else -1.0)
    }
    emb
  }

  /** L2 norm of a double vector: √ of the sequential sum of squares. */
  def norm(v: ArrayData): Double = math.sqrt(Kernels.sumSq(v, false))

  /** `AnnSearch.pairScore` under Cosine over double vectors with their
    * norms: zero-guard both sides to 0, else dot / (bn * qn) — bn FIRST
    * in the product, the plan's operand order.
    */
  def cosineScore(bvec: ArrayData, bn: Double, qvec: ArrayData, qn: Double): Double =
    if (bn > 0 && qn > 0) Kernels.dot(bvec, false, qvec, false) / (bn * qn) else 0.0

  /** One row of the driver-resident dense index: the embedding converted
    * once for the kernels, with its query-independent norm computed at
    * load rather than per request. `cluster` is -1 in exact mode.
    */
  final case class DenseRow(id: Long, emb: ArrayData, norm: Double, cluster: Int)

  def denseRow(id: Long, emb: Array[Double], cluster: Int): DenseRow = {
    val e = UnsafeArrayData.fromPrimitiveArray(emb)
    DenseRow(id, e, norm(e), cluster)
  }

  /** Replica of Spark's `round(col, 6)` on DoubleType: BigDecimal
    * HALF_UP on the canonical decimal form, NaN/Inf passed through.
    */
  def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** UTF-8 binary order — Spark's UTF8String comparison, which
    * `array_sort(struct(term, c))` ranks by. Differs from Java's
    * UTF-16 `compareTo` for supplementary-plane code points, so the
    * replica compares the encoded bytes unsigned.
    */
  def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** One term's driver-cached slice of the sparse artifact: document
    * frequency plus the postings rows (id, tf, dl). `overCap` memoizes a
    * term whose df exceeds the serving cap — its rows are never fetched
    * (empty here) and any request containing it serves distributed, but
    * the VERDICT is cached so the slow path stops re-paying the df probe
    * on every request (self-review r17).
    */
  final case class TermPost(df: Long, rows: Array[(Long, Long, Long)],
                            overCap: Boolean = false) {
    def sizeRows: Long = rows.length.toLong
  }

  /** Open-addressing long→double accumulator (power-of-two capacity,
    * linear probing, Fibonacci spread) — the [[bm25Rank]] hot path touches
    * one slot per posting row with ZERO boxing (r19 throughput fix: the
    * boxed `java.util.HashMap[Long, Double]` cost two allocations per
    * posting row, and a common-term request scores Σ df(t) ≈ 10⁵ rows —
    * allocation, not arithmetic, dominated the per-request profile).
    * Accumulation order per key is the caller's insertion order, so the
    * IEEE fold sequence is exactly the boxed map's.
    */
  private final class LongDoubleAccum(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(
      math.max(16, initialCapacity) * 2 - 1) << 1
    private var keys = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var vals = new Array[Double](cap)
    private var n = 0
    def size: Int = n
    private def slot(k: Long, ks: Array[Long], us: Array[Boolean]): Int = {
      val mask = ks.length - 1
      var i = (((k ^ (k >>> 32)) * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
      while (us(i) && ks(i) != k) i = (i + 1) & mask
      i
    }
    private def grow(): Unit = {
      val nk = new Array[Long](cap << 1)
      val nu = new Array[Boolean](cap << 1)
      val nv = new Array[Double](cap << 1)
      var i = 0
      while (i < cap) {
        if (used(i)) {
          val j = slot(keys(i), nk, nu)
          nk(j) = keys(i); nu(j) = true; nv(j) = vals(i)
        }
        i += 1
      }
      cap <<= 1; keys = nk; used = nu; vals = nv
    }
    def add(k: Long, v: Double): Unit = {
      if (n * 2 >= cap) grow()
      val i = slot(k, keys, used)
      if (!used(i)) { used(i) = true; keys(i) = k; vals(i) = v; n += 1 }
      else vals(i) += v
    }
    def foreach(f: (Long, Double) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i), vals(i)); i += 1 }
    }
  }

  /** `(score DESC, id ASC) LIMIT k` as (rank, id, score) rows, through
    * [[LocalVector.rank]]. Ids here are unique and scores never NaN
    * (integer-derived BM25/cosine arithmetic), so its row-index tie-break
    * and NaN order never come into play.
    */
  private def topByScore(ids: Array[Long], scores: Array[Double],
                         k: Int): Array[(Long, Long, Double)] =
    LocalVector.rank(scores, descending = true, (a, b) => ids(a) < ids(b), k)
      .zipWithIndex.map { case (idx, r) => (r.toLong, ids(idx), scores(idx)) }

  /** Replica of `Bm25.searchIndex` for ONE query whose terms are all
    * locally cached: per-candidate contributions c = idf · tfn with the
    * exact operand order of the Catalyst expression, folded in term
    * order (UTF-8 ascending — the `array_sort(struct(term, c))`
    * discipline), rounded to 6, ranked by (score DESC, id ASC).
    * Returns (rank, id, score) rows, at most `k`.
    */
  def bm25Rank(terms: Array[String], posts: Map[String, TermPost],
               nDocs: Double, avgdl: Double, k1: Double, b: Double,
               k: Int): Array[(Long, Long, Double)] = {
    // Process the (distinct) terms in UTF-8 ascending order UP FRONT:
    // each candidate's contributions then arrive already in the
    // `array_sort(struct(term, c))` fold order, so the per-candidate
    // accumulator adds them in the IDENTICAL IEEE sequence with no
    // per-candidate buffer or sort. (r18 hot-path fix: on a common-term
    // query the old shape built and string-sorted one buffer per
    // candidate document — Σ df(t) tuple allocations plus |candidates|
    // sorts per request.)
    val ordered = terms.sortWith(utf8Lt)
    var total = 0
    ordered.foreach(t => posts.get(t).foreach(tp => total += tp.rows.length))
    val acc = new LongDoubleAccum(math.min(total, 1 << 16))
    ordered.foreach { t =>
      posts.get(t).foreach { tp =>
        if (tp.rows.nonEmpty) {
          val df = tp.df.toDouble
          // log(1.0 + ((n - df) + 0.5) / (df + 0.5)) — searchIndex's idf
          val idf = math.log(1.0 + ((nDocs - df) + 0.5) / (df + 0.5))
          tp.rows.foreach { case (id, tf, dl) =>
            // (tf·(k1+1)) / (tf + k1·((1−b) + (b·dl)/avgdl)) — exact order
            val tfn = tf.toDouble * (k1 + 1.0) /
              (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avgdl))
            acc.add(id, idf * tfn)
          }
        }
      }
    }
    val ids = new Array[Long](acc.size)
    val scores = new Array[Double](acc.size)
    var i = 0
    acc.foreach { (id, v) => ids(i) = id; scores(i) = round6(v); i += 1 }
    topByScore(ids, scores, k)
  }

  /** Exact dense top-k over the driver-resident index — the
    * `AnnSearch.batchTopK` cosine replica: every row scored, ties by id
    * ASC, at most `k` out as (rank, id, score).
    */
  def denseRank(index: Array[DenseRow], probe: Array[Int],
                qvec: Array[Double], k: Int): Array[(Long, Long, Double)] = {
    val q = UnsafeArrayData.fromPrimitiveArray(qvec)
    val qn = norm(q)
    val probeSet: java.util.Set[Integer] =
      if (probe == null) null
      else {
        val s = new java.util.HashSet[Integer]()
        probe.foreach(c => s.add(c)); s
      }
    val ids = new Array[Long](index.length)
    val scores = new Array[Double](index.length)
    var n = 0
    index.foreach { r =>
      if (probeSet == null || probeSet.contains(r.cluster)) {
        ids(n) = r.id; scores(n) = cosineScore(r.emb, r.norm, q, qn); n += 1
      }
    }
    topByScore(java.util.Arrays.copyOf(ids, n),
      java.util.Arrays.copyOf(scores, n), k)
  }

  /** Replica of `Bm25.rrf`: contribution 1/((c + rank) + 1.0) per
    * ranker, folded in RANKER order (the `array_sort(struct(__r, __c))`
    * discipline), ranked by (rrf DESC, id ASC). Inputs are each ranker's
    * (rank, id) pairs in ranker order; output (rank, id, rrf), at most k.
    */
  def rrfFuse(rankings: Seq[Array[(Long, Long)]], k: Int,
              c: Int = 60): Array[(Long, Long, Double)] = {
    val contrib = new java.util.LinkedHashMap[
      java.lang.Long, scala.collection.mutable.ArrayBuffer[(Int, Double)]]()
    rankings.zipWithIndex.foreach { case (rows, ri) =>
      rows.foreach { case (rank, id) =>
        var buf = contrib.get(id)
        if (buf == null) {
          buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
          contrib.put(id, buf)
        }
        buf += ((ri, 1.0 / ((c + rank) + 1.0)))
      }
    }
    val fused = new Array[(Long, Double)](contrib.size())
    val it = contrib.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      val parts = e.getValue.sortBy(_._1)
      var acc = 0.0
      parts.foreach { case (_, v) => acc += v }
      fused(i) = (e.getKey.longValue(), acc)
      i += 1
    }
    scala.util.Sorting.stableSort(fused,
      (p: (Long, Double), q: (Long, Double)) =>
        p._2 > q._2 || (p._2 == q._2 && p._1 < q._1))
    fused.take(k).zipWithIndex.map { case ((id, s), r) => (r.toLong, id, s) }
  }

  /** Bounded LRU cache of term postings (the sparse leg's serving tier).
    * Eviction is by TOTAL cached postings rows; an entry whose rows
    * ALONE exceed the budget is refused outright (self-review r17 —
    * admitting it would hold the cache permanently over its stated
    * memory contract). Over-cap VERDICT entries (`TermPost.overCap`,
    * zero rows) cache like any other so the slow path's df probe is not
    * re-paid per request. Thread-safe via synchronization — the critical
    * sections are map lookups, never IO.
    */
  final class TermCache(maxRows: Long) {
    private val map = new java.util.LinkedHashMap[String, TermPost](
      64, 0.75f, true)
    private var rows = 0L

    // every entry costs at least 1 toward the budget: zero-row entries
    // (absent-term empties, overCap verdicts) would otherwise never
    // count and never evict, so a long tail of unique junk terms on the
    // public endpoint would grow the map without bound — the r17
    // second-review finding; with the floor, entry COUNT is bounded by
    // maxRows too
    private def cost(tp: TermPost): Long = math.max(tp.sizeRows, 1L)

    def get(term: String): Option[TermPost] = synchronized {
      Option(map.get(term))
    }

    /** Admit a fetched term. Returns false (and caches nothing) only
      * when the entry's own cost exceeds the whole budget.
      */
    def put(term: String, tp: TermPost): Boolean = synchronized {
      if (cost(tp) > maxRows) false
      else {
        val old = map.remove(term)
        if (old != null) rows -= cost(old)
        map.put(term, tp)
        rows += cost(tp)
        val it = map.entrySet().iterator()
        while (rows > maxRows && it.hasNext) {
          val e = it.next()
          if (e.getKey != term) { rows -= cost(e.getValue); it.remove() }
        }
        true
      }
    }

    /** Entry count — bounded by the budget (spec-pinned). */
    def size: Int = synchronized(map.size())
  }
}
