package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpServer
import graft.operators.{AnnSearch, Bm25, ChunkEmbed, IvfIndex, VectorMetric}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** TEXT retrieval serving — the hybrid (sparse + dense) half of the
  * serving surface beside [[SearchService]]'s vector search, per
  * [[Bm25]]'s own contract that production retrieval serves BOTH and
  * fuses ranks: `POST /hybrid` with a UTF-8 query string → BM25 top-fetchK
  * over a PERSISTED term-pruned store + hashed-embedding cosine top-fetchK
  * over the cached doc-embedding index → reciprocal-rank fusion → top-k
  * JSON envelope (the r4 gate row's exact pipeline, on the wire).
  * `POST /keyword` serves the sparse ranker alone (r3/r5's shape).
  *
  * SERVING TIERS (VERDICT r16 #3 — per-request Catalyst planning
  * dominated the wire cost at single-query grain):
  *
  *  - DRIVER-RESIDENT fast path (the default): the dense doc-embedding
  *    index collects to the driver when it fits an explicit row budget
  *    (`maxLocalIndex` — the Milvus query-node posture: segments load
  *    into the serving tier's RAM), term postings cache in a bounded LRU
  *    as requests touch them (`maxTermDf`/`maxCachedPostings` — the Solr
  *    posture), and a request whose terms are all cached runs ZERO Spark
  *    jobs: BM25 scoring, cosine top-k, and RRF fusion are driver
  *    arithmetic over at most Σ_t df(t) + |index| rows ([[LocalHybrid]]:
  *    the cosine leg runs the Catalyst expressions' own kernels, the rest
  *    replays the plan's operand order), so the wire results equal the r4
  *    batch pipeline verbatim.
  *  - DISTRIBUTED fallback: anything the local tier cannot serve inside
  *    its budgets — an index over `maxLocalIndex`, a term over
  *    `maxTermDf`, a non-integral id column — runs the original batch
  *    plan ([[hybridFrame]]): [[Bm25.searchIndex]]'s pushed-In(term)
  *    probe + [[AnnSearch.batchTopK]]/[[AnnSearch.batchTopKIvf]] +
  *    [[Bm25.rrf]]. Identical results (HybridServiceSpec and
  *    LocalHybridSpec pin the parity), unamortized latency.
  *
  * Dense-leg modes: "exact" scores every index vector per request (the
  * correctness anchor); "ivf" ranks KMeans centroids per request and
  * scans only the `nprobe` best cells — in the local tier the probe is
  * [[IvfIndex.rankCentroids]] itself (the same function the distributed
  * plan replays), so the two tiers prune identically.
  *
  * The protective surface mirrors [[SearchService]] (and the reference's
  * searcher): request-body cap → 413, token-bucket admission → 429,
  * anything thrown → 500. Queries whose terms miss the corpus entirely
  * still answer from the dense leg; empty/blank bodies answer 400.
  */
class HybridSearchService(
    corpus: DataFrame,
    idCol: String,
    textCol: String,
    /** A [[Bm25.save]]d store dir — the nightly artifact; serving never
      * refits. */
    bm25Dir: String,
    k: Int = 10,
    fetchK: Int = 20,
    dim: Int = 64,
    maxBodyBytes: Long = 1 << 20, // queries are text: 1 MB is generous
    maxReqPerSec: Int = 100,
    // Dense-leg serving mode: "exact" scores every cached vector per
    // request (the correctness anchor — right while the doc-embedding
    // index fits executor memory); "ivf" fits KMeans centroids at load
    // and each request scans only the nprobe best clusters — the
    // [[SearchService]] scale path, for corpora whose embedding index
    // outgrows an exact per-request scan. nprobe = nlist recovers exact
    // results (spec-pinned).
    denseMode: String = "exact",
    nlist: Int = 64,
    nprobe: Int = 8,
    // Driver-resident tier budgets. localServing = false pins every
    // request to the distributed plan (the parity specs' lever).
    localServing: Boolean = true,
    maxLocalIndex: Long = 1L << 17,
    maxTermDf: Long = 1L << 19,
    maxCachedPostings: Long = 1L << 21) {

  require(k >= 1 && fetchK >= k, s"need 1 <= k <= fetchK, got k=$k fetchK=$fetchK")
  require(Seq("exact", "ivf").contains(denseMode),
    s"unknown denseMode '$denseMode' (have: exact, ivf)")
  require(nlist >= 1 && nprobe >= 1,
    s"nlist $nlist and nprobe $nprobe must be >= 1")
  // budget coherence, checked BEFORE any artifact load (a late failure
  // would leak the cached dense index — r17 second-review finding): a
  // term the df cap admits must be cacheable
  require(maxTermDf <= maxCachedPostings,
    s"maxTermDf $maxTermDf exceeds maxCachedPostings $maxCachedPostings — " +
      "an admitted term's postings must fit the cache budget")
  private val spark = corpus.sparkSession

  // BM25's published defaults — the same constants searchIndex defaults
  // to; the local tier scores with the identical values
  private val K1 = 1.2
  private val B = 0.75

  // ---- collection load (C9): the sparse artifact boots via load() (lazy
  // lake scans + 1-row stats); the dense doc-embedding index materializes
  // hot — cluster-assigned under "ivf" — the same cache-and-count
  // discipline as SearchService.
  private val bm25 = Bm25.load(spark, bm25Dir)
  require(bm25.idCol == idCol,
    s"store at $bm25Dir indexes '${bm25.idCol}', service configured for '$idCol'")
  private val denseIndex0 = ChunkEmbed.docEmbed(corpus, idCol, textCol, dim)
  private val (denseIndex, ivfModel) = denseMode match {
    case "exact" => (denseIndex0.cache(), None)
    case "ivf" =>
      // clamp k to the table size so tiny collections still load
      val n = denseIndex0.count()
      val (assigned, m) =
        IvfIndex.build(denseIndex0, "emb", math.min(nlist.toLong, n).toInt)
      (assigned.cache(), Some(m))
  }
  private val denseCount = denseIndex.count()

  // ---- driver-resident tier (loaded once; None -> distributed only) ----
  private val idIsIntegral = corpus.schema(idCol).dataType match {
    case LongType | IntegerType => true
    case _ => false
  }
  private val localIndex: Option[Array[LocalHybrid.DenseRow]] =
    if (!localServing || !idIsIntegral || denseCount > maxLocalIndex) None
    else Some {
      val hasCluster = denseIndex.columns.contains("cluster_id")
      val cols =
        if (hasCluster) Seq(col(idCol), col("emb"), col("cluster_id"))
        else Seq(col(idCol), col("emb"))
      denseIndex.select(cols: _*).collect().map { r =>
        val id = r.get(0).asInstanceOf[Number].longValue()
        val cl = if (hasCluster) r.get(2).asInstanceOf[Number].intValue() else -1
        LocalHybrid.denseRow(id, r.getSeq[Double](1).toArray, cl)
      }
    }
  /** (n_docs as double, avgdl) — the exact doubles searchIndex's stats
    * projection produces (sum_dl and n_docs both promote to double at
    * the division).
    */
  private val localStats: (Double, Double) = {
    val r = bm25.docStats.select(col("n_docs"), col("sum_dl")).head()
    val n = r.get(0).asInstanceOf[Number].longValue()
    val s = r.get(1).asInstanceOf[Number].longValue()
    (n.toDouble, s.toDouble / n.toDouble)
  }
  private val termCache = new LocalHybrid.TermCache(maxCachedPostings)

  /** Resolve every query term to its cached postings — fetching misses
    * in (at most) two pushed-In(term) jobs — or None when any term
    * exceeds the df cap (the request then runs distributed; the over-cap
    * VERDICT caches too, so repeat requests with a hot common term pay
    * no df probe). Terms absent from the corpus cache as empty.
    */
  private def resolveTerms(terms: Array[String])
      : Option[Map[String, LocalHybrid.TermPost]] = {
    val have = scala.collection.mutable.HashMap.empty[String, LocalHybrid.TermPost]
    val missing = scala.collection.mutable.ArrayBuffer.empty[String]
    terms.foreach { t =>
      termCache.get(t) match {
        case Some(tp) => have(t) = tp
        case None => missing += t
      }
    }
    if (missing.nonEmpty) {
      val keys = missing.toIndexedSeq
      val dfMap = bm25.dfs.where(col("term").isin(keys: _*))
        .select(col("term"), col("df")).collect()
        .map(r => r.getString(0) -> r.get(1).asInstanceOf[Number].longValue())
        .toMap
      val (over, fetchable) =
        missing.partition(t => dfMap.getOrElse(t, 0L) > maxTermDf)
      over.foreach { t =>
        val tp = LocalHybrid.TermPost(dfMap(t),
          Array.empty[(Long, Long, Long)], overCap = true)
        termCache.put(t, tp)
        have(t) = tp
      }
      if (fetchable.nonEmpty) {
        val post = bm25.postings
          .where(col("term").isin(fetchable.toIndexedSeq: _*))
          .select(col("term"), col(idCol), col("tf"), col("dl")).collect()
          .groupBy(_.getString(0))
        fetchable.foreach { t =>
          val rows = post.getOrElse(t, Array.empty[Row]).map { r =>
            (r.get(1).asInstanceOf[Number].longValue(),
              r.get(2).asInstanceOf[Number].longValue(),
              r.get(3).asInstanceOf[Number].longValue())
          }
          val tp = LocalHybrid.TermPost(dfMap.getOrElse(t, 0L), rows)
          termCache.put(t, tp)
          have(t) = tp
        }
      }
    }
    if (have.valuesIterator.exists(_.overCap)) None else Some(have.toMap)
  }

  /** The per-request batch plan for a query string — the DISTRIBUTED
    * tier, and the plan the driver-resident tier must match bit-exactly.
    * Public so specs can compare it against the r4 batch pipeline and
    * `.explain` what a fallback request runs. qid is fixed 0: one
    * request, one query.
    */
  def hybridFrame(query: String): DataFrame = {
    import spark.implicits._
    val q = Seq((0L, query)).toDF("qid", textCol)
    val sparse = Bm25.searchIndex(bm25, q, "qid", textCol, fetchK)
    val qEmb = ChunkEmbed.docEmbed(q, "qid", textCol, dim)
    val dense = ivfModel match {
      case None =>
        AnnSearch.batchTopK(denseIndex, "emb", idCol,
          qEmb, "qid", "emb", fetchK, VectorMetric.Cosine)
      case Some(m) =>
        AnnSearch.batchTopKIvf(denseIndex, m, "emb", idCol, "cluster_id",
          qEmb, "qid", "emb", fetchK, nprobe, VectorMetric.Cosine)
    }
    Bm25.rrf(Seq(sparse, dense), "qid", idCol, "rank", k)
      .orderBy(col("rank"))
  }

  /** Sparse-only per-request plan (the /keyword route's distributed
    * tier). */
  def keywordFrame(query: String): DataFrame = {
    import spark.implicits._
    val q = Seq((0L, query)).toDF("qid", textCol)
    Bm25.searchIndex(bm25, q, "qid", textCol, k).orderBy(col("rank"))
  }

  /** Driver-resident /hybrid: both legs + fusion as local arithmetic,
    * zero Spark jobs on a warm term cache. None -> serve distributed.
    */
  private def localSearch(query: String): Option[Seq[(Long, Any, Any)]] =
    localIndex.flatMap { index =>
      val terms = LocalHybrid.tokensOf(query).distinct
      resolveTerms(terms).map { posts =>
        val sparse = LocalHybrid.bm25Rank(terms, posts,
          localStats._1, localStats._2, K1, B, fetchK)
        val qvec = LocalHybrid.docEmbedLocal(query, dim)
        val probe = ivfModel match {
          case Some(m) => IvfIndex.rankCentroids(
            m, qvec.toIndexedSeq, VectorMetric.Cosine, nprobe)
          case None => null
        }
        val dense = LocalHybrid.denseRank(index, probe, qvec, fetchK)
        LocalHybrid.rrfFuse(
            Seq(sparse.map(r => (r._1, r._2)), dense.map(r => (r._1, r._2))), k)
          .toSeq.map { case (rank, id, rrf) => (rank, id, rrf) }
      }
    }

  private def localKeyword(query: String): Option[Seq[(Long, Any, Any)]] =
    if (!localServing || !idIsIntegral) None
    else {
      val terms = LocalHybrid.tokensOf(query).distinct
      resolveTerms(terms).map { posts =>
        LocalHybrid.bm25Rank(terms, posts,
            localStats._1, localStats._2, K1, B, k)
          .toSeq.map { case (rank, id, s) => (rank, id, s) }
      }
    }

  private def rowsOf(df: DataFrame): Seq[(Long, Any, Any)] =
    df.collect().toIndexedSeq
      .map(r => (r.getLong(1), r.get(2), r.get(3)))

  /** The distributed fallback with CONCURRENT legs: the sparse probe and
    * the dense top-k are independent plans, so a fallback request runs
    * them as two parallel Spark jobs and fuses driver-side with
    * [[LocalHybrid.rrfFuse]] — halving fallback latency vs the sequential
    * single plan. Results equal [[hybridFrame]]'s (rrfFuse == Bm25.rrf
    * is LocalHybridSpec-pinned, and the localServing=false service runs
    * THIS path in the fast-vs-fallback wire-equality spec). Non-integral
    * ids keep the single-plan path — the driver fusion needs the id
    * tie-break order.
    */
  private def distributedSearch(query: String): Seq[(Long, Any, Any)] =
    if (!idIsIntegral) rowsOf(hybridFrame(query))
    else {
      import spark.implicits._
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val q = Seq((0L, query)).toDF("qid", textCol)
      // blocking{}: the legs are multi-second blocking collects — on the
      // global ForkJoinPool they must register as blocked so the pool
      // spawns compensation threads instead of serializing concurrent
      // fallback requests (self-review r17)
      val sparseF = Future(scala.concurrent.blocking {
        Bm25.searchIndex(bm25, q, "qid", textCol, fetchK).collect()
          .map(r => (r.getLong(1), r.get(2).asInstanceOf[Number].longValue()))
      })
      val denseF = Future(scala.concurrent.blocking {
        val qEmb = ChunkEmbed.docEmbed(q, "qid", textCol, dim)
        val plan = ivfModel match {
          case None =>
            AnnSearch.batchTopK(denseIndex, "emb", idCol,
              qEmb, "qid", "emb", fetchK, VectorMetric.Cosine)
          case Some(m) =>
            AnnSearch.batchTopKIvf(denseIndex, m, "emb", idCol, "cluster_id",
              qEmb, "qid", "emb", fetchK, nprobe, VectorMetric.Cosine)
        }
        plan.collect()
          .map(r => (r.getLong(1), r.get(2).asInstanceOf[Number].longValue()))
      })
      val sparse = Await.result(sparseF, Duration.Inf)
      val dense = Await.result(denseF, Duration.Inf)
      LocalHybrid.rrfFuse(Seq(sparse, dense), k)
        .toSeq.map { case (rank, id, rrf) => (rank, id, rrf) }
    }

  /** (rank, id, score) in rank order — local tier when it can, the
    * distributed plan otherwise; both produce identical rows.
    */
  def search(query: String): Seq[(Long, Any, Any)] =
    localSearch(query).getOrElse(distributedSearch(query))

  def searchKeyword(query: String): Seq[(Long, Any, Any)] =
    localKeyword(query).getOrElse(rowsOf(keywordFrame(query)))

  /** True when the last-loaded tier serves /hybrid without Spark jobs on
    * a warm cache — bench/spec introspection.
    */
  def isLocalTier: Boolean = localIndex.isDefined

  /** Same envelope family as [[SearchService.toJson]]: docs carry the id,
    * the 0-based rank and the fused (or BM25) score.
    */
  private def toJson(docs: Seq[(Long, Any, Any)], scoreName: String): String = {
    import HttpServing.jsonValue
    val ds = docs.map { case (rank, id, score) =>
      s"""{"$idCol":${jsonValue(id)},"rank":$rank,""" +
        s""""$scoreName":${jsonValue(score)}}"""
    }.mkString(",")
    s"""{"RawDocsCount":"${docs.size}","response":{"docs":[$ds]}}"""
  }

  // the shared protective surface: admission bucket + guarded POST routes
  private val bucket = new HttpServing.TokenBucket(maxReqPerSec)

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(port: Int): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    server.setExecutor(pool)
    def route(path: String, run: String => Seq[(Long, Any, Any)],
              scoreName: String): Unit =
      HttpServing.guardedPost(server, path, maxBodyBytes, bucket, bytes => {
        val q = new String(bytes, StandardCharsets.UTF_8)
        if (q.trim.isEmpty) (400, """{"error":"empty query"}""")
        else (200, toJson(run(q), scoreName))
      })
    route("/hybrid", search, "rrf")
    route("/keyword", searchKeyword, "score")
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
    denseIndex.unpersist()
  }
}
