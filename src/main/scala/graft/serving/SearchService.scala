package graft.serving

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer
import graft.functions.Kernels
import graft.multimodal.ImageOps
import graft.operators.{AnnSearch, IvfIndex, Pq, Sq8, VectorMetric}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Serving layer (SURVEY §3.3, searcher.js): `POST /search` with raw image
  * bytes → in-JVM descriptor extraction → top-k inner-product search over a
  * cached vector table → Solr-mimic JSON envelope (`searcher.js:223-236`).
  *
  * Envelope parity: each doc carries the id, the requested `outputFields`
  * (the reference returns `hash_id`, `duration`, `primary_key` —
  * searcher.js:106) and the score. The reference's protective surface is
  * kept too: a request-body cap (10 MB, searcher.js:129) and a per-second
  * rate limit (100 req/s, searcher.js:125-127) answering 413/429.
  *
  * Differences from the reference, by design:
  *  - no Solr hop (A13) and no temp-file self-upload (A14): bytes are
  *    decoded in-process (ImageOps), the query vector never touches disk;
  *  - the collection "load" (C9, `loadCollectionSync`) is `df.cache()` on a
  *    long-lived SparkSession — executors keep the columnar data hot;
  *  - `mode` picks the serving plan; the reference serves EVERY query
  *    through IVF_SQ8 nprobe=10 (`searcher.js:99-110`), which is mode
  *    "ivf_sq8" here.
  *
  * Serving modes (the index build is the collection LOAD, paid once at
  * construction — per-request work is only the probe):
  *  - "exact":   the exact scored scan (TakeOrderedAndProject) — the
  *               correctness anchor and the right plan for small tables;
  *  - "ivf":     KMeans coarse quantization; per query, centroids rank on
  *               the driver and only `nprobe`/`nlist` clusters are scanned
  *               with exact float scores;
  *  - "ivf_sq8": the reference's serving shape (Milvus IVF_SQ8,
  *               loader.js:332-334) — IVF pruning + SQ8 byte codes scored
  *               by the codegen'd `byte_dot` kernel, 1 B/dim at rest;
  *  - "ivf_pq":  IVF pruning + PQ/ADC (m bytes/vector) through the
  *               codegen'd `byte_lut_sum` kernel — the 100 TB codec.
  *
  * With `indexDir` set, the quantized modes lay the indexed table out as
  * parquet `partitionBy(cluster_id)`, so a query's nprobe filter becomes
  * real PARTITION PRUNING at the source (PartitionFilters in the scan —
  * only nprobe/nlist of the files are ever read; the in-memory cache path
  * gets the same effect from cached-batch filtering, but the parquet
  * layout is what survives a 100 TB corpus that doesn't fit in RAM).
  *
  * Freshness (`deltaDir`): the reference's loader inserts continuously and
  * the searcher sees new vectors without a rebuild (Milvus growing
  * segments). The analog here: [[indexStream]] maps a STREAM of new rows
  * into this service's exact serving layout (expression-based
  * nearest-centroid assignment + the same codec models the load fitted),
  * the caller writes it with a streaming parquet sink into `deltaDir`
  * partitioned the same way, and [[refresh]] re-snapshots base ∪ delta —
  * each request still prunes both scans to the nprobe clusters. The
  * periodic out-of-band index REBUILD (a new service load) absorbs the
  * delta, exactly like Milvus sealing growing segments.
  *
  * JDK HttpServer keeps the dependency surface at zero; a production front
  * would sit behind any HTTP fabric and call [[search]] the same way.
  */
class SearchService(
    table: DataFrame,
    vecCol: String,
    idCol: String,
    grid: Int = 8,
    topK: Int = 15, // searcher.js:103
    outputFields: Seq[String] = Nil,
    maxBodyBytes: Long = 10L << 20, // searcher.js:129 "10mb"
    maxReqPerSec: Int = 100, // searcher.js:125-127
    algo: String = "in", // loader.js:20-21: one algo keys ingest + search
    mode: String = "exact",
    nlist: Int = 128, // loader.js:332-334 IVF_SQ8 nlist
    nprobe: Int = 10, // searcher.js:99-110
    indexDir: Option[String] = None,
    deltaDir: Option[String] = None,
    // Serve-day boot (SURVEY §3.2: the index build is a nightly job, the
    // serving JVM is a different process): when set, quantized modes LOAD
    // the IVF centroids + codec models from [[graft.sources.ModelStore]]
    // artifacts under this dir (written by [[SearchService.buildArtifacts]])
    // instead of re-fitting KMeans/stats at construction — assignment runs
    // through the expression-based [[IvfIndex.assign]], so boot cost is one
    // scan, not an ML fit.
    modelDir: Option[String] = None,
    // Quantized-mode refinement (Milvus's "refine"/re-rank knob): take the
    // top `rerank` candidates by quantized score, then re-score EXACTLY
    // against the base table's float vectors (an id-pushed point lookup of
    // ≤ rerank rows, never a second scan) and return the exact top-k.
    // Recovers the recall a lossy codec gives up for its 4-32×
    // compression; 0 = off.
    rerank: Int = 0,
    // Distance metric ("ip" | "cosine" | "l2") — the reference serves IP
    // only (searcher.js:104); Milvus exposes all three, so the engine does
    // too. Uniform contract: one `score` column, ordered by the metric's
    // better-is direction (L2 scores are squared distances, ascending).
    metric: String = "ip",
    // Driver-resident serving tier (the LocalHybrid posture, VERDICT r17
    // #4): when the SERVED index fits under this row budget, requests are
    // answered from in-process arrays through the serving expressions' own
    // kernels ([[LocalVector]]) — no per-request Catalyst
    // planning or job scheduling. Over budget (or an exotic id type) every
    // request falls back to the distributed plan, identical results.
    // 0 disables.
    maxLocalIndex: Int = 200000,
    // Cell budget for that snapshot: rows × (vector dim + code bytes). A
    // row-count budget alone lets a wide-embedding table (768–1536 dims)
    // silently collect hundreds of MB onto the driver at construction and
    // on every refresh (ADVICE r18); 32M cells ≈ 128 MB of float payload.
    // Over budget → the distributed plan serves, identical results.
    maxLocalCells: Long = 32L << 20) {

  // fail at construction, not as a 500 on the first request (the same
  // loud-edge contract IvfIndex.search/rankCentroids now enforce)
  require(topK >= 1, s"topK $topK must be >= 1")
  require(nlist >= 1 && nprobe >= 1,
    s"nlist $nlist and nprobe $nprobe must be >= 1")
  require(outputFields.forall(table.columns.contains),
    s"outputFields must exist in the table: ${outputFields.mkString(", ")}")
  ImageOps.requireAlgo(algo) // ad=ACCID gets the explicit documented rejection
  require(Seq("exact", "ivf", "ivf_sq8", "ivf_pq").contains(mode),
    s"unknown search mode '$mode' (have: exact, ivf, ivf_sq8, ivf_pq)")
  require(rerank == 0 || (rerank > topK && Seq("ivf_sq8", "ivf_pq").contains(mode)),
    s"rerank=$rerank: must be 0 (off) or > topK=$topK with a lossy-codec mode " +
      "(ivf_sq8/ivf_pq; exact and ivf already serve exact scores)")
  // exact mode serves the cached table itself: there is no index to lay
  // out, load or refresh, so these settings would be dropped unread
  require(mode != "exact" || (indexDir.isEmpty && deltaDir.isEmpty && modelDir.isEmpty),
    "indexDir, deltaDir and modelDir need a quantized mode (ivf, ivf_sq8, " +
      "ivf_pq); mode 'exact' serves the cached table")
  private val vecMetric: VectorMetric = VectorMetric(metric)

  // Query-side descriptor — MUST match the one the table was ingested with
  // (the reference keys both ends on TRACE_ALGO; a table of EHD vectors
  // searched with an intensity query would silently return noise).
  private val describe: Array[Byte] => Array[Float] =
    if (algo == "in") ImageOps.intensityDescriptor(_, grid)
    else ImageOps.resolve(algo) // incl. ad via a configured LIRE jar (LireBridge)

  // ---- collection load (C9). Exact mode caches the raw table; quantized
  // modes build the IVF index (+ codec) here, once — the serving analog of
  // the reference's out-of-band Milvus index build.
  private val keepCols = (idCol +: outputFields).distinct

  private val cached = table.cache()
  private val nRows = cached.count() // materialize — loadCollectionSync (C9)

  // Codec models live next to the IVF index; assigned during the load below
  // (declared first — class fields initialize in order).
  private var sq8Model: Option[Sq8.Model] = None
  private var pqModel: Option[Pq.Model] = None

  private val ivf: Option[(DataFrame, IvfIndex.Model)] =
    if (mode == "exact") None
    else {
      val (assigned, model) = modelDir match {
        case Some(dir) =>
          val spark = cached.sparkSession
          val m = graft.sources.ModelStore.loadIvf(spark, s"$dir/ivf")
          if (mode == "ivf_sq8")
            sq8Model = Some(graft.sources.ModelStore.loadSq8(spark, s"$dir/sq8"))
          if (mode == "ivf_pq")
            pqModel = Some(graft.sources.ModelStore.loadPq(spark, s"$dir/pq"))
          (IvfIndex.assign(cached, vecCol, m), m)
        case None =>
          // clamp to the table size so tiny collections still load (KMeans
          // k must not exceed the point count)
          val bm = IvfIndex.build(cached, vecCol, math.min(nlist.toLong, nRows).toInt)
          if (mode == "ivf_sq8") sq8Model = Some(Sq8.fit(cached, vecCol))
          if (mode == "ivf_pq") pqModel = Some(Pq.fit(cached, vecCol,
            m = pqM(cached), ksub = math.min(256L, nRows).toInt))
          bm
      }
      val indexed = layout(assigned)
      val laidOut = indexDir match {
        case Some(dir) =>
          // persist partitioned by cluster so the nprobe filter prunes FILES
          IvfIndex.write(indexed, dir)
          cached.sparkSession.read.parquet(dir)
        case None =>
          val p = indexed.cache(); p.count(); p
      }
      Some((laidOut, model))
    }

  /** The serving projection for an assigned frame — ONE definition shared
    * by the load and [[indexStream]], so the growing segment is
    * column-for-column the layout the per-request scan expects.
    */
  private def layout(assigned: DataFrame): DataFrame = mode match {
    case "ivf" =>
      assigned.select((keepCols :+ vecCol).distinct.map(col) :+ col("cluster_id"): _*)
    // with rerank on, the float vector rides in the index layout too, so
    // phase 2 can re-score ANY served row — including streamed delta rows
    // the constructor-time base table does not contain
    case "ivf_sq8" =>
      Sq8.encode(assigned, vecCol, sq8Model.get, "__codes")
        .select(keepCols.map(col) ++
          (if (rerank > 0) Seq(col(vecCol)) else Nil) ++
          Seq(col("__codes"), col("cluster_id")): _*)
    case "ivf_pq" =>
      Pq.encode(assigned, vecCol, pqModel.get, "__codes")
        .select(keepCols.map(col) ++
          (if (rerank > 0) Seq(col(vecCol)) else Nil) ++
          Seq(col("__codes"), col("cluster_id")): _*)
  }

  // The index snapshot requests scan; refresh() swaps in a fresh base ∪
  // delta listing. @volatile: refresh runs on a maintenance thread while
  // HTTP handler threads read it.
  @volatile private var served: Option[(DataFrame, IvfIndex.Model)] = ivf

  /** Map new rows — batch or STREAMING — into this service's serving
    * layout: expression-based nearest-centroid assignment into the loaded
    * IVF lists ([[IvfIndex.assign]]; an MLlib transform can't run in a
    * streaming plan) + the SAME codec models the load fitted. Write the
    * result with a streaming parquet sink into `deltaDir`, partitioned by
    * `cluster_id` like the base, then [[refresh]] to serve it.
    */
  def indexStream(rows: DataFrame): DataFrame = {
    val model = ivf.getOrElse(throw new IllegalStateException(
      "indexStream needs a quantized mode (ivf, ivf_sq8, ivf_pq)"))._2
    layout(IvfIndex.assign(rows, vecCol, model))
  }

  /** BATCH append-serve — the reference's operating mode (loader.js
    * inserting while searcher.js serves): map `rows` into the served
    * layout (the SAME fixed-centroid assignment + codec models the load
    * fitted — [[indexStream]]'s projection), append them into `indexDir`'s
    * `cluster_id` partition layout, then [[refresh]]. Requests keep
    * answering throughout: in-flight scans hold the PREVIOUS parquet file
    * listing (an append never deletes files, so that snapshot stays
    * readable), and the swap is two volatile writes — a request observes
    * either the old or the new snapshot, both complete. Delta-sized end to
    * end: one narrow assignment scan of `rows` plus a partitioned append;
    * the periodic full rebuild (a new service load) absorbs centroid
    * drift, exactly like Milvus sealing growing segments.
    */
  def appendAndRefresh(rows: DataFrame): Unit = {
    val dir = indexDir.getOrElse(throw new IllegalStateException(
      "appendAndRefresh needs indexDir (the in-memory load is immutable)"))
    indexStream(rows).write.mode("append").partitionBy("cluster_id").parquet(dir)
    refresh()
  }

  /** Re-snapshot the served index from `indexDir` (∪ `deltaDir` once the
    * streaming sink has committed a batch there) — the growing-segment
    * visibility point. Cheap: a file re-listing, no index rebuild; the
    * per-request nprobe filter partition-prunes base and delta scans alike.
    */
  def refresh(): Unit = {
    val model = ivf.getOrElse(throw new IllegalStateException(
      "refresh() needs a quantized mode (ivf, ivf_sq8, ivf_pq)"))._2
    val dir = indexDir.getOrElse(throw new IllegalStateException(
      "refresh() needs indexDir (the in-memory load is immutable)"))
    val spark = cached.sparkSession
    val base = spark.read.parquet(dir)
    // The sink's metadata log appears with the first committed batch.
    // Probe through Hadoop's FileSystem so the check works wherever the
    // delta actually lives (HDFS/S3/local), not only on the local disk.
    def deltaCommitted(dd: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dd, "_spark_metadata")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val full = deltaDir match {
      case Some(dd) if deltaCommitted(dd) =>
        base.unionByName(spark.read.parquet(dd))
      case _ => base
    }
    served = Some((full, model))
    // the driver-resident snapshot follows the served index (or drops to
    // the distributed fallback if the union outgrew the budget)
    local = buildLocal()
  }

  /** Largest m ≤ 16 dividing dim — PQ needs dim % m == 0. */
  private def pqM(df: DataFrame): Int =
    SearchService.pqMFor(df.select(size(col(vecCol))).head().getInt(0))

  /** The per-request serving plan for a query vector — public so plan-shape
    * specs can `.explain` exactly what a request scans. Quantized modes rank
    * the nlist centroids on the driver (tiny) and scan only the `nprobe`
    * best clusters; with `indexDir` that filter is partition pruning at the
    * parquet source.
    */
  def searchFrame(q: Array[Float]): DataFrame = {
    val qd = q.map(_.toDouble).toIndexedSeq
    val outCols = keepCols.map(col)
    // metric-directed `ORDER BY score, id LIMIT n` (TakeOrderedAndProject)
    def ordered(df: DataFrame, n: Int): DataFrame =
      df.orderBy(
        if (vecMetric.descending) desc("score") else asc("score"), col(idCol))
        .limit(n)
    served match {
      case None =>
        ordered(cached.select(outCols :+
          AnnSearch.exactScore(cached, vecCol, qd, vecMetric).as("score"): _*), topK)
      case Some((indexed, model)) =>
        val probed = IvfIndex.rankCentroids(model, qd, vecMetric, nprobe)
        val pruned = indexed.where(col("cluster_id").isin(probed.toIndexedSeq: _*))
        val score = mode match {
          case "ivf"     => AnnSearch.exactScore(pruned, vecCol, qd, vecMetric)
          case "ivf_sq8" => Sq8.score(col("__codes"), sq8Model.get, qd, vecMetric)
          case "ivf_pq"  => Pq.score(col("__codes"), pqModel.get, qd, vecMetric)
        }
        val coarse = pruned.select(outCols :+ score.as("score"): _*)
        if (rerank > 0) {
          // phase 1: quantized top-`rerank` ids (tiny collect — the serving
          // layer collects its final top-k anyway); phase 2: exact re-score
          // of just those rows from the SERVED index (its layout carries the
          // float vectors when rerank is on, so streamed delta rows
          // re-score too), id filter pushed into the pruned scan
          val ids = ordered(coarse.select(col(idCol), col("score")), rerank)
            .collect().map(_.get(0)).toIndexedSeq
          ordered(
            pruned.where(col(idCol).isin(ids: _*))
              .select(outCols :+
                AnnSearch.exactScore(pruned, vecCol, qd, vecMetric).as("score"): _*),
            topK)
        } else
          ordered(coarse, topK)
    }
  }

  // ---- driver-resident tier ([[LocalVector]]) -------------------------

  /** In-process snapshot of the SERVED layout: positional arrays, one
    * entry per served row. `outs` carries the keepCols projection the
    * wire emits; `vecs` (float vectors, converted once for the kernels),
    * `codes` and `clusters` are null when the mode's plan does not scan
    * them.
    */
  private final case class LocalIdx(
      outs: Array[Array[Any]], ids: Array[Any],
      vecs: Array[ArrayData], codes: Array[Array[Byte]],
      clusters: Array[Int], idLt: (Any, Any) => Boolean,
      // the distributed result's schema (keepCols + score), so local rows
      // answer fieldIndex/getAs like a collected plan row
      rowSchema: org.apache.spark.sql.types.StructType,
      // uniform vector dim (−1 when vecs are not collected): the Catalyst
      // kernels NULL-score length mismatches and the plan sorts those
      // last — rather than replicate null-sort, the local tier only
      // serves uniform tables (build refuses mixed dims) and routes a
      // wrong-dim QUERY to the distributed plan per request
      vecDim: Int)

  private def buildLocal(): Option[LocalIdx] = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType}
    if (maxLocalIndex <= 0) return None
    val idLt = LocalVector.idOrdering(
      cached.schema(cached.schema.fieldIndex(idCol)).dataType)
      .getOrElse(return None)
    val snap = served
    val frame = snap.map(_._1).getOrElse(cached)
    val needVec = snap.isEmpty || mode == "ivf" || rerank > 0
    val needCodes = snap.nonEmpty && mode != "ivf"
    if (needVec && frame.schema(vecCol).dataType != ArrayType(FloatType, containsNull = true)
        && frame.schema(vecCol).dataType != ArrayType(FloatType, containsNull = false))
      return None
    if (needCodes && frame.schema("__codes").dataType != BinaryType) return None
    val n = snap match { case None => nRows; case Some((f, _)) => f.count() }
    if (n > maxLocalIndex) return None
    // rows × width cell budget BEFORE collecting (ADVICE r18): one tiny
    // agg job at load/refresh time, never a wide collect that only then
    // turns out to be hundreds of MB
    val widthCols = (if (needVec) Seq(max(size(col(vecCol)))) else Nil) ++
      (if (needCodes) Seq(max(length(col("__codes")))) else Nil)
    val width = if (widthCols.isEmpty) 1L
      else frame.agg(widthCols.head, widthCols.tail: _*).head().toSeq
        .map { case null => 0L; case v: Int => v.toLong }.sum
    if (n * math.max(width, 1L) > maxLocalCells) return None
    val cols = keepCols.map(col) ++
      (if (needVec) Seq(col(vecCol)) else Nil) ++
      (if (needCodes) Seq(col("__codes")) else Nil) ++
      (if (snap.nonEmpty) Seq(col("cluster_id")) else Nil)
    val rows = frame.select(cols: _*).collect()
    val k = keepCols.length
    // a null vector/codes cell would need the plan's null-sort semantics —
    // serve such tables distributed rather than replicate that edge
    if (rows.exists(r => r.isNullAt(keepCols.indexOf(idCol)) ||
        (needVec && r.isNullAt(k)) ||
        (needCodes && r.isNullAt(k + (if (needVec) 1 else 0)))))
      return None
    val vecAt = if (needVec) k else -1
    val codesAt = if (needCodes) k + (if (needVec) 1 else 0) else -1
    val clusterAt = if (snap.nonEmpty) k + (if (needVec) 1 else 0) +
      (if (needCodes) 1 else 0) else -1
    // mixed-length vectors or codes would need the kernels' null-score
    // semantics — serve such tables distributed
    val vecDim =
      if (!needVec || rows.isEmpty) -1 else rows.head.getSeq[Float](vecAt).size
    if (needVec && rows.exists(_.getSeq[Float](vecAt).size != vecDim))
      return None
    // a null ELEMENT inside a vector would unbox to 0.0f in the snapshot
    // arrays while the Catalyst kernels null-score the whole row and the
    // plan sorts it last (ADVICE r18) — same refusal as mixed dims: check
    // the BOXED seq, where the null is still visible
    if (needVec && rows.exists(_.getSeq[Any](vecAt).contains(null)))
      return None
    if (needCodes && rows.nonEmpty) {
      val cl = rows.head.getAs[Array[Byte]](codesAt).length
      if (rows.exists(_.getAs[Array[Byte]](codesAt).length != cl)) return None
    }
    Some(LocalIdx(
      outs = rows.map(r => Array.tabulate[Any](k)(r.get)),
      ids = rows.map(_.get(keepCols.indexOf(idCol))),
      vecs = if (needVec) rows.map(r =>
        UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](vecAt).toArray): ArrayData)
        else null,
      codes = if (needCodes) rows.map(_.getAs[Array[Byte]](codesAt)) else null,
      clusters = if (clusterAt >= 0) rows.map(_.getInt(clusterAt)) else null,
      idLt = idLt,
      rowSchema = org.apache.spark.sql.types.StructType(
        frame.select(keepCols.map(col): _*).schema.fields :+
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType, nullable = true)),
      vecDim = vecDim))
  }

  @volatile private var local: Option[LocalIdx] = buildLocal()

  /** Whether requests are served from the driver-resident tier (spec
    * hook — results are identical either way, by contract).
    */
  private[graft] def localTierActive: Boolean = local.nonEmpty

  /** Serve one query from the in-process snapshot — the searchFrame plan
    * replayed with [[LocalVector]]'s scorers (the expressions' kernels)
    * and the identical (score, id) ranking.
    */
  private def localSearch(li: LocalIdx, q: Array[Float]): Seq[Row] = {
    val qd: IndexedSeq[Double] = q.map(_.toDouble).toIndexedSeq
    val qda = LocalVector.arrayData(qd)
    val qn = math.sqrt(Kernels.sumSq(qda, false))
    // (score, id) order over candidate positions
    def rank(cand: Array[Int], scores: Array[Double], n: Int): Array[Int] =
      LocalVector.rank(scores, vecMetric.descending,
        (a, b) => li.idLt(li.ids(cand(a)), li.ids(cand(b))), n)
    def emit(cand: Array[Int], scores: Array[Double], n: Int): Seq[Row] =
      rank(cand, scores, n).toIndexedSeq.map { j =>
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          li.outs(cand(j)) :+ (scores(j): Any), li.rowSchema): Row
      }
    def exactOver(cand: Array[Int], n: Int): Seq[Row] =
      emit(cand, cand.map(i =>
        LocalVector.exactScore(li.vecs(i), qda, vecMetric, qn)), n)
    served match {
      case None =>
        exactOver(Array.range(0, li.ids.length), topK)
      case Some((_, model)) =>
        val probed = IvfIndex.rankCentroids(model, qd, vecMetric, nprobe).toSet
        val cand = Array.range(0, li.ids.length)
          .filter(i => probed.contains(li.clusters(i)))
        mode match {
          case "ivf" => exactOver(cand, topK)
          case _ =>
            val scorer =
              if (mode == "ivf_sq8") LocalVector.sq8Scorer(sq8Model.get, qd, vecMetric)
              else LocalVector.pqScorer(pqModel.get, qd, vecMetric)
            val coarse = cand.map(i => scorer(li.codes(i)))
            if (rerank > 0) {
              // phase 1: quantized top-`rerank` ids; phase 2: exact
              // re-score of exactly those candidate rows — the same
              // two-phase shape as the distributed plan
              val keep = rank(cand, coarse, rerank).map(j => cand(j))
              val idSet = keep.map(li.ids(_)).toSet
              exactOver(cand.filter(i => idSet.contains(li.ids(i))), topK)
            } else emit(cand, coarse, topK)
        }
    }
  }

  /** Top-k rows of (idCol, outputFields…, score) for a raw query vector. */
  def searchVector(q: Array[Float]): Seq[Row] = local match {
    // a wrong-dim query hits the kernels' null-score semantics — serve it
    // through the plan, which owns that edge
    case Some(li) if li.vecDim < 0 || li.vecDim == q.length =>
      localSearch(li, q)
    case _ => searchFrame(q).collect().toIndexedSeq
  }

  /** bytes → descriptor → top-k rows of (idCol, outputFields…, score).
    * Returns None for undecodable input (reference answers 500 on bad
    * images, searcher.js:232-236).
    */
  def search(imageBytes: Array[Byte]): Option[Seq[Row]] =
    Option(describe(imageBytes)).map(searchVector)

  /** Solr-mimic envelope (searcher.js:223-231): docs carry id, the
    * configured output fields and the score.
    */
  def toJson(docs: Seq[Row]): String = {
    val names = (idCol +: outputFields) :+ "score"
    val ds = docs.map { r =>
      names.zipWithIndex.map { case (n, i) => s""""$n":${jsonValue(r.get(i))}""" }
        .mkString("{", ",", "}")
    }.mkString(",")
    s"""{"RawDocsCount":"${docs.size}","RawDocsSearchTime":"0","ReRankSearchTime":"0","response":{"docs":[$ds]}}"""
  }

  private def jsonValue(v: Any): String = HttpServing.jsonValue(v)

  // the shared continuously-refilled token bucket (HttpServing)
  private val bucket = new HttpServing.TokenBucket(maxReqPerSec)

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(port: Int): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // JDK HttpServer's default (null) executor dispatches ALL requests on
    // one thread — concurrent clients would serialize behind each other's
    // Spark probe and measured throughput would never exceed 1/latency.
    // A fixed pool lets concurrent probes run as concurrent Spark jobs; 16
    // is comfortably past the reference's 100 req/s/IP admission cap.
    pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    server.setExecutor(pool)
    HttpServing.guardedPost(server, "/search", maxBodyBytes, bucket, bytes =>
      search(bytes) match {
        case Some(docs) => (200, toJson(docs))
        case None       => (500, """{"error":"undecodable image"}""")
      })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
    cached.unpersist()
    if (indexDir.isEmpty) ivf.foreach(_._1.unpersist())
  }
}

/** The nightly BUILD half of the [[SearchService]] `modelDir` handoff. */
object SearchService {

  /** Largest m ≤ 16 dividing dim — THE single m-selection rule, shared by
    * the in-constructor fit and [[buildArtifacts]] so the nightly-build
    * and serve-day paths can never silently diverge on model shape.
    */
  private[serving] def pqMFor(dim: Int): Int =
    (16 to 1 by -1).find(dim % _ == 0).get

  /** Fit the IVF centroids (+ the codec model `mode` needs) on `table` and
    * persist them as [[graft.sources.ModelStore]] artifacts under `dir`
    * (`dir/ivf`, `dir/sq8`, `dir/pq`). A serving JVM then constructs
    * `new SearchService(..., mode, modelDir = Some(dir))` and boots with
    * one assignment scan instead of an ML fit — same models, bit-for-bit
    * (ModelStoreSpec pins the round-trip; SearchServiceSpec pins serving
    * parity between the fit and loaded paths).
    */
  def buildArtifacts(table: DataFrame, vecCol: String, mode: String,
      nlist: Int, dir: String): Unit = {
    val spark = table.sparkSession
    val n = table.count()
    val (_, ivf) = IvfIndex.build(table, vecCol, math.min(nlist.toLong, n).toInt)
    graft.sources.ModelStore.saveIvf(spark, ivf, s"$dir/ivf")
    if (mode == "ivf_sq8")
      graft.sources.ModelStore.saveSq8(spark, Sq8.fit(table, vecCol), s"$dir/sq8")
    if (mode == "ivf_pq") {
      val dim = table.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col(vecCol))).head().getInt(0)
      val m = pqMFor(dim)
      graft.sources.ModelStore.savePq(spark,
        Pq.fit(table, vecCol, m = m, ksub = math.min(256L, n).toInt), s"$dir/pq")
    }
  }
}

