package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import graft.api.CorpusRecipe
import graft.multimodal.{AviMjpeg, BitSampling, ImageOps}
import graft.operators.{Bm25, TemporalDedup}
import graft.serving.{HybridSearchService, SearchService}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The process under test. `gen` writes a workload's seeded inputs;
  * `run` sets the workload up, runs its timed window and reports raw
  * readings on stdout as `@@ {json}` lines (everything else the JVM prints
  * is log). Serving workloads take their window from the load generator:
  * it writes `begin`, `end` and `quit` on stdin.
  */
object Main {

  /** Set-up repetitions; set-up time is their median. */
  val SetupReps = 3
  /** Index parameters of the reference searcher (IVF_SQ8, nlist 128, nprobe 10). */
  val Nlist = 128
  val Nprobe = 10
  val TopK = 15
  /** serve_lake's local-tier row budget: below its collection, so every
    * request runs the distributed plan. */
  val LakeRowBudget = 20000
  /** Seconds per ingest and per recipe pass on a 4-core host: they fix the
    * pass count, and so the work, of a window of a given length. */
  val IngestPassS = 1.7
  val CuratePassS = 2.5

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: workload :: seed :: dir :: Nil =>
      Gen.main(workload, seed.toLong, Paths.get(dir))
    case "run" :: workload :: inputs :: work :: seconds :: trace :: Nil =>
      Trace.on = trace == "1"
      new Run(workload, Paths.get(inputs), Paths.get(work), seconds.toDouble).go()
    case _ =>
      System.err.println("usage: gen <workload> <seed> <dir> | run <workload> <inputs> <work> <seconds> <trace>")
      sys.exit(2)
  }

  def emit(fields: (String, Any)*): Unit = {
    System.out.println("@@ " + Json.obj(fields))
    System.out.flush()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A SearchService whose calls the traced run times. The span on `search`
  * covers descriptor extraction plus the nested `searchVector` span, so
  * its self time is the query-side descriptor.
  */
class TracedSearch(table: DataFrame, modelDir: String, maxLocal: Int,
    indexDir: Option[String], queryIndex: Array[Byte] => Int)
  extends SearchService(table, "vec", "id", topK = Main.TopK, maxReqPerSec = Int.MaxValue,
    mode = "ivf_sq8", nlist = Main.Nlist, nprobe = Main.Nprobe, indexDir = indexDir,
    modelDir = Some(modelDir), maxLocalIndex = maxLocal) {
  val served = new java.util.concurrent.atomic.LongAdder
  val servedLocal = new java.util.concurrent.atomic.LongAdder

  override def search(imageBytes: Array[Byte]): Option[Seq[Row]] = {
    served.increment()
    if (localTierActive) servedLocal.increment()
    Trace.span("serving.search", if (Trace.on) queryIndex(imageBytes) else -1)(super.search(imageBytes))
  }
  override def searchVector(q: Array[Float]): Seq[Row] =
    Trace.span("serving.search_vector")(super.searchVector(q))
  override def refresh(): Unit = Trace.span("serving.refresh")(super.refresh())
  // materialized inside its span, so the row mapping is timed apart from
  // the append that writes it
  override def indexStream(rows: DataFrame): DataFrame =
    if (!Trace.on) super.indexStream(rows)
    else Trace.span("operators.index_rows")(super.indexStream(rows).localCheckpoint(true))
}

class TracedHybrid(corpus: DataFrame, bm25Dir: String, queryIndex: String => Int)
  extends HybridSearchService(corpus, "doc_id", "text", bm25Dir, k = 10, fetchK = 20,
    maxReqPerSec = Int.MaxValue) {
  override def search(query: String): Seq[(Long, Any, Any)] =
    Trace.span("serving.hybrid_search", if (Trace.on) queryIndex(query) else -1)(super.search(query))
}

final class Run(workload: String, inputs: Path, work: Path, windowS: Double) {
  import Main._

  private val manifest = new String(Files.readAllBytes(inputs.resolve("manifest.json")), StandardCharsets.UTF_8)
  private val sparkCounters = new SparkCounters
  private val queryCounters = new QueryCounters
  private val streamCounters = new StreamCounters
  private val readings = ArrayBuffer.empty[(String, Any)]

  private lazy val spark: SparkSession = Trace.span("setup.session") {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val s = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (Trace.on) {
      s.sparkContext.addSparkListener(sparkCounters)
      s.listenerManager.register(queryCounters)
      s.streams.addListener(streamCounters)
    }
    s
  }

  // window bookkeeping
  private var cpu0, gc0, steal0, ticks0, wall0 = 0L

  private def openWindow(): Unit = {
    if (Trace.on) {
      // listener events of set-up must land before the counters reset
      org.apache.spark.ListenerDrain(spark.sparkContext)
      sparkCounters.reset(); queryCounters.reset(); streamCounters.reset()
    }
    val (st, all) = Host.cpuTicks
    cpu0 = Host.cpuNs; gc0 = Host.gcMs; steal0 = st; ticks0 = all; wall0 = System.nanoTime()
  }

  /** Share of the host's CPU time stolen by the hypervisor since the
    * window opened: it tells a noisy run apart. */
  private def stealShare: Double = {
    val (st, all) = Host.cpuTicks
    (st - steal0).toDouble / math.max(1L, all - ticks0)
  }

  private def closeWindow(ops: Long): Unit = {
    val wall = (System.nanoTime() - wall0) / 1e9
    readings ++= Seq(
      "window_s" -> wall,
      "cpu_s" -> (Host.cpuNs - cpu0) / 1e9,
      "jvm_gc_ms" -> (Host.gcMs - gc0).toDouble,
      "steal_ticks" -> (Host.cpuTicks._1 - steal0).toDouble,
      "steal_share" -> stealShare)
    if (Trace.on) {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val c = sparkCounters
      val q = queryCounters
      readings ++= Seq(
        "spark.jobs" -> c.jobs.sum.toDouble,
        "spark.maintenance_jobs" -> c.maintenanceJobs.sum.toDouble,
        "spark.jobs_per_request" -> c.jobs.sum.toDouble / math.max(1L, ops),
        "spark.tasks" -> c.tasks.sum.toDouble,
        "spark.plan_ms" -> q.planMs.sum.toDouble,
        "spark.executor_run_ms" -> c.runMs.sum.toDouble,
        "spark.executor_cpu_ms" -> c.cpuNs.sum / 1e6,
        "spark.gc_ms" -> c.gcMs.sum.toDouble,
        "spark.shuffle_read_bytes" -> c.shuffleRead.sum.toDouble,
        "spark.shuffle_write_bytes" -> c.shuffleWrite.sum.toDouble,
        "spark.spill_bytes" -> c.spill.sum.toDouble,
        "spark.task_skew" -> c.taskSkew,
        "spark.scan_rows_per_request" ->
          q.collectScanRows.sum.toDouble / math.max(1L, q.collects.sum),
        "streaming.batches" -> streamCounters.batches.sum.toDouble,
        "streaming.batch_ms" -> streamCounters.medianBatchMs,
        "streaming.rows_per_s" -> streamCounters.medianRowsPerS)
    }
  }

  /** Set-up: the session, then `once` (artifacts every repetition
    * shares), then the workload's load step SetupReps times. Set-up time
    * is the session start plus `once` plus the median load; everything
    * before the first timed operation is in it. Returns the last load.
    */
  private def setup[A, T](once: => A)(load: (A, Int) => T)(release: T => Unit): T = {
    spark
    val sessionS = Host.uptimeMs / 1e3
    val (shared, onceS) = seconds(Trace.span("setup.once")(once))
    var last: Option[T] = None
    val loads = (0 until SetupReps).map { i =>
      last.foreach(release)
      val (r, s) = seconds(Trace.span("setup.load")(load(shared, i)))
      last = Some(r)
      s
    }
    readings ++= Seq("setup_s" -> (sessionS + onceS + median(loads)), "session_s" -> sessionS,
      "once_s" -> onceS, "load_s" -> loads)
    last.get
  }

  private def finish(extra: (String, Any)*): Unit = {
    readings += "rss_peak_mb" -> Host.rssPeakMb
    readings += "jdk" -> System.getProperty("java.version")
    if (Trace.on) {
      readings += "trace_wall_s" -> Host.uptimeMs / 1e3
      readings += "trace_origin_ns" -> (System.nanoTime() - Host.uptimeMs * 1000000L)
      Trace.dump(work.resolve("spans.jsonl"))
    }
    emit((readings.toSeq ++ extra :+ ("event" -> "result")): _*)
  }

  def go(): Unit = {
    Files.createDirectories(work)
    try workload match {
      case "serve_local" => serve(lake = false)
      case "serve_lake" => serve(lake = true)
      case "ingest_video" => ingest()
      case "curate_corpus" => curate()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      spark.stop()
    }
  }

  // ---- serving -----------------------------------------------------------

  private def readVectors(path: Path, dim: Int): Array[Array[Float]] = {
    val bb = java.nio.ByteBuffer.wrap(Files.readAllBytes(path)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val fb = bb.asFloatBuffer()
    Array.fill(fb.remaining() / dim) { val v = new Array[Float](dim); fb.get(v); v }
  }

  /** Rows `first`, `first + 1`, … of (id, vec). */
  private def vectorFrame(vecs: Seq[Array[Float]], parts: Int, first: Long = 0L): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.zipWithIndex.map { case (v, i) => Row(first + i, v.toSeq) }, parts), schema)
  }

  private def readTsv(path: Path, idCol: String): DataFrame = {
    import spark.implicits._
    val lines = new String(Files.readAllBytes(path), StandardCharsets.UTF_8).split("\n").toSeq
    lines.map { l => val t = l.indexOf('\t'); (l.substring(0, t).toLong, l.substring(t + 1)) }
      .toDF(idCol, "text")
  }

  private def serve(lake: Boolean): Unit = {
    val dim = Gen.Dim
    val vectors = readVectors(inputs.resolve("vectors.f32"), dim)
    val queryFiles = Files.list(inputs.resolve("queries")).iterator()
    val queries = { import scala.jdk.CollectionConverters._; queryFiles.asScala.toSeq.sortBy(_.toString) }
      .map(Files.readAllBytes)
    val queryIdx: Map[Seq[Byte], Int] = queries.map(_.toSeq).zipWithIndex.toMap
    val texts =
      if (lake) Seq.empty[String]
      else new String(Files.readAllBytes(inputs.resolve("hybrid_queries.txt")), StandardCharsets.UTF_8)
        .split("\n").toSeq
    val textIdx = texts.zipWithIndex.toMap
    val cpus = spark.sparkContext.defaultParallelism

    val (svc, hybrid) = setup {
      // the nightly artifacts serving boots from: the generator's IVF
      // centroids, the SQ8 codec fitted on the collection, the BM25 store
      val models = work.resolve("models").toAbsolutePath.toString
      val centroids = readVectors(inputs.resolve("centroids.f32"), dim).map(_.map(_.toDouble))
      graft.sources.ModelStore.saveIvf(spark, graft.operators.IvfIndex.Model(centroids), s"$models/ivf")
      graft.sources.ModelStore.saveSq8(spark,
        graft.operators.Sq8.fit(vectorFrame(vectors, cpus), "vec"), s"$models/sq8")
      val corpus = if (lake) None else {
        val c = readTsv(inputs.resolve("hybrid_corpus.tsv"), "doc_id").cache()
        c.count()
        val dir = work.resolve("bm25").toAbsolutePath.toString
        Bm25.save(Bm25.fit(c, "doc_id", "text"), dir)
        Some((c, dir))
      }
      (models, corpus)
    }({ case ((models, corpus), i) =>
      val s = new TracedSearch(vectorFrame(vectors, cpus), models,
        if (lake) LakeRowBudget else 200000,
        if (lake) Some(work.resolve(s"index$i").toAbsolutePath.toString) else None,
        b => queryIdx.getOrElse(b.toSeq, -1))
      (s, corpus.map { case (c, dir) => new TracedHybrid(c, dir, q => textIdx.getOrElse(q, -1)) })
    })({ case (s, h) => s.stop(); h.foreach(_.stop()) })

    val searchPort = svc.start(0)
    val hybridPort = hybrid.map(_.start(0)).getOrElse(0)
    emit("event" -> "ready", "search_port" -> searchPort, "hybrid_port" -> hybridPort,
      "local_tier" -> svc.localTierActive, "hybrid_local_tier" -> hybrid.exists(_.isLocalTier))

    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    def await(cmd: String): Unit = {
      val line = in.readLine()
      require(line == cmd, s"expected '$cmd' from the load generator, got '$line'")
    }
    Trace.span("warmup")(await("begin"))
    val served0 = svc.served.sum; val local0 = svc.servedLocal.sum
    openWindow()
    emit("event" -> "begun")
    val maintenance = if (lake) Some(new Maintenance(svc, vectors.length)) else None
    maintenance.foreach(_.start())
    Trace.span("window") {
      await("end")
      maintenance.foreach(_.halt())
    }
    val requests = svc.served.sum - served0
    closeWindow(requests)

    // checks' reference data, computed outside the window
    val (truth, direct) = Trace.span("checks") {
      (queries.map(q => bruteForceTop(ImageOps.intensityDescriptor(q, 8), vectors, TopK)),
        texts.map(t => hybrid.get.search(t).map { case (r, id, s) => Seq(r, id, s) }))
    }
    val servedRatio = (svc.servedLocal.sum - local0).toDouble / math.max(1L, requests)
    val append = maintenance.map(_.report).getOrElse(Nil)
    emit("event" -> "checks_ready")
    Trace.span("teardown") {
      await("quit")
      svc.stop(); hybrid.foreach(_.stop())
    }
    finish(Seq[(String, Any)](
      "requests_in_window" -> requests,
      "serving.local_tier_ratio" -> servedRatio,
      "collection_rows" -> vectors.length,
      "truth_top" -> truth,
      "hybrid_direct" -> direct) ++ append: _*)
  }

  /** The benchmark's own exact top-k: inner product against every row,
    * ties broken by the lower id (the service's ORDER BY score DESC, id).
    */
  private def bruteForceTop(q: Array[Float], rows: Array[Array[Float]], k: Int): Seq[Long] = {
    val scores = rows.map { r => var s = 0.0; var i = 0; while (i < r.length) { s += r(i).toDouble * q(i); i += 1 }; s }
    scores.indices.sortBy(i => (-scores(i), i)).take(k).map(_.toLong)
  }

  /** serve_lake's writer: `appendAndRefresh` of one seeded batch after
    * another, beside the reads, so every request meets a write in flight.
    * Each batch is visible once a search for its first vector returns that
    * vector's id.
    */
  private final class Maintenance(svc: TracedSearch, baseRows: Int) extends Thread("perfbench-maintenance") {
    private val batches = readVectors(inputs.resolve("appends.f32"), Gen.Dim)
    private val perBatch = """"append_rows":(\d+)""".r.findFirstMatchIn(manifest).get.group(1).toInt
    @volatile private var halted = false
    private val visible = ArrayBuffer.empty[Double]
    private var failures = 0
    private var error: Option[String] = None
    setDaemon(true)

    override def run(): Unit = try {
      spark.sparkContext.setJobGroup(sparkCounters.MaintenanceGroup, "append", interruptOnCancel = false)
      var b = 0
      while (!halted && (b + 1) * perBatch <= batches.length) {
        val first = baseRows.toLong + b * perBatch
        val rows = batches.slice(b * perBatch, (b + 1) * perBatch).toSeq
        val ts = System.nanoTime()
        Trace.span("maintenance.append") {
          svc.appendAndRefresh(vectorFrame(rows, 1, first))
          var seen = svc.searchVector(rows.head).exists(_.getLong(0) == first)
          while (!seen && System.nanoTime() - ts < 10e9.toLong) {
            Thread.sleep(20)
            seen = svc.searchVector(rows.head).exists(_.getLong(0) == first)
          }
          // a batch still in flight when the window closes ran without
          // the read load, so it is not a sample
          if (!seen) failures += 1
          else if (!halted) visible += (System.nanoTime() - ts) / 1e9
        }
        b += 1
      }
    } catch { case e: Exception => error = Some(s"${e.getClass.getName}: ${e.getMessage}") }

    def halt(): Unit = { halted = true; join() }

    def report: Seq[(String, Any)] = {
      error.foreach(e => throw new IllegalStateException(s"append thread failed: $e"))
      Seq("append_visible_s" -> visible.toSeq, "append_failures" -> failures,
        "append_rows" -> perBatch)
    }
  }

  // ---- ingest ------------------------------------------------------------

  private def ingestPass(videos: Path, tag: String): Double = {
    val lake = work.resolve(s"frames_$tag").toAbsolutePath.toString
    val ckpt = work.resolve(s"ckpt_$tag").toAbsolutePath.toString
    val (_, s) = seconds(Trace.span("streaming.pass") {
      val q = IngestPipeline.start(spark, videos.toAbsolutePath.toString, lake, ckpt, "in",
        extractor = IngestPipeline.defaultExtractor, availableNow = true)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    })
    s
  }

  private def framesIn(tag: String): Long =
    spark.read.parquet(work.resolve(s"frames_$tag").toAbsolutePath.toString).count()

  private def ingest(): Unit = {
    val videos = inputs.resolve("videos")
    val primer = work.resolve("primer")
    setup(())((_, i) => {
      // one clip through the whole pipeline: the stream's first-use cost
      val one = Files.list(videos).sorted().findFirst().get
      val dst = primer.resolve(one.getFileName)
      if (!Files.exists(dst)) {
        Files.createDirectories(dst)
        Files.list(one).forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
      }
      ingestPass(primer, s"primer$i")
    })(_ => ())

    val passes = math.max(2, math.round(windowS / IngestPassS).toInt)
    val tags = (0 until passes).map(p => s"p$p")
    openWindow()
    val times = tags.map(t => ingestPass(videos, t))
    closeWindow(passes)
    val kept = Trace.span("checks")(tags.map(framesIn))
    val breakdown = if (Trace.on) ingestBreakdown(videos) else Nil
    finish(Seq[(String, Any)]("pass_s" -> times, "frames_kept" -> kept) ++ breakdown: _*)
  }

  /** Per-stage times of the ingest path, each stage on a cached input. */
  private def ingestBreakdown(videos: Path): Seq[(String, Any)] = {
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val media = cached(spark.read.format("binaryFile").option("pathGlobFilter", "*.mp4")
      .option("recursiveFileLookup", "true").load(videos.toAbsolutePath.toString)
      .select(element_at(split(col("path"), "/"), -2).as("imdb_id"),
        element_at(split(col("path"), "/"), -1).as("file_name"), col("content")))
    val (raw, extractS) = seconds(Trace.span("streaming.extract")(
      cached(IngestPipeline.extractFrames(media, IngestPipeline.defaultExtractor))))
    val (vec, vectorizeS) = seconds(Trace.span("streaming.vectorize")(
      cached(IngestPipeline.vectorize(raw, "in"))))
    val (deduped, dedupS) = seconds(Trace.span("operators.temporal_dedup")(cached(
      TemporalDedup.dedup(vec, Seq("imdb_id", "file_name"), "time", "hi", 2.0, 24))))
    val (_, writeS) = seconds(Trace.span("sources.frames_write")(
      deduped.write.mode("append").partitionBy("algo")
        .parquet(work.resolve("frames_breakdown").toAbsolutePath.toString)))
    val keptRatio = deduped.count().toDouble / vec.count()
    // the per-frame multimodal work, in one thread of this process: container parse
    // share + descriptor + bit-sampling codes
    var frames = 0
    val (_, frameS) = seconds(Trace.span("multimodal.frames") {
      Files.walk(videos).filter(_.toString.endsWith(".mp4")).forEach { f =>
        val v = AviMjpeg.parse(Files.readAllBytes(f)).get
        v.frames.foreach { jpg =>
          BitSampling.hexCodes(ImageOps.intensityDescriptor(jpg, 8)); frames += 1
        }
      }
    })
    Seq[DataFrame](media, raw, vec, deduped).foreach(_.unpersist())
    Seq("streaming.extract_ms" -> extractS * 1e3, "streaming.vectorize_ms" -> vectorizeS * 1e3,
      "operators.temporal_dedup_ms" -> dedupS * 1e3, "sources.frames_write_ms" -> writeS * 1e3,
      "operators.frames_kept_ratio" -> keptRatio, "multimodal.frame_ms" -> frameS * 1e3 / frames)
  }

  // ---- curation ----------------------------------------------------------

  private def recipe(docs: DataFrame): DataFrame =
    CorpusRecipe(docs).scrubPii().exactDedup().nearDedup().countTokens().frame

  private def curate(): Unit = {
    def load(): DataFrame = {
      val d = readTsv(inputs.resolve("corpus.tsv"), "doc_id")
        .repartition(spark.sparkContext.defaultParallelism).cache()
      d.count(); d
    }
    val docs = setup {
      // one warm-up pass: the recipe's first-use cost (code generation,
      // JIT) is set-up, not a timed pass
      val d = load()
      recipe(d).write.parquet(work.resolve("curated_warm").toAbsolutePath.toString)
      d.unpersist()
    }((_, _) => load())(_.unpersist())
    val nDocs = docs.count()
    val passes = math.max(2, math.round(windowS / CuratePassS).toInt)
    val dirs = (0 until passes).map(p => work.resolve(s"curated_$p").toAbsolutePath.toString)
    openWindow()
    val times = dirs.map(d => seconds(Trace.span("recipe.pass")(recipe(docs).write.parquet(d)))._2)
    closeWindow(passes)
    val outs = dirs.map(spark.read.parquet(_))
    val (hashes, out) = Trace.span("checks")((outs.map(orderFreeHash),
      outs.head.select(col("doc_id"), col("text")).collect()))
    val breakdown = if (Trace.on) curateBreakdown(docs, out.length) else Nil
    finish(Seq[(String, Any)]("pass_s" -> times, "docs" -> nDocs, "output_hashes" -> hashes,
      "kept_ids" -> out.map(_.getLong(0)).sorted.toSeq,
      "pii_left" -> piiLeft(out.map(_.getString(1)))) ++ breakdown: _*)
  }

  /** Planted PII strings still present in the output texts. */
  private def piiLeft(texts: Array[String]): Seq[String] = {
    val pii = """"pii":\[(.*?)\]""".r.findFirstMatchIn(manifest).get.group(1)
      .split(",").filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    val all = texts.mkString("\n")
    pii.filter(all.contains)
  }

  /** Order-independent hash of every output row. */
  private def orderFreeHash(df: DataFrame): String = {
    val h = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h")).agg(
      sum(col("h").cast(DecimalType(38, 0))).as("s"), count(lit(1)).as("n")).head()
    s"${h.get(0)}:${h.getLong(1)}"
  }

  /** Each recipe stage on a cached input. */
  private def curateBreakdown(docs: DataFrame, kept: Long): Seq[(String, Any)] = {
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val r = CorpusRecipe(docs)
    val (scrubbed, scrubS) = seconds(Trace.span("recipe.scrub")(cached(r.scrubPii().frame)))
    val (exact, exactS) = seconds(Trace.span("recipe.exact_dedup")(
      cached(CorpusRecipe(scrubbed).exactDedup().frame)))
    val (near, nearS) = seconds(Trace.span("recipe.near_dedup")(
      cached(CorpusRecipe(exact).nearDedup().frame)))
    val (_, countS) = seconds(Trace.span("recipe.count_tokens")(
      cached(CorpusRecipe(near).countTokens().frame)))
    Seq(scrubbed, exact, near).foreach(_.unpersist())
    Seq("recipe.scrub_ms" -> scrubS * 1e3, "recipe.exact_dedup_ms" -> exactS * 1e3,
      "recipe.near_dedup_ms" -> nearS * 1e3, "recipe.count_tokens_ms" -> countS * 1e3,
      "recipe.docs_kept_ratio" -> kept.toDouble / docs.count())
  }
}
