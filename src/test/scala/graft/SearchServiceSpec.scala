package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.multimodal.ImageOps
import graft.serving.SearchService

class SearchServiceSpec extends SparkSpec {
  import spark.implicits._

  /** Render a small PNG whose left portion is gray level `a`, right `b`. */
  private def png(a: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 16) {
      val g = if (x < 8) a else b
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  test("end-to-end visual search: POST /search returns nearest images (§3.3)") {
    // index 3 images with distinct patterns
    val corpus = Seq(
      (1L, png(0, 255)),   // dark-left / bright-right
      (2L, png(255, 0)),   // inverse
      (3L, png(128, 128))) // flat gray
      .toDF("id", "content")
    val indexed = ImageOps.describeImages(corpus, "id", "content")
      .where($"ok").select($"id", $"descriptor")

    val svc = new SearchService(indexed, "descriptor", "id", grid = 8, topK = 2)
    val port = svc.start(0)
    try {
      val client = HttpClient.newHttpClient()
      // query: nearly identical to image 1 (tiny perturbation)
      val resp = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/search"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(png(5, 250))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains(""""RawDocsCount":"2""""))
      // top doc must be image 1
      val firstId = """"id":(\d+)""".r.findFirstMatchIn(resp.body()).get.group(1)
      assert(firstId == "1", s"body: ${resp.body()}")

      // garbage bytes → 500, service stays up
      val bad = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/search"))
          .POST(HttpRequest.BodyPublishers.ofByteArray("nope".getBytes)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 500)
      // GET → 405
      val get = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/search")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    } finally svc.stop()
  }

  test("envelope parity: docs carry hash_id, duration, primary_key + score (searcher.js:106)") {
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.functions._
    // frames-shaped fixture: the vectorized schema of IngestPipeline.vectorize
    val corpus = Seq(
      (1L, "tt0001", "ep1.mp4", 1.25, png(0, 255)),
      (2L, "tt0001", "ep1.mp4", 2.50, png(255, 0)),
      (3L, "tt0002", "ep2.mp4", 0.75, png(128, 128)))
      .toDF("id", "imdb_id", "file_name", "time", "content")
    val frames = ImageOps.describeImages(corpus, "id", "content")
      .join(corpus.drop("content"), "id")
      .where($"ok")
      .withColumn("duration", lit(3.0f))
      .withColumn("hash_id", hashId($"imdb_id", $"file_name", $"time"))
      .withColumn("primary_key", enginePrimaryKey($"hash_id"))
      .select($"id", $"descriptor", $"hash_id", $"duration", $"primary_key")

    val svc = new SearchService(frames, "descriptor", "id", grid = 8, topK = 2,
      outputFields = Seq("hash_id", "duration", "primary_key"))
    val port = svc.start(0)
    try {
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/search"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(png(5, 250))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val body = resp.body()
      // the top doc is image 1 with its full reference output_fields
      assert(body.contains(""""hash_id":"tt0001/ep1.mp4/1.25""""), body)
      assert(body.contains(""""duration":3.0"""), body)
      assert("""\"primary_key\":-?\d+""".r.findFirstIn(body).nonEmpty, body)
      assert("""\"score\":[-\d.E]+""".r.findFirstIn(body).nonEmpty, body)
    } finally svc.stop()
  }

  test("pluggable descriptor: EHD ingest + EHD query end-to-end, parity vs exactTopK (A13/A16)") {
    import graft.operators.AnnSearch
    // stripe textures that EHD separates (intensity means would not: all ~50% gray)
    def stripes(w: Int, h: Int)(f: (Int, Int) => Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val g = if (f(x, y)) 0 else 255
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val corpus = Seq(
      (1L, stripes(64, 64)((x, _) => (x / 3) % 2 == 0)),  // vertical stripes
      (2L, stripes(64, 64)((_, y) => (y / 3) % 2 == 0)),  // horizontal stripes
      (3L, stripes(64, 64)((_, _) => false)))             // flat
      .toDF("id", "content")
    val indexed = ImageOps.describeImagesWith(corpus, "id", "content", "eh")
      .where($"ok").select($"id", $"descriptor")

    val svc = new SearchService(indexed, "descriptor", "id", topK = 2, algo = "eh")
    val port = svc.start(0)
    try {
      // query: vertical stripes at a shifted phase → must hit image 1
      val query = stripes(64, 64)((x, _) => ((x + 1) / 3) % 2 == 0)
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/search"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(query)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val firstId = """"id":(\d+)""".r.findFirstMatchIn(resp.body()).get.group(1)
      assert(firstId == "1", s"body: ${resp.body()}")
      // parity: the service's ranking equals exactTopK over the same
      // EHD query vector — one algo keys ingest AND search
      val q = ImageOps.edgeHistogram(query).map(_.toDouble).toIndexedSeq
      val exact = AnnSearch.exactTopK(indexed, "descriptor", "id", q, 2)
        .collect().map(_.getLong(0)).toSeq
      val served = svc.search(query).get.map(_.getLong(0)).toSeq
      assert(served == exact, s"served=$served exact=$exact")
    } finally svc.stop()
  }

  test("every registry descriptor serves end-to-end: ingest algo = search algo, parity vs exactTopK") {
    import graft.operators.AnnSearch
    // fixtures differ in BOTH color and texture so every descriptor family
    // (color: in/cl/sc/oh/ac — texture: eh/ph) separates them
    def rgbImg(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, f(x, y))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    // stripe width 7: incommensurate with BOTH the intensity grid's 8-px
    // cells and EHD's 2-px blocks, so neither descriptor aliases the
    // texture away (width-3 stripes average to near-constant 8-px cells,
    // leaving the flat image MORE query-aligned than the striped one)
    val corpus = Seq(
      (1L, rgbImg(64, 64)((x, _) => if ((x / 7) % 2 == 0) 0xcc0000 else 0x110000)),
      (2L, rgbImg(64, 64)((_, y) => if ((y / 7) % 2 == 0) 0x0000cc else 0x000011)),
      (3L, rgbImg(64, 64)((_, _) => 0x00a000)))
      .toDF("id", "content")
    // query: image 1's pattern at a shifted stripe phase
    val query = rgbImg(64, 64)((x, _) => if (((x + 1) / 7) % 2 == 0) 0xcc0000 else 0x110000)
    // L2-normalize like the real pipeline (B8/C11) so inner product ranks by
    // angle, not magnitude (raw IP would favor whichever image is brightest)
    import org.apache.spark.sql.functions.expr
    def norm(q: IndexedSeq[Double]): IndexedSeq[Double] = {
      val n = math.max(math.sqrt(q.map(x => x * x).sum), 1e-9)
      q.map(_ / n)
    }
    ImageOps.descriptors.foreach { case (algo, fn) =>
      val indexed = ImageOps.describeImagesWith(corpus, "id", "content", algo)
        .where($"ok")
        .select($"id", expr(
          "transform(descriptor, x -> cast(x / greatest(sqrt(aggregate(descriptor, 0D, (a, v) -> a + double(v) * double(v))), 1e-9) AS FLOAT))")
          .as("descriptor"))
      val svc = new SearchService(indexed, "descriptor", "id", topK = 3, algo = algo)
      val served = svc.search(query).get.map(_.getLong(0)).toSeq
      val q = norm(fn(query).map(_.toDouble).toIndexedSeq)
      val exact = AnnSearch.exactTopK(indexed, "descriptor", "id", q, 3)
        .collect().map(_.getLong(0)).toSeq
      assert(served == exact, s"algo=$algo served=$served exact=$exact")
      assert(served.head == 1L, s"algo=$algo must rank the near-duplicate first: $served")
    }
  }

  // ---- quantized serving (searcher.js:99-110: EVERY reference query runs
  // IVF_SQ8 nprobe=10 top-15 — the serving path must be the pruned scan,
  // not an exact full scan).

  /** 4 well-separated clusters of dim-16 vectors, 60 members each. */
  private def clusteredVectors(seed: Long = 7L): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for (c <- 0 until 4; i <- 0 until 60) yield {
      val v = Array.tabulate(16) { d =>
        (if (d / 4 == c) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f)
      }
      (c * 60L + i, v)
    }
    rows.toDF("id", "vec")
  }

  test("ivf_sq8 serving: per-request scan is partition-pruned to nprobe clusters; recall vs exact") {
    val table = clusteredVectors()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfsq8").toString
    val exactSvc = new SearchService(table, "vec", "id", topK = 15)
    val svc = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf_sq8", nlist = 4, nprobe = 2, indexDir = Some(dir))
    try {
      // query: near cluster 2's center
      val rnd = new scala.util.Random(99L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 2) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))

      // 1. the request plan prunes at the parquet source: the cluster_id
      //    nprobe filter must be a PartitionFilter, not a post-scan Filter
      val plan = svc.searchFrame(q).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(pf.contains("cluster_id"), s"no partition pruning:\n${plan.take(1500)}")
      // 2. the index layout is one directory per cluster; nprobe=2 of 4 read
      val dirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("cluster_id="))
      assert(dirs == 4, s"expected 4 cluster partitions, got $dirs")

      // 3. recall vs the exact service on the same ingested table
      val exact = exactSvc.searchVector(q).map(_.getLong(0)).toSet
      val served = svc.searchVector(q).map(_.getLong(0)).toSet
      val recall = exact.intersect(served).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall@15 $recall (exact=$exact served=$served)")
      // with well-separated clusters every exact hit lives in the probed
      // cluster, so the byte-quantized path must find at least 12 of 15
    } finally { svc.stop(); exactSvc.stop() }
  }

  test("ivf serving (float scores): exact result parity when top-k lives in probed clusters") {
    val table = clusteredVectors()
    val exactSvc = new SearchService(table, "vec", "id", topK = 15)
    val svc = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf", nlist = 4, nprobe = 2)
    try {
      val rnd = new scala.util.Random(5L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 1) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      // identical float arithmetic inside the probed clusters → identical list
      val exact = exactSvc.searchVector(q).map(_.getLong(0)).toSeq
      val served = svc.searchVector(q).map(_.getLong(0)).toSeq
      assert(served == exact, s"served=$served exact=$exact")
    } finally { svc.stop(); exactSvc.stop() }
  }

  test("ivf_pq serving: ADC top-k recall >= 0.8 vs exact on clustered data") {
    val table = clusteredVectors()
    val exactSvc = new SearchService(table, "vec", "id", topK = 15)
    val svc = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf_pq", nlist = 4, nprobe = 2)
    try {
      val rnd = new scala.util.Random(11L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 3) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      val exact = exactSvc.searchVector(q).map(_.getLong(0)).toSet
      val served = svc.searchVector(q).map(_.getLong(0)).toSet
      val recall = exact.intersect(served).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall@15 $recall (exact=$exact served=$served)")
    } finally { svc.stop(); exactSvc.stop() }
  }

  test("ivf_pq + rerank: exact re-score returns the exact service's list verbatim") {
    val table = clusteredVectors()
    val exactSvc = new SearchService(table, "vec", "id", topK = 15)
    val svc = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf_pq", nlist = 4, nprobe = 2, rerank = 60)
    try {
      val rnd = new scala.util.Random(11L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 3) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      // rerank=60 covers the probed clusters' candidates, so the refined
      // list must be IDENTICAL (ids, order, scores) to the exact scan —
      // the codec's loss is fully recovered
      val exact = exactSvc.searchVector(q).map(r => (r.getLong(0), r.getDouble(1)))
      val served = svc.searchVector(q).map(r => (r.getLong(0), r.getDouble(1)))
      assert(served == exact, s"rerank must recover the exact list:\n$served\n$exact")
    } finally { svc.stop(); exactSvc.stop() }
  }

  test("growing segment: streamed inserts become searchable after refresh; both scans stay pruned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val table = clusteredVectors()
    val base = java.nio.file.Files.createTempDirectory("graft-seg-base").toString
    val delta = java.nio.file.Files.createTempDirectory("graft-seg-delta").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-seg-cp").toString
    val svc = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf_sq8", nlist = 4, nprobe = 2,
      indexDir = Some(base), deltaDir = Some(delta))
    try {
      val rnd = new scala.util.Random(99L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 2) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      val before = svc.searchVector(q).map(_.getLong(0)).toSet
      assert(before.forall(_ < 1000L))

      // stream 5 new cluster-2 members, stronger than anything in the base
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Array[Float])]
      input.addData((0 until 5).map(i =>
        (1000L + i, Array.tabulate(16)(d => if (d / 4 == 2) 12.0f else 0.0f))): _*)
      val sink = svc.indexStream(input.toDF().toDF("id", "vec"))
        .writeStream.format("parquet")
        .option("path", delta).option("checkpointLocation", cp)
        .partitionBy("cluster_id")
        .trigger(Trigger.AvailableNow()).start()
      sink.awaitTermination()

      // snapshot isolation: nothing changes until refresh
      assert(svc.searchVector(q).map(_.getLong(0)).toSet == before)
      svc.refresh()
      val after = svc.searchVector(q).map(_.getLong(0)).toSet
      assert((1000L until 1005L).toSet.subsetOf(after), s"after=$after")

      // the expression assignment routed the inserts into cluster dirs, and
      // the per-request plan partition-prunes base AND delta scans
      val plan = svc.searchFrame(q).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pfs = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
      assert(pfs.size == 2 && pfs.forall(_.contains("cluster_id")),
        s"expected two pruned scans:\n${pfs.mkString("\n")}")
      val deltaParts = new java.io.File(delta).listFiles()
        .count(_.getName.startsWith("cluster_id="))
      assert(deltaParts == 1, s"5 identical inserts must land in ONE cluster dir, got $deltaParts")
    } finally svc.stop()
  }

  test("append-serve: appendAndRefresh ≡ a fresh service over base ∪ delta, local tier AND distributed fallback (VERDICT r18 #1)") {
    // Same-model comparator (the buildArtifacts handoff): both services
    // boot from one ModelStore artifact set, so the appended service and a
    // fresh service constructed over the already-unioned table must serve
    // IDENTICAL (id, score) lists — any divergence means append re-encoded
    // or dropped something. Checked on BOTH tiers: the driver-resident
    // snapshot (rebuilt by refresh) and the distributed plan (budget 0).
    val table = clusteredVectors()
    val pid = ProcessHandle.current().pid()
    val mdir = graft.sources.TempDirs.register(s"/tmp/graft_app_models_$pid")
    SearchService.buildArtifacts(table, "vec", "ivf_sq8", nlist = 4, dir = mdir)
    val extra = (0 until 7).map(i =>
      (2000L + i, Array.tabulate(16)(d => if (d / 4 == (i % 4)) 11.5f else 0.1f)))
    val unionTbl = table.union(extra.toDF("id", "vec"))
    def mk(tbl: org.apache.spark.sql.DataFrame, tag: String, budget: Int) =
      new SearchService(tbl, "vec", "id", topK = 15,
        mode = "ivf_sq8", nlist = 4, nprobe = 4,
        indexDir = Some(graft.sources.TempDirs.register(
          s"/tmp/graft_app_${tag}_$pid")),
        modelDir = Some(mdir), maxLocalIndex = budget)
    val grown = mk(table, "grown_loc", 200000)
    val grownDist = mk(table, "grown_dist", 0)
    val fresh = mk(unionTbl, "fresh_loc", 200000)
    val freshDist = mk(unionTbl, "fresh_dist", 0)
    try {
      grown.appendAndRefresh(extra.toDF("id", "vec"))
      grownDist.appendAndRefresh(extra.toDF("id", "vec"))
      assert(grown.localTierActive,
        "refresh must REBUILD the driver-resident snapshot over the union")
      assert(!grownDist.localTierActive)
      val rnd = new scala.util.Random(13L)
      val queries = (0 until 4).map { c =>
        Array.tabulate(16)(d =>
          (if (d / 4 == c) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      }
      queries.zipWithIndex.foreach { case (q, qi) =>
        def rows(s: SearchService) =
          s.searchVector(q).map(r => (r.getLong(0), r.getDouble(r.length - 1)))
        val g = rows(grown); val f = rows(fresh)
        val gd = rows(grownDist); val fd = rows(freshDist)
        assert(g == f, s"q$qi local tier: grown=$g fresh=$f")
        assert(gd == fd, s"q$qi distributed: grown=$gd fresh=$fd")
        assert(g == gd, s"q$qi tiers diverge: local=$g dist=$gd")
        assert(g.exists(_._1 >= 2000L),
          s"q$qi: appended rows never served: $g")
      }
    } finally Seq(grown, grownDist, fresh, freshDist).foreach(_.stop())
  }

  test("requests keep answering DURING refresh: concurrent search ∥ appendAndRefresh, zero failures") {
    val table = clusteredVectors()
    val pid = ProcessHandle.current().pid()
    val svc = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf_sq8", nlist = 4, nprobe = 2,
      indexDir = Some(graft.sources.TempDirs.register(
        s"/tmp/graft_live_$pid")))
    try {
      val rnd = new scala.util.Random(5L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 1) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      val stopAt = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val answered = new java.util.concurrent.atomic.AtomicInteger(0)
      val searchers = (0 until 3).map(_ => new Thread(() => {
        while (!stopAt.get()) {
          try {
            val got = svc.searchVector(q)
            // every answer is complete: a full top-k from SOME snapshot
            if (got.size == 15) answered.incrementAndGet()
            else errors.add(new AssertionError(s"partial answer: ${got.size}"))
          } catch { case t: Throwable => errors.add(t) }
        }
      }))
      searchers.foreach(_.start())
      // 4 maintenance appends, each followed by the atomic swap
      (0 until 4).foreach { b =>
        svc.appendAndRefresh(
          (0 until 10).map(i => (5000L + b * 10 + i,
            Array.tabulate(16)(d => if (d / 4 == 1) 11.0f else 0.2f)))
            .toDF("id", "vec"))
      }
      stopAt.set(true)
      searchers.foreach(_.join(30000))
      assert(errors.isEmpty, s"requests failed during refresh: ${errors.peek()}")
      assert(answered.get() > 0, "no request completed during the window")
      // post-refresh: appended rows are served
      val after = svc.searchVector(q).map(_.getLong(0)).toSet
      assert(after.exists(_ >= 5000L), s"appended rows not served: $after")
    } finally svc.stop()
  }

  test("rerank + growing segment: streamed delta rows re-score exactly, never dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val table = clusteredVectors()
    val base = java.nio.file.Files.createTempDirectory("graft-rr-base").toString
    val delta = java.nio.file.Files.createTempDirectory("graft-rr-delta").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-rr-cp").toString
    val svc = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf_pq", nlist = 4, nprobe = 2, rerank = 60,
      indexDir = Some(base), deltaDir = Some(delta))
    try {
      val rnd = new scala.util.Random(99L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 2) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Array[Float])]
      val fresh = (0 until 5).map(i =>
        (1000L + i, Array.tabulate(16)(d => if (d / 4 == 2) 12.0f else 0.0f)))
      input.addData(fresh: _*)
      val sink = svc.indexStream(input.toDF().toDF("id", "vec"))
        .writeStream.format("parquet")
        .option("path", delta).option("checkpointLocation", cp)
        .partitionBy("cluster_id")
        .trigger(Trigger.AvailableNow()).start()
      sink.awaitTermination()
      svc.refresh()
      val served = svc.searchVector(q).map(r => (r.getLong(0), r.getDouble(1)))
      // the 5 streamed vectors dominate cluster 2 — the re-ranked top-k
      // must contain them with their EXACT float scores (phase 2 re-scored
      // them from the served layout's float column, not the base table)
      val exactScore = fresh.head._2.zip(q).map { case (a, b) => a.toDouble * b }.sum
      val servedFresh = served.filter(_._1 >= 1000L)
      assert(servedFresh.map(_._1).toSet == (1000L until 1005L).toSet,
        s"delta rows missing from re-ranked top-k: $served")
      assert(servedFresh.forall(s => math.abs(s._2 - exactScore) < 1e-9),
        s"delta rows must carry exact re-scored values: $servedFresh vs $exactScore")
    } finally svc.stop()
  }

  test("ivf_sq8 serving end-to-end over HTTP: image ingest -> quantized probe -> envelope") {
    val corpus = (1 to 24).map { i =>
      val shade = (i % 3) * 100 + 20
      (i.toLong, png(shade, 255 - shade))
    }.toDF("id", "content")
    val indexed = ImageOps.describeImages(corpus, "id", "content")
      .where($"ok").select($"id", $"descriptor")
    val svc = new SearchService(indexed, "descriptor", "id", grid = 8, topK = 3,
      mode = "ivf_sq8", nlist = 3, nprobe = 2)
    val port = svc.start(0)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(new java.net.URI(s"http://127.0.0.1:$port/search"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(png(22, 233))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains(""""RawDocsCount":"3""""), resp.body())
    } finally svc.stop()
  }

  test("protective surface: 10MB body cap -> 413, rate limit -> 429 (searcher.js:125-136)") {
    val corpus = Seq((1L, png(0, 255))).toDF("id", "content")
    val indexed = ImageOps.describeImages(corpus, "id", "content")
      .where($"ok").select($"id", $"descriptor")
    val svc = new SearchService(indexed, "descriptor", "id", grid = 8, topK = 1,
      maxBodyBytes = 64 * 1024, maxReqPerSec = 3)
    val port = svc.start(0)
    try {
      val client = HttpClient.newHttpClient()
      def post(body: Array[Byte]) = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/search"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post(new Array[Byte](128 * 1024)).statusCode() == 413)
      // burst past the 3 req/s budget: at least one 429, service stays up
      val codes = (1 to 8).map(_ => post(png(0, 255)).statusCode())
      assert(codes.contains(429), codes.toString)
      assert(codes.head == 200, codes.toString)
    } finally svc.stop()
  }

  test("metric=l2/cosine: exact serving matches AnnSearch; quantized recall holds") {
    import graft.operators.{AnnSearch, VectorMetric}
    val table = clusteredVectors()
    val rnd = new scala.util.Random(21L)
    val q = Array.tabulate(16)(d =>
      (if (d / 4 == 1) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
    val qd = q.map(_.toDouble).toIndexedSeq
    for (m <- Seq("l2", "cosine")) {
      val metric = VectorMetric(m)
      val exactSvc = new SearchService(table, "vec", "id", topK = 15, metric = m)
      val svc = new SearchService(table, "vec", "id", topK = 15,
        mode = "ivf_sq8", nlist = 4, nprobe = 2, metric = m)
      try {
        // exact mode = the AnnSearch exact scan under the same metric
        val gold = AnnSearch.exactTopK(table, "vec", "id", qd, 15, metric)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val served = exactSvc.searchVector(q).map(r => (r.getLong(0), r.getDouble(1)))
        assert(served == gold, s"[$m] exact serving diverged:\n$served\n$gold")
        // L2 serves ascending (nearest first), cosine descending
        val scores = served.map(_._2)
        assert(if (metric.descending) scores == scores.sorted.reverse
               else scores == scores.sorted, s"[$m] wrong score order: $scores")

        val quant = svc.searchVector(q).map(_.getLong(0)).toSet
        val recall = gold.map(_._1).toSet.intersect(quant).size / 15.0
        assert(recall >= 0.8, s"[$m] quantized recall $recall")
      } finally { svc.stop(); exactSvc.stop() }
    }
  }

  test("artifact boot + growing segment composed: boot nightly models, absorb a stream, serve the union (VERDICT r11 #4)") {
    // The real deployment day: load last night's ModelStore artifacts,
    // then absorb today's inserts as a growing segment — the two halves
    // are each spec-proven above; this drives them TOGETHER. Parity
    // comparator: a service booted from the SAME artifacts over the
    // already-unioned batch table — identical models + identical rows, so
    // the streamed path must reproduce its (id, score) list bit-for-bit
    // (assignment and SQ8 encode are deterministic expressions; any
    // divergence means the stream layout or refresh union dropped or
    // re-encoded something).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val table = clusteredVectors()
    val pid = ProcessHandle.current().pid()
    val mdir = graft.sources.TempDirs.register(s"/tmp/graft_boot_seg_models_$pid")
    val base = graft.sources.TempDirs.register(s"/tmp/graft_boot_seg_base_$pid")
    val delta = graft.sources.TempDirs.register(s"/tmp/graft_boot_seg_delta_$pid")
    val cp = graft.sources.TempDirs.register(s"/tmp/graft_boot_seg_cp_$pid")
    SearchService.buildArtifacts(table, "vec", "ivf_sq8", nlist = 4, dir = mdir)
    val booted = new SearchService(table, "vec", "id", topK = 15,
      mode = "ivf_sq8", nlist = 4, nprobe = 2,
      indexDir = Some(base), deltaDir = Some(delta), modelDir = Some(mdir))
    try {
      val rnd = new scala.util.Random(99L)
      val q = Array.tabulate(16)(d =>
        (if (d / 4 == 2) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
      val newRows = (0 until 5).map(i =>
        (1000L + i, Array.tabulate(16)(d => if (d / 4 == 2) 12.0f else 0.0f)))

      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Array[Float])]
      input.addData(newRows: _*)
      val sink = booted.indexStream(input.toDF().toDF("id", "vec"))
        .writeStream.format("parquet")
        .option("path", delta).option("checkpointLocation", cp)
        .partitionBy("cluster_id")
        .trigger(Trigger.AvailableNow()).start()
      sink.awaitTermination()
      booted.refresh()

      def served(svc: SearchService) =
        svc.searchVector(q).map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
      val got = served(booted)
      // the streamed inserts are 12.0 on the query's cluster block vs the
      // base's 10.0±0.5 — all five must lead the served list
      assert(got.take(5).map(_._1).toSet == (1000L until 1005L).toSet,
        s"streamed rows not leading: ${got.take(6)}")

      // batch comparator over the pre-unioned table, same artifacts
      val unionTbl = table.union(newRows.toDF("id", "vec"))
      val batchBase = graft.sources.TempDirs.register(s"/tmp/graft_boot_seg_b2_$pid")
      val batch = new SearchService(unionTbl, "vec", "id", topK = 15,
        mode = "ivf_sq8", nlist = 4, nprobe = 2,
        indexDir = Some(batchBase), modelDir = Some(mdir))
      try assert(got == served(batch),
        s"stream-absorbed serving diverged from batch union:\n$got\nvs\n${served(batch)}")
      finally batch.stop()

      // both halves of the union stay partition-pruned per request
      val plan = booted.searchFrame(q).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pfs = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
      assert(pfs.size == 2 && pfs.forall(_.contains("cluster_id")),
        s"expected two pruned scans:\n${pfs.mkString("\n")}")
    } finally booted.stop()
  }

  test("modelDir boot: artifact-loaded service serves identically to the fit path") {
    // the nightly-build / serve-day handoff: buildArtifacts fits+saves the
    // models; a service constructed with modelDir loads them and must
    // return the SAME results as one that fit in-constructor (same seed,
    // same data -> identical models, bit-for-bit through parquet)
    val emb = Tables.clusteredEmbeddings(spark, Sf0001)
      .select($"vec_id", $"embedding")
    val q = emb.orderBy($"vec_id").limit(1).head().getSeq[Float](1).toArray
    val dir = graft.sources.TempDirs.register(
      s"/tmp/graft_svc_models_${ProcessHandle.current().pid()}")
    for (mode <- Seq("ivf", "ivf_sq8", "ivf_pq")) {
      SearchService.buildArtifacts(emb, "embedding", mode, nlist = 8, dir = dir)
      val fit = new SearchService(emb, "embedding", "vec_id",
        mode = mode, nlist = 8, nprobe = 3)
      val loaded = new SearchService(emb, "embedding", "vec_id",
        mode = mode, nlist = 8, nprobe = 3, modelDir = Some(dir))
      def ids(svc: SearchService) =
        svc.searchVector(q).map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
      assert(ids(loaded) == ids(fit), s"mode=$mode diverged")
    }
  }

  test("exact mode rejects indexDir, deltaDir and modelDir at construction, before caching") {
    // exact mode serves the cached table: each setting would be dropped unread
    val dir = Some("/tmp/graft_exact_unused")
    Seq[(String, org.apache.spark.sql.DataFrame => SearchService)](
      "indexDir" -> (t => new SearchService(t, "vec", "id", mode = "exact", indexDir = dir)),
      "deltaDir" -> (t => new SearchService(t, "vec", "id", mode = "exact", deltaDir = dir)),
      "modelDir" -> (t => new SearchService(t, "vec", "id", mode = "exact", modelDir = dir))
    ).foreach { case (setting, build) =>
      val table = clusteredVectors()
      val e = intercept[IllegalArgumentException](build(table))
      assert(e.getMessage.contains(setting))
      assert(table.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    }
  }

  test("exact mode: refresh() throws instead of a silent no-op") {
    val svc = new SearchService(clusteredVectors(), "vec", "id", mode = "exact")
    try {
      val e = intercept[IllegalStateException](svc.refresh())
      assert(e.getMessage.contains("quantized mode"))
    } finally svc.stop()
  }
}
