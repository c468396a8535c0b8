package graft

import graft.operators.TextDedup
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog", "en"), // near dup
    (4L, "completely different words entirely unrelated text here now", "en"),
    (5L, "the quick brown fox jumps over the lazy dog", "de") // dup, other block
  ).toDF("doc_id", "text", "lang")

  test("bad MinHash arguments fail on the driver, before any job runs") {
    import graft.operators.{IncrementalDedup, VideoDedup}
    import graft.streaming.{StreamDoc, StreamingNearDedup, TimedDoc}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val frames = Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("video", "fp")
    val stream = MemoryStream[StreamDoc].toDS()
    val timed = MemoryStream[TimedDoc].toDS()
    val lake = java.nio.file.Files.createTempDirectory("bad-minhash").toString
    val bad: Seq[(String, () => Any)] = Seq(
      "minhashWide k = 0" -> (() => TextDedup.minhashWide(docs, "text", "doc_id", 0, 3)),
      "minhashWide shingleK = 0" -> (() => TextDedup.minhashWide(docs, "text", "doc_id", 8, 0)),
      "minhashWide shingleK = -1" -> (() => TextDedup.minhashWide(docs, "text", "doc_id", 8, -1)),
      "bandSignatures bands = 0" ->
        (() => IncrementalDedup.bandSignatures(docs, "text", "doc_id", 8, 3, 0)),
      "bandSignatures bands = 3" ->
        (() => IncrementalDedup.bandSignatures(docs, "text", "doc_id", 8, 3, 3)),
      "minhashBandPairs bands = 0" ->
        (() => TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, 0)),
      "minhashBandPairs bands = -2" ->
        (() => TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, -2)),
      "minhashBandPairs k = 0" -> (() => TextDedup.minhashBandPairs(docs, "text", "doc_id", 0, 3, 4)),
      "minhashBandPairs shingleK = 0" ->
        (() => TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 0, 4)),
      "nearPairs bands = 0" -> (() => VideoDedup.nearPairs(frames, "video", "fp", k = 8, bands = 0)),
      "nearPairs k = 0" -> (() => VideoDedup.nearPairs(frames, "video", "fp", k = 0, bands = 4)),
      "candidatePairs bands = 0" -> (() => StreamingNearDedup.candidatePairs(stream, 8, 3, 0)),
      "candidatePairs shingleK = 0" -> (() => StreamingNearDedup.candidatePairs(stream, 8, 0, 4)),
      "candidatePairsWindowed bands = 0" ->
        (() => StreamingNearDedup.candidatePairsWindowed(timed, 60, 8, 3, 0)),
      "candidatePairsWindowed shingleK = 0" ->
        (() => StreamingNearDedup.candidatePairsWindowed(timed, 60, 8, 0, 4)),
      "sigLakeSink bands = 0" ->
        (() => StreamingNearDedup.sigLakeSink(stream, s"$lake/l", s"$lake/c", 8, 3, 0)),
      "sigLakeSink shingleK = 0" ->
        (() => StreamingNearDedup.sigLakeSink(stream, s"$lake/l", s"$lake/c", 8, 0, 4)))
    bad.foreach { case (what, call) =>
      val (e, jobs) = org.apache.spark.JobCounter(spark.sparkContext) {
        intercept[IllegalArgumentException](call())
      }
      assert(jobs == 0, s"$what ran $jobs jobs before failing")
      assert(e.getMessage.matches(".*(k|shingleK|bands).*"), s"$what: ${e.getMessage}")
    }
  }

  test("jaccardPairs finds exact dup with jaccard 1.0, respects blocking") {
    val pairs = TextDedup.jaccardPairs(docs, "text", "doc_id", "lang", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    // doc 5 is an exact dup of 1 but in another block: must NOT pair
    assert(!pairs.exists(p => p._2 == 5L || p._1 == 5L))
  }

  test("contamination: shared shingles counted, disjoint docs clean, bench broadcasts") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // shares shingles with bench
      (11L, "totally disjoint vocabulary right here")) // clean
      .toDF("doc_id", "text")
    val bench = Seq((99L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = TextDedup.contamination(corpus, bench, "text", "doc_id", shingleK = 3)
    val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench has 3-shingles {alpha beta gamma, beta gamma delta}; doc 10
    // contains both, doc 11 none
    assert(rows == Map(10L -> 2L), rows.toString)
    // the benchmark side must be the broadcast build
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      out.queryExecution.executedPlan.toString.take(800))
    // a doc exactly equal to a bench doc matches all of its shingles
    val self = TextDedup.contamination(
        bench.select($"doc_id" + 1 as "doc_id", $"text"), bench,
        "text", "doc_id", shingleK = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(self == Map(100L -> 2L), self.toString)
  }

  test("contaminationBloom: never misses a contaminated doc; matches exact on the fixture") {
    val corpus = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 =!= 0)
    val bench = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 === 0)
    def flags(dfr: org.apache.spark.sql.DataFrame) =
      dfr.select($"doc_id").collect().map(_.getLong(0)).toSet
    val exact = flags(TextDedup.contamination(corpus, bench, "text", "doc_id", 5))
    val bloom = flags(TextDedup.contaminationBloom(corpus, bench, "text", "doc_id", 5))
    assert(exact.nonEmpty, "fixture must actually plant contamination")
    assert(exact.subsetOf(bloom), "bloom decontamination must have NO false negatives")
    // at fpp 1e-6 over ~5e4 corpus shingles the expected FP count is ~0.05
    // — and the bloom hash is deterministic, so this is a fixed outcome
    assert(bloom == exact, s"unexpected false positives: ${bloom -- exact}")
    // empty bench: flags nothing, schema intact
    val none = TextDedup.contaminationBloom(
      corpus, bench.limit(0), "text", "doc_id", 5)
    assert(none.columns.toSeq == Seq("doc_id", "n_shingles"))
    assert(none.count() == 0)
    // degraded sizing: a deliberately undersized filter still never
    // misses — fpp rises, the no-false-negative guarantee does not
    val tiny = flags(TextDedup.contaminationBloom(
      corpus, bench, "text", "doc_id", 5, expectedItems = 64, fpp = 0.1))
    assert(exact.subsetOf(tiny))
  }

  test("contaminatedCol: row-local gate flags exactly the batch contamination set; streams without state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val corpus = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 =!= 0)
    val bench = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 === 0)
    val bf = TextDedup.benchShingleBloom(bench, "text", "doc_id", 5)
    def ids(dfr: org.apache.spark.sql.DataFrame) =
      dfr.select($"doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(TextDedup.contamination(corpus, bench, "text", "doc_id", 5))
    assert(exact.nonEmpty)
    // 1. batch parity: the predicate flags exactly the aggregate probe's set
    val flagged = ids(corpus.where(TextDedup.contaminatedCol($"text", 5, bf)))
    assert(flagged == exact)
    // 2. edge rows are row-locally safe: short docs and null text gate false
    val edges = Seq((1L, "too short"), (2L, null: String))
      .toDF("doc_id", "text")
    assert(ids(edges.where(TextDedup.contaminatedCol($"text", 5, bf))).isEmpty)
    assert(edges.where(TextDedup.contaminatedCol($"text", 5, null)).count() == 0)
    // 3. the STREAMING gate: decontaminate an ingest stream as rows arrive —
    //    no state store, no aggregation; survivors equal the batch clean set
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    input.addData(corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
    val sinkName = "contaminated_col_gate_sink"
    val q = input.toDF().toDF("doc_id", "text")
      .where(!TextDedup.contaminatedCol($"text", 5, bf))
      .writeStream.format("memory").queryName(sinkName)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = ids(spark.table(sinkName))
    assert(streamed == ids(corpus) -- exact,
      s"stream gate diverged from batch: extra=${streamed -- (ids(corpus) -- exact)}")
  }

  test("jaccardPairsPrefix returns exactly the inverted-index result") {
    def norm(dfr: org.apache.spark.sql.DataFrame) =
      dfr.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = norm(TextDedup.jaccardPairs(docs, "text", "doc_id", "lang", 0.5))
    val pref = norm(TextDedup.jaccardPairsPrefix(docs, "text", "doc_id", "lang", 0.5))
    assert(base.nonEmpty)
    assert(pref == base)
  }

  test("minhash signatures of identical texts are identical; bands pair them") {
    val sig = TextDedup.minhashSignatures(docs, "text", "doc_id", 8, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val s1 = sig.filter(_._1 == 1L).map(x => (x._2, x._3)).sortBy(_._1).toSeq
    val s2 = sig.filter(_._1 == 2L).map(x => (x._2, x._3)).sortBy(_._1).toSeq
    assert(s1 == s2)
    assert(s1.length == 8)
    val pairs = TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated text
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = TextDedup.simhash(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sh(1L) == sh(2L))
    val hammingNear = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hammingFar = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hammingNear < hammingFar)
  }

  test("simhashNearPairs equals brute-force hamming filter") {
    val fp = TextDedup.simhash(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for {
      (i, si) <- fp.toSeq; (j, sj) <- fp.toSeq if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 3
    } yield (i, j, h)).toSet
    val got = TextDedup.simhashNearPairs(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expect)
    assert(got.contains((1L, 2L, 0))) // identical docs at hamming 0
  }

  test("fingerprintMinK: deterministic, equal for dups, k ascending values") {
    val fp = TextDedup.fingerprintMinK(docs, "text", "doc_id", 3, 4)
      .collect().map(r => (r.getLong(0), (1 to 4).map(r.getLong))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) == fp(1L).sorted)
  }

  test("cosinePairsLsh: exact-verified pairs only, full recall on near-dup clusters") {
    val rnd = new scala.util.Random(3)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Int)]()
    var id = 0L
    // 20 clusters of 3 near-identical vectors (the near-dups) + 40 random
    for (_ <- 0 until 20) {
      val c = vec()
      for (_ <- 0 until 3) {
        rows += ((id, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat), 0)); id += 1
      }
    }
    for (_ <- 0 until 40) { rows += ((id, vec(), 0)); id += 1 }
    val df = rows.toSeq.toDF("vec_id", "embedding", "label")
    val exact = TextDedup.cosinePairs(df, "embedding", "vec_id", "label", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = TextDedup.cosinePairsLsh(df, "embedding", "vec_id", "label", 0.95, dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 55, s"fixture should yield ~60 cluster pairs, got ${exact.size}")
    // every emitted pair passed the same exact-cosine verification
    assert(approx.subsetOf(exact), (approx -- exact).toString)
    // near-identical vectors (cos ≈ 0.9997) collide in ≥1 of 8 bands w.h.p.
    assert(approx.size.toDouble / exact.size >= 0.9,
      s"recall ${approx.size}/${exact.size}")
  }

  test("cosinePairsLsh: forced salting (tiny smallCap) reproduces the default result") {
    val rnd = new scala.util.Random(11)
    val dim = 8
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = (0L until 30L).map(i =>
      (i, base.map(x => x + 0.005f * rnd.nextGaussian().toFloat), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    val dflt = TextDedup.cosinePairsLsh(df, "embedding", "vec_id", "label", 0.9, dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = TextDedup.cosinePairsLsh(df, "embedding", "vec_id", "label", 0.9, dim,
      smallCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt == salted)
    assert(dflt.size == 30 * 29 / 2, "one tight cluster: every pair emitted")
  }

  test("cosinePairs finds identical vectors at cos 1.0 within block") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), 0),
      (2L, Array(1.0f, 0.0f, 2.0f), 0),
      (3L, Array(-1.0f, 0.5f, -2.0f), 0),
      (4L, Array(1.0f, 0.0f, 2.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pairs = TextDedup.cosinePairs(vecs, "embedding", "vec_id", "label", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }
}
