package graft

import graft.operators.{AnnSearch, Bm25, ChunkEmbed, VectorMetric}
import graft.serving.LocalHybrid
import org.apache.spark.sql.functions._

/** [[LocalHybrid]] — the driver-resident serving tier's arithmetic must
  * be BIT-EXACT to the Catalyst expressions it shadows, or the fast path
  * would serve different results than the r4 batch pipeline. Each replica
  * is pinned against its distributed twin on randomized inputs (texts
  * with runs of spaces, unicode incl. supplementary-plane code points,
  * tie-inducing duplicate documents, zero vectors), plus the service's
  * own fast-vs-fallback wire equality.
  */
class LocalHybridSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val lexicon = Seq("join", "scan", "the", "window", "stream",
    "agg", "排序", "😀", "𐀀x", "a", "")

  private def randText(): String =
    Seq.fill(3 + rnd.nextInt(10))(lexicon(rnd.nextInt(lexicon.size)))
      .mkString(" ") + (if (rnd.nextBoolean()) "  tail" else "")

  test("round6 == Spark round(col, 6) including boundary-ish values") {
    val vals = Seq(0.0, -0.0, 1.2345665, -1.2345665, 3.0000005,
      -3.0000005, 123456.789012349, 1e-9, -1e-9, 0.9999995) ++
      Seq.fill(200)(rnd.nextDouble() * 2000 - 1000) ++
      Seq.fill(50)(rnd.nextGaussian() * 1e-5)
    val got = vals.map(LocalHybrid.round6)
    val want = vals.toDF("v").select(round($"v", 6)).collect()
      .map(_.getDouble(0)).toSeq
    got.zip(want).zip(vals).foreach { case ((g, w), v) =>
      assert(g == w, s"round6($v): $g vs spark $w")
    }
  }

  test("hash60 + tokensOf + docEmbedLocal == ChunkEmbed.docEmbed") {
    val texts = Seq("", " ", "a  b", "the the the") ++
      Seq.fill(20)(randText())
    // the JVM hash60 vs the SQL expression
    val words = texts.flatMap(LocalHybrid.tokensOf).distinct
    val wantH = words.toDF("w")
      .select(graft.functions.TextFunctions.hash60($"w")).collect()
      .map(_.getLong(0)).toSeq
    words.map(graft.functions.TextFunctions.hash60Local).zip(wantH).zip(words).foreach {
      case ((g, w), word) => assert(g == w, s"hash60('$word'): $g vs $w")
    }
    // full embedding parity
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val want = ChunkEmbed.docEmbed(df, "doc_id", "text", 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val got = LocalHybrid.docEmbedLocal(t, 16).toSeq
      // docEmbed emits no row for null text only; every text here rows
      assert(got == want(i.toLong), s"text '$t'")
    }
  }

  test("utf8Lt orders like Spark's array_sort on strings") {
    val terms = lexicon.filter(_.nonEmpty) ++ Seq("zz", "Z", "ä", "�")
    val want = terms.toDF("t").select(collect_list($"t"))
      .select(sort_array(col("collect_list(t)"))).head().getSeq[String](0)
    val got = terms.sortWith(LocalHybrid.utf8Lt)
    assert(got == want, s"$got vs $want")
  }

  test("bm25Rank == Bm25.searchIndex on a random corpus with ties") {
    val docs = (0L until 30L).map { i =>
      (i, if (i % 7 == 0) "dup text exactly" else randText())
    }
    val corpus = docs.toDF("doc_id", "text")
    val ix = Bm25.fit(corpus, "doc_id", "text")
    val stats = ix.docStats.head()
    val n = stats.getAs[Number]("n_docs").longValue()
    val avgdl = stats.getAs[Number]("sum_dl").longValue().toDouble / n.toDouble
    (1 to 6).foreach { _ =>
      val q = randText()
      val terms = LocalHybrid.tokensOf(q).distinct
      val posts = terms.map { t =>
        val rows = ix.postings.where($"term" === t)
          .select($"doc_id", $"tf", $"dl").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val df = ix.dfs.where($"term" === t).select($"df").collect()
          .headOption.map(_.getLong(0)).getOrElse(0L)
        t -> LocalHybrid.TermPost(df, rows)
      }.toMap
      val got = LocalHybrid
        .bm25Rank(terms, posts, n.toDouble, avgdl, 1.2, 0.75, 10).toSeq
      val want = Bm25.searchIndex(ix, Seq((0L, q)).toDF("qid", "text"),
          "qid", "text", 10)
        .orderBy($"rank").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == want, s"query '$q':\n got=$got\nwant=$want")
    }
  }

  test("denseRank == AnnSearch.batchTopK cosine incl. zero vectors") {
    val dim = 8
    val base = (0L until 40L).map { i =>
      (i, if (i % 11 == 0) Array.fill(dim)(0.0)
      else Array.fill(dim)((rnd.nextInt(7) - 3).toDouble))
    }
    val baseDf = base.toDF("id", "emb")
    val local = base.map { case (id, e) => LocalHybrid.denseRow(id, e, -1) }.toArray
    (1 to 4).foreach { qi =>
      val qv = Array.fill(dim)((rnd.nextInt(7) - 3).toDouble)
      val got = LocalHybrid.denseRank(local, null, qv, 12).toSeq
        .map { case (rank, id, _) => (rank, id) }
      val want = AnnSearch.batchTopK(baseDf, "emb", "id",
          Seq((0L, qv.toSeq)).toDF("qid", "emb"), "qid", "emb",
          12, VectorMetric.Cosine)
        .orderBy($"rank").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"query $qi:\n got=$got\nwant=$want")
    }
  }

  test("rrfFuse == Bm25.rrf") {
    val r1 = Array((0L, 5L), (1L, 3L), (2L, 9L), (3L, 1L))
    val r2 = Array((0L, 3L), (1L, 7L), (2L, 5L))
    val got = LocalHybrid.rrfFuse(Seq(r1, r2), 5).toSeq
    val d1 = r1.toSeq.map { case (rank, id) => (0L, id, rank) }
      .toDF("qid", "id", "rank")
    val d2 = r2.toSeq.map { case (rank, id) => (0L, id, rank) }
      .toDF("qid", "id", "rank")
    val want = Bm25.rrf(Seq(d1, d2), "qid", "id", "rank", 5)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want, s"\n got=$got\nwant=$want")
  }

  test("service: fast tier wire results == distributed tier (exact + ivf)") {
    val docs = (0L until 25L).map(i => (i, randText())).toDF("doc_id", "text")
    val dir = graft.sources.TempDirs.register(
      s"/tmp/graft_localhybrid_${ProcessHandle.current().pid()}")
    Bm25.save(Bm25.fit(docs, "doc_id", "text"), dir, numFiles = 2)
    def serve(local: Boolean, mode: String): Seq[Seq[(Long, Any, Any)]] = {
      val svc = new graft.serving.HybridSearchService(
        docs, "doc_id", "text", dir, k = 8, fetchK = 15,
        denseMode = mode, nlist = 4, nprobe = 4, localServing = local)
      try {
        assert(svc.isLocalTier == local)
        Seq.fill(4)(randText()).map(q =>
          svc.search(q) ++ svc.searchKeyword(q))
      } finally svc.stop()
    }
    // same query streams on both tiers: re-seed the generator per run
    Seq("exact", "ivf").foreach { mode =>
      rnd.setSeed(99)
      val fast = serve(local = true, mode)
      rnd.setSeed(99)
      val slow = serve(local = false, mode)
      assert(fast == slow, s"mode $mode:\nfast=$fast\nslow=$slow")
    }
  }

  test("service row budget edge: maxLocalIndex = n serves locally, n - 1 falls back, same rows") {
    val docs = (0L until 20L).map(i => (i, randText())).toDF("doc_id", "text")
    val dir = graft.sources.TempDirs.register(
      s"/tmp/graft_localhybrid_edge_${ProcessHandle.current().pid()}")
    Bm25.save(Bm25.fit(docs, "doc_id", "text"), dir, numFiles = 2)
    val n = ChunkEmbed.docEmbed(docs, "doc_id", "text", 64).count()
    def service(budget: Long) = new graft.serving.HybridSearchService(
      docs, "doc_id", "text", dir, k = 8, fetchK = 15, maxLocalIndex = budget)
    val at = service(n)
    val below = service(n - 1)
    val dist = service(0L)
    try {
      assert(at.isLocalTier, s"$n embeddings fit a budget of $n")
      assert(!below.isLocalTier, s"$n embeddings exceed a budget of ${n - 1}")
      assert(!dist.isLocalTier)
      Seq.fill(4)(randText()).foreach { q =>
        val want = dist.search(q)
        assert(at.search(q) == want, s"budget n, query '$q'")
        assert(below.search(q) == want, s"budget n - 1, query '$q'")
      }
    } finally { at.stop(); below.stop(); dist.stop() }
  }

  test("TermCache: LRU row budget evicts; oversize refuses; overCap caches") {
    val cache = new LocalHybrid.TermCache(maxRows = 4)
    def tp(n: Int) = LocalHybrid.TermPost(n.toLong,
      Array.fill(n)((1L, 1L, 1L)))
    assert(cache.put("a", tp(2)))
    assert(cache.put("b", tp(2)))
    assert(cache.get("a").isDefined && cache.get("b").isDefined)
    assert(cache.put("c", tp(2)))          // budget 4: evicts LRU
    assert(cache.get("c").isDefined)
    assert(cache.get("a").isEmpty || cache.get("b").isEmpty)
    // an entry whose rows alone exceed the whole budget is refused —
    // admitting it would hold the cache permanently over its contract
    assert(!cache.put("huge", tp(6)), "oversize entry must refuse")
    assert(cache.get("huge").isEmpty)
    // an over-cap VERDICT (zero rows) caches like any entry, so repeat
    // requests with a hot common term stop re-paying the df probe
    assert(cache.put("the", LocalHybrid.TermPost(1000000L,
      Array.empty[(Long, Long, Long)], overCap = true)))
    assert(cache.get("the").exists(_.overCap))
    // zero-row entries cost 1 toward the budget, so a long tail of junk
    // terms cannot grow the map without bound (entry count <= budget)
    (0 until 50).foreach(i =>
      assert(cache.put(s"junk$i", tp(0))))
    assert(cache.size <= 4, s"entry count ${cache.size} over the budget")
  }

  test("over-cap terms fall back distributed with identical wire results") {
    val docs = (0L until 15L).map(i => (i, randText() + " common"))
      .toDF("doc_id", "text")
    val dir = graft.sources.TempDirs.register(
      s"/tmp/graft_localhybrid_cap_${ProcessHandle.current().pid()}")
    Bm25.save(Bm25.fit(docs, "doc_id", "text"), dir, numFiles = 2)
    // 'common' is in every doc (df 15); cap at 10 so it is over-cap
    val capped = new graft.serving.HybridSearchService(
      docs, "doc_id", "text", dir, k = 5, fetchK = 10,
      maxTermDf = 10L, maxCachedPostings = 100L)
    val open = new graft.serving.HybridSearchService(
      docs, "doc_id", "text", dir, k = 5, fetchK = 10)
    try {
      val q = "common join"
      val got = capped.search(q) ++ capped.searchKeyword(q)
      val want = open.search(q) ++ open.searchKeyword(q)
      assert(got == want, s"capped fallback differs:\n got=$got\nwant=$want")
      // and the verdict memoizes: a second identical request still equals
      assert(capped.search(q) == open.search(q))
    } finally { capped.stop(); open.stop() }
  }
}
