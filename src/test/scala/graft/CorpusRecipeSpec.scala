package graft

import graft.api.CorpusRecipe
import graft.operators.{Sampling, TextDedup}
import org.apache.spark.sql.functions._

/** The p3 gate row oracle-checks the score/gate/exactDedup steps every
  * round; this spec covers the remaining builder steps against the
  * operators they delegate to.
  */
class CorpusRecipeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"),
    (3L, "the quick brown fox jumps over the sleepy dog", "en"),
    (4L, "completely different words entirely unrelated text here now", "en"),
    (5L, "a second fully unrelated document with other vocabulary", "de"))
    .toDF("doc_id", "text", "lang")

  test("nearDedup keeps exactly the min-id representative per near-dup cluster") {
    val kept = CorpusRecipe(docs).nearDedup().frame
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1, 2, 3 collapse (exact + near dup); 4 and 5 stand alone
    assert(kept == Set(1L, 4L, 5L), kept.toString)
  }

  test("exactDedup keeps the text column so text-dependent steps compose after it") {
    // the canonical pipeline order: cheap exact dedup first, then the
    // sketch-based near dedup over the survivors
    val kept = CorpusRecipe(docs).exactDedup().nearDedup().frame
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact: 1/2 -> 1; near: 3 merges into 1's cluster
    assert(kept == Set(1L, 4L, 5L), kept.toString)
  }

  test("nearDedup local-finish edge: n edges finish on the driver, n - 1 run rounds, same rows") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val a = "the quick brown fox jumps over the lazy dog"
    val withNulls = Seq[(java.lang.Long, String)](
      (1L, a), (2L, a), (3L, "the quick brown fox jumps over the sleepy dog"),
      (4L, "completely different words entirely unrelated text here now"),
      (5L, "completely different words entirely unrelated text here now"),
      (null, a), // a null id inside the near-dup pairs
      (null, "an orphan row with no id and no near duplicate anywhere"),
      (7L, null), // null text: no sketch, no pairs
      (8L, "a second fully unrelated document with other vocabulary"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.minhashBandPairs(withNulls, "text", "doc_id", 8, 3, 4)
    assert(pairs.where($"d1".isNull || $"d2".isNull).count() > 0)
    // the threshold counts edges with two ids; null-id pairs join nothing
    val n = pairs.where($"d1".isNotNull && $"d2".isNotNull).count()
    def keep(t: Long) = CorpusRecipe.keepClusterMins(withNulls, "doc_id", pairs, t)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.get(0)), Option(r.getString(1)))).toSet
    def joinTypes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.joinType }
    val (local, dist) = (keep(n), keep(n - 1))
    assert(joinTypes(local) == Seq(LeftAnti) && joinTypes(dist) == Seq(LeftSemi))
    assert(rows(local) == rows(dist))
    // the rows the distributed rounds have always kept: null ids dropped,
    // the null-text row kept (the driver finish used to throw on the
    // null-id pairs)
    assert(rows(local).map(_._1) == Set(1L, 4L, 7L, 8L).map(Some(_)))
    assert(rows(CorpusRecipe(withNulls).nearDedup().frame) == rows(local))
  }

  test("curate pass: a composed write runs at most 8 jobs; nearDedup's pin saves jobs") {
    val corpus = (0 until 40).map { i =>
      val body = s"document $i talks about topic ${i % 7} with words w$i x$i y$i z$i"
      val text = i % 10 match {
        case 0 => "shared page text repeated across mirrors of the same site"
        case 1 => "shared page text repeated across mirrors of the same site today"
        case 2 => s"$body contact someone$i@example.com"
        case _ => body
      }
      (i.toLong, text)
    }.toDF("doc_id", "text").repartition(4).cache()
    corpus.count()
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("curate-jobs").toString
    try {
      val (_, pinned) = org.apache.spark.JobCounter(sc) {
        CorpusRecipe(corpus).scrubPii().exactDedup().nearDedup().countTokens()
          .frame.write.parquet(s"$dir/pinned")
      }
      // the same pass with nearDedup's keep step over the unpinned frame
      val (_, unpinned) = org.apache.spark.JobCounter(sc) {
        val upstream = CorpusRecipe(corpus).scrubPii().exactDedup().frame
        val pairs = TextDedup.minhashBandPairs(upstream, "text", "doc_id", 8, 3, 4)
        CorpusRecipe(CorpusRecipe.keepClusterMins(upstream, "doc_id", pairs,
          graft.operators.ConnectedComponents.DefaultLocalThreshold)).countTokens()
          .frame.write.parquet(s"$dir/unpinned")
      }
      // pinned, 8: the exact-dedup map stage (run by the pin at
      // composition), the pair plan's four map stages and its bounded
      // collect, then the write's two — the broadcast of the dropped ids (a
      // local relation broadcasts through one job) and the write itself.
      // Unpinned, 9: the write plans the exact-dedup shuffle again.
      assert((pinned, unpinned) == ((8, 9)), s"pinned $pinned jobs, unpinned $unpinned")
      def ids(p: String) = spark.read.parquet(p).select("doc_id").as[Long].collect().toSet
      assert(ids(s"$dir/pinned") == ids(s"$dir/unpinned"))
      assert(ids(s"$dir/pinned").size < 40)
    } finally {
      corpus.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sample and tokenBudget delegate to the Sampling operators verbatim") {
    val viaApi = CorpusRecipe(docs)
      .sample("lang", Map("en" -> 0.9), defaultRate = 1.0).frame
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = Sampling.stratified(docs, "doc_id", "lang",
        Map("en" -> 0.9), defaultRate = 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaApi == direct)

    val budgeted = CorpusRecipe(docs)
      .countTokens("n_tok")
      .tokenBudget("lang", "n_tok", Map("en" -> 18L), defaultBudget = 100L)
      .frame.select("doc_id").collect().map(_.getLong(0)).toSet
    val directB = Sampling.tokenBudget(
        docs.withColumn("n_tok", size(split($"text", " ")).cast("long")),
        "doc_id", "lang", "n_tok", Map("en" -> 18L), defaultBudget = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(budgeted == directB && budgeted.contains(5L),
      s"api=$budgeted direct=$directB")
  }

  test("scrubPii rewrites the text column in place (p4's oracle pins parity)") {
    val dirty = Seq((1L, "mail me at bob@example.com or call +1-555-0100 ok"))
      .toDF("doc_id", "text")
    val out = CorpusRecipe(dirty).scrubPii().frame
      .select("text").head().getString(0)
    assert(out == "mail me at <EMAIL> or call <PHONE> ok", out)
  }

  test("decontaminate drops exactly the docs sharing a shingle with the bench") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val kept = CorpusRecipe(docs).decontaminate(bench, shingleK = 5).frame
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1-3 contain the bench's 5-shingle ("the quick brown fox jumps");
    // 4 and 5 share nothing
    assert(kept == Set(4L, 5L), kept.toString)
  }

  test("filterQuality delegates to QualityClassifier: scores ride as a column, gate at threshold") {
    import graft.operators.QualityClassifier
    val m = QualityClassifier.Model(0.0,
      Array.tabulate(64)(b => if (b % 2 == 0) 1.0 else -1.0))
    val out = CorpusRecipe(docs).filterQuality(m, threshold = 0.0).frame
    val direct = docs
      .withColumn("l", QualityClassifier.logitCol($"text", m))
      .where($"l" >= 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.columns.contains("q_logit"), "score column survives for later steps")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == direct)
    // both keep- and drop-sides are non-trivial on the fixture or the
    // delegation check proves nothing
    assert(direct.nonEmpty && direct.size < docs.count())
  }

  test("capPerDomain keeps at most k docs per registered domain, md5-draw order") {
    val withUrl = docs.withColumn("url",
      concat(lit("https://www.site"), $"doc_id" % 2, lit(".com/p/"), $"doc_id"))
    val kept = CorpusRecipe(withUrl).capPerDomain("url", 1).frame
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // domains: site1.com = {1,3,5}, site0.com = {2,4}; keeper = min md5-draw
    val draw = (id: Long) => java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes).take(4).map("%02x".format(_)).mkString
    val expect = Set(Seq(1L, 3L, 5L).minBy(draw), Seq(2L, 4L).minBy(draw))
    assert(kept == expect, s"kept=$kept expect=$expect")
  }

  test("scrubSharedPassages rebuilds text and matches the operator's clean_text") {
    val eight = Seq(
      (1L, "one two three four five six seven eight tail1 x"),
      (2L, "one two three four five six seven eight tail2 y"),
      (3L, "totally distinct words with no shared passage at all"))
      .toDF("doc_id", "text")
    val out = CorpusRecipe(eight).scrubSharedPassages(8).frame
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = TextDedup.passageScrub(eight, "text", "doc_id", 8)
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == direct, out.toString)
    assert(out(1L) == "tail1 x" && out(3L).startsWith("totally"), out.toString)
  }

  test("scrubSharedPassages composition: jobs run before the first action, pinned") {
    val eight = Seq(
      (1L, "one two three four five six seven eight tail1 x"),
      (2L, "one two three four five six seven eight tail2 y"),
      (3L, "totally distinct words with no shared passage at all"))
      .toDF("doc_id", "text")
    def composeJobs(aqe: Boolean): (Int, Int) = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        val sc = spark.sparkContext
        val (_, overScan) = org.apache.spark.JobCounter(sc) {
          CorpusRecipe(eight).scrubSharedPassages(8)
        }
        val upstream = CorpusRecipe(eight).exactDedup()
        val (scrubbed, overExchange) = org.apache.spark.JobCounter(sc) {
          upstream.scrubSharedPassages(8)
        }
        assert(scrubbed.frame.count() == 3)
        (overScan, overExchange)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    // Under AQE a lazy localCheckpoint still materializes every shuffle
    // stage below it; only its result stage waits for an action. Over a
    // bare scan: tok's lazy checkpoint runs its spread's map stage (1),
    // sh's EAGER checkpoint runs its own spread's map stage and its result
    // job (2). An upstream exchange (exactDedup's groupBy) adds its map
    // stage (1) to the recipe-level lazy pin.
    assert(composeJobs(aqe = true) == ((3, 4)))
    // Without AQE shuffle stages run inside the job that needs them: the
    // lazy pins run nothing and only sh's eager checkpoint job remains.
    assert(composeJobs(aqe = false) == ((1, 1)))
  }

  test("dropBoilerplateLines removes corpus-frequent lines in place") {
    val lined = Seq(
      (1L, "unique one\nsubscribe now"),
      (2L, "unique two\nsubscribe now"),
      (3L, "unique three\nsubscribe now"))
      .toDF("doc_id", "text")
    val out = CorpusRecipe(lined).dropBoilerplateLines(minDocs = 3).frame
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unique one", 2L -> "unique two", 3L -> "unique three"),
      out.toString)
  }

  test("full recipe chain composes lazily and collapses dup groups") {
    // plan-shape (gate fused below the dedup shuffle over a real parquet
    // scan) is pinned by PlanAuditSpec's p3 test, which builds through
    // this API; a local fixture constant-folds into a LocalTableScan so
    // only the values are assertable here
    val out = CorpusRecipe(docs)
      .scoreLanguage()
      .scoreQuality()
      .scoreRepetition()
      .countTokens()
      .gate($"pred" === "en" && $"quality" >= 0.0)
      .exactDedup("n_tok")
      .frame
    val rows = out.collect().map(_.getLong(0)).toSet
    // exact dup 1/2 collapse to 1; every en-predicted doc survives the
    // vacuous gate (doc 5's text opens with "a", so it predicts en too)
    assert(rows == Set(1L, 3L, 4L, 5L), rows.toString)
  }

  test("splitBy on the near-dup cluster: no near-dup pair straddles train/eval") {
    import graft.operators.ConnectedComponents
    val pairs = TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, 4)
    val clustered = docs.join(
      ConnectedComponents.minLabel(docs.select($"doc_id"), pairs, "d1", "d2"),
      Seq("doc_id"))
    val out = CorpusRecipe(clustered)
      .splitBy($"cluster", Seq("train" -> 0.5, "val" -> 0.25), "test").frame
    // the leakage property: one split per cluster, exactly
    val perCluster = out.groupBy($"cluster")
      .agg(countDistinct($"split").as("n")).collect()
    assert(perCluster.forall(_.getLong(1) == 1L), perCluster.mkString(","))
    // and therefore no LSH candidate pair straddles
    val splitOf = out.select($"doc_id", $"split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.collect().foreach { p =>
      assert(splitOf(p.getLong(0)) == splitOf(p.getLong(1)),
        s"pair ${p.getLong(0)}-${p.getLong(1)} straddles splits")
    }
    // the key is the CLUSTER draw: members score their cluster's md5, not
    // their own (doc 2 and 3 follow doc 1's draw)
    val direct = clustered.withColumn("split",
      Sampling.splitLabel($"cluster", Seq("train" -> 0.5, "val" -> 0.25), "test"))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splitOf == direct)
  }

  test("split and packManifest delegate to their operators verbatim") {
    val viaApi = CorpusRecipe(docs)
      .split(Seq("train" -> 0.8, "val" -> 0.1), "test").frame
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = docs.select($"doc_id",
        Sampling.splitLabel($"doc_id", Seq("train" -> 0.8, "val" -> 0.1), "test")
          .as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaApi == direct)

    // the terminal packing step over a gated recipe: train-side docs only,
    // manifest equals the operator run on the same filtered frame
    val packed = CorpusRecipe(docs)
      .countTokens("n_tok")
      .split(Seq("train" -> 0.8), "heldout")
      .gate($"split" === "train")
      .packManifest("n_tok", ctxLen = 16L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val directP = graft.operators.SequencePack.packManifest(
        docs.withColumn("n_tok", size(split($"text", " ")).cast("long"))
          .where(Sampling.splitLabel($"doc_id", Seq("train" -> 0.8), "heldout") === "train"),
        "doc_id", "n_tok", 16L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(packed == directP && packed.nonEmpty)
  }

  test("mixTo delegates to mixtureBudget verbatim") {
    val shares = Map("en" -> 0.6, "de" -> 0.4)
    val viaApi = CorpusRecipe(docs)
      .countTokens("n_tok")
      .mixTo("lang", "n_tok", shares, 2000L).frame
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val direct = graft.operators.Sampling.mixtureBudget(
        docs.withColumn("n_tok", size(split($"text", " ")).cast("long")),
        "doc_id", "lang", "n_tok", shares, 2000L)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(viaApi == direct && viaApi.nonEmpty)
  }

  test("rebalance and kAnonymize delegate to their operators verbatim") {
    val viaMix = CorpusRecipe(docs).rebalance("lang", 0.5, 40L).frame
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val directMix = graft.operators.Sampling
      .temperatureMix(docs, "doc_id", "lang", 0.5, 40L)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(viaMix == directMix && viaMix.nonEmpty)

    val qi = Seq($"lang")
    val viaK = CorpusRecipe(docs).kAnonymize(qi, 2L).frame
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val directK = graft.operators.Anonymize.kSuppress(docs, qi, 2L)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(viaK == directK && viaK.nonEmpty)
  }

  test("vocabulary reports the exact top-k within the sketch's exact regime") {
    val got = CorpusRecipe(docs).vocabulary(k = 10, cap = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val want = docs.select(explode(split($"text", " ")).as("token"))
      .where(length($"token") > 0)
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token").limit(10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("packNoSplit delegates to the operator verbatim") {
    val viaApi = CorpusRecipe(docs)
      .countTokens("n_tok")
      .packNoSplit("n_tok", ctxLen = 16L, shardDocs = 7)
      .collect().map(_.toSeq).toSet
    val direct = graft.operators.SequencePack.packNoSplit(
        docs.withColumn("n_tok", size(split($"text", " ")).cast("long")),
        "doc_id", "n_tok", 16L, 7)
      .collect().map(_.toSeq).toSet
    assert(viaApi == direct && viaApi.nonEmpty)
  }

  test("bm25TopK and hybridTopK delegate to their operators verbatim") {
    val q = Seq((0L, "quick brown dog")).toDF("qid", "text")
    val viaApi = CorpusRecipe(docs).bm25TopK(q, "qid", "text", 3)
      .collect().map(_.toSeq).toSet
    val direct = graft.operators.Bm25
      .topK(docs, "doc_id", "text", q, "qid", "text", 3)
      .collect().map(_.toSeq).toSet
    assert(viaApi == direct && viaApi.nonEmpty)
    val hApi = CorpusRecipe(docs).hybridTopK(q, "qid", "text", k = 3, fetchK = 4)
      .collect().map(_.toSeq).toSet
    val hDirect = graft.operators.Bm25.rrf(Seq(
        graft.operators.Bm25.topK(docs, "doc_id", "text", q, "qid", "text", 4),
        graft.operators.AnnSearch.batchTopK(
          graft.operators.ChunkEmbed.docEmbed(docs), "emb", "doc_id",
          graft.operators.ChunkEmbed.docEmbed(q, idCol = "qid"), "qid", "emb",
          4, graft.operators.VectorMetric.Cosine)),
      "qid", "doc_id", "rank", 3)
      .collect().map(_.toSeq).toSet
    assert(hApi == hDirect && hApi.nonEmpty)
  }

  test("approx twins: tokenBudget(approx) lands near the budget; vocabulary twins agree") {
    val corpus = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text", $"lang",
        size(split($"text", " ")).cast("long").as("n_tok"))
    val budgets = Map("en" -> 3000L, "zh" -> 1000L)
    val exact = CorpusRecipe(corpus).tokenBudget("lang", "n_tok", budgets).frame
      .groupBy($"lang").agg(sum($"n_tok").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = CorpusRecipe(corpus)
      .tokenBudget("lang", "n_tok", budgets, approx = true).frame
      .groupBy($"lang").agg(sum($"n_tok").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    budgets.foreach { case (k, b) =>
      assert(exact(k) <= b, s"exact over budget for $k")
      // the rate draw is binomial around the budget (sigma ~ sqrt(n_docs)
      // x tokens/doc ~ 30% of a 1000-token budget on this small fixture):
      // the in-expectation bound is the contract, so allow 2-sigma slack —
      // the md5 draw is deterministic, this is a fixed number per fixture
      assert(math.abs(approx(k) - b) <= 0.6 * b,
        s"approx budget for $k: got ${approx(k)}, want ~$b")
    }
    val vExact = CorpusRecipe(corpus).vocabulary(50, approx = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val vSketch = CorpusRecipe(corpus).vocabulary(50, cap = 1 << 17)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(vExact == vSketch, "sketch must equal exact within the <=cap regime")
  }

  test("profile: approx twins track the exact profile within documented bounds") {
    val corpus = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text", size(split($"text", " ")).cast("long").as("n_tok"))
    val ex = CorpusRecipe(corpus).profile($"n_tok", approx = false).head()
    val ap = CorpusRecipe(corpus).profile($"n_tok").head()
    assert(ex.getLong(0) == ap.getLong(0), "n_docs is exact on both paths")
    assert(ex.getLong(2) == ap.getLong(2), "n_tokens is exact on both paths")
    val exD = ex.getLong(1).toDouble
    assert(math.abs(ap.getLong(1) - exD) <= 0.05 * exD + 1,
      s"HLL distinct ${ap.getLong(1)} vs exact $exD beyond 5%")
    val exQ = ex.getSeq[Double](3)
    val apQ = ap.getSeq[Double](3)
    exQ.zip(apQ).foreach { case (e, a) =>
      assert(math.abs(a - e) <= math.max(2.0, 0.05 * e),
        s"approx percentile $a vs exact $e")
    }
  }

  test("normalize rewrites the text column in place, scan-local") {
    val out = CorpusRecipe(docs).normalize(c => upper(c)).frame
      .where($"doc_id" === 1).head().getString(1)
    assert(out == "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG")
  }

  test("decontaminate(approx=true) delegates to the bloom path and matches exact here") {
    val corpus = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 =!= 0)
    val bench = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 === 0)
    def kept(r: CorpusRecipe) = r.frame.select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    val exact = kept(CorpusRecipe(corpus).decontaminate(bench))
    val bloom = kept(CorpusRecipe(corpus).decontaminate(bench, approx = true))
    // bloom may only ever drop MORE (false positives), never less; at the
    // default fpp=1e-6 the fixture sees zero FPs, so equality holds
    assert(bloom.subsetOf(exact))
    assert(bloom == exact)
  }

  test("decontaminateWith: a persisted bench filter drops exactly what the inline bloom path drops") {
    // the artifact round-trip through the RECIPE surface: build once,
    // persist, load in "another job", probe — same kept set as building
    // inline, and a null artifact (empty bench) keeps everything
    val corpus = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 =!= 0)
    val bench = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 10 === 0)
    def kept(r: CorpusRecipe) = r.frame.select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    val bf = graft.operators.TextDedup
      .benchShingleBloom(bench, "text", "doc_id", shingleK = 5)
    val dir = graft.sources.TempDirs.register(
      s"/tmp/graft_recipe_bloom_${ProcessHandle.current().pid()}")
    graft.sources.ModelStore.saveBloom(spark, bf, dir)
    val loaded = graft.sources.ModelStore.loadBloom(spark, dir)
    assert(kept(CorpusRecipe(corpus).decontaminateWith(loaded)) ==
      kept(CorpusRecipe(corpus).decontaminate(bench, approx = true)))
    assert(kept(CorpusRecipe(corpus).decontaminateWith(null)) == kept(CorpusRecipe(corpus)))
  }

  test("scoreLm delegates to NgramLm.score and keeps unscorable rows with null") {
    val corpus = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      // a two-token doc: no trigram positions, must survive with null
      .unionByName(Seq((900001L, "xy zq")).toDF("doc_id", "text"))
    val model = graft.operators.NgramLm.fit(corpus, "text")
    val got = CorpusRecipe(corpus).scoreLm(model, minCount = 2L).frame
    assert(got.count() == corpus.count(), "scoreLm must keep every row")
    val direct = graft.operators.NgramLm
      .score(corpus, "doc_id", "text", model, minCount = 2L)
      .collect().map(r => r.getLong(0) -> r.get(2)).toMap
    got.select($"doc_id", $"lm_nll").collect().foreach { r =>
      val want = direct.get(r.getLong(0)).flatMap(Option(_))
      assert(Option(r.get(1)) == want, s"doc ${r.getLong(0)}")
    }
    assert(got.where($"doc_id" === 900001L).head().isNullAt(
      got.schema.fieldIndex("lm_nll")), "short doc carries null, not a number")
  }

  test("tokenizer-aware count steps delegate to their operators; zero for empty text") {
    val corpus = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .unionByName(Seq((900002L, "")).toDF("doc_id", "text"))
    val bpeModel = graft.operators.BpeTrain.BpeModel(
      graft.operators.SpacePreTok, Seq(("t", "h"), ("th", "e")))
    val wpPieces = "abcdefghijklmnopqrstuvwy".map(_.toString) ++
      Seq("##a", "##b", "##c", "##d", "##e", "##f", "##g", "##h", "##i",
        "##j", "##k", "##l", "##m", "##n", "##o", "##p", "##q", "##r",
        "##s", "##t", "##u", "##v", "##w", "##y")
    val ugPieces = "abcdefghijklmnopqrstuvwy".zipWithIndex
      .map { case (c, k) => (c.toString, -2.0 - k * 0.015625) }.toSeq
    def direct(op: org.apache.spark.sql.DataFrame, nCol: String) =
      op.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def viaRecipe(r: CorpusRecipe) = r.frame.select($"doc_id", $"n_tok")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val n = corpus.count()

    val bpe = viaRecipe(CorpusRecipe(corpus).countTokensBpe(bpeModel))
    assert(bpe.size == n, "every row survives, empty text included")
    assert(bpe(900002L) == 0L)
    direct(graft.operators.BpeTrain.tokenCounts(
      corpus, "doc_id", "text", bpeModel), "bpe_tokens")
      .foreach { case (id, c) => assert(bpe(id) == c, s"doc $id") }

    val wp = viaRecipe(CorpusRecipe(corpus).countTokensWp(wpPieces))
    assert(wp(900002L) == 0L)
    direct(graft.operators.WordPiece.tokenCounts(
      corpus, "doc_id", "text", wpPieces), "wp_tokens")
      .foreach { case (id, c) => assert(wp(id) == c, s"doc $id") }

    val ug = viaRecipe(CorpusRecipe(corpus).countTokensUnigram(ugPieces))
    assert(ug(900002L) == 0L)
    direct(graft.operators.UnigramTok.tokenCounts(
      corpus, "doc_id", "text", ugPieces), "ug_tokens")
      .foreach { case (id, c) => assert(ug(id) == c, s"doc $id") }

    // output-name collision refuses, like scoreLm
    intercept[IllegalArgumentException] {
      CorpusRecipe(corpus).countTokens().countTokensWp(wpPieces)
    }
  }

  test("packTokenIds terminal equals the tokenIds -> SequencePack composition") {
    val corpus = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
      .where($"doc_id" % 7 === 0)
    val model = graft.operators.BpeTrain.BpeModel(
      graft.operators.RegexPreTok(graft.operators.RegexPreTok.Gpt2ish),
      Seq(("t", "h"), ("th", "e")), byteLevel = true)
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    val viaRecipe = flat(CorpusRecipe(corpus).packTokenIds(model, 64L, Some(258L)))
    val direct = flat(graft.operators.SequencePack.packTokenIds(
      graft.operators.BpeTrain.tokenIds(corpus, "doc_id", "text", model),
      "doc_id", 64L, Some(258L)))
    assert(viaRecipe == direct)
    assert(viaRecipe.nonEmpty)
  }
}
