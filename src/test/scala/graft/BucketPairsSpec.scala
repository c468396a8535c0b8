package graft

import graft.operators.TextDedup
import org.apache.spark.sql.functions._

/** Skew control in LSH bucket-local pair emission (TextDedup.bucketPairs):
  * the adversarial case is ONE mega-bucket (boilerplate near-identical
  * docs all landing on one (band, bsig)) whose O(b²) pairs must neither sit
  * in a single task nor change under salting.
  */
class BucketPairsSpec extends SparkSpec {
  import spark.implicits._

  private def mkBuckets(sizes: Map[String, Int]) = {
    val rows = for {
      (bk, n) <- sizes.toSeq
      i <- 0 until n
    } yield (bk, s"$bk-${"%04d".format(i)}")
    rows.toDF("bk", "id")
      .select(col("bk").as("__bk"), struct(col("id").as("id")).as("__m"))
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select(col("p1.id"), col("p2.id")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  private def allPairs(bk: String, n: Int): Set[(String, String)] = {
    val ids = (0 until n).map(i => s"$bk-${"%04d".format(i)}").sorted
    (for { i <- ids.indices; j <- i + 1 until ids.size } yield (ids(i), ids(j))).toSet
  }

  test("salted emission (ng > 1) is pair-for-pair identical to the local path") {
    val buckets = mkBuckets(Map("mega" -> 120, "small" -> 5, "single" -> 1))
    // smallCap=8 forces ng=15 on the mega bucket; local path = huge cap
    val salted = pairsOf(TextDedup.bucketPairs(buckets, 8, Long.MaxValue, "t1a"))
    val local = pairsOf(TextDedup.bucketPairs(buckets, 1 << 20, Long.MaxValue, "t1b"))
    val expect = allPairs("mega", 120) ++ allPairs("small", 5)
    assert(local == expect)
    assert(salted == expect)
    // ordering contract: p1 < p2 always
    assert(salted.forall { case (a, b) => a < b })
  }

  test("salting bounds per-task state: no cell collects more than ~2*smallCap members") {
    val buckets = mkBuckets(Map("mega" -> 256))
    val smallCap = 16
    // reproduce the internal cell stage to measure the collected arrays
    val sized = buckets.withColumn("__bsz",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("__bk"))))
    val cells = sized
      .withColumn("__ng", greatest(lit(1), ceil(col("__bsz") / lit(smallCap.toDouble))).cast("int"))
      .withColumn("__g", pmod(xxhash64(col("__m")), col("__ng")).cast("int"))
      .select(col("__bk"), col("__m"), col("__g"), explode(expr(
        "transform(sequence(0, __ng - 1), x -> struct(least(x, __g) AS lo, greatest(x, __g) AS hi))")).as("__cell"))
    val cellSizes = cells.groupBy(col("__bk"), col("__cell")).count()
      .select(max(col("count"))).as[Long].head()
    // hash groups of a 256-member bucket at cap 16 → ng=16, expected group ~16;
    // a cell holds two groups. 4× headroom over the expectation = 64.
    assert(cellSizes <= 4L * smallCap, s"worst cell holds $cellSizes members")
    // and the pair set is still exact
    assert(pairsOf(TextDedup.bucketPairs(buckets, smallCap, Long.MaxValue, "t2")) ==
      allPairs("mega", 256))
  }

  test("buckets over maxBucket are dropped; others unaffected") {
    val buckets = mkBuckets(Map("mega" -> 200, "small" -> 6))
    // the drop is accounted through observe, read by a QueryExecutionListener
    val seen = new scala.collection.concurrent.TrieMap[String, (Long, Long)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get("t3").foreach { r =>
          seen.put("t3", (r.getAs[Long]("max_bucket"), r.getAs[Long]("dropped_members")))
        }
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      // JobCounter drains the listener bus, so the listener has run
      org.apache.spark.JobCounter(spark.sparkContext)(
        pairsOf(TextDedup.bucketPairs(buckets, 16, maxBucket = 100, "t3")))._1
    } finally spark.listenerManager.unregister(listener)
    assert(out == allPairs("small", 6))
    assert(seen.get("t3").contains((200L, 200L)), s"observed: $seen")
  }

  test("minhashBandPairs: tiny smallCap (forced salting) reproduces the default result") {
    val docs = (0 until 40).map { i =>
      val text =
        if (i < 30) "boilerplate header the same on every page of the site"
        else s"unique content number $i with distinct words ${('a' + i).toChar}"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val default = TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, 4,
        smallCap = 4, maxBucket = 1L << 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 30 identical docs → all C(30,2) pairs regardless of emission layout
    assert(default.size >= 30 * 29 / 2)
    assert(salted == default)
  }

  test("jaccardPairs: stop-word postings list — forced salting reproduces the default result") {
    // every doc carries the stop word "the"; pairs of near-identical docs
    // must survive salting unchanged, and the per-cell build stays bounded
    val docs = (0 until 60).map { i =>
      val text =
        if (i < 40) "the quick brown fox jumps over the lazy dog again today"
        else s"the document ${i} holds words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h w${i}i"
      (i.toLong, text, "en")
    }.toDF("doc_id", "text", "lang")
    val default = TextDedup.jaccardPairs(docs, "text", "doc_id", "lang", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = TextDedup.jaccardPairs(docs, "text", "doc_id", "lang", 0.9,
        maxTokenDf = 1L << 16, smallCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 40 identical docs → all C(40,2) pairs at jaccard 1.0
    assert(default.size == 40 * 39 / 2)
    assert(salted == default)
    // prefix variant under the same forced salting
    val prefixSalted = TextDedup.jaccardPairsPrefix(docs, "text", "doc_id", "lang", 0.9,
        maxTokenDf = 1L << 16, smallCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefixSalted == default)
  }

  test("jaccardPairs: postings lists over maxTokenDf are dropped from the index") {
    // docs share ONLY the stop word; with it capped out of the index there
    // is no shared token left, so no candidate pair survives
    val docs = (0 until 30).map { i =>
      (i.toLong, s"the u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h u${i}i", "en")
    }.toDF("doc_id", "text", "lang")
    val capped = TextDedup.jaccardPairs(docs, "text", "doc_id", "lang", 0.05,
        maxTokenDf = 10, smallCap = 1024)
    assert(capped.count() == 0)
    // and without the cap the stop word DOES produce (low-jaccard) pairs
    val uncapped = TextDedup.jaccardPairs(docs, "text", "doc_id", "lang", 0.05,
        maxTokenDf = 1L << 16, smallCap = 1024)
    assert(uncapped.count() == 30 * 29 / 2)
  }

  test("jaccardPairs salting bounds the per-cell build: no (token, cell) build exceeds smallCap") {
    val smallCap = 8
    val docs = (0 until 64).map { i =>
      (i.toLong, s"the v${i}x v${i}y v${i}z", "en")
    }.toDF("doc_id", "text", "lang")
    // reproduce the build-side stage: per (token, block), members salted
    // into ng = ceil(df / smallCap) groups — each group is one cell's build
    val tok = docs
      .select(col("doc_id"), col("lang"),
        array_distinct(graft.functions.TextFunctions.tokens(col("text"))).as("ts"))
      .select(col("doc_id"), col("lang"), explode(col("ts")).as("t"))
    val dfreq = tok.groupBy(col("t"), col("lang")).agg(count(lit(1)).as("__df"))
    val groups = tok.join(dfreq, Seq("t", "lang"))
      .withColumn("__ng", greatest(lit(1), ceil(col("__df") / lit(smallCap.toDouble))).cast("int"))
      .withColumn("__s", pmod(xxhash64(col("doc_id")), col("__ng")).cast("int"))
      .groupBy(col("t"), col("lang"), col("__s")).count()
    val worst = groups.agg(max(col("count"))).as[Long].head()
    // hashing 64 members into 8 groups: expectation 8; 3× headroom
    assert(worst <= 3L * smallCap, s"worst cell build holds $worst rows")
  }

  test("simhashNearPairs: forced salting reproduces the default result") {
    val docs = (0 until 25).map { i =>
      val text =
        if (i < 18) "common template text repeated across the mirror pages here"
        else s"novel page $i carrying its own particular vocabulary ${i * 31}"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val default = TextDedup.simhashNearPairs(docs, "text", "doc_id", 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = TextDedup.simhashNearPairs(docs, "text", "doc_id", 3,
        smallCap = 4, maxBucket = 1L << 16)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default.nonEmpty)
    assert(salted == default)
  }
}
