package graft

import graft.operators.{IncrementalDedup, TextDedup}
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic corpus with planted near-dup families spanning the
  // corpus/delta boundary: ids in the same family (id / 5) share a text
  // modulo one trailing word for odd ids — enough 3-shingle overlap to
  // collide on at least one of 4 bands.
  private def corpus(n: Int) = (0L until n.toLong).map { i =>
    val fam = i / 5
    val tail = if (i % 2 == 1) "variant ending here" else "common ending text"
    (i, s"family $fam shares this long boilerplate sentence body $tail")
  }.toDF("doc_id", "text")

  private def full(df: org.apache.spark.sql.DataFrame) =
    TextDedup.minhashBandPairs(df, "text", "doc_id", 8, 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def sigs(df: org.apache.spark.sql.DataFrame) =
    IncrementalDedup.bandSignatures(df, "text", "doc_id", 8, 3, 4)

  test("deltaPairs == full batch recompute restricted to delta-touching pairs") {
    val docs = corpus(60)
    val delta = docs.where($"doc_id" % 10 === 0)
    val standing = docs.where($"doc_id" % 10 =!= 0)
    val incremental = IncrementalDedup.deltaPairs(sigs(standing), sigs(delta), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gold = full(docs).filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(incremental == gold,
      s"missing=${gold -- incremental} extra=${incremental -- gold}")
    assert(incremental.nonEmpty, "fixture must actually plant cross-boundary dups")
    // both directions present: delta-corpus and delta-delta pairs
    assert(incremental.exists(p => p._1 % 10 == 0 ^ p._2 % 10 == 0))
  }

  test("scan pruning off (scanPruneMax=0) and overflow fallback match the default") {
    val docs = corpus(60)
    val delta = docs.where($"doc_id" % 10 === 0)
    val standing = docs.where($"doc_id" % 10 =!= 0)
    def run(pruneMax: Int) =
      IncrementalDedup.deltaPairs(sigs(standing), sigs(delta), "doc_id",
        scanPruneMax = pruneMax)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = run(1 << 16)
    assert(run(0) == default, "pruning must be a pure IO optimization")
    // more distinct delta sigs than the cap -> filter skipped, same answer
    assert(run(1) == default, "overflowing the key cap must fall back cleanly")
    assert(default.nonEmpty)
  }

  test("empty delta probes cleanly (zero pruning keys) and emits no pairs") {
    val docs = corpus(30)
    val none = docs.where(lit(false))
    val out = IncrementalDedup.deltaPairs(sigs(docs), sigs(none), "doc_id")
    assert(out.collect().isEmpty)
  }

  test("batch induction: union of per-batch deltaPairs == full pairs over everything") {
    val docs = corpus(40)
    val b1 = docs.where($"doc_id" < 20)
    val b2 = docs.where($"doc_id" >= 20)
    val s1 = sigs(b1)
    val s2 = sigs(b2)
    val empty = s1.where(lit(false))
    val day1 = IncrementalDedup.deltaPairs(empty, s1, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // day 2: the lake now holds day 1's signatures
    val day2 = IncrementalDedup.deltaPairs(s1, s2, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((day1 ++ day2) == full(docs),
      "appending signatures batch-by-batch must reconstruct the batch pairs")
    assert(day1.nonEmpty && day2.nonEmpty)
  }

  test("forced salting (tiny smallCap) reproduces the default result") {
    val docs = corpus(60)
    val delta = docs.where($"doc_id" % 10 === 0)
    val standing = docs.where($"doc_id" % 10 =!= 0)
    def run(cap: Int) =
      IncrementalDedup.deltaPairs(sigs(standing), sigs(delta), "doc_id", smallCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = run(2) // every bucket > 2 members splits into cells
    assert(salted == run(1024), "salting must never change the pair set")
    assert(salted.nonEmpty)
  }

  test("maxBucket drops boilerplate buckets and accounts them via observe") {
    // 40 boilerplate docs collapse into one mega-bucket per band (size 40 >
    // maxBucket 16 → dropped); ids 100/101 are a genuine near-dup pair in
    // small buckets that must SURVIVE the drop. The surviving pair also
    // keeps the join non-empty — with an all-dropped probe side AQE
    // propagates the empty relation over the join and the CollectMetrics
    // node (with its accumulated counts) leaves the final adaptive plan.
    val docs = (0L until 40L)
      .map(i => (i, "identical boilerplate text repeated everywhere always"))
      .toDF("doc_id", "text")
      .unionByName(Seq(
        (100L, "a genuinely unique sentence about marble statues in venice"),
        (101L, "a genuinely unique sentence about marble statues in venice"))
        .toDF("doc_id", "text"))
    val delta = docs.where($"doc_id" >= 30)
    val standing = docs.where($"doc_id" < 30)
    @volatile var dropped = -1L
    val seen = new scala.collection.concurrent.TrieMap[String, String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        qe.observedMetrics.foreach { case (n, row) => seen.put(n, row.toString) }
        qe.observedMetrics.get("graft.lsh.incremental").foreach { row =>
          dropped = row.getAs[Long]("dropped_members")
        }
      }
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // every doc shares every band signature: bucket size 40 > maxBucket 16
      val out = IncrementalDedup.deltaPairs(sigs(standing), sigs(delta), "doc_id", maxBucket = 16)
      val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((100L, 101L)),
        s"boilerplate bucket must be dropped, real pair kept: $pairs")
      // listener events are delivered async; poll for arrival
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (dropped < 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(dropped > 0,
        s"observe metric must account the dropped members, got $dropped; seen=${seen.toMap}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("scan prune vehicle: InListPruneMax keys ride an In-list, one more rides bloom_probe") {
    import org.apache.spark.sql.catalyst.expressions.In
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val max = IncrementalDedup.InListPruneMax
    // lake: 600 keys with one member each, the even keys with a second
    // member too; a delta touches keys 0 until nKeys, one doc per key,
    // plus a second doc on key 1 (a delta-delta pair, no extra key)
    val lake = (0 until 600).flatMap { k =>
      val row = (k.toLong, k % 4, s"sig$k")
      if (k % 2 == 0) Seq(row, (1000L + k, k % 4, s"sig$k")) else Seq(row)
    }.toDF("doc_id", "band", "bsig")
    def delta(nKeys: Int) = ((0 until nKeys).map(k => (5000L + k, k % 4, s"sig$k")) :+
      ((9999L, 1, "sig1"))).toDF("doc_id", "band", "bsig")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(max, max + 1).foreach { nKeys =>
      val d = delta(nKeys)
      assert(d.select("bsig").distinct().count() == nKeys)
      val pruned = IncrementalDedup.deltaPairs(lake, d, "doc_id")
      val plan = pruned.queryExecution.analyzed
      val inLists = plan.collect { case Filter(In(_, list), _) => list.size }
      val blooms = plan.flatMap(_.expressions.flatMap(
        _.collect { case e if e.prettyName == "bloom_probe" => e }))
      if (nKeys <= max) {
        assert(inLists.nonEmpty && inLists.forall(_ == nKeys), s"In-lists: $inLists")
        assert(blooms.isEmpty, "an In-list delta must not carry bloom_probe")
      } else {
        assert(inLists.isEmpty, s"a Bloom delta must not carry an In-list: $inLists")
        assert(blooms.nonEmpty, "past InListPruneMax the lake scan must probe the Bloom filter")
      }
      val got = pairs(pruned)
      val want = pairs(IncrementalDedup.deltaPairs(lake, d, "doc_id", scanPruneMax = 0))
      assert(got == want, s"$nKeys keys: missing=${want -- got} extra=${got -- want}")
      // each delta key k pairs with lake doc k (and 1000 + k when even);
      // doc 9999 pairs with lake doc 1 and delta doc 5001
      assert(got.size == nKeys + (nKeys + 1) / 2 + 2, s"$nKeys keys: ${got.size} pairs")
    }
  }
}
