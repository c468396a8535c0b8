package graft

import graft.functions.MinHash
import graft.operators.TextDedup
import graft.streaming.{StreamDoc, StreamingNearDedup, TimedDoc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming MinHash-LSH near-dup: the one sketch kernel's bit-parity with
  * the SQL form of the sketch, pair parity with the batch band-pairs path
  * across micro-batch boundaries, and the bounded-bucket drop contract.
  */
class StreamingNearDedupSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8
  private val Shingle = 3
  private val Bands = 4

  /** The pre-kernel SQL form of the sketch, kept in test code as the
    * reference both paths are checked against: posexplode → lead() window
    * → md5 → conv → min of (h1 + j·h2) & mask60. The window is partitioned
    * by a per-row key, so two rows that share an id each contribute only
    * their own shingles (the DuckDB oracle's semantics); the result is
    * (id → m0..m{K-1}).
    */
  private def sqlSketch(docs: DataFrame): Map[Long, Seq[Long]] = {
    val w = Window.partitionBy(col("__row")).orderBy(col("pos"))
    val leads = (0 until Shingle).map {
      case 0 => col("t")
      case i => lead(col("t"), i).over(w)
    }
    val hashed = docs.withColumn("__row", monotonically_increasing_id())
      .select(col("doc_id"), col("__row"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
      .select(col("doc_id"), concat_ws(" ", leads: _*).as("s"),
        leads.last.isNotNull.as("full"))
      .where(col("full"))
      .select(col("doc_id"), md5(col("s")).as("m"))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(col("m"), 17, 14), 16, 10).cast("long").as("h2"))
    val mask60 = lit((1L << 60) - 1)
    val aggs = (0 until K).map(j =>
      min((col("h1") + col("h2") * lit(j.toLong)).bitwiseAND(mask60)).as(s"m$j"))
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to K).map(r.getLong)).toMap
  }

  /** The kernel per input row, rows sharing an id merged by element-wise
    * min; ids whose every row has a null sketch are absent.
    */
  private def kernelSketch(rows: Seq[(Long, String)]): Map[Long, Seq[Long]] =
    rows.flatMap { case (id, text) =>
      Option(MinHash.sketch(text, K, Shingle)).map(id -> _.toSeq)
    }.groupMapReduce(_._1)(_._2)((a, b) => a.zip(b).map { case (x, y) => x min y })

  private def wideSketch(docs: DataFrame): Map[Long, Seq[Long]] =
    TextDedup.minhashWide(docs, "text", "doc_id", K, Shingle)
      .collect().map(r => r.getLong(0) -> (1 to K).map(r.getLong)).toMap

  test("streaming signature is bit-identical to the batch minhashWide sketch") {
    val df = Tables.documents(spark, Sf0001).limit(40).select("doc_id", "text")
    val rows = df.as[(Long, String)].collect().toSeq
    val reference = sqlSketch(df)
    assert(reference.nonEmpty)
    assert(kernelSketch(rows) == reference, "kernel vs SQL reference")
    assert(wideSketch(df) == reference, "minhashWide vs SQL reference")
  }

  test("minhashSketch equals the SQL reference on edge inputs") {
    val rows = Seq[(Long, String)](
      1L -> null,
      2L -> "",
      3L -> "one two",                        // shingleK - 1 tokens
      4L -> "one two three",                  // exactly shingleK tokens
      5L -> " lead and trail ",               // empty first and last tokens
      6L -> "doubled  space  inside here",    // empty inner tokens
      7L -> "  ",                             // three empty tokens: one shingle
      8L -> "größe straße 東京 タワー 🎉 über",  // multi-byte UTF-8
      9L -> "shared id first row",
      9L -> "a second row sharing the id")
    assert(MinHash.sketch(null, K, Shingle) == null)
    assert(MinHash.sketch("", K, Shingle) == null)
    assert(MinHash.sketch("one two", K, Shingle) == null)
    val reference = sqlSketch(rows.toDF("doc_id", "text"))
    assert(reference.keySet == Set(4L, 5L, 6L, 7L, 8L, 9L))
    assert(kernelSketch(rows) == reference, "kernel vs SQL reference")
    assert(wideSketch(rows.toDF("doc_id", "text")) == reference,
      "minhashWide vs SQL reference")
    val first = MinHash.sketch("shared id first row", K, Shingle)
    assert(reference(9L) != first.toSeq, "the shared id must merge both rows")
  }

  test("streamed candidate pairs across micro-batches equal the batch band pairs") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, Sf0001).limit(120)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => StreamDoc(id, t) }

    val input = MemoryStream[StreamDoc]
    val q = StreamingNearDedup.candidatePairs(input.toDS(), K, Shingle, Bands)
      .writeStream.format("memory").queryName("snd").outputMode("append").start()
    try {
      val (first, rest) = docs.splitAt(50)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(rest.toIndexedSeq)
      q.processAllAvailable()

      val streamed = spark.table("snd").select("d1", "d2")
        .distinct().as[(Long, Long)].collect().toSet
      val batch = TextDedup.minhashBandPairs(
          Tables.documents(spark, Sf0001).limit(120), "text", "doc_id",
          K, Shingle, Bands)
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} vs batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("near-identical docs pair with high simEst; cross-batch pairs are found") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val input = MemoryStream[StreamDoc]
    val q = StreamingNearDedup.candidatePairs(input.toDS(), K, Shingle, Bands)
      .writeStream.format("memory").queryName("snd2").outputMode("append").start()
    try {
      input.addData(StreamDoc(1, base), StreamDoc(2, "completely different words entirely unrelated content here for sure"))
      q.processAllAvailable()
      // the duplicate arrives in a LATER micro-batch — must pair against history
      input.addData(StreamDoc(3, base))
      q.processAllAvailable()
      val pairs = spark.table("snd2")
        .select("d1", "d2", "simEst").as[(Long, Long, Double)].collect().toSet
      assert(pairs.exists(p => p._1 == 1 && p._2 == 3 && p._3 == 1.0),
        s"exact dup across batches must pair at simEst 1.0: $pairs")
      assert(!pairs.exists(p => p._1 == 2 || p._2 == 2),
        s"unrelated doc must not pair: $pairs")
    } finally q.stop()
  }

  test("windowed variant: pairs inside the trailing window, never across it") {
    implicit val sqlCtx = spark.sqlContext
    // offset well above epoch: a row at exactly the INITIAL watermark (0)
    // is filtered as late before the state operator ever sees it
    def t(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000L)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val input = MemoryStream[TimedDoc]
    val q = StreamingNearDedup
      .candidatePairsWindowed(input.toDS(), windowSec = 60, K, Shingle, Bands)
      .writeStream.format("memory").queryName("sndw").outputMode("append").start()
    try {
      input.addData(TimedDoc(1, t(0), base))
      q.processAllAvailable()
      // dup 30 s later, NEXT micro-batch: inside the window → pairs
      input.addData(TimedDoc(2, t(30), base))
      q.processAllAvailable()
      // watermark jumps far ahead; bucket state becomes evictable
      input.addData(TimedDoc(3, t(1000),
        "completely different words entirely unrelated content here for sure"))
      q.processAllAvailable()
      // dup again at t=1010: docs 1/2 are > 60 s behind → must NOT pair
      input.addData(TimedDoc(4, t(1010), base))
      q.processAllAvailable()
      val pairs = spark.table("sndw")
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)), s"only the in-window dup may pair: $pairs")
    } finally q.stop()
  }

  test("windowed variant, out-of-order arrivals: window is symmetric and members survive for late rows") {
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000L)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val input = MemoryStream[TimedDoc]
    // watermarkDelay 120 s admits rows up to 2 min late; window is 60 s
    val q = StreamingNearDedup
      .candidatePairsWindowed(input.toDS(), windowSec = 60, K, Shingle, Bands,
        watermarkDelay = "120 seconds")
      .writeStream.format("memory").queryName("sndo").outputMode("append").start()
    try {
      input.addData(TimedDoc(1, t(0), base)); q.processAllAvailable()
      input.addData(TimedDoc(2, t(100), base)); q.processAllAvailable() // 100s after 1: no pair
      // LATE row at t=50: within 60 s of BOTH 1 and 2 — must pair with both
      // (doc 1 must not have been pruned by doc 2's arrival)
      input.addData(TimedDoc(3, t(50), base)); q.processAllAvailable()
      input.addData(TimedDoc(4, t(250), base)); q.processAllAvailable() // >60s from all: none
      // late row at t=240: only doc 4 is within its window
      input.addData(TimedDoc(5, t(240), base)); q.processAllAvailable()
      input.addData(TimedDoc(6, t(330), base)); q.processAllAvailable() // >60s from all: none
      // LATE row at t=260: doc 6 sits 70 s AHEAD — the symmetric window
      // must refuse that pair; docs 4 (10 s) and 5 (20 s) qualify
      input.addData(TimedDoc(7, t(260), base)); q.processAllAvailable()
      val pairs = spark.table("sndo")
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 3L), (2L, 3L), (4L, 5L), (4L, 7L), (5L, 7L)),
        s"symmetric-window pair set mismatch: $pairs")
    } finally q.stop()
  }

  test("bucket cap: arrivals into a full bucket are dropped, not exploded") {
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val input = MemoryStream[StreamDoc]
    val q = StreamingNearDedup
      .candidatePairs(input.toDS(), K, Shingle, Bands, maxPerBucket = 2)
      .writeStream.format("memory").queryName("snd3").outputMode("append").start()
    try {
      input.addData((1L to 10L).map(i => StreamDoc(i, base)): _*)
      q.processAllAvailable()
      val pairs = spark.table("snd3").select("d1", "d2")
        .distinct().as[(Long, Long)].collect().toSet
      // only the first 2 members per bucket survive → exactly pair (1,2),
      // docs 3..10 dropped by the cap (not O(n²) emission)
      assert(pairs == Set((1L, 2L)), s"capped bucket must stop pairing: $pairs")
    } finally q.stop()
  }
}
