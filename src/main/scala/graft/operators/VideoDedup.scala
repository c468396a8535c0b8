package graft.operators

import graft.functions.MinHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-VIDEO near-duplicate detection — the corpus-level dedup the
  * reference's data model calls for but never ships. The reference dedups
  * frames WITHIN one video (temporal near-dup, `loader.js:202-212`); at
  * catalog scale the expensive redundancy is whole videos: re-uploads,
  * re-encodes, trims and resolution changes of the same content. Those all
  * survive perceptual frame hashing ([[graft.multimodal.ImageOps.dHash]]),
  * so a video is modeled as its SET of distinct frame fingerprints and two
  * videos are near-duplicates when those sets overlap (Jaccard) — the
  * shingles-of-a-document idea with frames in place of shingles, which
  * lets the whole text-dedup stack (Kirsch–Mitzenmacher MinHash, banded
  * LSH through the capped/salted bucket machinery, exact verify) carry
  * video dedup unchanged.
  *
  * Scale shape: one map-side-combined groupBy builds each video's
  * fingerprint set, which feeds both the [[MinHash]] sketch and the exact
  * Jaccard verify; candidates ride [[TextDedup.bucketPairs]]
  * (triangle-salted, capped, observe-metered). No stage is O(n²) in the
  * catalog size.
  */
object VideoDedup {

  /** (video, fps): each video's sorted distinct non-null fingerprints. */
  private def fingerprintSets(
      frames: DataFrame, videoCol: String, fpCol: String): DataFrame =
    frames.groupBy(col(videoCol))
      .agg(sort_array(collect_set(col(fpCol).cast("long"))).as("fps"))

  /** Wide signature matrix m0..m{k-1} per video: the [[MinHash.sketch]] of
    * its distinct frame fingerprints (one md5 per fingerprint — same
    * hashing discipline as [[TextDedup.minhashWide]]); all null for a
    * video with no non-null fingerprint.
    */
  def signatures(
      frames: DataFrame, videoCol: String, fpCol: String, k: Int): DataFrame = {
    // a fingerprint is a one-token shingle
    MinHash.requireSketch(k, 1)
    val sketch = udf((fps: Seq[Long]) => MinHash.sketch(fps, k))
    fingerprintSets(frames, videoCol, fpCol)
      .select(col(videoCol), sketch(col("fps")).as("__sig"))
      .select(col(videoCol) +: (0 until k).map(j => col("__sig")(j).as(s"m$j")): _*)
  }

  /** Map each distinct frame fingerprint to a canonical representative:
    * hamming near-pairs (≤ `maxHamming`) over the DISTINCT fingerprints +
    * connected components, min fingerprint per group. Run this before
    * [[nearPairs]] when frames are RE-ENCODED rather than byte-identical —
    * perceptual hashes of a re-encode differ by a few bits, which exact
    * set overlap would score as disjoint. The pair/CC work is over
    * distinct fingerprints only (bounded by content variety, not catalog
    * size); frames then re-key with one equi-join.
    */
  def canonicalize(
      frames: DataFrame, videoCol: String, fpCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = frames.select(col(fpCol).cast("long").as("__cfp")).distinct()
      .select(col("__cfp").as("id"), col("__cfp").as("fp"))
    val pairs = TextDedup.hammingNearPairs(fps, "fp", "id",
      bits = 64, maxHamming = maxHamming, metricsPrefix = "graft.lsh.framecanon")
    val reps = ConnectedComponents.minLabel(
      fps.select(col("id")), pairs.select(col("d1"), col("d2")), "d1", "d2")
    frames.select(col(videoCol), col(fpCol).cast("long").as("id"))
      .join(reps, "id")
      .select(col(videoCol), col("cluster").as(fpCol))
  }

  /** Near-duplicate video pairs: banded-LSH candidates over the MinHash
    * signatures, then EXACT frame-set Jaccard verification ≥ `tau` — the
    * emitted pairs are always true positives (LSH misses are the only
    * error mode, tunable with k/bands).
    */
  def nearPairs(
      frames: DataFrame, videoCol: String, fpCol: String,
      k: Int = 8, bands: Int = 4, tau: Double = 0.5,
      smallCap: Int = 1024, maxBucket: Long = 1L << 16): DataFrame = {
    MinHash.requireBanding(k, bands)
    val sets = fingerprintSets(frames, videoCol, fpCol)
    // a video with no fingerprint has no sketch and joins no bucket
    val banding = udf((fps: Seq[Long]) => MinHash.bands(MinHash.sketch(fps, k), bands))
    val buckets = sets
      .select(col(videoCol), explode(banding(col("fps"))).as("__bk"))
      .select(col("__bk"), struct(col(videoCol).as("id")).as("__m"))
    val cand = TextDedup.bucketPairs(buckets, smallCap, maxBucket, "graft.lsh.video")
      .select(col("p1.id").as("v1"), col("p2.id").as("v2"))
      .distinct()
    // exact verify on the fingerprint sets of candidate videos
    cand
      .join(sets.select(col(videoCol).as("v1"), col("fps").as("fa")), "v1")
      .join(sets.select(col(videoCol).as("v2"), col("fps").as("fb")), "v2")
      .withColumn("i", size(array_intersect(col("fa"), col("fb"))))
      .withColumn("jac", col("i") * lit(1.0) / (size(col("fa")) + size(col("fb")) - col("i")))
      .where(col("jac") >= tau)
      .select(col("v1"), col("v2"), round(col("jac"), 6).as("jaccard"))
  }
}
