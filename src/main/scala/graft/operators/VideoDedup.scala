package graft.operators

import graft.functions.TextFunctions.{hashPair, kmHash}
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
  * Scale shape: signatures are one map-side-combined groupBy over
  * (video, frame-hash) rows; candidates ride [[TextDedup.bucketPairs]]
  * (triangle-salted, capped, observe-metered); the exact-Jaccard verify
  * joins only candidate videos' fingerprint sets. No stage is O(n²) in
  * the catalog size.
  */
object VideoDedup {

  /** Wide signature matrix m0..m{k-1} per video: min over the video's
    * distinct frame fingerprints of k KM hash families (one md5 per
    * distinct (video, fingerprint) — same hashing discipline as
    * [[TextDedup.minhashWide]]).
    */
  def signatures(
      frames: DataFrame, videoCol: String, fpCol: String, k: Int): DataFrame = {
    val fp = frames.select(col(videoCol), col(fpCol).cast("long").as("__fp"))
      .distinct()
      .select(col(videoCol), hashPair(col("__fp").cast("string")).as("hp"))
      .select(col(videoCol), col("hp.h1").as("h1"), col("hp.h2").as("h2"))
    val aggs = (0 until k).map(j => min(kmHash(col("h1"), col("h2"), j)).as(s"m$j"))
    fp.groupBy(col(videoCol)).agg(aggs.head, aggs.tail: _*)
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
    TextDedup.requireBanding(k, bands)
    val rowsPer = k / bands
    val wide = signatures(frames, videoCol, fpCol, k)
    val bandStructs = array((0 until bands).map { b =>
      val cols = (b * rowsPer until (b + 1) * rowsPer).map(j => col(s"m$j"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bsig"))
    }: _*)
    val buckets = wide
      .select(col(videoCol), explode(bandStructs).as("bs"))
      .select(col("bs").as("__bk"), struct(col(videoCol).as("id")).as("__m"))
    val cand = TextDedup.bucketPairs(buckets, smallCap, maxBucket, "graft.lsh.video")
      .select(col("p1.id").as("v1"), col("p2.id").as("v2"))
      .distinct()
    // exact verify on the distinct fingerprint sets of candidate videos
    val sets = frames.select(col(videoCol), col(fpCol).cast("long").as("__fp"))
      .distinct()
      .groupBy(col(videoCol))
      .agg(sort_array(collect_set(col("__fp"))).as("fps"),
        count(lit(1)).as("n"))
    cand
      .join(sets.select(col(videoCol).as("v1"), col("fps").as("fa"), col("n").as("na")), "v1")
      .join(sets.select(col(videoCol).as("v2"), col("fps").as("fb"), col("n").as("nb")), "v2")
      .withColumn("i", size(array_intersect(col("fa"), col("fb"))))
      .withColumn("jac", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .where(col("jac") >= tau)
      .select(col("v1"), col("v2"), round(col("jac"), 6).as("jaccard"))
  }
}
