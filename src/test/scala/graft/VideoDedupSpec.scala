package graft

import graft.operators.VideoDedup
import org.apache.spark.sql.functions._

class VideoDedupSpec extends SparkSpec {
  import spark.implicits._

  private def framesDf(vs: (String, Seq[Long])*) =
    vs.flatMap { case (v, fps) => fps.map(v -> _) }.toDF("video", "fp")

  private val planted = Seq(
    "a" -> (1L to 40L),
    "b" -> ((5L to 40L) ++ (101L to 104L)), // re-upload with 4 frames changed
    "c" -> (1L to 30L),                     // trim of a
    "d" -> (1000L to 1040L))                // unrelated

  /** Brute-force frame-set Jaccard of every video pair at or over `tau`. */
  private def bruteForce(vids: Seq[(String, Seq[Long])], tau: Double) =
    (for {
      i <- vids.indices; j <- (i + 1) until vids.length
      (v1, f1) = vids(i); (v2, f2) = vids(j)
      inter = f1.toSet.intersect(f2.toSet).size.toDouble
      jac = inter / (f1.toSet.size + f2.toSet.size - inter)
      if jac >= tau
    } yield (v1, v2) -> math.rint(jac * 1e6) / 1e6).toMap

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap

  test("nearPairs: verified frame-set Jaccard matches brute force on planted videos") {
    val got = pairs(VideoDedup.nearPairs(framesDf(planted: _*), "video", "fp", tau = 0.5))
    val expected = bruteForce(planted, 0.5)
    assert(got == expected, s"got $got expected $expected")
    assert(expected.nonEmpty && !expected.keySet.exists(p => p._1 == "d" || p._2 == "d"))
  }

  test("nearPairs: k = 256 runs under ANSI and matches brute force") {
    // h1 + j·h2 passes 2^63 for j near 255 (h2 reaches 2^56): a SQL form
    // of the family throws ARITHMETIC_OVERFLOW there, the kernel wraps
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val got = pairs(VideoDedup.nearPairs(framesDf(planted: _*), "video", "fp",
      k = 256, bands = 64, tau = 0.5))
    assert(got == bruteForce(planted, 0.5), s"got $got")
  }

  test("nearPairs: a null fingerprint counts in neither the intersection nor the sizes") {
    val frames = Seq(("v1", Some(1L)), ("v1", Some(2L)), ("v1", None),
      ("v2", Some(1L)), ("v2", Some(2L)), ("v2", None)).toDF("video", "fp")
    val got = pairs(VideoDedup.nearPairs(frames, "video", "fp", tau = 0.5))
    assert(got == Map(("v1", "v2") -> 1.0), s"got $got")
  }

  test("canonicalize: re-encoded frames (hamming-perturbed hashes) recover the pair") {
    // v2 is v1 re-encoded: every frame hash differs by 1-2 bits — exact
    // set overlap is ZERO, so raw nearPairs must miss it; canonicalizing
    // fingerprints through hamming-CC first must recover jaccard 1.0.
    val base = (0 until 20).map(i => (0x9E3779B97F4A7C15L * (i + 1)) ^ (1L << 40))
    val enc = base.zipWithIndex.map { case (f, i) =>
      f ^ (1L << (i % 64)) ^ (if (i % 2 == 0) 1L << ((i * 13) % 64) else 0L)
    }
    val other = (0 until 20).map(i => 0x517CC1B727220A95L * (i + 3))
    val frames = framesDf("v1" -> base, "v2" -> enc, "v3" -> other)
    val raw = VideoDedup.nearPairs(frames, "video", "fp", tau = 0.5)
    assert(raw.where($"v1" === "v1" && $"v2" === "v2").isEmpty,
      "raw set overlap must miss the re-encode (hashes are perturbed)")
    val canon = VideoDedup.canonicalize(frames, "video", "fp", maxHamming = 3)
    val got = VideoDedup.nearPairs(canon, "video", "fp", tau = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("v1", "v2", 1.0)), got.mkString(", "))
  }

  test("signatures: deterministic, identical frame sets share every family") {
    val f = framesDf("x" -> (1L to 9L), "y" -> (1L to 9L), "z" -> (50L to 60L))
    val sigs = VideoDedup.signatures(f, "video", "fp", k = 8)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(sigs("x") == sigs("y"), "identical frame sets must share the signature")
    assert(sigs("x") != sigs("z"))
    val again = VideoDedup.signatures(f, "video", "fp", k = 8)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(again == sigs)
  }

  test("signatures: bit-identical to the Column form of the hash family (k = 8)") {
    // the reference: md5 of the decimal string → h1 (hex 1–15), h2 (hex
    // 17–30) → min over the video's frames of (h1 + j·h2) & mask60
    val k = 8
    val frames = (
      Seq(1L, 2L, 2L, -7L, Long.MaxValue, Long.MinValue).map(f => ("x", Option(f))) ++
        (100L to 140L).map(f => ("z", Option(f))) ++
        Seq[(String, Option[Long])](("w", Some(5L)), ("w", None), ("e", None))
    ).toDF("video", "fp")
    val m = md5($"fp".cast("string"))
    val mask60 = lit((1L << 60) - 1)
    val aggs = (0 until k).map(j => min(($"h1" + $"h2" * lit(j.toLong)).bitwiseAND(mask60)).as(s"m$j"))
    val reference = frames
      .select($"video", conv(substring(m, 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(m, 17, 14), 16, 10).cast("long").as("h2"))
      .groupBy($"video").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val got = VideoDedup.signatures(frames, "video", "fp", k)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(reference.keySet == Set("x", "z", "w", "e"))
    assert(reference("e").forall(_ == null), "a video with no fingerprint has no minima")
    assert(got == reference)
  }
}
