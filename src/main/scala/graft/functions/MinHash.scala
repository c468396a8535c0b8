package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The one MinHash format — family, row-local sketch, LSH banding and
  * argument checks. Every dedup path (text, signature lake, streaming,
  * video) calls it, so a signature lake written by one path is
  * probe-compatible with every other.
  *
  * The family: each element (shingle, frame fingerprint) is hashed with
  * ONE md5; h1 is its 60-bit [[TextFunctions.hash60Local]] value (hex
  * digits 1–15), h2 its bytes 8–14 (hex 17–30, 56 bits), and family j is
  * the Kirsch–Mitzenmacher h_j = (h1 + j·h2) mod 2⁶⁰ ("Less Hashing, Same
  * Performance", 2006). The JVM sum wraps mod 2⁶⁴ and is masked to 60
  * bits, exactly the residue mod 2⁶⁰ for any j, where a SQL sum overflows
  * under ANSI past 2⁶³. The DuckDB oracle renders it as
  * `(h1 + j*h2) & 1152921504606846975`. The families are correlated, NOT
  * as good as independent hashes: perfbench measured about 1 in 2,000
  * near pairs at J ≈ 0.98 missed by the 8-family, 4-band LSH, where
  * independent families would miss (1 − J²)⁴ ≈ 2.5e-6 (perfbench/README.md,
  * the near-dup check). The bits stay: the oracle hashes and the gate rows
  * depend on them.
  */
object MinHash {

  private val Mask60 = (1L << 60) - 1

  /** One LSH band row of a sketch: band index and band signature. */
  case class Band(band: Int, bsig: String)

  /** Fold one element's md5 digest into the k running minima. */
  private def fold(d: Array[Byte], mins: Array[Long]): Unit = {
    val h1 = TextFunctions.hash60Of(d)
    var h2 = 0L
    var i = 8
    while (i < 15) { h2 = (h2 << 8) | (d(i) & 0xffL); i += 1 }
    var j = 0
    while (j < mins.length) {
      val h = (h1 + h2 * j) & Mask60
      if (h < mins(j)) mins(j) = h
      j += 1
    }
  }

  /** Sketch of a text: each `shingleK`-token shingle of `text.split(" ", -1)`
    * is md5-hashed over its tokens' UTF-8 bytes joined by single spaces.
    * Equal to the oracle's e2_minhash_sig (StreamingNearDedupSpec keeps the
    * SQL form as the reference). Null for a null text or one of fewer than
    * `shingleK` tokens.
    */
  def sketch(text: String, k: Int, shingleK: Int): Array[Long] = {
    if (text == null) return null
    val toks = text.split(" ", -1).map(_.getBytes(UTF_8))
    if (toks.length < shingleK) return null
    val md = MessageDigest.getInstance("MD5")
    val d = new Array[Byte](16)
    val mins = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s + shingleK <= toks.length) {
      md.update(toks(s))
      var t = s + 1
      while (t < s + shingleK) { md.update(' '.toByte); md.update(toks(t)); t += 1 }
      md.digest(d, 0, 16)
      fold(d, mins)
      s += 1
    }
    mins
  }

  /** Sketch of a fingerprint set: each is md5-hashed over its decimal
    * string (SQL `md5(cast(fp AS STRING))`). Null for an empty set.
    */
  def sketch(fps: Iterable[Long], k: Int): Array[Long] = {
    if (fps.isEmpty) return null
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    fps.foreach(fp => fold(md.digest(fp.toString.getBytes(UTF_8)), mins))
    mins
  }

  /** A sketch's `bands` rows: band b's signature is the hex md5 of its
    * `k / bands` minima joined by "," (SQL `md5(concat_ws(",", m…))`, as
    * the oracle computes it); none for a null sketch.
    */
  def bands(sig: collection.Seq[Long], bands: Int): IndexedSeq[Band] = {
    if (sig == null) return IndexedSeq.empty
    val rowsPer = sig.length / bands
    (0 until bands).map { b =>
      val joined = sig.slice(b * rowsPer, (b + 1) * rowsPer).mkString(",")
      Band(b, TextFunctions.md5Hex(joined.getBytes(UTF_8)))
    }
  }

  /** On the driver: in a task, shingleK <= 0 reads past the token array. */
  def requireSketch(k: Int, shingleK: Int): Unit = {
    require(k >= 1, s"k (MinHash families) must be >= 1, got $k")
    require(shingleK >= 1, s"shingleK (tokens per shingle) must be >= 1, got $shingleK")
  }

  /** On the driver: `bands` >= 1 equal bands of k >= 1 families. */
  def requireBanding(k: Int, bands: Int): Unit = {
    require(k >= 1, s"k (MinHash families) must be >= 1, got $k")
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
  }
}
