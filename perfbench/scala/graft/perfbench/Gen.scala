package graft.perfbench

import java.awt.Color
import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, DataOutputStream, FileOutputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.multimodal.{AviMjpeg, ImageOps}

/** Seeded input generators. Every input a workload reads is made here from
  * the seed alone, written under one directory, and described by a
  * `manifest.json` that carries the planted facts the checks compare
  * against (planted neighbour ids, kept-frame count, duplicate pairs, PII
  * strings). Generation runs in its own JVM before the process under test
  * starts, so none of it lands in set-up or the timed window.
  */
object Gen {

  final case class Sizes(
      rows: Int, centers: Int, queries: Int, jitter: Int,
      docs: Int, vocab: Int, hybridQueries: Int,
      appendBatches: Int, appendRows: Int)

  val Dim = 64
  // serve_local stays under SearchService's 200k-row local-tier budget;
  // serve_lake's collection is above the budget it is served with
  // (Main.LakeRowBudget), so every request takes the distributed plan.
  // Background centres plus one per query image make the nlist = 128 IVF
  // centroids the generator hands the service as its nightly artifact.
  val ServeLocal = Sizes(rows = 20000, centers = 64, queries = 64, jitter = 14,
    docs = 4000, vocab = 3000, hybridQueries = 64, appendBatches = 0, appendRows = 0)
  val ServeLake = Sizes(rows = 24000, centers = 64, queries = 64, jitter = 14,
    docs = 0, vocab = 0, hybridQueries = 0, appendBatches = 12, appendRows = 200)

  val VideoCount = 12
  val FramesPerVideo = 120
  val RunLength = 3 // identical frames per planted run: 1 of 3 is kept
  val Width = 320
  val Height = 180
  val Fps = 12

  val CorpusDocs = 6000

  def main(workload: String, seed: Long, dir: Path): Unit = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val manifest = workload match {
      case "serve_local" => serve(rnd, dir, ServeLocal)
      case "serve_lake"  => serve(rnd, dir, ServeLake)
      case "ingest_video" => videos(rnd, dir)
      case "curate_corpus" => corpus(rnd, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.write(dir.resolve("manifest.json"), manifest.getBytes(StandardCharsets.UTF_8))
  }

  // ---- images ------------------------------------------------------------

  /** A textured frame: a seeded colour gradient under random rectangles,
    * so the 8×8 intensity descriptor differs between any two frames.
    */
  def texturedJpeg(rnd: SplittableRandom): Array[Byte] = {
    val img = new BufferedImage(Width, Height, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    val c0 = new Color(rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    val c1 = new Color(rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    g.setPaint(new java.awt.GradientPaint(0, 0, c0, Width.toFloat, Height.toFloat, c1))
    g.fillRect(0, 0, Width, Height)
    for (_ <- 0 until 24) {
      g.setColor(new Color(rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      g.fillRect(rnd.nextInt(Width), rnd.nextInt(Height), 8 + rnd.nextInt(96), 8 + rnd.nextInt(64))
    }
    g.dispose()
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  // ---- vectors -----------------------------------------------------------

  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def writeF32(path: Path, rows: Iterator[Array[Float]]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile)))
    try rows.foreach(_.foreach(x => out.writeInt(Integer.reverseBytes(java.lang.Float.floatToIntBits(x)))))
    finally out.close()
  }

  /** Clustered, L2-normalised, non-negative vectors (image descriptors live
    * in the positive orthant). Each query image's normalised descriptor is
    * planted at a known id with `jitter` near copies right after it, so its
    * exact top-15 is known to sit in one tight group.
    */
  private def serve(rnd: SplittableRandom, dir: Path, s: Sizes): String = {
    val qdir = dir.resolve("queries")
    Files.createDirectories(qdir)
    val descs = (0 until s.queries).map { i =>
      val bytes = texturedJpeg(rnd)
      Files.write(qdir.resolve(f"q$i%03d.jpg"), bytes)
      normalize(ImageOps.intensityDescriptor(bytes, 8))
    }
    // peaked centres sit far from the smooth image descriptors and from
    // each other, so KMeans gives every planted group a list of its own
    val centers = Array.fill(s.centers)(normalize(Array.fill(Dim)(math.pow(rnd.nextDouble(), 4).toFloat)))
    def background(): Array[Float] = {
      val c = centers(rnd.nextInt(s.centers))
      normalize(c.map(x => math.max(0f, x + (rnd.nextGaussian() * 0.03).toFloat)))
    }
    val group = 1 + s.jitter
    val planted = (0 until s.queries).map(i => i.toLong * (s.rows / s.queries))
    val plantedAt = planted.zipWithIndex.toMap
    val rows = Iterator.range(0, s.rows).map { id =>
      val base = (id.toLong / (s.rows / s.queries)) * (s.rows / s.queries)
      val off = id - base
      plantedAt.get(base) match {
        case Some(q) if off == 0 => descs(q)
        case Some(q) if off < group =>
          normalize(descs(q).map(x => x + (rnd.nextGaussian() * 0.004).toFloat))
        case _ => background()
      }
    }
    writeF32(dir.resolve("vectors.f32"), rows)
    writeF32(dir.resolve("centroids.f32"), (centers.toSeq ++ descs).iterator)
    writeF32(dir.resolve("appends.f32"),
      Iterator.fill(s.appendBatches * s.appendRows)(background()))

    if (s.docs > 0) {
      val words = vocabulary(rnd, s.vocab)
      val zipf = zipfSampler(rnd, s.vocab)
      val docs = (0 until s.docs).map(_ => Seq.fill(20 + rnd.nextInt(40))(words(zipf())).mkString(" "))
      Files.write(dir.resolve("hybrid_corpus.tsv"),
        docs.zipWithIndex.map { case (t, i) => s"$i\t$t" }.mkString("\n").getBytes(StandardCharsets.UTF_8))
      // query terms from the mid-frequency band of the served vocabulary
      val texts = (0 until s.hybridQueries).map(_ =>
        Seq.fill(2 + rnd.nextInt(3))(words(20 + rnd.nextInt(s.vocab / 2))).mkString(" "))
      Files.write(dir.resolve("hybrid_queries.txt"),
        texts.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    s"""{"rows":${s.rows},"dim":$Dim,"queries":${s.queries},"group":$group,""" +
      s""""planted":[${planted.mkString(",")}],"docs":${s.docs},""" +
      s""""hybrid_queries":${s.hybridQueries},"append_batches":${s.appendBatches},""" +
      s""""append_rows":${s.appendRows}}"""
  }

  // ---- text --------------------------------------------------------------

  private def vocabulary(rnd: SplittableRandom, n: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }

  /** Zipf(1) rank sampler over `n` words by inverse-CDF lookup. */
  private def zipfSampler(rnd: SplittableRandom, n: Int): () => Int = {
    val cdf = (1 to n).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    () => {
      val u = rnd.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- video -------------------------------------------------------------

  /** MJPEG-AVI clips staged as `.mp4` (the watcher's glob). Every clip is
    * runs of `RunLength` identical frames, each run a fresh texture, so
    * temporal dedup keeps exactly one frame per run.
    */
  private def videos(rnd: SplittableRandom, dir: Path): String = {
    val vdir = dir.resolve("videos")
    for (v <- 0 until VideoCount) {
      val frames = (0 until FramesPerVideo / RunLength).flatMap { _ =>
        val f = texturedJpeg(rnd)
        Seq.fill(RunLength)(f)
      }
      val clipDir = vdir.resolve(f"tt$v%04d")
      Files.createDirectories(clipDir)
      Files.write(clipDir.resolve(f"clip$v%02d.mp4"), AviMjpeg.write(frames, Fps, Width, Height))
    }
    val frames = VideoCount * FramesPerVideo
    s"""{"videos":$VideoCount,"frames":$frames,"kept":${frames / RunLength}}"""
  }

  // ---- curation corpus ---------------------------------------------------

  /** Documents of 60–120 words. Planted, at stated rates: exact copies
    * (8 %), near copies that append one word (6 %, 3-shingle Jaccard ≈ 0.99
    * so MinHash-LSH finds them), and PII — an e-mail, an IPv4 address or an
    * international phone number — in 5 % of the documents. Copies are made
    * of original documents only, so every duplicate group is a star and
    * connected components settle in the same number of rounds for every
    * seed.
    */
  private def corpus(rnd: SplittableRandom, dir: Path): String = {
    val words = vocabulary(rnd, 20000)
    val zipf = zipfSampler(rnd, words.length)
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    val exact = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val near = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val pii = scala.collection.mutable.ArrayBuffer.empty[String]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    def fresh(): String = {
      val body = Seq.fill(60 + rnd.nextInt(60))(words(zipf()))
      if (rnd.nextDouble() < 0.05) {
        val s = rnd.nextInt(3) match {
          case 0 => s"${words(rnd.nextInt(500))}.${pii.size}@${words(rnd.nextInt(500))}.org"
          case 1 => s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${pii.size % 250 + 1}"
          case _ => f"+44-20-${rnd.nextInt(10000)}%04d-${pii.size}%04d"
        }
        pii += s
        body.patch(rnd.nextInt(body.length), Seq(s), 0).mkString(" ")
      } else body.mkString(" ")
    }
    while (docs.length < CorpusDocs) {
      val u = rnd.nextDouble()
      if (u < 0.08 && originals.nonEmpty) {
        val src = originals(rnd.nextInt(originals.length))
        exact += ((src, docs.length)); docs += docs(src)
      } else if (u < 0.14 && originals.nonEmpty) {
        val src = originals(rnd.nextInt(originals.length))
        near += ((src, docs.length)); docs += docs(src) + " " + words(rnd.nextInt(words.length))
      } else { originals += docs.length; docs += fresh() }
    }
    Files.write(dir.resolve("corpus.tsv"),
      docs.zipWithIndex.map { case (t, i) => s"$i\t$t" }.mkString("\n").getBytes(StandardCharsets.UTF_8))
    def pairs(ps: Seq[(Int, Int)]) = ps.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
    s"""{"docs":${docs.length},"exact_pairs":${pairs(exact.toSeq)},""" +
      s""""near_pairs":${pairs(near.toSeq)},""" +
      s""""pii":${pii.map(p => "\"" + p + "\"").mkString("[", ",", "]")}}"""
  }
}
