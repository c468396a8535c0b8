package graft.streaming

import java.nio.file.{Files, Path}
import java.util.Comparator

import graft.multimodal.ImageOps
import graft.streaming.IngestPipeline.{FrameFeatureExtractor, RawFrame}

/** Real A15: shell out to ffmpeg exactly as the reference's hasher does
  * (`hasher.js:77-99`) — `-vf fps=12,scale=-2:180,showinfo`, frames dumped
  * as JPEGs, timecodes parsed from the `pts_time:` fields of showinfo's
  * stderr, then positionally zipped with the frame files (B5,
  * `hasher.js:101-106`).
  *
  * Feature stage divergence (documented, SURVEY A16): the reference runs
  * LIRE `GlobalFeature.extract` + `BitSampling.generateHashes` on each
  * JPEG; this environment has no LIRE jar, so each frame gets the engine's
  * in-JVM descriptor ([[ImageOps.intensityDescriptor]]) quantized to the
  * same wire shape — `hi` an md5 hex string (exact-dedup key), `ha`
  * space-separated ≤3-digit hex codes that [[IngestPipeline.vectorize]]
  * parses like the reference's hash codes.
  *
  * [[available]] probes the binary at first use: pipelines pass
  * `if (FfmpegFrameExtractor.available) FfmpegFrameExtractor else
  * StubFrameFeatureExtractor` and work in both environments.
  */
/** Fully in-JVM A15 path for MJPEG-AVI media ([[graft.multimodal.AviMjpeg]]):
  * every `movi` chunk is a complete JPEG, so the container walk + the
  * in-process ImageIO decode replace the ffmpeg shell-out entirely — the
  * one frame-extraction path THIS environment can execute end-to-end.
  * Timing comes from the container's `avih` header; sources faster than
  * the reference's 12 fps are resampled to the same 12 fps grid the
  * ffmpeg `fps=12` filter produces (nearest source frame per output
  * tick), slower sources keep their native timestamps.
  */
object AviFrameExtractor extends FrameFeatureExtractor {
  val Fps = 12 // hasher.js:87

  def extract(imdbId: String, fileName: String, bytes: Array[Byte]): Iterator[RawFrame] =
    graft.multimodal.AviMjpeg.parse(bytes) match {
      case None => Iterator.empty
      case Some(v) =>
        val native = 1e6 / v.microSecPerFrame
        val picks: Seq[(Double, Int)] =
          if (native <= Fps) v.frames.indices.map(i => (v.timeOf(i), i))
          else {
            val dur = v.timeOf(v.frames.length - 1)
            val n = math.floor(dur * Fps).toInt + 1
            (0 until n).map { k =>
              val t = k.toDouble / Fps
              (t, math.min(v.frames.length - 1, math.round(t * native).toInt))
            }
          }
        picks.iterator.map { case (t, i) =>
          val (hi, ha) = FfmpegFrameExtractor.describe(v.frames(i))
          RawFrame(imdbId, fileName, math.rint(t * 1e4) / 1e4, hi, ha) // toFixed(4), hasher.js:97
        }
    }
}

/** Per-file router: MJPEG-AVI decodes in-JVM, anything else goes through
  * ffmpeg when the binary exists, else the deterministic stub — so one
  * pipeline serves every environment and container.
  */
object AutoFrameExtractor extends FrameFeatureExtractor {
  def extract(imdbId: String, fileName: String, bytes: Array[Byte]): Iterator[RawFrame] =
    if (graft.multimodal.AviMjpeg.sniff(bytes))
      AviFrameExtractor.extract(imdbId, fileName, bytes)
    else if (FfmpegFrameExtractor.available)
      FfmpegFrameExtractor.extract(imdbId, fileName, bytes)
    else IngestPipeline.StubFrameFeatureExtractor.extract(imdbId, fileName, bytes)
}

object FfmpegFrameExtractor extends FrameFeatureExtractor {

  val Fps = 12 // hasher.js:87
  private val PtsTime = """pts_time:\s*([0-9.]+)""".r // hasher.js:93-99

  /** True iff `ffmpeg -version` runs and exits 0 on this machine. */
  lazy val available: Boolean =
    try {
      val p = new ProcessBuilder("ffmpeg", "-version")
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor() == 0
    } catch { case _: Exception => false }

  def extract(imdbId: String, fileName: String, bytes: Array[Byte]): Iterator[RawFrame] = {
    val dir = Files.createTempDirectory("graft-ffmpeg")
    try {
      val in = dir.resolve("in.mp4")
      Files.write(in, bytes)
      val pb = new ProcessBuilder(
        "ffmpeg", "-hide_banner", "-nostdin", "-i", in.toString,
        "-vf", s"fps=$Fps,scale=-2:180,showinfo", // hasher.js:87
        dir.resolve("%05d.jpg").toString)
      val proc = pb.start()
      // showinfo logs to stderr; stdout must be drained to avoid blocking
      val drain = new Thread(() => proc.getInputStream.readAllBytes())
      drain.setDaemon(true)
      drain.start()
      val stderr = new String(proc.getErrorStream.readAllBytes(), "UTF-8")
      val ok = proc.waitFor() == 0
      if (!ok) Iterator.empty
      else {
        val times = PtsTime.findAllMatchIn(stderr).map(_.group(1).toDouble).toVector
        val frames = {
          import scala.jdk.CollectionConverters._
          val s = Files.list(dir)
          try s.iterator().asScala.filter(_.toString.endsWith(".jpg")).toVector
            .sortBy(_.getFileName.toString)
          finally s.close()
        }
        // positional zip, exactly the reference's files[i] <-> times[i]
        frames.iterator.zip(times.iterator).map { case (f, t) =>
          val (hi, ha) = describe(Files.readAllBytes(f))
          RawFrame(imdbId, fileName, t, hi, ha)
        }.toVector.iterator // materialize before the temp dir is deleted
      }
    } finally {
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** Frame JPEG → (exact-dedup key, hex hash codes): `hi` is the md5 of
    * the quantized descriptor (exact-dedup key, like the reference's `_hi`
    * feature string), `ha` is the [[graft.multimodal.BitSampling]] LSH
    * output over the descriptor — 100 bundles × 12 bits, the reference's
    * actual `_ha` vector semantics (BitSampling over a LIRE global
    * descriptor, SURVEY §1.3 / `loader.js:99-105`) rather than the
    * quantized descriptor itself.
    */
  private[graft] def describe(frameBytes: Array[Byte]): (String, String) = {
    val d = ImageOps.intensityDescriptor(frameBytes, 8)
    if (d == null) ("", "")
    else {
      val q = d.map(v => math.min(255, math.max(0, math.round(v * 255))).toInt)
      val hi = graft.functions.TextFunctions.md5Hex(q.map(_.toByte))
      (hi, graft.multimodal.BitSampling.hexCodes(d))
    }
  }
}
