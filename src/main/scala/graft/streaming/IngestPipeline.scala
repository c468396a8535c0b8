package graft.streaming

import graft.functions.VectorFunctions._
import graft.operators.TemporalDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's ingest dataflow (SURVEY §3.1-3.2: watcher → hasher →
  * loader) collapsed into ONE Structured Streaming query:
  *
  *   binaryFile stream (A1 watch; replaces chokidar + HTTP + WebSocket hops)
  *     → mp4 filter + path projection        (B1/B2)
  *     → per-file frame+feature extraction   (A15/A16, mapPartitions)
  *     → hex-parse + L2-normalize + keys     (B7-B10)
  *     → per-file temporal dedup             (C3)
  *     → append to the frames table, partitioned by algo (A10)
  *
  * Exactly-once bookkeeping comes from the file-source + checkpoint —
  * stronger than the reference's at-least-once WebSocket ack/retry loops
  * (`hasher.js:188-196`, `loader.js:359-364`). The 2 s write-stability
  * window (`watcher.js:66 awaitWriteFinish`) maps to `maxFilesPerTrigger` +
  * trigger interval backpressure.
  */
object IngestPipeline {

  /** One extracted frame before vectorization: timecode seconds, LIRE-style
    * feature string (`_hi`), space-separated hex hash codes (`_ha`).
    */
  case class RawFrame(imdbId: String, fileName: String, time: Double,
                      hi: String, ha: String)

  /** Frame+feature extraction boundary (SURVEY A15/A16). The reference
    * shells to ffmpeg (`-vf fps=12,scale=-2:180`, `hasher.js:87`) and runs
    * LIRE global-feature extraction + BitSampling hashing in-JVM; here
    * [[FfmpegFrameExtractor]] reproduces the ffmpeg stage for real (when
    * the binary exists) with [[graft.multimodal.ImageOps]] descriptors +
    * [[graft.multimodal.BitSampling]] LSH codes as the feature stage, and
    * [[StubFrameFeatureExtractor]] fakes the decode deterministically in
    * binary-less environments while every Spark-side seam (schema,
    * partitioning, task-parallel extraction) stays real and tested.
    */
  trait FrameFeatureExtractor extends Serializable {
    def extract(imdbId: String, fileName: String, bytes: Array[Byte]): Iterator[RawFrame]
  }

  /** Deterministic STUB for the ffmpeg+LIRE stage: synthesizes
    * `12 fps × pseudo-duration(bytes)` frames whose hash codes are seeded
    * md5s — stable across runs, so dedup/search downstream is testable.
    * Swap for an ffmpeg/LIRE-backed implementation in production.
    */
  object StubFrameFeatureExtractor extends FrameFeatureExtractor {
    val Fps = 12 // hasher.js:87
    def extract(imdbId: String, fileName: String, bytes: Array[Byte]): Iterator[RawFrame] = {
      val durationSec = math.max(1, bytes.length / 1024) // ??? real: ffprobe
      (0 until durationSec * Fps).iterator.map { i =>
        val t = i.toDouble / Fps
        // every 4th frame repeats the previous hash to exercise dedup
        val effective =
          if (i % 4 == 3) s"$imdbId/$fileName/${i - 1}" else s"$imdbId/$fileName/$i"
        val h2 = graft.functions.TextFunctions.md5Hex(effective.getBytes("UTF-8"))
        val ha = (0 until 100).map { d =>
          Integer.parseInt(h2.substring((d * 3) % 29, (d * 3) % 29 + 3), 16).toHexString
        }.mkString(" ")
        RawFrame(imdbId, fileName, t, h2, ha)
      }
    }
  }

  /** Runtime-selected A15 extractor: MJPEG-AVI always decodes fully
    * in-JVM ([[AviFrameExtractor]]), other containers go through the real
    * ffmpeg shell-out when the binary exists, and the deterministic stub
    * otherwise — pipelines work identically in every environment.
    */
  def defaultExtractor: FrameFeatureExtractor = AutoFrameExtractor

  /** A1+B1+B2: recursive binary-file stream filtered to .mp4 with
    * (imdbId, fileName) projected from the path (`watcher.js:22-29`).
    */
  /** binaryFile's fixed schema — streaming sources require it explicitly. */
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))

  def mediaStream(spark: SparkSession, watchDir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.mp4")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(watchDir)
      .select(
        element_at(split(col("path"), "/"), -2).as("imdb_id"),
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("content"))

  /** A15/A16 as a distributed stage: one extraction task per media file
    * partition (the reference's `-n 16` thread pool ≈ task parallelism).
    */
  def extractFrames(media: DataFrame, extractor: FrameFeatureExtractor): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select($"imdb_id", $"file_name", $"content").as[(String, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (i, f, c) => extractor.extract(i, f, c) })
      .toDF()
  }

  /** B7-B11: vectorize, normalize, build keys, attach duration. */
  def vectorize(frames: DataFrame, algo: String, dim: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("imdbId"), col("fileName"))
    frames
      .withColumn("vec_raw", parseHexVector(col("ha"), dim))
      .withColumn("norm", l2Norm(col("vec_raw")))
      // an all-zero hash vector (e.g. a black frame whose descriptor
      // samples no bits) has norm 0 — keep it as the zero vector instead
      // of tripping ANSI division-by-zero mid-stream
      .withColumn("ha_vec",
        when(col("norm") > 0, l2NormalizeWith(col("vec_raw"), col("norm")))
          .otherwise(col("vec_raw")))
      .withColumn("duration", max(col("time")).over(w).cast("float"))
      .withColumn("hash_id", hashId(col("imdbId"), col("fileName"), col("time")))
      .withColumn("primary_key", enginePrimaryKey(col("hash_id")))
      .withColumn("algo", lit(algo))
      .select(
        col("imdbId").as("imdb_id"), col("fileName").as("file_name"),
        col("time"), col("hi"), col("ha_vec").as("ha"),
        col("duration"), col("primary_key"), col("hash_id"), col("algo"))
  }

  /** A9/B6 in streaming form — the reference's loader role: watch for
    * LIRE-Solr XML hash artifacts (plain or .xz), parse them distributed,
    * and emit RawFrame rows with (imdbId, fileName) projected from the
    * artifact path (`loader.js:170`).
    */
  def hashArtifactStream(spark: SparkSession, watchDir: String, algo: String,
                         maxFilesPerTrigger: Int = 16): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.xml*")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(watchDir)
      .select($"path", $"content").as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        val parts = path.split("/")
        val imdbId = if (parts.length >= 2) parts(parts.length - 2) else ""
        val fileName = parts.last.replaceAll("\\.xml(\\.xz)?$", "")
        graft.sources.HashXmlSource.parseArtifact(path, bytes, algo).iterator
          .map(r => RawFrame(imdbId, fileName, r.getDouble(1), r.getString(2), r.getString(3)))
      })
      .toDF()
  }

  /** Streaming loader (§3.2): artifact stream → vectorize → C3 dedup →
    * frames table. Same sink contract as [[start]].
    */
  def startFromArtifacts(
      spark: SparkSession,
      watchDir: String,
      framesPath: String,
      checkpoint: String,
      algo: String,
      availableNow: Boolean = false): StreamingQuery = {
    val stream = hashArtifactStream(spark, watchDir, algo)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // artifacts missing the algo's fields yield null hi/ha — skip them
        val frames = vectorize(
          batch.where(col("hi").isNotNull && col("ha").isNotNull), algo)
        val deduped = TemporalDedup.dedup(
          frames, Seq("imdb_id", "file_name"), "time", "hi", 2.0, 24)
        deduped.write.mode("append").partitionBy("algo").parquet(framesPath)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The full streaming query. Each micro-batch: extract → vectorize →
    * C3 dedup (batch-exact, since files arrive whole) → append parquet
    * partitioned by algo (partition pruning for per-descriptor queries).
    */
  def start(
      spark: SparkSession,
      watchDir: String,
      framesPath: String,
      checkpoint: String,
      algo: String,
      extractor: FrameFeatureExtractor = StubFrameFeatureExtractor,
      availableNow: Boolean = false): StreamingQuery = {
    val stream = mediaStream(spark, watchDir)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val frames = vectorize(extractFrames(batch, extractor), algo)
        val deduped = TemporalDedup.dedup(
          frames, Seq("imdb_id", "file_name"), "time", "hi",
          windowSec = 2.0, lookback = 24) // loader.js:205-208
        deduped.write.mode("append").partitionBy("algo").parquet(framesPath)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
