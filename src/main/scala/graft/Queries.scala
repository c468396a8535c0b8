package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{AnnSearch, AsOfJoin, ConnectedComponents, IncrementalDedup, IvfIndex, LineDedup, LmScore, Pq, RangeJoin, Sampling, SequencePack, TemporalDedup, TextDedup, VectorMetric}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's query corpus: one entry per operator in SURVEY.md §2 plus
  * the §2.E training-data-pipeline extensions, each over the driver's
  * synthetic tables with a DuckDB-checkable oracle (SparkEntry.oracleSql).
  *
  * Cross-engine determinism rules used throughout (so hash-compare passes):
  *  - money/decimal aggregates: cast to DECIMAL(18,2) before SUM (exact,
  *    order-independent), cast the result to DOUBLE;
  *  - integer aggregates: CAST(SUM(..) AS BIGINT) on the oracle side
  *    (DuckDB widens BIGINT sums to HUGEINT);
  *  - float folds (dot products, norms): sequential left-to-right DOUBLE
  *    accumulation on both sides — bit-identical — then ROUND(.., 6);
  *  - every query ends in a total ORDER BY.
  */
object Queries {
  private val Dec = "decimal(18,2)"
  private def dec(c: Column): Column = c.cast(Dec)
  private def one: Column = lit(1).cast(Dec)

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- §2.B ops

  /** B1 extension filter (watcher.js:25-29 analog). */
  val b1ExtFilter: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .where(substring($"source", -1, 1).isin("0", "1", "2", "3"))
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** B2 path → (head, tail) projection (watcher.js:22-23). */
  val b2PathProject: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", concat_ws("/", $"source", $"doc_id").as("path"))
      .select($"doc_id",
        element_at(split($"path", "/"), 1).as("head"),
        element_at(split($"path", "/"), -1).as("tail"))
      .orderBy($"doc_id")
  }

  /** B3 whitelist predicate (hasher.js:28-49). */
  val b3Whitelist: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .where($"event_type".isin("click", "view", "error"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** B4 regex numeric extract (hasher.js:93-99 pts_time analog). */
  val b4RegexExtract: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id",
        regexp_extract($"props", "\"k\":\\s*([0-9]+)", 1).cast("long").as("k"))
      .orderBy($"event_id")
  }

  /** B7 hex→int parse (loader.js:110-117): 3-hex-digit codes from md5. */
  val b7HexParse: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        conv(substring(md5($"text"), 1, 3), 16, 10).cast("long").as("hex_val"))
      .orderBy($"doc_id")
  }

  /** B8 L2 normalization (loader.js:120-128). */
  val b8L2Normalize: Q = (s, d) => {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", l2Norm($"embedding").as("n"))
      .select($"vec_id",
        round($"n", 6).as("norm"),
        round(element_at($"embedding", 1).cast("double") / $"n", 6).as("e1"))
      .orderBy($"vec_id")
  }

  /** B9 char-code-sum primary key (loader.js:131-143). */
  val b9CharcodeKey: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", charCodeSum($"source").as("pk"))
      .orderBy($"doc_id")
  }

  /** B10 composite hash_id build (loader.js:241). */
  val b10HashId: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        concat_ws("/", $"source", $"doc_id",
          format_string("%.2f", $"n_chars".cast("double"))).as("hash_id"))
      .orderBy($"doc_id")
  }

  /** B11 per-entity max broadcast onto rows (loader.js:200,244). */
  val b11DurationWindow: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
    Tables.events(s, d)
      .select($"event_id", $"user_id", max($"ts").over(w).as("user_max_ts"))
      .orderBy($"event_id")
  }

  /** B12 MD5 content hash (searcher.js:146-149). */
  val b12Md5: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", md5($"text").as("digest"))
      .orderBy($"doc_id")
  }

  /** B13 magic-byte type sniff (searcher.js:151-155) — hex-prefix CASE. */
  val b13MagicSniff: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        when(substring(md5($"text"), 1, 1).isin("0", "1", "2", "3"), "png")
          .when(substring(md5($"text"), 1, 1).isin("4", "5", "6", "7"), "jpg")
          .otherwise("other").as("kind"))
      .orderBy($"doc_id")
  }

  /** First 8 md5 hex digits of a testdata path — the tag that keeps two
    * paths' staged copies apart (a sanitized path alone is lossy).
    */
  private def pathTagOf(d: String): String =
    graft.functions.TextFunctions.md5Hex(d.getBytes("UTF-8")).take(8)

  // JSONL/CSV mirrors of the documents table, written once per
  // (session, sf, source version) — like the bucketed tables, a layout
  // job outside the timed read path.
  private val textFormatStage = new operators.SessionCache[String]
  private def ensureTextFormat(s: SparkSession, d: String, fmt: String): String =
    textFormatStage.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#$fmt#${sourceTag(d, "documents.parquet")}") {
      val pathTag = pathTagOf(d)
      // PID-keyed: Spark's overwrite deletes the dir before rewriting, so
      // a concurrent bench/verify JVM sharing the path could read a
      // half-written mirror (ADVICE r9 #2)
      val out = graft.sources.TempDirs.register(
        s"/tmp/graft_${fmt}_docs_${ProcessHandle.current().pid()}_" +
          d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + pathTag)
      val w = Tables.documents(s, d).write.mode("overwrite")
      fmt match {
        case "json" => w.json(out)
        case "orc"  => w.orc(out)
        // escape=quote (RFC 4180 doubling) + header; multiLine on the read
        // side handles embedded newlines in text. nullValue is pinned to a
        // sentinel that cannot collide with document text, so an empty
        // STRING field roundtrips as "" instead of silently becoming null
        // on read (ADVICE r9 #1 — the default maps both to "")
        case "csv" =>
          // the sentinel's no-collision claim is an INVARIANT of the
          // corpus, not of CSV — enforce it where the mirror is written
          // (ADVICE r9 #1 follow-up): a field that IS the literal \N
          // would roundtrip to NULL
          val collisions = Tables.documents(s, d)
            .where(col("text") === "\\N" || col("lang") === "\\N" ||
              col("source") === "\\N")
            .limit(1).count()
          require(collisions == 0,
            "csv mirror: a document field equals the \\N null sentinel")
          w.option("header", "true").option("escape", "\"")
            .option("nullValue", "\\N").csv(out)
      }
      out
    }

  /** B15 JSONL ingest roundtrip — the lake's interchange format beside
    * parquet and the reference's xz-XML: documents written as JSON lines,
    * read back through the schema'd json source, hash-identical to the
    * parquet original (JSON escaping is lossless). The write is a
    * session-cached layout job; the timed query is the schema'd read a
    * 100 TB JSONL drop directory would pay.
    */
  val b15JsonlRoundtrip: Q = (s, d) => {
    import s.implicits._
    val dir = ensureTextFormat(s, d, "json")
    s.read.schema(Tables.documents(s, d).schema).json(dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** B16 CSV ingest roundtrip — same contract for the CSV source, with
    * the quoting corner cases live: RFC 4180 escape-by-doubling and
    * multiLine for embedded newlines in the text column.
    */
  val b16CsvRoundtrip: Q = (s, d) => {
    import s.implicits._
    val dir = ensureTextFormat(s, d, "csv")
    s.read.schema(Tables.documents(s, d).schema)
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .option("nullValue", "\\N").option("emptyValue", "")
      .csv(dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** B17 ORC ingest roundtrip — the second columnar lake format beside
    * parquet (the Hive-ecosystem interchange a shared lake actually sees):
    * documents mirrored to ORC (session-cached layout job) and read back
    * through the native vectorized ORC source, hash-identical to the
    * parquet original. Columnar→columnar, so pushdown/pruning semantics
    * carry over unchanged — the row proves the engine's source surface
    * isn't parquet-monogamous.
    */
  val b17OrcRoundtrip: Q = (s, d) => {
    import s.implicits._
    val dir = ensureTextFormat(s, d, "orc")
    s.read.schema(Tables.documents(s, d).schema).orc(dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- §2.C ops

  /** C1 sort by timecode (hasher.js:154-159). */
  val c1SortLimit: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id", $"ts")
      .orderBy($"ts", $"event_id")
      .limit(100)
  }

  /** C3 temporal kept-set dedup — EXACT reference semantics
    * (loader.js:202-212); not SQL-expressible, rows-only check. Events per
    * user ordered by ts, key = event_type, 600 s window, 24-kept lookback.
    */
  val c3TemporalDedup: Q = (s, d) => {
    import s.implicits._
    // project to the dedup-relevant columns BEFORE the scan: the kept-set
    // pass leaves Tungsten (rdd.mapPartitions), so every extra column pays
    // row-materialization cost
    val ev = Tables.events(s, d)
      .withColumn("t", unix_micros($"ts".cast("timestamp")) / 1e6)
      .select($"user_id", $"t", $"event_type", $"event_id")
    TemporalDedup.dedup(ev, Seq("user_id"), "t", "event_type", 600.0,
        tiebreakCols = Seq("event_id"))
      .select($"event_id").orderBy($"event_id")
  }

  /** C3' seen-set window variant (SQL-expressible; divergence documented in
    * SURVEY §7.4.1). Integer-microsecond math for cross-engine exactness.
    */
  val c3WindowDedup: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("tus", unix_micros($"ts".cast("timestamp")))
    TemporalDedup.dedupSeenSet(ev, Seq("user_id"), "tus", "event_type", 600e6,
        tiebreakCols = Seq("event_id"))
      .select($"event_id").orderBy($"event_id")
  }

  /** C4 max/sum aggregate per entity (loader.js:200). */
  val c4MaxAgg: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max($"ts").as("max_ts"), count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"user_id")
  }

  /** C5 fixed-size chunking (loader.js:233-255). Global ordinals come from
    * the distributed two-pass [[graft.operators.GlobalRank]] — a global
    * `row_number()` window would funnel every event through ONE partition.
    */
  val c5Chunking: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_id")
    graft.operators.GlobalRank.withGlobalIndex(ev, Seq($"event_id"), "rank")
      .select($"event_id", floor($"rank" / 1000.0).cast("long").as("chunk"))
      .groupBy($"chunk")
      .agg(count(lit(1)).as("n"), min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"chunk")
  }

  /** C8 exact ANN top-15 by inner product (searcher.js:99-110) — the
    * reference's core serving query; query vector = embedding of vec_id 0.
    */
  val c8AnnExact: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    AnnSearch.exactTopK(e.where($"vec_id" =!= 0), "embedding", "vec_id", q, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-L2 exact nearest-15 by SQUARED L2 distance — the Milvus
    * `MetricType.L2` half of the metric surface the reference leaves at IP
    * (searcher.js:104). Same serving shape as [[c8AnnExact]] (scored scan →
    * TakeOrderedAndProject), ordered ASCENDING; the score is the native
    * codegen'd `fast_l2sq` sequential fold, bit-matched by the oracle's
    * list fold.
    */
  val c8AnnL2: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    AnnSearch.exactTopK(e.where($"vec_id" =!= 0), "embedding", "vec_id", q, 15,
        VectorMetric.L2)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-COS exact top-15 by cosine — the third Milvus metric; IP over the
    * row norm × query norm, same sequential-double-fold parity argument as
    * the e5 cosine-pairs oracle.
    */
  val c8AnnCos: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    AnnSearch.exactTopK(e.where($"vec_id" =!= 0), "embedding", "vec_id", q, 15,
        VectorMetric.Cosine)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-BATCH — [[AnnSearch.batchTopK]], the offline-eval / nightly
    * re-rank shape: EVERY query vector scored against the base in ONE lake
    * scan (a per-query loop of exact scans is how a 100 TB lake dies). The
    * query batch broadcasts; each base partition folds its rows into
    * per-query O(k) heaps (`topk_ids`), so the single shuffle carries
    * #partitions × #queries × k pairs, never the scored cross product.
    * Output is (qid, rank, vec_id) — rank 0-based best-first, ties
    * (score DESC, id ASC) — the exact order the oracle's window replays.
    * The queries frame deliberately keeps the base's own `embedding`
    * column name: the pre-join minimal projections (ADVICE r12) make the
    * name overlap legal.
    */
  val c8BatchTopK: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val base = e.where($"vec_id" >= 3)
    val queries = e.where($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding")
    AnnSearch.batchTopK(base, "embedding", "vec_id", queries, "qid", "embedding", 15)
  }

  /** C8-BATCH-IVF-DET — [[AnnSearch.batchTopKIvf]] under the hash gate
    * with the deterministic axis-block model: every query ranks the
    * centroids IN THE PLAN (same score + stable index tie-break as the
    * driver-side `rankCentroids`), explodes to its nprobe=3 probe
    * clusters, and the probe set broadcast-equi-joins the assigned base —
    * the batched, equi-join form of [[c8AnnIvfDet]]'s per-query prune.
    * The oracle replays in-SQL centroid ranking (per-query window over
    * the 8 block sums), first-max assignment, the per-cluster candidate
    * restriction, and the heap order.
    */
  val c8BatchIvfDet: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val dim = e.select(size($"embedding")).head().getInt(0)
    val model = axisBlockIvfModel(dim)
    val indexed = IvfIndex.assign(e.where($"vec_id" >= 3), "embedding", model)
    val queries = e.where($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding")
    AnnSearch.batchTopKIvf(indexed, model, "embedding", "vec_id", "cluster_id",
      queries, "qid", "embedding", 15, nprobe = 3)
  }

  /** C8-DET — the IVF prune+probe pipeline UNDER THE HASH GATE (VERDICT
    * r10 #2): the same [[IvfIndex.assign]] → [[IvfIndex.rankCentroids]] →
    * prune → exact-top-k machinery as [[c8AnnIvf]], but with sd1's
    * deterministic equal-norm axis-block centroids (centroid j is 1 on
    * dims 8j..8j+7, 0 elsewhere, so ‖c‖² = 8 for all j and `assign`'s
    * argmin ‖v−c‖² = argmax block-sum — a pure function of the row the
    * oracle replays in SQL). Every stage the KMeans rows exercise —
    * streaming-insert assignment expression, driver-side centroid ranking
    * (ip desc, stable index tie-break), the `cluster_id IN` prune, and
    * the probed top-k — is hash-checked end-to-end; the KMeans rows keep
    * proving the learned-centroid path with recall sidecars.
    */
  /** The deterministic equal-norm axis-block IVF model shared by the three
    * det-ANN gate rows: centroid j is 1 on dims [j·(dim/8), (j+1)·(dim/8)),
    * 0 elsewhere — ‖c‖² is equal for all j, so `assign`'s argmin ‖v−c‖²
    * reduces to argmax block-sum, a pure row function the oracles replay.
    * (Requires 8 | dim; the gate tables are dim=64.)
    */
  private[graft] def axisBlockIvfModel(dim: Int): IvfIndex.Model = {
    require(dim % 8 == 0, s"axis-block model needs 8 | dim, got $dim")
    val w = dim / 8
    IvfIndex.Model(Array.tabulate(8)(j =>
      Array.tabulate(dim)(i => if (i / w == j) 1.0 else 0.0)))
  }

  val c8AnnIvfDet: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val indexed = IvfIndex.assign(e.where($"vec_id" =!= 0), "embedding", model)
    IvfIndex.search(indexed, model, "embedding", "vec_id", q, 15, nprobe = 3)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  // Incrementally-GROWN IVF lake fixture: 4/5 of the base vectors written
  // as the partitioned lake under the axis-block model (the nightly
  // build), the remaining 1/5 assign-appended under the SAME fixed
  // centroids ([[IvfIndex.appendToLake]] — the delta-sized daily job, no
  // refit, no lake rewrite). Built once per (session, sf, source version);
  // the gate row times the PROBE over the at-rest grown lake.
  private val ivfAppendStage = new operators.SessionCache[String]
  private def ensureIvfAppendLake(s: SparkSession, d: String): String =
    ivfAppendStage.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "embeddings.parquet")}") {
      import s.implicits._
      val pathTag = pathTagOf(d)
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_ivf_append_${ProcessHandle.current().pid()}_" +
          s"${operators.SessionCache.token(s).take(8)}_$pathTag")
      val e = Tables.embeddings(s, d)
      val model = axisBlockIvfModel(e.select(size($"embedding")).head().getInt(0))
      IvfIndex.write(IvfIndex.assign(
        e.where($"vec_id" =!= 0 && $"vec_id" % 5 =!= 1), "embedding", model), dir)
      IvfIndex.appendToLake(
        e.where($"vec_id" =!= 0 && $"vec_id" % 5 === 1), "embedding", model, dir)
      dir
    }

  /** C8-IVF-APPEND — incremental index maintenance under c8_ann_ivf_det's
    * oracle VERBATIM (the e2i/r5 one-oracle-two-plans trick): the lake
    * was built from 4/5 of the vectors and GROWN by [[graft.operators
    * .IvfIndex.appendToLake]] (assign-only insert under the fixed
    * centroids — the daily job whose cost is the delta, closing the
    * build/maintenance split behind r2's linear build decade), and the
    * nprobe-pruned probe over the grown lake must hash-match the
    * replay over ALL vectors. The probe's `cluster_id IN` filter is
    * partition pruning over base and delta files alike.
    */
  val c8AnnIvfAppend: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val indexed = s.read.parquet(ensureIvfAppendLake(s, d))
    IvfIndex.search(indexed, model, "embedding", "vec_id", q, 15, nprobe = 3)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-SQ8-DET — the reference's ACTUAL serving plan (Milvus IVF_SQ8,
    * searcher.js:99-110) fully composed UNDER THE HASH GATE: deterministic
    * axis-block IVF assignment + centroid ranking + nprobe prune
    * ([[c8AnnIvfDet]]'s machinery) feeding the SQ8 byte_dot ADC score
    * ([[c7Sq8Ann]]'s KMeans-free codec) — prune and codec value-checked IN
    * COMPOSITION, not just separately. Reuses c7's session-cached
    * fit+encode, so the timed work is assignment + prune + byte_dot.
    */
  val c8AnnIvfSq8Det: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val (enc, sq8) = graft.operators.Sq8.fitEncodeCached(s, s"$d#sq8",
      e.where($"vec_id" =!= 0), "embedding")
    val probed = IvfIndex.rankCentroids(model, q, VectorMetric.Ip, 3)
    val indexed = IvfIndex.assign(enc, "embedding", model)
      .where($"cluster_id".isin(probed.toIndexedSeq: _*))
    AnnSearch.topK(
      indexed.select($"vec_id",
        graft.operators.Sq8.score($"codes", sq8, q).as("score")),
      "vec_id", VectorMetric.Ip, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-PQ-DET — the LAST quantized codec under the hash gate: Milvus
    * IVF_PQ (the high-compression sibling of the reference's IVF_SQ8,
    * loader.js:332-334) composed end-to-end with value equality. Same
    * deterministic axis-block IVF prune as [[c8AnnIvfDet]]; the PQ half
    * uses [[Pq.gridFit]]'s grid codebooks (constant-vector centroids on a
    * per-subspace min/max grid of subvector means), under which the REAL
    * machinery — [[Pq.encodeVec]]'s per-subspace argmin, the query-LUT
    * build, and the codegen'd `byte_lut_sum` ADC kernel — is a pure
    * function of the data the oracle replays fold-for-fold in SQL. The
    * KMeans-codebook row ([[c7PqAnn]]) keeps proving the learned path with
    * recall sidecars; this row proves the pipeline's VALUES. Encode comes
    * from [[Pq.gridFitEncodeCached]] — a periodic build, so the timed query
    * is assignment + prune + ADC, the serving shape.
    */
  val c8AnnIvfPqDet: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val (enc, pq) = Pq.gridFitEncodeCached(s, s"$d#pqdet",
      e.where($"vec_id" =!= 0), "embedding", m = 8, ksub = 16)
    val probed = IvfIndex.rankCentroids(model, q, VectorMetric.Ip, 3)
    val indexed = IvfIndex.assign(enc, "embedding", model)
      .where($"cluster_id".isin(probed.toIndexedSeq: _*))
    AnnSearch.topK(
      indexed.select($"vec_id", Pq.score($"pq_codes", pq, q).as("score")),
      "vec_id", VectorMetric.Ip, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  // ------------------------------------------------------------- joins / agg

  /** TPC-H Q1-style pricing summary (filters+group+decimal aggregates). */
  val q1PricingAgg: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .where($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (one - dec($"l_discount"))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** 3-way join + revenue rollup (customer ⋈ orders ⋈ lineitem). The join
    * shape is pinned for the fact/dim asymmetry instead of left to stats:
    * customer (the true dimension) broadcasts into orders, and the enriched
    * orders side is the hinted SHUFFLE_HASH build side against lineitem —
    * the fact table is always the streamed probe, never a broadcast build
    * (AQE's stats-driven pick broadcast lineitem at sf0.1: a ~600 k-row
    * broadcast there, a driver OOM or plan cliff at 100×).
    */
  val j1JoinRevenue: Q = (s, d) => {
    import s.implicits._
    val rev = dec($"l_extendedprice") * (one - dec($"l_discount"))
    val co = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      .join(broadcast(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")),
        $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_mktsegment")
    Tables.lineitem(s, d)
      .join(co.hint("shuffle_hash"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"c_mktsegment")
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_rows"))
      .orderBy($"c_mktsegment")
  }

  /** JSON scalar extraction + aggregate (events.props). */
  val j2JsonExtract: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** Tumbling-window time aggregation (streaming-shaped, batch checked). */
  /** W2 session windows (30-min inactivity gap) via Spark's built-in
    * `session_window` — the merge-on-overlap windowing family w1's
    * tumbling windows don't cover, and the batch shape of the streaming
    * sessionization the same expression gives under `readStream`.
    * Boundary semantics: a Spark session window is [start, last+gap), so
    * an event arriving EXACTLY gap after the previous opens a NEW session
    * — the gaps-and-islands oracle flags new sessions with `>=`.
    */
  val w2SessionWindow: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"sw.start".as("session_start"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** W2s — w2's sessionization EXECUTED AS A STREAM: the stateful-MERGE
    * window case w1s's fixed windows don't cover (sessions grow and fuse
    * as events arrive across micro-batches; Spark merges overlapping
    * session state per key). Append mode emits a session exactly once,
    * when the watermark passes its end (last event + 30-min gap) — at
    * which point its state is dropped, so state is bounded by OPEN
    * sessions, not stream length. Oracle = w2's batch session derivation
    * restricted to sessions the final watermark closed.
    */
  /** Run a bounded stream (AvailableNow) to a memory sink and return the
    * sink table — the shared machinery of the streaming gate rows
    * (e2s/w1s/w2s/i1).
    *
    * Stateful-operator parallelism is pinned to 8 for the run: each
    * micro-batch commits one state store per shuffle partition — a FIXED
    * cost regardless of data volume — and the gate streams are one small
    * file (a real deployment sizes this to sustained stream volume; the
    * value is pinned into the checkpoint at first start either way).
    *
    * The pin mutates the SESSION-global shuffle.partitions and restores it
    * after; that is only correct because gate queries run sequentially
    * (Verify and Bench execute one query at a time). The guard makes the
    * assumption explicit: a concurrent second stream gate would race the
    * restore and leak 8 partitions into unrelated plans (ADVICE r9 #4),
    * so reentry fails fast instead.
    */
  private val streamGateActive = new java.util.concurrent.atomic.AtomicBoolean(false)
  // State-store provider for the streaming gates. Measured head-to-head
  // at sf0.1 (scaling.json "stream_state", quiet host, steal 111): a wash
  // at this state size — RocksDB 8.77 s vs HDFS-map 9.29 s summed over
  // the four gates, i.e. the floor is micro-batch machinery, not the
  // provider. RocksDB is pinned because it costs nothing here AND is the
  // provider that survives a 100 TB keyspace (state lives off-heap, the
  // in-heap map OOMs once per-partition state outgrows the executor);
  // ScalingBench overrides this to measure both.
  private[graft] val streamStateProvider =
    new java.util.concurrent.atomic.AtomicReference[String](
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private def runStreamGate(
      s: SparkSession, df: org.apache.spark.sql.Dataset[_], name: String): DataFrame = {
    require(streamGateActive.compareAndSet(false, true),
      "stream gate helper is not reentrant (it pins session-global shuffle.partitions)")
    try {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val clogKey =
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevProv = s.conf.getOption(provKey)
      val prevClog = s.conf.getOption(clogKey)
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set(provKey, streamStateProvider.get)
      // RocksDB commits a full snapshot upload per store per micro-batch
      // by default; changelog checkpointing commits the (tiny) changelog
      // instead and defers snapshots to the maintenance thread — the
      // documented production posture for frequent small commits, and at
      // the gates' 8 stores × 2+ batches the snapshot upload is pure
      // fixed cost (guide §1.2: stage-shape first — this is the state
      // analog of shuffling fewer bytes)
      if (streamStateProvider.get.contains("RocksDB"))
        s.conf.set(clogKey, "true")
      try {
        val q = df.writeStream
          .format("memory").queryName(name).outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevProv match {
          case Some(p) => s.conf.set(provKey, p)
          case None    => s.conf.unset(provKey)
        }
        prevClog match {
          case Some(p) => s.conf.set(clogKey, p)
          case None    => s.conf.unset(clogKey)
        }
      }
    } finally streamGateActive.set(false)
    s.table(name)
  }

  val w2sStreamSession: Q = (s, d) => {
    import s.implicits._
    val rawSchema = Tables.table(s, d, "events").schema // cached — no inference job
    val stage = stageForStream(d, "events.parquet")
    val raw = s.readStream.schema(rawSchema).parquet(stage)
    val ev =
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw.withColumn("ts", $"ts".cast("timestamp"))
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        $"sw.start".cast("timestamp_ntz").as("session_start"), $"n_events")
    runStreamGate(s, agg, "w2s_stream_session_sink")
      .orderBy($"user_id", $"session_start")
  }

  /** Q3 data-profiling summary per event_type — the curation-side stats
    * pass a pipeline runs before training: count, mean (through the same
    * order-independent DECIMAL accumulation as every money sum), and
    * EXACT interpolated p50/p95 (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, both linear-interpolation-between-ranks). At 100 TB
    * `approx_percentile` (t-digest) is the drop-in scale path with the
    * same plan shape — the e7 exact/HLL twin pattern.
    */
  val q3Profile: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum(dec($"value")).cast("double") / count(lit(1)), 6).as("mean_value"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))
      .orderBy($"event_type")
  }

  val w1TimeWindow: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"w", $"event_type")
  }

  /** W3 — SLIDING (hopping) windows, the third window shape next to w1's
    * tumbling and w2's session windows: 30-minute windows every 10
    * minutes, so each event lands in 3 overlapping windows. Spark's
    * `window(ts, len, hop)` explodes the assignment scan-side — the
    * shuffle then carries (window, type) groups exactly like a tumbling
    * agg, ×(len/hop); the oracle reproduces the epoch-aligned hop
    * arithmetic with a generate_series.
    */
  val w3SlidingWindow: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "30 minutes", "10 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("window_start"), $"event_type", $"n")
      .orderBy($"window_start", $"event_type")
  }

  /** W1s — w1's tumbling-window aggregation EXECUTED AS A STREAM: the
    * events file replayed through a file-stream source, watermarked 10
    * minutes, `window($"ts", "1 hour")` aggregation in APPEND mode (each
    * window row emitted exactly once, when the watermark passes its end —
    * the at-scale contract: state for a window is dropped the moment it
    * finalizes, so state size is bounded by windows-in-flight, not stream
    * length). The oracle is w1's batch SQL restricted to windows the
    * final watermark (max ts − 10 min) closed — hash-equality proves the
    * stream's incremental state machine computes the batch answer.
    */
  val w1sStreamWindow: Q = (s, d) => {
    import s.implicits._
    val rawSchema = Tables.table(s, d, "events").schema // cached — no inference job
    val stage = stageForStream(d, "events.parquet")
    val raw = s.readStream.schema(rawSchema).parquet(stage)
    // the same nanos→micros truncation Tables.events applies, but kept as
    // plain TIMESTAMP: withWatermark rejects TIMESTAMP_NTZ; the UTC
    // session makes the instant and the naive wall-clock coincide, and the
    // output window start is cast back to NTZ for the oracle compare
    val ev =
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw.withColumn("ts", $"ts".cast("timestamp"))
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"value")).cast("double").as("sum_value"))
      .select($"win.start".cast("timestamp_ntz").as("w"), $"event_type", $"n", $"sum_value")
    runStreamGate(s, agg, "w1s_stream_window_sink")
      .orderBy($"w", $"event_type")
  }

  /** W3s — w3's SLIDING windows EXECUTED AS A STREAM, completing the
    * streaming window family (w1s tumbling, w2s session): 30-minute
    * windows every 10 minutes under a 10-minute watermark, APPEND mode.
    * Each event updates THREE window states scan-side (the overlap
    * factor); a window row is emitted exactly once when the watermark
    * passes its end and its state drops — so state is bounded by
    * windows-in-flight × overlap, not stream length. The oracle replays
    * w3's epoch-aligned hop assignment restricted to watermark-closed
    * windows — hash-equality proves the overlapping-window state machine
    * computes the batch answer.
    */
  val w3sStreamSliding: Q = (s, d) => {
    import s.implicits._
    val rawSchema = Tables.table(s, d, "events").schema // cached — no inference job
    val stage = stageForStream(d, "events.parquet")
    val raw = s.readStream.schema(rawSchema).parquet(stage)
    val ev =
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw.withColumn("ts", $"ts".cast("timestamp"))
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "30 minutes", "10 minutes").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"win.start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n")
    runStreamGate(s, agg, "w3s_stream_sliding_sink")
      .orderBy($"window_start", $"event_type")
  }

  /** As-of join (nearest prior event): for each click, the most recent
    * error event of the same user at-or-before it. Union+window form —
    * one shuffle, no range-join blowup ([[AsOfJoin]]).
    */
  val j3AsofJoin: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("tus", unix_micros($"ts".cast("timestamp")))
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id", $"user_id", $"tus")
    val errors = ev.where($"event_type" === "error")
      .select($"user_id", $"tus", $"event_id".as("err_id"))
    AsOfJoin.nearestPrior(clicks, errors, "user_id", "tus", "err_id")
      .select($"event_id", $"asof_err_id")
      .orderBy($"event_id")
  }

  /** ROLLUP grouping sets (free via Catalyst; declared absent in the
    * reference, SURVEY §2.D).
    */
  val q2Rollup: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Q5 CUBE — the full grouping-sets lattice beside q2's rollup: all four
    * (returnflag × linestatus) grouping combinations in one pass (Spark
    * expands grouping sets map-side; one shuffle carries every lattice
    * cell's partial aggregates).
    */
  val q5Cube: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  // ------------------------------------------------------------- §2.E ops

  /** Exact dedup: canonical row per distinct text (dropDuplicates made
    * deterministic as min-id-per-group).
    */
  val e1ExactDedup: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select($"doc_id", $"dup_count")
      .orderBy($"doc_id")
  }

  /** E12 cross-source priority dedup (the RefinedWeb/provenance-preference
    * rule): when the same text arrives from several sources, keep the copy
    * from the most trusted source — priority = the source's numeric rank,
    * ties broken by doc_id. The corpus provably CONTAINS cross-source
    * duplicates: a deterministic mirror of every doc_id % 3 == 0 document
    * re-enters under a different id and source (the t6 synthetic-PII
    * pattern — the oracle rebuilds the identical corpus).
    *
    * Scale shape: ONE map-side-combined groupBy on text; the keeper is
    * `min(struct(priority, doc_id, source))` — an O(1) partial aggregate,
    * not a per-group ranking window sort. No text column in the output,
    * and the dup groups never materialize as rows.
    */
  val e12PriorityDedup: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    val mirror = base.where($"doc_id" % 3 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text",
        concat(lit("src"), ($"doc_id" % 7).cast("string")).as("source"))
    val pr = substring($"source", 4, 10).cast("int")
    base.unionByName(mirror)
      .groupBy($"text")
      .agg(min(struct(pr.as("p"), $"doc_id", $"source")).as("w"),
        count(lit(1)).as("n_dups"))
      .select($"w.doc_id".as("doc_id"), $"w.source".as("source"), $"n_dups")
      .orderBy($"doc_id")
  }

  /** Top-k per group via ranking window (§2.E). */
  val e6TopkPerGroup: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .select($"o_orderpriority", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rn")
  }

  /** Top-k per group via the custom bounded-heap TypedImperativeAggregate
    * (`topk_ids`) — O(k) state per group, partial-aggregated map-side, vs
    * the full per-group sort of the row_number window in [[e6TopkPerGroup]].
    * Same answer, checked against the same windowed SQL oracle.
    */
  val e6TopkHeapAgg: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(expr("topk_ids(o_totalprice, o_orderkey, 3)").as("ids"))
      .select($"o_orderpriority", posexplode($"ids").as(Seq("pos", "o_orderkey")))
      .select($"o_orderpriority", $"pos".cast("int").as("pos"), $"o_orderkey")
      .orderBy($"o_orderpriority", $"pos")
  }

  /** Exact distinct cardinality (oracle-checkable counterpart of HLL). */
  val e7ExactDistinct: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  /** HLL approximate distinct (sketch differs per engine → rows-only). */
  val e7HllDistinct: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id").as("approx_users"))
      .orderBy($"event_type")
  }

  /** B5 positional (ordinal) zip join — the reference's only join
    * (hasher.js:101-112): i-th element of one ordered list paired with the
    * i-th of another.
    */
  val b5PositionalZip: Q = (s, d) => {
    import s.implicits._
    // Top-20 per side via TakeOrderedAndProject (distributed per-partition
    // top-k + merge), then a bounded array zip — no global window, and the
    // only driver-sized object is the 20-element array.
    val o20 = Tables.orders(s, d).orderBy($"o_orderkey").limit(20)
      .agg(sort_array(collect_list($"o_orderkey")).as("os"))
    val p20 = Tables.part(s, d).orderBy($"p_partkey").limit(20)
      .agg(sort_array(collect_list($"p_partkey")).as("ps"))
    o20.crossJoin(p20)
      .select(posexplode(arrays_zip($"os", $"ps")).as(Seq("i", "z")))
      .select(($"i" + 1).cast("int").as("pos"),
        $"z.os".as("o_orderkey"), $"z.ps".as("p_partkey"))
      .orderBy($"pos")
  }

  /** C7 IVF coarse-quantization build (loader.js:327-336, nlist analog) —
    * KMeans is not oracle-expressible → rows-only check; recall is covered
    * by the ScalaTest suite.
    */
  val c7IvfCluster: Q = (s, d) => {
    import s.implicits._
    val (assigned, _) = IvfIndex.buildCached(s, s"$d#all",
      Tables.embeddings(s, d), "embedding", 16)
    assigned.select($"vec_id", $"cluster_id".cast("int").as("cluster_id"))
      .orderBy($"vec_id")
  }

  /** C7b — the DETERMINISTIC coarse-quantizer build under the HASH gate
    * ([[operators.QuantKmeans.fit]]): 3 quantized Lloyd iterations,
    * nlist 8, over the embeddings table — every centroid component a
    * decimal-grid point, init and argmin engine-portable — emitted as
    * (cluster_idx, dim_idx, c) scalars. MLlib's KMeans (c7) stays the
    * default trainer and stays rows-only (its float reductions are
    * order-dependent by construction); this row is the reproducible
    * twin that puts the IVF build's ALGORITHM — assignment expression,
    * mean updates, empty-cluster handling — under the hard signal, the
    * t29b/t13 discipline applied to the index family.
    */
  val c7bKmeansDet: Q = (s, d) => {
    import s.implicits._
    operators.QuantKmeans.fit(
        Tables.embeddings(s, d), "vec_id", "embedding", nlist = 8, iters = 3)
      .zipWithIndex.flatMap { case (cv, ci) =>
        cv.zipWithIndex.map { case (v, di) => (ci.toLong, di.toLong, v) }
      }.toSeq
      .toDF("cluster_idx", "dim_idx", "c")
      .orderBy("cluster_idx", "dim_idx")
  }

  /** C8' IVF nprobe-pruned ANN (searcher.js:99-110 approximate path) —
    * rows-only (approximate by design; recall measured in tests and dumped
    * by Verify as recall.json). The index comes from [[IvfIndex.buildCached]]
    * — construction is a periodic job (SURVEY §3.2), so the timed query is
    * the nprobe SEARCH, the thing searcher.js:99-110 measures.
    */
  val c8AnnIvf: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (assigned, model) = IvfIndex.buildCached(s, s"$d#q0",
      e.where($"vec_id" =!= 0), "embedding", 16)
    IvfIndex.search(assigned, model, "embedding", "vec_id", q, 15, nprobe = 4)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8'' the OPTIMIZER-path ANN: the SAME top-15 as [[c8AnnIvf]], but the
    * user writes only the declarative exact query — `ORDER BY
    * fast_dot(embedding, q) DESC LIMIT 15` over the indexed table — and
    * [[graft.plans.IvfTopKRewrite]] injects the nprobe cluster prune at
    * optimization time ([[graft.plans.IvfRegistry]] opt-in). The gate
    * EXECUTES the query while registered, then `require`s the injected
    * `cluster_id IN` filter in the optimized plan: if the rewrite ever
    * stops firing, this row errors instead of silently serving the exact
    * scan. Result equality with the explicit [[IvfIndex.search]] path is
    * pinned in Sq8Spec; approximate by construction → rows-only check,
    * like c8_ann_ivf. The 15-row collect is the serving envelope size
    * (SearchService does the same); registration is cleared before
    * returning so no other query's plan is ever touched.
    */
  val c8AnnRewrite: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (assigned, model) = IvfIndex.buildCached(s, s"$d#q0",
      e.where($"vec_id" =!= 0), "embedding", 16)
    graft.plans.IvfRegistry.register(model, nprobe = 4)
    try {
      val df = assigned
        .select($"vec_id",
          graft.functions.VectorFunctions.fastDot($"embedding", typedlit(q)).as("score"))
        .orderBy(desc("score"), $"vec_id")
        .limit(15)
      val fired = df.queryExecution.optimizedPlan.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.exists {
            case org.apache.spark.sql.catalyst.expressions.In(a, _) =>
              a.references.exists(_.name == "cluster_id")
            case org.apache.spark.sql.catalyst.expressions.InSet(a, _) =>
              a.references.exists(_.name == "cluster_id")
            case _ => false
          }
        case _ => false
      }
      require(fired, "IvfTopKRewrite did not inject the nprobe cluster prune " +
        s"into:\n${df.queryExecution.optimizedPlan}")
      val rows = df.collect() // 15 rows — the serving envelope
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .select($"vec_id", round($"score", 6).as("score"))
        .orderBy(desc("score"), $"vec_id")
    } finally graft.plans.IvfRegistry.clear()
  }

  /** C7'' SQ8 scalar-quantized ANN (loader.js:332-334 IVF_SQ8's SQ8 half)
    * — approximate by construction → rows-only; error bound + recall
    * asserted in Sq8Spec. Fit + encode come from [[Sq8.fitEncodeCached]] —
    * a periodic job like the IVF and PQ builds, so the timed query is the
    * byte_dot search.
    */
  val c7Sq8Ann: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (enc, model) = graft.operators.Sq8.fitEncodeCached(s, s"$d#sq8",
      e.where($"vec_id" =!= 0), "embedding")
    graft.operators.Sq8.searchTopK(enc, "codes", "vec_id", model, q, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C7''' PQ (product-quantized) ANN — the high-compression codec of
    * Milvus's IVF_PQ family (Jégou TPAMI'11; the reference's index family
    * at loader.js:332-334). m=8 byte codes per 64-dim vector (32×), ADC
    * scoring through the codegen'd byte_lut_sum kernel. Approximate by
    * construction → rows-only; ADC-exactness + recall asserted in PqSpec;
    * measured recall dumped by Verify into recall.json. Codebook fit +
    * encode come from [[Pq.fitEncodeCached]] — a periodic job, so the
    * timed query is the ADC search.
    */
  val c7PqAnn: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (enc, model) = Pq.fitEncodeCached(s, s"$d#pq",
      e.where($"vec_id" =!= 0), "embedding", m = 8, ksub = 16)
    Pq.searchTopK(enc, "pq_codes", "vec_id", model, q, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** E9 training-data decontamination: corpus docs sharing any 5-word
    * shingle with a benchmark set ([[TextDedup.contamination]]) — the
    * benchmark stand-in is every 10th document. Benchmark shingle hashes
    * broadcast; the corpus scan never shuffles its shingles.
    */
  val e9Contamination: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    TextDedup.contamination(
        docs.where($"doc_id" % 10 =!= 0), docs.where($"doc_id" % 10 === 0),
        "text", "doc_id", shingleK = 5)
      .select($"doc_id", $"n_shingles")
      .orderBy($"doc_id")
  }

  /** E9b — the 100 TB form of e9, under the SAME exact oracle (VERDICT r11
    * #2): the bench side folds into ONE codegen'd Bloom filter literal
    * instead of a broadcast distinct hash-join build, so decontamination
    * keeps working when the eval suite reaches 10⁸ shingles.
    * Hash-equality with e9's exact result is the no-false-negatives
    * guarantee made driver-visible: at gate sizing (~25k distinct bench
    * shingles against a filter sized for 2²⁰ items at fpp 10⁻⁹ → ~45M
    * bits) the expected false-positive count over every corpus probe is
    * ≪ 1, and the filter is deterministic, so the bloom path returns
    * bit-for-bit the exact contamination set. The filter itself is the
    * PERIODIC artifact ([[ensureBenchBloom]], session-cached — in
    * production built once per bench release and shipped via
    * [[graft.sources.ModelStore.saveBloom]]), so the row times the probe,
    * exactly as e2i times its lake probe and c7/c8 time their index
    * probes.
    */
  val e9bContaminationBloom: Q = (s, d) => {
    import s.implicits._
    TextDedup.contaminationBloomWith(
        Tables.documents(s, d).where($"doc_id" % 10 =!= 0),
        "text", "doc_id", shingleK = 5, ensureBenchBloom(s, d))
      .select($"doc_id", $"n_shingles")
      .orderBy($"doc_id")
  }

  /** E9c — the ROW-LOCAL decontamination gate ([[TextDedup
    * .contaminatedCol]]) under the exact anti-join oracle: the surviving
    * (clean) documents of the corpus after gating each row against the
    * bench filter. This is the predicate form that drops into a
    * Structured Streaming ingest (TextDedupSpec streams it through a
    * memory sink with zero state); the gate row drives the SAME
    * expression through the driver's hash gate in batch, where DuckDB can
    * replay the semantics exactly (no false negatives + deterministic
    * filter + ≪1 expected FP at this sizing → bit-equal clean set).
    */
  val e9cCleanGate: Q = (s, d) => {
    import s.implicits._
    // spread WITH a barrier before the row-local gate: the documents
    // parquet is one ~600 KB single-row-group file (scan floor: 1 task)
    // and the interpreted shingle/bloom HOF predicate costs ~0.6 ms/doc;
    // a plain repartition is silently defeated — Catalyst pushes
    // deterministic filters back through RepartitionByExpression, so the
    // predicate would evaluate at the scan on one task. The lazy
    // localCheckpoint is an optimizer barrier: the cheap pre-filter rows
    // are materialized once at full parallelism and the gate runs above
    // it (measured 3.0 s → sub-second on 32 cores).
    Tables.documents(s, d).where($"doc_id" % 10 =!= 0)
      .repartition($"doc_id").localCheckpoint(eager = false)
      .where(!TextDedup.contaminatedCol($"text", 5, ensureBenchBloom(s, d)))
      .select($"doc_id")
      .orderBy($"doc_id")
  }

  /** Session-cached bench-release Bloom artifact for e9b (the build half:
    * [[TextDedup.benchShingleBloom]]); the bytes are driver-held, a few MB
    * at this sizing.
    */
  private val benchBloomCache = new operators.SessionCache[Array[Byte]]
  private[graft] def ensureBenchBloom(s: SparkSession, d: String): Array[Byte] =
    benchBloomCache.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      import s.implicits._
      TextDedup.benchShingleBloom(
        Tables.documents(s, d).where($"doc_id" % 10 === 0),
        "text", "doc_id", shingleK = 5, expectedItems = 1L << 20, fpp = 1e-9)
    }

  /** E2 MinHash signatures (k=8 families, 3-word shingles). */
  val e2MinhashSig: Q = (s, d) =>
    TextDedup.minhashSignatures(Tables.documents(s, d), "text", "doc_id", 8, 3)
      .orderBy(col("doc_id"), col("j"))

  /** E2' MinHash LSH candidate pairs (4 bands × 2 rows). */
  val e2MinhashPairs: Q = (s, d) =>
    TextDedup.minhashBandPairs(Tables.documents(s, d), "text", "doc_id", 8, 3, 4)
      .orderBy(col("d1"), col("d2"))

  /** E2s — the STREAMING near-dedup path ([[graft.streaming.StreamingNearDedup]])
    * run over the gate corpus as a bounded stream (availableNow trigger on a
    * file source, memory sink), then deduped to the (d1, d2) candidate set.
    * Same sketch, same bands, same oracle as [[e2MinhashPairs]]: the gate
    * proves the stateful flatMapGroupsWithState pipeline — not just the
    * batch plan — emits exactly the batch pair set. (The spec suite pins
    * cross-micro-batch parity; this row makes it driver-visible.)
    */
  /** Stage a single-file testdata table as a stream-source DIRECTORY (a
    * bare file path fails basePath inference) — a real deployment's ingest
    * drop directory (A1/A6) is exactly this shape. Keyed by the sanitized
    * path PLUS an md5 of the exact path (the sanitization alone is lossy —
    * '/a/b' and '/a_b' collide); staged copy reused only on EXACT
    * (size, mtime) match with the source (COPY_ATTRIBUTES preserves
    * mtime), so any regenerated fixture — newer, older, or same-size —
    * re-stages. Returns the stage directory path.
    */
  private def stageForStream(d: String, tableFile: String): String = {
    val pathTag = pathTagOf(d)
    // PID-keyed like the format mirrors: the staged copy is not atomic, so
    // a concurrent JVM re-staging the same path could expose a truncated
    // file to this one's running stream (ADVICE r9 #2)
    val stage = java.nio.file.Paths.get(graft.sources.TempDirs.register(
      s"/tmp/graft_stream_${tableFile.stripSuffix(".parquet")}_" +
        s"${ProcessHandle.current().pid()}_" +
        d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + pathTag))
    java.nio.file.Files.createDirectories(stage)
    val src = java.nio.file.Paths.get(s"$d/$tableFile")
    val dst = stage.resolve(tableFile)
    val fresh = java.nio.file.Files.exists(dst) &&
      java.nio.file.Files.size(dst) == java.nio.file.Files.size(src) &&
      java.nio.file.Files.getLastModifiedTime(dst) ==
        java.nio.file.Files.getLastModifiedTime(src)
    if (!fresh)
      java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    stage.toString
  }

  /** [[stageForStream]] splitting the single fixture file into `n`
    * parquet parts — for streams whose per-row map work is expensive
    * (e2s's per-doc MinHash sketch): a SINGLE-file micro-batch scans as
    * one task, serializing the sketch inside the scan stage (measured
    * 3.3 s of the row's ~3.9 s, r19; an explicit repartition inside the
    * micro-batch measured ~2× WORSE — streaming shuffle+state overhead —
    * so the parallelism comes from the source layout instead, exactly
    * how a production drop directory arrives: many files). Output is
    * unchanged: the state function processes each bucket id-ascending,
    * so within-batch arrival order is immaterial. Freshness marker keyed
    * on the source (size, mtime) — a regenerated fixture re-stages.
    */
  private def stageForStreamSplit(
      s: SparkSession, d: String, tableFile: String, n: Int): String = {
    val pathTag = pathTagOf(d)
    val stage = java.nio.file.Paths.get(graft.sources.TempDirs.register(
      s"/tmp/graft_streamsplit_${tableFile.stripSuffix(".parquet")}_" +
        s"${ProcessHandle.current().pid()}_${n}_" +
        d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + pathTag))
    val src = java.nio.file.Paths.get(s"$d/$tableFile")
    val tag = s"${java.nio.file.Files.size(src)}#" +
      s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}#$n"
    val marker = stage.resolve("_staged")
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == tag
    if (!fresh) {
      deleteDir(stage)
      s.read.parquet(src.toString).repartition(n)
        .write.mode("overwrite").parquet(stage.toString)
      java.nio.file.Files.write(marker, tag.getBytes("UTF-8"))
    }
    stage.toString
  }

  val e2sStreamPairs: Q = (s, d) => {
    import s.implicits._
    val schema = Tables.documents(s, d).schema
    // split staging: the per-doc sketch is the batch's dominant cost and
    // a one-file batch runs it on one task — see [[stageForStreamSplit]]
    val stage = stageForStreamSplit(s, d, "documents.parquet", 8)
    val stream = s.readStream.schema(schema).parquet(stage)
      .select($"doc_id".as("id"), $"text")
      .as[graft.streaming.StreamDoc]
    val pairs = graft.streaming.StreamingNearDedup
      .candidatePairs(stream, k = 8, shingleK = 3, bands = 4)
    runStreamGate(s, pairs, "e2s_stream_pairs_sink")
      .select($"d1", $"d2").distinct().orderBy($"d1", $"d2")
  }

  /** E2i incremental near-dedup — the daily-delta path: the corpus's LSH
    * band signatures are a persisted lake ([[IncrementalDedup
    * .bandSignatures]], 3 small columns per doc); a new batch sketches
    * only itself and probes the lake with one equi-join
    * ([[IncrementalDedup.deltaPairs]]). Gate split: doc_id % 10 == 0 is
    * the "new batch", the rest is the standing corpus — whose signatures
    * are read from the [[ensureSigLake]] table, bucketed by (band, bsig)
    * exactly as a production lake would be, so the probe plans zero
    * lake-side exchanges. The oracle is the FULL batch recompute (e2's
    * sketch SQL) restricted to pairs touching the delta — hash-equality
    * proves incremental processing loses nothing vs the batch gold
    * standard, while only ever sketching 10% of the documents and never
    * shuffling corpus text (or corpus signatures).
    */
  val e2iIncrementalPairs: Q = (s, d) => {
    import s.implicits._
    val corpusSigs = s.table(ensureSigLake(s, d))
    // the delta's sketch is materialized ONCE per session (deltaPairs
    // scaladoc: callers should pass a cached deltaSigs) — in production
    // the daily delta is sketched once and probed once, so the gate row
    // times the PROBE, not a re-sketch per run; the 3-column signature
    // frame is delta-sized by construction
    val deltaSigs = ensureDeltaSigs(s, d)
    IncrementalDedup.deltaPairs(corpusSigs, deltaSigs, "doc_id")
      .orderBy($"d1", $"d2")
  }

  /** Session-cached, eagerly-materialized delta sketch for e2i (see
    * [[e2iIncrementalPairs]]): `localCheckpoint` pins the delta's
    * (doc_id, band, bsig) rows in block storage so every probe branch —
    * and the scan-prune key collect — reads the materialized rows instead
    * of re-running the shingle+minhash lineage.
    */
  private val deltaSigCache = new operators.SessionCache[DataFrame]
  private[graft] def ensureDeltaSigs(s: SparkSession, d: String): DataFrame =
    deltaSigCache.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      import s.implicits._
      IncrementalDedup.bandSignatures(
        Tables.documents(s, d).where($"doc_id" % 10 === 0),
        "text", "doc_id", 8, 3, 4)
        .localCheckpoint()
    }

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))

  /** Stage the i1 media fixture: one MJPEG-AVI per seed document (the 6
    * smallest doc_ids of the SF), laid out `watch/tt<id>/vid<id>.mp4` —
    * the reference watcher's `<imdbId>/<fileName>` tree (`watcher.js:22-29`).
    * Video `id` has `16 + 8·(id % 3)` frames at 8 fps (native ≤ the
    * extractor's 12 fps grid, so container timestamps — exact multiples
    * of 0.125 — survive to the output). Frame `i` is a JPEG whose top row
    * of 8×8 cells spells the bits of `i` (each cell is exactly one JPEG
    * block: solid black/white blocks decode near-exactly, so distinct i →
    * distinct descriptor, robustly); every `i % 4 == 3` frame REUSES
    * frame `i−1`'s bytes, planting the temporal duplicates the C3 dedup
    * must drop. PID-keyed like every fixture dir (no cross-JVM clobber);
    * built once per process, deterministic bytes either way.
    */
  private def stageI1Media(s: SparkSession, d: String): String = {
    val pathTag = pathTagOf(d)
    val root = java.nio.file.Paths.get(graft.sources.TempDirs.register(
      s"/tmp/graft_i1_media_${ProcessHandle.current().pid()}_$pathTag"))
    if (!java.nio.file.Files.exists(root.resolve("_done"))) {
      deleteDir(root)
      java.nio.file.Files.createDirectories(root)
      val ids = Tables.documents(s, d).select(col("doc_id"))
        .orderBy(col("doc_id")).limit(6).collect().map(_.getLong(0))
      ids.foreach { id =>
        val nf = (16 + 8 * (id % 3)).toInt
        def jpeg(i: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(
            64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = img.createGraphics()
          g2.setColor(java.awt.Color.BLACK)
          g2.fillRect(0, 0, 64, 64)
          g2.setColor(java.awt.Color.WHITE)
          (0 until 8).foreach { j =>
            if (((i >> j) & 1) == 1) g2.fillRect(j * 8, 0, 8, 8)
          }
          g2.dispose()
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", baos)
          baos.toByteArray
        }
        val uniq = scala.collection.mutable.Map.empty[Int, Array[Byte]]
        val frames = (0 until nf).map { i =>
          val src = if (i % 4 == 3) i - 1 else i
          uniq.getOrElseUpdate(src, jpeg(src))
        }
        val avi = graft.multimodal.AviMjpeg.write(frames, 8, 64, 64)
        val dir = root.resolve(s"tt$id")
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve(s"vid$id.mp4"), avi)
      }
      java.nio.file.Files.write(root.resolve("_done"), Array.emptyByteArray)
    }
    root.toString
  }

  /** I1 — the reference's WHOLE REASON TO EXIST as one driver-checked gate
    * row (r9 missing #4): the SURVEY §3.1/3.2 ingest lifecycle executed
    * END-TO-END through [[graft.streaming.IngestPipeline.start]] — a
    * binaryFile STREAM over the staged media tree (A1 watch), in-JVM
    * MJPEG-AVI frame decode (A15), real descriptor + hash-code extraction
    * on every frame (A16), vectorize/normalize/keys (B7-B11), temporal
    * kept-set dedup (C3), and the algo-partitioned frames-lake append
    * (A10), exactly-once via the file-source checkpoint. The oracle
    * derives the expected kept frames from the fixture's generating
    * formula with a generate_series — every planted `i % 4 == 3`
    * duplicate must be dropped BY THE REAL DESCRIPTOR PATH (equal bytes →
    * equal `hi` within the 2 s window) and every distinct frame kept, so
    * a regression anywhere in the chain (container walk, decode,
    * descriptor, dedup ordering, sink) breaks the hash.
    */
  val i1IngestLifecycle: Q = (s, d) => {
    import s.implicits._
    val watch = stageI1Media(s, d)
    val base = java.nio.file.Paths.get(
      watch.replaceFirst("graft_i1_media", "graft_i1_out"))
    deleteDir(base) // fresh lake + checkpoint per run: append sink must not double
    val frames = base.resolve("frames").toString
    val ckpt = base.resolve("ckpt").toString
    val q = IngestPipeline.start(s, watch, frames, ckpt, algo = "in",
      extractor = IngestPipeline.defaultExtractor, availableNow = true)
    q.awaitTermination()
    s.read.parquet(frames)
      .select($"imdb_id", $"file_name", $"time",
        $"duration".cast("double").as("duration"))
      .orderBy($"imdb_id", $"time")
  }

  /** T9 document → training chunks: fixed-length token windows with
    * overlap (length 50, stride 40 — each chunk shares 10 tokens with its
    * predecessor), the standard context-window packing step between
    * cleaning and tokenization. Scan-local: `sequence` generates the
    * stride starts, `posexplode` emits one row per chunk, `slice` cuts
    * the token window — no shuffle except the gate's orderBy; at 100 TB
    * this composes with partition pruning untouched and parallelism is
    * the scan's split count.
    */
  val t9DocChunks: Q = (s, d) => {
    import s.implicits._
    val L = 50
    val S = 40
    val toks = tokens($"text")
    val starts = when(size(toks) > 0,
      sequence(lit(0), size(toks) - 1, lit(S))).otherwise(array())
    Tables.documents(s, d)
      .select($"doc_id", toks.as("w"), explode(starts).as("st"))
      .select($"doc_id", ($"st" / S).cast("long").as("chunk_id"),
        concat_ws(" ", slice($"w", $"st" + 1, lit(L))).as("chunk_text"),
        least(lit(L), size($"w") - $"st").cast("long").as("n_tok"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** The r-family's chunk+embed stage — [[graft.operators.ChunkEmbed]]
    * at its defaults (t9's L=50/S=40 windows, dim=64 feature-hashed
    * bag-of-words). Apply AFTER the branch's doc filter so the predicate
    * reaches the parquet scan.
    */
  private def hashedChunkEmb(df: DataFrame): DataFrame =
    graft.operators.ChunkEmbed.embed(df)

  /** R1 — retrieval-corpus build + search composed end to end: the
    * [[hashedChunkEmb]] corpus served through [[AnnSearch.batchTopK]]
    * (cosine, k=5) with the first three documents' chunks as the query
    * batch — the RAG build-and-retrieve loop as ONE driver-checked plan
    * (the DuckDB oracle replays chunking, hashing, embedding, and the
    * batched heap order end to end).
    */
  val r1RetrievalTopK: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val queries = hashedChunkEmb(docs.where($"doc_id" < 3))
      .select($"cid".as("qid"), $"emb")
    AnnSearch.batchTopK(hashedChunkEmb(docs.where($"doc_id" >= 3)),
      "emb", "cid", queries, "qid", "emb", 5, VectorMetric.Cosine)
  }

  /** R2 — r1's retrieval corpus served through the BATCHED IVF path
    * ([[AnnSearch.batchTopKIvf]]): the hashed chunk embeddings are
    * axis-block-assigned (the deterministic 8-cluster model over the
    * derived dim=64 space), every query chunk ranks the centroids
    * in-plan under cosine, and the probe set equi-joins the assigned
    * chunk lake — the scaled form of chunked retrieval, end-to-end from
    * raw text to pruned top-k under one oracle. nprobe=3 of nlist=8: the
    * oracle replays the probe restriction exactly, so this row
    * value-checks that the PRUNED result is what pruning says it is (not
    * that it equals r1's exact scan — IVF is approximate by design).
    */
  val r2RetrievalIvf: Q = (s, d) => {
    import s.implicits._
    val model = axisBlockIvfModel(64)
    val docs = Tables.documents(s, d)
    val indexed = IvfIndex.assign(
      hashedChunkEmb(docs.where($"doc_id" >= 3)), "emb", model)
    val queries = hashedChunkEmb(docs.where($"doc_id" < 3))
      .select($"cid".as("qid"), $"emb")
    AnnSearch.batchTopKIvf(indexed, model, "emb", "cid", "cluster_id",
      queries, "qid", "emb", 5, nprobe = 3, VectorMetric.Cosine)
  }

  /** R3 — BM25 keyword retrieval ([[graft.operators.Bm25.topK]]): the
    * sparse half of the retrieval surface beside r1/r2's dense path. The
    * first three documents query the rest of the corpus; top-10 by the
    * full BM25 formula (k1=1.2, b=0.75, Lucene idf), scored through the
    * inverted-index equi-join and the term-ordered sequential fold, so
    * the oracle replays every step including the 1e-6 rounding grain and
    * the (score DESC, id) tie-break.
    */
  val r3Bm25TopK: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val corpus = docs.where($"doc_id" >= 3).select($"doc_id", $"text")
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    graft.api.CorpusRecipe(corpus)
      .bm25TopK(q, "qid", "text", 10)
      .orderBy($"qid", $"rank")
  }

  // Persisted BM25 store fixture, built once per (session, sf, source
  // version): "yesterday" fit+saved, "today" appendStore'd — the periodic
  // jobs a durable index pays for; the r5 gate row times the PLANNED
  // PROBE over the at-rest artifact (pushed In(term) lake scan).
  private val bm25StoreStage = new operators.SessionCache[String]
  private def ensureBm25Store(s: SparkSession, d: String): String =
    bm25StoreStage.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      import s.implicits._
      val pathTag = pathTagOf(d)
      // the directory carries the SESSION token, not just (pid, path):
      // the cache key is per-session, so two sessions in one JVM (or a
      // re-keyed rebuild after fixture regeneration) must not write/read
      // the same store concurrently
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_bm25_store_${ProcessHandle.current().pid()}_" +
          s"${operators.SessionCache.token(s).take(8)}_$pathTag")
      val docs = Tables.documents(s, d)
      val old = docs.where($"doc_id" >= 3 && $"doc_id" % 5 =!= 0)
        .select($"doc_id", $"text")
      val delta = docs.where($"doc_id" >= 3 && $"doc_id" % 5 === 0)
        .select($"doc_id", $"text")
      graft.operators.Bm25.save(
        graft.operators.Bm25.fit(old, "doc_id", "text"), dir)
      graft.operators.Bm25.appendStore(s, dir, delta, "text")
      // the post-append maintenance job runs too, so the gate row probes
      // the COMPACTED lake — save → append → compact → load → search all
      // under r3's oracle verbatim (the e2i trick, zero new oracle risk)
      graft.operators.Bm25.compactStore(s, dir)
      dir
    }

  /** R5 — incremental BM25 index maintenance under r3's oracle, on the
    * PERSISTED artifact: the corpus splits into a "yesterday" lake
    * (fit + [[graft.operators.Bm25.save]]) and a "today" delta
    * ([[graft.operators.Bm25.appendStore]] — delta-sized parquet append
    * to the postings lake, swap-rewritten dictionary + stats), and the
    * search over the loaded MERGED store must hash-match the
    * full-recompute oracle. df/dl/n are integer-exact, so the merged
    * store is value-identical to fit-over-union — this row is the e2i of
    * the retrieval family, and its probe scans the at-rest lake through
    * the pushed `In(term)` filter (PlanAuditSpec pins the plan shape).
    */
  val r5Bm25Incremental: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    val ix = graft.operators.Bm25.load(s, ensureBm25Store(s, d))
    graft.operators.Bm25.searchIndex(ix, q, "qid", "text", 10)
      .orderBy($"qid", $"rank")
  }

  // Tombstoned-store fixture: the FULL corpus fit+saved (the nightly
  // job), then every doc_id ≡ 3 (mod 7) deleted via tombstoneStore (the
  // correction job) — postings lake untouched, dfs/stats decremented,
  // ids in tombstones/. Built once per (session, sf, source version).
  private val bm25DeleteStage = new operators.SessionCache[String]
  private def ensureBm25DeleteStore(s: SparkSession, d: String): String =
    bm25DeleteStage.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      import s.implicits._
      val pathTag = pathTagOf(d)
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_bm25_del_${ProcessHandle.current().pid()}_" +
          s"${operators.SessionCache.token(s).take(8)}_$pathTag")
      val docs = Tables.documents(s, d)
      graft.operators.Bm25.save(
        graft.operators.Bm25.fit(
          docs.where($"doc_id" >= 3).select($"doc_id", $"text"),
          "doc_id", "text"), dir)
      graft.operators.Bm25.tombstoneStore(s, dir,
        docs.where($"doc_id" >= 3 && $"doc_id" % 7 === 3).select($"doc_id"))
      dir
    }

  /** R6 — BM25 document DELETION under the corrected-corpus oracle: the
    * store was fit over the FULL corpus, then [[graft.operators.Bm25
    * .tombstoneStore]] removed every doc_id ≡ 3 (mod 7) — a delta-sized
    * correction (dictionary/stats decrement + a tombstone set; the
    * postings lake is untouched until compaction) — and the probe over
    * the loaded store must hash-match a full refit on the corpus WITHOUT
    * those documents (r3's oracle with the deletion folded into its
    * corpus filter). This is the path a 100 TB corpus takes for
    * takedowns/corrections instead of a week-long refit.
    */
  val r6Bm25Delete: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    val ix = graft.operators.Bm25.load(s, ensureBm25DeleteStore(s, d))
    graft.operators.Bm25.searchIndex(ix, q, "qid", "text", 10)
      .orderBy($"qid", $"rank")
  }

  /** R4 — hybrid retrieval: [[r3Bm25TopK]]'s sparse ranks fused with the
    * dense hashed-embedding ranks (document-grain [[graft.operators
    * .ChunkEmbed.docEmbed]] served through `batchTopK` cosine) by
    * reciprocal-rank fusion ([[graft.operators.Bm25.rrf]], c=60) — the
    * production retrieval shape: keyword match and embedding similarity
    * each contribute 1/(60+rank+1) and the fused top-10 is what serves.
    * Both rankers' top-20 lists and the fusion replay exactly in SQL.
    */
  val r4HybridRrf: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val corpus = docs.where($"doc_id" >= 3).select($"doc_id", $"text")
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    graft.api.CorpusRecipe(corpus)
      .hybridTopK(q, "qid", "text", k = 10, fetchK = 20)
      .orderBy($"qid", $"rank")
  }

  /** M1 export-shard manifest — the artifact a training job consumes: a
    * deterministic md5-draw shard assignment (engine-portable, like the
    * [[Sampling]] draws) plus per-shard document count, token mass, and an
    * order-independent content fingerprint (bit_xor of per-doc 60-bit text
    * hashes — O(1) aggregate state; a concat-then-hash manifest would
    * collect a shard's docs into one task). Re-running the manifest months
    * later, on any engine, must reproduce it bit-for-bit — that is the
    * audit trail for "which data did this run train on".
    */
  val m1ShardManifest: Q = (s, d) => {
    import s.implicits._
    val shard = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 8")
    Tables.documents(s, d)
      .select(shard.as("shard"), $"text")
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens($"text")).cast("long")).as("n_tokens"),
        expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint))").as("fp"))
      .orderBy($"shard")
  }

  // Range-clustered documents mirror + its file-stats manifest, built once
  // per (session, sf, source version) — the layout + manifest are periodic
  // jobs like the bucketed tables; the gate times the PLANNED READ they
  // pay for. PID-keyed like every fixture dir.
  private val rangedDocsStage = new operators.SessionCache[(String, DataFrame)]
  private def ensureRangedDocs(s: SparkSession, d: String): (String, DataFrame) =
    rangedDocsStage.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      import s.implicits._
      val pathTag = pathTagOf(d)
      val out = graft.sources.TempDirs.register(
        s"/tmp/graft_ranged_docs_${ProcessHandle.current().pid()}_$pathTag")
      Tables.documents(s, d)
        .repartitionByRange(8, $"doc_id").sortWithinPartitions($"doc_id")
        .write.mode("overwrite").parquet(out)
      // localCheckpoint: the manifest is tiny and re-read per planning call
      (out, graft.sources.ManifestIndex.build(s, out, "doc_id").localCheckpoint())
    }

  private val zorderDocsStage = new operators.SessionCache[(String, DataFrame)]
  private def ensureZOrderedDocs(s: SparkSession, d: String): (String, DataFrame) =
    zorderDocsStage.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      val pathTag = pathTagOf(d)
      val out = graft.sources.TempDirs.register(
        s"/tmp/graft_zorder_docs_${ProcessHandle.current().pid()}_$pathTag")
      graft.sources.ZOrder.layout(
        Tables.documents(s, d), out, "doc_id", "n_chars", bits = 16, nFiles = 8)
      (out, graft.sources.ZOrder
        .buildManifest(s, out, "doc_id", "n_chars").localCheckpoint())
    }

  /** M5 — the Morton curve itself ([[graft.sources.ZOrder.zvalue]]),
    * value-checked: interleave (doc_id mod 1024, n_chars mod 1024) into a
    * 20-bit z-value per document. Pure codegen'd bit arithmetic — the
    * oracle replays the identical shift/mask fold in SQL, so hash equality
    * proves the curve both engines would lay files along.
    */
  val m5Zvalue: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        graft.sources.ZOrder.zvalue($"doc_id" % 1024, $"n_chars" % 1024,
          bits = 10).as("z"))
      .orderBy($"doc_id")
  }

  /** M6 — z-ordered box read ([[graft.sources.ZOrder.boxRead]]): m2's
    * manifest-planned file skipping on TWO dimensions at once. The lake is
    * rewritten clustered along the z-curve of (doc_id, n_chars) — each
    * file a contiguous curve segment — and a (doc_id, n_chars) box query
    * plans from the 2-D manifest and scans only intersecting files. The
    * oracle is the plain two-range predicate over the source, so hash
    * equality proves curve layout + manifest planning lose no rows;
    * ZOrderSpec pins that BOTH dimensions actually prune files (the
    * single-sort lake prunes only one).
    */
  val m6ZorderBox: Q = (s, d) => {
    import s.implicits._
    val (dir, manifest) = ensureZOrderedDocs(s, d)
    graft.sources.ZOrder
      .boxRead(s, dir, manifest, "doc_id", "n_chars",
        loA = 100L, hiA = 2600L, loB = 200L, hiB = 400L)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** M2 manifest-planned range read ([[graft.sources.ManifestIndex]]): a
    * doc_id range query served by consulting a per-file min/max manifest
    * and scanning ONLY the intersecting files of the range-clustered lake
    * — the Iceberg/Delta-style file skipping that beats even pushed
    * filters at 100 TB, where listing + footer reads dominate cold range
    * queries. The oracle is the plain predicate over the source table, so
    * hash-equality proves planning from stats loses no rows;
    * ManifestIndexSpec pins that the file list actually shrinks.
    */
  /** M3 — corpus snapshot diff ([[graft.operators.SnapshotDiff]]): the
    * audit between two lake versions. "After" is derived deterministically
    * from the source — doc_id%17==0 removed, doc_id%13==0 text-amended,
    * doc_id%19==0 re-added under an offset id — and the diff reports
    * exactly the added/removed/changed ids. Each side joins as (id,
    * md5 digest) projected at the scan; the one full-outer shuffle never
    * carries document bodies.
    */
  val m3CorpusDiff: Q = (s, d) => {
    import s.implicits._
    val before = Tables.documents(s, d)
    val after = before.where($"doc_id" % 17 =!= 0)
      .withColumn("text",
        when($"doc_id" % 13 === 0, concat($"text", lit(" v2"))).otherwise($"text"))
      .unionByName(before.where($"doc_id" % 19 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000))
    graft.operators.SnapshotDiff
      .diff(before, after, "doc_id", Seq("text", "source"))
      .orderBy($"doc_id")
  }

  /** M4 — CDC changelog apply ([[graft.operators.CdcMerge]]): MERGE INTO
    * against the documents snapshot. Two deterministic batches exercise
    * every path — seq 1 deletes doc_id%23==0 and amends doc_id%11==0;
    * seq 2 re-inserts doc_id%46==0 (delete-then-insert lives), deletes
    * doc_id%33==0 (update-then-delete dies), and inserts brand-new keys
    * at doc_id%29==0 + 2e6. Within a batch the delete arm wins where arms
    * overlap, so (key, seq) stays unique and the oracle can replay
    * last-writer-wins with a plain seq-desc window. Scale shape: the
    * changelog reduces with a map-side max_by then broadcasts as a LEFT
    * ANTI join — the snapshot side never shuffles (CdcMergeSpec pins the
    * plan).
    */
  /** The m4/m7 two-batch changelog, derived from the snapshot itself so
    * the oracle replays the construction: batch 1 deletes %23, updates
    * %11; batch 2 re-inserts %46, deletes %33, inserts new keys %29+2e6.
    */
  private def cdcFixtureLog(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val nulls = lit(null).cast("string")
    val b1 = docs.where($"doc_id" % 23 === 0 || $"doc_id" % 11 === 0)
      .select($"doc_id", lit(1L).as("seq"),
        when($"doc_id" % 23 === 0, lit("D")).otherwise(lit("U")).as("op"),
        when($"doc_id" % 23 === 0, nulls)
          .otherwise(concat($"text", lit(" u1"))).as("text"),
        when($"doc_id" % 23 === 0, nulls).otherwise($"source").as("source"))
    val b2 = docs.where($"doc_id" % 46 === 0 || $"doc_id" % 33 === 0)
      .select($"doc_id", lit(2L).as("seq"),
        when($"doc_id" % 46 === 0, lit("I")).otherwise(lit("D")).as("op"),
        when($"doc_id" % 46 === 0, concat($"text", lit(" back")))
          .otherwise(nulls).as("text"),
        when($"doc_id" % 46 === 0, $"source").otherwise(nulls).as("source"))
    val ins = docs.where($"doc_id" % 29 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), lit(2L).as("seq"),
        lit("I").as("op"), concat($"text", lit(" new")).as("text"), $"source")
    b1.unionByName(b2).unionByName(ins)
  }

  val m4CdcApply: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    graft.operators.CdcMerge
      .apply(docs, cdcFixtureLog(docs), "doc_id", "seq", "op",
        Seq("text", "source"))
      .orderBy($"doc_id")
  }

  /** M7 time travel — the lake "as of" sequence 1: [[m4CdcApply]]'s merge
    * with the log truncated to the first batch (`CdcMerge.readMerged`'s
    * `asOfSeq` plan — the cutoff filters the changelog scan, the snapshot
    * side is untouched). Batch 2's re-inserts, deletes, and new keys must
    * all be invisible; the oracle replays the seq≤1 state independently.
    */
  val m7TimeTravel: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    graft.operators.CdcMerge
      .apply(docs, cdcFixtureLog(docs).where($"seq" <= 1L),
        "doc_id", "seq", "op", Seq("text", "source"))
      .orderBy($"doc_id")
  }

  val m2ManifestRange: Q = (s, d) => {
    import s.implicits._
    val (dir, manifest) = ensureRangedDocs(s, d)
    graft.sources.ManifestIndex.rangeRead(s, dir, manifest, "doc_id", 100L, 260L)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Q6 per-column profile — null counts and exact distinct cardinality
    * per events column, one aggregation pass unpivoted to a row per
    * column (the data-quality report beside q3's value stats).
    */
  val q6NullProfile: Q = (s, d) => {
    import s.implicits._
    def nulls(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
    Tables.events(s, d)
      .agg(
        nulls($"user_id").as("nn_user_id"), countDistinct($"user_id").as("nd_user_id"),
        nulls($"event_type").as("nn_event_type"), countDistinct($"event_type").as("nd_event_type"),
        nulls($"value").as("nn_value"), countDistinct($"value").as("nd_value"),
        nulls($"props").as("nn_props"), countDistinct($"props").as("nd_props"))
      .selectExpr(
        """stack(4,
          |'user_id', nn_user_id, nd_user_id,
          |'event_type', nn_event_type, nd_event_type,
          |'value', nn_value, nd_value,
          |'props', nn_props, nd_props) AS (col_name, n_null, n_distinct)""".stripMargin)
      .orderBy($"col_name")
  }

  /** E3 SimHash 60-bit fingerprints. */
  val e3Simhash: Q = (s, d) =>
    TextDedup.simhash(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** E4 exact token-set Jaccard near-dup pairs (lang-blocked, τ=0.9). */
  /** F1 — edit-distance fuzzy join ([[graft.operators.FuzzyJoin]]): every
    * distinct source name matched against deterministically-typo'd
    * variants (per doc: drop / substitute / append at a doc_id-keyed
    * position) within levenshtein distance 1, via positional q-gram
    * blocking + length-band fallback — never a cross product (the
    * dropped-char variants of 4-char sources fall below the q-gram
    * guarantee and exercise the short path). The oracle IS the brute
    * force the blocking must reproduce exactly.
    */
  val f1FuzzyJoin: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val leftT = docs.select($"source").distinct()
      .select($"source".as("src"), $"source".as("lstr"))
    val rightT = docs.select($"doc_id",
      when($"doc_id" % 3 === 0, expr(
        "substring(source, 1, pmod(doc_id, length(source))) || " +
          "substring(source, pmod(doc_id, length(source)) + 2)"))
        .when($"doc_id" % 3 === 1, expr(
          "substring(source, 1, pmod(doc_id, length(source))) || 'x' || " +
            "substring(source, pmod(doc_id, length(source)) + 2)"))
        .otherwise(concat($"source", lit("q"))).as("cand"))
    graft.operators.FuzzyJoin
      .byEditDistance(leftT, rightT, "src", "lstr", "doc_id", "cand",
        maxDist = 1, q = 2)
      .select($"src", $"doc_id", $"cand", $"dist".cast("long").as("dist"))
      .orderBy($"doc_id", $"src")
  }

  val e4JaccardPairs: Q = (s, d) =>
    TextDedup.jaccardPairs(Tables.documents(s, d), "text", "doc_id", "lang", 0.9)
      .orderBy(col("d1"), col("d2"))

  /** J5 — point-in-interval join (`start ≤ t < end`): the asymmetric
    * validity-window join [[RangeJoin.within]]'s symmetric band cannot
    * express. Anchors (every 199th event) open 30-minute intervals; every
    * event joins the intervals containing it. The interval side explodes
    * into its covered width-buckets and the join is an EQUI-join on the
    * bucket id ([[RangeJoin.pointInInterval]]) — a raw non-equi join
    * plans as a broadcast nested loop, the 100 TB cross-product trap.
    */
  val j5IntervalJoin: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"event_id", unix_micros($"ts".cast("timestamp")).as("tus"))
    val pts = ev.select($"event_id".as("pe"), $"tus".as("pt"))
    val ivs = ev.where($"event_id" % 199 === 0)
      .select($"event_id".as("ie"), $"tus".as("s_us"),
        ($"tus" + 1800000000L).as("e_us"))
    RangeJoin.pointInInterval(pts, "pt", ivs, "s_us", "e_us", 1800000000L)
      .select($"pe", $"ie", ($"pt" - $"s_us").as("off_us"))
      .orderBy($"pe", $"ie")
  }

  // Freshness tag for session-cached layout artifacts derived from a
  // testdata file: (size, mtime) of the source parquet — a regenerated
  // fixture changes the cache key and the mirror/table is rebuilt, the
  // same contract stageForStream enforces for the streaming stage dirs.
  private def sourceTag(d: String, tableFile: String): String = {
    val p = java.nio.file.Paths.get(s"$d/$tableFile")
    s"${java.nio.file.Files.size(p)}#${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
  }

  // a fresh JVM's in-memory catalog doesn't know tables whose files
  // a PREVIOUS run left in the warehouse — clear both catalog entry
  // and location or saveAsTable refuses (LOCATION_ALREADY_EXISTS)
  private def resetTable(s: SparkSession, t: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + "/" + t)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  // Bucketed lake tables, written once per (session, sf, source version) —
  // table layout is a periodic job like the IVF index build, so the gate
  // times the JOIN the layout pays for, not the one-time write.
  private val bucketedTables = new operators.SessionCache[(String, String)]
  private def ensureBucketed(s: SparkSession, d: String): (String, String) =
    bucketedTables.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "orders.parquet")}#${sourceTag(d, "customer.parquet")}") {
      val key = d.replaceAll("[^A-Za-z0-9]", "_")
      val (ot, ct) = (s"orders_bkt_$key", s"customer_bkt_$key")
      Seq(ot, ct).foreach(resetTable(s, _))
      graft.sources.LakeLayout.writeBucketed(Tables.orders(s, d), ot, 8, "o_custkey")
      graft.sources.LakeLayout.writeBucketed(Tables.customer(s, d), ct, 8, "c_custkey")
      (ot, ct)
    }

  /** The e2i signature lake as it would exist in production: the standing
    * corpus's (doc_id, band, bsig) rows written ONCE, bucketed by
    * (band, bsig) ([[graft.sources.LakeLayout.writeBucketedBy]]), so every
    * subsequent delta probe joins against its at-rest clustering and plans
    * zero lake-side exchanges (PlanAuditSpec pins the shape). Session-cached
    * layout job like [[ensureBucketed]] — the gate times the PROBE the lake
    * layout pays for, not the one-time corpus sketch.
    */
  private val sigLakeTables = new operators.SessionCache[String]
  private[graft] def ensureSigLake(s: SparkSession, d: String): String =
    sigLakeTables.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      import s.implicits._
      val t = "siglake_" + d.replaceAll("[^A-Za-z0-9]", "_")
      resetTable(s, t)
      val corpus = Tables.documents(s, d).where($"doc_id" % 10 =!= 0)
      graft.sources.LakeLayout.writeBucketedBy(
        IncrementalDedup.bandSignatures(corpus, "text", "doc_id", 8, 3, 4),
        t, 8, Seq("band", "bsig"), Seq("band", "bsig"))
      t
    }

  /** J6 co-located bucketed join — SURVEY §4's "co-locate joins via
    * bucketing" made executable: orders and customer are written
    * `bucketBy(8, custkey)` + `sortBy` ([[graft.sources.LakeLayout
    * .writeBucketed]]), hash-partitioned AT REST, so the equi-join on the
    * bucket key plans with ZERO exchanges under the join — at 100 TB the
    * difference between a join that moves nothing and one that shuffles
    * both sides every query. PlanAuditSpec pins the exchange-free shape;
    * the oracle pins that layout changed nothing about the answer.
    */
  val j6BucketedJoin: Q = (s, d) => {
    import s.implicits._
    val (ot, ct) = ensureBucketed(s, d)
    // merge hint: at gate SF the dimension fits a broadcast and Catalyst
    // rightly prefers it — the hint pins the plan the layout exists FOR
    // (both sides 100 TB-huge, no broadcast possible), which is what the
    // audit must hold exchange-free
    s.table(ot).hint("merge").join(s.table(ct), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(sum(dec($"o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  /** Zipf-skewed corpus, derived deterministically from `documents.doc_id`
    * (VERDICT r5 #4: the synthetic corpus is uniform-DF, so the Jaccard
    * skew machinery never fired in the gate). Token document frequencies
    * span four decades the way a natural-language corpus does:
    *
    *  - `zthe`:    every class-A doc (df = 4N/5) — the "the" head;
    *  - `cA cB f1..f9`: every class-B doc (df = N/5) — boilerplate;
    *  - `bg{m}_x`: one per 100-id block's B docs (df = 20) — mid-tail;
    *  - `g{k}_a..g{k}_j`: one per A pair (df = 2) — the rare tail.
    *
    * Class A (doc_id % 5 ≠ 4) docs come in identical pairs (k = id div 2)
    * → jaccard 1.0; class B (doc_id % 5 = 4) docs are identical within a
    * 100-id block and share 11/13 tokens across blocks (0.846 < τ) — so
    * the τ=0.9 result is exactly {A pairs} ∪ {within-block B pairs}, and
    * every qualifying pair remains reachable through a RARE token when the
    * boilerplate postings (`cA`/`cB`, prefix-df N/5) are capped away.
    */
  private def zipfCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = expr("doc_id div 2")
    val m = expr("doc_id div 100")
    val gpart = concat_ws(" ",
      ('a' to 'j').map(ch => concat(lit("g"), k, lit(s"_$ch"))): _*)
    val textA = concat(gpart, lit(" zthe"))
    val textB = concat(lit("bg"), m, lit("_x cA cB f1 f2 f3 f4 f5 f6 f7 f8 f9"))
    Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 5 === 4, textB).otherwise(textA).as("text"),
      lit("all").as("blk"))
  }

  /** E4c — [[TextDedup.jaccardPairsPrefix]] on the Zipf corpus WITH the
    * skew caps live: `maxTokenDf = 64` drops the boilerplate prefix
    * postings (`cA`/`cB`, df = N/5 ≥ 100 at gate SF — the observe metric
    * records the drops; ZipfSkewSpec asserts it fired) and `smallCap = 8`
    * salts the mid-tail `bg` postings (df = 20) across 3 cells. The result
    * is still EXACT — every qualifying pair keeps a kept prefix token —
    * and hash-matches the full uncapped DuckDB jaccard oracle. This is the
    * prefix variant winning on the corpus shape it was built for (Zipfian
    * DF), where [[e4JaccardPairs]]' full inverted index pays the zthe-head
    * O(df²).
    */
  val e4cJaccardZipf: Q = (s, d) =>
    TextDedup.jaccardPairsPrefix(zipfCorpus(s, d), "text", "doc_id", "blk", 0.9,
        maxTokenDf = 64, smallCap = 8)
      .orderBy(col("d1"), col("d2"))

  /** E4d — the exact full-index variant ([[TextDedup.jaccardPairs]],
    * default caps: nothing dropped) on the SAME Zipf corpus and oracle:
    * both Jaccard variants gate-proven equal on skewed data, and the bench
    * records the head-token O(df²) price the prefix variant avoids.
    */
  val e4dJaccardZipfExact: Q = (s, d) =>
    TextDedup.jaccardPairs(zipfCorpus(s, d), "text", "doc_id", "blk", 0.9)
      .orderBy(col("d1"), col("d2"))

  /** E3b simhash near-dup search: all pairs within hamming distance 3,
    * block-candidate join + exact bit_count verify (Manku et al. WWW'07).
    */
  val e3SimhashNear: Q = (s, d) =>
    TextDedup.simhashNearPairs(Tables.documents(s, d), "text", "doc_id", 3)
      .orderBy(col("d1"), col("d2"))

  /** J4 band range join: event pairs from DIFFERENT users within ±60 s,
    * via the bucketed equi-join in [[graft.operators.RangeJoin]] (a raw
    * non-equi join would plan as a broadcast nested loop — quadratic).
    */
  val j4RangeJoin: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"event_id", $"user_id", unix_micros($"ts".cast("timestamp")).as("tus"))
    val l = ev.select($"event_id".as("e1"), $"user_id".as("u1"), $"tus".as("t1"))
    val r = ev.select($"event_id".as("e2"), $"user_id".as("u2"), $"tus".as("t2"))
    RangeJoin.within(l, r, "t1", "t2", 60000000L,
        col("e1") < col("e2") && col("u1") =!= col("u2"))
      .select($"e1", $"e2", ($"t2" - $"t1").as("dt_us"))
      .orderBy($"e1", $"e2")
  }

  /** E8 dedup clustering: minhash-band candidate pairs → connected
    * components → (doc, canonical cluster id). The step that turns pairwise
    * near-dup candidates into a one-document-per-cluster corpus clean.
    */
  /** The canonical (doc_id, cluster) near-dup labeling — ONE definition
    * shared by e8 (the clustering gate row) and s5 (the split keyed on it),
    * so the split's leakage unit is provably the dedup pass's cluster.
    */
  private def dedupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val pairs = TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, 4)
    ConnectedComponents.minLabel(docs.select($"doc_id"), pairs, "d1", "d2")
  }

  val e8DedupCluster: Q = (s, d) => {
    import s.implicits._
    dedupClusters(s, d).orderBy($"doc_id")
  }

  /** E8b: same pair graph, clustered by [[ConnectedComponents.alternatingStar]]
    * (Kiveris SoCC'14) — gate-proves the O(log n)-round CC algorithm against
    * the same recursive-CTE oracle as [[e8DedupCluster]]'s min-label
    * propagation, not merely against its sibling.
    */
  val e8bClusterStar: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val pairs = TextDedup.minhashBandPairs(docs, "text", "doc_id", 8, 3, 4)
    ConnectedComponents.alternatingStar(docs.select($"doc_id"), pairs, "d1", "d2")
      .select($"doc_id", $"cluster".cast("long").as("cluster"))
      .orderBy($"doc_id")
  }

  /** E5 embedding-cosine near-dup pairs (label-blocked, τ=0.3). */
  val e5CosinePairs: Q = (s, d) =>
    TextDedup.cosinePairs(Tables.embeddings(s, d), "embedding", "vec_id", "label", 0.3)
      .orderBy(col("v1"), col("v2"))

  /** SD1 — SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    * cluster coarsely, compute pairwise cosine only WITHIN clusters, mark
    * everything above τ as a semantic duplicate and keep one representative
    * (min id) per duplicate group. The gate variant swaps k-means for
    * DETERMINISTIC equal-norm axis-block centroids (centroid c scores a
    * vector by the sum of its 8-dim block c, so argmax(dot) = argmax(block
    * sum)) — the clustering is a pure function of the row, which is what
    * makes the row oracle-checkable end-to-end; the production path is the
    * same plan with [[IvfIndex]] k-means assignments. 100 TB shape:
    * clustering is a scan-local projection; the O(n²) cosine stage is
    * confined to cluster blocks (the SemDeDup point); the duplicate-group
    * closure rides the driver-finished CC.
    */
  /** SD2 — SemDedup with NO embeddings table: the whole semantic-dedup
    * loop from raw text. [[graft.operators.ChunkEmbed.docEmbed]] hashes
    * each document to a 64-d bag-of-words vector, sd1's axis-block argmax
    * clusters them, within-cluster exact cosine pairs above τ=0.95 (the
    * measured knee on this corpus: the bulk of the pair-cosine mass sits
    * at 0.5–0.8 from shared vocabulary, the planted near-dups at ≈1.0)
    * feed connected components, min-id rep per group. Restricted to
    * doc_id < 1000: the within-cluster pair volume is Σ cluster² and the
    * ORACLE pays the same pairs — the operator semantics don't change
    * with the subset, the oracle budget does.
    */
  val sd2SemanticText: Q = (s, d) => {
    import s.implicits._
    val emb = graft.operators.ChunkEmbed.docEmbed(
      Tables.documents(s, d).where($"doc_id" < 1000))
    val blockSums = array((0 until 8).map { c =>
      aggregate(slice($"emb", lit(c * 8 + 1), lit(8)), lit(0.0),
        (acc, x) => acc + x)
    }: _*)
    val clustered = emb
      .select($"doc_id", $"emb", blockSums.as("__s"))
      .select($"doc_id", $"emb",
        (array_position($"__s", array_max($"__s")) - 1).cast("int").as("cluster"))
    val pairs = TextDedup.cosinePairs(clustered, "emb", "doc_id", "cluster", 0.95)
    val reps = ConnectedComponents
      .minLabel(clustered.select($"doc_id"), pairs.select($"v1", $"v2"), "v1", "v2")
      .select($"doc_id", $"cluster".as("rep"))
    clustered.select($"doc_id", $"cluster").join(reps, "doc_id")
      .select($"doc_id", $"cluster", $"rep", ($"rep" === $"doc_id").as("kept"))
      .orderBy($"doc_id")
  }

  val sd1SemanticDedup: Q = (s, d) => {
    import s.implicits._
    // Block sums built ONCE as an array column, argmax via
    // array_position(array_max) — first-max tie-break, and the interpreted
    // aggregate HOFs evaluate once per row. (A foldLeft-of-when argmax
    // duplicates the accumulator per level — ~2^7 copies of blockSum(0) in
    // the final tree, each re-evaluated interpreted: the exact
    // re-evaluation disease this round fixed in the n-gram signals.)
    val blockSums = array((0 until 8).map { c =>
      aggregate(slice($"embedding", lit(c * 8 + 1), lit(8)), lit(0.0),
        (acc, x) => acc + x.cast("double"))
    }: _*)
    val clustered = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", blockSums.as("__s"))
      .select($"vec_id", $"embedding",
        (array_position($"__s", array_max($"__s")) - 1).cast("int").as("cluster"))
    val pairs = TextDedup.cosinePairs(clustered, "embedding", "vec_id", "cluster", 0.3)
    val reps = ConnectedComponents
      .minLabel(clustered.select($"vec_id"), pairs.select($"v1", $"v2"), "v1", "v2")
      .select($"vec_id", $"cluster".as("rep"))
    clustered.select($"vec_id", $"cluster").join(reps, "vec_id")
      .select($"vec_id", $"cluster", $"rep", ($"rep" === $"vec_id").as("kept"))
      .orderBy($"vec_id")
  }

  /** U1 — RefinedWeb-style URL curation: host extraction → www-strip →
    * registered-domain projection → per-domain document cap (the "no more
    * than k docs per domain" mixing rule). URLs are synthesized
    * deterministically from doc_id (same discipline as t6's PII: the gate
    * must prove the extraction+cap FIRES). Every stage before the cap is a
    * scan-local regexp projection; the cap itself is the bounded-heap
    * top-k aggregate ([[graft.functions.TopKIds]], ranked by the md5 draw
    * ascending via a negated score) — NOT a `row_number` window, whose
    * per-domain sort is exactly the skew trap a mega-domain (one host with
    * 10⁹ documents) springs at 100 TB. The heap ships ≤ k ids per domain
    * per map task through the one aggregation shuffle; nothing ever sorts
    * a whole domain.
    */
  val u1DomainCap: Q = (s, d) => {
    import s.implicits._
    val url = concat(lit("https://"),
      when($"doc_id" % 4 === 0, "www.").otherwise(""),
      lit("u"), $"doc_id" % 7, lit("."),
      lit("site"), $"doc_id" % 23, lit("."),
      when($"doc_id" % 3 === 0, "com").when($"doc_id" % 3 === 1, "org").otherwise("net"),
      lit("/page/"), $"doc_id", lit("?ref="), $"source")
    Tables.documents(s, d)
      .select($"doc_id", url.as("url"))
      .select($"doc_id", registeredDomain($"url").as("domain"),
        // numeric draw; negated so topk_ids' (score DESC, id ASC) order is
        // (draw ASC, doc_id ASC) — the exact row_number order the oracle runs
        (-conv(Sampling.drawHex($"doc_id"), 16, 10).cast("double")).as("__nd"))
      .groupBy($"domain")
      .agg(expr("topk_ids(__nd, doc_id, 5)").as("ids"))
      .select($"domain", posexplode($"ids").as(Seq("pos", "doc_id")))
      .select($"doc_id", $"domain", ($"pos" + 1).cast("long").as("rk"))
      .orderBy($"doc_id")
  }

  /** E10 — cross-document passage overlap (the signal behind exact
    * substring dedup, Lee et al. 2021 "Deduplicating Training Data Makes
    * Language Models Better"): for each document, how many of its distinct
    * 8-token passages also appear in at least one OTHER document. Engine
    * shape: shingle → 60-bit hash → distinct (doc, hash) → per-hash
    * document frequency (map-side combined groupBy) → join back → per-doc
    * count. At 100 TB the DF table is the only corpus-wide state and it
    * carries (hash, count) only; the same maxTokenDf-style cap as the
    * Jaccard index applies if a pathological passage (boilerplate) blows
    * up — here DF is counted, never expanded into pairs, so there is no
    * O(df²) stage at all.
    */
  val e10PassageOverlap: Q = (s, d) =>
    TextDedup.passageOverlap(Tables.documents(s, d), "text", "doc_id", 8)
      .orderBy(col("doc_id"))

  /** E11 — exact substring SCRUB ([[TextDedup.passageScrub]]): e10 detects
    * shared passages, this row REMOVES them (Lee et al. 2021's transform)
    * and hash-checks the rebuilt text itself, not just counts.
    */
  val e11PassageScrub: Q = (s, d) => {
    import s.implicits._
    TextDedup.passageScrub(Tables.documents(s, d), "text", "doc_id", 8)
      .select($"doc_id", md5($"clean_text").as("clean_md5"), $"n_kept", $"n_removed")
      .orderBy($"doc_id")
  }

  /** T1 language-ID heuristic: stopword-density votes per language. */
  val t1Langid: Q = (s, d) => {
    import s.implicits._
    val toks = tokens($"text")
    val sEn = countIn(toks, StopwordsEn).cast("long")
    val sDe = countIn(toks, StopwordsDe).cast("long")
    val sEs = countIn(toks, StopwordsEs).cast("long")
    val sFr = countIn(toks, StopwordsFr).cast("long")
    Tables.documents(s, d)
      .select($"doc_id", sEn.as("s_en"), sDe.as("s_de"), sEs.as("s_es"), sFr.as("s_fr"))
      .withColumn("pred",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_es" && $"s_en" >= $"s_fr", "en")
          .when($"s_de" >= $"s_es" && $"s_de" >= $"s_fr", "de")
          .when($"s_es" >= $"s_fr", "es")
          .otherwise("fr"))
      .orderBy($"doc_id")
  }

  /** T2 quality scoring: length band, punctuation density, stopword ratio. */
  val t2Quality: Q = (s, d) => {
    import s.implicits._
    val toks = tokens($"text")
    val nTok = size(toks).cast("long")
    val punct = punctCount($"text").cast("double") /
      greatest(length($"text").cast("double"), lit(1.0))
    val sw = countIn(toks, StopwordsEn).cast("double") /
      greatest(nTok.cast("double"), lit(1.0))
    Tables.documents(s, d)
      .select($"doc_id", nTok.as("n_tokens"),
        round(punct, 6).as("punct_ratio"),
        round(sw, 6).as("stopword_ratio"),
        round(qualityScore($"text"), 6).as("quality"))
      .orderBy($"doc_id")
  }

  /** Session-cached deterministic quality model for t11 — built once,
    * persisted through [[graft.sources.ModelStore.saveQuality]] and read
    * BACK so the gate times/validates the artifact-loaded serving path
    * (the same nightly-build/serve-day split as the codec models and the
    * e9b bench bloom). The weights are an integer-arithmetic function of
    * the bucket id so the ORACLE can rebuild the identical model in SQL;
    * the TRAINED path (MLlib fit) is pinned by QualityClassifierSpec.
    */
  private val qualityModelCache =
    new operators.SessionCache[operators.QualityClassifier.Model]
  private def detQualityModel(s: SparkSession): operators.QualityClassifier.Model =
    qualityModelCache.getOrBuild(
      s"${operators.SessionCache.token(s)}#quality_det_512") {
      val m = operators.QualityClassifier.Model(-0.05,
        Array.tabulate(512)(b =>
          ((b.toLong * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5))
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_qmodel_${ProcessHandle.current().pid()}_" +
          operators.SessionCache.token(s))
      graft.sources.ModelStore.saveQuality(s, m, dir)
      graft.sources.ModelStore.loadQuality(s, dir)
    }

  /** T11 LEARNED quality gate ([[operators.QualityClassifier]]) — the
    * model-based complement to t2's heuristics: a hashed bag-of-tokens
    * linear scorer whose weight vector folds into the scan as ONE array
    * literal. Row-local (no join, no shuffle before the output sort); the
    * md5 feature hash makes every score engine-replayable, so the oracle
    * re-derives model AND scores from scratch.
    */
  val t11QualityModel: Q = (s, d) => {
    import s.implicits._
    val m = detQualityModel(s)
    Tables.documents(s, d)
      .select($"doc_id",
        size(tokens($"text")).cast("long").as("n_tokens"),
        round(operators.QualityClassifier.logitCol($"text", m), 6).as("q_logit"))
      .withColumn("keep", ($"q_logit" >= 0.0).cast("int"))
      .orderBy($"doc_id")
  }

  /** T12 BPE tokenizer training's per-iteration workhorse, gated
    * exactly: weighted adjacent-pair counts of the initial character
    * segmentation over the corpus VOCABULARY (the corpus collapses to
    * (word, freq) first — the scale move that makes 100 TB tokenizer
    * training tractable), top-20 by (count desc, pair). The full merge
    * loop is this computation iterated with a driver argmax and a greedy
    * fold between rounds — SQL cannot express the loop, so its one
    * gate-able iteration is hash-checked here and the loop itself is t13
    * + BpeTrainSpec's independent replay.
    */
  val t12BpePairs: Q = (s, d) =>
    operators.BpeTrain.pairCounts(
      operators.BpeTrain.initialSeg(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(20)

  /** T13 the learned tokenizer itself: 8 merges trained on the corpus
    * vocabulary, emitted as (merge_rank, left_sym, right_sym) — HASH
    * compared since r18: the loop is pure integer arithmetic with
    * binary-order tie-breaks, so the oracle unrolls all 8 iterations
    * (pair counts → argmax → a recursive merge-fold walk,
    * [[duckBpeFitReplay]]) and lands on the identical list. The exact
    * merge list is additionally spec-pinned (BpeTrainSpec replays the
    * published algorithm independently) and t12 remains the loop body's
    * single-iteration twin.
    */
  val t13BpeMerges: Q = (s, d) => {
    val session = s
    import session.implicits._
    operators.BpeTrain.fit(
      operators.BpeTrain.wordFreq(Tables.documents(s, d), "text"), 8)
      .zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("merge_rank", "left_sym", "right_sym")
      .orderBy("merge_rank")
  }

  /** The FIXED merge list t14/t15 apply — data-independent so the oracle
    * SQL can replay it verbatim at any SF (a learned list would differ
    * between SFs with the corpus's word frequencies). Exercises the
    * apply semantics corners: a composite LEFT symbol ((th,e) only fires
    * after (t,h)), a repeated-letter run ((g,g) on "agg" must merge
    * greedily left-to-right), and a plain common pair.
    */
  private val BpeFixedMerges = assertBpeOracleReplayable(
    Seq(("t", "h"), ("th", "e"), ("g", "g"), ("a", "r")))

  /** The DuckDB replay of a merge chain (one `replace` of "l␟r␟"→"lr␟"
    * per merge, every symbol TERMINATED by chr(31)) anchors only the
    * RIGHT boundary of each symbol: the pattern "l␟r␟" also matches when
    * a preceding composite symbol merely ENDS with l (e.g. with merges
    * [(t,h),(h,e)] the string "th␟e␟" would fuse to "the␟" in SQL while
    * the engine keeps [th, e] — `h` is not a whole symbol there). The
    * replay is therefore exact iff no merge's LEFT symbol is a proper
    * SUFFIX of any composite symbol an earlier merge can have created.
    * (A left-anchored replace is NOT the fix: consuming the left
    * delimiter breaks non-overlapping adjacency — "abab" under (a,b)
    * must fire twice, but the second occurrence's left ␟ is part of the
    * first replacement and a left-anchored scan skips it.) Enforced
    * loudly here so a future edit to the fixed list cannot silently
    * diverge oracle from engine; QueriesSpec pins the guard itself.
    */
  private[graft] def assertBpeOracleReplayable(
      merges: Seq[(String, String)]): Seq[(String, String)] = {
    merges.zipWithIndex.foreach { case ((l, _), i) =>
      val earlier = merges.take(i).map { case (a, b) => a + b }
      val clash = earlier.find(c => c != l && c.endsWith(l))
      require(clash.isEmpty,
        s"BPE fixed merge #$i left symbol '$l' is a proper suffix of the " +
          s"earlier composite '${clash.get}' — the DuckDB replace-chain " +
          "oracle (right-boundary-only delimiters) would fuse across that " +
          "composite's tail where the engine does not; choose symbols so " +
          "no merge's left is a proper suffix of an earlier composite")
    }
    merges
  }

  /** T14 BPE segmentation under the fixed merge list, one scalar row per
    * (word, pos, token) — the hash gate for the APPLY leg of the
    * tokenizer story (t12 gates pair counts, t13 the learned list). The
    * oracle replays the greedy in-order merge chain as delimiter-tracked
    * `replace`es: with every symbol terminated by chr(31), one global
    * left-to-right non-overlapping replace of "l␟r␟"→"lr␟" IS
    * [[operators.BpeTrain.greedyOnce]].
    */
  val t14BpeSegment: Q = (s, d) =>
    operators.BpeTrain.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        BpeFixedMerges)
      // planner-pathology barrier, measured: posexplode over the inlined
      // nested-HOF fold costs ~5 s of OPTIMIZER time per fresh plan
      // (execution is 0.06 s; t15's size() over the same fold plans
      // fine) — checkpointing the vocabulary-sized segmentation lets the
      // Generate plan over a materialized relation (p5 precedent)
      .localCheckpoint()
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")

  /** T14a the SAME segmentation through [[operators.BpeTrain
    * .segmentWordsScalable]] — the production-K rank-skip applier gated
    * under t14's oracle SQL verbatim (the e2i/r5 trick: one oracle text,
    * two engine plans), so fold and mapPartitions appliers are
    * hash-pinned equal by the driver, not just by spec.
    */
  val t14aBpeSegmentScalable: Q = (s, d) =>
    operators.BpeTrain.segmentWordsScalable(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        BpeFixedMerges)
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")

  /** T15 per-document token counts under the fixed merge list — the
    * budget input [[operators.BpeTrain.tokenCounts]] feeds to the
    * sampling rows, gated end to end (distinct-word segmentation joined
    * back to the exploded corpus, per-doc sum).
    */
  val t15BpeTokenCounts: Q = (s, d) =>
    operators.BpeTrain.tokenCounts(
      Tables.documents(s, d), "doc_id", "text", BpeFixedMerges)
      .orderBy("doc_id")

  // Persisted tokenizer artifacts, written once per session (the model is
  // data-independent — BpeFixedMerges under each discipline): the t14b/
  // t15b/t17 rows then LOAD them per pass, so the gate exercises the
  // artifact boot path (parquet meta + ordered merge read) the way a
  // serving job would, while the save stays a fixture cost.
  private val bpeModelStage = new operators.SessionCache[String]
  private def ensureBpeModels(s: SparkSession): String =
    bpeModelStage.getOrBuild(operators.SessionCache.token(s)) {
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_bpe_model_${ProcessHandle.current().pid()}_" +
          operators.SessionCache.token(s).take(8))
      graft.sources.ModelStore.saveBpe(s,
        operators.BpeTrain.BpeModel(operators.SpacePreTok, BpeFixedMerges),
        s"$dir/space")
      graft.sources.ModelStore.saveBpe(s,
        operators.BpeTrain.BpeModel(
          operators.RegexPreTok(operators.RegexPreTok.Gpt2ish), BpeFixedMerges),
        s"$dir/gpt2")
      graft.sources.ModelStore.saveBpe(s,
        operators.BpeTrain.BpeModel(
          operators.RegexPreTok(operators.RegexPreTok.Gpt2ish), BpeFixedMerges,
          byteLevel = true),
        s"$dir/gpt2b")
      dir
    }

  /** T14b — [[t14BpeSegment]] re-driven through a LOADED tokenizer
    * artifact under t14's oracle SQL verbatim (the e2i/r5 one-oracle-two-
    * plans trick): [[graft.sources.ModelStore.saveBpe]] wrote the fixed
    * list once (session fixture), this row boots `loadBpe` and segments
    * with the loaded merges — so "a tokenizer that survives the JVM" is
    * hash-pinned equal to the in-memory list, not just spec-claimed.
    */
  val t14bBpeSegmentLoaded: Q = (s, d) => {
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/space")
    operators.BpeTrain.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        model.merges)
      .localCheckpoint() // same planner-pathology barrier as t14
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")
  }

  /** T15b — [[t15BpeTokenCounts]] through the loaded artifact (t15's
    * oracle verbatim): the model's own discipline + merges drive
    * [[operators.BpeTrain.tokenCounts]], the serving shape a training
    * pipeline boots daily.
    */
  val t15bBpeCountsLoaded: Q = (s, d) => {
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/space")
    operators.BpeTrain.tokenCounts(Tables.documents(s, d), "doc_id", "text", model)
      .orderBy("doc_id")
  }

  /** T16 — GPT-2-style REGEX pre-tokenization ([[operators.RegexPreTok
    * .Gpt2ish]]): letter/digit/punctuation runs each absorbing one
    * preceding space, so " spark" and "spark" are distinct vocabulary
    * entries — the discipline real corpora train BPE under (space-split
    * is the suite's gate discipline, not a production one). The oracle
    * replays the SAME pattern through DuckDB's RE2 `regexp_extract_all`
    * — the pattern is written lookahead-free with an explicit
    * whitespace class precisely so Java regex and RE2 agree on it
    * (BpeTrainSpec pins the engine split against a driver replay on
    * punctuation/unicode fixtures the synthetic corpus lacks).
    */
  val t16BpePretokenize: Q = (s, d) =>
    operators.BpeTrain.wordFreq(Tables.documents(s, d), "text",
      operators.RegexPreTok(operators.RegexPreTok.Gpt2ish))
      .orderBy("word")

  /** T17 — the loaded GPT-2-style tokenizer END TO END: `loadBpe` boots
    * the regex-discipline artifact and [[operators.BpeTrain.tokenCounts]]
    * splits, segments and counts under it — pre-tokenization, merge
    * apply and the corpus join all hash-gated in one composed row.
    */
  val t17BpePretokCounts: Q = (s, d) => {
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/gpt2")
    operators.BpeTrain.tokenCounts(Tables.documents(s, d), "doc_id", "text", model)
      .orderBy("doc_id")
  }

  /** T18 — BYTE-LEVEL segmentation under the loaded GPT-2-style model
    * (the zero-OOV discipline: pre-tokens become UTF-8 bytes remapped
    * through [[operators.BpeTrain.ByteToUnicode]], merges apply over
    * that 256-symbol alphabet; absorbed spaces surface as `Ġ`). The
    * oracle replays the remap generally — hex the word's UTF-8 bytes,
    * index a 256-entry map literal generated from the SAME Scala table
    * (one source of truth) — and then the usual replace-chain merge
    * replay, so the hash pins the remap AND the byte-alphabet apply at
    * both SFs; the multi-byte corners (é → Ã©, emoji → 4 symbols) are
    * spec-pinned on fixtures the synthetic corpus lacks.
    */
  val t18BpeByteLevel: Q = (s, d) => {
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/gpt2b")
    operators.BpeTrain.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text", model.preTok)
          .select(col("word")),
        model.merges, model.byteLevel)
      .localCheckpoint() // same planner-pathology barrier as t14
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")
  }

  /** T19 — the TRAINING EXPORT grain under the loaded byte-level model:
    * [[operators.BpeTrain.tokenIds]] — one row per (doc, position) with
    * the deterministic [[operators.BpeTrain.vocab]] id (bytes 0–255 +
    * 256+rank per merge). This is the tensor a training run actually
    * consumes, and the byte-level zero-OOV property is what makes the
    * vocabulary join total. Every tenth document keeps the row's output
    * at the suite's usual row-count grain (token grain is ~150×
    * doc grain); the oracle replays positions with doc-partitioned
    * row_number over (word position, within-word position) and maps
    * tokens through a vocab literal generated from the engine's own
    * table.
    */
  val t19BpeTokenIds: Q = (s, d) => {
    import s.implicits._
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/gpt2b")
    operators.BpeTrain.tokenIds(
      Tables.documents(s, d).where($"doc_id" % 10 === 0), "doc_id", "text", model)
      .orderBy("doc_id", "pos")
  }

  /** T20 — the encode → export → decode ROUND TRIP: [[operators.BpeTrain
    * .detokenize]] inverts t19's id sequences back to text (ids → tokens
    * → remapped bytes → UTF-8), and under the byte-level alphabet on
    * single-spaced text the loop is the IDENTITY — so the oracle is the
    * raw documents table itself, the strongest oracle a pipeline leg can
    * have. This is the lossless-export guarantee a training-data
    * pipeline audits with: what the tensors encode is exactly what the
    * corpus said.
    */
  val t20BpeDetokenize: Q = (s, d) => {
    import s.implicits._
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/gpt2b")
    val docs = Tables.documents(s, d).where($"doc_id" % 10 === 0)
    operators.BpeTrain.detokenize(
        operators.BpeTrain.tokenIds(docs, "doc_id", "text", model),
        "doc_id", model)
      .orderBy("doc_id")
  }

  /** T21 — trigram Stupid Backoff LM scoring ([[operators.NgramLm]];
    * Brants et al. EMNLP 2007): fit the three raw count tables on the
    * corpus, score every document at `minCount = 2` — the count-threshold
    * prune every production n-gram model ships with, and the thing that
    * makes this row exercise ALL THREE backoff legs (singleton trigrams
    * fall to the bigram leg, singleton bigrams to the unigram floor; an
    * unpruned self-scored corpus would never leave the trigram leg).
    * The oracle replays the same count CTEs with `HAVING count(*) >= 2`
    * and the identical nested CASE, folding logp in position order.
    */
  val t21NgramLm: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val model = operators.NgramLm.fit(docs, "text")
    operators.NgramLm.score(docs, "doc_id", "text", model, minCount = 2L)
      .orderBy($"doc_id")
  }

  /** T22 — t21 through the PERSISTED count store under t21's oracle SQL
    * verbatim (the e2i/r5 one-oracle-two-plans trick): the session
    * fixture ran [[operators.NgramLm.save]] once; this row boots
    * [[operators.NgramLm.load]] and scores with the loaded tables — the
    * serving shape a quality-scoring job boots nightly. Counts are longs,
    * so the loaded model is bit-identical to the fitted one.
    */
  val t22NgramLmStore: Q = (s, d) => {
    import s.implicits._
    val model = operators.NgramLm.load(s, s"${ensureNgramStores(s, d)}/full")
    operators.NgramLm.score(Tables.documents(s, d), "doc_id", "text", model,
      minCount = 2L).orderBy($"doc_id")
  }

  /** T23 — incremental count maintenance under t21's oracle: the corpus
    * splits into a "yesterday" store ([[operators.NgramLm.save]] over
    * 4/5 of the documents) and a "today" delta ([[operators.NgramLm
    * .appendStore]] — delta-sized segment append, the lake untouched),
    * and scoring the loaded GROWN store must hash-match the
    * full-recompute oracle. Counts merge by integer addition in
    * [[operators.NgramLm.load]]'s segment fold, so grown ≡ refit exactly
    * — the e2i of the LM family, probing the UNCOMPACTED two-segment
    * lake (compaction equivalence is spec-pinned in NgramLmSpec).
    */
  val t23NgramLmAppend: Q = (s, d) => {
    import s.implicits._
    val model = operators.NgramLm.load(s, s"${ensureNgramStores(s, d)}/grown")
    operators.NgramLm.score(Tables.documents(s, d), "doc_id", "text", model,
      minCount = 2L).orderBy($"doc_id")
  }

  /** T30 — interpolated ABSOLUTE DISCOUNTING over the persisted count
    * store ([[operators.NgramLm.scoreAbsDiscount]]): the second score()
    * mode of the same artifact — Ney-style max(c−D,0) discounting with
    * counts-of-counts D per order and continuation-type interpolation,
    * a true probability where Stupid Backoff is an unnormalized
    * frequency. The oracle refits the raw count tables in DuckDB,
    * derives the SAME type counts and discounts, and replays the
    * identical nested CASE/greatest expression tree, folding logp in
    * position order — the t21 discipline on the new arithmetic. Serving
    * from the LOADED store (not a fresh fit) also pins that the view
    * needs nothing beyond the saved artifacts.
    */
  val t30NgramAbsDiscount: Q = (s, d) => {
    import s.implicits._
    val model = operators.NgramLm.load(s, s"${ensureNgramStores(s, d)}/full")
    operators.NgramLm.scoreAbsDiscount(Tables.documents(s, d),
      "doc_id", "text", model).orderBy($"doc_id")
  }

  /** The fixed WordPiece vocabulary the t24/t24b/t25 rows serve from —
    * built to exercise every inference path on this corpus's 31-word
    * vocabulary: longest-match-first preference ("join" beats "jo",
    * "scan" beats "sc", "st"+"##ream" and "wind"+"##ow" beat their
    * single-char splits), multi-character continuations ("##art",
    * "##ream", "##er", "##ue"), and BERT's whole-word [UNK] — `##u` is
    * deliberately absent, so dup/group/customer/column all die mid-word
    * and must come back as the single unknown token.
    */
  private val FixedWpPieces: Seq[String] = Seq(
    "a", "b", "c", "d", "f", "g", "h", "jo", "join", "k", "l", "m", "o",
    "p", "q", "r", "s", "sc", "scan", "st", "t", "the", "v", "w", "wind",
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##k", "##l",
    "##m", "##n", "##o", "##p", "##r", "##s", "##t", "##w", "##y",
    "##in", "##an", "##ow", "##er", "##art", "##ream", "##ue")

  /** T24 — WordPiece greedy longest-match segmentation
    * ([[operators.WordPiece.segmentWords]]) under the fixed vocabulary:
    * (word, pos, token) over the corpus's distinct words, continuation
    * pieces carrying their `##` forms and unmatched words collapsing to
    * `[UNK]` whole. The oracle replays greedy longest-match EXACTLY: a
    * precomputed (word, position) → longest-matching-piece-length jump
    * table (plain join + max), then a recursive walk that hops positions
    * and accumulates pieces — the x2 recursive-CTE pattern, no
    * aggregation inside the recursion.
    */
  val t24WordpieceSegment: Q = (s, d) =>
    operators.WordPiece.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        FixedWpPieces)
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")

  // session fixture: the persisted WordPiece vocabulary t24b boots
  private val wpModelStage = new operators.SessionCache[String]
  private def ensureWpModel(s: SparkSession): String =
    wpModelStage.getOrBuild(operators.SessionCache.token(s)) {
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_wp_model_${ProcessHandle.current().pid()}_" +
          operators.SessionCache.token(s).take(8))
      graft.sources.ModelStore.saveWordPiece(
        s, FixedWpPieces, operators.WordPiece.Unk, dir)
      dir
    }

  /** T24b — t24 re-driven through a LOADED [[graft.sources.ModelStore
    * .saveWordPiece]] artifact under t24's oracle SQL verbatim (the
    * t14b/e2i/r5 one-oracle-two-plans trick): the served piece file
    * survives the JVM and is hash-pinned equal to the in-memory list.
    */
  val t24bWordpieceLoaded: Q = (s, d) => {
    val (pieces, unk) = graft.sources.ModelStore.loadWordPiece(s, ensureWpModel(s))
    operators.WordPiece.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        pieces, unk)
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")
  }

  /** T31 — SAMPLED segmentation (Kudo §3.5 subword regularization,
    * [[operators.UnigramTok.sampleSegmentWords]]): each distinct word's
    * segmentation DRAWN from P(seg) under [[FixedUgProbs]] via
    * forward-filtering backward-sampling, the md5 `seed|word|pos` draw
    * supplying engine-portable randomness. At α = 1 under the dyadic
    * table every lattice mass, cumulative sum, and h/2⁶⁰ draw is
    * IEEE-identical across engines, so the oracle — which rebuilds the
    * prefix masses by ENUMERATION, recomputes each state's threshold
    * from the same md5 draw, and walks the same backward picks — lands
    * on the identical sampled segmentation per word: a hash-gated
    * SAMPLER. (Non-1 α routes through pow and is JVM-reproducible but
    * deliberately not gate-pinned.)
    */
  val t31UnigramSample: Q = (s, d) =>
    operators.UnigramTok.sampleSegmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        FixedUgProbs, seed = "t31")
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")

  /** T32 — unigram-LM token-id export ([[operators.UnigramTok
    * .tokenIds]]): the SentencePiece training-export grain — one row per
    * (doc, position) with the piece's model-order id (the vocab file's
    * line order IS the id assignment; unk one past the end), positions
    * ordered by (word position, within-word piece order) — completing
    * the family's export API beside t19 (BPE) and t26 (WordPiece). The
    * oracle composes t27's Viterbi-enumeration replay with a generated
    * piece → id VALUES table and a doc-partitioned window; the id join
    * is total because every emitted token is a served piece or the unk.
    */
  val t32UnigramIds: Q = (s, d) =>
    operators.UnigramTok.tokenIds(
      Tables.documents(s, d), "doc_id", "text", FixedUgPieces)
      .orderBy("doc_id", "pos")

  /** T33 — SAMPLED token-id export ([[operators.UnigramTok
    * .sampledTokenIds]]): t31's FFBS draw composed with t32's id/position
    * grain — one EPOCH of subword-regularized training data (Kudo §3.5:
    * resample per epoch by varying the seed, reproduce per epoch by
    * fixing it), hash-pinned at α = 1 where the sampler's arithmetic is
    * cross-engine exact. The oracle replays the t31 enumeration-mass FFBS
    * under seed 't33', then joins the generated model-order id table and
    * windows per doc exactly like t32. UnigramTokSpec pins the epoch
    * story: two seeds differ, one seed is stable, and each epoch's frame
    * feeds [[operators.SequencePack.packTokenIds]].
    */
  val t33UnigramSampledIds: Q = (s, d) =>
    operators.UnigramTok.sampledTokenIds(
        Tables.documents(s, d), "doc_id", "text", FixedUgProbs, seed = "t33")
      .orderBy("doc_id", "pos")

  /** T33b — the epoch-resample training loop END TO END under the hash
    * (VERDICT r18 next-round #7): two epochs, each drawing fresh
    * segmentations per word ([[operators.UnigramTok.sampledTokenIds]]
    * with seeds ep1/ep2) and packing its token stream into 256-token
    * context windows ([[SequencePack.packTokenIds]], separator id one
    * past the unk — the GPT-2 boundary discipline at the SentencePiece
    * vocabulary). t33 pinned one epoch's ids; this row pins the per-epoch
    * COMPOSITION a trainer actually consumes — resampled ids, separator,
    * manifest order, window cut — with the epoch column naming which
    * draw produced each tensor. The driver comparator can't hash array
    * cells, so input_ids flattens to a space-joined scalar on both sides
    * (the x4 discipline).
    */
  val t33bEpochPack: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sep = operators.UnigramTok.vocabIds(FixedUgProbs).length.toLong
    // The epochs are INDEPENDENT jobs with eager construction work (the
    // ids checkpoint + packManifest's prefix-sum pass run at build time),
    // so build them from a 2-thread pool — the guide's overlap-independent-
    // jobs pattern: epoch 2's jobs back-fill executors while epoch 1's
    // tail drains. Each epoch is a pure function of (corpus, seed); the
    // union is deterministic regardless of completion order.
    // daemon threads + shutdownNow on failure (ADVICE r19): if one
    // epoch's future throws, the other must not keep running detached,
    // and a non-daemon pool thread must not delay JVM exit; the original
    // cause is unwrapped from the ExecutionException
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    val frames = try {
      val futs = Seq("ep1", "ep2").zipWithIndex.map { case (seed, e) =>
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          override def call(): DataFrame =
            // packTokenIds executes its input lineage twice (count build
            // + join side, r20 — its own scaladoc says materialize an
            // expensive input first); the FFBS sampling pass is the
            // epoch's dominant cost, so pin it once (5.4 s → ~2 s, r19)
            SequencePack.packTokenIds(
                operators.UnigramTok.sampledTokenIds(
                  docs, "doc_id", "text", FixedUgProbs, seed).localCheckpoint(),
                "doc_id", 256L, sepId = Some(sep))
              .select(lit(e.toLong).as("epoch"), $"chunk_id", $"n_tokens",
                array_join($"input_ids".cast("array<string>"), " ").as("input_ids"))
        })
      }
      try futs.map(_.get())
      catch {
        case ee: java.util.concurrent.ExecutionException =>
          pool.shutdownNow()
          throw ee.getCause
      }
    } finally pool.shutdown()
    frames.reduce(_.unionByName(_)).orderBy("epoch", "chunk_id")
  }

  /** T24c — t24 re-driven through a FOREIGN artifact: a BERT-format
    * `vocab.txt` (one piece per line, line number = id, `[UNK]` in the
    * file) written by the session fixture and read back by
    * [[graft.sources.ModelStore.loadBertVocab]], under t24's oracle SQL
    * verbatim. The loaded vocabulary carries `[UNK]` as a regular line
    * (exactly what a real vocab.txt ships); it can never match this
    * corpus's text, so segmentation equals the in-memory
    * [[FixedWpPieces]] — the property that makes the foreign-format
    * migration story hash-checkable against the existing oracle.
    */
  val t24cWordpieceBertVocab: Q = (s, d) => {
    val (pieces, unk) = graft.sources.ModelStore.loadBertVocab(
      s, s"${ensureForeignModels(s)}/vocab.txt")
    operators.WordPiece.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        pieces, unk)
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")
  }

  /** T19b — t19 re-driven through a FOREIGN artifact: a GPT-2-format
    * `merges.txt` (\#version header, one space-separated merge per line)
    * read back by [[graft.sources.ModelStore.loadGpt2Merges]], which
    * implies the byte-level + regex-pre-tok discipline the format was
    * published with — token-id export under t19's oracle SQL verbatim.
    */
  val t19bBpeIdsGpt2Txt: Q = (s, d) => {
    import s.implicits._
    val model = graft.sources.ModelStore.loadGpt2Merges(
      s, s"${ensureForeignModels(s)}/merges.txt")
    operators.BpeTrain.tokenIds(
      Tables.documents(s, d).where($"doc_id" % 10 === 0), "doc_id", "text", model)
      .orderBy("doc_id", "pos")
  }

  /** T27b — t27 re-driven through a FOREIGN artifact: a SentencePiece
    * `.vocab` export (piece<TAB>logp per line) read back by
    * [[graft.sources.ModelStore.loadSentencePieceVocab]], under t27's
    * oracle SQL verbatim — the file a real SentencePiece migration
    * starts from, served by the engine's Viterbi.
    */
  val t27bUnigramSpVocab: Q = (s, d) =>
    operators.UnigramTok.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        graft.sources.ModelStore.loadSentencePieceVocab(
          s, s"${ensureForeignModels(s)}/sp.vocab"))
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")

  /** The fixed unigram-LM piece table the t27 row serves from. Every
    * logp sits on the 1/64 grain (exact in binary AND in 6 decimal
    * places, so the SQL literal parses to the identical double), all
    * values distinct, and the grids are chosen so different
    * segmentations of this corpus's words never sum equal (verified by
    * the dual-SF hash itself — a tie would diverge). Structure: 23
    * single letters near -2 ('u' deliberately absent, so dup/group/
    * customer/column have NO cover and must come back <unk> — though
    * value/query survive via the "ue" piece), multi-char pieces near
    * -2.5..-3.2, and the Viterbi trap: "scan" at -10.0 — a greedy
    * longest-match tokenizer takes it and pays; the global optimum is
    * "sc"+"an" (≈ -5.78), which is exactly what makes this family
    * unservable by [[operators.WordPiece]]'s matcher.
    */
  private val FixedUgPieces: Seq[(String, Double)] =
    "abcdefghijklmnopqrstvwy".zipWithIndex.map { case (c, k) =>
      (c.toString, -2.0 - k * 0.015625)
    } ++ Seq(
      ("join", -2.5), ("the", -2.53125), ("row", -2.6875),
      ("wind", -2.765625), ("ow", -2.796875), ("er", -2.828125),
      ("art", -2.84375), ("sc", -2.859375), ("st", -2.875),
      ("in", -2.90625), ("an", -2.921875), ("ue", -2.9375),
      ("ream", -2.96875), ("jo", -3.203125), ("scan", -10.0))

  /** T27 — unigram-LM (SentencePiece) Viterbi segmentation
    * ([[operators.UnigramTok.segmentWords]]): the third tokenizer
    * family's serving path, (word, pos, token) over the corpus's
    * distinct words under [[FixedUgPieces]]. The engine runs true
    * Viterbi; the oracle ENUMERATES every valid segmentation per word
    * (a branching recursive CTE — sound because these words are short)
    * and argmaxes the identical left-to-right score sums, with
    * uncoverable words falling to `<unk>`. The "scan" trap pins that
    * this is global optimization, not greedy matching.
    */
  val t27UnigramSegment: Q = (s, d) =>
    operators.UnigramTok.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        FixedUgPieces)
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")

  private val foreignModelStage = new operators.SessionCache[String]
  /** Session fixture for the FOREIGN-format tokenizer artifacts (the
    * files real migrations start from): a BERT `vocab.txt` carrying
    * `[UNK]` at line 0 + [[FixedWpPieces]], a GPT-2 `merges.txt` carrying
    * [[BpeFixedMerges]] under the byte-level discipline, and a
    * SentencePiece `.vocab` carrying [[FixedUgPieces]] — each written in
    * the PUBLISHED text format (not this engine's parquet layouts), so
    * the t24c/t26b/t19b/t27b rows prove the interchange loaders serve
    * hash-identically to the in-memory models. (GPT-2 `vocab.json`
    * loading is exercised by ModelStoreSpec's unit fixtures — ADVICE
    * r17: this comment previously overstated what THIS fixture writes.)
    */
  private def ensureForeignModels(s: SparkSession): String =
    foreignModelStage.getOrBuild(operators.SessionCache.token(s)) {
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_foreign_model_${ProcessHandle.current().pid()}_" +
          operators.SessionCache.token(s).take(8))
      graft.sources.ModelStore.saveBertVocab(
        s, operators.WordPiece.Unk +: FixedWpPieces, s"$dir/vocab.txt")
      val gpt2b = operators.BpeTrain.BpeModel(
        operators.RegexPreTok(operators.RegexPreTok.Gpt2ish), BpeFixedMerges,
        byteLevel = true)
      graft.sources.ModelStore.saveGpt2Merges(s, gpt2b, s"$dir/merges.txt")
      graft.sources.ModelStore.saveSentencePieceVocab(
        s, FixedUgPieces, s"$dir/sp.vocab")
      dir
    }

  /** The fixed unigram PROBABILITY table the t28 E-step row runs under.
    * Every prob sits on the k/16 dyadic grain (≤ 2 mantissa bits), so
    * with this corpus's words (≤ 8 symbols) EVERY forward/backward
    * value, per-piece numerator, and Z in the E-step is an EXACT binary
    * fraction — sums are order-independent and the engine's
    * forward–backward lands on bit-identical doubles to the oracle's
    * segmentation enumeration; the single num/Z division then matches
    * IEEE-exactly on both sides. The 'u'-less alphabet (t27's fixture
    * discipline) leaves some words uncoverable — they emit nothing, the
    * documented Z=0 contract.
    */
  private[graft] val FixedUgProbs: Seq[(String, Double)] =
    "abcdefghijklmnopqrstvwy".map(c => (c.toString, 1.0 / 16)) ++ Seq(
      ("th", 2.0 / 16), ("the", 3.0 / 16), ("an", 2.0 / 16),
      ("in", 2.0 / 16), ("er", 3.0 / 16), ("sc", 2.0 / 16),
      ("st", 2.0 / 16), ("ow", 2.0 / 16), ("jo", 2.0 / 16),
      ("join", 3.0 / 16), ("ue", 2.0 / 16), ("row", 2.0 / 16),
      ("wind", 1.0 / 16), ("ream", 1.0 / 16), ("art", 2.0 / 16),
      ("scan", 1.0 / 16))

  /** T28 — the unigram-LM EM trainer's E-step, gated exactly
    * ([[operators.UnigramTok.expectedCounts]]): for every coverable
    * distinct word, the EXPECTED count of each piece across ALL
    * segmentations weighted by probability, under [[FixedUgProbs]]. The
    * engine runs forward–backward (never enumerates); the oracle
    * ENUMERATES every segmentation with a running probability product
    * and sums per-piece mass — exact-dyadic arithmetic makes the two
    * bit-identical (see the fixture note). The full EM loop is this
    * computation iterated with driver-side M-step/prune — not
    * SQL-expressible, so the loop itself is t29 + the spec's
    * enumeration replica, with this row as the hash-green twin of the
    * loop body (the t12/t13 BPE discipline).
    */
  val t28UnigramEstep: Q = (s, d) =>
    operators.UnigramTok.expectedCounts(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        FixedUgProbs)
      .select(col("word"), col("piece"), round(col("e"), 6).as("e"))
      .orderBy("word", "piece")

  /** T29 — the trained unigram tokenizer end to end
    * ([[operators.UnigramTok.fit]] → [[operators.UnigramTok
    * .segmentWords]]): EM-fit a 40-piece vocabulary on the corpus
    * (seeded from substrings ≤ 4, 2 EM iterations per prune round) and
    * segment the corpus's distinct words under the TRAINED table — the
    * SentencePiece train-then-serve path a migrating user runs. The EM
    * loop's driver-coordinated iteration (like t13's BPE merge loop) is
    * not SQL-expressible, so the driver records rows only; the fit is
    * spec-pinned against an independent enumeration-based replica
    * (UnigramTokSpec) and t28 hash-gates the loop's distributed
    * workhorse exactly.
    */
  val t29UnigramFit: Q = (s, d) => {
    val trained = operators.UnigramTok.fit(
      operators.BpeTrain.wordFreq(Tables.documents(s, d), "text"),
      vocabTarget = 40, seedMaxLen = 4, emIters = 2)
    operators.UnigramTok.segmentWords(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text")
          .select(col("word")),
        trained)
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("word", "pos")
  }

  /** T29b — the EM LOOP's chained arithmetic under the HASH gate
    * ([[operators.UnigramTok.emIterations]]): two CHAINED quantized EM
    * iterations from the dyadic [[FixedUgProbs]] seed over the corpus's
    * word-frequency table, emitting the round-2 piece probabilities. The
    * r17 self-review proved the loop is where fit bugs live (the emIters
    * chaining no-op survived t28 precisely because t28 pins ONE E-step);
    * this row replays E-step → grid-quantize → exact DECIMAL aggregate →
    * normalize → re-grid → E-step in DuckDB with the t28 enumeration
    * oracle as the inner E-step — every inter-round value is a decimal
    * grid point, so the engines agree bit-for-bit (margins spec-pinned,
    * UnigramTokSpec). t29 (the full fit with floor/prune loop control)
    * stays rows-only; this row puts the loop's ARITHMETIC under the hard
    * signal.
    */
  val t29bUnigramEm2: Q = (s, d) => {
    import s.implicits._
    operators.UnigramTok.emIterations(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text"),
        FixedUgProbs, iters = 2)
      .toDF("piece", "p")
      .orderBy("piece")
  }

  /** T29c — the full loop BODY under the hash gate ([[operators
    * .UnigramTok.emPruneOnce]]): t29b's two chained EM rounds, then ONE
    * likelihood-loss prune (Kudo §3.2's vocabulary shrink — each
    * multi-symbol piece scores count·(log p − altScore), altScore the
    * Viterbi score of its own text without it; seed singles protected;
    * keep the larger of vocabTarget's multi budget and the pruneKeep
    * fraction) and a grid renormalize. The oracle replays the prune by
    * ENUMERATING each candidate's alternative segmentations with the
    * piece excluded and ranking by the same loss; `ln` enters only the
    * kept-set ORDERING (robust to last-bit libm differences — the spec
    * pins the loss gaps), while the emitted probs stay exact decimal-grid
    * arithmetic. With t29b this puts E→M chaining AND prune — the whole
    * fit loop body — under the hard signal; only [[operators.UnigramTok
    * .fit]]'s outer while-loop control remains rows-only (t29).
    */
  val t29cUnigramPrune: Q = (s, d) => {
    import s.implicits._
    operators.UnigramTok.emPruneOnce(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text"),
        FixedUgProbs, iters = 2, vocabTarget = 30, pruneKeep = 0.5)
      .toDF("piece", "p")
      .orderBy("piece")
  }

  /** T29d — the FULL trainer under the hash gate ([[operators.UnigramTok
    * .quantizedFit]]): corpus seeding (substrings ≤ 4, singles always
    * kept), the required-character floor, and the
    * prune-while-above-target LOOP — [[operators.UnigramTok.fit]]'s
    * actual control flow — on the t29b decimal grid. At the gate corpus
    * the loop runs 4 data-dependent outer rounds (EM → prune ×3, then an
    * EM whose vocabulary lands ≤ target); the oracle unrolls 5 rounds
    * with a DONE-LATCH (each round's state passes through unchanged once
    * any stop condition held), so engine and replay agree on WHERE the
    * loop stopped, not just on each round's arithmetic. This retires the
    * training story's last rows-only surface (VERDICT r18 next-round #2):
    * t28 pinned the E-step, t29b the chaining, t29c the prune — t29d
    * pins seeding, floor, and loop control. t29 (the IEEE-float
    * production fit) remains rows-only by nature, now with a hash-green
    * twin of its ENTIRE algorithm.
    */
  val t29dUnigramQuantFit: Q = (s, d) => {
    import s.implicits._
    operators.UnigramTok.quantizedFit(
        operators.BpeTrain.wordFreq(Tables.documents(s, d), "text"),
        vocabTarget = 60, emIters = 1, pruneKeep = 0.5, maxRounds = 8)
      .toDF("piece", "p")
      .orderBy("piece")
  }

  /** T26 — WordPiece token-id export ([[operators.WordPiece.tokenIds]]):
    * the BERT vocab.txt grain — one row per (doc, position) with the
    * piece's rank id (unk = one past the vocabulary), positions ordered
    * by (word position, within-word piece order). The oracle composes
    * the t24 longest-match replay with a generated piece→id VALUES
    * table and a doc-partitioned window — the id join is total because
    * every emitted token is a served piece or the unk.
    */
  val t26WordpieceIds: Q = (s, d) =>
    operators.WordPiece.tokenIds(
      Tables.documents(s, d), "doc_id", "text", FixedWpPieces)
      .orderBy("doc_id", "pos")

  /** T26b — token-id export through a FOREIGN id assignment
    * ([[operators.WordPiece.tokenIdsWith]] ∘ [[graft.sources.ModelStore
    * .loadBertVocabIds]]): the session fixture's `vocab.txt` ships
    * `[UNK]` at line 0 — the id layout a real BERT vocab has and the one
    * [[operators.WordPiece.vocabIds]]' unk-last synthesis CANNOT
    * reproduce (ADVICE r17: feeding a stripped foreign vocab to the
    * rank-id path silently shifts every post-unk id off the published
    * assignment). The oracle replays t26's segmentation with the id
    * VALUES generated from the fixture's line order, unk = 0.
    */
  val t26bWordpieceIdsBert: Q = (s, d) => {
    val (vocab, unk) = graft.sources.ModelStore.loadBertVocabIds(
      s, s"${ensureForeignModels(s)}/vocab.txt")
    operators.WordPiece.tokenIdsWith(
        Tables.documents(s, d), "doc_id", "text", vocab, unk)
      .orderBy("doc_id", "pos")
  }

  /** T25 — per-document WordPiece token counts
    * ([[operators.WordPiece.tokenCounts]]): the budget a BERT-style
    * pipeline pays, UNK words counting their single token; distinct
    * words segment once and join back, end to end under the hash.
    */
  val t25WordpieceCounts: Q = (s, d) =>
    operators.WordPiece.tokenCounts(
      Tables.documents(s, d), "doc_id", "text", FixedWpPieces)
      .orderBy("doc_id")

  private val ngramStoreStage = new operators.SessionCache[String]
  // session fixture: the two persisted n-gram stores the t22/t23 rows
  // load — keyed like the bm25 store (session token + dir + source mtime)
  // so fixture regeneration or a second session rebuilds rather than
  // cross-reads
  private def ensureNgramStores(s: SparkSession, d: String): String =
    ngramStoreStage.getOrBuild(
      s"${operators.SessionCache.token(s)}#$d#${sourceTag(d, "documents.parquet")}") {
      import s.implicits._
      val pathTag = pathTagOf(d)
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_ngram_store_${ProcessHandle.current().pid()}_" +
          s"${operators.SessionCache.token(s).take(8)}_$pathTag")
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      operators.NgramLm.save(
        operators.NgramLm.fit(docs, "text"), s"$dir/full")
      operators.NgramLm.save(
        operators.NgramLm.fit(docs.where($"doc_id" % 5 =!= 0), "text"),
        s"$dir/grown")
      operators.NgramLm.appendStore(s, s"$dir/grown",
        docs.where($"doc_id" % 5 === 0), "text")
      dir
    }

  /** The t21/t22/t23 oracle: DuckDB refits the three count tables (the
    * HAVING clauses are [[operators.NgramLm.score]]'s `minCount = 2`
    * prune — trigram/bigram pruned, unigram floor whole), replays the
    * identical nested backoff CASE per position, and folds logp in
    * position order. The nested-parenthesis shape matches the engine's
    * `when` tree exactly so both run the same IEEE expression.
    */
  private val ngramSbOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |uc AS (SELECT t AS w1, CAST(count(*) AS BIGINT) AS c1
      |       FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
      |n AS (SELECT CAST(sum(c1) AS BIGINT) AS tot FROM uc),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM
      |        (SELECT unnest(list_transform(generate_series(1, len(w)-1),
      |           i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true) FROM toks)
      |       GROUP BY w1, w2 HAVING count(*) >= 2),
      |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
      |         i -> {'pos': i, 'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]}),
      |         recursive := true) FROM toks),
      |tc AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3 FROM tg
      |       GROUP BY w1, w2, w3 HAVING count(*) >= 2),
      |j AS (SELECT g.doc_id, g.pos,
      |        ln(CASE WHEN tc.c3 IS NOT NULL THEN tc.c3 / ctx.c2
      |           ELSE 0.4 * (CASE WHEN low.c2 IS NOT NULL THEN low.c2 / um.c1
      |                       ELSE 0.4 * (ul.c1 / n.tot) END) END) AS logp
      |      FROM tg g
      |      LEFT JOIN tc ON g.w1 = tc.w1 AND g.w2 = tc.w2 AND g.w3 = tc.w3
      |      LEFT JOIN bc ctx ON g.w1 = ctx.w1 AND g.w2 = ctx.w2
      |      LEFT JOIN bc low ON g.w2 = low.w1 AND g.w3 = low.w2
      |      JOIN uc um ON g.w2 = um.w1
      |      JOIN uc ul ON g.w3 = ul.w1
      |      CROSS JOIN n),
      |agg AS (SELECT doc_id, list(logp ORDER BY pos) AS lp FROM j GROUP BY doc_id)
      |SELECT doc_id, CAST(len(lp) AS BIGINT) AS n_trigrams,
      |  round(-list_sum(lp) / len(lp), 6) AS nll
      |FROM agg ORDER BY doc_id""".stripMargin

  // the t30 oracle's bigram-leg expression — used twice (inside the
  // trigram interpolation and as its ELSE branch), bound once so the two
  // inlinings cannot drift from each other or from the engine's `p2`
  private val ngramAdP2: String =
    "(CASE WHEN t2.t2 IS NOT NULL THEN " +
      "((CASE WHEN low.c2 IS NOT NULL THEN greatest(low.c2 - d2.d2, 0.0) " +
      "ELSE 0.0 END) + (d2.d2 * t2.t2) * (ul.c1 / n.tot)) / t2.m2 " +
      "ELSE (ul.c1 / n.tot) END)"

  /** The t30 oracle: DuckDB refits the raw (unpruned) count tables,
    * derives the continuation-type counts (each stored gram IS one
    * distinct continuation of its context) and the counts-of-counts
    * discounts, and replays [[operators.NgramLm.scoreAbsDiscount]]'s
    * exact nested CASE/greatest tree, folding logp in position order.
    */
  private val ngramAdOracle: String =
    (s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |uc AS (SELECT t AS w1, CAST(count(*) AS BIGINT) AS c1
      |       FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
      |n AS (SELECT CAST(sum(c1) AS BIGINT) AS tot FROM uc),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM
      |        (SELECT unnest(list_transform(generate_series(1, len(w)-1),
      |           i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true) FROM toks)
      |       GROUP BY w1, w2),
      |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
      |         i -> {'pos': i, 'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]}),
      |         recursive := true) FROM toks),
      |tc AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3 FROM tg
      |       GROUP BY w1, w2, w3),
      |t3 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS t3,
      |       CAST(sum(c3) AS BIGINT) AS m3 FROM tc GROUP BY w1, w2),
      |t2 AS (SELECT w1 AS w2, CAST(count(*) AS BIGINT) AS t2,
      |       CAST(sum(c2) AS BIGINT) AS m2 FROM bc GROUP BY w1),
      |d3 AS (SELECT CASE WHEN n1 + 2*n2 > 0
      |         THEN CAST(n1 AS DOUBLE) / CAST(n1 + 2*n2 AS DOUBLE)
      |         ELSE 0.75 END AS d3
      |       FROM (SELECT count(*) FILTER (WHERE c3 = 1) AS n1,
      |             count(*) FILTER (WHERE c3 = 2) AS n2 FROM tc)),
      |d2 AS (SELECT CASE WHEN n1 + 2*n2 > 0
      |         THEN CAST(n1 AS DOUBLE) / CAST(n1 + 2*n2 AS DOUBLE)
      |         ELSE 0.75 END AS d2
      |       FROM (SELECT count(*) FILTER (WHERE c2 = 1) AS n1,
      |             count(*) FILTER (WHERE c2 = 2) AS n2 FROM bc)),
      |j AS (SELECT g.doc_id, g.pos,
      |        ln(CASE WHEN t3.t3 IS NOT NULL THEN
      |             ((CASE WHEN tc.c3 IS NOT NULL THEN greatest(tc.c3 - d3.d3, 0.0)
      |               ELSE 0.0 END) + (d3.d3 * t3.t3) * $ngramAdP2) / t3.m3
      |           ELSE $ngramAdP2 END) AS logp
      |      FROM tg g
      |      LEFT JOIN tc ON g.w1 = tc.w1 AND g.w2 = tc.w2 AND g.w3 = tc.w3
      |      LEFT JOIN bc low ON g.w2 = low.w1 AND g.w3 = low.w2
      |      LEFT JOIN t3 ON g.w1 = t3.w1 AND g.w2 = t3.w2
      |      LEFT JOIN t2 ON g.w2 = t2.w2
      |      JOIN uc ul ON g.w3 = ul.w1
      |      CROSS JOIN n CROSS JOIN d3 CROSS JOIN d2),
      |agg AS (SELECT doc_id, list(logp ORDER BY pos) AS lp FROM j GROUP BY doc_id)
      |SELECT doc_id, CAST(len(lp) AS BIGINT) AS n_trigrams,
      |  round(-list_sum(lp) / len(lp), 6) AS nll
      |FROM agg ORDER BY doc_id""").stripMargin

  /** The DuckDB byte→printable remap as a 256-entry map literal,
    * generated from the SAME table the engine's [[operators.BpeTrain
    * .byteSymsCol]] indexes — one source of truth, interpolated into
    * t18's oracle SQL.
    */
  private lazy val duckByteRemap: String = {
    val keys = (0 until 256).map(b => f"'$b%02X'").mkString(", ")
    val vals = operators.BpeTrain.ByteToUnicode
      .map(sym => "'" + sym.replace("'", "''") + "'").mkString(", ")
    s"map([$keys], [$vals])"
  }

  /** The byte-level model's token→id table as a DuckDB map literal —
    * generated from [[operators.BpeTrain.vocab]] over the same fixed
    * model the t19 row loads (one source of truth).
    */
  private lazy val duckVocabMap: String = {
    val v = operators.BpeTrain.vocab(operators.BpeTrain.BpeModel(
      operators.RegexPreTok(operators.RegexPreTok.Gpt2ish), BpeFixedMerges,
      byteLevel = true))
    val keys = v.map { case (t, _) => "'" + t.replace("'", "''") + "'" }.mkString(", ")
    val ids = v.map(_._2).mkString(", ")
    s"map([$keys], [$ids])"
  }

  // the t24/t25 oracle's piece table, generated from the engine's OWN
  // fixed vocabulary (one source of truth): (mat, cont, plen) — matchable
  // text with the ## mark stripped, continuation flag, length in
  // characters (DuckDB's substr unit ≡ code points ≡ the engine's
  // segmentation unit)
  private lazy val duckWpPieces: String =
    FixedWpPieces.map { p =>
      val cont = p.startsWith("##")
      val mat = if (cont) p.stripPrefix("##") else p
      s"('${mat.replace("'", "''")}', $cont, ${mat.codePointCount(0, mat.length)})"
    }.mkString(", ")

  // the t27 oracle's (piece, plen, logp) table — every logp is k/64, so
  // the %.6f decimal is EXACT and parses back to the identical double
  private lazy val duckUgPieces: String =
    FixedUgPieces.map { case (p, lp) =>
      s"('${p.replace("'", "''")}', ${p.codePointCount(0, p.length)}, " +
        f"$lp%.6f)"
    }.mkString(", ")

  // the t32 oracle's piece -> id table, generated from the engine's own
  // vocabIds (model order + unk one past the end) — one source of truth
  private lazy val duckUgIds: String =
    operators.UnigramTok.vocabIds(FixedUgPieces).map { case (t, i) =>
      s"('${t.replace("'", "''")}', $i)"
    }.mkString(", ")

  // the t28 oracle's (piece, plen, prob) table — every prob is k/16, so
  // the %.4f decimal is EXACT and parses back to the identical double
  private lazy val duckUgProbs: String =
    FixedUgProbs.map { case (p, pr) =>
      s"('${p.replace("'", "''")}', ${p.codePointCount(0, p.length)}, " +
        f"$pr%.4f)"
    }.mkString(", ")

  // the shared t29b/t29c CTE chain: TWO quantized EM rounds (enumeration
  // E-step; v = round(e·freq, 6) — lossless as DOUBLE and DECIMAL(38,6)
  // in any engine; exact decimal per-piece sums; one double division;
  // re-grid) ending at c2, round 2's per-piece decimal counts
  private lazy val duckUgEm2Ctes: String =
    (s"""w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |wfq AS (SELECT word, CAST(count(*) AS DOUBLE) AS freq FROM w
      |  WHERE len(word) > 0 GROUP BY word),
      |p0 AS (SELECT * FROM (VALUES $duckUgProbs) AS t(piece, plen, prob)),
      |rec1 AS (
      |  SELECT word, CAST(1 AS BIGINT) AS i, '' AS acc,
      |    CAST(1 AS DOUBLE) AS pr FROM wfq
      |  UNION ALL
      |  SELECT r.word, CAST(r.i + p.plen AS BIGINT),
      |    r.acc || p.piece || chr(31), r.pr * p.prob
      |  FROM rec1 r JOIN p0 p ON substr(r.word, r.i, p.plen) = p.piece
      |  WHERE r.i <= len(r.word)),
      |term1 AS (SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks,
      |    pr FROM rec1 WHERE i = len(word) + 1),
      |z1 AS (SELECT word, sum(pr) AS z FROM term1 GROUP BY word),
      |occ1 AS (SELECT word, unnest(toks) AS piece, pr FROM term1),
      |num1 AS (SELECT word, piece, sum(pr) AS num FROM occ1 GROUP BY word, piece),
      |c1 AS (SELECT piece,
      |    SUM(CAST(round(n.num / z.z * f.freq, 6) AS DECIMAL(38,6))) AS c
      |  FROM num1 n JOIN z1 z USING (word) JOIN wfq f USING (word)
      |  GROUP BY piece
      |  HAVING SUM(CAST(round(n.num / z.z * f.freq, 6) AS DECIMAL(38,6))) > 0),
      |p1 AS (SELECT piece, plen, prob FROM (
      |    SELECT piece, len(piece) AS plen,
      |      round(CAST(c AS DOUBLE) /
      |        CAST((SELECT SUM(c) FROM c1) AS DOUBLE), 6) AS prob
      |    FROM c1) WHERE prob > 0),
      |rec2 AS (
      |  SELECT word, CAST(1 AS BIGINT) AS i, '' AS acc,
      |    CAST(1 AS DOUBLE) AS pr FROM wfq
      |  UNION ALL
      |  SELECT r.word, CAST(r.i + p.plen AS BIGINT),
      |    r.acc || p.piece || chr(31), r.pr * p.prob
      |  FROM rec2 r JOIN p1 p ON substr(r.word, r.i, p.plen) = p.piece
      |  WHERE r.i <= len(r.word)),
      |term2 AS (SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks,
      |    pr FROM rec2 WHERE i = len(word) + 1),
      |z2 AS (SELECT word, sum(pr) AS z FROM term2 GROUP BY word),
      |occ2 AS (SELECT word, unnest(toks) AS piece, pr FROM term2),
      |num2 AS (SELECT word, piece, sum(pr) AS num FROM occ2 GROUP BY word, piece),
      |c2 AS (SELECT piece,
      |    SUM(CAST(round(n.num / z.z * f.freq, 6) AS DECIMAL(38,6))) AS c
      |  FROM num2 n JOIN z2 z USING (word) JOIN wfq f USING (word)
      |  GROUP BY piece
      |  HAVING SUM(CAST(round(n.num / z.z * f.freq, 6) AS DECIMAL(38,6))) > 0)""")
      .stripMargin

  /** The t29d oracle: [[operators.UnigramTok.quantizedFit]]'s whole
    * trainer unrolled — corpus seed (substring counts, singles kept,
    * quantized integer-ratio probs), then `R` outer rounds each of: the
    * t28 enumeration E-step under the previous STATE, exact-decimal
    * counts, the required-character floor (round(tot·1e-6) — one multiply
    * + one re-grid, exactly the engine's two steps), grid M-step, the
    * t29c prune replay (alt scores by excluded enumeration, ln enters
    * ordering only), and a grid renormalize. CONTROL FLOW is replayed via
    * a done-latch: d$k = d$(k-1) OR |postEM| ≤ V OR keepN ≥ |multi|, and
    * st$k passes st$(k-1) through untouched once done — so a converged
    * round's successors are no-ops, mirroring the engine's loop exit
    * (the engine REQUIRES convergence within the same R, so a
    * non-converged corpus fails loudly on the engine side rather than
    * silently diverging). Every stage MATERIALIZED (the t13 CTE-inlining
    * lesson).
    */
  private lazy val duckUgQuantFitReplay: String = {
    // R must equal the query's maxRounds: 8 gives two rounds of headroom
    // over the measured worst case (6 at the 100x token-disjoint scaling
    // fixture; 4 at the gate SFs) — extra rounds are pure pass-through
    val V = 60; val PK = "0.5"; val R = 8
    def round(k: Int): String = {
      val prev = s"st${k - 1}"
      s"""rec$k AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, '' AS acc,
         |    CAST(1 AS DOUBLE) AS pr FROM wfq
         |  UNION ALL
         |  SELECT r.word, CAST(r.i + p.plen AS BIGINT),
         |    r.acc || p.piece || chr(31), r.pr * p.prob
         |  FROM rec$k r JOIN $prev p ON substr(r.word, r.i, p.plen) = p.piece
         |  WHERE r.i <= len(r.word)),
         |term$k AS (SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks,
         |    pr FROM rec$k WHERE i = len(word) + 1),
         |z$k AS (SELECT word, sum(pr) AS z FROM term$k GROUP BY word),
         |occ$k AS (SELECT word, unnest(toks) AS piece, pr FROM term$k),
         |num$k AS (SELECT word, piece, sum(pr) AS num FROM occ$k GROUP BY word, piece),
         |c$k AS MATERIALIZED (SELECT piece,
         |    CAST(SUM(CAST(round(n.num / z.z * f.freq, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c
         |  FROM num$k n JOIN z$k z USING (word) JOIN wfq f USING (word)
         |  GROUP BY piece
         |  HAVING SUM(CAST(round(n.num / z.z * f.freq, 6) AS DECIMAL(38,6))) > 0),
         |fl$k AS MATERIALIZED (SELECT round(
         |    CAST((SELECT SUM(CAST(c AS DECIMAL(38,6))) FROM c$k) AS DOUBLE) * 1e-6,
         |    6) AS fl),
         |f$k AS MATERIALIZED (
         |  SELECT c.piece,
         |    CASE WHEN c.piece IN (SELECT piece FROM sgl)
         |          AND c.c < (SELECT fl FROM fl$k)
         |         THEN (SELECT fl FROM fl$k) ELSE c.c END AS c
         |  FROM c$k c
         |  UNION ALL
         |  SELECT s.piece, (SELECT fl FROM fl$k) AS c FROM sgl s
         |  WHERE s.piece NOT IN (SELECT piece FROM c$k)),
         |pe$k AS MATERIALIZED (SELECT piece, plen, prob, c FROM (
         |    SELECT piece, len(piece) AS plen, c,
         |      round(c / (SELECT CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE)
         |                 FROM f$k), 6) AS prob
         |    FROM f$k) WHERE prob > 0),
         |mult$k AS MATERIALIZED (
         |  SELECT piece, plen, prob, c FROM pe$k WHERE plen > 1),
         |recp$k AS (
         |  SELECT piece AS target, CAST(1 AS BIGINT) AS i,
         |    CAST(0 AS DOUBLE) AS s FROM mult$k
         |  UNION ALL
         |  SELECT r.target, CAST(r.i + q.plen AS BIGINT), r.s + ln(q.prob)
         |  FROM recp$k r JOIN mult$k m ON m.piece = r.target
         |  JOIN pe$k q ON substr(m.piece, CAST(r.i AS INTEGER), q.plen) = q.piece
         |    AND q.piece <> m.piece
         |  WHERE r.i <= m.plen),
         |alt$k AS (SELECT r.target AS piece, max(r.s) AS alt
         |  FROM recp$k r JOIN mult$k m ON m.piece = r.target
         |  WHERE r.i = m.plen + 1 GROUP BY r.target),
         |scored$k AS (SELECT m.piece, m.prob,
         |    CASE WHEN a.alt IS NULL THEN CAST('infinity' AS DOUBLE)
         |         ELSE m.c * (ln(m.prob) - a.alt) END AS loss
         |  FROM mult$k m LEFT JOIN alt$k a USING (piece)),
         |kn$k AS MATERIALIZED (SELECT LEAST(count(*), GREATEST(
         |    GREATEST(0, $V - (SELECT count(*) FROM pe$k WHERE plen = 1)),
         |    CAST(floor(count(*) * $PK) AS BIGINT))) AS kn, count(*) AS nm
         |  FROM mult$k),
         |ranked$k AS (SELECT piece, prob,
         |    row_number() OVER (ORDER BY loss DESC, piece) AS rn FROM scored$k),
         |nx$k AS (SELECT piece, prob FROM pe$k WHERE plen = 1
         |  UNION ALL SELECT piece, prob FROM ranked$k
         |  WHERE rn <= (SELECT kn FROM kn$k)),
         |pr$k AS MATERIALIZED (SELECT piece, round(prob /
         |    (SELECT CAST(SUM(CAST(prob AS DECIMAL(38,6))) AS DOUBLE) FROM nx$k),
         |  6) AS prob FROM nx$k),
         |d$k AS MATERIALIZED (SELECT (SELECT done FROM d${k - 1})
         |    OR ((SELECT count(*) FROM pe$k) <= $V)
         |    OR ((SELECT kn FROM kn$k) >= (SELECT nm FROM kn$k)) AS done),
         |st$k AS MATERIALIZED (
         |  SELECT piece, plen, prob FROM $prev WHERE (SELECT done FROM d${k - 1})
         |  UNION ALL
         |  SELECT piece, plen, prob FROM pe$k
         |  WHERE NOT (SELECT done FROM d${k - 1})
         |    AND (((SELECT count(*) FROM pe$k) <= $V)
         |      OR ((SELECT kn FROM kn$k) >= (SELECT nm FROM kn$k)))
         |  UNION ALL
         |  SELECT piece, len(piece) AS plen, prob FROM pr$k
         |  WHERE NOT (SELECT done FROM d${k - 1})
         |    AND NOT ((SELECT count(*) FROM pe$k) <= $V)
         |    AND NOT ((SELECT kn FROM kn$k) >= (SELECT nm FROM kn$k)))""".stripMargin
    }
    val rounds = (1 to R).map(round).mkString(",\n")
    s"""WITH RECURSIVE
       |w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wfq AS MATERIALIZED (SELECT word, CAST(count(*) AS DOUBLE) AS freq
       |  FROM w WHERE len(word) > 0 GROUP BY word),
       |seedc AS MATERIALIZED (SELECT piece, c, single FROM (
       |    SELECT substr(word, i, L) AS piece, SUM(freq) AS c,
       |      MAX(CASE WHEN L = 1 THEN 1 ELSE 0 END) AS single
       |    FROM wfq,
       |      unnest(generate_series(1, len(word))) AS t(i),
       |      unnest(generate_series(1, 4)) AS u(L)
       |    WHERE i + L - 1 <= len(word)
       |    GROUP BY 1)
       |  WHERE c >= 2 OR single = 1),
       |sgl AS MATERIALIZED (SELECT piece FROM seedc WHERE single = 1),
       |st0 AS MATERIALIZED (SELECT piece, plen, prob FROM (
       |    SELECT piece, len(piece) AS plen,
       |      round(c / (SELECT SUM(c) FROM seedc), 6) AS prob
       |    FROM seedc) WHERE prob > 0),
       |d0 AS (SELECT FALSE AS done),
       |$rounds
       |SELECT piece, prob AS p FROM st$R ORDER BY piece""".stripMargin
  }

  /** One epoch of the t33 FFBS sampled-segmentation replay (enumeration
    * masses, md5 `seed|word|pos` draws, backward walk), CTE names
    * suffixed with `x` so two epochs compose in one query; ends at
    * `jj$x(doc_id, wpos, tpos, token_id)`.
    */
  private def duckUgSampledCtes(seed: String, x: String): String =
    s"""w0$x AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |wpos$x AS (SELECT doc_id, i AS wpos, ws[i] AS word
      |  FROM w0$x, unnest(generate_series(1, len(ws))) AS t(i)
      |  WHERE len(ws[i]) > 0),
      |wf$x AS (SELECT DISTINCT word FROM wpos$x),
      |p$x AS (SELECT * FROM (VALUES $duckUgProbs) AS t(piece, plen, prob)),
      |rec$x AS (
      |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(1 AS DOUBLE) AS pr FROM wf$x
      |  UNION ALL
      |  SELECT r.word, CAST(r.i + p.plen AS BIGINT), r.pr * p.prob
      |  FROM rec$x r JOIN p$x p ON substr(r.word, r.i, p.plen) = p.piece
      |  WHERE r.i <= len(r.word)),
      |al$x AS (SELECT word, i, sum(pr) AS a FROM rec$x GROUP BY word, i),
      |cand$x AS (SELECT a2.word, a2.i, a1.i AS j, a1.a * p.prob AS wgt
      |  FROM al$x a2
      |  JOIN p$x p ON a2.i - p.plen >= 1
      |  JOIN al$x a1 ON a1.word = a2.word AND a1.i = a2.i - p.plen
      |  WHERE a2.i > 1 AND substr(a2.word, a1.i, p.plen) = p.piece),
      |cm$x AS (SELECT word, i, j,
      |    sum(wgt) OVER (PARTITION BY word, i ORDER BY j) AS cum FROM cand$x),
      |thr$x AS (SELECT word, i,
      |    CAST(('0x' || substring(md5('$seed|' || word || '|' ||
      |      CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
      |      / 1152921504606846976.0 * a AS t
      |  FROM al$x WHERE i > 1),
      |pick$x AS (SELECT c.word, c.i, min(c.j) AS j
      |  FROM cm$x c JOIN thr$x thr ON thr.word = c.word AND thr.i = c.i
      |  WHERE c.cum > thr.t GROUP BY c.word, c.i),
      |walk$x AS (
      |  SELECT word, CAST(len(word) + 1 AS BIGINT) AS i, '' AS acc
      |  FROM wf$x wf WHERE EXISTS (SELECT 1 FROM al$x al
      |    WHERE al.word = wf.word AND al.i = len(wf.word) + 1)
      |  UNION ALL
      |  SELECT wk.word, pk.j,
      |    substr(wk.word, pk.j, wk.i - pk.j) || chr(31) || wk.acc
      |  FROM walk$x wk JOIN pick$x pk ON pk.word = wk.word AND pk.i = wk.i
      |  WHERE wk.i > 1),
      |fin$x AS (
      |  SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks
      |  FROM walk$x WHERE i = 1
      |  UNION ALL
      |  SELECT word, ['<unk>'] AS toks FROM wf$x wf
      |  WHERE NOT EXISTS (SELECT 1 FROM al$x al
      |    WHERE al.word = wf.word AND al.i = len(wf.word) + 1)),
      |tk$x AS (SELECT word, j AS tpos, toks[j] AS token
      |  FROM fin$x, unnest(generate_series(1, len(toks))) AS u(j)),
      |ids$x AS (SELECT * FROM (VALUES $duckUgProbIds) AS t(token, token_id)),
      |jj$x AS (SELECT wpos$x.doc_id, wpos$x.wpos, tk$x.tpos, ids$x.token_id
      |  FROM wpos$x JOIN tk$x USING (word) JOIN ids$x USING (token))""".stripMargin

  /** The t33b oracle: two [[duckUgSampledCtes]] epochs, each packed by
    * the x4 manifest-offset tail — per-doc positions from the window,
    * the separator id one past the unk, the md5-8-prefix draw order,
    * and `gp // 256` windows with position-ordered `list()` contents.
    */
  private lazy val duckEpochPackReplay: String = {
    val sep = operators.UnigramTok.vocabIds(FixedUgProbs).length
    def pack(x: String, epoch: Int): String =
      s"""pid$x AS (SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
         |  CAST(token_id AS BIGINT) AS token_id FROM jj$x),
         |sep$x AS (SELECT * FROM pid$x UNION ALL
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS pos,
         |    CAST($sep AS BIGINT) AS token_id FROM pid$x GROUP BY doc_id),
         |cnt$x AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
         |  FROM sep$x GROUP BY doc_id),
         |o$x AS (SELECT doc_id, CAST(COALESCE(sum(n) OVER (ORDER BY draw, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |  FROM cnt$x),
         |g$x AS (SELECT sp.doc_id, o$x.tok_offset + sp.pos AS gp, sp.token_id
         |  FROM sep$x sp JOIN o$x USING (doc_id)),
         |pk$x AS (SELECT CAST($epoch AS BIGINT) AS epoch, gp // 256 AS chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  array_to_string(list(token_id ORDER BY gp), ' ') AS input_ids
         |FROM g$x GROUP BY 2)""".stripMargin
    s"""WITH RECURSIVE
       |${duckUgSampledCtes("ep1", "e1")},
       |${duckUgSampledCtes("ep2", "e2")},
       |${pack("e1", 0)},
       |${pack("e2", 1)}
       |SELECT * FROM (SELECT * FROM pke1 UNION ALL SELECT * FROM pke2)
       |ORDER BY epoch, chunk_id""".stripMargin
  }

  /** The c7b oracle: [[operators.QuantKmeans.fit]]'s quantized Lloyd
    * loop unrolled (nlist 8, 3 iterations). Per iteration: a correlated
    * argmin over the centroid table using the IDENTICAL distance
    * expression (‖c‖² − 2·(v·c), both sequential folds over grid/exact
    * values — bit-equal in any IEEE engine, so the argmin needs no
    * tolerance), then per-(cluster, dim) exact-decimal sums of
    * grid-quantized components with the mean rounded by EXACT INTEGER
    * half-away arithmetic in HUGEINT ([[operators.QuantKmeans
    * .gridMeanExact]]'s formula verbatim — r19: a double-division mean
    * lands ON half-grid points where the engines' round conventions
    * diverge); memberless clusters keep their previous centroid via the
    * LEFT JOIN COALESCE. Init = the 8
    * vectors with the smallest (md5-hash60(id), id), components
    * gridded. MATERIALIZED per stage (the t13 CTE-inlining lesson).
    */
  private lazy val duckQuantKmeansReplay: String = {
    def iter(k: Int): String = {
      val prev = s"cent${k - 1}"
      s"""a$k AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, (
         |      SELECT c.cid FROM $prev c
         |      ORDER BY list_sum(list_transform(c.cv, x -> x * x)) -
         |        2.0 * list_sum(list_transform(list_zip(e.embedding, c.cv),
         |          p -> p[1]::DOUBLE * p[2])),
         |        c.cid
         |      LIMIT 1) AS cl
         |  FROM emb e),
         |u$k AS MATERIALIZED (
         |  SELECT cid, dim, CAST(CASE WHEN su >= 0
         |      THEN (2 * su + n) // (2 * n)
         |      ELSE -((2 * (-su) + n) // (2 * n)) END AS DOUBLE) / 1e6 AS m
         |  FROM (
         |    SELECT cl AS cid, CAST(i - 1 AS BIGINT) AS dim,
         |      CAST(SUM(CAST(round(embedding[i]::DOUBLE, 6)
         |          AS DECIMAL(38,6))) * 1000000 AS HUGEINT) AS su,
         |      CAST(COUNT(*) AS HUGEINT) AS n
         |    FROM a$k, unnest(generate_series(1, len(embedding))) AS t(i)
         |    GROUP BY 1, 2)),
         |cent$k AS MATERIALIZED (
         |  SELECT l.cid, list(COALESCE(u.m, l.prev) ORDER BY l.dim) AS cv
         |  FROM (SELECT c.cid, CAST(i - 1 AS BIGINT) AS dim, c.cv[i] AS prev
         |        FROM $prev c, unnest(generate_series(1, len(c.cv))) AS t(i)) l
         |  LEFT JOIN u$k u ON u.cid = l.cid AND u.dim = l.dim
         |  GROUP BY l.cid)""".stripMargin
    }
    val iters = (1 to 3).map(iter).mkString(",\n")
    s"""WITH
       |emb AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |cent0 AS MATERIALIZED (
       |  SELECT cid, cv FROM (
       |    SELECT row_number() OVER (ORDER BY
       |        ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |        CAST(vec_id AS VARCHAR)) - 1 AS cid,
       |      list_transform(embedding, x -> round(x::DOUBLE, 6)) AS cv
       |    FROM emb) WHERE cid < 8),
       |$iters
       |SELECT c.cid AS cluster_idx, CAST(i - 1 AS BIGINT) AS dim_idx,
       |  c.cv[i] AS c
       |FROM cent3 c, unnest(generate_series(1, len(c.cv))) AS t(i)
       |ORDER BY cluster_idx, dim_idx""".stripMargin
  }

  /** The t13 oracle: [[operators.BpeTrain.fit]]'s 8-merge loop unrolled
    * into one SQL chain. Per iteration k: `pc_k` counts freq-weighted
    * adjacent pairs of seg_{k-1} (overlap-inclusive, exactly
    * [[operators.BpeTrain.pairCounts]]); `m_k` is the argmax under
    * (count DESC, left, right) binary order; `walk_k` replays
    * [[operators.BpeTrain.mergeCol]]'s fold as a recursive walk whose
    * state is (emitted prefix, LAST symbol) — fuse when last = l and the
    * next symbol = r (a fused composite can never refuse, l+r ≠ l) —
    * sidestepping the string-replace false-match trap the t14 oracle's
    * fixed list avoids only by construction. Every step is integer
    * arithmetic or binary string comparison, identical in any engine.
    */
  private lazy val duckBpeFitReplay: String = {
    def iter(k: Int): String = {
      val prev = s"seg${k - 1}"
      s"""pc$k AS MATERIALIZED (SELECT s.syms[i] AS l, s.syms[i + 1] AS r,
         |    CAST(sum(s.freq) AS BIGINT) AS c
         |  FROM $prev s, unnest(generate_series(1, len(s.syms) - 1)) AS t(i)
         |  WHERE len(s.syms) >= 2 GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT l, r FROM pc$k ORDER BY c DESC, l, r LIMIT 1),
         |walk$k AS (
         |  SELECT s.word, CAST(1 AS BIGINT) AS i, CAST('' AS VARCHAR) AS done,
         |    s.syms[1] AS last
         |  FROM $prev s
         |  UNION ALL
         |  SELECT wk.word, wk.i + 1,
         |    CASE WHEN wk.last = m.l AND s.syms[wk.i + 1] = m.r
         |         THEN wk.done ELSE wk.done || wk.last || chr(31) END,
         |    CASE WHEN wk.last = m.l AND s.syms[wk.i + 1] = m.r
         |         THEN wk.last || s.syms[wk.i + 1] ELSE s.syms[wk.i + 1] END
         |  FROM walk$k wk JOIN $prev s USING (word) CROSS JOIN m$k m
         |  WHERE wk.i < len(s.syms)),
         |seg$k AS MATERIALIZED (SELECT wk.word, s.freq,
         |    string_split(wk.done || wk.last, chr(31)) AS syms
         |  FROM walk$k wk JOIN $prev s USING (word)
         |  WHERE wk.i = len(s.syms))""".stripMargin
    }
    val iters = (1 to 8).map(iter).mkString(",\n")
    val merges = (1 to 8).map(k =>
      s"SELECT CAST(${k - 1} AS BIGINT) AS merge_rank, " +
        s"l AS left_sym, r AS right_sym FROM m$k")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE
       |w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wfq AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM w WHERE len(word) > 0 GROUP BY word),
       |seg0 AS MATERIALIZED (SELECT word, freq,
       |  string_split(word, '') AS syms FROM wfq),
       |$iters
       |SELECT * FROM (
       |  $merges
       |) ORDER BY merge_rank""".stripMargin
  }

  // the t33 oracle's piece -> id table over the PROB model (model order +
  // unk one past the end), generated from the engine's own vocabIds
  private lazy val duckUgProbIds: String =
    operators.UnigramTok.vocabIds(FixedUgProbs).map { case (t, i) =>
      s"('${t.replace("'", "''")}', $i)"
    }.mkString(", ")

  // the t26b oracle's token -> id table: the FIXTURE's vocab.txt line
  // order (unk at line 0), the published-id layout loadBertVocabIds keeps
  private lazy val duckWpIdsBert: String =
    (operators.WordPiece.Unk +: FixedWpPieces).zipWithIndex.map { case (t, i) =>
      s"('${t.replace("'", "''")}', $i)"
    }.mkString(", ")

  // the t26 oracle's piece -> id table, generated from the engine's own
  // vocabIds (rank order + unk one past the end) — one source of truth
  private lazy val duckWpIds: String =
    operators.WordPiece.vocabIds(FixedWpPieces).map { case (t, i) =>
      s"('${t.replace("'", "''")}', $i)"
    }.mkString(", ")

  // greedy longest-match replay shared by the t24/t24b/t25 oracles: jump
  // table (position -> longest matching piece length; plain join + max)
  // then a recursive walk accumulating pieces, chr(30) marking BERT's
  // whole-word [UNK]
  private lazy val duckWpSegmentCtes: String =
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
      |p AS (SELECT * FROM (VALUES $duckWpPieces) AS t(mat, cont, plen)),
      |pos AS (SELECT word, i FROM wf, unnest(generate_series(1, len(word))) AS t(i)),
      |step AS (SELECT word, i, max(plen) AS jump
      |  FROM pos JOIN p ON p.cont = (i > 1) AND substr(word, i, p.plen) = p.mat
      |  GROUP BY word, i),
      |rec AS (
      |  SELECT word, CAST(1 AS BIGINT) AS i, '' AS acc FROM wf
      |  UNION ALL
      |  SELECT r.word,
      |    CAST(CASE WHEN s.jump IS NULL THEN len(r.word) + 1
      |         ELSE r.i + s.jump END AS BIGINT),
      |    CASE WHEN s.jump IS NULL THEN chr(30)
      |         WHEN r.i = 1 THEN r.acc || substr(r.word, r.i, s.jump) || chr(31)
      |         ELSE r.acc || '##' || substr(r.word, r.i, s.jump) || chr(31) END
      |  FROM rec r LEFT JOIN step s ON r.word = s.word AND r.i = s.i
      |  WHERE r.i <= len(r.word)),
      |fin AS (SELECT word, CASE WHEN acc = chr(30) THEN ['[UNK]']
      |    ELSE string_split(rtrim(acc, chr(31)), chr(31)) END AS toks
      |  FROM rec WHERE i > len(word))""".stripMargin

  /** T3 token counting: whitespace tokens + regex (BPE-ish) tokens. */
  val t3TokenStats: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        size(tokens($"text")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-z0-9]+"), lit(0))).cast("long").as("n_re_tokens"),
        length($"text").cast("long").as("n_chars_m"))
      .orderBy($"doc_id")
  }

  /** T4 min-k shingle-hash document fingerprint (winnowing-style). */
  val t4Fingerprint: Q = (s, d) =>
    TextDedup.fingerprintMinK(Tables.documents(s, d), "text", "doc_id", 3, 4)
      .orderBy(col("doc_id"))

  /** T5 repetition signals — the standard Gopher pre-training repetition
    * filters (Rae et al. 2021, Table A1): duplicate-token fraction and the
    * share of all 2-/3-gram occurrences held by the most frequent gram.
    * ROW-LOCAL higher-order-function arithmetic: no explode, no shuffle
    * required by the signals themselves — unlike the naive explode-groupBy
    * formulation whose shuffle carries every n-gram. The explicit spread
    * before the compute is the repo's pinned-parallelism rule: interpreted
    * HOF arithmetic is compute-amplifying (~1 ms/doc), so its parallelism
    * must not be hostage to the scan's split count (the local fixture is
    * one row group; at 100 TB the spread cost is noise against the
    * compute it balances).
    */
  val t5Repetition: Q = (s, d) => {
    import s.implicits._
    val toks = tokens($"text")
    Tables.documents(s, d).repartition($"doc_id")
      .select($"doc_id",
        round(dupTokenFrac(toks), 6).as("dup_token_frac"),
        round(topNgramFrac(toks, 2), 6).as("top2gram_frac"),
        round(topNgramFrac(toks, 3), 6).as("top3gram_frac"))
      .orderBy($"doc_id")
  }

  /** S1 deterministic stratified sample — training-data mixing weights per
    * language (en .5, zh .3, rest .1) decided by a pure function of the
    * row id ([[Sampling.stratified]]: first 8 hex chars of md5(doc_id) vs
    * a per-stratum threshold). The SAME rows fall out of any engine given
    * the recipe — the oracle proves it by re-running the draw in DuckDB —
    * and the plan is a scan-local filter: no RNG, no shuffle, no
    * partitioning dependence.
    */
  val s1StratifiedSample: Q = (s, d) =>
    Sampling.stratified(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.3), defaultRate = 0.1)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** S9 fixed-k per-stratum draw ([[Sampling.fixedKPerStratum]]): exactly
    * 5 docs per language by the engine-portable md5 draw — the balanced
    * eval-set / count-capped mixing primitive s1's RATE form cannot
    * express. The oracle replays the ranked window verbatim.
    */
  val s9FixedKSample: Q = (s, d) =>
    Sampling.fixedKPerStratum(Tables.documents(s, d), "doc_id", "lang", 5)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** S2 exact token-budget mix — the data-mixing step after sampling: per
    * language, admit documents in deterministic md5-draw order while the
    * running whitespace-token total stays within the language's budget
    * ([[Sampling.tokenBudget]]; greedy prefix, reproducible anywhere). The
    * budget is a distributed two-pass prefix sum over a (stratum, draw, id)
    * range partitioning — no per-stratum window sort, no single-partition
    * stage for any stratum shape; [[Sampling.tokenBudgetByRate]] is the
    * scan-local in-expectation twin when even the two passes are too much.
    */
  val s2TokenBudget: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", size(tokens($"text")).cast("long").as("n_tok"))
    Sampling.tokenBudget(docs, "doc_id", "lang", "n_tok",
        Map("en" -> 3000L, "zh" -> 1000L), defaultBudget = 500L)
      .orderBy($"doc_id")
  }

  /** S10 — the token budget enforced in the unit a trainer actually
    * pays: TOKENIZER-TRUE counts ([[graft.api.CorpusRecipe
    * .countTokensBpe]] under the LOADED space-discipline BPE artifact —
    * t15's counts as a recipe column) drive s2's exact per-language
    * prefix cut ([[graft.api.CorpusRecipe.tokenBudget]]). Whitespace
    * counts (s2) overstate what a BPE model spends on long words and
    * understate sub-word splits; budgeting in model tokens is the
    * composition a real data-mixing job runs. The oracle composes t15's
    * count replay with s2's cumulative-window cut — both already proven
    * independently, here proven COMPOSED.
    */
  val s10BpeTokenBudget: Q = (s, d) => {
    import s.implicits._
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/space")
    graft.api.CorpusRecipe(
        Tables.documents(s, d).select($"doc_id", $"lang", $"text"))
      .countTokensBpe(model, out = "n_tok")
      .tokenBudget("lang", "n_tok",
        Map("en" -> 3000L, "zh" -> 1000L), defaultBudget = 500L)
      .frame.select($"doc_id", $"lang", $"n_tok")
      .orderBy($"doc_id")
  }

  /** S4 target-mixture budget ([[Sampling.mixtureBudget]]): the user
    * states SHARES per language and one total; per-stratum budgets fall
    * out, scaled down to the binding constraint so proportions stay exact
    * (at this fixture's sf0.01 the zh stratum binds and is admitted
    * whole; at sf0.1 the requested total binds — both branches are
    * deterministic and the oracle recomputes them in SQL).
    */
  val s4MixtureBudget: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", size(tokens($"text")).cast("long").as("n_tok"))
    Sampling.mixtureBudget(docs, "doc_id", "lang", "n_tok",
        Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.15, "es" -> 0.1, "fr" -> 0.05),
        totalTokens = 30000L)
      .orderBy($"doc_id")
  }

  /** S6 temperature mixture ([[Sampling.temperatureMix]]): q_s ∝ p_s^0.5
    * rebalancing toward 3000 documents. The two SFs exercise DIFFERENT
    * binding branches — at sf0.01 the fr stratum saturates (rate 1.0, the
    * target scales down to its capacity); at sf0.1 the 3000-doc target
    * binds. The oracle replays every float step: sqrt weights, the
    * lang-ordered sequential weight fold, the capacity min, and the
    * 32-bit draw threshold.
    */
  val s6TemperatureMix: Q = (s, d) => {
    import s.implicits._
    Sampling.temperatureMix(
        Tables.documents(s, d).select($"doc_id", $"lang"),
        "doc_id", "lang", alpha = 0.5, totalDocs = 3000L)
      .orderBy($"doc_id")
  }

  /** S8 seeded training-order shuffle: the deterministic global
    * permutation every training run ends with. The order key is
    * md5(seed ++ id) — the same engine-portable draw the s1/s3 sampling
    * rows use, so any engine recomputes the identical order — and the
    * rank is [[GlobalRank.withGlobalIndex]]'s two-pass range-shuffle +
    * per-partition zipWithIndex: no single-partition window at any
    * corpus size. A new epoch's order is a new seed, not a new
    * algorithm; doc_id tie-breaks the 8-hex key so collisions stay
    * deterministic.
    */
  val s8ShuffleOrder: Q = (s, d) => {
    val keyed = Tables.documents(s, d).select(col("doc_id"),
      substring(md5(concat(lit("ep1-"), col("doc_id").cast("string"))), 1, 8)
        .as("shuffle_key"))
    operators.GlobalRank.withGlobalIndex(
        keyed, Seq(col("shuffle_key"), col("doc_id")), "shuffle_rank")
      .select(col("shuffle_rank"), col("doc_id"), col("shuffle_key"))
      .orderBy("shuffle_rank")
  }

  /** S7 epoch upsampling ([[Sampling.upsample]] through the recipe
    * terminal): the data-recipe weights {src0→2.5, src1→3.0, src2→0.25,
    * src3→0} — scarce sources run extra epochs, src3 is dropped, the
    * fractional copies fall to the deterministic "epoch|id" draw. Output
    * grain is (doc_id, epoch); the oracle replays floor/threshold and the
    * per-row copy explode exactly.
    */
  val s7EpochMix: Q = (s, d) => {
    import s.implicits._
    graft.api.CorpusRecipe(Tables.documents(s, d).select($"doc_id", $"source"))
      .upsample(Map("src0" -> 2.5, "src1" -> 3.0, "src2" -> 0.25,
        "src3" -> 0.0))
      .orderBy($"doc_id", $"epoch")
  }

  /** U2 k-anonymity suppression ([[graft.operators.Anonymize.kSuppress]]):
    * drop documents whose (lang, source, length-bucket) quasi-identifier
    * combination has fewer than 5 members — rare joint values are what
    * re-identify, t6's regex scrub can't see them. Both branches live at
    * both SFs (58 kept / 442 dropped at sf0.01; 4532 / 468 at sf0.1).
    * One hash shuffle on the QI key; the group count never buffers rows.
    */
  val u2KAnonymity: Q = (s, d) => {
    import s.implicits._
    graft.operators.Anonymize
      .kSuppress(
        Tables.documents(s, d).select($"doc_id", $"lang", $"source", $"n_chars"),
        Seq($"lang", $"source", floor($"n_chars" / 100)), k = 5L)
      .orderBy($"doc_id")
  }

  /** S3 deterministic train/val/test split ([[Sampling.splitLabel]]): the
    * md5 draw cut at 0.9/0.95 — scan-local, engine-reproducible, and
    * STABLE under corpus growth (a doc's split never changes when other
    * docs arrive, the eval-contamination guarantee a per-run random split
    * cannot give).
    */
  val s3SplitAssign: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        Sampling.splitLabel($"doc_id",
          Seq("train" -> 0.9, "val" -> 0.05), "test").as("split"))
      .orderBy($"doc_id")
  }

  /** S5 LEAKAGE-FREE split: the md5 split draw is keyed on the NEAR-DUP
    * CLUSTER (e8's minhash-LSH connected components), not the row — every
    * member of a duplicate cluster lands in the SAME split, so
    * near-identical documents can never straddle train and eval. This is
    * the split-level contamination a row-keyed split (s3) cannot prevent
    * (Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better" §4 measures exactly this train/test overlap), and it costs
    * one expression over labels the dedup pass already computed. Honest
    * trade vs s3: assignment is stable only while the CLUSTERS are stable
    * — a new arrival that merges two clusters re-draws the merged group
    * (inherent to any leakage-unit split; run it on the post-dedup frozen
    * corpus, which is where splits are cut anyway).
    */
  val s5LeakfreeSplit: Q = (s, d) => {
    import s.implicits._
    dedupClusters(s, d)
      .select($"doc_id", $"cluster",
        Sampling.splitLabel($"cluster",
          Seq("train" -> 0.9, "val" -> 0.05), "test").as("split"))
      .orderBy($"doc_id")
  }

  /** V1 per-label embedding centroids (class prototypes / embedding-drift
    * baseline) via the native `vector_sum` TypedImperativeAggregate — ONE
    * double[dim] of state per label with map-side partial aggregation,
    * where the posexplode alternative shuffles dim× the corpus and needs a
    * second shuffle to re-assemble vectors.
    */
  val v1LabelCentroid: Q = (s, d) => {
    import s.implicits._
    // centroid exploded to (label, dim, value) rows — the driver's oracle
    // harness tuple-sorts result frames and cannot hash array cells, so the
    // gate shape is scalar-per-row; the array form is one collect_list away
    Tables.embeddings(s, d)
      .groupBy($"label")
      .agg(call_function("vector_sum", $"embedding").as("vs"),
        count(lit(1)).as("n"))
      .select($"label", $"n",
        posexplode(transform($"vs", x => round(x / $"n", 6))))
      .select($"label", $"pos".as("dim"), $"col".as("value"), $"n")
      .orderBy($"label", $"dim")
  }

  /** Q7 exact per-group quantiles (p50/p90/p99 of `value` per event_type)
    * via Spark's built-in exact `percentile` aggregate — linear
    * interpolation, matched by DuckDB's `quantile_cont`. SCALE NOTE: the
    * exact aggregate holds a value→count map per group
    * (ObjectHashAggregate, memory O(distinct values per group)); at 100 TB
    * per-group value sets can exceed executor memory, so the serving twin
    * is `approx_percentile` (the t-digest sketch, O(1) state) — the same
    * exact/approx pairing as the documented e7 countDistinct/HLL twin;
    * TrainingPrepSpec pins the sketch within its error bound on the gate
    * fixture.
    */
  val q7ValueQuantiles: Q = (s, d) => {
    import s.implicits._
    // one array-percentile aggregate (single pass over the value map), then
    // element_at to the three scalar gate columns — scalar because the
    // driver's oracle harness cannot sort/hash array cells
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(percentile($"value", typedlit(Seq(0.5, 0.9, 0.99))).as("qs"),
        count(lit(1)).as("n"))
      .select($"event_type",
        round(element_at($"qs", 1), 6).as("p50"),
        round(element_at($"qs", 2), 6).as("p90"),
        round(element_at($"qs", 3), 6).as("p99"),
        $"n")
      .orderBy($"event_type")
  }

  /** T10 corpus vocabulary: top-200 whitespace tokens by document-blind
    * occurrence count — the heavy-hitter scan tokenizer/BPE training
    * starts from. One explode → map-side-combined count → global top-k
    * (TakeOrderedAndProject, no full sort); ties broken by token text.
    */
  val t10VocabTopk: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(tokens($"text")).as("token"))
      .where(length($"token") > 0)
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(200)
  }

  /** T10a the same vocabulary top-k through the [[graft.functions.FreqItems
    * Misra–Gries sketch]] — the O(cap)-state twin of t10's exact groupBy.
    * At 100 TB the exact form shuffles (distinct tokens × map partitions)
    * rows; this ships one O(cap) sketch per partition through partial
    * aggregation. cap=1024 ≥ the corpus vocabulary, so the sketch is in its
    * EXACT regime (no counter ever evicted — FreqItems scaladoc) and the
    * row hash-matches t10's oracle; FreqItemsSpec carries the approx-regime
    * bounds on a planted Zipf fixture the gate corpus's 31-token vocabulary
    * cannot exercise.
    */
  val t10aVocabSketch: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(tokens($"text")).as("token"))
      .where(length($"token") > 0)
      .agg(expr("freq_items(token, 1024)").as("sk"))
      .select(explode($"sk").as("e"))
      .select($"e.token".as("token"), $"e.n".as("n"))
      .orderBy($"n".desc, $"token")
      .limit(200)
  }

  /** X1 sequence-packing manifest ([[SequencePack.packManifest]]):
    * documents concatenated in deterministic md5-draw order and cut into
    * 2048-token context windows; per doc, its global token offset and
    * chunk range. The offset is a distributed two-pass prefix sum — the
    * `sum() OVER (ORDER BY draw)` form the oracle uses would serialize
    * the corpus through one task (the empty-partition-spec window trap
    * PlanAuditSpec rejects).
    */
  val x1PackManifest: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tok"))
    SequencePack.packManifest(docs, "doc_id", "n_tok", 2048L)
      .orderBy($"doc_id")
  }

  /** X2 doc-intact packing manifest ([[SequencePack.packNoSplit]]): the
    * other packing policy — no document split across context windows; docs
    * that miss the remainder open a new window. Sequential-greedy is a
    * chain, so the operator packs fixed 64-doc SHARDS independently (bins
    * never span shards, waste ≤ one open window per shard); the per-shard
    * fold is an `aggregate` HOF over the shard's sorted doc array. The
    * oracle replays the identical recurrence as a recursive CTE.
    */
  val x2PackNosplit: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tok"))
    SequencePack.packNoSplit(docs, "doc_id", "n_tok", 2048L, 64)
      .orderBy($"doc_id")
  }

  /** X4 training-sequence materialization ([[SequencePack.packTokenIds]]):
    * the step after x1's audit trail — emit the context windows
    * THEMSELVES. t19's per-doc BPE token ids (the loaded byte-level
    * model) lay end to end in the manifest's md5-draw order with an
    * end-of-text separator (id 260 — one past the 4-merge model's
    * 256+4-entry vocab, the GPT-2 boundary discipline) after each
    * document, cut into 512-token windows: `(chunk_id, n_tokens,
    * input_ids)`, every chunk full except the corpus's last. The oracle
    * composes t19's id replay with x1's offset window and groups by
    * `gp // 512`, building each window with a position-ordered `list()`
    * — the whole tensor content is under the hash, not a digest of it.
    *
    * GATE-ROW GRAIN (VERDICT r16 #1): the operator returns `input_ids:
    * array<bigint>` — the tensor a trainer loads — but the driver's
    * pandas comparator cannot sort/hash array cells, so the gate row
    * flattens the window to a space-joined scalar (`array_join`) on BOTH
    * sides. Same content under the hash (every id, in order), driver-
    * comparable type; callers get the array from the operator itself.
    */
  val x4PackTokenIds: Q = (s, d) => {
    import s.implicits._
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s)}/gpt2b")
    // materialize ONCE before packing: packTokenIds executes its input
    // lineage twice (count build + join side, r20 — the production shape
    // writes ids to a lake first), and the BPE segmentation is the
    // expensive half of this row (measured 2.3 s → ~1.2 s, r19)
    val ids = operators.BpeTrain.tokenIds(
      Tables.documents(s, d).where($"doc_id" % 10 === 0), "doc_id", "text", model)
      .localCheckpoint()
    SequencePack.packTokenIds(ids, "doc_id", 512L, sepId = Some(260L))
      .select($"chunk_id", $"n_tokens",
        array_join($"input_ids".cast("array<string>"), " ").as("input_ids"))
      .orderBy($"chunk_id")
  }

  /** T6 PII scrubbing — C4-style cleaning with typed redaction tags.
    * Synthetic PII (emails, dotted-quad IPs, phone numbers) is derived
    * deterministically from doc_id so the scrub provably FIRES; the oracle
    * rebuilds the same corpus and runs the IDENTICAL regex text in RE2 —
    * the patterns are deliberately engine-portable (no lookarounds). Output
    * compares the full scrubbed text via md5 plus the redaction count.
    */
  val t6PiiScrub: Q = (s, d) => {
    import s.implicits._
    val withPii = Tables.documents(s, d).select($"doc_id",
      concat($"text",
        when($"doc_id" % 3 === 0,
          concat(lit(" contact User"), $"doc_id", lit("@Example.COM"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" from 10.0."), ($"doc_id" % 256).cast("string"), lit(".7"))).otherwise(lit("")),
        when($"doc_id" % 7 === 0,
          concat(lit(" call +1-555-01"), lpad(($"doc_id" % 100).cast("string"), 2, "0"))).otherwise(lit(""))
      ).as("text"))
    withPii.select($"doc_id",
        md5(scrubPii($"text")).as("scrubbed_md5"),
        piiCount($"text").as("n_pii"))
      .orderBy($"doc_id")
  }

  /** L1 line-level boilerplate dedup — the C4/RefinedWeb cleaning step
    * document dedup cannot express. Deterministic boilerplate lines (footer
    * chrome derived from doc_id residues, same construction discipline as
    * t6's synthetic PII) are attached so the filter provably FIRES: lines in
    * ≥ 10 distinct documents are dropped corpus-wide, unique header/body
    * lines survive, order preserved. The cleaning pass is row-local against
    * the broadcast boilerplate set ([[LineDedup.removeBoilerplate]]) — the
    * corpus text itself never shuffles.
    */
  val l1LineDedup: Q = (s, d) => {
    import s.implicits._
    val src = Tables.documents(s, d).select($"doc_id",
      concat_ws("\n",
        concat(lit("h "), $"doc_id"),
        $"text",
        when($"doc_id" % 2 === 0, "subscribe to our newsletter today"),
        when($"doc_id" % 3 === 0, "all rights reserved by the site"),
        when($"doc_id" % 5 === 0, "click here to read more")).as("text"))
    LineDedup.removeBoilerplate(src, "doc_id", "text", minDocs = 10)
      .select($"doc_id", md5($"clean_text").as("clean_md5"), $"n_kept", $"n_removed")
      .orderBy($"doc_id")
  }

  /** T7 corpus-trained LM quality scoring — the CCNet signal (Wenzek et al.
    * 2019) with a deterministic, engine-portable core: an add-one bigram
    * model fit on the corpus scores each document by average negative
    * log-likelihood per bigram ([[LmScore]]). Fit is two count
    * aggregations; scoring is two model joins + a position-ordered fold, so
    * the double sum is partitioning-independent and the oracle reproduces
    * it exactly.
    */
  val t7LmScore: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val model = LmScore.fit(docs, "text")
    LmScore.score(docs, "doc_id", "text", model).orderBy($"doc_id")
  }

  /** Q4 — corpus mixture report: per (lang, source) document and token
    * counts plus each cell's share of the corpus token mass — the
    * measurement step that feeds the s1/s2 mixing-rate decisions. One
    * map-side-combined aggregation (the scan projects only lang, source
    * and the token count) + a broadcast of the single-row total; at
    * 100 TB this is the cheapest full-corpus pass there is.
    */
  val q4MixtureReport: Q = (s, d) => {
    import s.implicits._
    val cells = Tables.documents(s, d)
      .select($"lang", $"source", size(tokens($"text")).cast("long").as("n_tok"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
    val total = cells.agg(sum($"n_tokens").as("__tot"))
    cells.crossJoin(broadcast(total))
      .select($"lang", $"source", $"n_docs", $"n_tokens",
        round($"n_tokens" / $"__tot", 6).as("token_share"))
      .orderBy($"lang", $"source")
  }

  /** T8 — CCNet perplexity bucketing (Wenzek et al. 2019): split the corpus
    * into equal head/middle/tail terciles by LM score (t7's nll), the
    * standard quality-tier assignment before mixing. `ntile` semantics
    * (first buckets one larger on remainder) computed WITHOUT Spark's
    * empty-partition `Window.orderBy` (which moves the corpus to one task):
    * [[GlobalRank]] assigns the global rank with a fully parallel two-pass
    * range partition, and the tercile is closed-form arithmetic on the
    * rank — bucket boundaries identical to the oracle's `ntile(3)`.
    */
  val t8PplBuckets: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val model = LmScore.fit(docs, "text")
    // localCheckpoint: the count below and the rank's two passes reuse the
    // scored result instead of re-running the model joins
    val scored = LmScore.score(docs, "doc_id", "text", model).localCheckpoint()
    val n = scored.count()
    val base = n / 3
    val rem = n % 3
    val cut = rem * (base + 1)
    val ranked = operators.GlobalRank
      .withGlobalIndex(scored, Seq($"nll", $"doc_id"), "__r")
    val bucket = when($"__r" < cut, expr(s"CAST(__r DIV ${base + 1} AS INT) + 1"))
      .otherwise(expr(s"CAST((__r - $cut) DIV ${math.max(base, 1)} AS INT) + ${rem.toInt} + 1"))
    ranked.select($"doc_id", $"n_bigrams", $"nll", bucket.as("bucket"))
      .orderBy($"doc_id")
  }

  /** P3's pre-budget stages (gates → exact dedup), exposed so PlanAuditSpec
    * can audit the filter-below-dedup-shuffle shape directly: the final
    * recipe runs these through [[Sampling.tokenBudget]], whose two-pass
    * prefix sum is an analysis barrier (`createDataFrame`) that hides this
    * subtree from the returned frame's plan.
    */
  private[graft] val p3Deduped: Q = (s, d) => {
    import s.implicits._
    // Built through the user-facing recipe API (graft.api.CorpusRecipe):
    // the p3 gate row is the end-to-end oracle check OF that API. Spread
    // before the gates pins parallelism for the interpreted-HOF signals
    // (same rule as t5); CollapseProject fuses the score columns into one
    // projection and the combined gate runs below the dedup shuffle
    // (PlanAuditSpec pins both).
    graft.api.CorpusRecipe(Tables.documents(s, d))
      .spread()
      .scoreLanguage("pred")
      .scoreQuality("quality")
      .scoreRepetition("dup_frac", "top2")
      .countTokens("n_tok")
      .gate($"pred" === "en" && $"quality" >= 0.5 &&
        $"dup_frac" <= 0.6 && $"top2" <= 0.1)
      .exactDedup("n_tok")
      .frame
      .select($"doc_id", $"n_tok", lit("all").as("blk"))
  }

  /** P3 — the END-TO-END pre-training data recipe as ONE declarative plan:
    * language-ID → quality gate → Gopher repetition gates (t5's signals)
    * → exact dedup → deterministic token-budget selection. Every scalar
    * gate (langid scores, quality, dup/top-2-gram fractions, token count)
    * fuses into the scan projection and the combined filter runs BEFORE
    * the first shuffle, so at 100 TB the dedup groupBy carries only the
    * multiply-gated survivor slice; the budget stage is
    * [[Sampling.tokenBudget]]'s distributed two-pass prefix sum over the
    * deduped survivors — no single-partition stage even though the recipe
    * budgets ONE stratum (the constant-stratum window trap this replaced).
    */
  val p3CorpusRecipe: Q = (s, d) => {
    import s.implicits._
    Sampling.tokenBudget(p3Deduped(s, d), "doc_id", "blk", "n_tok", Map("all" -> 2000L))
      .select($"doc_id", $"n_tok")
      .orderBy($"doc_id")
  }

  /** P4 — the FULL RefinedWeb/C4-style curation recipe through the
    * user-facing [[graft.api.CorpusRecipe]] builder, covering the steps p3
    * does not (r9 advice): synthetic PII and URLs attached (t6/u1's
    * construction discipline, so every stage provably FIRES) → PII scrub →
    * benchmark decontamination (e9's bench split) → exact dedup carrying
    * the keeper's url → per-domain cap (u1's md5-draw keeper order) →
    * token count. The scrub is a row-local regexp chain fused into the
    * scan projection; decontamination broadcasts the bench shingle set;
    * the dedup groupBy is the first corpus shuffle; the cap ships ≤ k ids
    * per domain through the bounded-heap aggregate. The oracle recomputes
    * the ENTIRE chain in SQL, so the builder's composition — step order,
    * column plumbing, keeper semantics — is driver-checked end-to-end,
    * not just each operator in isolation.
    */
  val p4CurationRecipe: Q = (s, d) => {
    import s.implicits._
    val url = concat(lit("https://"),
      when($"doc_id" % 4 === 0, "www.").otherwise(""),
      lit("u"), $"doc_id" % 7, lit("."),
      lit("site"), $"doc_id" % 23, lit("."),
      when($"doc_id" % 3 === 0, "com").when($"doc_id" % 3 === 1, "org").otherwise("net"),
      lit("/page/"), $"doc_id", lit("?ref="), $"source")
    val piiText = concat($"text",
      when($"doc_id" % 3 === 0,
        concat(lit(" contact User"), $"doc_id", lit("@Example.COM"))).otherwise(lit("")),
      when($"doc_id" % 5 === 0,
        concat(lit(" from 10.0."), ($"doc_id" % 256).cast("string"), lit(".7"))).otherwise(lit("")),
      when($"doc_id" % 7 === 0,
        concat(lit(" call +1-555-01"), lpad(($"doc_id" % 100).cast("string"), 2, "0"))).otherwise(lit("")))
    val docs = Tables.documents(s, d)
    val corpus = docs.where($"doc_id" % 10 =!= 0)
      .select($"doc_id", piiText.as("text"), url.as("url"))
    val bench = docs.where($"doc_id" % 10 === 0).select($"doc_id", $"text")
    graft.api.CorpusRecipe(corpus)
      .scrubPii()
      .decontaminate(bench, shingleK = 5)
      .exactDedup("url")
      .capPerDomain("url", 5)
      .countTokens("n_tok")
      .frame
      .select($"doc_id", registeredDomain($"url").as("domain"),
        $"n_tok", md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** P5 — the recipe steps p4 leaves spec-only (VERDICT r10 #5), composed
    * through [[graft.api.CorpusRecipe]]: l1's planted boilerplate chrome →
    * [[graft.api.CorpusRecipe.dropBoilerplateLines]] (broadcast blocklist,
    * row-local clean) → newline→space [[graft.api.CorpusRecipe.normalize]]
    * (so the token-level scrub sees one token stream) →
    * [[graft.api.CorpusRecipe.scrubSharedPassages]] (e11's exact substring
    * scrub, counted DF, never pair-expanded) → empty-doc gate → token
    * count. The oracle replays the ENTIRE chain — blocklist, rebuild,
    * shingle coverage, anti-join, rebuild again — so the step ORDER and
    * the clean-text column plumbing between the two rebuilds is what's
    * hash-checked, not each operator alone.
    */
  val p5ScrubRecipe: Q = (s, d) => {
    import s.implicits._
    val src = Tables.documents(s, d).select($"doc_id",
      concat_ws("\n",
        concat(lit("h "), $"doc_id"),
        $"text",
        when($"doc_id" % 2 === 0, "subscribe to our newsletter today"),
        when($"doc_id" % 3 === 0, "all rights reserved by the site"),
        when($"doc_id" % 5 === 0, "click here to read more")).as("text"))
    graft.api.CorpusRecipe(src)
      .dropBoilerplateLines(minDocs = 10)
      .normalize(c => regexp_replace(c, "\n", " "))
      .scrubSharedPassages(k = 8)
      .gate(length($"text") > 0)
      .countTokens("n_tok")
      .frame
      .select($"doc_id", $"n_tok", md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** X3 — the end-to-end TRAINING EXPORT composition (VERDICT r10 #6):
    * corpus in, training shards out, as one driver-checked row. The chain
    * a real user runs: token count → deterministic train/val/test split
    * ([[Sampling.splitLabel]]) → keep train → concat-then-chunk packing
    * manifest ([[SequencePack.packManifest]], the two-pass prefix sum) →
    * 64-chunk export shards with per-shard document count, token mass,
    * chunk range, and the m1-style order-independent bit_xor content
    * fingerprint. What this checks that x1/s3/m1 alone cannot: the split's
    * survivor set feeds the pack's draw order, the pack's offsets feed the
    * shard cut, and the fingerprint aggregates the same documents the
    * offsets placed there — the cross-operator column plumbing.
    */
  val x3TrainingExport: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val manifest = graft.api.CorpusRecipe(docs)
      .countTokens("n_tok")
      .split(Seq("train" -> 0.9, "val" -> 0.05), "test")
      .gate($"split" === "train")
      .packManifest("n_tok", 512L)
    manifest.join(docs, "doc_id")
      .groupBy(($"first_chunk" / 64).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"tokens").as("n_tokens"),
        min($"first_chunk").as("min_chunk"),
        max($"last_chunk").as("max_chunk"),
        expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint))").as("fp"))
      .orderBy($"shard")
  }

  /** Q8 — the [[graft.api.CorpusRecipe.profile]] terminal under the gate
    * (exact form): corpus document count, distinct-text count, token mass,
    * and token-count percentiles in ONE aggregation — the numbers a
    * mixing/budget decision starts from. The approx twins (HLL distinct,
    * t-digest percentiles — the 100 TB form) are spec-pinned against this
    * exact row in CorpusRecipeSpec.
    */
  val q8CorpusProfile: Q = (s, d) => {
    import s.implicits._
    val corpus = Tables.documents(s, d)
      .select($"doc_id", $"text", size(split($"text", " ")).cast("long").as("n_tok"))
    graft.api.CorpusRecipe(corpus).profile($"n_tok", approx = false)
      .select($"n_docs", $"n_distinct_texts", $"n_tokens",
        round(element_at($"tok_quantiles", 1), 6).as("p50"),
        round(element_at($"tok_quantiles", 2), 6).as("p90"),
        round(element_at($"tok_quantiles", 3), 6).as("p99"))
  }

  /** P2 — the full training-data corpus pipeline as ONE declarative plan:
    * language-ID → quality gate → MinHash-LSH near-dup pairs → connected
    * components → one representative (min doc_id) per near-dup cluster,
    * with the cluster size it stands for. The scoring expressions fuse
    * into the scan projection and the filter runs BEFORE the sketch, so at
    * 100 TB the shingle/minhash stages — the pipeline's dominant cost —
    * only ever see the surviving clean-English slice; dedup then rides the
    * skew-safe band-pair machinery and the driver-finished CC. Exact
    * dedup is subsumed: identical texts share a signature, bucket, and
    * cluster. Hash-matched against a composed DuckDB oracle (p1's filter
    * CTEs + e2's sketch + e8's recursive-CTE closure).
    */
  val p2CorpusDedup: Q = (s, d) => {
    import s.implicits._
    val pred = languagePick(tokens($"text"))
    val clean = Tables.documents(s, d)
      .select($"doc_id", $"text", pred.as("pred"),
        round(qualityScore($"text"), 6).as("quality"))
      .where($"pred" === "en" && $"quality" >= 0.5)
      .select($"doc_id", $"text")
    val pairs = TextDedup.minhashBandPairs(clean, "text", "doc_id", 8, 3, 4)
    ConnectedComponents.minLabel(clean.select($"doc_id"), pairs, "d1", "d2")
      .groupBy($"cluster")
      .agg(count(lit(1)).as("cluster_size"))
      .select($"cluster".as("doc_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** P1 corpus clean — the flagship training-data composition: language-ID
    * (t1's heuristic) → quality gate (t2's score ≥ 0.5) → exact dedup (e1's
    * min-id-per-text), one declarative plan. Catalyst fuses the langid +
    * quality expressions into the scan projection and the dedup groupBy is
    * the only shuffle; the filter runs BEFORE it, so at 100 TB the shuffle
    * carries only the surviving (clean, English) slice.
    */
  val p1CorpusClean: Q = (s, d) => {
    import s.implicits._
    val pred = languagePick(tokens($"text"))
    Tables.documents(s, d)
      .select($"doc_id", $"text", pred.as("pred"),
        round(qualityScore($"text"), 6).as("quality"))
      .where($"pred" === "en" && $"quality" >= 0.5)
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("dup_count"),
        min($"quality").as("quality"))
      .select($"doc_id", $"dup_count", $"quality")
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------- oracle SQL texts

  private val oracleBase: Map[String, String] = Map(
    "b1_ext_filter" ->
      """SELECT doc_id, source FROM documents
        |WHERE right(source, 1) IN ('0','1','2','3') ORDER BY doc_id""".stripMargin,
    "b2_path_project" ->
      """WITH p AS (SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) AS path FROM documents)
        |SELECT doc_id, string_split(path,'/')[1] AS head, string_split(path,'/')[-1] AS tail
        |FROM p ORDER BY doc_id""".stripMargin,
    "b3_whitelist" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
        |WHERE event_type IN ('click','view','error') GROUP BY event_type ORDER BY event_type""".stripMargin,
    "b4_regex_extract" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "b7_hex_parse" ->
      """SELECT doc_id, CAST(('0x' || substring(md5(text),1,3)) AS BIGINT) AS hex_val
        |FROM documents ORDER BY doc_id""".stripMargin,
    "b8_l2_normalize" ->
      """WITH n AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nn
        |  FROM embeddings)
        |SELECT vec_id, round(nn, 6) AS norm, round(embedding[1]::DOUBLE / nn, 6) AS e1
        |FROM n ORDER BY vec_id""".stripMargin,
    "b9_charcode_key" ->
      """SELECT doc_id, CAST(list_sum(list_transform(string_split(source,''), x -> ord(x))) AS BIGINT) AS pk
        |FROM documents ORDER BY doc_id""".stripMargin,
    "b10_hash_id" ->
      """SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) || '/' || printf('%.2f', n_chars::DOUBLE) AS hash_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "b11_duration_window" ->
      """SELECT event_id, user_id, max(ts) OVER (PARTITION BY user_id) AS user_max_ts
        |FROM events ORDER BY event_id""".stripMargin,
    "b12_md5" ->
      "SELECT doc_id, md5(text) AS digest FROM documents ORDER BY doc_id",
    "b13_magic_sniff" ->
      """SELECT doc_id, CASE WHEN substring(md5(text),1,1) IN ('0','1','2','3') THEN 'png'
        |WHEN substring(md5(text),1,1) IN ('4','5','6','7') THEN 'jpg' ELSE 'other' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Roundtrip identity: the format conversion must lose nothing — the
    // oracle reads the ORIGINAL parquet rows.
    "b15_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "b16_csv_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "b17_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "c1_sort_limit" ->
      "SELECT event_id, ts FROM events ORDER BY ts, event_id LIMIT 100",
    // Exact kept-set semantics (loader.js:202-212) as a recursive CTE: each
    // iteration advances every group by one time-ordered row, carrying the
    // last-24-kept (t, k) buffer as a list-of-structs column.
    "c3_temporal_dedup" ->
      """WITH RECURSIVE ordered AS (
        |  SELECT user_id, event_id, event_type AS k,
        |         epoch_us(ts) / 1000000.0 AS t,
        |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |),
        |gsz AS (SELECT user_id, max(rn) AS n FROM ordered GROUP BY user_id),
        |rec AS (
        |  SELECT o.user_id, o.rn,
        |         [struct_pack(t := o.t, k := o.k)] AS kept,
        |         [o.event_id] AS out_ids
        |  FROM ordered o WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.rn,
        |         CASE WHEN dup THEN r.kept
        |              ELSE list_slice(list_append(r.kept, struct_pack(t := o.t, k := o.k)),
        |                              greatest(len(r.kept) + 1 - 24 + 1, 1), len(r.kept) + 1) END,
        |         CASE WHEN dup THEN r.out_ids ELSE list_append(r.out_ids, o.event_id) END
        |  FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1,
        |  LATERAL (SELECT len(list_filter(r.kept, e -> (o.t - e.t) < 600.0 AND e.k = o.k)) > 0 AS dup) d
        |),
        |final AS (
        |  SELECT r.user_id, r.out_ids FROM rec r JOIN gsz g ON r.user_id = g.user_id AND r.rn = g.n
        |)
        |SELECT unnest(out_ids) AS event_id FROM final ORDER BY event_id""".stripMargin,
    "c3_window_dedup" ->
      """SELECT event_id FROM (
        |  SELECT event_id, epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS dt
        |  FROM events) t
        |WHERE dt IS NULL OR dt >= 600000000 ORDER BY event_id""".stripMargin,
    "c4_max_agg" ->
      """SELECT user_id, max(ts) AS max_ts, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "c5_chunking" ->
      """WITH r AS (SELECT event_id, CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000.0) AS BIGINT) AS chunk FROM events)
        |SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM r GROUP BY chunk ORDER BY chunk""".stripMargin,
    "c8_ann_exact" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score_raw
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, round(score_raw, 6) AS score FROM s
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin,
    "c8_ann_l2" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)))::DOUBLE AS score_raw
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, round(score_raw, 6) AS score FROM s
        |ORDER BY score_raw ASC, vec_id LIMIT 15""".stripMargin,
    // SQ8 is KMeans-FREE — fit (per-dim min/max), encode (clamped affine
    // round; floor(x+0.5) mirrors JVM Math.round for the nonnegative
    // domain), and the byte_dot w=scale⊙q + bias score are all pure
    // functions of the data, so the "approximate" codec row is actually
    // ORACLE-CHECKABLE: approximate vs the float exact scan, bit-exact vs
    // this SQL replay of the quantized pipeline itself
    "c7_sq8_ann" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |u AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM v),
        |st AS (SELECT pos, min(x::DOUBLE) AS mn, max(x::DOUBLE) AS mx FROM u GROUP BY pos),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |w AS (SELECT pos, mn, greatest((mx - mn) / 255.0, 1e-12) AS s,
        |    greatest((mx - mn) / 255.0, 1e-12) * (SELECT qv FROM q)[pos]::DOUBLE AS wq,
        |    mn * (SELECT qv FROM q)[pos]::DOUBLE AS bq FROM st),
        |b AS (SELECT list_sum(list(bq ORDER BY pos)) AS bias FROM w),
        |terms AS (SELECT u.vec_id, u.pos,
        |    least(255, greatest(0, CAST(floor((u.x::DOUBLE - w.mn) / w.s + 0.5) AS BIGINT))) * w.wq AS t
        |  FROM u JOIN w USING (pos)),
        |sco AS (SELECT vec_id, list_sum(list(t ORDER BY pos)) + (SELECT bias FROM b) AS score_raw
        |  FROM terms GROUP BY vec_id)
        |SELECT vec_id, round(score_raw, 6) AS score FROM sco
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin,
    // deterministic IVF: the oracle replays assignment (argmax block sum =
    // argmin ‖v−c‖² for equal-norm axis-block centroids), centroid ranking
    // (query block sums desc, block index tie-break), the nprobe=3 prune,
    // and the probed exact top-15 — the whole pipeline, not just the scan
    "c8_ann_ivf_det" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT CAST(block AS INT) AS cl FROM (
        |   SELECT unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb)
        |   ORDER BY bs DESC, block ASC LIMIT 3),
        |bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM embeddings WHERE vec_id <> 0),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |sc AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score_raw
        |  FROM cl WHERE cluster IN (SELECT cl FROM pr))
        |SELECT vec_id, round(score_raw, 6) AS score FROM sc
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin,
    // c8_ann_ivf_det's oracle VERBATIM: the engine plan probes a lake
    // grown by assign-only appendToLake under the same fixed centroids,
    // and the grown lake must answer exactly like assign-over-everything
    "c8_ann_ivf_append" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT CAST(block AS INT) AS cl FROM (
        |   SELECT unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb)
        |   ORDER BY bs DESC, block ASC LIMIT 3),
        |bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM embeddings WHERE vec_id <> 0),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |sc AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score_raw
        |  FROM cl WHERE cluster IN (SELECT cl FROM pr))
        |SELECT vec_id, round(score_raw, 6) AS score FROM sc
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin,
    "c8_batch_ivf_det" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |qb AS (SELECT qid, qv,
        |  [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT qid, cl FROM (
        |  SELECT qid, CAST(block AS INT) AS cl,
        |    row_number() OVER (PARTITION BY qid ORDER BY bs DESC, block ASC) AS rk
        |  FROM (SELECT qid, unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb))
        |  WHERE rk <= 3),
        |bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM embeddings WHERE vec_id >= 3),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |sc AS (SELECT pr.qid, c.vec_id,
        |  list_sum(list_transform(list_zip(c.embedding, q.qv),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score
        |  FROM cl c JOIN pr ON c.cluster = pr.cl JOIN q ON q.qid = pr.qid),
        |r AS (SELECT qid, vec_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, vec_id) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, vec_id FROM r WHERE rank < 15
        |ORDER BY qid, rank""".stripMargin,
    // IVF_SQ8 composed: c8_ann_ivf_det's deterministic prune CTEs scope
    // c7_sq8_ann's quantized scoring — the reference's serving plan
    // value-checked end to end
    "c8_ann_ivfsq8_det" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT CAST(block AS INT) AS cl FROM (
        |   SELECT unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb)
        |   ORDER BY bs DESC, block ASC LIMIT 3),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM v),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |u AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
        |  FROM cl WHERE cluster IN (SELECT cl FROM pr)),
        |stats AS (SELECT pos, min(x::DOUBLE) AS mn, max(x::DOUBLE) AS mx FROM (
        |  SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM v) GROUP BY pos),
        |w AS (SELECT pos, mn, greatest((mx - mn) / 255.0, 1e-12) AS sc,
        |    greatest((mx - mn) / 255.0, 1e-12) * (SELECT qv FROM q)[pos]::DOUBLE AS wq,
        |    mn * (SELECT qv FROM q)[pos]::DOUBLE AS bq FROM stats),
        |b AS (SELECT list_sum(list(bq ORDER BY pos)) AS bias FROM w),
        |terms AS (SELECT u.vec_id, u.pos,
        |    least(255, greatest(0, CAST(floor((u.x::DOUBLE - w.mn) / w.sc + 0.5) AS BIGINT))) * w.wq AS t
        |  FROM u JOIN w USING (pos)),
        |sco AS (SELECT vec_id, list_sum(list(t ORDER BY pos)) + (SELECT bias FROM b) AS score_raw
        |  FROM terms GROUP BY vec_id)
        |SELECT vec_id, round(score_raw, 6) AS score FROM sco
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin,
    // IVF_PQ composed, deterministic grid codebooks: the oracle rebuilds
    // the per-subspace level grid (min/max of subvector means over the
    // FULL fit set), replays encodeVec's argmin (sequential squared-diff
    // fold, first-wins tie via ORDER BY dd, c), the IVF nprobe=3 prune,
    // and byte_lut_sum's ADC sum (per-subspace level·q fold, then the
    // j-ordered outer fold) — every fold in the engine's order
    "c8_ann_ivfpq_det" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT CAST(block AS INT) AS cl FROM (
        |   SELECT unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb)
        |   ORDER BY bs DESC, block ASC LIMIT 3),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |bs AS (SELECT vec_id,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM v),
        |keep AS (SELECT vec_id FROM (
        |   SELECT vec_id, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs)
        |   WHERE cluster IN (SELECT cl FROM pr)),
        |sub AS (SELECT vec_id, j, list_slice(embedding, j*8+1, j*8+8) AS sv
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) js),
        |mu AS (SELECT vec_id, j,
        |  list_sum(list_transform(sv, x -> x::DOUBLE)) / 8.0 AS mean FROM sub),
        |st AS (SELECT j, min(mean) AS mn, max(mean) AS mx FROM mu GROUP BY j),
        |lv AS (SELECT j, c, mn + (c * (mx - mn)) / 15.0 AS level
        |  FROM st CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS c) cs),
        |dist AS (SELECT s2.vec_id, s2.j, l.c, l.level,
        |  list_sum(list_transform(s2.sv, x -> (x::DOUBLE - l.level) * (x::DOUBLE - l.level))) AS dd
        |  FROM sub s2 JOIN keep USING (vec_id) JOIN lv l USING (j)),
        |codes AS (SELECT vec_id, j, level FROM (
        |   SELECT vec_id, j, level, row_number() OVER (PARTITION BY vec_id, j ORDER BY dd ASC, c ASC) AS rn
        |   FROM dist) WHERE rn = 1),
        |lutv AS (SELECT c2.vec_id, c2.j,
        |  list_sum(list_transform(list_slice((SELECT qv FROM q), c2.j*8+1, c2.j*8+8),
        |    x -> c2.level * x::DOUBLE)) AS t
        |  FROM codes c2),
        |sco AS (SELECT vec_id, list_sum(list(t ORDER BY j)) AS score_raw
        |  FROM lutv GROUP BY vec_id)
        |SELECT vec_id, round(score_raw, 6) AS score FROM sco
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin,
    "c8_ann_cos" ->
      """WITH q AS (SELECT embedding AS qv,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS qn
        |  FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE
        |    / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE)
        |       * (SELECT qn FROM q)) AS score_raw
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, round(score_raw, 6) AS score FROM s
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin,
    "c8_batch_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |s AS (SELECT q.qid, e.vec_id,
        |  list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
        |r AS (SELECT qid, vec_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, vec_id) - 1 AS BIGINT) AS rank
        |  FROM s)
        |SELECT qid, rank, vec_id FROM r WHERE rank < 15
        |ORDER BY qid, rank""".stripMargin,
    "q1_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "j1_join_revenue" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "j2_json_extract" ->
      """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w1_time_window" ->
      """SELECT date_trunc('hour', ts) AS w, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // w1's batch answer restricted to the windows the stream's final
    // watermark (max ts − 10 min) closed — append mode emits exactly those.
    "w1s_stream_window" ->
      """SELECT date_trunc('hour', ts) AS w, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY 1, 2""".stripMargin,
    // the oracle re-derives the epoch-aligned hop indexes: an event at tus
    // is in hop k iff k·hop > tus − len and k·hop ≤ tus
    // w3's hop assignment restricted to watermark-closed windows (end <=
    // max ts - 10 min) — the windows append mode emitted exactly once
    "w3s_stream_sliding" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tus FROM events),
        |h AS (SELECT event_type, unnest(generate_series(
        |        (tus - 1800000000) // 600000000 + 1,
        |        tus // 600000000)) AS k FROM e)
        |SELECT make_timestamp(k * 600000000) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM h
        |WHERE make_timestamp(k * 600000000) + INTERVAL 30 MINUTE
        |  <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "w3_sliding_window" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tus FROM events),
        |h AS (SELECT event_type, unnest(generate_series(
        |        (tus - 1800000000) // 600000000 + 1,
        |        tus // 600000000)) AS k FROM e)
        |SELECT make_timestamp(k * 600000000) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM h GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q3_profile" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS mean_value,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // 5-gram contamination: corpus shingle hash60s joined against the
    // distinct benchmark shingle hash60s (benchmark = every 10th doc)
    // e9c: the row-local gate's CLEAN set = corpus minus e9's contaminated
    // set (same shingle/hash construction, anti-joined)
    "e9c_clean_gate" ->
      """WITH ct AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 <> 0),
        |cs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-4),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s FROM ct),
        |ch AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM cs),
        |bt AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
        |bs AS (SELECT unnest(list_transform(generate_series(1, len(w)-4),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s FROM bt),
        |bh AS (SELECT DISTINCT ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM bs),
        |bad AS (SELECT DISTINCT ch.doc_id FROM ch JOIN bh ON ch.h = bh.h)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    // e9b (bloom path) shares e9's EXACT oracle text: hash-equality is the
    // claim that the bloom form loses nothing at gate sizing
    "e9b_contamination_bloom" ->
      """WITH ct AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 <> 0),
        |cs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-4),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s FROM ct),
        |ch AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM cs),
        |bt AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
        |bs AS (SELECT unnest(list_transform(generate_series(1, len(w)-4),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s FROM bt),
        |bh AS (SELECT DISTINCT ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM bs)
        |SELECT ch.doc_id, CAST(count(DISTINCT ch.h) AS BIGINT) AS n_shingles
        |FROM ch JOIN bh ON ch.h = bh.h
        |GROUP BY ch.doc_id ORDER BY doc_id""".stripMargin,
    "e9_contamination" ->
      """WITH ct AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 <> 0),
        |cs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-4),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s FROM ct),
        |ch AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM cs),
        |bt AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
        |bs AS (SELECT unnest(list_transform(generate_series(1, len(w)-4),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s FROM bt),
        |bh AS (SELECT DISTINCT ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM bs)
        |SELECT ch.doc_id, CAST(count(DISTINCT ch.h) AS BIGINT) AS n_shingles
        |FROM ch JOIN bh ON ch.h = bh.h
        |GROUP BY ch.doc_id ORDER BY doc_id""".stripMargin,
    // gaps-and-islands sessionization; >= matches Spark's exclusive
    // session end (an event exactly gap after the last opens a new one)
    "w2_session_window" ->
      """WITH x AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
        |y AS (SELECT user_id, ts,
        |  CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM x),
        |z AS (SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM y)
        |SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM z GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // w2's batch sessions restricted to those the stream's final watermark
    // closed (session end = last event + 30-min gap; watermark = max ts −
    // 10 min) — append mode emits exactly those.
    "w2s_stream_session" ->
      """WITH x AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
        |y AS (SELECT user_id, ts,
        |  CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM x),
        |z AS (SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM y)
        |SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM z GROUP BY user_id, sid
        |HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    "e1_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "e12_priority_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'src' || CAST(doc_id % 7 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0),
        |ranked AS (
        |  SELECT doc_id, source, text,
        |    row_number() OVER (PARTITION BY text
        |      ORDER BY CAST(substring(source, 4) AS INT), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY text) AS nd
        |  FROM corpus)
        |SELECT doc_id, source, CAST(nd AS BIGINT) AS n_dups
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "e6_topk_per_group" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "e6_topk_heap_agg" ->
      """SELECT o_orderpriority, CAST(rn - 1 AS INT) AS pos, o_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, pos""".stripMargin,
    "e7_exact_distinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "j3_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'click'),
        |e AS (SELECT event_id AS err_id, user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'error')
        |SELECT c.event_id, e.err_id AS asof_err_id
        |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND e.tus <= c.tus
        |ORDER BY c.event_id""".stripMargin,
    "j4_range_join" ->
      """SELECT a.event_id AS e1, b.event_id AS e2,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        |  ON abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 60000000
        | AND a.event_id < b.event_id AND a.user_id <> b.user_id
        |ORDER BY e1, e2""".stripMargin,
    "j5_interval_join" ->
      """SELECT p.event_id AS pe, a.event_id AS ie,
        |       epoch_us(p.ts) - epoch_us(a.ts) AS off_us
        |FROM events p JOIN events a
        |  ON a.event_id % 199 = 0
        | AND epoch_us(p.ts) >= epoch_us(a.ts)
        | AND epoch_us(p.ts) < epoch_us(a.ts) + 1800000000
        |ORDER BY pe, ie""".stripMargin,
    // Layout must not change answers: the bucketed tables' join reads the
    // same rows the flat parquet join would.
    "j6_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q2_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q5_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "m1_shard_manifest" ->
      """SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  bit_xor(('0x' || substring(md5(text), 1, 15))::BIGINT) AS fp
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "m3_corpus_diff" ->
      """WITH b AS (SELECT doc_id, md5(concat_ws(chr(31),
        |    CASE WHEN text IS NULL THEN '0' ELSE '1' || text END,
        |    CASE WHEN source IS NULL THEN '0' ELSE '1' || source END)) AS h FROM documents),
        |a0 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text, source
        |  FROM documents WHERE doc_id % 17 <> 0),
        |a1 AS (SELECT doc_id + 1000000 AS doc_id, text, source FROM documents WHERE doc_id % 19 = 0),
        |a AS (SELECT doc_id, md5(concat_ws(chr(31),
        |    CASE WHEN text IS NULL THEN '0' ELSE '1' || text END,
        |    CASE WHEN source IS NULL THEN '0' ELSE '1' || source END)) AS h
        |  FROM (SELECT * FROM a0 UNION ALL SELECT * FROM a1)),
        |d AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN b.h <> a.h THEN 'changed' END AS status
        |  FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
        |SELECT doc_id, status FROM d WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,
    // the changelog construction replayed, then last-writer-wins as a
    // seq-desc window ((key, seq) is unique by the batch arms' priorities),
    // then anti-join + union — the same merge shape as the engine
    "m4_cdc_apply" ->
      """WITH ch AS (
        |  SELECT doc_id, 1 AS seq, 'D' AS op,
        |    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, 'U', text || ' u1', source
        |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 23 <> 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'I', text || ' back', source
        |  FROM documents WHERE doc_id % 46 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL, NULL
        |  FROM documents WHERE doc_id % 33 = 0 AND doc_id % 46 <> 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 2, 'I', text || ' new', source
        |  FROM documents WHERE doc_id % 29 = 0),
        |lat AS (SELECT doc_id, op, text, source FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |  FROM ch) WHERE rn = 1),
        |keep AS (SELECT d.doc_id, d.text, d.source FROM documents d
        |  LEFT JOIN lat ON d.doc_id = lat.doc_id WHERE lat.doc_id IS NULL),
        |ups AS (SELECT doc_id, text, source FROM lat WHERE op <> 'D')
        |SELECT doc_id, text, source
        |FROM (SELECT * FROM keep UNION ALL SELECT * FROM ups)
        |ORDER BY doc_id""".stripMargin,
    // the seq<=1 prefix of m4's changelog: batch 1 is one row per key, so
    // last-writer-wins is the batch itself — batch 2 must be invisible
    "m7_time_travel" ->
      """WITH lat AS (
        |  SELECT doc_id, 'D' AS op,
        |    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id, 'U', text || ' u1', source
        |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 23 <> 0),
        |keep AS (SELECT d.doc_id, d.text, d.source FROM documents d
        |  LEFT JOIN lat ON d.doc_id = lat.doc_id WHERE lat.doc_id IS NULL),
        |ups AS (SELECT doc_id, text, source FROM lat WHERE op <> 'D')
        |SELECT doc_id, text, source
        |FROM (SELECT * FROM keep UNION ALL SELECT * FROM ups)
        |ORDER BY doc_id""".stripMargin,
    // the same shift/mask interleave as the engine, folded over the bit
    // positions; disjoint OR terms sum without carries, so + replays |
    "m5_zvalue" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(0, 9), i ->
        |    ((((doc_id % 1024) >> i) & 1) << (2*i)) +
        |    ((((n_chars % 1024) >> i) & 1) << (2*i + 1))
        |  )) AS BIGINT) AS z
        |FROM documents ORDER BY doc_id""".stripMargin,
    // z-curve layout + 2-D manifest planning lose no rows vs the plain box
    "m6_zorder_box" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 100 AND 2600 AND n_chars BETWEEN 200 AND 400
        |ORDER BY doc_id""".stripMargin,
    // manifest-planned file skipping loses no rows vs the plain predicate
    "m2_manifest_range" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 100 AND 260 ORDER BY doc_id""".stripMargin,
    "q6_null_profile" ->
      """SELECT col_name, n_null, n_distinct FROM (
        |  SELECT 'user_id' AS col_name, CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct FROM events
        |  UNION ALL
        |  SELECT 'event_type', CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'value', CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(DISTINCT value) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'props', CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(DISTINCT props) AS BIGINT) FROM events)
        |ORDER BY col_name""".stripMargin,
    // chunking: windows of 50 tokens every 40 — w[s+1 : s+50] in DuckDB's
    // inclusive-slice notation equals Spark's slice(w, s+1, 50)
    "t9_doc_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 40)) AS s FROM toks WHERE len(w) > 0)
        |SELECT doc_id, CAST(s / 40 AS BIGINT) AS chunk_id,
        |  array_to_string(w[s + 1 : least(s + 50, len(w))], ' ') AS chunk_text,
        |  CAST(least(50, len(w) - s) AS BIGINT) AS n_tok
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "r1_retrieval_topk" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 40)) AS s FROM toks WHERE len(w) > 0),
        |ch AS (SELECT doc_id * 100000 + CAST(s / 40 AS BIGINT) AS cid,
        |  w[s + 1 : least(s + 50, len(w))] AS ct FROM st),
        |tok AS (SELECT cid, unnest(ct) AS t FROM ch),
        |bs AS (SELECT cid, hv % 64 AS b,
        |  CASE WHEN (hv // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM (SELECT cid, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok)),
        |sums AS (SELECT cid, b, sum(sgn) AS v FROM bs GROUP BY cid, b),
        |grid AS (SELECT c.cid, r.j FROM (SELECT DISTINCT cid FROM ch) c
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) r),
        |emb AS (SELECT g.cid, list(coalesce(s.v, 0.0) ORDER BY g.j) AS e
        |  FROM grid g LEFT JOIN sums s ON s.cid = g.cid AND s.b = g.j GROUP BY g.cid),
        |en AS (SELECT cid, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nrm FROM emb),
        |sc AS (SELECT q.cid AS qid, b.cid,
        |  CASE WHEN b.nrm > 0 AND q.nrm > 0 THEN
        |    list_sum(list_transform(list_zip(b.e, q.e), x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE
        |      / (b.nrm * q.nrm)
        |  ELSE 0.0 END AS score
        |  FROM (SELECT * FROM en WHERE cid >= 300000) b
        |  CROSS JOIN (SELECT * FROM en WHERE cid < 300000) q),
        |r AS (SELECT qid, cid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, cid) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, cid FROM r WHERE rank < 5 ORDER BY qid, rank""".stripMargin,
    // r2 replays r1's embedding CTEs, then the IVF machinery in SQL. The
    // axis-block centroids share one norm (sqrt 8), so the engine's cosine
    // centroid rank c·q/‖c‖ orders — and ties — exactly like the raw block
    // sum: the probe window needs no norm division.
    "r2_retrieval_ivf" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 40)) AS s FROM toks WHERE len(w) > 0),
        |ch AS (SELECT doc_id * 100000 + CAST(s / 40 AS BIGINT) AS cid,
        |  w[s + 1 : least(s + 50, len(w))] AS ct FROM st),
        |tok AS (SELECT cid, unnest(ct) AS t FROM ch),
        |bsg AS (SELECT cid, hv % 64 AS b,
        |  CASE WHEN (hv // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM (SELECT cid, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok)),
        |sums AS (SELECT cid, b, sum(sgn) AS v FROM bsg GROUP BY cid, b),
        |grid AS (SELECT c.cid, r.j FROM (SELECT DISTINCT cid FROM ch) c
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) r),
        |emb AS (SELECT g.cid, list(coalesce(s.v, 0.0) ORDER BY g.j) AS e
        |  FROM grid g LEFT JOIN sums s ON s.cid = g.cid AND s.b = g.j GROUP BY g.cid),
        |en AS (SELECT cid, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nrm,
        |  [list_sum(list_transform(e[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[57:64], x -> x::DOUBLE))] AS s FROM emb),
        |pr AS (SELECT qid, cl FROM (
        |  SELECT cid AS qid, CAST(block AS INT) AS cl,
        |    row_number() OVER (PARTITION BY cid ORDER BY bs DESC, block ASC) AS rk
        |  FROM (SELECT cid, unnest(s) AS bs, unnest(generate_series(0, 7)) AS block
        |        FROM en WHERE cid < 300000))
        |  WHERE rk <= 3),
        |cl AS (SELECT cid, e, nrm, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster
        |  FROM en WHERE cid >= 300000),
        |sc AS (SELECT pr.qid, c.cid,
        |  CASE WHEN c.nrm > 0 AND q.nrm > 0 THEN
        |    list_sum(list_transform(list_zip(c.e, q.e),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (c.nrm * q.nrm)
        |  ELSE 0.0 END AS score
        |  FROM cl c JOIN pr ON c.cluster = pr.cl JOIN en q ON q.cid = pr.qid),
        |r AS (SELECT qid, cid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, cid) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, cid FROM r WHERE rank < 5 ORDER BY qid, rank""".stripMargin,
    // BM25 replayed step by step: postings/df/length stats, Lucene idf,
    // the (1.2+1.0) sum left unfolded so both engines round it identically,
    // the tfn quotient parenthesized exactly like the engine's column tree,
    // term-ordered sequential fold, 1e-6 rounding, (score DESC, id) window
    "r3_bm25_topk" ->
      """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id >= 3),
        |q AS (SELECT doc_id AS qid, string_split(text, ' ') AS w FROM documents WHERE doc_id < 3),
        |post AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM corpus) GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(w) AS dl FROM corpus),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE / count(*) AS avgdl FROM corpus),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid, unnest(w) AS term FROM q)),
        |cand AS (SELECT qt.qid, p.doc_id, p.term,
        |  ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |    ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) AS c
        |  FROM qt JOIN post p ON qt.term = p.term
        |  JOIN dfs ON p.term = dfs.term
        |  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN st),
        |sc AS (SELECT qid, doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
        |  FROM cand GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, score, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, doc_id, score FROM r WHERE rank < 10 ORDER BY qid, rank""".stripMargin,
    // r3's oracle with the deletion folded into the corpus filter: the
    // engine path is fit(full) + tombstoneStore(doc_id ≡ 3 mod 7) +
    // searchIndex over the loaded store, and the tombstoned store must
    // answer exactly like a full refit on the corrected corpus
    "r6_bm25_delete" ->
      """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id >= 3 AND doc_id % 7 <> 3),
        |q AS (SELECT doc_id AS qid, string_split(text, ' ') AS w FROM documents WHERE doc_id < 3),
        |post AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM corpus) GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(w) AS dl FROM corpus),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE / count(*) AS avgdl FROM corpus),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid, unnest(w) AS term FROM q)),
        |cand AS (SELECT qt.qid, p.doc_id, p.term,
        |  ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |    ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) AS c
        |  FROM qt JOIN post p ON qt.term = p.term
        |  JOIN dfs ON p.term = dfs.term
        |  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN st),
        |sc AS (SELECT qid, doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
        |  FROM cand GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, score, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, doc_id, score FROM r WHERE rank < 10 ORDER BY qid, rank""".stripMargin,
    // r3's oracle VERBATIM: the engine path is fit(yesterday) +
    // append(today) + searchIndex, and the merged index must answer
    // exactly like the full recompute this SQL performs
    "r5_bm25_incremental" ->
      """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id >= 3),
        |q AS (SELECT doc_id AS qid, string_split(text, ' ') AS w FROM documents WHERE doc_id < 3),
        |post AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM corpus) GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(w) AS dl FROM corpus),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE / count(*) AS avgdl FROM corpus),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid, unnest(w) AS term FROM q)),
        |cand AS (SELECT qt.qid, p.doc_id, p.term,
        |  ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |    ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) AS c
        |  FROM qt JOIN post p ON qt.term = p.term
        |  JOIN dfs ON p.term = dfs.term
        |  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN st),
        |sc AS (SELECT qid, doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
        |  FROM cand GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, score, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, doc_id, score FROM r WHERE rank < 10 ORDER BY qid, rank""".stripMargin,
    // r3's sparse CTEs (top-20) + the sd2-style doc-grain embedding CTEs
    // under r1's cosine/heap-order window (top-20), fused by RRF: each
    // ranker contributes 1/(60+rank+1), summed in ranker order
    "r4_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |corpus AS (SELECT doc_id, w FROM toks WHERE doc_id >= 3),
        |q AS (SELECT doc_id AS qid, w FROM toks WHERE doc_id < 3),
        |post AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM corpus) GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(w) AS dl FROM corpus),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE / count(*) AS avgdl FROM corpus),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid, unnest(w) AS term FROM q)),
        |cand AS (SELECT qt.qid, p.doc_id, p.term,
        |  ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |    ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) AS c
        |  FROM qt JOIN post p ON qt.term = p.term
        |  JOIN dfs ON p.term = dfs.term
        |  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN st),
        |ssc AS (SELECT qid, doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
        |  FROM cand GROUP BY qid, doc_id),
        |sr AS (SELECT qid, doc_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM ssc),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
        |bsg AS (SELECT doc_id, hv % 64 AS b,
        |  CASE WHEN (hv // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok)),
        |sums AS (SELECT doc_id, b, sum(sgn) AS v FROM bsg GROUP BY doc_id, b),
        |grid AS (SELECT d.doc_id, r.j FROM (SELECT DISTINCT doc_id FROM tok) d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) r),
        |emb AS (SELECT g.doc_id, list(coalesce(s.v, 0.0) ORDER BY g.j) AS e
        |  FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.j GROUP BY g.doc_id),
        |en AS (SELECT doc_id, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nrm FROM emb),
        |dsc AS (SELECT qv.doc_id AS qid, b.doc_id,
        |  CASE WHEN b.nrm > 0 AND qv.nrm > 0 THEN
        |    list_sum(list_transform(list_zip(b.e, qv.e),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (b.nrm * qv.nrm)
        |  ELSE 0.0 END AS score
        |  FROM (SELECT * FROM en WHERE doc_id >= 3) b
        |  CROSS JOIN (SELECT * FROM en WHERE doc_id < 3) qv),
        |dr AS (SELECT qid, doc_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM dsc),
        |u AS (SELECT qid, doc_id, 0 AS src, 1.0 / (60 + rank + 1.0) AS c FROM sr WHERE rank < 20
        |  UNION ALL
        |  SELECT qid, doc_id, 1, 1.0 / (60 + rank + 1.0) FROM dr WHERE rank < 20),
        |f AS (SELECT qid, doc_id, list_sum(list(c ORDER BY src)) AS rrf FROM u GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, rrf, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf DESC, doc_id) - 1 AS BIGINT) AS rank FROM f)
        |SELECT qid, rank, doc_id, rrf FROM r WHERE rank < 10 ORDER BY qid, rank""".stripMargin,
    "b5_positional_zip" ->
      """WITH o AS (SELECT * FROM (SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey) AS INT) AS pos FROM orders) t WHERE pos <= 20),
        |p AS (SELECT * FROM (SELECT p_partkey, CAST(row_number() OVER (ORDER BY p_partkey) AS INT) AS pos FROM part) t WHERE pos <= 20)
        |SELECT o.pos AS pos, o_orderkey, p_partkey FROM o JOIN p ON o.pos = p.pos ORDER BY pos""".stripMargin,
    "e2_minhash_sig" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j)
        |SELECT doc_id, CAST(j AS INT) AS j, minh FROM sig ORDER BY doc_id, j""".stripMargin,
    "e2_minhash_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin,
    // The streaming path computes the SAME sketch/banding as e2 — one
    // oracle text, two execution models (batch plan vs stateful stream).
    "e2s_stream_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin,
    // The incremental path's contract: the FULL batch recompute (e2's
    // sketch text verbatim) restricted to pairs touching the delta slice.
    "e2i_incremental_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
        |WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
        |ORDER BY d1, d2""".stripMargin,
    "e8_dedup_cluster" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea)
        |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // e8b runs a different CC algorithm (alternating-star) over the same
    // pair graph — the oracle closure is identical by construction.
    "e8b_cluster_star" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea)
        |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "e3_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok),
        |bits AS (SELECT doc_id, b, SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS c
        |  FROM h CROSS JOIN generate_series(0, 59) g(b) GROUP BY doc_id, b)
        |SELECT doc_id, CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e3_simhash_near" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok),
        |bits AS (SELECT doc_id, b, SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS c
        |  FROM h CROSS JOIN generate_series(0, 59) g(b) GROUP BY doc_id, b),
        |sims AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS ham
        |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY d1, d2""".stripMargin,
    // the brute force the q-gram blocking must reproduce exactly — DuckDB's
    // levenshtein is the same unit-cost edit distance as Spark's
    "f1_fuzzy_join" ->
      """WITH L AS (SELECT DISTINCT source AS src FROM documents),
        |R AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    substring(source, 1, (doc_id % len(source))) ||
        |    substring(source, (doc_id % len(source)) + 2)
        |  WHEN doc_id % 3 = 1 THEN
        |    substring(source, 1, (doc_id % len(source))) || 'x' ||
        |    substring(source, (doc_id % len(source)) + 2)
        |  ELSE source || 'q' END AS cand
        |  FROM documents)
        |SELECT l.src, r.doc_id, r.cand,
        |  CAST(levenshtein(l.src, r.cand) AS BIGINT) AS dist
        |FROM L l JOIN R r ON levenshtein(l.src, r.cand) <= 1
        |ORDER BY doc_id, src""".stripMargin,
    "e4_jaccard_pairs" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM tok a JOIN tok b ON a.t = b.t AND a.lang = b.lang AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, round(i*1.0/(s1.n+s2.n-i), 6) AS jaccard
        |FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
        |WHERE i*1.0/(s1.n+s2.n-i) >= 0.9 ORDER BY d1, d2""".stripMargin,
    // Both Zipf rows share one honest oracle: rebuild the same derived
    // corpus from doc_id, then the FULL (uncapped) exact jaccard self-join —
    // so the capped prefix variant's hash match proves the caps lost nothing.
    "e4c_jaccard_zipf" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(
        |  CASE WHEN doc_id % 5 = 4
        |    THEN 'bg' || (doc_id // 100) || '_x cA cB f1 f2 f3 f4 f5 f6 f7 f8 f9'
        |    ELSE 'g'||(doc_id//2)||'_a g'||(doc_id//2)||'_b g'||(doc_id//2)||'_c g'||(doc_id//2)||'_d g'||(doc_id//2)||'_e g'||(doc_id//2)||'_f g'||(doc_id//2)||'_g g'||(doc_id//2)||'_h g'||(doc_id//2)||'_i g'||(doc_id//2)||'_j zthe'
        |  END, ' ')) AS ts FROM documents),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    len(list_intersect(a.ts, b.ts)) AS i, len(a.ts) AS n1, len(b.ts) AS n2
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT d1, d2, round(i*1.0/(n1+n2-i), 6) AS jaccard
        |FROM p WHERE i*1.0/(n1+n2-i) >= 0.9 ORDER BY d1, d2""".stripMargin,
    "e4d_jaccard_zipf_exact" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(
        |  CASE WHEN doc_id % 5 = 4
        |    THEN 'bg' || (doc_id // 100) || '_x cA cB f1 f2 f3 f4 f5 f6 f7 f8 f9'
        |    ELSE 'g'||(doc_id//2)||'_a g'||(doc_id//2)||'_b g'||(doc_id//2)||'_c g'||(doc_id//2)||'_d g'||(doc_id//2)||'_e g'||(doc_id//2)||'_f g'||(doc_id//2)||'_g g'||(doc_id//2)||'_h g'||(doc_id//2)||'_i g'||(doc_id//2)||'_j zthe'
        |  END, ' ')) AS ts FROM documents),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    len(list_intersect(a.ts, b.ts)) AS i, len(a.ts) AS n1, len(b.ts) AS n2
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT d1, d2, round(i*1.0/(n1+n2-i), 6) AS jaccard
        |FROM p WHERE i*1.0/(n1+n2-i) >= 0.9 ORDER BY d1, d2""".stripMargin,
    "e5_cosine_pairs" ->
      """WITH n AS (SELECT vec_id, label, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nn FROM embeddings)
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  round(list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (a.nn * b.nn), 6) AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (a.nn * b.nn) > 0.3
        |ORDER BY v1, v2""".stripMargin,
    // the oracle recomputes the deterministic block-sum clustering, the
    // within-cluster cosine pairs, and the duplicate-group closure
    "sd2_semantic_text" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 1000),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
        |bsg AS (SELECT doc_id, hv % 64 AS b,
        |  CASE WHEN (hv // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok)),
        |sums AS (SELECT doc_id, b, sum(sgn) AS v FROM bsg GROUP BY doc_id, b),
        |-- grid keys come from tok (post-unnest), not toks: a null-text doc
        |-- has no tokens and docEmbed emits NO row for it, not a zero vector
        |grid AS (SELECT d.doc_id, r.j FROM (SELECT DISTINCT doc_id FROM tok) d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) r),
        |emb AS (SELECT g.doc_id, list(coalesce(s.v, 0.0) ORDER BY g.j) AS e
        |  FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.j GROUP BY g.doc_id),
        |bs2 AS (SELECT doc_id, e,
        |  [list_sum(list_transform(e[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[57:64], x -> x::DOUBLE))] AS s FROM emb),
        |cl AS (SELECT doc_id, e, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs2),
        |n AS (SELECT doc_id, cluster, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nn FROM cl),
        |p AS (SELECT a.doc_id AS v1, b.doc_id AS v2 FROM n a JOIN n b
        |  ON a.cluster = b.cluster AND a.doc_id < b.doc_id
        |  WHERE list_sum(list_transform(list_zip(a.e, b.e),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (a.nn * b.nn) > 0.95),
        |edges AS (SELECT v1 AS ea, v2 AS eb FROM p UNION ALL SELECT v2, v1 FROM p),
        |reach(a, b) AS (SELECT doc_id, doc_id FROM toks UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
        |rp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep FROM reach GROUP BY a)
        |SELECT c.doc_id, c.cluster, rp.rep, (rp.rep = c.doc_id) AS kept
        |FROM cl c JOIN rp ON c.doc_id = rp.doc_id ORDER BY c.doc_id""".stripMargin,
    "sd1_semantic_dedup" ->
      """WITH RECURSIVE bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM embeddings),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |n AS (SELECT vec_id, cluster, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nn FROM cl),
        |p AS (SELECT a.vec_id AS v1, b.vec_id AS v2 FROM n a JOIN n b
        |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (a.nn * b.nn) > 0.3),
        |edges AS (SELECT v1 AS ea, v2 AS eb FROM p UNION ALL SELECT v2, v1 FROM p),
        |reach(a, b) AS (SELECT vec_id, vec_id FROM embeddings UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
        |rp AS (SELECT a AS vec_id, CAST(min(b) AS BIGINT) AS rep FROM reach GROUP BY a)
        |SELECT c.vec_id, c.cluster, rp.rep, (rp.rep = c.vec_id) AS kept
        |FROM cl c JOIN rp ON c.vec_id = rp.vec_id ORDER BY c.vec_id""".stripMargin,
    // the oracle re-synthesizes the same URLs and re-runs the identical
    // RE2-subset regexes + md5-draw-ranked window
    "u1_domain_cap" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||
        |  'u' || CAST(doc_id % 7 AS VARCHAR) || '.site' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END) ||
        |  '/page/' || CAST(doc_id AS VARCHAR) || '?ref=' || source AS url FROM documents),
        |h AS (SELECT doc_id,
        |  regexp_extract(regexp_replace(regexp_extract(url, '^[a-z]+://([^/?]+)', 1), '^www\.', ''), '([^.]+\.[^.]+)$', 1) AS domain FROM u),
        |r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk FROM h)
        |SELECT doc_id, domain, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5 ORDER BY doc_id""".stripMargin,
    // the oracle rebuilds the same distinct (doc, 8-token-passage-hash60)
    // set and counts passages whose document frequency is >= 2
    "e10_passage_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS s
        |  FROM toks WHERE len(w) >= 8)),
        |dfq AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
        |sj AS (SELECT sh.doc_id, count(*) AS n_shared FROM sh JOIN dfq ON sh.h = dfq.h
        |       WHERE dfq.df >= 2 GROUP BY sh.doc_id)
        |SELECT d.doc_id, CAST(coalesce(sj.n_shared, 0) AS BIGINT) AS n_shared
        |FROM documents d LEFT JOIN sj ON d.doc_id = sj.doc_id ORDER BY d.doc_id""".stripMargin,
    "t1_langid" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu','mit'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(w, t -> t IN ('el','la','de','y','es','un','en','que'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(w, t -> t IN ('le','la','de','et','est','un','en','que'))) AS BIGINT) AS s_fr
        |  FROM s)
        |SELECT doc_id, s_en, s_de, s_es, s_fr,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred
        |FROM c ORDER BY doc_id""".stripMargin,
    // t1's langid CASE + t2's quality formula + e1's dedup, composed
    "p1_corpus_clean" ->
      """WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np FROM documents),
        |c AS (SELECT doc_id, text,
        |  len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
        |  len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu','mit'))) AS s_de,
        |  len(list_filter(w, t -> t IN ('el','la','de','y','es','un','en','que'))) AS s_es,
        |  len(list_filter(w, t -> t IN ('le','la','de','et','est','un','en','que'))) AS s_fr,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  np::DOUBLE / greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)::DOUBLE / greatest(len(w)::DOUBLE, 1.0) AS sw_ratio
        |  FROM s),
        |q AS (SELECT doc_id, text,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred,
        |  round(((CASE WHEN n_tokens::DOUBLE >= 5 AND n_tokens::DOUBLE <= 2000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |    + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
        |  FROM c)
        |SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_count, min(quality) AS quality
        |FROM q WHERE pred = 'en' AND quality >= 0.5
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    // p1's langid+quality filter CTEs + e2's minhash sketch + e8's
    // recursive-CTE transitive closure, composed: one representative
    // (min doc_id) per near-dup cluster of the clean-English slice
    "p2_corpus_dedup" ->
      """WITH RECURSIVE s AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np FROM documents),
        |c AS (SELECT doc_id, text,
        |  len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
        |  len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu','mit'))) AS s_de,
        |  len(list_filter(w, t -> t IN ('el','la','de','y','es','un','en','que'))) AS s_es,
        |  len(list_filter(w, t -> t IN ('le','la','de','et','est','un','en','que'))) AS s_fr,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  np::DOUBLE / greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)::DOUBLE / greatest(len(w)::DOUBLE, 1.0) AS sw_ratio
        |  FROM s),
        |q AS (SELECT doc_id, text,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred,
        |  round(((CASE WHEN n_tokens::DOUBLE >= 5 AND n_tokens::DOUBLE <= 2000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |    + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
        |  FROM c),
        |clean AS (SELECT doc_id, text FROM q WHERE pred = 'en' AND quality >= 0.5),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM clean),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM clean
        |  UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)
        |SELECT CAST(cluster AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS cluster_size
        |FROM cl GROUP BY cluster ORDER BY doc_id""".stripMargin,
    "t2_quality" ->
      """WITH b AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  np::DOUBLE / greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)::DOUBLE / greatest(len(w)::DOUBLE, 1.0) AS sw_ratio
        |  FROM b)
        |SELECT doc_id, n_tokens, round(punct_ratio, 6) AS punct_ratio, round(sw_ratio, 6) AS stopword_ratio,
        |  round(((CASE WHEN n_tokens::DOUBLE >= 5 AND n_tokens::DOUBLE <= 2000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |    + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
        |FROM c ORDER BY doc_id""".stripMargin,
    // the oracle rebuilds the deterministic model inline (weight = pure
    // integer function of the md5 bucket) and folds token weights in list
    // order — the same sequential double sum as the engine's HOF aggregate
    "t11_quality_model" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  round(-0.05 + list_sum(list_transform(w, t ->
        |    ((((('0x' || substring(md5(t), 1, 8))::BIGINT % 512) * 2654435761) % 1000003) / 1000003.0) - 0.5))
        |    / greatest(len(w)::DOUBLE, 1.0), 6) AS q_logit
        |  FROM toks)
        |SELECT doc_id, n_tokens, q_logit, CAST(q_logit >= 0.0 AS INT) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    "t3_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |h AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS hv FROM sh),
        |r AS (SELECT doc_id, hv, row_number() OVER (PARTITION BY doc_id ORDER BY hv) AS rn FROM h)
        |SELECT doc_id, max(CASE WHEN rn=1 THEN hv END) AS f1, max(CASE WHEN rn=2 THEN hv END) AS f2,
        |  max(CASE WHEN rn=3 THEN hv END) AS f3, max(CASE WHEN rn=4 THEN hv END) AS f4
        |FROM r WHERE rn <= 4 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t5_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) >= 2 THEN list_transform(list_zip(toks[1:len(toks)-1], toks[2:]), s -> s[1] || ' ' || s[2]) ELSE [] END AS g2,
        |  CASE WHEN len(toks) >= 3 THEN list_transform(list_zip(toks[1:len(toks)-2], toks[2:len(toks)-1], toks[3:]), s -> s[1] || ' ' || s[2] || ' ' || s[3]) ELSE [] END AS g3
        |  FROM t)
        |SELECT doc_id,
        |  round(CASE WHEN len(toks) = 0 THEN 0 ELSE 1.0 - len(list_distinct(toks))::DOUBLE / len(toks) END, 6) AS dup_token_frac,
        |  round(CASE WHEN len(g2) = 0 THEN 0 ELSE list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x))))::DOUBLE / len(g2) END, 6) AS top2gram_frac,
        |  round(CASE WHEN len(g3) = 0 THEN 0 ELSE list_max(list_transform(list_distinct(g3), x -> len(list_filter(g3, y -> y = x))))::DOUBLE / len(g3) END, 6) AS top3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    // the oracle re-runs the engine's deterministic draw from scratch:
    // md5's hex form is engine-independent, so the SAME rows must fall out
    "s1_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE lang WHEN 'en' THEN '80000000' WHEN 'zh' THEN '4ccccccd' ELSE '1999999a' END
        |ORDER BY doc_id""".stripMargin,
    // the ranked-window replay of the fixed-k draw: same md5 order key,
    // same doc_id tie-break, rank <= k per language stratum
    "s9_fixed_k_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY doc_id""".stripMargin,
    "s2_token_budget" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY draw, doc_id) AS cum FROM d)
        |SELECT doc_id, lang, n_tok FROM c
        |WHERE cum <= CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 1000 ELSE 500 END
        |ORDER BY doc_id""".stripMargin,
    // s10 composes t15's BPE count replay (replace-chain merge apply over
    // distinct words, whitespace split) with s2's per-language cumulative
    // prefix cut — the budget unit swaps from whitespace to model tokens
    "s10_bpe_token_budget" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |cw AS (SELECT doc_id, word FROM w WHERE len(word) > 0),
        |wf AS (SELECT DISTINCT word FROM cw),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |n AS (SELECT word,
        |  CAST(len(string_split(rtrim(s, chr(31)), chr(31))) AS BIGINT) AS n
        |  FROM seg),
        |bt AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok
        |  FROM cw JOIN n USING (word) GROUP BY doc_id),
        |d AS (SELECT doc_id, lang, COALESCE(bt.n_tok, 0) AS n_tok,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents LEFT JOIN bt USING (doc_id)),
        |c AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY draw, doc_id) AS cum FROM d)
        |SELECT doc_id, lang, n_tok FROM c
        |WHERE cum <= CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 1000 ELSE 500 END
        |ORDER BY doc_id""".stripMargin,
    // achievable/budgets recomputed in SQL with the same double division +
    // floor the engine uses; shares forced to DOUBLE (a bare 0.5 in VALUES
    // would be DECIMAL and round differently)
    "s4_mixture_budget" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |tot AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS t FROM d GROUP BY lang),
        |shr AS (SELECT * FROM (VALUES
        |    ('en', 0.5::DOUBLE), ('zh', 0.2::DOUBLE), ('de', 0.15::DOUBLE),
        |    ('es', 0.1::DOUBLE), ('fr', 0.05::DOUBLE)) s(lang, share)),
        |ach AS (SELECT least(30000, CAST(min(floor(t / share)) AS BIGINT)) AS a
        |  FROM tot JOIN shr USING (lang)),
        |b AS (SELECT shr.lang, CAST(floor(share * a) AS BIGINT) AS budget FROM shr, ach),
        |c AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY draw, doc_id) AS cum FROM d)
        |SELECT doc_id, lang, n_tok FROM c JOIN b USING (lang)
        |WHERE cum <= budget ORDER BY doc_id""".stripMargin,
    // upsample replayed: per-source (floor, frac-threshold) literals —
    // thresholdHex(0.5)=80000000, (0.25)=40000000, integer/zero fracs
    // never draw — the seeded "epoch|id" md5 cut, and the copy explode
    "s7_epoch_mix" ->
      """WITH c AS (SELECT doc_id, source,
        |  (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 3
        |     WHEN 'src2' THEN 0 WHEN 'src3' THEN 0 ELSE 1 END)
        |  + (CASE WHEN substring(md5('epoch|' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |       (CASE source WHEN 'src0' THEN '80000000'
        |          WHEN 'src2' THEN '40000000' ELSE '00000000' END)
        |     THEN 1 ELSE 0 END) AS copies
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
        |FROM c WHERE copies > 0 ORDER BY doc_id, epoch""".stripMargin,
    // every float step of temperatureMix replayed: sqrt weights (IEEE
    // correctly rounded, unlike pow — why the engine routes alpha=0.5
    // through sqrt), the lang-ORDERED sequential weight fold, the capacity
    // min, and the floor(x+0.5) 32-bit draw cut; the rate>=1 arm mirrors
    // thresholdHex's keep-all short-circuit for the saturated stratum
    "s6_temperature_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
        |w AS (SELECT lang, n,
        |  sqrt(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) AS w FROM c, tot),
        |den AS (SELECT list_sum(list(w ORDER BY lang)) AS dn FROM w),
        |q AS (SELECT lang, n, w / dn AS q FROM w, den),
        |cap AS (SELECT least(CAST(3000 AS DOUBLE),
        |  min(CAST(n AS DOUBLE) / q)) AS t FROM q),
        |r AS (SELECT lang, n,
        |  least(CAST(1.0 AS DOUBLE), t * q / CAST(n AS DOUBLE)) AS rate FROM q, cap),
        |thr AS (SELECT lang, rate,
        |  least(CAST(floor(rate * 4294967296.0 + 0.5) AS BIGINT), 4294967295) AS thr
        |  FROM r)
        |SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
        |WHERE rate >= 1.0 OR
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
        |ORDER BY doc_id""".stripMargin,
    // the same md5 order key, ranked by one window (the oracle runs at
    // oracle scale; the engine's rank is the two-pass GlobalRank)
    "s8_shuffle_order" ->
      """WITH k AS (SELECT doc_id,
        |  substring(md5('ep1-' || CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
        |    AS shuffle_rank, doc_id, shuffle_key
        |FROM k ORDER BY shuffle_rank""".stripMargin,
    // the window count over the QI key, then the >= k gate
    "u2_k_anonymity" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    count(*) OVER (PARTITION BY lang, source, n_chars // 100) AS n
        |  FROM documents)
        |WHERE n >= 5 ORDER BY doc_id""".stripMargin,
    // thresholds are thresholdHex(0.9)/(0.95): floor-rounded 32-bit cuts of
    // the unit interval, fixed-width lowercase hex => lexicographic compare
    "s3_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // e8's recursive-CTE cluster oracle feeding s3's md5 cut, keyed on the
    // CLUSTER id — the oracle proves both the labels and the draw key
    "s5_leakfree_split" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
        |cc AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster FROM reach GROUP BY a)
        |SELECT doc_id, cluster,
        |  CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
        |       WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM cc ORDER BY doc_id""".stripMargin,
    "v1_label_centroid" ->
      """WITH u AS (SELECT label,
        |    unnest(embedding) AS val,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings)
        |SELECT label, CAST(pos - 1 AS INT) AS dim,
        |  round(sum(val::DOUBLE) / count(*), 6) AS value,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY label, pos ORDER BY label, dim""".stripMargin,
    "q7_value_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value::DOUBLE, 0.5), 6) AS p50,
        |  round(quantile_cont(value::DOUBLE, 0.9), 6) AS p90,
        |  round(quantile_cont(value::DOUBLE, 0.99), 6) AS p99,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "t10_vocab_topk" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM tok WHERE len(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 200""".stripMargin,
    // t13: the BPE TRAINING LOOP replayed exactly — 8 unrolled
    // iterations of (adjacent-pair counts over the current segmentation
    // → argmax by (count DESC, left, right) → one greedy left-to-right
    // merge pass as a recursive fold walk carrying mergeCol's exact
    // state: fuse when the accumulator's LAST symbol is l and the next
    // is r). All-integer arithmetic and binary string order on both
    // engines, so the learned list hashes (the loop was rows-only since
    // r13; the t29b chaining precedent showed loops CAN sit under the
    // hard signal when every step is engine-portable)
    "t13_bpe_merges" -> duckBpeFitReplay,
    // c7b: the quantized-KMeans loop replay (see duckQuantKmeansReplay)
    "c7b_kmeans_det" -> duckQuantKmeansReplay,
    // BPE training's gate-able iteration: vocabulary-weighted adjacent
    // char-pair counts, top-20 fully ordered (count desc, left, right)
    "t12_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM w WHERE len(word) > 0 GROUP BY word),
        |s AS (SELECT freq, string_split(word, '') AS cs FROM wf WHERE len(word) >= 2),
        |p AS (SELECT cs[i] AS left_sym, cs[i + 1] AS right_sym, freq
        |  FROM s, unnest(generate_series(1, len(cs) - 1)) AS t(i))
        |SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2
        |ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20""".stripMargin,
    // greedy in-order merge chain as delimiter-tracked replaces: every
    // symbol ends with chr(31), so replacing "l<us>r<us>" with "lr<us>"
    // left-to-right non-overlapping is exactly one greedyOnce pass; the
    // chain applies the fixed list in order, then splits on the delimiter
    "t14_bpe_segment" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |tok AS (SELECT word, string_split(rtrim(s, chr(31)), chr(31)) AS toks FROM seg)
        |SELECT word, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
        |FROM tok, unnest(generate_series(1, len(toks))) AS t(i)
        |ORDER BY word, pos""".stripMargin,
    // the rank-skip applier under the SAME oracle text as t14 — one
    // oracle, two engine plans (the e2i/r5 verbatim-reuse precedent)
    "t14a_bpe_segment_scalable" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |tok AS (SELECT word, string_split(rtrim(s, chr(31)), chr(31)) AS toks FROM seg)
        |SELECT word, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
        |FROM tok, unnest(generate_series(1, len(toks))) AS t(i)
        |ORDER BY word, pos""".stripMargin,
    // same replace chain, folded to per-word token counts and joined
    // back to the exploded corpus — t15 = tokenCounts end to end
    "t15_bpe_token_counts" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |cw AS (SELECT doc_id, word FROM w WHERE len(word) > 0),
        |wf AS (SELECT DISTINCT word FROM cw),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |n AS (SELECT word,
        |  CAST(len(string_split(rtrim(s, chr(31)), chr(31))) AS BIGINT) AS n
        |  FROM seg)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS bpe_tokens
        |FROM cw JOIN n USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the LOADED-artifact rows reuse their in-memory rows' oracle text
    // VERBATIM (the e2i/r5 one-oracle-two-plans trick): save -> loadBpe ->
    // apply must answer exactly like the in-memory merge list
    "t14b_bpe_segment_loaded" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |tok AS (SELECT word, string_split(rtrim(s, chr(31)), chr(31)) AS toks FROM seg)
        |SELECT word, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
        |FROM tok, unnest(generate_series(1, len(toks))) AS t(i)
        |ORDER BY word, pos""".stripMargin,
    "t15b_bpe_counts_loaded" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |cw AS (SELECT doc_id, word FROM w WHERE len(word) > 0),
        |wf AS (SELECT DISTINCT word FROM cw),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |n AS (SELECT word,
        |  CAST(len(string_split(rtrim(s, chr(31)), chr(31))) AS BIGINT) AS n
        |  FROM seg)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS bpe_tokens
        |FROM cw JOIN n USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the GPT-2-ish regex replayed through DuckDB's RE2 — the pattern is
    // lookahead-free with an explicit whitespace class so both engines
    // read it identically (single-quoted SQL: backslashes are literal)
    "t16_bpe_pretokenize" ->
      """WITH w AS (SELECT unnest(regexp_extract_all(text,
        |    ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\p{L}\p{N}]+')) AS word FROM documents)
        |SELECT word, CAST(count(*) AS BIGINT) AS freq
        |FROM w WHERE len(word) > 0
        |GROUP BY word ORDER BY word""".stripMargin,
    // t15's count pipeline under the regex discipline: same replace-chain
    // replay, corpus words now regex spans (leading-space tokens included)
    "t17_bpe_pretok_counts" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text,
        |    ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\p{L}\p{N}]+')) AS word FROM documents),
        |cw AS (SELECT doc_id, word FROM w WHERE len(word) > 0),
        |wf AS (SELECT DISTINCT word FROM cw),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |n AS (SELECT word,
        |  CAST(len(string_split(rtrim(s, chr(31)), chr(31))) AS BIGINT) AS n
        |  FROM seg)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS bpe_tokens
        |FROM cw JOIN n USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // byte-level replay: hex the word's UTF-8 bytes, remap each pair
    // through the 256-entry map generated from the engine's OWN table,
    // then the usual delimiter-tracked replace-chain merge replay
    "t18_bpe_byte_level" ->
      (s"""WITH w AS (SELECT unnest(regexp_extract_all(text,
        |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+')) AS word FROM documents),
        |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
        |bs AS (SELECT word, upper(hex(encode(word))) AS h FROM wf),
        |sy AS (SELECT word, list_transform(generate_series(1, length(h)//2),
        |    i -> $duckByteRemap[substr(h, (i-1)*2+1, 2)][1]) AS cs FROM bs),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    array_to_string(list_transform(cs, x -> x || chr(31)), ''),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM sy),
        |tok AS (SELECT word, string_split(rtrim(s, chr(31)), chr(31)) AS toks FROM seg)
        |SELECT word, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
        |FROM tok, unnest(generate_series(1, len(toks))) AS t(i)
        |ORDER BY word, pos""").stripMargin,
    // the export grain: positioned regex spans -> byte remap -> merge
    // replay -> per-doc row_number positions -> vocab-map ids
    "t19_bpe_token_ids" ->
      (s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |w AS (SELECT doc_id, regexp_extract_all(text,
        |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+') AS ws FROM d),
        |wp AS (SELECT doc_id, i AS wpos, ws[i] AS word
        |  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |wf AS (SELECT DISTINCT word FROM wp),
        |bs AS (SELECT word, upper(hex(encode(word))) AS h FROM wf),
        |sy AS (SELECT word, list_transform(generate_series(1, length(h)//2),
        |    i -> $duckByteRemap[substr(h, (i-1)*2+1, 2)][1]) AS cs FROM bs),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    array_to_string(list_transform(cs, x -> x || chr(31)), ''),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM sy),
        |tok AS (SELECT word, string_split(rtrim(s, chr(31)), chr(31)) AS toks FROM seg),
        |tk AS (SELECT word, j AS tpos, toks[j] AS token
        |  FROM tok, unnest(generate_series(1, len(toks))) AS u(j)),
        |jj AS (SELECT wp.doc_id, wp.wpos, tk.tpos, tk.token
        |  FROM wp JOIN tk USING (word))
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
        |  CAST($duckVocabMap[token][1] AS BIGINT) AS token_id
        |FROM jj ORDER BY doc_id, pos""").stripMargin,
    // the round-trip's oracle is the RAW TABLE: under the byte-level
    // alphabet on single-spaced text, encode -> export -> decode is the
    // identity (docs whose text yields no pre-tokens produce no rows)
    "t20_bpe_detokenize" ->
      (s"""SELECT doc_id, text FROM documents
        |WHERE doc_id % 10 = 0 AND len(regexp_extract_all(text,
        |  ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+')) > 0
        |ORDER BY doc_id""").stripMargin,
    // one oracle, three plans (the e2i/r5 trick): t22 scores through the
    // persisted store, t23 through the segment-appended store — both must
    // hash-match this full-recompute replay of t21 verbatim
    "t21_ngram_lm" -> ngramSbOracle,
    "t30_ngram_absdiscount" -> ngramAdOracle,
    "t22_ngram_lm_store" -> ngramSbOracle,
    "t23_ngram_lm_append" -> ngramSbOracle,
    "t24_wordpiece_segment" ->
      (s"""WITH RECURSIVE $duckWpSegmentCtes
        |SELECT word, CAST(j - 1 AS BIGINT) AS pos, toks[j] AS token
        |FROM fin, unnest(generate_series(1, len(toks))) AS u(j)
        |ORDER BY word, pos""").stripMargin,
    // the loaded-artifact plan under the SAME oracle text as t24 — one
    // oracle, two engine plans (the t14b/e2i/r5 verbatim-reuse trick)
    "t24b_wordpiece_loaded" ->
      (s"""WITH RECURSIVE $duckWpSegmentCtes
        |SELECT word, CAST(j - 1 AS BIGINT) AS pos, toks[j] AS token
        |FROM fin, unnest(generate_series(1, len(toks))) AS u(j)
        |ORDER BY word, pos""").stripMargin,
    "t25_wordpiece_counts" ->
      (s"""WITH RECURSIVE $duckWpSegmentCtes,
        |cnt AS (SELECT word, CAST(len(toks) AS BIGINT) AS n FROM fin)
        |SELECT w.doc_id, CAST(SUM(cnt.n) AS BIGINT) AS wp_tokens
        |FROM w JOIN cnt USING (word)
        |GROUP BY w.doc_id ORDER BY w.doc_id""").stripMargin,
    // t27 enumerates every segmentation (branching recursion over the
    // piece table), then argmaxes per word on the same left-to-right
    // double sums the engine's Viterbi computes — sound on short words;
    // words with no terminal state fall to <unk>
    "t27_unigram_segment" ->
      (s"""WITH RECURSIVE
        |w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
        |p AS (SELECT * FROM (VALUES $duckUgPieces) AS t(piece, plen, logp)),
        |rec AS (
        |  SELECT word, CAST(1 AS BIGINT) AS i, '' AS acc,
        |    CAST(0 AS DOUBLE) AS s FROM wf
        |  UNION ALL
        |  SELECT r.word, CAST(r.i + p.plen AS BIGINT),
        |    r.acc || p.piece || chr(31), r.s + p.logp
        |  FROM rec r JOIN p ON substr(r.word, r.i, p.plen) = p.piece
        |  WHERE r.i <= len(r.word)),
        |term AS (SELECT word, acc, s FROM rec WHERE i = len(word) + 1),
        |best AS (SELECT word, acc FROM (SELECT word, acc,
        |    row_number() OVER (PARTITION BY word ORDER BY s DESC, acc) AS rn
        |  FROM term) WHERE rn = 1),
        |fin AS (
        |  SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks FROM best
        |  UNION ALL
        |  SELECT word, ['<unk>'] AS toks FROM wf
        |  WHERE word NOT IN (SELECT word FROM term))
        |SELECT word, CAST(j - 1 AS BIGINT) AS pos, toks[j] AS token
        |FROM fin, unnest(generate_series(1, len(toks))) AS u(j)
        |ORDER BY word, pos""").stripMargin,
    // t32 composes t27's Viterbi-enumeration replay with the generated
    // id table and a doc-partitioned window — the t26 pattern for the
    // third family
    "t32_unigram_ids" ->
      (s"""WITH RECURSIVE
        |w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |wpos AS (SELECT doc_id, i AS wpos, ws[i] AS word
        |  FROM w0, unnest(generate_series(1, len(ws))) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |wf AS (SELECT DISTINCT word FROM wpos),
        |p AS (SELECT * FROM (VALUES $duckUgPieces) AS t(piece, plen, logp)),
        |rec AS (
        |  SELECT word, CAST(1 AS BIGINT) AS i, '' AS acc,
        |    CAST(0 AS DOUBLE) AS s FROM wf
        |  UNION ALL
        |  SELECT r.word, CAST(r.i + p.plen AS BIGINT),
        |    r.acc || p.piece || chr(31), r.s + p.logp
        |  FROM rec r JOIN p ON substr(r.word, r.i, p.plen) = p.piece
        |  WHERE r.i <= len(r.word)),
        |term AS (SELECT word, acc, s FROM rec WHERE i = len(word) + 1),
        |best AS (SELECT word, acc FROM (SELECT word, acc,
        |    row_number() OVER (PARTITION BY word ORDER BY s DESC, acc) AS rn
        |  FROM term) WHERE rn = 1),
        |fin AS (
        |  SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks FROM best
        |  UNION ALL
        |  SELECT word, ['<unk>'] AS toks FROM wf
        |  WHERE word NOT IN (SELECT word FROM term)),
        |tk AS (SELECT word, j AS tpos, toks[j] AS token
        |  FROM fin, unnest(generate_series(1, len(toks))) AS u(j)),
        |ids AS (SELECT * FROM (VALUES $duckUgIds) AS t(token, token_id)),
        |jj AS (SELECT wpos.doc_id, wpos.wpos, tk.tpos, ids.token_id
        |  FROM wpos JOIN tk USING (word) JOIN ids USING (token))
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
        |  CAST(token_id AS BIGINT) AS token_id
        |FROM jj ORDER BY doc_id, pos""").stripMargin,
    // t31 replays the FFBS sampler: prefix masses by enumeration (al),
    // per-state thresholds from the SAME md5 draw ('t31|word|pos', pos =
    // the engine's 1..n position = i-1 here), cumulative candidate
    // weights in ascending-j order (the window sum — exact dyadic, so
    // order is provably irrelevant AND matches the engine's fold), then
    // a recursive backward walk over the min-j picks; uncoverable words
    // fall to <unk> like t27
    "t31_unigram_sample" ->
      (s"""WITH RECURSIVE
        |w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
        |p AS (SELECT * FROM (VALUES $duckUgProbs) AS t(piece, plen, prob)),
        |rec AS (
        |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(1 AS DOUBLE) AS pr FROM wf
        |  UNION ALL
        |  SELECT r.word, CAST(r.i + p.plen AS BIGINT), r.pr * p.prob
        |  FROM rec r JOIN p ON substr(r.word, r.i, p.plen) = p.piece
        |  WHERE r.i <= len(r.word)),
        |al AS (SELECT word, i, sum(pr) AS a FROM rec GROUP BY word, i),
        |cand AS (SELECT a2.word, a2.i, a1.i AS j, a1.a * p.prob AS wgt
        |  FROM al a2
        |  JOIN p ON a2.i - p.plen >= 1
        |  JOIN al a1 ON a1.word = a2.word AND a1.i = a2.i - p.plen
        |  WHERE a2.i > 1 AND substr(a2.word, a1.i, p.plen) = p.piece),
        |cm AS (SELECT word, i, j,
        |    sum(wgt) OVER (PARTITION BY word, i ORDER BY j) AS cum FROM cand),
        |thr AS (SELECT word, i,
        |    CAST(('0x' || substring(md5('t31|' || word || '|' ||
        |      CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
        |      / 1152921504606846976.0 * a AS t
        |  FROM al WHERE i > 1),
        |pick AS (SELECT c.word, c.i, min(c.j) AS j
        |  FROM cm c JOIN thr ON thr.word = c.word AND thr.i = c.i
        |  WHERE c.cum > thr.t GROUP BY c.word, c.i),
        |walk AS (
        |  SELECT word, CAST(len(word) + 1 AS BIGINT) AS i, '' AS acc
        |  FROM wf WHERE EXISTS (SELECT 1 FROM al
        |    WHERE al.word = wf.word AND al.i = len(wf.word) + 1)
        |  UNION ALL
        |  SELECT wk.word, pk.j,
        |    substr(wk.word, pk.j, wk.i - pk.j) || chr(31) || wk.acc
        |  FROM walk wk JOIN pick pk ON pk.word = wk.word AND pk.i = wk.i
        |  WHERE wk.i > 1),
        |fin AS (
        |  SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks
        |  FROM walk WHERE i = 1
        |  UNION ALL
        |  SELECT word, ['<unk>'] AS toks FROM wf
        |  WHERE NOT EXISTS (SELECT 1 FROM al
        |    WHERE al.word = wf.word AND al.i = len(wf.word) + 1))
        |SELECT word, CAST(j - 1 AS BIGINT) AS pos, toks[j] AS token
        |FROM fin, unnest(generate_series(1, len(toks))) AS u(j)
        |ORDER BY word, pos""").stripMargin,
    // t29b chains TWO quantized EM rounds: the t28 enumeration E-step,
    // v = round(e·freq, 6) (a decimal-grid value — lossless as DOUBLE and
    // as DECIMAL(38,6) in any engine), exact decimal per-piece sums
    // (order-independent, so enumeration vs forward–backward cannot
    // diverge), one double division, re-grid, then the same E-step again
    // under the round-1 grid probs
    "t29b_unigram_em2" ->
      (s"""WITH RECURSIVE $duckUgEm2Ctes
        |SELECT piece, p FROM (
        |  SELECT piece,
        |    round(CAST(c AS DOUBLE) /
        |      CAST((SELECT SUM(c) FROM c2) AS DOUBLE), 6) AS p
        |  FROM c2) WHERE p > 0 ORDER BY piece""").stripMargin,
    // t29c = t29b's chain + ONE prune replay: alt scores by enumerating
    // each multi piece's own text with the piece EXCLUDED, loss =
    // count·(ln p − alt) ranks the keep set (ln affects ordering only),
    // then exact-decimal mass renormalize back onto the grid
    "t29c_unigram_prune" ->
      (s"""WITH RECURSIVE $duckUgEm2Ctes,
        |p2w AS (SELECT piece, plen, prob, cd FROM (
        |    SELECT piece, len(piece) AS plen, CAST(c AS DOUBLE) AS cd,
        |      round(CAST(c AS DOUBLE) /
        |        CAST((SELECT SUM(c) FROM c2) AS DOUBLE), 6) AS prob
        |    FROM c2) WHERE prob > 0),
        |mult AS (SELECT piece, plen, prob, cd FROM p2w WHERE plen > 1),
        |rec3 AS (
        |  SELECT piece AS target, CAST(1 AS BIGINT) AS i,
        |    CAST(0 AS DOUBLE) AS s FROM mult
        |  UNION ALL
        |  SELECT r.target, CAST(r.i + q.plen AS BIGINT), r.s + ln(q.prob)
        |  FROM rec3 r JOIN mult m ON m.piece = r.target
        |  JOIN p2w q ON substr(m.piece, CAST(r.i AS INTEGER), q.plen) = q.piece
        |    AND q.piece <> m.piece
        |  WHERE r.i <= m.plen),
        |alt AS (SELECT r.target AS piece, max(r.s) AS alt
        |  FROM rec3 r JOIN mult m ON m.piece = r.target
        |  WHERE r.i = m.plen + 1 GROUP BY r.target),
        |scored AS (SELECT m.piece, m.prob,
        |    CASE WHEN a.alt IS NULL THEN CAST('infinity' AS DOUBLE)
        |         ELSE m.cd * (ln(m.prob) - a.alt) END AS loss
        |  FROM mult m LEFT JOIN alt a USING (piece)),
        |ranked AS (SELECT piece, prob,
        |    row_number() OVER (ORDER BY loss DESC, piece) AS rn FROM scored),
        |kept AS (SELECT piece, prob FROM ranked WHERE rn <= (
        |  SELECT LEAST(count(*), GREATEST(
        |      GREATEST(0, 30 - (SELECT count(*) FROM p2w WHERE plen = 1)),
        |      CAST(floor(count(*) * 0.5) AS BIGINT)))
        |  FROM mult)),
        |nxt AS (SELECT piece, prob FROM p2w WHERE plen = 1
        |  UNION ALL SELECT piece, prob FROM kept)
        |SELECT piece, round(prob /
        |    CAST((SELECT SUM(CAST(prob AS DECIMAL(38,6))) FROM nxt) AS DOUBLE),
        |  6) AS p
        |FROM nxt ORDER BY piece""").stripMargin,
    // t29d replays the WHOLE quantized trainer: corpus seed, floored EM
    // rounds, prune replays, and the loop's done-latch — see
    // duckUgQuantFitReplay for the construction
    "t29d_unigram_quantfit" -> duckUgQuantFitReplay,
    // t33 = t31's enumeration-mass FFBS replay (seed 't33') composed with
    // t32's id/position tail: sampled tokens join the generated
    // model-order id table, positions from the per-doc window
    "t33_unigram_sampled_ids" ->
      (s"""WITH RECURSIVE
        |${duckUgSampledCtes("t33", "")}
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
        |  CAST(token_id AS BIGINT) AS token_id
        |FROM jj ORDER BY doc_id, pos""").stripMargin,
    // t33b: TWO epochs of the t33 replay (seeds ep1/ep2), each packed by
    // the x4 manifest-offset tail (md5-draw order, separator one past the
    // unk id, gp // 256 windows) — the epoch-resample training loop
    // end-to-end under the hash
    "t33b_epoch_pack" -> duckEpochPackReplay,
    // t28 enumerates every segmentation with a RUNNING PROBABILITY
    // PRODUCT (exact under the dyadic fixture), then expected count =
    // per-piece summed mass / per-word total mass — one division, same
    // IEEE result as the engine's forward-backward (see FixedUgProbs)
    "t28_unigram_estep" ->
      (s"""WITH RECURSIVE
        |w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
        |p AS (SELECT * FROM (VALUES $duckUgProbs) AS t(piece, plen, prob)),
        |rec AS (
        |  SELECT word, CAST(1 AS BIGINT) AS i, '' AS acc,
        |    CAST(1 AS DOUBLE) AS pr FROM wf
        |  UNION ALL
        |  SELECT r.word, CAST(r.i + p.plen AS BIGINT),
        |    r.acc || p.piece || chr(31), r.pr * p.prob
        |  FROM rec r JOIN p ON substr(r.word, r.i, p.plen) = p.piece
        |  WHERE r.i <= len(r.word)),
        |term AS (SELECT word, string_split(rtrim(acc, chr(31)), chr(31)) AS toks,
        |    pr FROM rec WHERE i = len(word) + 1),
        |z AS (SELECT word, sum(pr) AS z FROM term GROUP BY word),
        |occ AS (SELECT word, unnest(toks) AS piece, pr FROM term),
        |num AS (SELECT word, piece, sum(pr) AS num FROM occ GROUP BY word, piece)
        |SELECT n.word, n.piece, round(n.num / z.z, 6) AS e
        |FROM num n JOIN z USING (word)
        |ORDER BY word, piece""").stripMargin,
    // t26b = t26's segmentation replay under the FIXTURE's line-order id
    // table (unk at line 0 — the published BERT assignment)
    "t26b_wordpiece_ids_bert" ->
      (s"""WITH RECURSIVE $duckWpSegmentCtes,
        |wpos AS (SELECT doc_id, i AS wpos, ws[i] AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) s,
        |  unnest(generate_series(1, len(ws))) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |tk AS (SELECT word, j AS tpos, toks[j] AS token
        |  FROM fin, unnest(generate_series(1, len(toks))) AS u(j)),
        |ids AS (SELECT * FROM (VALUES $duckWpIdsBert) AS t(token, token_id)),
        |jj AS (SELECT wpos.doc_id, wpos.wpos, tk.tpos, ids.token_id
        |  FROM wpos JOIN tk USING (word) JOIN ids USING (token))
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
        |  CAST(token_id AS BIGINT) AS token_id
        |FROM jj ORDER BY doc_id, pos""").stripMargin,
    "t26_wordpiece_ids" ->
      (s"""WITH RECURSIVE $duckWpSegmentCtes,
        |wpos AS (SELECT doc_id, i AS wpos, ws[i] AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) s,
        |  unnest(generate_series(1, len(ws))) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |tk AS (SELECT word, j AS tpos, toks[j] AS token
        |  FROM fin, unnest(generate_series(1, len(toks))) AS u(j)),
        |ids AS (SELECT * FROM (VALUES $duckWpIds) AS t(token, token_id)),
        |jj AS (SELECT wpos.doc_id, wpos.wpos, tk.tpos, ids.token_id
        |  FROM wpos JOIN tk USING (word) JOIN ids USING (token))
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
        |  CAST(token_id AS BIGINT) AS token_id
        |FROM jj ORDER BY doc_id, pos""").stripMargin,
    // exact-regime sketch ≡ the exact count — same oracle text as t10
    "t10a_vocab_sketch" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM tok WHERE len(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 200""".stripMargin,
    "x1_pack_manifest" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |c AS (SELECT doc_id, tokens,
        |    CAST(COALESCE(sum(tokens) OVER (ORDER BY draw, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM t WHERE tokens > 0)
        |SELECT doc_id, tokens, tok_offset,
        |  tok_offset // 2048 AS first_chunk,
        |  (tok_offset + tokens - 1) // 2048 AS last_chunk,
        |  (tok_offset + tokens - 1) // 2048 - tok_offset // 2048 + 1 AS n_chunks
        |FROM c ORDER BY doc_id""".stripMargin,
    // x4 composes t19's token-id replay with x1's offset window: ids per
    // doc (byte-level BPE under the map literals generated from the
    // engine's own tables), one separator id 260 appended per doc, md5-
    // draw prefix offsets, then windows assembled with a position-ordered
    // list() — the full tensor content under the hash
    "x4_pack_token_ids" ->
      (s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |w AS (SELECT doc_id, regexp_extract_all(text,
        |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+') AS ws FROM d),
        |wp AS (SELECT doc_id, i AS wpos, ws[i] AS word
        |  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |wf AS (SELECT DISTINCT word FROM wp),
        |bs AS (SELECT word, upper(hex(encode(word))) AS h FROM wf),
        |sy AS (SELECT word, list_transform(generate_series(1, length(h)//2),
        |    i -> $duckByteRemap[substr(h, (i-1)*2+1, 2)][1]) AS cs FROM bs),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    array_to_string(list_transform(cs, x -> x || chr(31)), ''),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM sy),
        |tok AS (SELECT word, string_split(rtrim(s, chr(31)), chr(31)) AS toks FROM seg),
        |tk AS (SELECT word, j AS tpos, toks[j] AS token
        |  FROM tok, unnest(generate_series(1, len(toks))) AS u(j)),
        |jj AS (SELECT wp.doc_id, wp.wpos, tk.tpos, tk.token
        |  FROM wp JOIN tk USING (word)),
        |pid AS (SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
        |  CAST($duckVocabMap[token][1] AS BIGINT) AS token_id FROM jj),
        |al AS (SELECT * FROM pid UNION ALL
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS pos,
        |    CAST(260 AS BIGINT) AS token_id FROM pid GROUP BY doc_id),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM al GROUP BY doc_id),
        |o AS (SELECT doc_id, CAST(COALESCE(sum(n) OVER (ORDER BY draw, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM cnt),
        |g AS (SELECT al.doc_id, o.tok_offset + al.pos AS gp, al.token_id
        |  FROM al JOIN o USING (doc_id))
        |SELECT gp // 512 AS chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  array_to_string(list(token_id ORDER BY gp), ' ') AS input_ids
        |FROM g GROUP BY 1 ORDER BY 1""").stripMargin,
    // x2 replays packNoSplit's greedy recurrence as a recursive CTE: the
    // anchor is each shard's first doc (always bin 0, off 0 — the fold's
    // fill=ctx sentinel), the recursive step carries (fill, bin) doc by doc
    "x2_pack_nosplit" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |r AS (SELECT doc_id, tokens,
        |    (row_number() OVER (ORDER BY draw, doc_id) - 1) AS idx
        |  FROM t WHERE tokens > 0),
        |s AS (SELECT doc_id, tokens, idx // 64 AS shard,
        |    row_number() OVER (PARTITION BY idx // 64 ORDER BY idx) AS rn
        |  FROM r),
        |step AS (
        |  SELECT shard, rn, doc_id, tokens,
        |    CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off, tokens AS fill
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.shard, s.rn, s.doc_id, s.tokens,
        |    CASE WHEN p.fill + s.tokens > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + s.tokens > 2048 THEN CAST(0 AS BIGINT) ELSE p.fill END,
        |    CASE WHEN p.fill + s.tokens > 2048 THEN s.tokens ELSE p.fill + s.tokens END
        |  FROM s JOIN step p ON s.shard = p.shard AND s.rn = p.rn + 1)
        |SELECT doc_id, tokens, shard, bin, off FROM step ORDER BY doc_id""".stripMargin,
    // the IDENTICAL regex texts run under RE2 — patterns are written to the
    // common Java/RE2 subset, and DuckDB's regexp_replace needs the 'g' flag
    // to match Spark's replace-all default
    "t6_pii_scrub" ->
      """WITH p AS (SELECT doc_id, text ||
        |  (CASE WHEN doc_id % 3 = 0 THEN ' contact User' || doc_id || '@Example.COM' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN ' call +1-555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0') ELSE '' END)
        |  AS text FROM documents)
        |SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d-]{7,}\d', '<PHONE>', 'g')) AS scrubbed_md5,
        |  CAST(len(regexp_extract_all(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |    + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    + len(regexp_extract_all(text, '\+\d[\d-]{7,}\d')) AS BIGINT) AS n_pii
        |FROM p ORDER BY doc_id""".stripMargin,
    // the oracle recomputes positions, the cross-doc passage-hash set,
    // covered token indexes, and the reassembled text
    "e11_passage_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t, generate_subscripts(w, 1) - 1 AS pos FROM toks),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
        |         i -> {'pos': i-1, 's': w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]}),
        |         recursive := true) FROM toks WHERE len(w) >= 8),
        |sh AS (SELECT doc_id, pos, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM bg),
        |dfq AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h) WHERE nd >= 2),
        |cov AS (SELECT DISTINCT sh.doc_id, unnest(generate_series(sh.pos, sh.pos + 7)) AS cpos
        |        FROM sh JOIN dfq USING (h)),
        |kept AS (SELECT t.doc_id, t.pos, t.t FROM tok t LEFT JOIN cov
        |         ON t.doc_id = cov.doc_id AND t.pos = cov.cpos WHERE cov.doc_id IS NULL),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        array_to_string(list(t ORDER BY pos), ' ') AS ct FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, md5(coalesce(a.ct, '')) AS clean_md5,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the oracle re-derives the boilerplate set from the same corpus and
    // cleans in list form — no explode, order preserved by construction
    "l1_line_dedup" ->
      """WITH src AS (SELECT doc_id, concat_ws(chr(10),
        |    'h ' || doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter today' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved by the site' END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'click here to read more' END) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM src),
        |ex AS (SELECT DISTINCT doc_id, unnest(lines) AS line FROM ls),
        |freq AS (SELECT line FROM ex GROUP BY line HAVING count(*) >= 10),
        |fl AS (SELECT coalesce(list(line), []) AS bad FROM freq),
        |clean AS (SELECT doc_id, list_filter(lines, x -> NOT list_contains(bad, x)) AS keptl,
        |          len(lines) AS n_tot FROM ls, fl)
        |SELECT doc_id, md5(array_to_string(keptl, chr(10))) AS clean_md5,
        |  CAST(len(keptl) AS BIGINT) AS n_kept, CAST(n_tot - len(keptl) AS BIGINT) AS n_removed
        |FROM clean ORDER BY doc_id""".stripMargin,
    // the oracle refits the same add-one bigram model and folds logp in the
    // same position order (list ORDER BY pos, sequential list_sum)
    "t7_lm_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS t FROM toks),
        |uc AS (SELECT t AS w1, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY t),
        |v AS (SELECT count(DISTINCT t) AS vocab FROM uni),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1),
        |         i -> {'pos': i, 'w1': w[i], 'w2': w[i+1]}), recursive := true) FROM toks),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
        |j AS (SELECT b.doc_id, b.pos,
        |        ln((coalesce(bc.c12, 0) + 1.0) / (uc.c1 + v.vocab)) AS logp
        |      FROM bg b LEFT JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        |      JOIN uc ON b.w1 = uc.w1 CROSS JOIN v),
        |agg AS (SELECT doc_id, list(logp ORDER BY pos) AS lp FROM j GROUP BY doc_id)
        |SELECT doc_id, CAST(len(lp) AS BIGINT) AS n_bigrams,
        |  round(-list_sum(lp) / len(lp), 6) AS nll
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q4_mixture_report" ->
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM c)
        |SELECT lang, source, n_docs, n_tokens,
        |  round(n_tokens::DOUBLE / t.tot, 6) AS token_share
        |FROM c, t ORDER BY lang, source""".stripMargin,
    // t7's model CTEs + the standard SQL ntile over (nll, doc_id)
    "t8_ppl_buckets" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS t FROM toks),
        |uc AS (SELECT t AS w1, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY t),
        |v AS (SELECT count(DISTINCT t) AS vocab FROM uni),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1),
        |         i -> {'pos': i, 'w1': w[i], 'w2': w[i+1]}), recursive := true) FROM toks),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
        |j AS (SELECT b.doc_id, b.pos,
        |        ln((coalesce(bc.c12, 0) + 1.0) / (uc.c1 + v.vocab)) AS logp
        |      FROM bg b LEFT JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        |      JOIN uc ON b.w1 = uc.w1 CROSS JOIN v),
        |agg AS (SELECT doc_id, list(logp ORDER BY pos) AS lp FROM j GROUP BY doc_id),
        |sc AS (SELECT doc_id, CAST(len(lp) AS BIGINT) AS n_bigrams,
        |  round(-list_sum(lp) / len(lp), 6) AS nll FROM agg)
        |SELECT doc_id, n_bigrams, nll,
        |  CAST(ntile(3) OVER (ORDER BY nll, doc_id) AS INT) AS bucket
        |FROM sc ORDER BY doc_id""".stripMargin,
    // p1's langid+quality CTEs + t5's repetition CTEs + exact dedup + s2's
    // budget window, composed into the full recipe
    "p3_corpus_recipe" ->
      """WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np FROM documents),
        |c AS (SELECT doc_id, text, w,
        |  len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
        |  len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu','mit'))) AS s_de,
        |  len(list_filter(w, t -> t IN ('el','la','de','y','es','un','en','que'))) AS s_es,
        |  len(list_filter(w, t -> t IN ('le','la','de','et','est','un','en','que'))) AS s_fr,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  np::DOUBLE / greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)::DOUBLE / greatest(len(w)::DOUBLE, 1.0) AS sw_ratio
        |  FROM s),
        |g AS (SELECT doc_id, text, w, n_tokens,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred,
        |  round(((CASE WHEN n_tokens::DOUBLE >= 5 AND n_tokens::DOUBLE <= 2000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |    + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality,
        |  CASE WHEN len(w) >= 2 THEN list_transform(list_zip(w[1:len(w)-1], w[2:]), z -> z[1] || ' ' || z[2]) ELSE [] END AS g2
        |  FROM c),
        |rep AS (SELECT doc_id, text, n_tokens, pred, quality,
        |  round(CASE WHEN len(w) = 0 THEN 0 ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w) END, 6) AS dup_frac,
        |  round(CASE WHEN len(g2) = 0 THEN 0 ELSE list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x))))::DOUBLE / len(g2) END, 6) AS top2
        |  FROM g),
        |clean AS (SELECT doc_id, text, n_tokens FROM rep
        |  WHERE pred = 'en' AND quality >= 0.5 AND dup_frac <= 0.6 AND top2 <= 0.1),
        |ded AS (SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tok FROM clean GROUP BY text),
        |cum AS (SELECT doc_id, n_tok,
        |  sum(n_tok) OVER (ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS cum FROM ded)
        |SELECT doc_id, n_tok FROM cum WHERE cum <= 2000 ORDER BY doc_id""".stripMargin,
    // the fixture's generating formula re-derived: video id has
    // 16+8*(id%3) frames at 8 fps; every i%4==3 frame duplicates i-1's
    // bytes and must be dropped by the kept-set dedup; duration = last
    // frame's timecode (computed before dedup). Exact doubles: every
    // timecode is a multiple of 0.125.
    "i1_ingest_lifecycle" ->
      """WITH v AS (SELECT doc_id, 16 + 8 * (doc_id % 3) AS nf
        |  FROM documents ORDER BY doc_id LIMIT 6),
        |f AS (SELECT doc_id, nf, unnest(range(nf)) AS i FROM v)
        |SELECT 'tt' || CAST(doc_id AS VARCHAR) AS imdb_id,
        |  'vid' || CAST(doc_id AS VARCHAR) || '.mp4' AS file_name,
        |  i::DOUBLE / 8.0 AS time,
        |  (nf - 1)::DOUBLE / 8.0 AS duration
        |FROM f WHERE i % 4 <> 3
        |ORDER BY imdb_id, time""".stripMargin,
    // the full curation-recipe chain recomputed in SQL: t6's scrub ∘ e9's
    // decontamination ∘ e1's dedup ∘ u1's capped-domain keeper order
    // the full l1-blocklist → newline-flatten → e11-passage-scrub chain
    // replayed in SQL: what's checked is the composition (clean text of
    // step 1 feeding the shingle pass of step 2), not each step alone
    "p5_scrub_recipe" ->
      """WITH src AS (SELECT doc_id, concat_ws(chr(10),
        |    'h ' || doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter today' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved by the site' END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'click here to read more' END) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM src),
        |ex AS (SELECT DISTINCT doc_id, unnest(lines) AS line FROM ls),
        |freq AS (SELECT line FROM ex GROUP BY line HAVING count(*) >= 10),
        |fl AS (SELECT coalesce(list(line), []) AS bad FROM freq),
        |cl AS (SELECT doc_id, replace(array_to_string(
        |    list_filter(lines, x -> NOT list_contains(bad, x)), chr(10)), chr(10), ' ') AS text
        |  FROM ls, fl),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM cl),
        |tok AS (SELECT doc_id, unnest(w) AS t, generate_subscripts(w, 1) - 1 AS pos FROM toks),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
        |         i -> {'pos': i-1, 's': w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]}),
        |         recursive := true) FROM toks WHERE len(w) >= 8),
        |sh AS (SELECT doc_id, pos, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM bg),
        |dfq AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h) WHERE nd >= 2),
        |cov AS (SELECT DISTINCT sh.doc_id, unnest(generate_series(sh.pos, sh.pos + 7)) AS cpos
        |        FROM sh JOIN dfq USING (h)),
        |kept AS (SELECT t.doc_id, t.pos, t.t FROM tok t LEFT JOIN cov
        |         ON t.doc_id = cov.doc_id AND t.pos = cov.cpos WHERE cov.doc_id IS NULL),
        |agg AS (SELECT doc_id, array_to_string(list(t ORDER BY pos), ' ') AS ct FROM kept GROUP BY doc_id)
        |SELECT doc_id, CAST(len(string_split(ct, ' ')) AS BIGINT) AS n_tok,
        |  md5(ct) AS text_md5
        |FROM agg WHERE len(ct) > 0 ORDER BY doc_id""".stripMargin,
    // split survivors -> draw-ordered prefix-sum offsets -> 512-token
    // chunks -> 64-chunk shards with m1's bit_xor content fingerprint
    "x3_training_export" ->
      """WITH t AS (SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'),
        |c AS (SELECT doc_id, text, tokens,
        |    CAST(COALESCE(sum(tokens) OVER (ORDER BY draw, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM t WHERE tokens > 0),
        |m AS (SELECT doc_id, text, tokens,
        |    tok_offset // 512 AS first_chunk,
        |    (tok_offset + tokens - 1) // 512 AS last_chunk
        |  FROM c)
        |SELECT first_chunk // 64 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tokens) AS BIGINT) AS n_tokens,
        |  min(first_chunk) AS min_chunk,
        |  max(last_chunk) AS max_chunk,
        |  bit_xor(('0x' || substring(md5(text), 1, 15))::BIGINT) AS fp
        |FROM m GROUP BY 1 ORDER BY shard""".stripMargin,
    "q8_corpus_profile" ->
      """WITH t AS (SELECT text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  round(quantile_cont(n_tok::DOUBLE, 0.5), 6) AS p50,
        |  round(quantile_cont(n_tok::DOUBLE, 0.9), 6) AS p90,
        |  round(quantile_cont(n_tok::DOUBLE, 0.99), 6) AS p99
        |FROM t""".stripMargin,
    "p4_curation_recipe" ->
      """WITH base AS (SELECT doc_id,
        |  text || (CASE WHEN doc_id % 3 = 0 THEN ' contact User' || doc_id || '@Example.COM' ELSE '' END) ||
        |         (CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END) ||
        |         (CASE WHEN doc_id % 7 = 0 THEN ' call +1-555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0') ELSE '' END) AS text,
        |  'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||
        |  'u' || CAST(doc_id % 7 AS VARCHAR) || '.site' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END) ||
        |  '/page/' || CAST(doc_id AS VARCHAR) || '?ref=' || source AS url
        |  FROM documents WHERE doc_id % 10 <> 0),
        |scrub AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d-]{7,}\d', '<PHONE>', 'g') AS text, url FROM base),
        |ch AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM scrub))),
        |bh AS (SELECT DISTINCT ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0))),
        |bad AS (SELECT DISTINCT ch.doc_id FROM ch JOIN bh ON ch.h = bh.h),
        |keep AS (SELECT s.* FROM scrub s LEFT JOIN bad b ON s.doc_id = b.doc_id WHERE b.doc_id IS NULL),
        |ded AS (SELECT min(doc_id) AS doc_id, text, min(url) AS url FROM keep GROUP BY text),
        |dom AS (SELECT doc_id, text,
        |  regexp_extract(regexp_replace(regexp_extract(url, '^[a-z]+://([^/?]+)', 1), '^www\.', ''), '([^.]+\.[^.]+)$', 1) AS domain FROM ded),
        |rk AS (SELECT doc_id, text, domain, row_number() OVER (PARTITION BY domain
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk FROM dom)
        |SELECT doc_id, domain, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  md5(text) AS text_md5
        |FROM rk WHERE rk <= 5 ORDER BY doc_id""".stripMargin,
  )

  /** The foreign-artifact rows reuse their in-memory twins' oracle SQL
    * VERBATIM (the t14b/e2i/r5 one-oracle-two-plans trick, made explicit):
    * one oracle text, two engine plans — the in-memory fixed model and
    * the same model round-tripped through the published text format.
    */
  val oracle: Map[String, String] = oracleBase ++ Map(
    "t24c_wordpiece_bert_vocab" -> oracleBase("t24_wordpiece_segment"),
    "t19b_bpe_ids_gpt2txt" -> oracleBase("t19_bpe_token_ids"),
    "t27b_unigram_sp_vocab" -> oracleBase("t27_unigram_segment"))

  /** name → query function; keys must match [[oracle]] keys (where present). */
  val all: Map[String, Q] = Map(
    "b1_ext_filter" -> b1ExtFilter,
    "b2_path_project" -> b2PathProject,
    "b3_whitelist" -> b3Whitelist,
    "b4_regex_extract" -> b4RegexExtract,
    "b7_hex_parse" -> b7HexParse,
    "b8_l2_normalize" -> b8L2Normalize,
    "b9_charcode_key" -> b9CharcodeKey,
    "b10_hash_id" -> b10HashId,
    "b11_duration_window" -> b11DurationWindow,
    "b12_md5" -> b12Md5,
    "b13_magic_sniff" -> b13MagicSniff,
    "b15_jsonl_roundtrip" -> b15JsonlRoundtrip,
    "b16_csv_roundtrip" -> b16CsvRoundtrip,
    "b17_orc_roundtrip" -> b17OrcRoundtrip,
    "c1_sort_limit" -> c1SortLimit,
    "c3_temporal_dedup" -> c3TemporalDedup,
    "c3_window_dedup" -> c3WindowDedup,
    "c4_max_agg" -> c4MaxAgg,
    "c5_chunking" -> c5Chunking,
    "c8_ann_exact" -> c8AnnExact,
    "c8_ann_l2" -> c8AnnL2,
    "c8_ann_cos" -> c8AnnCos,
    "c8_batch_topk" -> c8BatchTopK,
    "c8_batch_ivf_det" -> c8BatchIvfDet,
    "c8_ann_ivf_det" -> c8AnnIvfDet,
    "c8_ann_ivf_append" -> c8AnnIvfAppend,
    "c8_ann_ivfsq8_det" -> c8AnnIvfSq8Det,
    "c8_ann_ivfpq_det" -> c8AnnIvfPqDet,
    "q1_pricing_agg" -> q1PricingAgg,
    "j1_join_revenue" -> j1JoinRevenue,
    "j2_json_extract" -> j2JsonExtract,
    "w1_time_window" -> w1TimeWindow,
    "w1s_stream_window" -> w1sStreamWindow,
    "w2_session_window" -> w2SessionWindow,
    "w3s_stream_sliding" -> w3sStreamSliding,
    "w2s_stream_session" -> w2sStreamSession,
    "w3_sliding_window" -> w3SlidingWindow,
    "e9_contamination" -> e9Contamination,
    "e9b_contamination_bloom" -> e9bContaminationBloom,
    "e9c_clean_gate" -> e9cCleanGate,
    "e1_exact_dedup" -> e1ExactDedup,
    "e12_priority_dedup" -> e12PriorityDedup,
    "e6_topk_per_group" -> e6TopkPerGroup,
    "e6_topk_heap_agg" -> e6TopkHeapAgg,
    "e7_exact_distinct" -> e7ExactDistinct,
    "e7_hll_distinct" -> e7HllDistinct,
    "b5_positional_zip" -> b5PositionalZip,
    "j3_asof_join" -> j3AsofJoin,
    "j4_range_join" -> j4RangeJoin,
    "j5_interval_join" -> j5IntervalJoin,
    "j6_bucketed_join" -> j6BucketedJoin,
    "q2_rollup" -> q2Rollup,
    "q5_cube" -> q5Cube,
    "q6_null_profile" -> q6NullProfile,
    "m1_shard_manifest" -> m1ShardManifest,
    "m2_manifest_range" -> m2ManifestRange,
    "m3_corpus_diff" -> m3CorpusDiff,
    "m4_cdc_apply" -> m4CdcApply,
    "m5_zvalue" -> m5Zvalue,
    "m6_zorder_box" -> m6ZorderBox,
    "m7_time_travel" -> m7TimeTravel,
    "t9_doc_chunks" -> t9DocChunks,
    "r1_retrieval_topk" -> r1RetrievalTopK,
    "r3_bm25_topk" -> r3Bm25TopK,
    "r4_hybrid_rrf" -> r4HybridRrf,
    "r5_bm25_incremental" -> r5Bm25Incremental,
    "r6_bm25_delete" -> r6Bm25Delete,
    "r2_retrieval_ivf" -> r2RetrievalIvf,
    "q3_profile" -> q3Profile,
    "c7_ivf_cluster" -> c7IvfCluster,
    "c7b_kmeans_det" -> c7bKmeansDet,
    "c7_sq8_ann" -> c7Sq8Ann,
    "c7_pq_ann" -> c7PqAnn,
    "c8_ann_ivf" -> c8AnnIvf,
    "c8_ann_rewrite" -> c8AnnRewrite,
    "e2_minhash_sig" -> e2MinhashSig,
    "e2_minhash_pairs" -> e2MinhashPairs,
    "e2s_stream_pairs" -> e2sStreamPairs,
    "e2i_incremental_pairs" -> e2iIncrementalPairs,
    "i1_ingest_lifecycle" -> i1IngestLifecycle,
    "e3_simhash" -> e3Simhash,
    "e3_simhash_near" -> e3SimhashNear,
    "e8_dedup_cluster" -> e8DedupCluster,
    "e8b_cluster_star" -> e8bClusterStar,
    "e4_jaccard_pairs" -> e4JaccardPairs,
    "f1_fuzzy_join" -> f1FuzzyJoin,
    "e4c_jaccard_zipf" -> e4cJaccardZipf,
    "e4d_jaccard_zipf_exact" -> e4dJaccardZipfExact,
    "e5_cosine_pairs" -> e5CosinePairs,
    "sd1_semantic_dedup" -> sd1SemanticDedup,
    "sd2_semantic_text" -> sd2SemanticText,
    "u1_domain_cap" -> u1DomainCap,
    "e10_passage_overlap" -> e10PassageOverlap,
    "e11_passage_scrub" -> e11PassageScrub,
    "t1_langid" -> t1Langid,
    "t2_quality" -> t2Quality,
    "t11_quality_model" -> t11QualityModel,
    "t3_token_stats" -> t3TokenStats,
    "t4_fingerprint" -> t4Fingerprint,
    "t5_repetition" -> t5Repetition,
    "t6_pii_scrub" -> t6PiiScrub,
    "l1_line_dedup" -> l1LineDedup,
    "t7_lm_score" -> t7LmScore,
    "t8_ppl_buckets" -> t8PplBuckets,
    "q4_mixture_report" -> q4MixtureReport,
    "s1_stratified_sample" -> s1StratifiedSample,
    "s2_token_budget" -> s2TokenBudget,
    "s10_bpe_token_budget" -> s10BpeTokenBudget,
    "s3_split_assign" -> s3SplitAssign,
    "s4_mixture_budget" -> s4MixtureBudget,
    "s6_temperature_mix" -> s6TemperatureMix,
    "s7_epoch_mix" -> s7EpochMix,
    "u2_k_anonymity" -> u2KAnonymity,
    "s5_leakfree_split" -> s5LeakfreeSplit,
    "s8_shuffle_order" -> s8ShuffleOrder,
    "s9_fixed_k_sample" -> s9FixedKSample,
    "v1_label_centroid" -> v1LabelCentroid,
    "x1_pack_manifest" -> x1PackManifest,
    "x2_pack_nosplit" -> x2PackNosplit,
    "x4_pack_token_ids" -> x4PackTokenIds,
    "q7_value_quantiles" -> q7ValueQuantiles,
    "t10_vocab_topk" -> t10VocabTopk,
    "t10a_vocab_sketch" -> t10aVocabSketch,
    "t12_bpe_pairs" -> t12BpePairs,
    "t13_bpe_merges" -> t13BpeMerges,
    "t14_bpe_segment" -> t14BpeSegment,
    "t14b_bpe_segment_loaded" -> t14bBpeSegmentLoaded,
    "t15b_bpe_counts_loaded" -> t15bBpeCountsLoaded,
    "t16_bpe_pretokenize" -> t16BpePretokenize,
    "t17_bpe_pretok_counts" -> t17BpePretokCounts,
    "t18_bpe_byte_level" -> t18BpeByteLevel,
    "t19_bpe_token_ids" -> t19BpeTokenIds,
    "t20_bpe_detokenize" -> t20BpeDetokenize,
    "t21_ngram_lm" -> t21NgramLm,
    "t22_ngram_lm_store" -> t22NgramLmStore,
    "t23_ngram_lm_append" -> t23NgramLmAppend,
    "t30_ngram_absdiscount" -> t30NgramAbsDiscount,
    "t24_wordpiece_segment" -> t24WordpieceSegment,
    "t24b_wordpiece_loaded" -> t24bWordpieceLoaded,
    "t25_wordpiece_counts" -> t25WordpieceCounts,
    "t26_wordpiece_ids" -> t26WordpieceIds,
    "t26b_wordpiece_ids_bert" -> t26bWordpieceIdsBert,
    "t27_unigram_segment" -> t27UnigramSegment,
    "t28_unigram_estep" -> t28UnigramEstep,
    "t29b_unigram_em2" -> t29bUnigramEm2,
    "t29c_unigram_prune" -> t29cUnigramPrune,
    "t29d_unigram_quantfit" -> t29dUnigramQuantFit,
    "t33_unigram_sampled_ids" -> t33UnigramSampledIds,
    "t33b_epoch_pack" -> t33bEpochPack,
    "t31_unigram_sample" -> t31UnigramSample,
    "t32_unigram_ids" -> t32UnigramIds,
    "t29_unigram_fit" -> t29UnigramFit,
    "t24c_wordpiece_bert_vocab" -> t24cWordpieceBertVocab,
    "t19b_bpe_ids_gpt2txt" -> t19bBpeIdsGpt2Txt,
    "t27b_unigram_sp_vocab" -> t27bUnigramSpVocab,
    "t14a_bpe_segment_scalable" -> t14aBpeSegmentScalable,
    "t15_bpe_token_counts" -> t15BpeTokenCounts,
    "p3_corpus_recipe" -> p3CorpusRecipe,
    "p4_curation_recipe" -> p4CurationRecipe,
    "p5_scrub_recipe" -> p5ScrubRecipe,
    "q8_corpus_profile" -> q8CorpusProfile,
    "x3_training_export" -> x3TrainingExport,
    "p1_corpus_clean" -> p1CorpusClean,
    "p2_corpus_dedup" -> p2CorpusDedup,
  )
}
