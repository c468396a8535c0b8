package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed trigram language model with Stupid Backoff (Brants et al.,
  * EMNLP 2007 "Large Language Models in Machine Translation") — the
  * published web-scale answer to n-gram quality scoring. Kneser–Ney needs
  * the continuation-count statistics of every lower order coupled through
  * a discount, which is why KenLM trains on one machine; Stupid Backoff
  * was designed at Google precisely so the model IS the raw count tables:
  *
  *   S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)        if c(w₁w₂w₃) survives the prune
  *              = α · S(w₃|w₂)              otherwise        (α = 0.4)
  *   S(w₃|w₂)   = c(w₂w₃)/c(w₂)            if c(w₂w₃) survives the prune
  *              = α · S(w₃)                 otherwise
  *   S(w₃)      = c(w₃)/N
  *
  * (a relative frequency, not a probability — the paper keeps it unnormalized
  * on purpose). This complements [[LmScore]] (the add-one bigram CCNet
  * core): same per-document nats/position discipline, but with the
  * higher-order context plus the count-threshold pruning every production
  * n-gram model ships with (Brants et al. prune below an occurrence
  * threshold; here [[score]]'s `minCount`).
  *
  * Scale shape (100 TB): FIT is three map-side-combinable count
  * aggregations — the model lives as DataFrames keyed by its own n-grams,
  * never on the driver. The artifacts are RAW counts and pruning is a
  * score-time VIEW ([[score]] filters `c >= minCount`): pruned counts do
  * not merge (two halves holding c=1 each prune to nothing, the union
  * prunes to c=2), raw counts merge by integer addition — which is what
  * makes [[appendStore]]'s delta-sized daily append bit-identical to a
  * refit (the t23 gate row proves it under t21's oracle). SCORE is five
  * equi-joins against the count tables (AQE broadcasts the small ones;
  * all key-partitioned, skew bounded by the model's own Zipf shape) and a
  * position-ordered per-document fold, so the double sum is
  * partitioning-independent and any engine reproduces it bit-for-bit.
  */
object NgramLm {

  /** Column names the fit/score plumbing claims internally. */
  private val Reserved = Set("w1", "w2", "w3", "c1", "c2", "c3", "pos",
    "n_total", "c2ctx", "c2low", "c1mid", "c1last", "logp")

  /** Backoff multiplier — the paper's value; "we did not tune it" (Brants
    * et al. §4). A constructor-level constant rather than a score()
    * parameter: an α that varies between fit and serve would make the
    * same corpus score differently on different days.
    */
  val Alpha = 0.4

  /** The fitted model: RAW trigram (w1,w2,w3,c3), bigram (w1,w2,c2) and
    * unigram (w1,c1) count tables — integer-exact, unpruned (pruning is
    * [[score]]'s view, see the object scaladoc). The corpus token total N
    * is derivable as Σc1, so it is deliberately NOT a fourth artifact: a
    * stored total could drift from the counts it must equal; a derived
    * one cannot.
    */
  final case class Model(trigrams: DataFrame, bigrams: DataFrame,
                         unigrams: DataFrame)

  // trigram triples in position order: zip_with over three shifted slices,
  // nested because zip_with is binary — same evaluation discipline as
  // [[LmScore.bigramPairs]] (the slices evaluate once; an element_at form
  // would re-split the text 3g times per row)
  private[operators] def trigramTriples(toks: Column): Column = {
    val len = size(toks) - 2
    when(size(toks) >= 3,
      zip_with(
        zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(toks, lit(3), len),
        (ab, c) => struct(ab.getField("w1").as("w1"),
          ab.getField("w2").as("w2"), c.as("w3"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))
  }

  /** Count the three n-gram orders over the corpus — the periodic fit job.
    * ONE corpus scan and ONE map-side-combined aggregation for all three
    * orders (each token array explodes into its unigram/bigram/trigram
    * grams in a single Generate, keyed by gram order), materialized once
    * via localCheckpoint — the r19 shape: the previous three separate
    * aggregations scanned and re-tokenized the corpus three times, and a
    * composed fit→score plan re-ran the unigram aggregation once per
    * score-side reference (7 corpus scans in t21's plan). Counts are
    * bit-identical (each gram occurrence contributes exactly one row to
    * the same group either way); every number is an exact long. The
    * checkpoint pins the DISTINCT-GRAM count table — the artifact
    * [[save]] persists anyway. That table grows with the corpus's
    * uni/bi/trigram TYPE counts, not with raw corpus bytes, but it is
    * not merely vocabulary-sized (ADVICE r19): at the 100 TB posture the
    * production fit writes counts to the model lake and reads them back
    * (save → load), keeping the in-memory, non-reliable checkpoint —
    * which also fails the job on executor loss instead of recomputing —
    * a bench-scale choice.
    */
  def fit(docs: DataFrame, textCol: String): Model = {
    // spread ahead of the explode — the t5/p3 rule: the 3× position
    // amplification and its map-side combine otherwise run at the scan's
    // row-group split count
    val toks = docs.repartition(col(textCol))
      .select(tokens(col(textCol)).as("w"))
    val gram = "struct<ord:int,w1:string,w2:string,w3:string>"
    val grams = toks.select(explode(concat(
        expr(s"transform(w, x -> struct(1, x, CAST(NULL AS STRING), CAST(NULL AS STRING)))")
          .cast(s"array<$gram>"),
        transform(LmScore.bigramPairs(col("w")),
          b => struct(lit(2).as("ord"), b.getField("w1").as("w1"),
            b.getField("w2").as("w2"),
            lit(null).cast("string").as("w3"))),
        transform(trigramTriples(col("w")),
          t => struct(lit(3).as("ord"), t.getField("w1").as("w1"),
            t.getField("w2").as("w2"), t.getField("w3").as("w3")))))
        .as("g"))
    val counts = grams
      .groupBy(col("g.ord").as("ord"), col("g.w1").as("w1"),
        col("g.w2").as("w2"), col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    Model(
      counts.where(col("ord") === 3)
        .select(col("w1"), col("w2"), col("w3"), col("c").as("c3")),
      counts.where(col("ord") === 2)
        .select(col("w1"), col("w2"), col("c").as("c2")),
      counts.where(col("ord") === 1)
        .select(col("w1"), col("c").as("c1")))
  }

  /** Score each document: average negative log Stupid-Backoff score per
    * trigram position, pruning the trigram/bigram tables to
    * `c >= minCount` first (the unigram table is NEVER pruned — it is the
    * backoff floor, and pruning it would put ln(0) under observed tokens).
    * Documents with fewer than three tokens have no trigram positions and
    * drop out, the same contract as [[LmScore.score]]'s two-token floor.
    * Output: (idCol, n_trigrams, nll) with nll rounded to 1e-6 (the t7
    * ln-parity grain).
    *
    * A document containing a token the model has never seen scores
    * `nll = NULL` (Spark's ln of a null/zero leg): a deterministic
    * out-of-vocabulary marker, not a silent number — callers filtering
    * `nll IS NOT NULL` get exactly the in-vocabulary corpus. On the fit
    * corpus itself every leg is total by construction.
    *
    * The trigram leg's denominator joins the PRUNED bigram view: safe
    * because c(w₁w₂) ≥ c(w₁w₂w₃), so a surviving trigram's context always
    * survives the same threshold. The per-document sum folds in position
    * order over a sorted array — double addition is not associative, and
    * a partitioning-dependent sum would score the same corpus differently
    * on different clusters.
    */
  def score(docs: DataFrame, idCol: String, textCol: String, model: Model,
            minCount: Long = 1L): DataFrame = {
    require(!Reserved(idCol) && idCol != "n_trigrams" && idCol != "nll",
      s"idCol must avoid the internal names ${Reserved.mkString(", ")}")
    require(minCount >= 1L, s"minCount $minCount must be >= 1")
    val tri = model.trigrams.where(col("c3") >= minCount)
    val big = model.bigrams.where(col("c2") >= minCount)
    val bigCtx = big.select(col("w1"), col("w2"), col("c2").as("c2ctx"))
    val bigLow = big.select(col("w1").as("w2"), col("w2").as("w3"),
      col("c2").as("c2low"))
    val uniMid = model.unigrams.select(col("w1").as("w2"),
      col("c1").as("c1mid"))
    val uniLast = model.unigrams.select(col("w1").as("w3"),
      col("c1").as("c1last"))
    val total = model.unigrams.agg(sum(col("c1")).as("n_total"))

    val pos = docs.repartition(col(idCol))
      .select(col(idCol), posexplode(trigramTriples(tokens(col(textCol)))))
      .select(col(idCol), col("pos"), col("col.w1").as("w1"),
        col("col.w2").as("w2"), col("col.w3").as("w3"))

    // the three backoff legs, nested exactly as the oracle SQL writes them
    // so both engines run the identical IEEE expression tree
    val uniLeg = lit(Alpha) * (col("c1last") / col("n_total"))
    val biLeg = when(col("c2low").isNotNull, col("c2low") / col("c1mid"))
      .otherwise(uniLeg)
    val sbScore = when(col("c3").isNotNull, col("c3") / col("c2ctx"))
      .otherwise(lit(Alpha) * biLeg)

    pos
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bigCtx, Seq("w1", "w2"), "left")
      .join(bigLow, Seq("w2", "w3"), "left")
      .join(uniMid, Seq("w2"), "left")
      .join(uniLast, Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("pos"), log(sbScore).as("logp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_trigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("logp")))),
            x => x.getField("logp")),
          lit(0.0), (acc, x) => acc + x).as("__sum"))
      .select(col(idCol), col("n_trigrams"),
        round(-col("__sum") / col("n_trigrams"), 6).as("nll"))
  }

  /** Interpolated ABSOLUTE DISCOUNTING over the SAME raw count tables —
    * the quality-menu alternative to [[score]]'s Stupid Backoff (Ney,
    * Essen & Kneser, CSL 1994 "On structuring probabilistic dependences
    * in stochastic language modelling"): a constant discount D is
    * subtracted from every observed count and the freed mass is
    * interpolated with the lower order,
    *
    *   P(w₃|w₁w₂) = [max(c₃−D₃, 0) + D₃·N₁₊(w₁w₂•)·P(w₃|w₂)] / M₃(w₁w₂)
    *   P(w₃|w₂)   = [max(c₂−D₂, 0) + D₂·N₁₊(w₂•)·P(w₃)] / M₂(w₂)
    *   P(w₃)      = c(w₃)/N
    *
    * where M_n(ctx) = Σ_w c_n(ctx, w) is the context's OWN marginal in
    * the n-gram table — NOT the lower-order count c(ctx), which also
    * counts document-final occurrences that continue nothing
    * (self-review r17: dividing by c(ctx) leaks mass at every context
    * whose word ends a document, breaking the sums-to-1 property this
    * mode exists for; with the marginal, Σ_w max(c−D,0) = M − D·N₁₊
    * exactly — every observed count is ≥ 1 > D — so each leg sums to 1
    * for EVERY context, boundary or not). Discounts are estimated by
    * the paper's counts-of-counts formula D = n₁/(n₁ + 2n₂) per order
    * (n_k = number of grams seen exactly k times; fallback 0.75 when a
    * degenerate corpus has no singletons or doubletons). Unlike Stupid
    * Backoff this is a true probability, so cross-document NLLs are
    * calibrated — the property a quality-scoring menu wants next to the
    * web-scale default.
    *
    * A VIEW, not a refit: the continuation-TYPE counts N₁₊(ctx•) are one
    * groupBy-count over each stored table (the trigram table's rows ARE
    * the distinct continuations of their context) and the discounts are
    * two 1-row aggregates folded into the plan as broadcast scalars — no
    * new storage, the same unpruned count store [[save]] persists. A
    * context whose type count is missing (w₂ only ever corpus-final, so
    * the bigram exists but no trigram continues it) backs off one order
    * whole — conditioning on the TYPE count keeps every leg total.
    *
    * Same output contract as [[score]]: (idCol, n_trigrams, nll), the
    * per-document fold position-ordered, nll rounded to 1e-6; documents
    * under three tokens drop out; an out-of-vocabulary token yields
    * `nll = NULL`. The t30 gate row replays the identical expression
    * tree in DuckDB.
    */
  def scoreAbsDiscount(docs: DataFrame, idCol: String, textCol: String,
                       model: Model): DataFrame = {
    require(!Reserved(idCol) && idCol != "n_trigrams" && idCol != "nll" &&
      !Set("t3", "t2", "d3", "d2", "m3", "m2",
        "c2low", "c1last", "n_total")(idCol),
      s"idCol must avoid the internal names ${Reserved.mkString(", ")}, " +
        "t3, t2, d3, d2, m3, m2, c2low, c1last, n_total")
    val bigLow = model.bigrams.select(col("w1").as("w2"),
      col("w2").as("w3"), col("c2").as("c2low"))
    val uniLast = model.unigrams.select(col("w1").as("w3"),
      col("c1").as("c1last"))
    val total = model.unigrams.agg(sum(col("c1")).as("n_total"))
    // continuation types + the context's marginal (the normalizer): each
    // stored row IS one distinct continuation, and the marginal sums the
    // SAME table — one groupBy serves both
    val types3 = model.trigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("t3"), sum(col("c3")).as("m3"))
    val types2 = model.bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("t2"), sum(col("c2")).as("m2"))
      .select(col("w1").as("w2"), col("t2"), col("m2"))
    // counts-of-counts discounts, per order — 1-row broadcast scalars
    def discount(counts: DataFrame, cCol: String, out: String): DataFrame =
      counts.agg(
        sum(when(col(cCol) === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col(cCol) === 2L, 1L).otherwise(0L)).as("n2"))
        .select(when(col("n1") + lit(2L) * col("n2") > 0L,
          col("n1").cast("double") /
            (col("n1") + lit(2L) * col("n2")).cast("double"))
          .otherwise(lit(0.75)).as(out))
    val d3 = discount(model.trigrams, "c3", "d3")
    val d2 = discount(model.bigrams, "c2", "d2")

    val pos = docs.repartition(col(idCol))
      .select(col(idCol), posexplode(trigramTriples(tokens(col(textCol)))))
      .select(col(idCol), col("pos"), col("col.w1").as("w1"),
        col("col.w2").as("w2"), col("col.w3").as("w3"))

    // the nesting below is replayed verbatim by the t30 oracle SQL — both
    // engines run the identical IEEE expression tree
    val p1 = col("c1last") / col("n_total")
    val p2 = when(col("t2").isNotNull,
      (when(col("c2low").isNotNull,
        greatest(col("c2low") - col("d2"), lit(0.0))).otherwise(lit(0.0))
        + (col("d2") * col("t2")) * p1) / col("m2"))
      .otherwise(p1)
    val p3 = when(col("t3").isNotNull,
      (when(col("c3").isNotNull,
        greatest(col("c3") - col("d3"), lit(0.0))).otherwise(lit(0.0))
        + (col("d3") * col("t3")) * p2) / col("m3"))
      .otherwise(p2)

    pos
      .join(model.trigrams, Seq("w1", "w2", "w3"), "left")
      .join(bigLow, Seq("w2", "w3"), "left")
      .join(uniLast, Seq("w3"), "left")
      .join(types3, Seq("w1", "w2"), "left")
      .join(types2, Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(d3))
      .crossJoin(broadcast(d2))
      .select(col(idCol), col("pos"), log(p3).as("logp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_trigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("logp")))),
            x => x.getField("logp")),
          lit(0.0), (acc, x) => acc + x).as("__sum"))
      .select(col(idCol), col("n_trigrams"),
        round(-col("__sum") / col("n_trigrams"), 6).as("nll"))
  }

  // ---------------------------------------------------------------------
  // Durable store — the Bm25 artifact posture for the count lake.
  // ---------------------------------------------------------------------

  private val FormatVersion = 1

  // THE count-table file layout, [[save]] / [[appendStore]] /
  // [[compactStore]]: key-partitioned + key-sorted within partitions so
  // row-group min/max stats stay tight. One helper so the paths cannot
  // drift.
  private def writeKeySorted(df: DataFrame, keys: Seq[String], path: String,
                             numFiles: Int, mode: String): Unit =
    df.repartition(numFiles, col(keys.head))
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode(mode).parquet(path)

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_append_inprogress")

  /** Persist a [[Model]] as a durable artifact directory — the nightly
    * count-build's output, the form every scoring job boots from. Layout:
    * `trigrams/`, `bigrams/`, `unigrams/` key-sorted parquet plus a
    * version-gated 1-row `meta/`. Counts are longs, so a save → load
    * round-trip is bit-identical. Refuses a directory whose maintenance
    * marker is dangling — the same reader-side posture as
    * [[Bm25.load]] (ADVICE r15: the reader the marker protects must not
    * trust a torn store).
    */
  def save(model: Model, dir: String, numFiles: Int = 8): Unit = {
    require(numFiles >= 1, s"numFiles $numFiles must be >= 1")
    val spark = model.trigrams.sparkSession
    require(!fs(spark, dir).exists(marker(dir)),
      s"save at $dir: a maintenance job died mid-append (marker present) " +
        "— inspect the store, then remove the marker before refitting over it")
    writeKeySorted(model.trigrams, Seq("w1", "w2", "w3"),
      s"$dir/trigrams", numFiles, "overwrite")
    writeKeySorted(model.bigrams, Seq("w1", "w2"),
      s"$dir/bigrams", numFiles, "overwrite")
    writeKeySorted(model.unigrams, Seq("w1"),
      s"$dir/unigrams", numFiles, "overwrite")
    import spark.implicits._
    Seq(FormatVersion).toDF("format_version")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Incremental maintenance — the delta-sized daily job: fit the delta
    * corpus and APPEND its count part-files as new segments of the same
    * three tables; [[load]] folds segments with a key-summed groupBy, so
    * the grown store is integer-identical to a refit over the union (the
    * t23 gate row pins it under t21's oracle). Nothing here is
    * corpus-sized except the delta itself — the existing lake is
    * untouched. Unlike [[Bm25.appendStore]] there is no new-ids-only
    * contract: counts ADD, so re-fitting a document genuinely re-counts
    * it (appending the same delta twice double-counts, exactly like
    * appending the same file to any lake twice; dedup upstream owns that).
    *
    * Crash posture: the three appends run under an `_append_inprogress`
    * marker. A crash mid-append leaves some tables grown and others not —
    * every artifact still PARSES, which is precisely the torn state a
    * reader cannot detect — so [[load]]/[[save]]/[[compactStore]] refuse
    * while the marker stands.
    */
  def appendStore(spark: SparkSession, dir: String, docsDelta: DataFrame,
                  textCol: String, numFiles: Int = 2): Unit = {
    requireStore(spark, dir, "appendStore")
    val f = fs(spark, dir)
    require(f.createNewFile(marker(dir)),
      s"appendStore at $dir: marker already present — a prior maintenance " +
        "job died mid-append; inspect the store, then remove the marker")
    val delta = fit(docsDelta, textCol)
    writeKeySorted(delta.trigrams, Seq("w1", "w2", "w3"),
      s"$dir/trigrams", numFiles, "append")
    writeKeySorted(delta.bigrams, Seq("w1", "w2"),
      s"$dir/bigrams", numFiles, "append")
    writeKeySorted(delta.unigrams, Seq("w1"),
      s"$dir/unigrams", numFiles, "append")
    // deleted only when every append committed: a failed write may have
    // committed files into SOME tables, and the marker must stand there
    f.delete(marker(dir), false)
  }

  /** Load a persisted store. The per-table groupBy folds appended segments
    * by integer addition — on a compacted store it is a single combine
    * pass, and its hash partitioning on the n-gram key is exactly the
    * partitioning [[score]]'s joins need, so the fold is not an extra
    * exchange in the scoring plan. Refuses a torn store (dangling
    * maintenance marker) and an unversioned/future-versioned layout.
    */
  def load(spark: SparkSession, dir: String): Model = {
    requireStore(spark, dir, "load")
    Model(
      spark.read.parquet(s"$dir/trigrams")
        .groupBy("w1", "w2", "w3").agg(sum("c3").as("c3")),
      spark.read.parquet(s"$dir/bigrams")
        .groupBy("w1", "w2").agg(sum("c2").as("c2")),
      spark.read.parquet(s"$dir/unigrams")
        .groupBy("w1").agg(sum("c1").as("c1")))
  }

  /** Rewrite the three count tables segment-folded and key-sorted — the
    * periodic maintenance job that bounds [[appendStore]] segment growth.
    * Stages the folded tables next to the live ones, then promotes by
    * renames under the SAME marker bracket as append, via the shared
    * crash-safe [[graft.sources.LakeLayout.swapDir]].
    */
  def compactStore(spark: SparkSession, dir: String, numFiles: Int = 8): Unit = {
    requireStore(spark, dir, "compactStore")
    val f = fs(spark, dir)
    require(f.createNewFile(marker(dir)),
      s"compactStore at $dir: marker already present — a prior maintenance " +
        "job died mid-append; inspect the store, then remove the marker")
    val m = load0(spark, dir)
    writeKeySorted(m.trigrams, Seq("w1", "w2", "w3"),
      s"$dir/trigrams__staged", numFiles, "overwrite")
    writeKeySorted(m.bigrams, Seq("w1", "w2"),
      s"$dir/bigrams__staged", numFiles, "overwrite")
    writeKeySorted(m.unigrams, Seq("w1"),
      s"$dir/unigrams__staged", numFiles, "overwrite")
    import org.apache.hadoop.fs.{Path => HPath}
    graft.sources.LakeLayout.swapDir(f,
      new HPath(s"$dir/trigrams__staged"), new HPath(s"$dir/trigrams"))
    graft.sources.LakeLayout.swapDir(f,
      new HPath(s"$dir/bigrams__staged"), new HPath(s"$dir/bigrams"))
    graft.sources.LakeLayout.swapDir(f,
      new HPath(s"$dir/unigrams__staged"), new HPath(s"$dir/unigrams"))
    f.delete(marker(dir), false)
  }

  // the segment fold without the marker/version gate — compactStore runs
  // it INSIDE its own marker bracket, where the gate would refuse
  private def load0(spark: SparkSession, dir: String): Model = Model(
    spark.read.parquet(s"$dir/trigrams")
      .groupBy("w1", "w2", "w3").agg(sum("c3").as("c3")),
    spark.read.parquet(s"$dir/bigrams")
      .groupBy("w1", "w2").agg(sum("c2").as("c2")),
    spark.read.parquet(s"$dir/unigrams")
      .groupBy("w1").agg(sum("c1").as("c1")))

  private def requireStore(spark: SparkSession, dir: String,
                           op: String): Unit = {
    require(!fs(spark, dir).exists(marker(dir)),
      s"$op at $dir: a maintenance job died mid-append (marker present) — " +
        "the count tables may be torn (some grown, some not); inspect the " +
        "store, then remove the marker")
    val meta = spark.read.parquet(s"$dir/meta").collect()
    require(meta.length == 1,
      s"ngram store at $dir: meta must be exactly 1 row, got ${meta.length}")
    val ver = meta.head.getInt(0)
    require(ver == FormatVersion,
      s"ngram store at $dir has format_version $ver; this engine reads " +
        s"version $FormatVersion — refit or migrate the artifact")
  }
}
