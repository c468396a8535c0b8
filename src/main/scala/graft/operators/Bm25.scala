package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 sparse retrieval (Robertson & Zaragoza, FnTIR 2009) — the keyword
  * half of a retrieval corpus: score = Σ_t idf(t) · tf·(k1+1) /
  * (tf + k1·(1 − b + b·dl/avgdl)) over the query's terms, with Lucene's
  * always-positive idf = ln(1 + (N − df + 0.5)/(df + 0.5)). Complements
  * the r1/r2 dense (hashed-embedding) path: BM25 wins on exact keywords
  * and rare entities, embeddings on paraphrase — production retrieval
  * serves BOTH and fuses ranks ([[rrf]]).
  *
  * Scale shape: the index build is ONE groupBy per grain — postings
  * (id, term, tf) with the doc length carried alongside, df per term —
  * the periodic job a 100 TB corpus pays once per refresh ([[save]]
  * persists the postings lake term-partitioned/term-sorted; [[load]] +
  * [[searchIndex]] push the query batch's `In(term)` into the lake scan,
  * e2i-style; [[appendStore]] is the delta-sized daily append). Search
  * is the INVERTED-INDEX
  * shape: the query batch explodes to distinct terms and broadcast-
  * equi-joins the postings on term, so candidate volume is Σ_t df(t)
  * over the query's terms — never |docs|·|queries|. The per-candidate
  * score folds in TERM order over a sorted array (double addition is not
  * associative; a partitioning-dependent sum would rank differently on
  * different clusters), rounds to 1e-6 (the t7 ln-parity grain), and
  * ranks per query with a (score DESC, id) window — deterministic ties,
  * O(k) rows out per query.
  */
object Bm25 {

  /** Column names the index/search plumbing claims internally. */
  private val Reserved = Set("term", "tf", "dl", "df", "n", "avgdl", "score")

  /** Postings with document length: one row per (id, term) — (id, term,
    * tf, dl). The one docs-grain shuffle of the index build.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.repartition(col(idCol))
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("dl"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** A built index: the three artifacts a persisted BM25 corpus keeps —
    * postings (id, term, tf, dl), per-term document frequencies
    * (term, df), and the 1-row corpus stats (n_docs, sum_dl). All three
    * are integer-exact, so [[append]]'s merged index is BIT-identical to
    * a full [[fit]] over the union (the r5 gate row proves it against
    * r3's oracle). [[save]]/[[load]] give the artifact durable form; on a
    * loaded index the search probe's `In(term)` reaches the parquet scan
    * as a pushed filter (PlanAuditSpec pins it). A persisted store may
    * carry a fourth, transient artifact — `tombstones/` of deleted ids
    * ([[tombstoneStore]]) — which [[load]] folds into the postings scan
    * and [[compactStore]] retires, so the in-memory Index never needs a
    * tombstone field.
    */
  final case class Index(idCol: String, postings: DataFrame,
                         dfs: DataFrame, docStats: DataFrame)

  /** Build the index artifacts from a corpus — the periodic job. */
  def fit(docs: DataFrame, idCol: String, textCol: String): Index = {
    require(!Reserved(idCol) && idCol != "rank",
      s"idCol must avoid 'rank' and the internal names ${Reserved.mkString(", ")}")
    val post = postings(docs, idCol, textCol)
    Index(idCol, post,
      post.groupBy(col("term")).agg(count(lit(1)).as("df")),
      docs.agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col(textCol))).cast("long")).as("sum_dl")))
  }

  /** Incremental maintenance — the daily-append shape: new documents'
    * postings UNION in (delta-sized work, the lake is untouched), the
    * term dictionary merges with a full-outer long-sum (dictionary-sized,
    * never postings-sized), and the corpus stats add as two longs. New
    * ids must be genuinely new — an id present in both sides would
    * double-count df and dl exactly like appending the same file to any
    * lake twice; dedup upstream (e1/e2) owns that.
    */
  def append(ix: Index, docs: DataFrame, textCol: String): Index = {
    val delta = fit(docs, ix.idCol, textCol)
    Index(ix.idCol, ix.postings.unionByName(delta.postings),
      mergedDfs(ix, delta), mergedStats(ix, delta))
  }

  // the integer-exact dictionary/stats merges [[append]] and [[appendStore]]
  // share — one definition so the in-memory and persisted paths cannot
  // diverge
  private def mergedDfs(ix: Index, delta: Index): DataFrame =
    ix.dfs.as("a").join(delta.dfs.as("b"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("a.df"), lit(0L)) + coalesce(col("b.df"), lit(0L))).as("df"))

  private def mergedStats(ix: Index, delta: Index): DataFrame =
    ix.docStats.unionByName(delta.docStats)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))

  // THE term-keyed artifact file layout — postings and dfs, [[save]] and
  // [[appendStore]]: term-partitioned + term-sorted within partitions, so
  // row-group min/max term stats are tight and the probe's pushed
  // In(term) skips row groups. One helper so the paths cannot drift.
  private def writeTermSorted(df: DataFrame, path: String,
                              numFiles: Int): Unit =
    df.repartition(numFiles, col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(path)

  /** Persist an [[Index]] as a durable artifact directory — the form a
    * 100 TB corpus actually keeps its index in (the periodic fit job
    * writes it; every serving JVM [[load]]s it; nothing survives a JVM in
    * the live-DataFrame [[Index]]). Layout: `postings/` term-partitioned
    * parquet, `sortWithinPartitions(term)` at rest so the search probe's
    * pushed `In(term)` filter ([[searchIndex]]) lands on tight row-group
    * term ranges; `dfs/` the (term, df) dictionary, same layout; `stats/`
    * the 1-row corpus stats carrying `id_col` so the artifact is
    * self-describing. All three are integer-exact, so a save → load
    * round-trip is bit-identical.
    */
  def save(ix: Index, dir: String, numFiles: Int = 8): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(numFiles >= 1, s"numFiles $numFiles must be >= 1")
    val fs = new HPath(dir).getFileSystem(
      ix.postings.sparkSession.sparkContext.hadoopConfiguration)
    // save's contract is a FRESH store: refuse to paper over a
    // mid-promote crash under investigation, and clear any tombstone set
    // a prior incarnation left — a stale tombstones/ would silently
    // filter the new corpus's docs out of every search (self-review r16).
    // Refitting OVER a tombstoned store is a multi-artifact maintenance
    // op, so it runs under the marker: every crash window inside it —
    // including the one after the artifact writes but before the
    // tombstone delete, where all four artifacts parse and the store
    // would quietly serve wrong — leaves the marker behind and every
    // reader refuses loudly (self-review r16 pass 2 #1). A fresh/
    // untombstoned dir keeps today's markerless path: its crash states
    // are missing-or-partial artifact dirs, which load() fails on
    // LOUDLY by construction.
    val marker = new HPath(s"$dir/_append_inprogress")
    require(!fs.exists(marker),
      s"save at $dir: a maintenance job died mid-promote (marker present) " +
        "— inspect the store, then remove the marker before refitting over it")
    val tombPath = new HPath(s"$dir/tombstones")
    val refitOverTombstones = fs.exists(tombPath)
    if (refitOverTombstones) fs.create(marker).close()
    writeTermSorted(ix.postings, s"$dir/postings", numFiles)
    writeTermSorted(ix.dfs, s"$dir/dfs", numFiles)
    ix.docStats.withColumn("id_col", lit(ix.idCol))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    if (refitOverTombstones) {
      fs.delete(tombPath, true)
      fs.delete(marker, false)
    }
  }

  /** Load a [[save]]d index. The stats read is one driver-sized row (the
    * C9 collection-load shape); postings and dfs stay lazy parquet scans
    * so [[searchIndex]]'s term prune reaches them as pushed filters.
    *
    * Refuses to load a store with a dangling `_append_inprogress` marker:
    * the marker means a maintenance job died inside its rename window, so
    * some artifacts may carry the delta while others don't — a reader
    * would silently compute wrong idf/avgdl from the torn store. The same
    * inspect-then-remove-the-marker remediation as [[appendStore]].
    *
    * A store with live tombstones ([[tombstoneStore]]) loads with the
    * tombstoned ids filtered OUT of the postings scan (a broadcast
    * anti-join — the tombstone set is delta-sized by the compaction-
    * cadence contract, and dfs/stats were already corrected at tombstone
    * time), so every consumer of a loaded index sees the corrected
    * corpus; the physical rows leave the lake at the next
    * [[compactStore]].
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    import org.apache.hadoop.fs.{Path => HPath}
    val marker = new HPath(s"$dir/_append_inprogress")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(marker),
      s"load at $dir: a maintenance job died mid-promote (marker $marker " +
        "present) — the store may be torn (some artifacts carrying a delta " +
        "the others lack); inspect the staged dirs, restore, then remove " +
        "the marker")
    val statsRaw = spark.read.parquet(s"$dir/stats")
    val head = statsRaw.select(col("id_col"), col("n_docs")).collect()
    require(head.length == 1, s"index at $dir: stats must be exactly 1 row")
    val idCol = head(0).getString(0)
    val postRaw = spark.read.parquet(s"$dir/postings")
    val post =
      if (!fs.exists(new HPath(s"$dir/tombstones"))) postRaw
      else postRaw.join(broadcast(spark.read.parquet(s"$dir/tombstones")),
        Seq(idCol), "left_anti")
    Index(idCol, post,
      spark.read.parquet(s"$dir/dfs"),
      statsRaw.select(col("n_docs"), col("sum_dl")))
  }

  /** [[append]] against a [[save]]d artifact — the daily job a persisted
    * corpus runs. The postings lake gets a delta-sized parquet APPEND
    * (the existing files are untouched — no lake-sized rewrite, no
    * compounding in-memory union chain); the (dictionary-sized) df merge
    * and the 1-row stats are swap-rewritten via [[graft.sources.LakeLayout
    * .swapDir]] because their rewrites read the directories they replace.
    * Same new-ids-only contract as [[append]]. Returns the re-[[load]]ed
    * merged index.
    *
    * Failure posture: all three artifacts are STAGED to `*.tmp` paths
    * first — a failure anywhere in the (delta-sized, minutes-long) compute
    * leaves the live store byte-identical and the job plainly retryable.
    * Only then does the promote phase run: a `_append_inprogress` marker,
    * a handful of file renames, marker removed. A crash inside that
    * sub-second window leaves the marker behind, and the next appendStore
    * REFUSES to run rather than silently double-append the same delta —
    * the operator inspects/restores (the staged dirs are still on disk)
    * instead of the store drifting corrupt. Not writer-concurrent — run
    * from the single maintenance owner, like [[graft.sources.LakeLayout
    * .compactParquet]].
    */
  def appendStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                  docs: DataFrame, textCol: String,
                  numFiles: Int = 8): Index = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(numFiles >= 1, s"numFiles $numFiles must be >= 1")
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new HPath(s"$dir/_append_inprogress")
    require(!fs.exists(marker),
      s"appendStore at $dir: a previous append died mid-promote (marker " +
        s"$marker present) — inspect the store and staged dirs, then remove " +
        "the marker to retry")
    val ix = load(spark, dir)
    // a tombstoned id must not re-enter before compaction: the load-time
    // anti-join filters by id alone, so it would eat the NEW rows too and
    // the re-added document would silently vanish from every search.
    // Replace-by-id is [[upsertStore]] — the one-call crash-atomic path.
    if (fs.exists(new HPath(s"$dir/tombstones"))) {
      val clash = docs.select(col(ix.idCol)).distinct()
        .join(spark.read.parquet(s"$dir/tombstones"), Seq(ix.idCol), "left_semi")
        .limit(1).count()
      require(clash == 0,
        s"appendStore at $dir: the delta re-adds tombstoned ids — use " +
          "upsertStore (the crash-atomic replace-by-id), or compactStore " +
          "first if the tombstones are settled deletions; appending now " +
          "would let the load-time tombstone filter swallow the re-added " +
          "documents")
    }
    val delta = fit(docs, ix.idCol, textCol)
    // one tokenize+groupBy over the delta docs feeds all three staged
    // writes (delta.dfs derives from the same cached postings plan)
    delta.postings.persist()
    try {
      // STAGE: the live store is untouched until everything is committed
      val stage = new HPath(s"$dir/postings.stage.tmp")
      writeTermSorted(delta.postings, stage.toString, numFiles)
      writeTermSorted(mergedDfs(ix, delta), s"$dir/dfs.tmp", numFiles)
      mergedStats(ix, delta).withColumn("id_col", lit(ix.idCol))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats.tmp")
      // PROMOTE: renames only, bounded by the marker
      fs.create(marker).close()
      fs.listStatus(stage).foreach { st =>
        // part file names carry a per-job UUID — no collision with the lake
        if (st.isFile && st.getPath.getName.startsWith("part-") &&
            !fs.rename(st.getPath, new HPath(s"$dir/postings/${st.getPath.getName}")))
          sys.error(s"appendStore: cannot promote ${st.getPath}")
      }
      fs.delete(stage, true)
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/dfs.tmp"), new HPath(s"$dir/dfs"))
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/stats.tmp"), new HPath(s"$dir/stats"))
      fs.delete(marker, false)
    } finally delta.postings.unpersist()
    load(spark, dir)
  }

  /** Delete documents from a [[save]]d store WITHOUT a lake-sized rewrite
    * — the correction/right-to-erasure path the reference gets from
    * Milvus's delete-by-PK. `ids` is a 1-column frame of doc ids
    * (delta-sized by contract — it broadcasts at load time until the next
    * compaction). Three artifacts change, all of them small: the (term,
    * df) dictionary decrements by the deleted docs' per-term presence,
    * the 1-row stats drop the deleted docs' count and token mass, and the
    * ids land in `tombstones/` — the postings LAKE is untouched; [[load]]
    * filters the tombstoned rows out with a broadcast anti-join, and the
    * next [[compactStore]] drops them physically and clears the set. The
    * one postings-lake read here (deriving the deleted docs' term
    * presence, id-filtered) is the documented maintenance cost — it
    * replaces the full refit a correction would otherwise force.
    *
    * Because deletion derives from the loaded (already-filtered) postings,
    * the operation is idempotent: re-tombstoning an id decrements
    * nothing; an id absent from the lake decrements nothing but still
    * joins the set (so a later re-add is still forced through
    * compaction). Contract edge: a document that was indexed with EMPTY
    * text has no postings rows, so its n_docs/sum_dl contribution cannot
    * be derived and is NOT decremented — tombstone-then-compact still
    * serves correctly for every query (no postings means no candidacy);
    * exact stats for that corner need the refit. Same staged-promote /
    * `_append_inprogress` crash posture and single-maintenance-owner
    * contract as [[appendStore]]; search equivalence and artifact-level
    * delete+re-add ≡ refit are spec-pinned, and the r6 gate row drives
    * save → tombstone → search under the corrected-corpus oracle.
    */
  def tombstoneStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                     ids: DataFrame, numFiles: Int = 8): Index = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(numFiles >= 1, s"numFiles $numFiles must be >= 1")
    require(ids.columns.length == 1,
      s"ids must be a 1-column frame of doc ids, got ${ids.columns.mkString(", ")}")
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new HPath(s"$dir/_append_inprogress")
    require(!fs.exists(marker),
      s"tombstoneStore at $dir: a maintenance job died mid-promote (marker " +
        s"$marker present) — inspect the store and staged dirs, then remove " +
        "the marker to retry")
    val ix = load(spark, dir)
    val newIds = ids.select(col(ids.columns.head).as(ix.idCol)).distinct()
    // the loaded postings already exclude prior tombstones, so a repeated
    // id can never decrement twice
    val deleted = ix.postings.join(newIds, Seq(ix.idCol), "left_semi").persist()
    try {
      val dfDec = deleted.groupBy(col("term"))
        .agg(count(lit(1)).as("__dec"))
      val newDfs = ix.dfs.join(dfDec, Seq("term"), "left_outer")
        .select(col("term"),
          (col("df") - coalesce(col("__dec"), lit(0L))).as("df"))
        .where(col("df") > 0)
      val delStats = deleted.select(col(ix.idCol), col("dl")).distinct()
        .agg(count(lit(1)).as("__n"), coalesce(sum(col("dl")), lit(0L)).as("__dl"))
      val newStats = ix.docStats.crossJoin(delStats)
        .select((col("n_docs") - col("__n")).as("n_docs"),
          (col("sum_dl") - col("__dl")).as("sum_dl"))
      val tombPath = new HPath(s"$dir/tombstones")
      val allTombs =
        if (fs.exists(tombPath))
          spark.read.parquet(tombPath.toString).unionByName(newIds).distinct()
        else newIds
      // STAGE everything, then promote by renames under the marker
      writeTermSorted(newDfs, s"$dir/dfs.tmp", numFiles)
      newStats.withColumn("id_col", lit(ix.idCol))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats.tmp")
      allTombs.coalesce(1).write.mode("overwrite").parquet(s"$dir/tombstones.tmp")
      fs.create(marker).close()
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/dfs.tmp"), new HPath(s"$dir/dfs"))
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/stats.tmp"), new HPath(s"$dir/stats"))
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/tombstones.tmp"), tombPath)
      fs.delete(marker, false)
    } finally deleted.unpersist()
    load(spark, dir)
  }

  /** Upsert-by-id against a [[save]]d store — the reference's
    * Milvus-upsert semantics (`loader.js:63-68` re-inserts by primary
    * key) as ONE crash-atomic maintenance step. When no incoming id is
    * live or tombstoned in the store (a pure insert) this IS
    * [[appendStore]] — delta-sized. Otherwise the corrected store is
    * computed in one pass — postings = (lake minus the batch's ids,
    * tombstones folded out) ∪ the batch's fresh postings, dfs/stats
    * merged arithmetically (dictionary-sized, integer-exact, the
    * [[tombstoneStore]] decrements plus the [[append]] increments) — and
    * STAGED whole, then promoted by renames under the usual
    * `_append_inprogress` marker: a crash before the promote leaves the
    * live store byte-identical; a crash inside the sub-second rename
    * window leaves the marker, and every reader and maintenance job
    * refuses loudly. (A tombstone→compact→append chain would be three
    * separately-atomic steps whose in-between states look HEALTHY — a
    * crash after the tombstone pass silently serves the store with the
    * upserted docs deleted; self-review r16 #2.) The replace path costs
    * one postings-lake rewrite — batch corrections on the maintenance
    * cadence, like [[compactStore]]. Result is spec-pinned ≡ a full
    * refit with those documents replaced; prior tombstones retire with
    * the rewrite.
    *
    * Contract edge, shared with [[tombstoneStore]]: a LIVE document
    * whose stored text had ZERO tokens leaves no postings rows, so the
    * store cannot see it — replacing such an id under-decrements
    * n_docs/sum_dl by the empty doc's contribution (the refit
    * equivalence holds for documents with at least one token; exact
    * stats for the empty-text corner need the refit). Searches are
    * unaffected either way — an empty doc was never a candidate.
    */
  def upsertStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                  docs: DataFrame, textCol: String,
                  numFiles: Int = 8): Index = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(numFiles >= 1, s"numFiles $numFiles must be >= 1")
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ix = load(spark, dir) // refuses a dangling marker
    val idCol = ix.idCol
    // persisted: the one-job probe and the removed-rows derivation reuse
    // it instead of re-running the docs lineage per Spark job
    // (self-review r16 pass 2 #6)
    val ids = docs.select(col(idCol)).distinct().persist()
    val tombPath = new HPath(s"$dir/tombstones")
    // ONE probe job: is any incoming id live in the lake OR tombstoned?
    val liveProbe = ix.postings.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol))
    val probe =
      if (fs.exists(tombPath))
        liveProbe.unionByName(spark.read.parquet(tombPath.toString)
          .join(ids, Seq(idCol), "left_semi").select(col(idCol)))
      else liveProbe
    val touchesStore = probe.limit(1).count() > 0
    if (!touchesStore) {
      try return appendStore(spark, dir, docs, textCol, numFiles) // pure insert
      finally ids.unpersist()
    }
    val delta = fit(docs, idCol, textCol)
    delta.postings.persist()
    val removed = ix.postings.join(ids, Seq(idCol), "left_semi").persist()
    try {
      // corrected artifacts, computed against the LIVE store (reads
      // happen during staging, before any rename touches the inputs)
      val keep = ix.postings.join(ids, Seq(idCol), "left_anti")
      val remDfs = removed.groupBy(col("term")).agg(count(lit(1)).as("__dec"))
      val newDfs = ix.dfs.join(remDfs, Seq("term"), "left_outer")
        .select(col("term"),
          (col("df") - coalesce(col("__dec"), lit(0L))).as("df"))
        .where(col("df") > 0)
        .join(delta.dfs.withColumnRenamed("df", "__inc"), Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("__inc"), lit(0L))).as("df"))
      val remStats = removed.select(col(idCol), col("dl")).distinct()
        .agg(count(lit(1)).as("__n"), coalesce(sum(col("dl")), lit(0L)).as("__dl"))
      val newStats = ix.docStats.crossJoin(remStats).crossJoin(
          delta.docStats.select(col("n_docs").as("__an"), col("sum_dl").as("__adl")))
        .select((col("n_docs") - col("__n") + col("__an")).as("n_docs"),
          (col("sum_dl") - col("__dl") + col("__adl")).as("sum_dl"))
      // STAGE the whole corrected store, then promote by renames
      writeTermSorted(keep.unionByName(delta.postings),
        s"$dir/postings.upsert.tmp", numFiles)
      writeTermSorted(newDfs, s"$dir/dfs.tmp", numFiles)
      newStats.withColumn("id_col", lit(idCol))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats.tmp")
      val marker = new HPath(s"$dir/_append_inprogress")
      fs.create(marker).close()
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/postings.upsert.tmp"), new HPath(s"$dir/postings"))
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/dfs.tmp"), new HPath(s"$dir/dfs"))
      graft.sources.LakeLayout.swapDir(fs,
        new HPath(s"$dir/stats.tmp"), new HPath(s"$dir/stats"))
      fs.delete(tombPath, true) // folded into the rewrite
      fs.delete(marker, false)
    } finally {
      delta.postings.unpersist(); removed.unpersist(); ids.unpersist()
    }
    load(spark, dir)
  }

  /** Periodic maintenance for an [[appendStore]]-grown store: every daily
    * append adds `numFiles` files whose term ranges overlap the lake's —
    * a year of appends is ~365·numFiles files whose per-file open/footer
    * cost grows linearly and whose overlapping term ranges erode the
    * row-group skipping the probe's pushed `In(term)` relies on. Rewrites
    * the postings lake term-partitioned/term-sorted (stage + one
    * [[graft.sources.LakeLayout.swapDir]]; a crash before the swap leaves
    * the store byte-identical); dfs/stats are untouched — appends rewrite
    * them whole already. Same single-maintenance-owner contract as
    * [[appendStore]]; refuses to run over a store with a dangling
    * `_append_inprogress` marker, and brackets its own swap in the SAME
    * marker, so a crash inside swapDir's sub-second rename window makes
    * the next maintenance job refuse loudly (the data then sits intact in
    * `postings` or `postings.swap.bak` — swapDir never deletes the
    * original before the promote lands) instead of dying in load() with a
    * bare missing-path error.
    *
    * Compaction also RETIRES the tombstone set ([[tombstoneStore]]): the
    * rewrite reads the loaded (tombstone-filtered) postings, so the
    * deleted rows leave the lake physically, and the now-redundant
    * `tombstones/` dir is dropped inside the same marker window — after
    * which the freed ids may be re-added by [[appendStore]].
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                   numFiles: Int = 8): Index = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(numFiles >= 1, s"numFiles $numFiles must be >= 1")
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new HPath(s"$dir/_append_inprogress")
    require(!fs.exists(marker),
      s"compactStore at $dir: a maintenance job died mid-promote (marker " +
        "present) — inspect postings/ and postings.swap.bak, then remove " +
        "the marker to retry")
    // loaded postings = raw lake minus live tombstones — the compacted
    // lake is born corrected
    writeTermSorted(load(spark, dir).postings,
      s"$dir/postings.compact.tmp", numFiles)
    fs.create(marker).close()
    graft.sources.LakeLayout.swapDir(fs,
      new HPath(s"$dir/postings.compact.tmp"), new HPath(s"$dir/postings"))
    fs.delete(new HPath(s"$dir/tombstones"), true)
    fs.delete(marker, false)
    load(spark, dir)
  }

  /** Top-k per query over a built [[Index]] — [[topK]]'s search half,
    * identical arithmetic (the two are fit ∘ search by construction).
    *
    * SCAN pruning (`termPruneMax`, the [[IncrementalDedup.deltaPairs]]
    * pattern): a candidate posting can only survive by equi-joining a
    * query term, so filtering the postings (and dfs) scans by the batch's
    * distinct term set is a sound superset filter — and it reaches parquet
    * as a pushed `In(term)`, so a [[save]]d lake (term-partitioned,
    * sortWithinPartitions(term) at rest → tight row-group term ranges)
    * skips the overwhelming share of its IO instead of reading every row
    * group and discarding executor-side after the broadcast join. The
    * (qid, term) batch is computed ONCE at plan-build and localized — it
    * is driver-sized by contract, it broadcasts anyway — and BOTH the
    * prune key set and the broadcast join side derive from that one
    * result, so the queries' upstream lineage (which may be a whole
    * embedding/tokenize pipeline) never executes twice. If the batch
    * somehow exceeds `termPruneMax` distinct terms the scan filter is
    * skipped (identical results, just no skipping). 0 disables both the
    * collect and the prune — the fully lazy single-plan path. With the
    * prune in place the per-term df dictionary shrinks to the query's
    * terms, so it broadcasts; the pruned postings join `broadcast(qterms)`
    * FIRST, so nothing dictionary-sized ever pre-joins the postings.
    *
    * SNAPSHOT-AT-CALL-TIME: with the prune on (the default), CONSTRUCTING
    * the returned DataFrame runs the queries' upstream lineage once (Spark
    * jobs fire before any action on the result), and the localized batch
    * FREEZES the query side — re-executing the returned plan after the
    * queries table changes serves the batch as it was at this call, not
    * the new rows. Callers that need lazy construction or a live query
    * side pass `termPruneMax = 0` (identical results, single lazy plan,
    * no scan skipping).
    */
  def searchIndex(ix: Index, queries: DataFrame, qidCol: String,
                  qtextCol: String, k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  termPruneMax: Int = 1 << 16): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(qidCol != ix.idCol && qidCol != "rank" && ix.idCol != "rank",
      s"qidCol/${ix.idCol} must differ from each other and from 'rank'")
    require(!Reserved(qidCol) && !Reserved(ix.idCol),
      s"id columns must avoid the internal names ${Reserved.mkString(", ")}")
    val idCol = ix.idCol
    // the same double the inline stats aggregate produces: long sums cast
    // at the point of division
    val stats = ix.docStats.select(
      col("n_docs").cast("double").as("n"),
      (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val qterms0 = queries.select(
      col(qidCol), explode(array_distinct(tokens(col(qtextCol)))).as("term"))
    val (qterms, post, dfsSide) =
      if (termPruneMax <= 0) (qterms0, ix.postings, ix.dfs)
      else {
        val batch = qterms0.collect() // driver-sized by contract: it broadcasts
        val local = queries.sparkSession.createDataFrame(
          java.util.Arrays.asList(batch: _*), qterms0.schema)
        val ti = qterms0.schema.fieldIndex("term")
        val keys = batch.map(_.getString(ti)).distinct.toIndexedSeq
        if (keys.length > termPruneMax) (local, ix.postings, ix.dfs)
        else (local,
          ix.postings.where(col("term").isin(keys: _*)),
          // restricted to the batch's terms the dictionary is broadcast-
          // sized no matter how large the corpus vocabulary is
          broadcast(ix.dfs.where(col("term").isin(keys: _*))))
      }
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    post.join(broadcast(qterms), "term")
      .join(dfsSide, "term")
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol), col("term"), (idf * tfn).as("c"))
      .groupBy(col(qidCol), col(idCol))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("term"), col("c")))),
          x => x.getField("c")),
        lit(0.0), (acc, x) => acc + x).as("__s"))
      .select(col(qidCol), col(idCol), round(col("__s"), 6).as("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(qidCol))
          .orderBy(col("score").desc, col(idCol))).cast("long") - 1)
      .where(col("rank") < k)
      .select(col(qidCol), col("rank"), col(idCol), col("score"))
  }

  /** Top-k docs per query under BM25. `queries` is the serving batch
    * (small by contract — it broadcasts); docs is the corpus. Output:
    * (qidCol, rank, idCol, score) with rank 0-based, score rounded to 6.
    * Documents sharing no term with a query are never candidates (their
    * BM25 score is 0); a query whose terms miss the corpus entirely
    * returns no rows.
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, qidCol: String, qtextCol: String,
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchIndex(fit(docs, idCol, textCol), queries, qidCol, qtextCol, k, k1, b)

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009): fused score =
    * Σ_rankers 1/(c + rank + 1) over each ranker's 0-based rank of the
    * doc, missing ranks contributing nothing. Each input is a
    * (qidCol, idCol, rankCol) frame — typically the top-K of one ranker
    * ([[topK]], `AnnSearch.batchTopK`). The fold runs in ranker order
    * over a sorted array, so the fused score is bit-identical regardless
    * of partitioning, and needs NO rounding grain: every term is one
    * IEEE division every engine computes identically. Output: (qidCol,
    * rank, idCol, rrf) — rank 0-based by (rrf DESC, id).
    *
    * Scale shape: a union + one groupBy on (qid, id) of the rankers'
    * ALREADY-TRUNCATED top-K lists — rows in ≤ Σ_r |q|·k_r, nothing
    * corpus-sized touches the fusion.
    */
  def rrf(rankings: Seq[DataFrame], qidCol: String, idCol: String,
          rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    require(k >= 1, s"k $k must be >= 1")
    require(qidCol != idCol, s"qidCol and idCol must differ (both '$idCol')")
    Seq(qidCol, idCol).foreach(n =>
      require(n != "rank" && n != "rrf",
        s"'$n' collides with rrf's output columns (rank, rrf) — rename it"))
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(qidCol), col(idCol), lit(i).as("__r"),
        (lit(1.0) / (lit(c) + col(rankCol) + lit(1.0))).as("__c"))
    }.reduce(_.unionByName(_))
    tagged.groupBy(col(qidCol), col(idCol))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("__r"), col("__c")))),
          x => x.getField("__c")),
        lit(0.0), (acc, x) => acc + x).as("rrf"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(qidCol))
          .orderBy(col("rrf").desc, col(idCol))).cast("long") - 1)
      .where(col("rank") < k)
      .select(col(qidCol), col("rank"), col(idCol), col("rrf"))
  }
}
