package graft

/** Plan-shape regression tests: the scale claims SURVEY makes about these
  * queries (filters pushed into the parquet scan, bounded shuffle counts,
  * top-k as TakeOrderedAndProject, dimension-only broadcasts) are structural
  * plan properties — assert them so a refactor can't silently trade one
  * away. Asserted on the PLANNED query (sf0.001 inputs, nothing executed);
  * counts are upper bounds so AQE/statistics changes don't flake them.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  // Count exchange NODES: formatted explain prints each once in the tree and
  // once as a "(n) Exchange" detail section — count only the detail headers.
  private def exchanges(p: String): Int =
    "\\(\\d+\\) Exchange".r.findAllIn(p).length

  test("b3: plain-column isin filter is pushed into the parquet scan") {
    val p = plan("b3_whitelist")
    assert(p.contains("PushedFilters:"), p.take(800))
    assert(p.contains("In(event_type"), "the isin filter must reach the scan")
  }

  test("b1: scan reads only (doc_id, source); filter sits directly on the scan") {
    // right(source,1) is a derived expression — not pushable — so the audit
    // here is pruning (2 of documents' 5 columns) and no plan bloat between
    // scan and filter.
    val p = plan("b1_ext_filter")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("source") && !read.contains("text"),
      s"column pruning lost: $read")
    // regex tolerant of node numbering/indentation — the audited property is
    // only the filter's adjacency to the scan, not explain's formatting
    assert("""\+- Filter \(\d+\)\s*\n\s*\+- Scan parquet""".r.findFirstIn(p).isDefined,
      s"filter not directly above the scan:\n${p.take(600)}")
  }

  test("q1: pricing agg reads only the columns it needs") {
    val p = plan("q1_pricing_agg")
    // ReadSchema pruned to the aggregation inputs — not the full lineitem row
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && !read.contains("l_comment"),
      s"column pruning lost: $read")
  }

  test("p1: corpus clean is one aggregation shuffle plus the final sort") {
    val p = plan("p1_corpus_clean")
    assert(exchanges(p) <= 2, s"expected <=2 exchanges:\n${p.take(1200)}")
  }

  test("p3: gates fuse below the dedup shuffle; budget stage adds no window") {
    // The recipe's upstream (gates → exact dedup) is audited on
    // Queries.p3Deduped because Sampling.tokenBudget's two-pass prefix sum
    // rebuilds the frame via createDataFrame — an analysis barrier that
    // hides the subtree from p3_corpus_recipe's own plan.
    val p = Queries.p3Deduped(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // spread repartition + dedup groupBy — two exchanges for the upstream
    assert(exchanges(p) <= 2, s"expected <=2 exchanges:\n${p.take(1500)}")
    // the multiply-gated filter must sit below the DEDUP shuffle (the
    // hashpartitioning(text…) exchange): formatted-explain detail sections
    // are numbered leaf-first, so compare node ids
    val filterId = "\\((\\d+)\\) Filter".r.findFirstMatchIn(p).map(_.group(1).toInt)
    val dedupId = "\\((\\d+)\\) Exchange\\nInput[^\\n]*\\nArguments: hashpartitioning\\(text".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(filterId.nonEmpty && dedupId.nonEmpty && filterId.get < dedupId.get,
      s"filter (node $filterId) must be below the dedup exchange (node $dedupId):\n${p.take(1500)}")
    // the full recipe's own plan: the post-budget projection + gate sort
    // only — and in particular NO window (the constant-stratum
    // Window.partitionBy trap would show up right here)
    val full = plan("p3_corpus_recipe")
    assert(exchanges(full) <= 1, s"expected <=1 exchange after the barrier:\n${full.take(1200)}")
    assert(!full.contains("Window"), s"budget stage must not plan a window:\n${full.take(1200)}")
  }

  test("no query plans a window over an empty partition spec (the single-partition trap)") {
    // Spark warns "No Partition Defined for Window operation! Moving all
    // data to a single partition" and then does exactly that — every row
    // through ONE task. A constant partition key constant-folds to the
    // same plan silently (the round-6/7 p3 regression). Walk every planned
    // query and refuse the shape outright.
    //
    // Blind spot, accepted: queries that EXECUTE at construction time
    // (the streaming gates, c8_ann_rewrite's collect, tokenBudget's eager
    // passes) expose only their post-barrier plan here — their internal
    // shapes are pinned by their own specs (and constructing them below
    // really runs them, which is the bulk of this test's runtime).
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, "/root/testdata/sf0.001").queryExecution.sparkPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => s"$name: WindowExec"
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => s"$name: WindowGroupLimitExec"
        }
      } catch { case e: Throwable => Seq(s"$name: planning failed: ${e.getMessage}") }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("u1: domain cap is one window shuffle + final sort; text never scanned") {
    val p = plan("u1_domain_cap")
    assert(exchanges(p) <= 2, s"expected <=2 exchanges:\n${p.take(1200)}")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("source") && !read.contains("text"),
      s"u1 must not scan the document text: $read")
  }

  test("e9b: the bloom probe plans ONE corpus scan — no bench scan, no join; the filter is broadcast-backed") {
    // the 100 TB decontamination claim: the bench side is a prebuilt
    // periodic artifact, so the per-corpus-job plan must touch only the
    // corpus — one parquet scan, zero joins, the filter folded into the
    // scan-side predicate as the BROADCAST-backed bloom_probe (r18: the
    // literal form re-allocated the multi-MB filter per task)
    val p = plan("e9b_contamination_bloom")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly one (corpus) scan, got $scans:\n${p.take(800)}")
    assert(!p.contains("Join"), s"bloom probe must not plan any join:\n${p.take(800)}")
    assert(p.contains("bloom_probe"), "the broadcast probe must gate the scan side")
    assert(!p.contains("might_contain"),
      "the literal-form probe must not reappear (per-task allocation)")
  }

  test("e10: passage overlap never plans a cartesian or pair-expanding join") {
    val p = plan("e10_passage_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"passage overlap must stay equi-join shaped:\n${p.take(1200)}")
  }

  test("p5: the composed scrub recipe never plans a cartesian or pair expansion") {
    // both constituent ops are counted-DF/blocklist shaped — composition
    // must not degrade them into a pair-expanding join. The ONE
    // BroadcastNestedLoopJoin present is l1's deliberate single-row
    // blocklist broadcast (the scalar-broadcast idiom, same class as
    // b5/q4's 1-row crossJoins): its build side is the collect_list
    // aggregate, never a table scan.
    val p = plan("p5_scrub_recipe")
    assert(!p.contains("CartesianProduct"),
      s"p5 must never plan a cartesian:\n${p.take(1200)}")
    // count detail headers only (formatted explain prints each node in the
    // tree AND as a "(n) Node" detail); the un-checkpointed l1-cleaned
    // lineage feeds BOTH sides of the scrub's rebuild join, so the single
    // blocklist broadcast legitimately appears in two branches
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"expected only the 1-row blocklist broadcast (<=2 lineage copies), got $bnlj")
  }

  test("q8: exact profile is 2 exchanges (countDistinct's two-phase); approx twin is 1") {
    // exact count(DISTINCT text) necessarily aggregates by text first and
    // re-aggregates globally — two exchanges by construction; the HLL twin
    // exists precisely to collapse that to ONE partial-merged aggregation
    val p = plan("q8_corpus_profile")
    assert(exchanges(p) <= 2, s"expected <=2 exchanges, got ${exchanges(p)}:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
    import org.apache.spark.sql.functions.{col, size, split}
    val corpus = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val ap = graft.api.CorpusRecipe(corpus).profile(col("n_tok"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(exchanges(ap) <= 1,
      s"approx profile must be one aggregation, got ${exchanges(ap)}:\n${ap.take(1200)}")
  }

  test("b17: ORC roundtrip prunes columns at the ORC scan") {
    val p = plan("b17_orc_roundtrip")
    assert(p.contains("Scan orc"), s"must read through the native ORC source:\n${p.take(600)}")
  }

  test("c8_ann_ivf_det: the deterministic IVF probe is a pruned TakeOrderedAndProject") {
    // the prune is an executor-side filter on the computed cluster column;
    // the top-k must still be the bounded-heap TakeOrderedAndProject, and
    // nothing in the probe may shuffle (scan-local score + filter)
    val p = plan("c8_ann_ivf_det")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(exchanges(p) == 0, s"probe must be shuffle-free, got ${exchanges(p)}")
    assert(p.contains("cluster_id IN") || p.contains("IN (0") || p.contains("isin") ||
      "cluster_id#\\d+ IN".r.findFirstIn(p).isDefined || p.contains(" IN "),
      s"nprobe prune filter missing:\n${p.take(1200)}")
  }

  test("c8_ann_ivfpq_det: the composed IVF_PQ probe is a shuffle-free TakeOrderedAndProject") {
    // same structural contract as the det-IVF probe: scan-local ADC score
    // (byte_lut_sum over the cached codes) + cluster prune + bounded-heap
    // top-k — no exchange anywhere in the probe
    val p = plan("c8_ann_ivfpq_det")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(exchanges(p) == 0, s"probe must be shuffle-free, got ${exchanges(p)}")
  }

  test("e2_minhash_sig: the sketch is row-local — no Window, no Generate over shingle rows") {
    // one kernel call per document after the spread; the only Generate
    // left is the k-row unpivot (Stack) of the finished signature
    import org.apache.spark.sql.catalyst.expressions.Stack
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val planned = SparkEntry.queries("e2_minhash_sig")(spark, Sf0001)
      .queryExecution.sparkPlan
    val windows = planned.collect { case w: WindowExec => w }
    assert(windows.isEmpty, s"sketch must not plan a window:\n$planned")
    val generators = planned.collect { case g: GenerateExec => g.generator }
    assert(generators.forall(_.isInstanceOf[Stack]),
      s"only the signature unpivot may generate rows, got $generators:\n$planned")
  }

  test("e2_minhash_pairs: the audited 5-exchange shape holds") {
    val p = plan("e2_minhash_pairs")
    assert(exchanges(p) <= 5, s"expected <=5 exchanges, got ${exchanges(p)}")
  }

  test("video nearPairs: the audited 6-exchange shape holds") {
    // parquet-backed frames (an in-memory fixture folds into a local scan)
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan-audit-frames").toString
    spark.range(0, 2000)
      .select((col("id") % 40).cast("string").as("video"), (col("id") % 300).as("fp"))
      .write.mode("overwrite").parquet(dir)
    val p = graft.operators.VideoDedup.nearPairs(spark.read.parquet(dir), "video", "fp")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(exchanges(p) <= 6, s"expected <=6 exchanges, got ${exchanges(p)}:\n$p")
  }

  test("c8_ann_exact: top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("c8_ann_exact")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("j1: customer broadcasts, lineitem is the streamed shuffle-hash probe") {
    val p = plan("j1_join_revenue")
    assert(p.contains("BroadcastHashJoin"), "customer→orders must broadcast")
    assert(p.contains("ShuffledHashJoin"), "fact join must be shuffled-hash")
    // the fact table must never be a hashed build relation
    val buildLines = p.linesIterator.filter(_.contains("BuildSide")).mkString("\n")
    assert(!p.contains("BroadcastExchange") ||
      !p.linesIterator.exists(l => l.contains("lineitem") && l.contains("Broadcast")),
      s"lineitem on a broadcast side:\n$buildLines")
  }

  test("q3: profiling stats are one aggregation shuffle, pruned to 2 columns") {
    val p = plan("q3_profile")
    assert(exchanges(p) <= 2, s"expected <=2 exchanges (agg + sort), got ${exchanges(p)}")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("event_type") && read.contains("value") && !read.contains("props"),
      s"column pruning lost: $read")
  }

  test("j4: band range join stays an equi-join (no nested-loop cartesian)") {
    val p = plan("j4_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must bucket into an equi-join")
  }

  test("j6: bucketed tables join with no exchange below the join") {
    val p = plan("j6_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"bucketed join must sort-merge in place:\n${p.take(1200)}")
    // the only exchanges are the post-join aggregation + final sort; a
    // non-bucketed layout would add one per join side
    assert(exchanges(p) <= 2, s"expected <=2 exchanges (agg + sort), got ${exchanges(p)}:\n${p.take(1500)}")
    assert(p.contains("Bucketed: true"), "scan must recognize the bucketed layout")
  }

  test("j5: interval join stays an equi-join (no nested-loop cartesian)") {
    val p = plan("j5_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join must bucket into an equi-join")
  }

  test("e2i: a bucketed signature lake plans ZERO lake-side shuffles on the delta probe") {
    // The deltaPairs contract (VERDICT r9 #1): corpus signatures reach the
    // pair join through their at-rest (band, bsig) bucketing — bucket
    // sizing, drop keys, and salt-cell counts arrive via broadcasts, so no
    // plan node above a lake scan is ever a shuffle. Audited with
    // broadcasts DISABLED so the pair join takes the sort-merge path a
    // too-big-to-broadcast delta takes at 100 TB (the explicit broadcast()
    // hints on the delta-sized bucket frames still apply — those are
    // broadcast-able at any scale by construction), and AQE off so the
    // executed plan carries concrete exchange nodes.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val lakeTable = Queries.ensureSigLake(spark, d)
      val deltaSigs = graft.operators.IncrementalDedup.bandSignatures(
        Tables.documents(spark, d).where(col("doc_id") % 10 === 0),
        "text", "doc_id", 8, 3, 4)
      val probe = graft.operators.IncrementalDedup.deltaPairs(
        spark.table(lakeTable), deltaSigs, "doc_id")
      val plan = probe.queryExecution.executedPlan
      def allLakeScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
        case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == lakeTable) => f
      }
      assert(allLakeScans(plan).nonEmpty, "the probe must scan the lake table")
      assert(allLakeScans(plan).forall(_.bucketedScan),
        "lake scans must read the at-rest bucketed layout")
      // scan pruning: the delta's bsig key set must reach parquet as a
      // pushed In so the sortBy(band, bsig) lake skips row groups — the
      // IO story (deltaPairs scaladoc, scanPruneMax)
      assert(allLakeScans(plan).forall(
        _.metadata.getOrElse("PushedFilters", "").contains("In(bsig")),
        "delta bsig keys must be pushed into the lake scan")
      // RAW lake signature rows must never cross a shuffle. From each
      // shuffle, walk DOWN through nodes that merely pass lake rows along
      // (unary ops, a broadcast join's streamed side): reaching a lake
      // scan means corpus-sized rows feed this exchange — the r9 defect.
      // Stop at aggregates (lake rows already reduced to per-bucket
      // counts), at shuffled joins (output is delta-involving pairs), and
      // at exchange boundaries (a broadcast of the delta-sized count
      // frame is the intended design).
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      def shufflesRawLake(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.tableIdentifier.exists(_.table == lakeTable)
        case b: BroadcastHashJoinExec =>
          shufflesRawLake(b.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.right
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.left
          })
        case _: BaseAggregateExec => false
        case _: SortMergeJoinExec => false
        case _: ShuffledHashJoinExec => false
        case _: org.apache.spark.sql.execution.exchange.Exchange => false
        case u if u.children.size == 1 => shufflesRawLake(u.children.head)
        case _ => false
      }
      val offending = plan.collect {
        case sh: ShuffleExchangeExec if shufflesRawLake(sh.child) => sh
      }
      if (offending.nonEmpty) {
        java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/e2i_plan.txt"),
          plan.treeString.getBytes("UTF-8"))
        java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/e2i_offenders.txt"),
          offending.map(_.treeString).mkString("\n=====\n").getBytes("UTF-8"))
      }
      assert(offending.isEmpty,
        s"lake rows must never re-shuffle on a delta probe: ${offending.size} offending exchange(s), trees in /tmp/e2i_offenders.txt")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("r5: the BM25 probe pushes In(term) into the persisted postings lake scan") {
    // The Bm25.searchIndex 100 TB claim: a serving batch's candidate
    // postings can only match the batch's terms, so the term set must
    // reach parquet as a pushed In — the saved lake is term-sorted within
    // partitions, so row-group term stats skip the rest of the lake's IO.
    // The dfs dictionary scan gets the same prune (and, restricted to the
    // batch's terms, broadcasts instead of shuffling the vocabulary).
    import org.apache.spark.sql.execution.FileSourceScanExec
    // AQE's AdaptiveSparkPlanExec hides the real tree from collect() —
    // same workaround as the e2i audit
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("r5_bm25_incremental")(
        spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan
      def scansUnder(tag: String) = plan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(p => p.toString.contains("graft_bm25_store") &&
            p.toString.contains(tag)) => f
      }
      val postings = scansUnder("postings")
      assert(postings.nonEmpty, "the probe must scan the persisted postings lake")
      assert(postings.forall(
        _.metadata.getOrElse("PushedFilters", "").contains("In(term")),
        "the query batch's terms must be pushed into the postings scan")
      val dfs = scansUnder("dfs")
      assert(dfs.nonEmpty && dfs.forall(
        _.metadata.getOrElse("PushedFilters", "").contains("In(term")),
        "the dictionary scan must carry the same pushed term prune")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("r6: the tombstone anti-join broadcasts and keeps In(term) pushed into the lake scan") {
    // The tombstoneStore 100 TB claim: deletion must not cost the probe
    // its IO shape — the tombstone set joins as a BROADCAST anti-join
    // (delta-sized by the compaction-cadence contract) ABOVE the scan,
    // and the query batch's In(term) still reaches parquet below it.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("r6_bm25_delete")(
        spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan
      val postings = plan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(p => p.toString.contains("graft_bm25_del") &&
            p.toString.contains("postings")) => f
      }
      assert(postings.nonEmpty, "the probe must scan the tombstoned lake")
      assert(postings.forall(
        _.metadata.getOrElse("PushedFilters", "").contains("In(term")),
        "deletion must not cost the probe its pushed term prune")
      val antis = plan.collect {
        case b: BroadcastHashJoinExec
          if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => b
      }
      assert(antis.nonEmpty,
        "the tombstone filter must be a broadcast anti-join, never a shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("ivf: batchTopKIvf's probe set statically prunes the partitioned lake scan") {
    // The batchTopKIvf 100 TB claim: unprobed cluster partitions are never
    // listed or opened. The probe set is injected as an isin on the
    // partition column, so it must surface as a PartitionFilter on the
    // scan and the scan must select strictly fewer partitions than the
    // lake holds — static pruning, not DPP's cost-model-gated variant.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = Tables.embeddings(spark, Sf0001)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
      val dim = emb.select(size(col("emb"))).head.getInt(0)
      val model = Queries.axisBlockIvfModel(dim)
      val dir = graft.sources.TempDirs.register(
        s"/tmp/graft_ivflake_audit_${ProcessHandle.current().pid()}")
      graft.operators.IvfIndex.write(
        graft.operators.IvfIndex.assign(emb.where(col("vec_id") >= 3), "emb", model), dir)
      val lake = spark.read.parquet(dir)
      val queries = emb.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("emb"))
      val out = graft.operators.AnnSearch.batchTopKIvf(
        lake, model, "emb", "vec_id", "cluster_id",
        queries, "qid", "emb", k = 5, nprobe = 2)
      val plan = out.queryExecution.executedPlan
      val scans = plan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_ivflake_audit")) => f
      }
      assert(scans.nonEmpty, "the probe must scan the partitioned lake")
      scans.foreach { f =>
        val pf = f.metadata.getOrElse("PartitionFilters", "")
        assert(pf.contains("cluster_id") && pf.contains("IN"),
          s"probed clusters must be a static PartitionFilter, got: $pf")
        val total = new java.io.File(dir).listFiles()
          .count(_.getName.startsWith("cluster_id="))
        // 3 queries × nprobe 2 → at most 6 probed clusters
        val selected = f.selectedPartitions.partitionCount
        assert(selected <= 6 && selected < total,
          s"scan must open only probed partitions: $selected of $total")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("m4: the snapshot streams into the broadcast anti join with zero exchanges") {
    // The CdcMerge 100 TB claim: only the (small) changelog shuffles for
    // its max_by reduce; the snapshot side is scan -> anti join, no
    // exchange. AQE off so the executed plan carries concrete nodes.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("m4_cdc_apply")(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan
      val antis = plan.collect {
        case b: BroadcastHashJoinExec if b.joinType == LeftAnti => b
      }
      assert(antis.nonEmpty,
        s"touched keys must broadcast into an anti join:\n${plan.treeString.take(800)}")
      antis.foreach { b =>
        val streamed = b.buildSide match {
          case BuildLeft => b.right
          case BuildRight => b.left
        }
        assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"the snapshot side must never shuffle:\n${streamed.treeString.take(800)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("r1: both branch doc filters reach the parquet scans; queries broadcast") {
    val p = plan("r1_retrieval_topk")
    // the query branch must never embed the whole corpus to keep three
    // documents' chunks — each branch's doc_id range is pushed into its scan
    assert(p.contains("LessThan(doc_id,3)"),
      s"query-branch filter not pushed:\n${p.take(800)}")
    assert(p.contains("GreaterThanOrEqual(doc_id,3)"),
      "base-branch filter not pushed")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      r.contains("doc_id") && r.contains("text") && !r.contains("source")),
      s"scans must prune to (doc_id, text): $reads")
    // one broadcast cross product (the query batch), never a shuffled one
    assert(p.contains("BroadcastNestedLoopJoin"), "query batch must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the scored cross product must not shuffle")
  }

  test("s7: upsample is scan-local — the only exchange is the final presentation sort") {
    val p = plan("s7_epoch_mix")
    assert(exchanges(p) <= 1, s"expected at most the orderBy exchange:\n${p.take(600)}")
    assert(!p.contains("Window"), "no window, no state — literal when-chains only")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.forall(r => !r.contains("text")),
      s"text must never be scanned for an id/source replication: $reads")
  }

  test("r4: hybrid fusion never plans an unbroadcast product; both rankers' shapes survive") {
    val p = plan("r4_hybrid_rrf")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "sparse candidates hash-join, the dense product broadcasts")
    assert(p.contains("BroadcastHashJoin"), "BM25 term join must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin"), "dense query batch must broadcast")
  }

  test("r3: BM25 is inverted-index shaped — term equi-joins, query terms broadcast, no cartesian") {
    val p = plan("r3_bm25_topk")
    // candidates come from hash joins on the term key; the only broadcast
    // nested loop is the 1-row stats frame
    assert(p.contains("BroadcastHashJoin"), "query terms must broadcast-equi-join")
    assert(!p.contains("CartesianProduct"),
      "BM25 must never plan a query x corpus cartesian")
    // the queries branch (doc_id < 3) is evaluated ONCE at plan-build —
    // driver-sized by contract — and joins as a localized batch, so only
    // the corpus branch's filter appears in the serving plan
    assert(p.contains("GreaterThanOrEqual(doc_id,3)"),
      "the corpus doc filter must reach the parquet scans")
    assert(p.contains("LocalTableScan") && !p.contains("LessThan(doc_id,3)"),
      "the query batch must join as the one localized plan-build result, " +
        "not re-execute its lineage inside the serving plan")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      r.contains("doc_id") && r.contains("text") && !r.contains("source")),
      s"scans must prune to (doc_id, text): $reads")
  }

  test("t30: absolute discounting plans key-equi-joins; scalars are the only nested loops") {
    val p = plan("t30_ngram_absdiscount")
    assert(!p.contains("CartesianProduct"),
      "the discount view must never plan a true cartesian")
    // the five count/type joins are keyed (broadcast or shuffled hash/SMJ);
    // nested-loop joins appear ONLY for the three 1-row scalar folds
    // (n_total, d3, d2) — each prints one join node in the formatted plan
    val bnl = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 3, s"expected <= 3 one-row scalar folds, got $bnl nested loops")
  }

  test("t28: the E-step plans the vocabulary shape — distinct words, no joins") {
    val p = plan("t28_unigram_estep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the E-step is a per-word mapPartitions — nothing may pair-expand")
    // distinct words + the fold: bounded exchanges (distinct's two-phase +
    // the final sort), never a corpus-grain shuffle cascade
    assert(exchanges(p) <= 3, s"E-step must stay <= 3 exchanges:\n${p.take(400)}")
  }

  /** (shuffle origin, partitions its reader ran on) for every shuffle of an
    * EXECUTED adaptive plan: the AQE read's partition specs when AQE
    * rewrote the read, else the exchange's own partition count.
    */
  private def shuffleReads(df: org.apache.spark.sql.DataFrame): Seq[(String, Int)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }).flatMap(walk)
    val nodes = walk(df.queryExecution.executedPlan)
    val readBy = nodes.collect {
      case r: AQEShuffleReadExec if r.child.isInstanceOf[ShuffleQueryStageExec] =>
        r.child.asInstanceOf[ShuffleQueryStageExec].id -> r.partitionSpecs.size
    }.toMap
    nodes.collect { case s: ShuffleQueryStageExec =>
      val e = s.shuffle.asInstanceOf[ShuffleExchangeExec]
      e.shuffleOrigin.toString -> readBy.getOrElse(s.id, e.numPartitions)
    }
  }

  test("parallelism policy: tiny shuffles keep defaultParallelism partitions under AQE") {
    // a few KB of map output: at Spark's 1 MB minPartitionSize default AQE
    // coalesces both shuffles to ONE partition; the session's 1-byte floor
    // keeps defaultParallelism (4 here) for both origins
    import spark.implicits._
    val n = spark.sparkContext.defaultParallelism
    val keyed = spark.range(0, 20000, 1, n).select(($"id" % 5000).as("k"), $"id")
    val agg = keyed.groupBy($"k").count()
    assert(agg.collect().length == 5000)
    assert(shuffleReads(agg) == Seq("ENSURE_REQUIREMENTS" -> n),
      agg.queryExecution.executedPlan.toString)
    val rep = keyed.repartition($"k")
    assert(rep.collect().length == 20000)
    assert(shuffleReads(rep) == Seq("REPARTITION_BY_COL" -> n),
      rep.queryExecution.executedPlan.toString)
  }
}
