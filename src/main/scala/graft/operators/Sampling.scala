package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixing: every engine (and any
  * other system given the same recipe) selects EXACTLY the same rows, with
  * no RNG state, no seed plumbing, and no reliance on partitioning order —
  * the property `df.sample()` cannot give you across reruns, engines, or
  * cluster layouts.
  *
  * The decision bit for a row is a pure function of its id: the first 8 hex
  * chars of `md5(string(id))` read as a uniform draw in [0, 2³²), kept iff
  * below `rate · 2³²`. md5's hex form is identical in every SQL engine, so
  * the SAME sample is reproducible in DuckDB/Trino/any warehouse — which is
  * what makes the s1 gate row oracle-checkable, and what makes a 100 TB
  * corpus re-sample auditable months later.
  *
  * Scale shape: a scan-local filter — no shuffle, no state; composes with
  * partition pruning and column pruning untouched.
  */
object Sampling {

  /** Hex threshold string for a rate in [0,1): `floor(rate·2³²)` as 8 hex
    * digits; lexicographic compare on fixed-width lowercase hex == numeric
    * compare.
    */
  private def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0,1]")
    // rate 1.0 must keep EVERY row, including the ~2^-32 draws equal to
    // 'ffffffff' — "g" sorts above any 8-hex-digit draw, so `draw < "g"`
    // is a keep-all, mirroring keep()'s rate>=1.0 short-circuit.
    if (rate >= 1.0) "g"
    else f"${math.min((rate * 4294967296.0).round, 0xffffffffL)}%08x"
  }

  /** The uniform draw for a row id: first 8 hex chars of md5(string(id)). */
  def drawHex(id: Column): Column = substring(md5(id.cast("string")), 1, 8)

  /** Keep-predicate for a flat rate. */
  def keep(id: Column, rate: Double): Column =
    if (rate >= 1.0) lit(true) else drawHex(id) < lit(thresholdHex(rate))

  /** Deterministic, disjoint, exhaustive split assignment (train/val/test):
    * the same md5 draw as [[keep]]/[[stratified]], cut at the cumulative
    * fractions. `fractions` are (label, share) in order; any remainder of
    * the unit interval gets `restLabel`. Because the draw is a pure
    * function of the id, a document's split NEVER changes as the corpus
    * grows or re-partitions — the eval-contamination guarantee a per-run
    * random split cannot give — and any engine recomputes the identical
    * assignment (the s3 gate row's oracle does, in DuckDB).
    *
    * Scale shape: a scan-local projection — no shuffle, no state.
    */
  def splitLabel(
      id: Column,
      fractions: Seq[(String, Double)],
      restLabel: String): Column = {
    require(fractions.nonEmpty, "need at least one (label, fraction)")
    require(fractions.forall(_._2 >= 0.0), s"negative fraction in $fractions")
    val cums = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    require(cums.last <= 1.0 + 1e-9, s"fractions sum past 1.0: $fractions")
    val draw = drawHex(id)
    fractions.map(_._1).zip(cums).foldRight(lit(restLabel): Column) {
      case ((label, cum), acc) =>
        when(draw < lit(thresholdHex(math.min(cum, 1.0))), lit(label)).otherwise(acc)
    }
  }

  /** Stratified deterministic sample: per-stratum rates (e.g. language or
    * source mixing weights), `defaultRate` for strata not listed. Rows keep
    * their columns; the caller filters nothing else.
    */
  def stratified(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0): DataFrame = {
    val thr = rates.toSeq.sortBy(_._1).foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (k, r)) => when(col(stratumCol) === k, lit(thresholdHex(r))).otherwise(acc)
    }
    df.where(drawHex(col(idCol)) < thr)
  }

  /** Deterministic fixed-k per-stratum draw — "exactly k rows per group"
    * (balanced eval sets, per-domain caps by COUNT where [[stratified]]
    * caps by rate): rank each stratum's rows by the same engine-portable
    * md5 draw the rate rows use (id tie-break keeps hash collisions
    * deterministic) and keep rank ≤ k; a stratum with fewer than k rows
    * keeps them all. One window partitioned BY THE STRATUM — never a
    * single-partition window, and unlike a rate there is no distribution
    * assumption: the draw order is uniform whatever the id density.
    * Strata are assumed many-rowed but bounded in count (the usual
    * lang/source shape); a single whole-corpus stratum degrades to one
    * window partition — use [[tokenBudget]]'s two-pass pattern there.
    */
  def fixedKPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(!df.columns.contains("__rk"),
      "fixedKPerStratum uses a temp column __rk; input already has one")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(drawHex(col(idCol)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__rk")
  }

  /** EXACT token-budget mix: per stratum, admit documents in draw order
    * (the md5 draw again, so the admitted set is reproducible anywhere)
    * while the running token total stays ≤ the stratum's budget. Tokens
    * are positive, so the cumulative sum is monotone and the admitted set
    * is a PREFIX of the draw order — greedy, not knapsack: the document
    * that would cross the budget (and everything after it) is dropped.
    *
    * Scale shape: a DISTRIBUTED two-pass prefix sum (the [[GlobalRank]]
    * zipWithIndex pattern, extended from counting to summing). The naive
    * `sum().over(Window.partitionBy(stratum).orderBy(draw))` form is the
    * 100 TB trap twice over: strata are few and huge, so each window
    * partition is one task's worth of the corpus — and a CONSTANT stratum
    * column constant-folds out of the partition spec entirely, silently
    * moving ALL rows to a single partition (Spark's own WindowExec
    * warning). Here instead: range-partition by (stratum, draw, id) — a
    * total order, so partition i holds keys strictly below partition i+1
    * and every stratum spreads across many partitions because the md5
    * draw is uniform — sort within partitions, take per-(partition,
    * stratum) token subtotals in one cheap pass (#partitions × #strata
    * rows to the driver, both bounded), broadcast the prefix offsets, and
    * filter with a running per-stratum sum in the second pass. The second
    * job reuses the first's shuffle files (same lineage → skipped
    * stages). No single-partition stage for ANY stratum shape, including
    * the single-stratum whole-corpus budget.
    *
    * EAGERNESS AND LINEAGE: pass 1 runs a real job (scan + range shuffle +
    * a #partitions×#strata-row collect) at CALL time, not lazily at the
    * first downstream action, and the returned frame is rebuilt with
    * `createDataFrame` over the pass-2 RDD — an analysis barrier: Catalyst
    * cannot push filters or prune columns through it into the source.
    * Filter and project to the admitted schema BEFORE calling.
    *
    * NULL SEMANTICS (matches the SQL window form this replaced): a null
    * stratum is its own stratum budgeted at `defaultBudget` (the same
    * otherwise-branch [[stratified]] gives null strata); `tokenCol` is
    * cast to long in the plan, so string/decimal token columns coerce with
    * SQL semantics, and a null (or uncastable) token counts 0 toward the
    * budget — the row is admitted if the running sum is still within it.
    */
  def tokenBudget(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokenCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    // collision-free temp names: never silently overwrite a user column
    def temp(base: String): String =
      Iterator.iterate(base)(_ + "_").dropWhile(df.columns.contains).next()
    val drawName = temp("__tb_draw")
    val tokName = temp("__tb_tok")
    val sorted = df
      .withColumn(drawName, drawHex(col(idCol)))
      .withColumn(tokName, col(tokenCol).cast("long"))
      .repartitionByRange(col(stratumCol), col(drawName), col(idCol))
      .sortWithinPartitions(col(stratumCol), col(drawName), col(idCol))
    val schema = sorted.schema
    val si = schema.fieldIndex(stratumCol)
    val ti = schema.fieldIndex(tokName)
    val rdd = sorted.rdd // ONE conversion — both jobs share the shuffle
    // function VALUES (not local defs): they close over only (si, ti) and
    // serialize standalone, instead of pulling the enclosing module into
    // the task closure
    val tokOf: Row => Long = r => if (r.isNullAt(ti)) 0L else r.getLong(ti)
    // null strata key as None — a real stratum, not a dropped row
    val keyOf: Row => Option[String] = r => Option(r.get(si)).map(_.toString)
    val budgetOf: Option[String] => Long = {
      case Some(k) => budgets.getOrElse(k, defaultBudget)
      case None    => defaultBudget
    }
    // pass 1: per-(partition, stratum) token subtotals — tiny by construction
    val subtotals: Array[(Int, Array[(Option[String], Long)])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.HashMap.empty[Option[String], Long]
        it.foreach { r =>
          val k = keyOf(r); m.update(k, m.getOrElse(k, 0L) + tokOf(r))
        }
        Iterator.single((pid, m.toArray))
      }.collect()
    // per-stratum prefix offsets: tokens in strictly earlier partitions
    val offsets: Map[(Int, Option[String]), Long] = {
      val acc = scala.collection.mutable.HashMap.empty[Option[String], Long]
      val out = Map.newBuilder[(Int, Option[String]), Long]
      subtotals.sortBy(_._1).foreach { case (pid, sums) =>
        sums.foreach { case (k, s) =>
          out += ((pid, k) -> acc.getOrElse(k, 0L))
          acc.update(k, acc.getOrElse(k, 0L) + s)
        }
      }
      out.result()
    }
    val bOff = spark.sparkContext.broadcast(offsets)
    // pass 2: running per-stratum cumulative sum, seeded from the offsets
    val kept = rdd.mapPartitionsWithIndex { (pid, it) =>
      val running = scala.collection.mutable.HashMap.empty[Option[String], Long]
      it.filter { r =>
        val k = keyOf(r)
        val cum = running.getOrElse(k, bOff.value.getOrElse((pid, k), 0L)) + tokOf(r)
        running.update(k, cum)
        cum <= budgetOf(k)
      }
    }
    spark.createDataFrame(kept, schema).drop(drawName, tokName)
  }

  /** Target-MIXTURE token budget: the user states desired SHARES per
    * stratum (en 0.5, zh 0.2, …) and a total token budget; the per-stratum
    * budgets fall out, and the kept set is [[tokenBudget]]'s EXACT
    * prefix-sum cut. The subtlety this owns: a stratum may not HAVE
    * `share × total` tokens, and silently under-filling it would skew the
    * mixture — so the total is scaled DOWN to the binding constraint,
    * `achievable = min(total, min_s(available_s / share_s))`, keeping the
    * proportions exact (the binding stratum is admitted whole). Strata
    * not in `shares` get budget 0 — a mixture spec is a whitelist.
    *
    * Cost beyond [[tokenBudget]]'s two passes: ONE #strata-row aggregate
    * for the availability totals (the [[tokenBudgetByRate]] shape).
    * Deterministic given (corpus, shares, total) — the s4 gate row's
    * oracle recomputes achievable/budgets/cut in SQL and hash-matches.
    */
  def mixtureBudget(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokenCol: String,
      shares: Map[String, Double],
      totalTokens: Long): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(s => s > 0.0 && s <= 1.0),
      "shares must be in (0, 1]")
    require(math.abs(shares.values.sum - 1.0) <= 1e-9, "shares must sum to 1")
    require(totalTokens >= 0, "totalTokens must be non-negative")
    val totals: Map[String, Long] = df
      .where(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol))
      .agg(sum(col(tokenCol).cast("long")).as("__tot"))
      .collect()
      // r.get(0).toString, not getString: non-string strata (an int lang
      // id) must behave like temperatureMix's, not ClassCastException
      // (ADVICE r13) — the stratified() when-chain compares against the
      // same string form
      .map(r => r.get(0).toString -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    // double division + truncation, the exact arithmetic the SQL oracle
    // replays (floor == truncate for non-negatives). A share stratum
    // ABSENT from the corpus does not bind (matching the oracle's inner
    // join): it can't contribute rows either way, and letting its zero
    // availability drive achievable to 0 would silently empty the whole
    // corpus because one configured language is missing today.
    val achievable = (Seq(totalTokens) ++
      shares.collect { case (k, s) if totals.contains(k) => (totals(k) / s).toLong }).min
    val budgets = shares.map { case (k, s) => k -> (s * achievable).toLong }
    tokenBudget(df, idCol, stratumCol, tokenCol, budgets, defaultBudget = 0L)
  }

  /** Temperature-based mixture rebalancing — the multilingual-pretraining
    * standard (Conneau & Lample, NeurIPS 2019; Devlin et al.'s mBERT
    * exponentiated smoothing): sampling shares q_s ∝ p_s^α flatten the
    * corpus's natural stratum distribution p_s toward uniform as α → 0,
    * up-weighting low-resource strata without hand-written shares (the
    * difference from [[mixtureBudget]], where the user states the target).
    *
    * A document-count target `totalDocs` realizes the shares as
    * deterministic per-stratum keep-rates `t·q_s / n_s` through
    * [[stratified]] — scan-local, no shuffle, admitted counts concentrate
    * on t·q_s. A low-resource stratum saturates (rate 1.0) when asked for
    * more documents than it has; like mixtureBudget, the target scales
    * down to the binding stratum `t = min(totalDocs, min_s n_s/q_s)` so
    * the MIXTURE stays exact and saturation is never silent.
    *
    * Every float step is engine-portable for the s6 oracle: the weight
    * sum folds in stratum-name order, and α = 0.5 routes through sqrt
    * (IEEE correctly-rounded everywhere, which `pow` is not guaranteed
    * to be). Null strata are excluded — a mixture rebalance is over the
    * strata it can see.
    */
  def temperatureMix(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      alpha: Double,
      totalDocs: Long): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha $alpha outside [0, 1]")
    require(totalDocs > 0, "totalDocs must be positive")
    val counts: Seq[(String, Long)] = df
      .where(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toSeq.sortBy(_._1)
    require(counts.nonEmpty, s"no non-null $stratumCol strata to mix")
    val n = counts.map(_._2).sum
    def powA(p: Double): Double =
      if (alpha == 0.5) math.sqrt(p) else math.pow(p, alpha)
    val ws = counts.map { case (k, c) => k -> powA(c.toDouble / n.toDouble) }
    val denom = ws.map(_._2).sum // left fold in stratum-name order
    val qs = ws.map { case (k, w) => k -> w / denom }
    val capacity = qs.zip(counts).map { case ((_, q), (_, c)) => c.toDouble / q }.min
    val t = math.min(totalDocs.toDouble, capacity)
    // min(1, ·): the binding stratum's rate is 1 only up to FP round-trip
    // ((n/q)·q/n can land a hair above one, which thresholdHex rejects)
    val rates = qs.zip(counts).map { case ((k, q), (_, c)) =>
      k -> math.min(1.0, t * q / c.toDouble)
    }.toMap
    stratified(df, idCol, stratumCol, rates, defaultRate = 0.0)
  }

  /** Epoch-style upsampling — the data-recipe knob the mixture family
    * lacked: [[temperatureMix]]/[[mixtureBudget]] can only sample DOWN,
    * but pretraining recipes run scarce high-quality sources for MORE
    * than one epoch (weights like {wiki → 3.0, books → 1.4, web → 0.6}).
    * A weight w replicates each row floor(w) times plus one more with
    * probability frac(w) — the extra copy decided by the deterministic
    * md5 draw (seeded "epoch|id", decorrelated from [[keep]]'s draw on
    * the bare id), so a stratum's realized mass is exactly
    * floor(w)·n + |{draws < frac}| and any engine recomputes the same
    * corpus. Output: every input column plus a 1-based `epoch` index —
    * (id, epoch) is the new unique key, so downstream packing/sharding
    * keeps its grain. Weight 0 drops the stratum; null strata take
    * `defaultWeight`.
    *
    * Scale shape: scan-local — a when-chain of literals picks
    * (floor, frac-threshold), one md5 per row, and the copy explode is a
    * generator (no shuffle, no state; output partition sizes grow by at
    * most ceil(max weight)×).
    */
  def upsample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      weights: Map[String, Double],
      defaultWeight: Double = 1.0): DataFrame = {
    (defaultWeight +: weights.values.toSeq).foreach(w =>
      require(w >= 0.0 && w <= 1000.0, s"weight $w outside [0, 1000]"))
    Seq("epoch", "__copies").foreach(n =>
      require(!df.columns.contains(n),
        s"input already has a $n column — rename it before upsample"))
    def whenChain(f: Double => Column, default: Double): Column =
      weights.toSeq.sortBy(_._1).foldLeft(f(default)) {
        case (acc, (k, v)) => when(col(stratumCol) === k, f(v)).otherwise(acc)
      }
    val floorW = whenChain(v => lit(math.floor(v).toLong), defaultWeight)
    val thr = whenChain(v => lit(thresholdHex(v - math.floor(v))), defaultWeight)
    val draw = drawHex(concat_ws("|", lit("epoch"), col(idCol).cast("string")))
    val copies = floorW + when(draw < thr, lit(1L)).otherwise(lit(0L))
    df.withColumn("__copies", copies)
      .where(col("__copies") > 0)
      .select(df.columns.toIndexedSeq.map(col) :+
        explode(sequence(lit(1L), col("__copies"))).as("epoch"): _*)
  }

  /** Token-budget mix IN EXPECTATION: one tiny per-stratum aggregate
    * (#strata rows to the driver) turns each budget into a keep-rate
    * `min(1, budget / stratum_total)`, then the [[stratified]] scan-local
    * filter does the rest — no window, no per-stratum sort, the 100 TB
    * path. The admitted token mass concentrates around the budget
    * (documents are exchangeable under the md5 draw).
    *
    * Null strata follow [[tokenBudget]]'s semantics: budgeted at
    * `defaultBudget`, admitted at the resulting rate (they reach
    * [[stratified]]'s otherwise-branch, so their rate rides defaultRate).
    */
  def tokenBudgetByRate(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokenCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long = 0L): DataFrame = {
    val totals: Map[Option[String], Long] = df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol).cast("long")).as("__tot"))
      .collect()
      // Option(get).map(toString) mirrors temperatureMix / mixtureBudget:
      // one string-form contract across the mixture APIs (ADVICE r13)
      .map(r => Option(r.get(0)).map(_.toString) ->
        (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    def rateFor(k: Option[String], tot: Long): Double = {
      val budget = k.map(budgets.getOrElse(_, defaultBudget)).getOrElse(defaultBudget)
      math.min(1.0, budget.toDouble / math.max(tot, 1L))
    }
    val rates = totals.collect { case (Some(k), tot) => k -> rateFor(Some(k), tot) }
    // null-stratum rows fall through stratified()'s when-chain to the
    // default — set it to the null stratum's own budgeted rate (0.0 when
    // there are no null rows, vacuously)
    val nullRate = totals.get(None).map(rateFor(None, _)).getOrElse(0.0)
    stratified(df, idCol, stratumCol, rates, defaultRate = nullRate)
  }
}
