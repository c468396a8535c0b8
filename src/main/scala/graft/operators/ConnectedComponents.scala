package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the step that
  * turns pairwise candidates (minhash bands, jaccard join, cosine pairs)
  * into dedup CLUSTERS with a canonical representative (the minimum id),
  * so a corpus clean keeps exactly one document per component.
  *
  * Two interchangeable algorithms, same (id, cluster) contract:
  *
  *  - [[minLabel]]: distributed min-label propagation, one join + one
  *    aggregate per round, O(diameter) rounds. The right default for
  *    near-dup graphs — unions of near-cliques converge in 2–3 rounds and
  *    the per-round plan is the simplest possible.
  *  - [[alternatingStar]]: the large-star/small-star algorithm (Kiveris et
  *    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
  *    O(log²/log n) rounds on ANY topology, the scale path for adversarial
  *    long-chain graphs where propagation would run diameter rounds.
  *
  * Each round ends in `localCheckpoint` — without lineage truncation the
  * iterated plan nests one join deeper per round and analysis cost grows
  * superlinearly.
  *
  * Both algorithms finish ON THE DRIVER once the (measured) edge count is
  * under `localThreshold`: the distributed rounds exist to SHRINK a graph
  * that doesn't fit anywhere, and a round of distributed joins on a graph
  * that fits in a few MB is pure scheduling overhead — measured 2–20 s PER
  * ROUND on a 1.8k-edge graph at 32 threads, vs <1 ms of driver union-find.
  * This mirrors GraphFrames' connected-components local-finish optimization.
  * The decision is one bounded action, [[localRoots]]: it pins the edges
  * with a lazy checkpoint, collects at most `localThreshold + 1` of them in
  * one job and finishes them when they fit — no eager checkpoint and no
  * count first; over the threshold the rounds start from the pin, so the
  * edge plan runs once either way. [[minLabel]] makes the decision once on
  * its input; [[alternatingStar]] makes it when the edge count its
  * convergence signature already computes drops under the threshold.
  * Driver memory stays O(localThreshold) by construction; pass
  * `localThreshold = 0` to force the fully distributed path (the specs do,
  * to pin its correctness).
  */
object ConnectedComponents {

  /** ~1M edges ≈ tens of MB collected — far under driver headroom, far over
    * any per-round shuffle's break-even point.
    */
  val DefaultLocalThreshold: Long = 1L << 20

  private def lt(a: Any, b: Any): Boolean = ((a, b): @unchecked) match {
    case (x: Long, y: Long)     => x < y
    case (x: Int, y: Int)       => x < y
    case (x: Short, y: Short)   => x < y
    case (x: String, y: String) => x < y
    case (x: Double, y: Double) => x < y
    case _ => sys.error(s"unsupported id type for local CC finish: ${a.getClass}")
  }

  /** The driver finish of both algorithms, as ONE bounded action. `edges`
    * (its first two columns) is pinned with a lazy `localCheckpoint`, which
    * under AQE runs the edge plan's shuffle map stages; then one job
    * collects at most `localThreshold + 1` of the pinned rows and
    * union-finds them with the min id as representative.
    *
    * Right: `(id, root)` rows, typed as the edge columns, for every
    * endpoint whose component root is a smaller id — at most the
    * endpoints, roots absent. Left: the pinned edges, when there are more
    * than `localThreshold`; the job has computed all of them, so rounds
    * over the pin do not evaluate the edge plan again.
    *
    * In the job every task of the edge plan's final stage keeps at most
    * `localThreshold + 1` edges, and an RDD shuffle (a stage of the same
    * job: AQE splits only SQL exchanges into jobs) funnels them into one
    * task that keeps `localThreshold + 1` again. So the final stage stays
    * parallel and the driver holds at most `localThreshold + 1` edges. A
    * SQL `limit.collect()` plans as CollectLimitExec, which scans one
    * partition first and then scales up (two jobs for an edge set that
    * fits); a limit under `coalesce(1)` runs the whole final stage as one
    * task. Duplicate edges count toward the threshold; union-find ignores
    * them. Edges with a null endpoint are skipped: a null id joins nothing
    * in the distributed rounds either.
    *
    * Integral ids (the common case — doc ids) collect as primitive Long
    * pairs through a typed Dataset and run union-find over a LongMap, so a
    * threshold-sized collect is ~16 B/edge of tuples plus an open-addressed
    * primitive-key map — not generic Rows plus a boxed Any→Any map (which
    * at the 1M-edge default threshold is hundreds of MB, ADVICE r5). Other
    * id types (strings) collect generic Rows.
    */
  private[graft] def localRoots(edges: DataFrame, localThreshold: Long): Either[DataFrame, DataFrame] = {
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    import scala.reflect.ClassTag
    val spark = edges.sparkSession
    import spark.implicits._
    val pinned = edges.select(edges.columns.take(2).map(col).toIndexedSeq: _*)
      .localCheckpoint(eager = false)
    val Array(a, b) = pinned.columns.map(col)
    val idType = pinned.schema.fields.head.dataType
    val nonNull = pinned.where(a.isNotNull && b.isNotNull)
    val cap = localCap(localThreshold)
    def bounded[T: ClassTag](ds: Dataset[T]): Option[Array[T]] = {
      val rows = ds.rdd.mapPartitions(_.take(cap + 1)).repartition(1)
        .mapPartitions(_.take(cap + 1)).collect()
      Some(rows).filter(_.length <= cap)
    }
    def roots[K](pairs: Array[(K, K)], parent: mutable.Map[K, K])(less: (K, K) => Boolean) = {
      def find(x: K): K = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) { if (less(rx, ry)) parent(ry) = rx else parent(rx) = ry }
      }
      // only merged-away ids ever get a parent entry
      parent.keys.toSeq.map(id => (id, find(id)))
    }
    val mapping = idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        bounded(nonNull.select(a.cast("long"), b.cast("long")).as[(Long, Long)]).map { pairs =>
          roots(pairs, new mutable.LongMap[Long])(_ < _).toDF("id", "root")
            .select(col("id").cast(idType).as("id"), col("root").cast(idType).as("root"))
        }
      case _ =>
        bounded(nonNull).map { rows =>
          val mapping = roots(rows.map(r => (r.get(0), r.get(1))), new mutable.HashMap[Any, Any])(lt)
          spark.createDataFrame(mapping.map { case (id, root) => Row(id, root) }.asJava,
            StructType(Seq(StructField("id", idType), StructField("root", idType))))
        }
    }
    mapping.toRight(pinned)
  }

  /** The most edges [[localRoots]] collects: `localThreshold`, clamped to
    * what an Array holds (at most Int.MaxValue - 2 elements, one over).
    */
  private def localCap(localThreshold: Long): Int =
    math.max(0L, math.min(localThreshold, Int.MaxValue - 3L)).toInt

  /** (id, cluster) over every vertex from [[localRoots]]' mapping: one
    * broadcast left join, ids without a mapping are their own root.
    */
  private def withRoots(vertices: DataFrame, roots: DataFrame): DataFrame = {
    val idName = vertices.columns.head
    vertices.select(col(idName).as("id"))
      .join(broadcast(roots), Seq("id"), "left")
      .select(col("id").as(idName), coalesce(col("root"), col("id")).as("cluster"))
  }

  /** @param vertices one column, every vertex id (pairs alone would drop
    *                 singleton documents from the output)
    * @param pairs    undirected edges as (aCol, bCol) rows
    * @return (id, cluster) — cluster = min vertex id of the component
    */
  def minLabel(
      vertices: DataFrame,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20,
      localThreshold: Long = DefaultLocalThreshold): DataFrame =
    // Label propagation never shrinks the edge set, so the local-finish
    // decision is a one-shot check on the input size.
    localRoots(pairs.select(col(aCol), col(bCol)), localThreshold) match {
      case Right(roots) => withRoots(vertices, roots)
      case Left(pinned) => labelRounds(vertices, pinned, aCol, bCol, maxIter)
    }

  /** [[minLabel]]'s distributed rounds over the pinned edges a
    * [[localRoots]] probe returned when they exceeded its threshold.
    */
  private[graft] def labelRounds(
      vertices: DataFrame,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val idName = vertices.columns.head
    // `pairs` is already pinned: the union reads it twice, computes it once
    val raw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var labels = vertices.select(col(idName).as("id"), col(idName).as("lbl"))
      .localCheckpoint()
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      // The round's own label rides through the aggregate (own=1 branch),
      // so convergence is read off the SAME materialized round output with
      // a cheap filter scan — not a separate join job per round (which
      // doubled the job count: the old probe joined two checkpointed sets).
      val next = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lbl"), lit(0).as("own"))
        .union(labels.select(col("id"), col("lbl"), lit(1).as("own")))
        .groupBy("id")
        .agg(min("lbl").as("lbl"), max(when(col("own") === 1, col("lbl"))).as("prev"))
        .localCheckpoint()
      done = next.where(col("lbl") < col("prev")).isEmpty
      labels = next.select("id", "lbl")
      i += 1
    }
    // unconverged labels split components: fail rather than mis-cluster
    if (!done) throw new IllegalStateException(
      s"ConnectedComponents.minLabel did not converge in $maxIter rounds " +
        "(graph diameter too large): use alternatingStar, whose rounds are " +
        "O(log n) on any topology, or a larger maxIter")
    labels.select(col("id").as(idName), col("lbl").as("cluster"))
  }

  /** Large-star/small-star connected components (Kiveris et al., SoCC'14):
    * alternate two edge rewrites until the edge set is stable —
    *
    *  - large-star: per node u, connect every STRICTLY LARGER neighbor to
    *    `m = min(u ∪ N(u))`;
    *  - small-star: per node u over edges directed large→small, connect u
    *    and its smaller neighbors to their min.
    *
    * Both steps preserve connectivity and only ever decrease (node, parent)
    * pointers; the fixpoint is a star per component whose center is the
    * component minimum. Rounds are O(log n) on any graph — chains included,
    * where [[minLabel]] needs diameter rounds. Convergence is detected by
    * an aggregate signature (count + xor of pair hashes) of the canonical
    * edge set, computed in the same job that materializes the round.
    */
  def alternatingStar(
      vertices: DataFrame,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30,
      localThreshold: Long = DefaultLocalThreshold): DataFrame = {
    val idName = vertices.columns.head
    // Canonical edges point large → small (src > dst); self-loops dropped.
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor is order-independent and cannot overflow (sum would, under
      // ANSI); edges are distinct so the xor is a faithful set signature
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src").agg(least(min("dst"), first("src")).as("m"))
      // connect strictly larger neighbors to the min of the neighborhood
      canon(sym.join(m, "src").where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is canonical (src > dst): per src, link src and all its smaller
      // neighbors to the minimum of the closed neighborhood
      val m = e.groupBy("src").agg(min("dst").as("m"))
      val linked = e.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
      canon(linked)
    }

    var edges = canon(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))).localCheckpoint()
    var sig = signature(edges)
    var done = edges.isEmpty
    var i = 0
    while (!done) {
      // Star rounds preserve connectivity while strictly shrinking toward a
      // star per component, so the moment the surviving edge set is small
      // enough, union-find on the driver finishes the job exactly.
      if (sig._1 <= localCap(localThreshold)) localRoots(edges, localThreshold) match {
        case Right(roots) => return withRoots(vertices, roots)
        case Left(_) => // not reached: the signature counted at most the cap
      }
      // a non-star edge set maps vertices to non-minimal roots, some to
      // several: fail rather than mis-cluster
      if (i == maxIter) throw new IllegalStateException(
        s"ConnectedComponents.alternatingStar did not converge in $maxIter " +
          "rounds: use a larger maxIter")
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nsig = signature(next)
      done = nsig == sig
      sig = nsig
      edges = next
      i += 1
    }
    // Fixpoint is a star: every non-root points at its component min.
    vertices.select(col(idName).as("id"))
      .join(edges.select(col("src").as("id"), col("dst").as("root")), Seq("id"), "left")
      .select(col("id").as(idName), coalesce(col("root"), col("id")).as("cluster"))
  }
}
