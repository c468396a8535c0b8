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
  * The bound is explicit and checked against counts the convergence tests
  * already compute, so driver memory stays O(localThreshold) by
  * construction; pass `localThreshold = 0` to force the fully distributed
  * path (the specs do, to pin its correctness).
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

  /** Union-find (min id as representative) over a collected edge list, then
    * a broadcast map-back onto the distributed vertex set. Exact same
    * (id, cluster) contract as the distributed rounds.
    *
    * Integral ids (the common case — doc ids) collect as primitive Long
    * pairs through a typed Dataset and run union-find over a LongMap, so a
    * threshold-sized collect is ~16 B/edge of tuples plus open-addressed
    * primitive-key maps — not generic Rows plus a boxed Any→Any map (which
    * at the 1M-edge default threshold is hundreds of MB, ADVICE r5). Other
    * id types (strings) keep the generic Row path.
    */
  private def finishLocal(
      vertices: DataFrame, idName: String, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = edges.schema.fields.head.dataType
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        finishLocalLong(vertices, idName, edges)
      case _ => finishLocalGeneric(vertices, idName, edges)
    }
  }

  private def finishLocalLong(
      vertices: DataFrame, idName: String, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val idType = edges.schema.fields.head.dataType
    val cols = edges.columns
    val pairs = edges
      .select(col(cols(0)).cast("long"), col(cols(1)).cast("long"))
      .as[(Long, Long)].collect()
    val parent = new scala.collection.mutable.LongMap[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val ids = new scala.collection.mutable.LongMap[Unit]
    pairs.foreach { case (a, b) => ids.update(a, ()); ids.update(b, ()) }
    val mapping = ids.keysIterator.map(id => (id, find(id))).toSeq
    val mdf = mapping.toDF("id", "__root")
      .select(col("id").cast(idType).as("id"), col("__root").cast(idType).as("__root"))
    vertices.select(col(idName).as("id"))
      .join(broadcast(mdf), Seq("id"), "left")
      .select(col("id").as(idName), coalesce(col("__root"), col("id")).as("cluster"))
  }

  private def finishLocalGeneric(
      vertices: DataFrame, idName: String, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = vertices.sparkSession
    val rows = edges.collect()
    val parent = new scala.collection.mutable.HashMap[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val idType = edges.schema.fields.head.dataType
    val mapping = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .toSet[Any].iterator.map(id => Row(id, find(id))).toSeq
    val mdf = spark.createDataFrame(mapping.asJava,
      StructType(Seq(StructField("id", idType), StructField("__root", idType))))
    vertices.select(col(idName).as("id"))
      .join(broadcast(mdf), Seq("id"), "left")
      .select(col("id").as(idName), coalesce(col("__root"), col("id")).as("cluster"))
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
      localThreshold: Long = DefaultLocalThreshold): DataFrame = {
    val idName = vertices.columns.head
    val raw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    // Label propagation never shrinks the edge set, so the local-finish
    // decision is a one-shot check on the input size.
    if (raw.count() <= localThreshold) return finishLocal(vertices, idName, raw)
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
      if (sig._1 <= localThreshold) return finishLocal(vertices, idName, edges)
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
