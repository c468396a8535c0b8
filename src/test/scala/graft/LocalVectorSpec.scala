package graft

import graft.functions.{Kernels, VectorFunctions}
import graft.serving.{LocalVector, SearchService}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

/** [[graft.serving.LocalVector]] / the [[SearchService]] driver-resident
  * tier — the contract is literal row-for-row equality with the
  * distributed plan across every mode, metric, and the rerank path,
  * including the awkward rows (a zero vector for the cosine guard, an
  * exact duplicate vector for score ties).
  */
class LocalVectorSpec extends SparkSpec {
  import spark.implicits._

  /** 4 separated clusters (dim 16, 40/cluster) + a zero vector + one
    * exact duplicate pair (tie-break goes to the id order).
    */
  private def fixture(seed: Long = 11L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for (c <- 0 until 4; i <- 0 until 40) yield {
      val v = Array.tabulate(16) { d =>
        (if (d / 4 == c) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f)
      }
      (c * 40L + i, v)
    }
    val dup = rows.head._2.clone()
    (rows ++ Seq((900L, Array.fill(16)(0.0f)), (901L, dup), (902L, dup)))
      .toDF("id", "vec")
  }

  private def queries(seed: Long): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until 4).map { c =>
      Array.tabulate(16)(d =>
        (if (d / 4 == c) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f))
    } :+ Array.fill(16)(0.0f) // zero query: the qn == 0 guard on both paths
  }

  test("local tier == distributed plan row-for-row (modes x metrics x rerank)") {
    val table = fixture()
    val cases = Seq(
      ("exact", "ip", 0), ("exact", "cosine", 0), ("exact", "l2", 0),
      ("ivf", "ip", 0),
      ("ivf_sq8", "ip", 0), ("ivf_sq8", "cosine", 0), ("ivf_sq8", "l2", 0),
      ("ivf_pq", "ip", 0), ("ivf_pq", "ip", 25))
    cases.foreach { case (mode, metric, rr) =>
      val loc = new SearchService(table, "vec", "id", topK = 10, mode = mode,
        nlist = 4, nprobe = 2, rerank = rr, metric = metric)
      val dist = new SearchService(table, "vec", "id", topK = 10, mode = mode,
        nlist = 4, nprobe = 2, rerank = rr, metric = metric, maxLocalIndex = 0)
      try {
        assert(loc.localTierActive, s"$mode/$metric should fit the budget")
        assert(!dist.localTierActive)
        queries(seed = 31L).zipWithIndex.foreach { case (q, qi) =>
          val a = loc.searchVector(q)
          val b = dist.searchVector(q)
          assert(a.size == b.size, s"$mode/$metric/rr=$rr q$qi sizes")
          a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
            assert(x.toSeq == y.toSeq,
              s"$mode/$metric/rr=$rr q$qi row $i:\n local=$x\n dist =$y")
          }
        }
      } finally { loc.stop(); dist.stop() }
    }
  }

  test("row budget edge: maxLocalIndex = n serves locally, n - 1 falls back, same rows") {
    val table = fixture()
    val n = table.count().toInt
    val at = new SearchService(table, "vec", "id", topK = 5, maxLocalIndex = n)
    val below = new SearchService(table, "vec", "id", topK = 5, maxLocalIndex = n - 1)
    val dist = new SearchService(table, "vec", "id", topK = 5, maxLocalIndex = 0)
    try {
      assert(at.localTierActive, s"$n rows fit a budget of $n")
      assert(!below.localTierActive, s"$n rows exceed a budget of ${n - 1}")
      queries(seed = 5L).zipWithIndex.foreach { case (q, qi) =>
        val want = dist.searchVector(q).map(_.toSeq)
        assert(at.searchVector(q).map(_.toSeq) == want, s"budget n, q$qi")
        assert(below.searchVector(q).map(_.toSeq) == want, s"budget n - 1, q$qi")
      }
    } finally { at.stop(); below.stop(); dist.stop() }
  }

  test("budget fallback: over-budget table serves distributed, same results") {
    val table = fixture()
    val tiny = new SearchService(table, "vec", "id", topK = 5,
      maxLocalIndex = 10) // 163 rows > 10 -> fallback
    val dist = new SearchService(table, "vec", "id", topK = 5,
      maxLocalIndex = 0)
    try {
      assert(!tiny.localTierActive)
      val q = queries(5L).head
      assert(tiny.searchVector(q).map(_.toSeq) == dist.searchVector(q).map(_.toSeq))
    } finally { tiny.stop(); dist.stop() }
  }

  test("rank replica: NaN sorts as largest, -0.0 ties 0.0, id breaks ties") {
    val scores = Array(1.0, Double.NaN, 0.0, -0.0, 1.0)
    val ids = Array(5L, 1L, 2L, 3L, 4L)
    val lt = (a: Int, b: Int) => ids(a) < ids(b)
    // descending: NaN first (Spark's double order), then 1.0 ties by id
    // (4 before 5), then the 0.0/-0.0 tie by id (2 before 3)
    val desc = LocalVector.rank(scores, descending = true, lt, 5)
      .map(ids(_))
    assert(desc.toSeq == Seq(1L, 4L, 5L, 2L, 3L), desc.toSeq.toString)
    val asc = LocalVector.rank(scores, descending = false, lt, 5)
      .map(ids(_))
    assert(asc.toSeq == Seq(2L, 3L, 4L, 5L, 1L), asc.toSeq.toString)
  }

  test("bounded-heap rank == stable full sort take(k) (fuzz: NaN, -0.0, dup ids)") {
    // the former implementation, kept as the semantic reference: stable
    // TimSort under the (score, id) comparator, take k
    def reference(scores: Array[Double], ids: Array[Any], descending: Boolean,
                  idLtF: (Any, Any) => Boolean, k: Int): Array[Int] = {
      val ord = new Ordering[Int] {
        def compare(a: Int, b: Int): Int = {
          def nk(d: Double) = if (d == 0.0) 0.0 else d
          val c = java.lang.Double.compare(nk(scores(a)), nk(scores(b)))
          if (c != 0) { if (descending) -c else c }
          else if (idLtF(ids(a), ids(b))) -1
          else if (idLtF(ids(b), ids(a))) 1
          else 0
        }
      }
      Array.range(0, scores.length)
        .sortWith((a, b) => ord.compare(a, b) < 0).take(k)
    }
    val lt = (a: Any, b: Any) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    val rnd = new scala.util.Random(97L)
    for (trial <- 0 until 300) {
      val n = rnd.nextInt(60)
      val scores = Array.fill(n)(rnd.nextInt(5) match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case _ => math.floor(rnd.nextDouble() * 8) // coarse grid: many ties
      })
      // ids drawn from a small pool so exact (score, id) duplicates occur
      val ids: Array[Any] = Array.fill(n)(rnd.nextInt(6).toLong: Any)
      val k = rnd.nextInt(n + 2)
      val desc = rnd.nextBoolean()
      val got = LocalVector.rank(scores, desc, (a, b) => lt(ids(a), ids(b)), k)
      val want = reference(scores, ids, desc, lt, k)
      assert(got.toSeq == want.toSeq,
        s"trial $trial n=$n k=$k desc=$desc:\n got=${got.toSeq}\n want=${want.toSeq}\n scores=${scores.toSeq}\n ids=${ids.toSeq}")
    }
  }

  test("kernel replicas match the Catalyst expressions on random input") {
    // Kernels (the one loop behind fast_dot/fast_l2sq and the local tier)
    // against the composed, extension-free VectorFunctions forms, on
    // float x double and double x double inputs
    val rnd = new scala.util.Random(3L)
    val rows = Seq.tabulate(40)(i => (i.toLong,
      Array.fill(24)(rnd.nextFloat() * 4 - 2),
      Array.fill(24)(rnd.nextDouble() * 4 - 2)))
    val q = Array.fill(24)(rnd.nextDouble() * 4 - 2)
    val ql = typedlit(q.toIndexedSeq)
    import VectorFunctions.{dot, l2Sq, sumSquares}
    val got = rows.toDF("id", "vf", "vd")
      .select(col("id"),
        dot(col("vf"), ql), l2Sq(col("vf"), ql), sumSquares(col("vf")),
        dot(col("vd"), ql), l2Sq(col("vd"), ql), sumSquares(col("vd")))
      .collect().map(r => r.getLong(0) -> (1 to 6).map(r.getDouble)).toMap
    val qa = UnsafeArrayData.fromPrimitiveArray(q)
    rows.foreach { case (i, vf, vd) =>
      val f = UnsafeArrayData.fromPrimitiveArray(vf)
      val d = UnsafeArrayData.fromPrimitiveArray(vd)
      val have = Seq(
        Kernels.dot(f, true, qa, false), Kernels.l2sq(f, true, qa, false),
        Kernels.sumSq(f, true),
        Kernels.dot(d, false, qa, false), Kernels.l2sq(d, false, qa, false),
        Kernels.sumSq(d, false))
      assert(have == got(i), s"row $i: kernels=$have composed=${got(i)}")
    }
  }

  test("fast_dot/fast_l2sq/byte_dot/byte_lut_sum: generated code == interpreted eval") {
    // every 7th row has vf/codes one element short and vd one long: each
    // expression below must answer NULL there, in both modes
    val rnd = new scala.util.Random(13L)
    val rows = Seq.tabulate(42) { i =>
      val skew = if (i % 7 == 6) 1 else 0
      (i.toLong, Array.fill(8 - skew)(rnd.nextFloat() * 4 - 2),
        Array.fill(8 + skew)(rnd.nextDouble() * 4 - 2),
        Array.fill(8 - skew)(rnd.nextInt(256).toByte))
    }
    // repartition keeps the projection off the optimizer's LocalRelation
    // folding, so it runs in the mode under test
    val df = rows.toDF("id", "vf", "vd", "codes").repartition(2)
    val q = typedlit(Array.fill(8)(rnd.nextDouble() * 4 - 2).toIndexedSeq)
    val lut = typedlit(Array.fill(8 * 256)(rnd.nextDouble() * 4 - 2).toIndexedSeq)
    val scores = Seq(
      call_function("fast_dot", col("vf"), q),
      call_function("fast_dot", col("vd"), q),
      call_function("fast_dot", col("vf"), col("vd")),
      call_function("fast_l2sq", col("vf"), q),
      call_function("fast_l2sq", col("vd"), col("vf")),
      call_function("byte_dot", col("codes"), q),
      call_function("byte_lut_sum", col("codes"), lut))
    // codegen.fallback=false: a generated call that does not compile
    // fails the query instead of silently running interpreted
    def run(factoryMode: String, wholeStage: Boolean): Map[Long, Seq[Any]] = {
      val confs = Map("spark.sql.codegen.factoryMode" -> factoryMode,
        "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.wholeStage" -> wholeStage.toString)
      val old = confs.keys.map(k => k -> spark.conf.getOption(k))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("id") +: scores: _*).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val generated = run("CODEGEN_ONLY", wholeStage = true)
    val interpreted = run("NO_CODEGEN", wholeStage = false)
    assert(generated.size == rows.size)
    rows.foreach { case (i, vf, _, _) =>
      assert(generated(i) == interpreted(i),
        s"row $i:\n generated  =${generated(i)}\n interpreted=${interpreted(i)}")
      if (vf.length == 7) assert(generated(i).forall(_ == null), s"row $i")
      else assert(generated(i).forall(_ != null), s"row $i")
    }
  }
}
