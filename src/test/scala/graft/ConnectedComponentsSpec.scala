package graft

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("minLabel: chains collapse to min id; singletons keep their own id") {
    // components: {1,2,3,4} (a 3-link chain), {5,6}, {7} isolated
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (5L, 6L)).toDF("d1", "d2")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L)
    // distributed rounds (localThreshold = 0) and driver finish (default)
    // must produce the identical closure
    assert(asMap(ConnectedComponents.minLabel(verts, pairs, "d1", "d2",
      localThreshold = 0)) == expect)
    assert(asMap(ConnectedComponents.minLabel(verts, pairs, "d1", "d2")) == expect)
  }

  test("alternatingStar: long chain (diameter 63) collapses in O(log n) rounds") {
    val n = 64L
    val verts = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = ConnectedComponents.alternatingStar(verts, pairs, "d1", "d2",
      maxIter = 10, localThreshold = 0)
    assert(asMap(got) == (0L until n).map(_ -> 0L).toMap)
  }

  test("alternatingStar agrees with minLabel on chains, singletons and random graphs") {
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (5L, 6L)).toDF("d1", "d2")
    val star = ConnectedComponents.alternatingStar(verts, pairs, "d1", "d2",
      localThreshold = 0)
    assert(asMap(star) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))

    val rnd = new scala.util.Random(7)
    val n = 80
    val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val vdf = (0L until n.toLong).toDF("id")
    val edf = edges.toDF("d1", "d2")
    assert(asMap(ConnectedComponents.alternatingStar(vdf, edf, "d1", "d2",
      localThreshold = 0)) ==
      asMap(ConnectedComponents.minLabel(vdf, edf, "d1", "d2", localThreshold = 0)))
  }

  test("minLabel matches brute-force closure on a random graph (distributed path)") {
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // brute-force union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val got = ConnectedComponents.minLabel(
      (0L until n.toLong).toDF("id"), edges.toDF("d1", "d2"), "d1", "d2",
      localThreshold = 0)
    assert(asMap(got) == expect)
  }

  test("driver local finish agrees with both distributed algorithms on a random graph") {
    val rnd = new scala.util.Random(13)
    val n = 100
    val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val vdf = (0L until n.toLong).toDF("id")
    val edf = edges.toDF("d1", "d2")
    val local = asMap(ConnectedComponents.minLabel(vdf, edf, "d1", "d2"))
    assert(local == asMap(ConnectedComponents.minLabel(vdf, edf, "d1", "d2",
      localThreshold = 0)))
    assert(local == asMap(ConnectedComponents.alternatingStar(vdf, edf, "d1", "d2",
      localThreshold = 0)))
    assert(local == asMap(ConnectedComponents.alternatingStar(vdf, edf, "d1", "d2")))
  }

  test("alternatingStar local finish engages mid-loop when the graph shrinks under threshold") {
    // threshold 40 < initial 63 chain edges: at least one distributed star
    // round must run before the driver finish takes over — exercises the
    // handoff on a partially-contracted edge set.
    val n = 64L
    val verts = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = ConnectedComponents.alternatingStar(verts, pairs, "d1", "d2",
      localThreshold = 40)
    assert(asMap(got) == (0L until n).map(_ -> 0L).toMap)
  }

  test("minLabel: running out of rounds throws instead of returning split clusters") {
    // a 30-node chain needs ~30 propagation rounds; 5 leave it unconverged
    val n = 30L
    val verts = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException](ConnectedComponents.minLabel(
      verts, pairs, "d1", "d2", maxIter = 5, localThreshold = 0))
    assert(e.getMessage.contains("5 rounds") && e.getMessage.contains("alternatingStar"))
  }

  test("alternatingStar: running out of rounds throws instead of returning a non-star") {
    val n = 64L
    val verts = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException](ConnectedComponents.alternatingStar(
      verts, pairs, "d1", "d2", maxIter = 2, localThreshold = 0))
    assert(e.getMessage.contains("2 rounds"))
  }

  test("local-finish edge: threshold = edge count finishes on the driver, one less runs rounds, same clusters") {
    // 11 pair rows: a 6-link chain, a 2-link chain, a reversed duplicate, a
    // plain duplicate and a self-loop — 8 canonical (src > dst) edges
    val verts = (0L until 12L).toDF("doc_id")
    val rows = (0L until 6L).map(i => (i, i + 1)) ++
      Seq((8L, 9L), (9L, 10L), (2L, 1L), (8L, 9L), (4L, 4L))
    val pairs = rows.toDF("d1", "d2")
    val m = rows.size.toLong
    val canonical = 8L
    val expect = (0L to 6L).map(_ -> 0L).toMap ++ Map(7L -> 7L, 11L -> 11L) ++
      (8L to 10L).map(_ -> 8L)
    val sc = spark.sparkContext
    def both(run: Long => org.apache.spark.sql.DataFrame, edge: Long) = {
      val (local, localJobs) = org.apache.spark.JobCounter(sc)(asMap(run(edge)))
      val (dist, distJobs) = org.apache.spark.JobCounter(sc)(asMap(run(edge - 1)))
      assert(local == expect && dist == expect)
      // the distributed side runs its rounds as jobs; the driver finish none
      assert(distJobs > localJobs, s"distributed $distJobs jobs vs local $localJobs")
    }
    both(t => ConnectedComponents.minLabel(verts, pairs, "d1", "d2",
      localThreshold = t), m)
    both(t => ConnectedComponents.alternatingStar(verts, pairs, "d1", "d2",
      localThreshold = t), canonical)
  }

  test("minLabel local path: one bounded collect after the pair plan's map stages") {
    // pairs behind one exchange (as every pair producer's are): under AQE
    // the exchange's map stage is one job and the bounded collect of at
    // most localThreshold + 1 edges is the other — no count first
    val verts = (1L to 7L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (5L, 6L), (1L, 2L)).toDF("d1", "d2").distinct()
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L)
    val (clusters, jobs) = org.apache.spark.JobCounter(spark.sparkContext) {
      ConnectedComponents.minLabel(verts, pairs, "d1", "d2")
    }
    // 2: the pin runs the exchange's map stage, the probe is the other
    assert(jobs == 2, s"minLabel's local path ran $jobs jobs")
    assert(asMap(clusters) == expect)
    // string ids take the generic Row path through the same union-find
    val named = ConnectedComponents.minLabel(
      Seq("a", "b", "c", "d", "e").toDF("name"),
      Seq(("c", "b"), ("b", "a"), ("e", "d")).toDF("x", "y"), "x", "y")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(named == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
  }

  test("minLabel's probe keeps the edge stage parallel; over the threshold the rounds reuse it") {
    // four stars over 4 partitions and no exchange, so the probe job's first
    // stage is the edge plan's final stage; the tagging udf counts how often
    // the edge plan is evaluated
    val evals = spark.sparkContext.longAccumulator("edge evaluations")
    val tag = org.apache.spark.sql.functions.udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val pairs = spark.range(0, 40, 1, 4).where($"id" % 10 =!= 0)
      .select(tag($"id").as("d1"), ($"id" - $"id" % 10).as("d2"))
    val verts = (0L until 40L).toDF("doc_id")
    val expect = (0L until 40L).map(i => i -> (i - i % 10)).toMap
    val (local, jobs) = org.apache.spark.JobCounter.stageTasks(spark.sparkContext) {
      asMap(ConnectedComponents.minLabel(verts, pairs, "d1", "d2"))
    }
    assert(local == expect)
    // one probe job: 4 edge tasks, then the 1-task funnel; then the
    // result's own collect
    assert(jobs.head == Seq(4, 1), jobs.toString)
    assert(evals.value == 36)
    evals.reset()
    // over the threshold: the probe collects 11 edges but has computed and
    // pinned all 36, and the rounds start from the pin
    assert(asMap(ConnectedComponents.minLabel(verts, pairs, "d1", "d2",
      localThreshold = 10)) == expect)
    assert(evals.value == 36, s"the edge plan ran ${evals.value / 36.0} times")
  }
}
