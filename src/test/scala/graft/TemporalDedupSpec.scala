package graft

import graft.operators.TemporalDedup
import org.apache.spark.sql.functions._

import scala.util.Random

// top-level: Spark encoders cannot capture inner-class scopes
case class DedupRow(g: String, t: Double, k: String, id: Long)

class TemporalDedupSpec extends SparkSpec {
  import spark.implicits._

  private type F = DedupRow
  private def F(g: String, t: Double, k: String, id: Long): DedupRow =
    DedupRow(g, t, k, id)

  /** Oracle: direct port of the loader.js:202-212 loop. */
  private def oracle(rows: Seq[F]): Seq[Long] =
    rows.groupBy(_.g).toSeq.flatMap { case (_, group) =>
      TemporalDedup
        .dedupOneGroup[F](group.sortBy(_.t), _.t, _.k, 2.0, 24)
        .map(_.id)
    }.sorted

  private def engine(rows: Seq[F]): Seq[Long] = {
    val df = rows.toDF("g", "t", "k", "id")
    TemporalDedup.dedup(df, Seq("g"), "t", "k", 2.0, 24)
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("chained duplicates use kept-set, not seen-set semantics (SURVEY §7.4.1)") {
    // A@0 kept, A@1.5 dropped (within 2s of kept A@0),
    // A@3.0 KEPT (3.0 - 0 >= 2; the dropped 1.5 must not shadow it).
    val rows = Seq(F("v", 0.0, "A", 1), F("v", 1.5, "A", 2), F("v", 3.0, "A", 3))
    assert(engine(rows) == Seq(1L, 3L))
    // seen-set variant diverges here by design: drops id 3
    val seen = TemporalDedup
      .dedupSeenSet(rows.toDF("g", "t", "k", "id"), Seq("g"), "t", "k", 2.0)
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
    assert(seen == Seq(1L))
  }

  test("empty groupCols is rejected: round-robin slices would dedup apart") {
    // one clip, one key, frames 0.5 s apart: the kept-set keeps every 4th
    val rows = (0 until 400).map(i => F("v", i * 0.5, "A", i.toLong))
    assert(engine(rows) == oracle(rows))
    assert(oracle(rows).size == 100)
    val e = intercept[IllegalArgumentException] {
      TemporalDedup.dedup(rows.toDF("g", "t", "k", "id"), Nil, "t", "k", 2.0, 24)
    }
    assert(e.getMessage.contains("groupCols"))
  }

  test("duplicate just outside the 2s window is kept") {
    val rows = Seq(F("v", 0.0, "A", 1), F("v", 2.0, "A", 2))
    assert(engine(rows) == Seq(1L, 2L))
  }

  test("duplicate beyond the 24-kept lookback is kept") {
    // 25 distinct keys at 0.01s spacing, then a dup of key K00 still within
    // 2s: K00 has been evicted from the last-24 buffer, so it is KEPT.
    val head = (0 until 25).map(i => F("v", i * 0.01, f"K$i%02d", i.toLong))
    val dup = F("v", 0.26, "K00", 99)
    val rows = head :+ dup
    assert(engine(rows) == oracle(rows))
    assert(engine(rows).contains(99L))
  }

  test("groups are independent (interleaved files)") {
    val rows = Seq(
      F("a", 0.0, "X", 1), F("b", 0.5, "X", 2), // same key, different group
      F("a", 1.0, "X", 3), F("b", 1.5, "X", 4))
    assert(engine(rows) == Seq(1L, 2L)) // each group drops its second X
  }

  test("fuzz: engine == JS-oracle port on random workloads") {
    val rnd = new Random(42)
    for (trial <- 1 to 15) {
      val n = 50 + rnd.nextInt(300)
      val rows = (0 until n).map { i =>
        F(g = s"g${rnd.nextInt(3)}",
          t = rnd.nextDouble() * 30.0,
          k = s"K${rnd.nextInt(6)}",
          id = i.toLong)
      }
      val got = engine(rows)
      val want = oracle(rows)
      assert(got == want, s"trial $trial: engine != oracle")
      // invariants: output subset of input; idempotent
      assert(got.toSet.subsetOf(rows.map(_.id).toSet))
      val keptRows = rows.filter(r => got.contains(r.id))
      assert(engine(keptRows) == got, s"trial $trial: not idempotent")
    }
  }
}
