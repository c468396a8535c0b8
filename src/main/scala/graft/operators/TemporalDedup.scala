package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Temporal near-duplicate elimination — the reference's flagship stateful
  * operator (`loader.js:202-212`): scanning frames of one video in time
  * order, a frame is DROPPED iff among the last `lookback` (24) *kept*
  * frames there is one within `windowSec` (2 s) carrying an identical
  * dedup key (`_hi`). The "kept-set" condition is order-dependent and not
  * expressible as a stateless window function (SURVEY §7.4.1) — chained
  * duplicates diverge under `lag`-style approximations.
  *
  * Scale design (100 TB-ready): we never materialize a group in memory.
  * `repartition(groupCols)` shuffles each group to one partition,
  * `sortWithinPartitions(groupCols :+ time)` gives Spark's external
  * (spillable) sort, and a single streaming scan with O(lookback) state per
  * group does the dedup. Memory is bounded by the 24-row ring buffer
  * regardless of group size; skewed groups spill in the sort, not here.
  */
object TemporalDedup {

  /** Exact kept-set dedup.
    *
    * @param df        input
    * @param groupCols per-entity partition columns (reference: the video file)
    * @param timeCol   numeric seconds column (cast timestamps to double first)
    * @param keyCol    exact-match dedup key (reference: the `_hi` feature)
    * @param windowSec Δt threshold (reference: 2.0)
    * @param lookback  kept-frame lookback (reference: 24)
    * @param tiebreakCols extra sort columns after timeCol — pass a unique id
    *                  to pin the scan order of equal-time rows. Spark's
    *                  external sort is NOT stable (the reference's JS
    *                  Array.sort is), so without a total order equal-time
    *                  rows may swap between runs and flip which one the
    *                  kept-set retains.
    */
  def dedup(
      df: DataFrame,
      groupCols: Seq[String],
      timeCol: String,
      keyCol: String,
      windowSec: Double,
      lookback: Int = 24,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    // with no columns the repartition is round-robin: one entity's frames
    // would scatter over every partition and each slice dedup on its own
    require(groupCols.nonEmpty,
      "groupCols must name the entity whose frames form one timeline (e.g. the video)")
    val spark = df.sparkSession
    val schema = df.schema
    val sortCols: Seq[Column] = (groupCols ++ (timeCol +: tiebreakCols)).map(col)
    val sorted = df.repartition(groupCols.map(col): _*)
      .sortWithinPartitions(sortCols: _*)
    val gIdx = groupCols.map(schema.fieldIndex)
    val tIdx = schema.fieldIndex(timeCol)
    val kIdx = schema.fieldIndex(keyCol)

    val deduped = sorted.rdd.mapPartitions { rows =>
      // State per current group: ring buffer of (time, key) of kept rows.
      var curGroup: Seq[Any] = null
      val kept = new mutable.ArrayDeque[(Double, Any)](lookback)
      rows.flatMap { row =>
        val g = gIdx.map(row.get)
        if (g != curGroup) { curGroup = g; kept.clear() }
        val t = row.get(tIdx) match {
          case d: java.lang.Double => d.doubleValue()
          case f: java.lang.Float  => f.doubleValue()
          case n: java.lang.Number => n.doubleValue()
        }
        val k = row.get(kIdx)
        // loader.js:205-208: last 24 kept, within 2 s, exact key match.
        val dup = kept.exists { case (pt, pk) => (t - pt) < windowSec && pk == k }
        if (dup) None
        else {
          if (kept.size == lookback) kept.removeHead()
          kept.append((t, k))
          Some(row)
        }
      }
    }
    spark.createDataFrame(deduped, schema)
  }

  /** Reference-oracle port for tests: the literal sequential semantics of
    * `loader.js:202-212` over one already-time-sorted group. `sorted` must
    * be TOTALLY ordered (time plus a unique tiebreak) — equal-time rows in
    * a different order are a different scan and may keep different rows.
    */
  def dedupOneGroup[T](
      sorted: Seq[T], time: T => Double, key: T => Any,
      windowSec: Double, lookback: Int = 24): Seq[T] = {
    val kept = mutable.ArrayBuffer.empty[T]
    sorted.foreach { cur =>
      val dup = kept
        .takeRight(lookback)
        .filter(f => time(cur) - time(f) < windowSec)
        .exists(f => key(f) == key(cur))
      if (!dup) kept += cur
    }
    kept.toSeq
  }

  /** SQL-expressible *seen-set* approximation (documented divergence,
    * SURVEY §7.4.1): drop a row iff the previous row with the same
    * (group, key) — kept or not — is within `windowSec`. Pure window
    * functions, fully codegen'd, one shuffle.
    */
  def dedupSeenSet(
      df: DataFrame,
      groupCols: Seq[String],
      timeCol: String,
      keyCol: String,
      windowSec: Double,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy((groupCols :+ keyCol).map(col): _*)
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
    val prev = lag(col(timeCol), 1).over(w)
    df.withColumn("__prev_t", prev)
      .where(col("__prev_t").isNull || col(timeCol) - col("__prev_t") >= windowSec)
      .drop("__prev_t")
  }
}
