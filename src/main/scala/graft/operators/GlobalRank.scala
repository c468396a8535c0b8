package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Distributed global ordinal assignment.
  *
  * `Window.orderBy(...)` with no partition key moves EVERY row to one
  * partition (Spark's own WindowExec warning) — a non-starter at corpus
  * scale. The scalable equivalent is the classic two-pass zipWithIndex:
  * range-partition by the order columns (so partition i holds keys strictly
  * below partition i+1), sort within partitions, then count rows per
  * partition (one cheap job over the already-shuffled data — shuffle reuse
  * makes this metadata-priced) and add each partition's prefix-sum offset to
  * its local indexes. Both passes are fully parallel; no single-partition
  * stage anywhere.
  */
object GlobalRank {

  /** Append a 0-based dense global index column named `idxName`, ordered by
    * `orderCols` (which must be a total order for a deterministic result).
    */
  def withGlobalIndex(df: DataFrame, orderCols: Seq[Column], idxName: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*)
    val out = sorted.schema.add(idxName, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }
    spark.createDataFrame(rdd, out)
  }
}
