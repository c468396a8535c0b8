package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the engine's mains (Verify, Bench)
  * and tests: one place for the scale-relevant knobs.
  *
  * Notes:
  *  - testdata `events.ts` is parquet TIMESTAMP(NANOS) which vanilla Spark
  *    rejects; `nanosAsLong` reads it as long and [[Tables.events]] converts
  *    to TIMESTAMP_NTZ (micros) — same truncation DuckDB applies.
  *  - `inferTimestampNTZ` keeps isAdjustedToUTC=false parquet timestamps
  *    naive, so results written back compare cleanly against the DuckDB
  *    oracle (naive TIMESTAMP), independent of session zone.
  *  - AQE is on (default) — coalesces post-shuffle partitions and re-plans
  *    skew joins, the behavior we rely on at cluster scale.
  *  - The coalescing floor is one byte, so no exchange coalesces below
  *    `defaultParallelism`. AQE sizes post-shuffle partitions by map-side
  *    bytes, and Spark's 1 MB `minPartitionSize` default overrides the
  *    `defaultParallelism` floor whenever a shuffle is small. Stages whose
  *    work amplifies after the shuffle (shingle explosion, per-word
  *    lattices, O(b²) pair emission) then ran on ONE task. Measured in
  *    Spark 4.1.2 at `local[4]`, `shuffle.partitions=4`: a 5,000-key
  *    `groupBy` (ENSURE_REQUIREMENTS) and a `repartition(col)`
  *    (REPARTITION_BY_COL) both read their shuffle on 1 partition at the
  *    default and on 4 with the floor. This one setting is the engine's
  *    parallelism policy; operators repartition only to move rows.
  */
object GraftSession {
  // TCP_NODELAY for any JDK HttpServer the serving layer starts in this
  // JVM. sun.net.httpserver.ServerConfig snapshots the property in its
  // CLASS initializer, and something on the Spark startup path can load
  // it before the serving layer does — measured r19: with the property
  // set only at service construction, every HTTP endpoint kept a ~47 ms
  // Nagle/delayed-ACK response stall (p95 pinned at ~50 ms, throughput =
  // clients/0.05) while the identical handler answered in 1.3 ms once
  // the property preceded ServerConfig. Session construction is the
  // earliest shared chokepoint, so it is set here (and, belt-and-braces,
  // in HttpServing).
  System.setProperty("sun.net.httpserver.nodelay", "true")

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // managed-table home for bucketed lake tables (LakeLayout
      // .writeBucketed → saveAsTable); explicit so the engine never
      // depends on (or litters) the launch cwd. Keyed by PID so a
      // concurrent bench/verify JVM can't drop-and-recreate a table
      // location out from under this one mid-query (ADVICE r9 #2).
      .config("spark.sql.warehouse.dir", graft.sources.TempDirs.register(
        s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
