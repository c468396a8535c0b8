package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (unset in the driver → full surface):
    // SPARK_GRAFT_VERIFY_ONLY=q1,q2 dumps only those queries.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.serving.HttpServing.jsonValue(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Sidecar for the no-oracle ANN rows: measured recall@k vs the exact
    // top-k on the same data — gives the approximate-by-construction gate
    // rows a number the judge can track round-over-round (the specs assert
    // recall bounds; this records the value the driver actually ran).
    try if (only.isEmpty) {
      val exact = Queries.c8AnnExact(spark, sfDir).select("vec_id")
        .collect().map(_.getAs[Number](0).longValue).toSet
      val entries = Seq("c8_ann_ivf", "c7_sq8_ann", "c7_pq_ann").flatMap { name =>
        try {
          val ids = SparkEntry.queries(name)(spark, sfDir).select("vec_id")
            .collect().map(_.getAs[Number](0).longValue).toSet
          Some(name -> ids.intersect(exact).size.toDouble / math.max(1, exact.size))
        } catch { case _: Throwable => None }
      }
      // The gate embeddings are near-random, so the raw-recall entries above
      // only prove the code path runs; the clustered_* entries (planted
      // cluster structure, Tables.clusteredEmbeddings) are the QUALITY
      // signal — RecallSpec asserts each ≥ 0.8 and the values land here so
      // the driver can track them round-over-round.
      val clustered = try AnnRecall.clusteredRecall(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[verify] clustered recall failed: ${e.getMessage}")
          Map.empty[String, Double]
        }
      val rj = (entries ++ clustered.toSeq.sortBy(_._1))
        .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/recall.json"), rj)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] recall sidecar failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
