package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared TRAINING-EXPORT tail of the whitespace-disciplined
  * tokenizer families ([[WordPiece.tokenIds]], [[UnigramTok.tokenIds]] —
  * the r17 second-review dedup): positioned corpus words join the
  * per-distinct-word segmentation and the broadcast id table, positions
  * ordered by (word position, within-word piece order) via the per-doc
  * window — the one grain [[SequencePack.packTokenIds]] consumes.
  * ([[BpeTrain.tokenIds]] keeps its own body: its pre-tokenization
  * discipline and byte remap differ structurally.)
  */
private[operators] object TokenExport {

  def tokenIds(df: DataFrame, idCol: String, textCol: String,
               segment: DataFrame => DataFrame,
               ids: Seq[(String, Long)]): DataFrame = {
    require(!Set("word", "pos", "token", "token_id", "__wpos", "__tpos")(idCol),
      s"idCol '$idCol' collides with tokenIds' internal/output columns " +
        "(word, pos, token, token_id, __wpos, __tpos) — rename it")
    val spark = df.sparkSession
    val words = df
      .select(col(idCol),
        posexplode(graft.functions.TextFunctions.tokens(col(textCol))))
      .select(col(idCol), col("pos").as("__wpos"), col("col").as("word"))
      .where(length(col("word")) > 0)
    val perTok = segment(words.select("word").distinct())
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").as("__tpos"), col("col").as("token"))
    import spark.implicits._
    val idDf = ids.toDF("token", "token_id")
    words.join(perTok, "word").join(broadcast(idDf), "token")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("__wpos"), col("__tpos"))).cast("long") - 1)
      .select(col(idCol), col("pos"), col("token_id"))
  }
}
