package graft.operators

import graft.functions.TextFunctions.{hash60, tokens}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chunk + embed: the retrieval-corpus build stage (the r-family gate
  * rows drive it end to end under the DuckDB hash gate, and
  * [[graft.api.CorpusRecipe.chunkEmbed]] exposes it as a recipe terminal).
  *
  * Documents are cut into L-token windows with stride S (t9's chunking),
  * and each chunk is embedded as a feature-hashed bag-of-words
  * (Weinberger et al., ICML'09 "Feature Hashing for Large Scale Multitask
  * Learning"): bucket = hash60(token) mod dim, sign = bit 6 of the same
  * hash — ONE md5 per token, and every step is arithmetic an external
  * engine can replay, so the embedding is portable, versionable, and
  * exactly reproducible at re-index time (the property a hash embedding
  * is chosen for; semantic embeddings plug into the same pipeline shape
  * as an opaque Array[Float] column).
  *
  * Scale shape: explode → map-side-combinable two-level groupBy (bucket
  * sums carry ONE double per (chunk, bucket)) → dim-entry dense map
  * assemble per chunk. No per-token array updates, nothing document-sized
  * in a single task's memory, and the doc filter of whatever frame is
  * passed in reaches the parquet scan (apply filters BEFORE embedding —
  * PlanAuditSpec pins it for the r1 gate row).
  */
object ChunkEmbed {

  /** Chunk key = id·keySpan + chunk index. Chunk counts are
    * ceil(tokens/S); the default span keeps keys disjoint for any
    * document under S·10⁵ tokens and doc ranges contiguous (so a
    * doc-range predicate translates to a chunk-key range).
    */
  val KeySpan = 100000L

  /** Shared embedding tail: (keyCol, t=token) rows → (keyCol, emb). One
    * md5 per token; bucket = hash60 mod dim, sign = bit 6; two-level
    * groupBy keeps one double per (key, bucket) on the map side; the
    * final assemble is a dim-entry dense map lookup. Both [[docEmbed]]
    * and [[embed]] go through here so the formula cannot diverge between
    * the sd2 and r-family gate rows.
    */
  private def bagOfWords(tok: DataFrame, keyCol: String, dim: Int): DataFrame =
    tok.select(col(keyCol), hash60(col("t")).as("h"))
      .select(col(keyCol), (col("h") % dim).as("b"),
        when(shiftright(col("h"), 6) % 2 === 0, 1.0).otherwise(-1.0).as("sgn"))
      .groupBy(col(keyCol), col("b")).agg(sum(col("sgn")).as("v"))
      .groupBy(col(keyCol))
      .agg(map_from_entries(collect_list(struct(col("b"), col("v")))).as("m"))
      .select(col(keyCol), transform(sequence(lit(0), lit(dim - 1)),
        j => coalesce(element_at(col("m"), j.cast("long")), lit(0.0))).as("emb"))

  /** (idCol, emb): ONE embedding per document — the same feature-hashed
    * bag-of-words as [[embed]] but at document grain (no chunking), the
    * input SemDedup-style semantic dedup wants when no embedding model is
    * in the loop (sd2 gate row). Null text embeds to no row (split(null)
    * explodes to nothing); empty text embeds the single empty token.
    */
  def docEmbed(df: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    bagOfWords(
      df.repartition(col(idCol))
        .select(col(idCol), explode(tokens(col(textCol))).as("t")),
      idCol, dim)
  }

  /** (cid, emb): one row per chunk, `emb` a dense Array[Double] of
    * integer-valued bucket sums (FP-exact, so cross-engine comparisons
    * are bit-exact). Requires `idCol` values in [0, Long.MaxValue/keySpan)
    * and fewer than keySpan chunks per document — enforced on the key
    * expression itself (a per-row when/raise_error inside codegen, no
    * extra pass); an out-of-domain row fails the job loudly instead of
    * silently aliasing cid keys across documents.
    */
  def embed(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            dim: Int = 64, chunkLen: Int = 50, stride: Int = 40): DataFrame = {
    require(dim > 0 && chunkLen > 0 && stride > 0,
      s"chunk/embed geometry must be positive (dim=$dim, L=$chunkLen, S=$stride)")
    val toks = tokens(col(textCol))
    val starts = when(size(toks) > 0,
      sequence(lit(0), size(toks) - 1, lit(stride))).otherwise(array())
    // spread ahead of the compute-amplifying stage (the t5/p3 rule): the
    // chunk/token explode and the 1-md5-per-token hashing otherwise run on
    // the scan's split count — one task for a single-row-group gate file.
    // Generators don't push back through the repartition, so no barrier is
    // needed here (unlike a predicate — see Queries.e9cCleanGate).
    // the key-domain guard the composite key needs (ADVICE r13): a
    // negative id, an id >= Long.MaxValue/KeySpan, or a document with
    // >= KeySpan chunks would silently alias cid across documents and
    // corrupt retrieval — raise_error per offending ROW, evaluated on the
    // key expression itself (no extra pass, stays inside codegen)
    val maxId = Long.MaxValue / KeySpan
    val id = col(idCol).cast("long")
    // st is a token offset (int-ranged, a multiple of stride by
    // construction), so the double division is exact and the cast-back is
    // the true chunk index
    val chunkIdx = (col("st") / stride).cast("long")
    // pure LONG arithmetic end to end: long*long + long never leaves
    // LongType, so the key is exact over the guard's whole admitted domain
    // [0, Long.MaxValue/KeySpan). (The previous form recomputed the
    // division uncast, promoting the product to double and silently
    // rounding chunk indices away above id ~ 2^53/KeySpan.)
    val cid = when(id >= 0L && id < maxId && chunkIdx < KeySpan,
        id * KeySpan + chunkIdx)
      .otherwise(raise_error(concat(
        lit(s"ChunkEmbed.embed: $idCol="), col(idCol).cast("string"),
        lit(s" chunk "), chunkIdx.cast("string"),
        lit(s" outside id in [0, $maxId) x chunk < $KeySpan — " +
          "cid keys would alias across documents"))))
    val chunks = df.repartition(col(idCol))
      .select(col(idCol), toks.as("w"), explode(starts).as("st"))
      .select(cid.as("cid"),
        slice(col("w"), col("st") + 1, lit(chunkLen)).as("ct"))
    bagOfWords(chunks.select(col("cid"), explode(col("ct")).as("t")), "cid", dim)
  }
}
