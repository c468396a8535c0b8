package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model quality scoring — the CCNet signal
  * (Wenzek et al. 2019: score each document by LM perplexity, keep the
  * low-perplexity head). CCNet uses a KenLM 5-gram; this is the
  * deterministic, engine-portable core of that idea: an add-one-smoothed
  * BIGRAM model fit on the corpus itself, scoring each document by average
  * negative log-likelihood per bigram (nats/bigram — `exp` of it is
  * perplexity). Every number is exact integer counts + one `ln` per
  * position, so any engine reproduces it bit-for-bit; no external model
  * artifact, no tokenizer dependency beyond whitespace.
  *
  * Scale shape (100 TB): FIT is two map-side-combinable count aggregations
  * (bigrams, unigrams) + one distinct-count — model size is O(observed
  * vocabulary²) worst case but Zipf-bounded in practice, and it lives as
  * DataFrames, never on the driver. SCORE is two equi-joins against the
  * model (AQE broadcasts them when the model is small; shuffle-hash
  * otherwise — both sides key-partitioned, no skew: bigram keys are the
  * model's own distribution) and a per-document sequential fold in original
  * position order, so the sum is deterministic regardless of partitioning.
  */
object LmScore {

  /** Fitted model: bigram counts (w1, w2, c12), unigram counts (w1, c1),
    * and the observed vocabulary size (the add-one denominator).
    */
  case class Model(bigrams: DataFrame, unigrams: DataFrame, vocab: Long)

  // zip_with over two shifted slices: HOF lambdas are interpreted and
  // re-evaluate non-lambda subtrees per element, so an element_at(toks, i)
  // form re-splits the text g times per row; here `toks` evaluates twice
  // total and the lambda touches only its element variables. Position comes
  // from posexplode at the call site.
  private[operators] def bigramPairs(toks: Column): Column = {
    val len = size(toks) - 1
    when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Count bigrams/unigrams over the corpus. The three jobs share one
    * tokenized scan lineage; counts are exact (map-side combined).
    */
  def fit(docs: DataFrame, textCol: String): Model = {
    // spread ahead of the explode: the bigram amplification and its
    // map-side combine otherwise run at the scan's split count (one task
    // per row group on a small gate file) — the t5/p3 rule
    val toks = docs.repartition(col(textCol))
      .select(tokens(col(textCol)).as("w"))
    // ONE corpus scan + ONE aggregation for both orders, materialized
    // once (the NgramLm.fit r19 shape): the previous two aggregations
    // plus the eager vocab count scanned and re-tokenized the corpus
    // three times, and a composed fit→score plan re-ran each table's
    // aggregation again on the join side. Counts are bit-identical. The
    // checkpoint pins the DISTINCT-GRAM count table — it grows with the
    // corpus's unigram+bigram type counts, not with the raw corpus, but
    // it is NOT merely vocabulary-sized (ADVICE r19); at the 100 TB
    // posture the production fit writes counts to the model lake
    // ([[save]]) and reads them back — the in-memory pin is the
    // bench-scale choice (a non-reliable checkpoint also fails the job
    // on executor loss instead of recomputing).
    val gram = "struct<ord:int,w1:string,w2:string>"
    val counts = toks.select(explode(concat(
        expr("transform(w, x -> struct(1, x, CAST(NULL AS STRING)))")
          .cast(s"array<$gram>"),
        transform(bigramPairs(col("w")),
          b => struct(lit(2).as("ord"), b.getField("w1").as("w1"),
            b.getField("w2").as("w2"))))).as("g"))
      .groupBy(col("g.ord").as("ord"), col("g.w1").as("w1"),
        col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val unigrams = counts.where(col("ord") === 1)
      .select(col("w1"), col("c").as("c1"))
    val bigrams = counts.where(col("ord") === 2)
      .select(col("w1"), col("w2"), col("c").as("c12"))
    val vocab = unigrams.count() // a cached-scan count, not a corpus pass
    Model(bigrams, unigrams, vocab)
  }

  /** Score each document: average negative log-likelihood per bigram under
    * the add-one model, `-mean(ln((c12+1)/(c1+V)))`. Documents with fewer
    * than two tokens have no bigrams and drop out (CCNet discards them
    * too — there is nothing to score). Output: (idCol, n_bigrams, nll).
    *
    * The per-document sum folds in position order over a sorted array —
    * double addition is not associative, and a partitioning-dependent sum
    * would make the same corpus score differently on different clusters.
    */
  def score(docs: DataFrame, idCol: String, textCol: String, model: Model): DataFrame = {
    // same spread rule as fit; also pre-aligns the per-doc groupBy
    val bg = docs.repartition(col(idCol))
      .select(col(idCol), posexplode(bigramPairs(tokens(col(textCol)))))
      .select(col(idCol), col("pos"), col("col.w1").as("w1"), col("col.w2").as("w2"))
    val logp = log(
      (coalesce(col("c12"), lit(0L)) + lit(1.0)) /
        (coalesce(col("c1"), lit(0L)) + lit(model.vocab.toDouble)))
    bg.join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.unigrams, Seq("w1"), "left")
      .select(col(idCol), col("pos"), logp.as("logp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("logp")))),
            x => x.getField("logp")),
          lit(0.0), (acc, x) => acc + x).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        round(-col("__sum") / col("n_bigrams"), 6).as("nll"))
  }
}
