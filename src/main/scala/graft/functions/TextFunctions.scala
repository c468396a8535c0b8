package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for the LLM-training-data pipeline ops
  * (SURVEY §2.E): tokenization, cross-engine-stable hashing, shingling,
  * language-ID heuristics, and quality scoring over the `documents` table.
  *
  * The Column forms are codegen'd built-ins (no UDFs); [[hash60Local]] and
  * [[md5Hex]] are their JVM twins, and the MinHash sketch and banding live
  * in [[MinHash]]. Hashing uses md5 → first 15 hex digits → 60-bit positive
  * long, which both this engine and the DuckDB oracle can compute
  * bit-identically (`conv(substring(md5(x),1,15),16,10)`).
  */
object TextFunctions {

  /** Whitespace tokens (single-space split — the synthetic corpus is
    * single-space delimited; see FIXTURES.md B).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Deterministic 60-bit positive hash of a string, identical across
    * engines that agree on md5 (everything does). Used as the base hash for
    * MinHash / SimHash / fingerprint sketches so oracles can replicate them.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver-side twin of [[hash60]] — the ONE JVM replica (self-review
    * r17: two identical copies had grown in UnigramTok and LocalHybrid;
    * the t31 sampler gate and the serving-tier parity both depend on
    * this staying bit-identical to the SQL expression and to DuckDB's
    * `('0x' || substring(md5(s), 1, 15))::BIGINT`).
    */
  private[graft] def hash60Local(s: String): Long =
    hash60Of(MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)))

  /** The 60-bit hash of an md5 digest: its first 15 hex digits (bytes 0–6
    * and the high nibble of byte 7).
    */
  private[functions] def hash60Of(d: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Lower-case hex md5 of `b` — the JVM form of SQL `md5()`. */
  private[graft] def md5Hex(b: Array[Byte]): String =
    java.util.HexFormat.of().formatHex(MessageDigest.getInstance("MD5").digest(b))

  /** k-word shingles as space-joined strings; empty array when the document
    * has fewer than k tokens. Built from `zip_with` over k shifted slices:
    * HOF lambdas are interpreted and re-evaluate every non-lambda subtree
    * per element, so the obvious `transform(sequence, i -> element_at(toks,
    * i+j))` form re-splits the text 2·g times per row — the slice/zip form
    * evaluates `toks` k times total and the lambdas touch only their own
    * element variables.
    */
  def shingles(toks: Column, k: Int): Column = {
    val n = size(toks)
    val len = n - (k - 1)
    val joined = (1 until k).foldLeft(slice(toks, lit(1), len)) {
      case (acc, j) =>
        zip_with(acc, slice(toks, lit(j + 1), len), (a, b) => concat(a, lit(" "), b))
    }
    when(n >= k, joined).otherwise(array())
  }

  /** Count of tokens contained in `words` (NOT deduplicated — a frequency
    * count, matching stopword-density semantics).
    */
  def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  // Minimal per-language function-word lists for the n-gram/stopword
  // language-ID heuristic. Deliberately tiny and deterministic.
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit")
  val StopwordsEs: Seq[String] = Seq("el", "la", "de", "y", "es", "un", "en", "que")
  val StopwordsFr: Seq[String] = Seq("le", "la", "de", "et", "est", "un", "en", "que")

  /** The 4-way stopword-count language pick used across the t1/p-series
    * queries and [[graft.api.CorpusRecipe]]: argmax of per-language
    * function-word hits with the deterministic en > de > es > fr
    * tie-break the when-chain encodes.
    */
  def languagePick(toks: Column): Column = {
    val sEn = countIn(toks, StopwordsEn).cast("long")
    val sDe = countIn(toks, StopwordsDe).cast("long")
    val sEs = countIn(toks, StopwordsEs).cast("long")
    val sFr = countIn(toks, StopwordsFr).cast("long")
    when(sEn >= sDe && sEn >= sEs && sEn >= sFr, "en")
      .when(sDe >= sEs && sDe >= sFr, "de")
      .when(sEs >= sFr, "es")
      .otherwise("fr")
  }

  /** Punctuation character count (quality-scoring signal). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  /** Quality score in [0,1]: mean of three bounded signals — length band,
    * low punctuation density, stopword presence. Deterministic arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val lenOk = when(nTok >= 5 && nTok <= 2000, 1.0).otherwise(0.0)
    val punctRatio = punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0))
    val punctOk = when(punctRatio <= 0.1, 1.0).otherwise(0.0)
    val swRatio = countIn(toks, StopwordsEn).cast("double") / greatest(nTok, lit(1.0))
    (lenOk + punctOk + least(swRatio * 5.0, lit(1.0))) / 3.0
  }

  // ---- repetition signals (Rae et al. 2021 "Scaling Language Models:
  // Gopher", Table A1 — the standard pre-training repetition filters).
  // All ROW-LOCAL array arithmetic: no explode, no shuffle — at 100 TB a
  // repetition scan is a single pruned-projection pass.

  /** Fraction of tokens that repeat an earlier token: 1 − distinct/total.
    * 0 for the empty document.
    */
  def dupTokenFrac(toks: Column): Column =
    when(size(toks) === 0, 0.0).otherwise(
      lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))

  /** Fraction of all n-gram occurrences taken by the MOST FREQUENT n-gram
    * (Gopher's "fraction of characters in most common n-gram", token
    * flavour). Sort the grams, then one `aggregate` pass tracks the longest
    * equal-adjacent run — O(g log g) per row and shuffle-free. The naive
    * nested-HOF form (`transform(distinct, g -> count(filter(grams, =g)))`)
    * is O(d·g) with the grams array REBUILT inside the inner interpreted
    * lambda per distinct gram — measured 100× slower on the gate corpus
    * when the expression lands in a Filter, where column pruning can't
    * save it. 0 when the document is shorter than n.
    */
  def topNgramFrac(toks: Column, n: Int): Column = {
    val grams = shingles(toks, n)
    // "" can never equal a k≥1 gram produced from split() tokens here, and
    // even a pathological ""-gram first element just starts its run at 1.
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val best = aggregate(
      array_sort(grams), zero,
      (acc, x) => {
        val run = when(acc.getField("prev") === x, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(grams) === 0, 0.0).otherwise(
      best.cast("double") / size(grams).cast("double"))
  }

  // ---- PII scrubbing (C4-style cleaning). Patterns are deliberately
  // RE2-compatible (no lookarounds, ASCII classes only) so the SAME regex
  // text runs in Java (Spark) and RE2 (DuckDB/Trino) engines — the t6
  // oracle relies on that; the redaction is reproducible anywhere.

  // (?i) is in the common Java/RE2 subset, so mixed-case PII ("John@Example.COM")
  // redacts identically in Spark and the RE2-based oracle engines.
  val EmailPattern = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+\\d[\\d-]{7,}\\d"

  // ---- URL curation (RefinedWeb-style per-domain mixing rules). Regexes
  // stay in the common Java/RE2 subset like the PII patterns.

  /** Hostname of a scheme-prefixed URL; empty string when the shape doesn't
    * match (no scheme).
    */
  def urlHost(url: Column): Column = regexp_extract(url, "^[a-z]+://([^/?]+)", 1)

  /** Registered-domain approximation: the host minus a leading `www.`,
    * reduced to its last two labels (`a.b.site7.com` → `site7.com`). A full
    * public-suffix-list lookup is a broadcast-join refinement on the same
    * column shape.
    */
  def registeredDomain(url: Column): Column =
    regexp_extract(regexp_replace(urlHost(url), "^www\\.", ""), "([^.]+\\.[^.]+)$", 1)

  /** Replace emails, dotted-quad IPs and +international phone shapes with
    * typed redaction tags. Pure codegen'd regexp chain — a scrub pass over
    * 100 TB is a scan-local projection.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** How many PII spans [[scrubPii]] would redact. */
  def piiCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))) +
      size(regexp_extract_all(text, lit(PhonePattern), lit(0)))).cast("long")
}
