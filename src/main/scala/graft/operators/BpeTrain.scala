package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pre-tokenization discipline — how raw text becomes the "words" BPE
  * trains on and applies within (merges never cross a pre-token
  * boundary; Sennrich ACL'16 trains on words, GPT-2 on regex spans).
  * Each discipline gives BOTH forms of the same split: a Column (the
  * distributed plans) and a driver/task-side twin (spec replays, local
  * tooling) that must agree exactly — the twin-parity trap the t14a
  * surrogate-split review caught lives here, so specs pin the pair on
  * punctuation/unicode fixtures. The `tag` round-trips through the
  * persisted model artifact ([[graft.sources.ModelStore.saveBpe]]), so a
  * loaded tokenizer re-applies the exact discipline it was trained with
  * — a model trained under one split and applied under another would
  * silently produce out-of-vocabulary symbols.
  */
sealed trait PreTokenizer {
  /** array<string> of pre-tokens for a text column. */
  def splitCol(text: Column): Column
  /** Driver-side twin of [[splitCol]] — must agree element-for-element. */
  def splitLocal(text: String): Seq[String]
  /** Serialized form for the model artifact; [[PreTokenizer.fromTag]]
    * inverts it. */
  def tag: String
}

/** Split on a single space (the suite's `tokens()` discipline). */
case object SpacePreTok extends PreTokenizer {
  def splitCol(text: Column): Column = split(text, " ")
  // Spark's split uses limit -1 (trailing empties KEPT); Java's default
  // String.split(limit 0) drops them — pass -1 explicitly for parity
  def splitLocal(text: String): Seq[String] =
    text.split(" ", -1).toIndexedSeq
  def tag: String = "space"
}

/** GPT-2-style regex pre-tokenization (Radford et al. 2019 release
  * `gpt2/encoder.py`): letter runs, digit runs, and punctuation runs,
  * each optionally absorbing one preceding space — so " the" and "the"
  * are distinct vocabulary entries and merges never cross a span. The
  * pattern is user-supplied; [[RegexPreTok.Gpt2ish]] is the stock one,
  * rewritten lookahead-free (the original's `\s+(?!\S)`/`\s+` whitespace
  * clauses need negative lookahead, which RE2 — DuckDB's engine, hence
  * the oracle's — lacks; without them whitespace never forms its own
  * token: the space immediately before a span still absorbs into it and
  * any earlier whitespace in a run is skipped) and with `\s` expanded
  * to an explicit class (Java's
  * `\s` includes U+000B, RE2's does not — the one character the two
  * engines disagree on).
  */
final case class RegexPreTok(pattern: String) extends PreTokenizer {
  def splitCol(text: Column): Column =
    regexp_extract_all(text, lit(pattern), lit(0))
  def splitLocal(text: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(text)
    val out = Seq.newBuilder[String]
    while (m.find()) out += m.group(0)
    out.result()
  }
  def tag: String = "regex:" + pattern
}

object RegexPreTok {
  /** The stock GPT-2-ish pattern (see [[RegexPreTok]] for the two
    * deliberate deviations that make Java regex and RE2 agree on it).
    */
  val Gpt2ish = " ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+"
}

object PreTokenizer {
  /** Invert [[PreTokenizer.tag]] — the model-artifact load side. */
  def fromTag(tag: String): PreTokenizer = tag match {
    case "space" => SpacePreTok
    case t if t.startsWith("regex:") => RegexPreTok(t.stripPrefix("regex:"))
    case other => throw new IllegalArgumentException(
      s"unknown pre-tokenizer tag '$other' (have: space, regex:<pattern>)")
  }
}

/** Byte-pair-encoding tokenizer TRAINING over a corpus — the "train the
  * tokenizer" stage of a large-scale training-data pipeline (Sennrich,
  * Haddow & Birch, ACL 2016, "Neural Machine Translation of Rare Words
  * with Subword Units": learn a merge list by repeatedly merging the
  * corpus's most frequent adjacent symbol pair).
  *
  * Scale shape — why BPE training is tractable at 100 TB:
  *   1. ONE pass over the corpus builds the (word, freq) table
  *      ([[wordFreq]]) — a map-side-combined groupBy that collapses the
  *      corpus to its vocabulary (millions of rows, not billions). This
  *      is the only stage whose cost scales with the corpus.
  *   2. Every training iteration ([[fit]]: pair-count → global argmax →
  *      merge apply) runs over that vocabulary table alone: one
  *      explode+groupBy shuffle of vocabulary-sized data and ONE
  *      driver-fetched argmax row per iteration, independent of corpus
  *      size. `localCheckpoint` truncates the per-iteration lineage so K
  *      merges cost K shallow jobs, not one K-deep plan.
  *   3. Applying the learned tokenizer to a corpus ([[tokenCounts]])
  *      segments DISTINCT words once and joins the result back — apply
  *      cost ∝ vocabulary + one corpus-side join, never corpus × merges.
  *
  * Merge semantics: greedy left-to-right within a word, implemented as an
  * `aggregate` higher-order-function fold over the symbol array — a
  * merged symbol never re-merges as the LEFT member of the same pair in
  * the same pass (its value is `left+right`, never `left`), which is
  * exactly the reference implementation's zero-width-boundary regex
  * substitution semantics. Pinned by BpeTrainSpec against an independent
  * driver-side replay. Ties in the argmax break by (count DESC, left,
  * right) so training is deterministic.
  */
object BpeTrain {

  /** A trained tokenizer as a MODEL: the pre-tokenization discipline the
    * corpus was split with, the ordered merge list, and whether symbols
    * are BYTE-LEVEL — the unit [[graft.sources.ModelStore.saveBpe]]/
    * `loadBpe` persist, because a merge list without its split and
    * symbol disciplines is not reusable (the same merges mean different
    * things over space-words, GPT-2 spans, code points and bytes).
    *
    * `byteLevel` is GPT-2's zero-OOV guarantee (Radford et al. 2019
    * `encoder.py` `bytes_to_unicode`): each pre-token becomes its UTF-8
    * BYTES, each byte remapped to a printable character
    * ([[BpeTrain.ByteToUnicode]]), and merges operate over that
    * 256-symbol alphabet — ANY text segments, unseen scripts included,
    * with no unknown-token escape hatch needed. Code-point symbols
    * (byteLevel = false) are the suite's default discipline.
    */
  final case class BpeModel(preTok: PreTokenizer, merges: Seq[(String, String)],
                            byteLevel: Boolean = false)

  /** The corpus-collapsing pass: pre-tokens with occurrence counts.
    * The default discipline mirrors [[graft.functions.TextFunctions
    * .tokens]] (split on a single space, empties dropped) so BPE rows
    * share the suite's token discipline; real corpora pass a
    * [[RegexPreTok]] (GPT-2-style spans) instead. Empty pre-tokens are
    * dropped under every discipline.
    */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    wordFreq(df, textCol, SpacePreTok)

  def wordFreq(df: DataFrame, textCol: String, pre: PreTokenizer): DataFrame =
    df.select(explode(pre.splitCol(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).cast("long").as("freq"))

  /** Starting segmentation for a (word, freq) table: (word, freq, syms)
    * — code points by default, UTF-8 bytes remapped through
    * [[ByteToUnicode]] when `byteLevel` (the GPT-2 zero-OOV alphabet).
    */
  def initialSeg(words: DataFrame): DataFrame = initialSeg(words, byteLevel = false)

  def initialSeg(words: DataFrame, byteLevel: Boolean): DataFrame =
    words.select(col("word"), col("freq").cast("long").as("freq"),
      (if (byteLevel) byteSymsCol(col("word"))
       else split(col("word"), "")).as("syms"))

  /** Weighted adjacent-pair counts of the CURRENT segmentation — the
    * per-iteration workhorse: (left_sym, right_sym, pair_count). One
    * explode bounded by Σ freq-weighted word lengths of the VOCABULARY,
    * one map-side-combined groupBy.
    */
  def pairCounts(seg: DataFrame): DataFrame =
    seg.where(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(get(col("syms"), i).as("left_sym"),
          get(col("syms"), i + 1).as("right_sym")))).as("p"))
      .select(col("p.left_sym").as("left_sym"),
        col("p.right_sym").as("right_sym"), col("freq"))
      .groupBy("left_sym", "right_sym")
      .agg(sum("freq").as("pair_count"))

  /** One greedy left-to-right merge of (left, right) applied to a symbol
    * array column — the fold keeps the running result as the accumulator
    * and merges when its last element is `left` and the next symbol is
    * `right`.
    */
  private[operators] def mergeCol(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(left) && x === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(x))))

  /** Learn `numMerges` merges from a (word, freq) table. Returns the
    * ordered merge list — the tokenizer model. Stops early when no
    * adjacent pair remains (every word fused to one symbol).
    */
  def fit(words: DataFrame, numMerges: Int,
          byteLevel: Boolean = false): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges $numMerges must be >= 0")
    var seg = initialSeg(words, byteLevel).localCheckpoint()
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val top = pairCounts(seg)
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1).collect() // ONE row — the global argmax, driver-sized
      if (top.isEmpty) exhausted = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        out += ((l, r))
        seg = seg.withColumn("syms", mergeCol(col("syms"), l, r))
          .localCheckpoint()
        i += 1
      }
    }
    out.result()
  }

  /** [[fit]] at production merge counts — the shape a 100 TB training
    * run actually wants. [[wordFreq]] is the only corpus-scaled stage
    * and its output is VOCABULARY-sized (millions of rows at web scale,
    * driver-memory-sized by orders of magnitude), so the K-merge loop
    * collects it once and trains at memory speed: pair counts maintained
    * INCREMENTALLY (only words containing the merged pair are touched,
    * via a pair→word-indices index) and the argmax served by a
    * stale-entry max-heap — versus the distributed [[fit]]'s one
    * scheduled job per merge (~hours of job overhead at the tens of
    * thousands of merges production tokenizers use; minutes here).
    * Same greedy semantics, same argmax tie-break — (count DESC, left,
    * right) under UTF-8 byte order, exactly Spark's string sort — so
    * the learned list is spec-pinned merge-for-merge equal to [[fit]]'s.
    * `maxVocab` guards the collect; above it fall back to [[fit]]. The
    * default (8M rows) budgets for the REAL per-row driver cost — the
    * word string plus its per-code-point symbol array plus pair-index
    * membership, ~100-300 B/row for natural-language vocabularies, so
    * ~1-2 GB of driver heap; raising it is a statement that the driver
    * heap is sized for collect × that per-row weight, not just the row
    * count (a 50M default passed the guard and then died in the collect
    * with driver OOM — the opposite of the loud fallback this guard is
    * for).
    */
  def fitLocal(words: DataFrame, numMerges: Int,
               maxVocab: Long = 8000000L,
               byteLevel: Boolean = false): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges $numMerges must be >= 0")
    // one materialization serves both the guard's count and the collect —
    // upstream is typically wordFreq(corpus), the one corpus-scaled scan
    val proj = words
      .select(col("word").cast("string"), col("freq").cast("long")).persist()
    val rows = try {
      val n = proj.count()
      require(n <= maxVocab,
        s"vocabulary $n exceeds maxVocab $maxVocab — use the distributed fit")
      proj.collect()
    } finally proj.unpersist()
    val seed: String => Array[String] =
      if (byteLevel) byteSymsLocal else codePointSyms
    val syms: Array[Array[String]] = rows.map(r => seed(r.getString(0)))
    val freq: Array[Long] = rows.map(_.getLong(1))

    // max count first; among ties the SMALLEST (left, right)
    val ord: Ordering[(Long, String, String)] =
      (a: (Long, String, String), b: (Long, String, String)) => {
        if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
        else {
          val dl = u8cmp(a._2, b._2)
          val d = if (dl != 0) dl else u8cmp(a._3, b._3)
          -d
        }
      }

    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.Set[Int]]
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)
    val touched = scala.collection.mutable.HashSet.empty[(String, String)]
    def wordPairs(w: Int, sign: Long): Unit = {
      val s = syms(w); var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val nv = counts.getOrElse(p, 0L) + sign * freq(w)
        if (nv == 0L) counts.remove(p) else counts(p) = nv
        if (sign > 0) where.getOrElseUpdate(
          p, scala.collection.mutable.HashSet.empty[Int]) += w
        touched += p
        i += 1
      }
      if (sign < 0) { // drop membership once, after all occurrences
        var j = 0
        while (j < s.length - 1) {
          where.get((s(j), s(j + 1))).foreach { ws =>
            ws -= w; if (ws.isEmpty) where.remove((s(j), s(j + 1)))
          }
          j += 1
        }
      }
    }
    var w = 0
    while (w < syms.length) { wordPairs(w, 1L); w += 1 }
    counts.foreach { case (p, c) => heap.enqueue((c, p._1, p._2)) }

    val out = Seq.newBuilder[(String, String)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val t = heap.dequeue()
        // an entry is live only if it still states the CURRENT count —
        // every count change pushes a fresh entry, so stale ones drop
        if (counts.getOrElse((t._2, t._3), 0L) == t._1) top = t
      }
      if (top == null) exhausted = true
      else {
        val (l, r) = (top._2, top._3)
        out += ((l, r))
        val affected = where.getOrElse((l, r), Set.empty[Int]).toArray
        touched.clear()
        var a = 0
        while (a < affected.length) {
          val wi = affected(a)
          wordPairs(wi, -1L)
          syms(wi) = greedyOnce(syms(wi), l, r)
          wordPairs(wi, 1L)
          a += 1
        }
        touched.foreach { p =>
          counts.get(p).foreach(c => heap.enqueue((c, p._1, p._2)))
        }
        k += 1
      }
    }
    out.result()
  }

  /** Spark's UTF8String sort is unsigned UTF-8 byte order, which equals
    * CODE-POINT order (UTF-8 is order-preserving) — so walk code points,
    * no per-comparison byte-array allocation in a heap's hot path. Java
    * String.compareTo would differ exactly where a supplementary char
    * (U+10000+) ties against U+E000–U+FFFF: UTF-16 surrogates sort
    * below, code points above. Shared by [[fitLocal]] and
    * [[WordPiece.fitLocal]] — the driver-side argmax tie-breaks must
    * reproduce the distributed fits' `orderBy` exactly.
    */
  private[graft] def u8cmp(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    (a.length - i) - (b.length - j)
  }

  /** One exhaustive greedy left-to-right pass of merge (l, r) over a
    * symbol array — the task-side unit [[applyMergesInOrder]] and
    * [[fitLocal]] share.
    */
  private[operators] def greedyOnce(
      syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        out += (l + r); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Apply a learned merge list to a words table: (word, tokens). Cost ∝
    * vocabulary × merges — run this on DISTINCT words and join back to
    * the corpus (see [[tokenCounts]]), never on the corpus directly.
    *
    * Semantics note: merges apply IN LIST ORDER, each exhaustively —
    * which is, by construction, exactly the training state after [[fit]]
    * (training applies each merge once, when it is learned). Production
    * tokenizers usually apply by rank priority (repeatedly merge the
    * lowest-rank pair present) — equivalent on learned lists except for
    * a pathological corner (a later merge re-forming an earlier merge's
    * symbol string, re-creating a pair the earlier pass already
    * consumed); training itself produces the in-order state, so this is
    * the semantics the learned list means. At production merge counts
    * (tens of thousands) the K-chained fold below gives way to
    * [[segmentWordsScalable]] — same semantics, one `mapPartitions`
    * pass; at the list sizes the fold's expression tree tolerates
    * (hundreds), the declarative form wins.
    */
  def segmentWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame =
    segmentWords(words, merges, byteLevel = false)

  def segmentWords(words: DataFrame, merges: Seq[(String, String)],
                   byteLevel: Boolean): DataFrame =
    words.select(col("word"),
      merges.foldLeft(
        if (byteLevel) byteSymsCol(col("word")) else split(col("word"), "")) {
        case (c, (l, r)) => mergeCol(c, l, r)
      }.as("tokens"))

  /** [[segmentWords]] at production merge counts: the SAME in-list-order
    * exhaustive semantics (spec-pinned equal), applied per row in one
    * `mapPartitions` pass instead of a K-deep expression tree. The
    * per-word loop never scans the merge list: a pair→sorted-ranks index
    * (built once per task from the broadcast list) lets each step jump
    * straight to the NEXT merge whose pair is currently present in the
    * word — per-word cost is O(firing merges × word length), independent
    * of K, so tens of thousands of merges over a 10M-word vocabulary is
    * one cheap narrow pass.
    */
  def segmentWordsScalable(words: DataFrame, merges: Seq[(String, String)]): DataFrame =
    segmentWordsScalable(words, merges, byteLevel = false)

  def segmentWordsScalable(words: DataFrame, merges: Seq[(String, String)],
                           byteLevel: Boolean): DataFrame = {
    val session = words.sparkSession
    import session.implicits._
    val bc = session.sparkContext.broadcast(merges.toArray)
    // spread BEFORE the merge-apply pass: the per-word merge loop
    // amplifies far beyond the input's bytes
    words.select(col("word").cast("string")).repartition(col("word"))
      .as[String]
      .mapPartitions { it =>
        val ms = bc.value
        val ranks = mergeRanks(ms)
        val seed: String => Array[String] =
          if (byteLevel) byteSymsLocal else codePointSyms
        // null word -> null tokens, the fold path's behavior
        it.map(w => (w,
          if (w == null) null else applyMergesToSyms(seed(w), ms, ranks)))
      }
      .toDF("word", "tokens")
  }

  /** GPT-2's byte→printable-character table, reconstructed from the
    * PUBLISHED algorithm (Radford et al. 2019 `encoder.py`
    * `bytes_to_unicode`): the three printable Latin-1 ranges — `!`..`~`
    * (33–126), `¡`..`¬` (161–172), `®`..`ÿ` (174–255) — map to
    * themselves; every other byte b maps to `chr(256 + n)` where n
    * counts the non-printable bytes in byte order (so 0x20 space →
    * U+0120 `Ġ`, the famous GPT-2 space mark; newline → U+010A `Ċ`).
    * The mapping is a bijection into single BMP characters, so
    * byte-level symbols behave exactly like any other string symbol in
    * the merge machinery and round-trip losslessly.
    */
  val ByteToUnicode: IndexedSeq[String] = {
    val kept = (33 to 126) ++ (161 to 172) ++ (174 to 255)
    val keptSet = kept.toSet
    var n = 0
    (0 until 256).map { b =>
      if (keptSet(b)) b.toChar.toString
      else { val c = (256 + n).toChar.toString; n += 1; c }
    }
  }

  /** Byte-level initial segmentation as a Column — one symbol per UTF-8
    * byte of the word, remapped through [[ByteToUnicode]]: the word's
    * bytes render as a hex string (2 chars per byte — a pure function
    * Spark and the task-side twin compute identically) and each chunk
    * indexes the 256-entry table literal. Stays inside whole-stage
    * codegen: encode/hex/sequence/transform/element_at, no UDF.
    */
  private[graft] def byteSymsCol(word: Column): Column = {
    val table = typedlit(ByteToUnicode)
    val h = upper(hex(encode(word, "UTF-8")))
    // guard the empty word: Spark's sequence(0, -1) DESCENDS ([0, -1]),
    // it does not produce an empty sequence
    when(length(h) === 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), (length(h) / 2).cast("int") - 1),
        i => element_at(table,
          conv(substring(h, i * 2 + 1, lit(2)), 16, 10).cast("int") + 1)))
  }

  /** Task/driver-side twin of [[byteSymsCol]] — must agree byte for
    * byte. Empty word → empty array (unlike code-point seg's Spark
    * split('','') = [""] artifact: hex('') is '' and the sequence is
    * empty — the Column form produces the same empty array).
    */
  private[graft] def byteSymsLocal(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => ByteToUnicode(b & 0xff))

  /** Code-point initial segmentation — MUST match Spark's
    * `split(word, "")`, which splits by code point (probed: U+10000
    * stays one symbol). Java's `String.split("")` splits by UTF-16 code
    * UNIT, leaving lone surrogates that form phantom pairs sorting
    * BELOW U+FFFF — a task-side splitter using it diverges from the
    * distributed plans on any text with emoji/astral characters.
    */
  private[graft] def codePointSyms(w: String): Array[String] = {
    if (w.isEmpty) return Array("") // Spark: split('', '') = [""], size 1
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** pair → ascending ranks at which the merge list contains that pair
    * (a pair may recur; each occurrence fires independently in order).
    */
  private[graft] def mergeRanks(
      merges: Array[(String, String)]): Map[(String, String), Array[Int]] =
    merges.zipWithIndex.groupBy(_._1)
      .map { case (p, a) => p -> a.map(_._2).sorted }

  /** Task-side twin of the [[mergeCol]] fold chain: apply each merge in
    * list order, exhaustively left-to-right. Equivalent formulation that
    * skips non-firing merges: repeatedly find the smallest rank ≥ k whose
    * pair is adjacent in the word right now (present-pair min over binary
    * searches in `ranks`), fire it, continue from the next rank — between
    * two firing ranks the word does not change, so no skipped merge could
    * have fired.
    */
  private[graft] def applyMergesInOrder(
      word: String, merges: Array[(String, String)],
      ranks: Map[(String, String), Array[Int]]): Array[String] =
    applyMergesToSyms(codePointSyms(word), merges, ranks)

  /** The rank-skip applier over an ALREADY-SEEDED symbol array — shared
    * by the code-point and byte-level disciplines.
    */
  private[graft] def applyMergesToSyms(
      syms0: Array[String], merges: Array[(String, String)],
      ranks: Map[(String, String), Array[Int]]): Array[String] = {
    var syms: Array[String] = syms0
    var k = 0
    def firstAtLeast(p: (String, String)): Int = ranks.get(p) match {
      case None => Int.MaxValue
      case Some(a) =>
        var lo = 0; var hi = a.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (a(mid) < k) lo = mid + 1 else hi = mid
        }
        if (lo < a.length) a(lo) else Int.MaxValue
    }
    while (syms.length >= 2 && k < merges.length) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = firstAtLeast((syms(i), syms(i + 1)))
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) return syms
      val (l, r) = merges(best)
      syms = greedyOnce(syms, l, r)
      k = best + 1
    }
    syms
  }

  /** Above this merge count [[tokenCounts]] switches from the
    * declarative fold to [[segmentWordsScalable]] — the fold's
    * expression tree deepens linearly with K and analysis cost follows.
    */
  val FoldMergeMax = 128

  /** Per-document token count under a learned tokenizer — the budget
    * input for [[Sampling]]'s token-budget draws. Distinct words are
    * segmented once (vocabulary-sized), then one equi-join back to the
    * corpus's exploded words and a per-doc sum. Merge lists longer than
    * [[FoldMergeMax]] segment via [[segmentWordsScalable]] (identical
    * semantics, spec-pinned).
    */
  /** The id table of a BYTE-LEVEL model — deterministic and
    * corpus-independent, the property a training run's export needs:
    * ids 0–255 are the byte alphabet in byte order ([[ByteToUnicode]]),
    * id 256+k is merge k's composite string. Requires `byteLevel`: a
    * code-point model's base alphabet is whatever characters the corpus
    * happens to contain, so its ids could silently differ between two
    * exports of the same model. In the pathological case where two
    * merges compose the same STRING (("a","bc") and ("ab","c") both
    * yield "abc"), the first rank keeps the id — token strings stay
    * unique, later duplicate composites are skipped.
    */
  def vocab(model: BpeModel): Seq[(String, Long)] = {
    require(model.byteLevel,
      "deterministic token ids need the byte-level alphabet — a " +
        "code-point model's base vocabulary is corpus-dependent")
    val seen = scala.collection.mutable.HashSet[String](ByteToUnicode: _*)
    ByteToUnicode.zipWithIndex.map { case (s, i) => (s, i.toLong) } ++
      model.merges.zipWithIndex.flatMap { case ((l, r), k) =>
        if (seen.add(l + r)) Some((l + r, 256L + k)) else None
      }
  }

  /** The TRAINING EXPORT grain: one row per (doc, position) with the
    * token's [[vocab]] id — (idCol, pos, token_id), pos 0-based over the
    * doc's pre-token order then within-word token order. The zero-OOV
    * property is load-bearing here: under the byte-level alphabet every
    * producible token is a base symbol or a merge composite, so the
    * vocabulary join can never drop a row. Scale shape: distinct words
    * segment once (vocabulary-sized), one equi-join back to the
    * positioned corpus words, the (260 + merges)-row id table
    * broadcasts, and the only doc-grain shuffle is the per-doc position
    * window — the grain the export needs anyway. Empty pre-tokens are
    * dropped BEFORE positions are assigned (wordFreq's discipline).
    */
  def tokenIds(df: DataFrame, idCol: String, textCol: String,
               model: BpeModel): DataFrame = {
    require(!Set("word", "pos", "token", "token_id", "__wpos", "__tpos")(idCol),
      s"idCol '$idCol' collides with tokenIds' internal/output columns " +
        "(word, pos, token, token_id) — rename it")
    val spark = df.sparkSession
    val words = df
      .select(col(idCol), posexplode(model.preTok.splitCol(col(textCol))))
      .select(col(idCol), col("pos").as("__wpos"), col("col").as("word"))
      .where(length(col("word")) > 0)
    val segment: DataFrame => DataFrame =
      if (model.merges.size > FoldMergeMax)
        segmentWordsScalable(_, model.merges, model.byteLevel)
      else segmentWords(_, model.merges, model.byteLevel)
    val perTok = segment(words.select("word").distinct())
      // vocabulary-sized posexplode: same planner barrier as the t14 row
      .localCheckpoint()
      .select(col("word"), posexplode(col("tokens")))
      .select(col("word"), col("pos").as("__tpos"), col("col").as("token"))
    import spark.implicits._
    val ids = vocab(model).toDF("token", "token_id")
    words.join(perTok, "word").join(broadcast(ids), "token")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("__wpos"), col("__tpos"))).cast("long") - 1)
      .select(col(idCol), col("pos"), col("token_id"))
  }

  /** Inverse of [[tokenIds]] under a byte-level model — (idCol, pos,
    * token_id) back to (idCol, text). Byte-level makes this EXACT with
    * no special cases: ids map back to tokens through [[vocab]], each
    * doc's tokens concatenate in position order (an exact string fold —
    * no float grain anywhere), and the remapped alphabet inverts
    * byte-for-byte ([[ByteToUnicode]] is a bijection) before one UTF-8
    * decode. Text whose inter-word whitespace the pre-tokenizer
    * preserves (single spaces under [[RegexPreTok.Gpt2ish]]) round-trips
    * VERBATIM — encode → export → decode is the identity, which the t20
    * gate row pins against the raw documents table itself. Scale shape:
    * one broadcast join on the (260 + merges)-row id table and one
    * groupBy(doc) — the grain a sample-inspection/debugging pass needs.
    */
  def detokenize(ids: DataFrame, idCol: String, model: BpeModel): DataFrame = {
    require(!Set("pos", "token", "token_id", "text")(idCol),
      s"idCol '$idCol' collides with detokenize's internal/output columns")
    val spark = ids.sparkSession
    import spark.implicits._
    val inv = vocab(model).map { case (t, i) => (i, t) }.toDF("token_id", "token")
    // remapped char -> the source byte's 2 hex digits; unhex + UTF-8
    // decode inverts the byte-level alphabet exactly
    val revHex = typedlit(
      ByteToUnicode.zipWithIndex.map { case (c, b) => c -> f"$b%02X" }.toMap)
    ids.join(broadcast(inv), "token_id")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        x => x.getField("token")), "").as("__joined"))
      .select(col(idCol),
        decode(unhex(array_join(transform(split(col("__joined"), ""),
          c => element_at(revHex, c)), "")), "UTF-8").as("text"))
  }

  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame =
    tokenCounts(df, idCol, textCol, BpeModel(SpacePreTok, merges))

  /** [[tokenCounts]] under a full [[BpeModel]] — the loaded-artifact
    * serving shape: the model's OWN pre-tokenization discipline splits
    * the corpus, so a tokenizer trained under GPT-2-style spans counts
    * under them too.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
                  model: BpeModel): DataFrame = {
    require(!Set("word", "tokens", "n", "bpe_tokens")(idCol),
      s"idCol '$idCol' collides with tokenCounts' internal/output columns " +
        "(word, tokens, n, bpe_tokens) — rename it")
    val corpusWords = df
      .select(col(idCol), explode(model.preTok.splitCol(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
    val segment: DataFrame => DataFrame =
      if (model.merges.size > FoldMergeMax)
        segmentWordsScalable(_, model.merges, model.byteLevel)
      else segmentWords(_, model.merges, model.byteLevel)
    val perWord = segment(corpusWords.select("word").distinct())
      .select(col("word"), size(col("tokens")).cast("long").as("n"))
    corpusWords.join(perWord, "word")
      .groupBy(idCol)
      .agg(sum("n").as("bpe_tokens"))
  }
}
