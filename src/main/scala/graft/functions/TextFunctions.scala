package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-pipeline operators.
  * All pure `Column` trees (built-in functions + higher-order array
  * functions) — codegen-friendly, no UDFs.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace-token count — native one-scan expression
    * (plans/WsTokenCount), value-identical to `size(tokens(text))`
    * without allocating the token array. */
  def tokenCount(text: Column): Column = graft.plans.WsTokenCount(text)

  /** BPE-ish pre-tokenizer: letter runs, single digits, single
    * punctuation marks. Same regex works in Java and RE2 (DuckDB). */
  val BpeRegex = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** Piece count — native one-scan counter (plans/BpePieceCount),
    * value-identical to `size(regexp_extract_all(text, BpeRegex, 0))`
    * (pinned by BpePieceCountSpec); the regex form was ~0.78 s of
    * tx_token_count's 1.06 s at 10x bench data. */
  def bpeTokenCount(text: Column): Column = graft.plans.BpePieceCount(text)

  /** Canonical subword vocabulary for [[bpeSubwordCount]] — the ONE
    * source of truth: the codegen tokenizer
    * (graft.plans.BpeTokenCount) and the DuckDB oracle's VALUES table
    * are both generated from this list. Lowercase ASCII only (matching
    * the tokenizer's lowercasing of letter runs); mixes whole words a
    * trained merge table would have fused with generic English
    * subwords, so common words count 1 and rare words fragment —
    * the shape a real BPE vocab produces. */
  val BpeVocab: Seq[String] = Seq(
    // whole words (frequent in the corpus → single token)
    "table", "value", "query", "stream", "window", "customer", "order",
    "group", "filter", "sort", "merge", "batch", "data", "key", "row",
    "scan", "hash", "part", "line", "slow", "fast", "big", "small",
    "join", "agg", "column", "vector", "spark",
    // common English subwords
    "the", "and", "ing", "ion", "tion", "ment", "ness", "able", "ous",
    "er", "re", "in", "on", "an", "en", "es", "ed", "st", "ar", "al",
    "or", "le", "te", "ti", "at", "is", "it", "ta", "ble", "ow", "ue",
    "ck", "sh", "ch", "qu", "up", "us", "lo", "ve", "ra", "ro", "om",
    "co", "de", "se", "un", "pre", "con", "ter", "ent", "ate", "ive")

  /** Vocab-driven BPE token count (greedy longest-match subwords over
    * [[BpeVocab]]; see graft.plans.BpeTokenCount for the contract).
    * [[bpeTokenCount]] counts pre-tokenizer PIECES; this counts the
    * actual subword tokens a tokenizer would emit. */
  def bpeSubwordCount(text: Column): Column =
    graft.plans.BpeTokenCount(text)

  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "with")

  /** Fraction of whitespace tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val stops = Stopwords
    val nStop = size(filter(tokens(text), t => t.isInCollection(stops)))
    nStop.cast("double") / tokenCount(text)
  }

  /** Fraction of characters that are not letters/digits/space. Native
    * one-scan counter (plans/PunctCount) — the regexp_extract_all form
    * allocates one single-char string per match and was measured as
    * the entire cost of the quality-score pass (2.44 s of 2.37 s total
    * at 10x bench data, QualityScoreProbe). */
  def punctRatio(text: Column): Column =
    graft.plans.PunctCount(text).cast("double") / length(text)

  /** Mean whitespace-token length. */
  def meanTokenLen(text: Column): Column =
    (length(regexp_replace(text, "\\s+", "")).cast("double")) / tokenCount(text)

  /** Canonical normalized form used for fingerprinting / exact dedup:
    * lowercase, non-alnum → space, squeeze whitespace, trim. Native
    * one-scan expression (plans/NormalizeText) — the equivalent
    * two-regexp_replace tree pays two java-regex passes per document,
    * the dominant cost of exact dedup at corpus scale. */
  def normalized(text: Column): Column = graft.plans.NormalizeText(text)

  /** Content fingerprint: md5 hex of the normalized text (md5 is
    * identical across Spark and DuckDB → oracle-checkable). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Word n-gram shingles as an array<string>; fewer than n tokens (or a
    * null text) yields an empty array. Native codegen expression
    * (graft.plans.WordShingles) — the equivalent
    * transform/sequence/slice HOF tree is interpreted and Catalyst
    * duplicates it into pushed-down filters and parallel branches,
    * which made the dedup pipelines quadratic-ish in practice. */
  def wordShingles(text: Column, n: Int): Column =
    coalesce(graft.plans.WordShingles(text, n, distinct = false),
      array().cast("array<string>"))

  /** Distinct word shingles (set semantics for Jaccard); first-occurrence
    * order, same as array_distinct. */
  def shingleSet(text: Column, n: Int): Column =
    coalesce(graft.plans.WordShingles(text, n, distinct = true),
      array().cast("array<string>"))

  /** Marker-word language-ID heuristic: score per language by counting
    * marker-token occurrences, argmax with deterministic tie order.
    * (An n-gram character model distilled to SQL-expressible form.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "de", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** [[langIdOfTokens]] over the whitespace [[tokens]] of `text`. */
  def langId(text: Column): Column = langIdOfTokens(tokens(text))

  /** Language of a token array: the [[LangMarkers]] language with the
    * most marker tokens, ties to the earlier language, and the first
    * language (`en`) for a null array.
    *
    * One walk of the array: a single `aggregate` keeps a struct of one
    * counter per language, and its finish lambda runs the argmax fold
    * over the counters. The fold copies each earlier score into both
    * the condition and the branch of the next `when`; with one
    * `size(filter(tokens, ...))` per score, every copy was its own
    * higher-order function, which runs interpreted and is never
    * common-subexpression-eliminated, so the plan walked each token
    * array 18 times for 4 distinct scores. Over the counters the same
    * copies are field reads. */
  def langIdOfTokens(toks: Column): Column = {
    val langs = LangMarkers.map(_._1)
    val zero = struct(langs.map(l => lit(0).as(l)): _*)
    val counted = aggregate(toks, zero,
      (acc, t) => struct(LangMarkers.map { case (l, m) =>
        (acc.getField(l) + when(t.isInCollection(m), 1).otherwise(0)).as(l)
      }: _*),
      acc => {
        val scored = langs.map(l => (l, acc.getField(l)))
        scored.tail.foldLeft((scored.head._2, lit(scored.head._1))) {
          case ((bestScore, bestLang), (lang, score)) =>
            (when(score > bestScore, score).otherwise(bestScore),
              when(score > bestScore, lit(lang)).otherwise(bestLang))
        }._2
      })
    coalesce(counted, lit(langs.head))
  }

  /** PII patterns shared by the Spark and oracle sides. Kept inside the
    * Java/RE2 common subset (no lookaround, no \b) so the same literal
    * string drives both engines. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\+[0-9]{1,3}-[0-9]{2,4}-[0-9]{1,7}"
  val Ipv4Regex = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Occurrences of a PII pattern (codegen regexp_extract_all). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Redacts emails, then IPv4 addresses, then phone numbers — in that
    * order, because the email pattern can span dots/digits that the
    * narrower patterns would otherwise bite into, and the placeholder
    * tokens contain neither digits nor '@' so later passes never match
    * inside earlier redactions. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRegex, "<EMAIL>"),
        Ipv4Regex, "<IP>"),
      PhoneRegex, "<PHONE>")

  /** Deterministic hash-based train/val/test assignment from the first
    * hex nibble of md5(key): 12/16 train, 2/16 val, 2/16 test. Keyed on
    * the doc id (not row order, not rand()) so a document keeps its
    * split across reruns, engines, and corpus growth — eval sets must
    * never silently absorb training docs. md5 is the one hash both
    * Spark and DuckDB compute identically, which makes the assignment
    * oracle-checkable. */
  def trainSplit(key: Column): Column = {
    val nibble = substring(md5(key.cast("string")), 1, 1)
    when(nibble.isin("c", "d"), "val")
      .when(nibble.isin("e", "f"), "test")
      .otherwise("train")
  }
}
