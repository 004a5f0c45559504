package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis block over `documents` — the LLM-pipeline signals
  * (token counts, quality heuristics, language ID, fingerprinting,
  * corpus n-gram stats). All pure Column trees from TextFunctions, so
  * every query stays inside whole-stage codegen.
  *
  * Ratio outputs are NOT rounded: both engines divide the same exact
  * integers, so the doubles are bit-identical — rounding would only
  * introduce half-up boundary risk.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  /** (doc_id, text) spread across the session parallelism: documents is
    * single-split parquet, and the per-row tokenize/score trees are the
    * dominant cost — without the spread they run on one core. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    graft.operators.Par.spread(docs(s, dir).select("doc_id", "text"))

  /** docsSpread for the per-doc scoring queries ordered by doc_id:
    * range-exchange the narrow (doc_id, text) source up front and finish
    * with sortWithinPartitions — an orderBy finish would re-execute the
    * whole per-row tokenize/score stage in its range-boundary sampling
    * job (see Par.spreadOrdered / IngestQueries.spreadEvOrdered). */
  private def docsSpreadOrdered(s: SparkSession, dir: String): DataFrame =
    graft.operators.Par.spreadOrdered(
      docs(s, dir).select("doc_id", "text"), col("doc_id"))

  /** Shared DuckDB token list expression (mirror of TextFunctions.tokens). */
  private val toksSql = """string_split_regex(trim(text), '\s+')"""

  // ---- tx_token_count ----------------------------------------------------

  def txTokenCount(s: SparkSession, dir: String): DataFrame =
    docsSpreadOrdered(s, dir).select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
      .sortWithinPartitions("doc_id")

  val txTokenCountSql: String = s"""
    |SELECT doc_id,
    |  len($toksSql) AS n_tokens,
    |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe_tokens
    |FROM documents ORDER BY doc_id""".stripMargin

  // ---- tx_bpe_tokens -----------------------------------------------------

  /** Vocab-driven BPE token counts (graft.plans.BpeTokenCount: greedy
    * longest-match subwords over TextFunctions.BpeVocab, single-pass
    * codegen) next to the pre-tokenizer piece count — the pair a
    * token-budget audit wants: `n_bpe >= n_pieces` always, and the gap
    * measures how much the corpus fragments under the vocab.
    *
    * The DuckDB oracle replays the identical contract: pieces from the
    * same regex, then a recursive-CTE walk over DISTINCT words where
    * each step advances by the longest vocab entry matching at the
    * current position (precomputed in a non-recursive `adv` CTE — the
    * recursion itself is pure position-hopping, depth <= word length).
    * Hash-verified, so the tokenizer semantics — not just row counts —
    * are pinned. */
  def txBpeTokens(s: SparkSession, dir: String): DataFrame =
    docsSpreadOrdered(s, dir).select(
      col("doc_id"),
      bpeTokenCount(col("text")).cast("long").as("n_pieces"),
      bpeSubwordCount(col("text")).as("n_bpe"))
      .sortWithinPartitions("doc_id")

  val txBpeTokensSql: String = {
    val vocabVals = BpeVocab.map(v => s"('$v')").mkString(", ")
    s"""
    |WITH RECURSIVE
    |pieces AS (
    |  SELECT doc_id, unnest(regexp_extract_all(text, '$BpeRegex')) AS p
    |  FROM documents),
    |lp AS (SELECT doc_id, lower(p) AS w FROM pieces
    |       WHERE regexp_matches(p, '^[A-Za-z]')),
    |np AS (SELECT doc_id, count(*) AS n_other FROM pieces
    |       WHERE NOT regexp_matches(p, '^[A-Za-z]') GROUP BY doc_id),
    |words AS (SELECT DISTINCT w FROM lp),
    |vocab(tok) AS (VALUES $vocabVals),
    |posn AS (SELECT w, unnest(range(1, length(w) + 1)) AS ps FROM words),
    |adv AS (
    |  SELECT posn.w, posn.ps, coalesce(max(length(v.tok)), 1) AS adv
    |  FROM posn LEFT JOIN vocab v ON substr(posn.w, posn.ps, length(v.tok)) = v.tok
    |  GROUP BY posn.w, posn.ps),
    |walk(w, ps, n) AS (
    |  SELECT w, 1, 0 FROM words
    |  UNION ALL
    |  SELECT wk.w, wk.ps + a.adv, wk.n + 1
    |  FROM walk wk JOIN adv a ON a.w = wk.w AND a.ps = wk.ps),
    |wcount AS (SELECT w, max(n) AS wn FROM walk GROUP BY w),
    |dt AS (SELECT lp.doc_id, sum(wc.wn) AS n_sub
    |       FROM lp JOIN wcount wc ON lp.w = wc.w GROUP BY lp.doc_id)
    |SELECT d.doc_id,
    |  len(regexp_extract_all(d.text, '$BpeRegex')) AS n_pieces,
    |  CAST(coalesce(np.n_other, 0) + coalesce(dt.n_sub, 0) AS BIGINT) AS n_bpe
    |FROM documents d
    |LEFT JOIN np ON d.doc_id = np.doc_id
    |LEFT JOIN dt ON d.doc_id = dt.doc_id
    |ORDER BY d.doc_id""".stripMargin
  }

  // ---- tx_pack_sequences -------------------------------------------------

  /** Concat-and-chunk sequence packing (operators/Pack): documents are
    * laid end-to-end in doc_id order and the token stream is chunked
    * into 2048-token training sequences; output is the per-sequence
    * manifest (docs starting in the sequence, token mass, id span).
    * The global offset comes from Pack.prefixSum's two-phase bucketed
    * prefix sum — parallel within-bucket windows plus an O(buckets)
    * side frame, never a single-task global window. The oracle computes
    * the same offsets with a plain global window (fine single-node) —
    * integer token counts make every offset exact, so the bucketed and
    * global computations agree bit-for-bit. */
  val SeqTokens = 2048L

  def txPackSequences(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pack.packSequences(
      docsSpread(s, dir).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", SeqTokens)
      .orderBy("seq_id")

  val txPackSequencesSql: String = s"""
    |WITH tok AS (SELECT doc_id, len($toksSql) AS nt FROM documents),
    |o AS (SELECT doc_id, nt,
    |        CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    |             - nt AS BIGINT) AS off
    |      FROM tok)
    |SELECT CAST(floor(off / $SeqTokens) AS BIGINT) AS seq_id,
    |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
    |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
    |FROM o GROUP BY 1 ORDER BY seq_id""".stripMargin

  // ---- tx_quality_score --------------------------------------------------

  def txQualityScore(s: SparkSession, dir: String): DataFrame =
    docsSpreadOrdered(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      stopwordRatio(col("text")).as("stopword_ratio"),
      punctRatio(col("text")).as("punct_ratio"),
      meanTokenLen(col("text")).as("mean_token_len"))
      .sortWithinPartitions("doc_id")

  val txQualityScoreSql: String = {
    val stops = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""
    |WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
    |SELECT doc_id,
    |  length(text) AS n_chars,
    |  CAST(len(list_filter(toks, x -> list_contains($stops, x))) AS DOUBLE)
    |    / len(toks) AS stopword_ratio,
    |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
    |    / length(text) AS punct_ratio,
    |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
    |    / len(toks) AS mean_token_len
    |FROM t ORDER BY doc_id""".stripMargin
  }

  // ---- tx_lang_id --------------------------------------------------------

  def txLangId(s: SparkSession, dir: String): DataFrame =
    docsSpreadOrdered(s, dir).select(
      col("doc_id"),
      langId(col("text")).as("lang_pred"))
      .sortWithinPartitions("doc_id")

  /** CASE-chain replica of langId's argmax: the fold over the four
    * marker counters keeps the EARLIER language on ties, so lang k wins
    * only with a strict > over the max of all earlier scores. DuckDB
    * scores each language with its own list_filter; the Spark side
    * counts all four in one walk of the tokens. */
  val txLangIdSql: String = {
    val score = LangMarkers.map { case (lang, markers) =>
      val set = markers.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"len(list_filter(toks, x -> list_contains($set, x)))"
    }
    val Seq(en, de, es, fr) = score.map(_._2)
    s"""
    |WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    |sc AS (SELECT doc_id, $en AS s_en, $de AS s_de, $es AS s_es, $fr AS s_fr FROM t)
    |SELECT doc_id,
    |  CASE WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
    |       WHEN s_es > greatest(s_en, s_de) THEN 'es'
    |       WHEN s_de > s_en THEN 'de'
    |       ELSE 'en' END AS lang_pred
    |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---- tx_fingerprint ----------------------------------------------------

  def txFingerprint(s: SparkSession, dir: String): DataFrame =
    docsSpreadOrdered(s, dir).select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"))
      .sortWithinPartitions("doc_id")

  val txFingerprintSql: String = """
    |SELECT doc_id,
    |  md5(trim(regexp_replace(regexp_replace(lower(text),
    |      '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS fp
    |FROM documents ORDER BY doc_id""".stripMargin

  // ---- tx_ngram_freq -----------------------------------------------------

  /** Corpus top-50 word bigrams. The explode shuffles only (bigram,
    * partial count) pairs thanks to map-side partial aggregation; the
    * final top-N runs on the tiny aggregated set. */
  def txNgramFreq(s: SparkSession, dir: String): DataFrame =
    graft.operators.Par.spread(docs(s, dir).select("text"))
      .select(explode(wordShingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(50)

  val txNgramFreqSql: String = s"""
    |WITH t AS (SELECT $toksSql AS toks FROM documents),
    |b AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram
    |      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u)
    |SELECT bigram, count(*) AS n
    |FROM b GROUP BY bigram
    |ORDER BY n DESC, bigram LIMIT 50""".stripMargin

  // ---- tx_pii_scrub ------------------------------------------------------

  /** PII detection + redaction — the scrub every training corpus runs
    * before anything else. The documents table carries no real PII, so
    * each doc gets a deterministic synthetic email/phone/IP appended
    * in-plan (same integer arithmetic on both engines) and the REAL
    * operators (TextFunctions.piiCount / scrubPii, shared Java∩RE2
    * pattern strings) detect and redact them; counts and the scrubbed
    * text are both hash-verified against the oracle. */
  def txPiiScrub(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.org tel +380-"),
      (col("doc_id") * 73 % 900 + 100).cast("string"), lit("-"),
      (col("doc_id") * 577 % 10000).cast("string"),
      lit(" ip 10."), (col("doc_id") % 256).cast("string"),
      lit("."), (col("doc_id") * 7 % 256).cast("string"), lit(".1"))
    docsSpreadOrdered(s, dir)
      .select(col("doc_id"), withPii.as("t"))
      .select(col("doc_id"),
        TextFunctions.piiCount(col("t"), TextFunctions.EmailRegex).as("n_emails"),
        TextFunctions.piiCount(col("t"), TextFunctions.PhoneRegex).as("n_phones"),
        TextFunctions.piiCount(col("t"), TextFunctions.Ipv4Regex).as("n_ips"),
        TextFunctions.scrubPii(col("t")).as("scrubbed"))
      .sortWithinPartitions("doc_id")
  }

  val txPiiScrubSql: String = """
    |WITH p AS (
    |  SELECT doc_id,
    |    text || ' contact user' || CAST(doc_id AS VARCHAR)
    |      || '@mail.example.org tel +380-'
    |      || CAST(doc_id * 73 % 900 + 100 AS VARCHAR) || '-'
    |      || CAST(doc_id * 577 % 10000 AS VARCHAR)
    |      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
    |      || '.' || CAST(doc_id * 7 % 256 AS VARCHAR) || '.1' AS t
    |  FROM documents)
    |SELECT doc_id,
    |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
    |  len(regexp_extract_all(t, '\+[0-9]{1,3}-[0-9]{2,4}-[0-9]{1,7}')) AS n_phones,
    |  len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
    |  regexp_replace(regexp_replace(regexp_replace(t,
    |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
    |    '\+[0-9]{1,3}-[0-9]{2,4}-[0-9]{1,7}', '<PHONE>', 'g') AS scrubbed
    |FROM p ORDER BY doc_id""".stripMargin

  // ---- tx_train_split ----------------------------------------------------

  /** Deterministic hash-keyed train/val/test split with per-split
    * corpus stats. One narrow groupBy on a 3-value key; the md5-nibble
    * assignment is engine-identical, so the split SIZES and the token
    * mass per split are hash-verified — the property that matters is
    * that an eval doc can never silently migrate into train. */
  def txTrainSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    docsSpread(s, dir)
      .select(TextFunctions.trainSplit(col("doc_id")).as("split"),
        tokenCount(col("text")).cast("long").as("nt"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .orderBy("split")
  }

  val txTrainSplitSql: String = s"""
    |SELECT CASE
    |    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
    |    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
    |    ELSE 'train' END AS split,
    |  count(*) AS n_docs,
    |  CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
    |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  // ---- tx_stratified_sample ----------------------------------------------

  /** Language keep-fractions in sixteenths: downsample the dominant
    * language, keep the rest — corpus rebalancing, the training-data
    * counterpart of the reference's split assignment. ONE source of
    * truth for the Spark plan and the oracle SQL. */
  val SampleSixteenths: Seq[(String, Int)] =
    Seq("en" -> 8, "de" -> 12, "es" -> 16, "fr" -> 16, "zh" -> 16)

  /** Deterministic stratified sampling: a doc is kept iff the first
    * hex digit of md5(doc_id) falls below its language's configured
    * sixteenth — the same content-free hash-assignment discipline as
    * [[txTrainSplit]] (reproducible across runs, engines and cluster
    * sizes; no RNG, no global sort, one scan + one group-agg). Emits
    * per-language sampled-corpus accounting: docs/tokens before and
    * after, and the exact-integer keep rate. */
  def txStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val b = expr("instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1")
    val frac = SampleSixteenths.foldRight(lit(16): Column) { case ((l, k), acc) =>
      when(col("lang") === l, lit(k)).otherwise(acc)
    }
    graft.operators.Par.spread(
      docs(s, dir).select("doc_id", "text", "lang"))
      .select(col("lang"), tokenCount(col("text")).cast("long").as("nt"),
        (b < frac).as("kept"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("nt").as("n_tokens"),
        sum(when(col("kept"), col("nt")).otherwise(0L)).as("n_tokens_kept"))
      .withColumn("keep_rate",
        col("n_kept").cast("double") / col("n_docs"))
      .orderBy("lang")
  }

  val txStratifiedSampleSql: String = {
    val cases = SampleSixteenths.map { case (l, k) =>
      s"WHEN '$l' THEN $k" }.mkString(" ")
    s"""
    |WITH d AS (
    |  SELECT lang, len($toksSql) AS nt,
    |    instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
    |      < CASE lang $cases ELSE 16 END AS kept
    |  FROM documents)
    |SELECT lang, count(*) AS n_docs,
    |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
    |  CAST(sum(nt) AS BIGINT) AS n_tokens,
    |  CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS n_tokens_kept,
    |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS keep_rate
    |FROM d GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- tx_repetition -----------------------------------------------------

  /** Repetition-based quality signals (the Gopher/MassiveText family of
    * filters: heavily repetitive docs are low-quality): per doc, the
    * fraction of tokens that are repeats of an earlier token and the
    * share of all bigrams taken by the single most frequent bigram.
    * Exact integer ratios, left unrounded — both engines divide the
    * same exact ints, so the doubles are bit-identical. The most-
    * frequent bigram STRING is deliberately not emitted: mode ties
    * would make it engine-dependent.
    *
    * The per-doc bigram mode is computed IN-ROW: equal bigrams are
    * adjacent after array_sort, so the mode count is a run-length max
    * over the sorted array (one aggregate HOF) — a per-document
    * statistic never needs a cluster-wide shuffle, and the previous
    * (doc, bigram) groupBy exchanged every bigram string in the corpus
    * twice to compute what each row already contains. */
  def txRepetition(s: SparkSession, dir: String): DataFrame = {
    val toksC = tokens(col("text"))
    val bgsC = wordShingles(col("text"), 2)
    val init = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    val topc = aggregate(array_sort(bgsC), init,
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docsSpreadOrdered(s, dir)
      .select(col("doc_id"),
        size(toksC).cast("long").as("n"),
        size(array_distinct(toksC)).cast("long").as("nd"),
        size(bgsC).cast("long").as("totb"),
        topc.as("topc"))
      .select(col("doc_id"),
        when(col("n") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("nd").cast("double") / col("n"))
          .as("dup_token_frac"),
        when(col("totb") === 0, lit(null).cast("double"))
          .otherwise(col("topc").cast("double") / col("totb"))
          .as("top_bigram_frac"))
      .sortWithinPartitions("doc_id")
  }

  val txRepetitionSql: String = s"""
    |WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    |tok AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM t),
    |b AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
    |      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u),
    |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
    |topb AS (SELECT doc_id, max(c) AS topc, CAST(sum(c) AS BIGINT) AS totb
    |         FROM bc GROUP BY 1)
    |SELECT tok.doc_id,
    |  CASE WHEN n = 0 THEN NULL
    |       ELSE 1.0 - CAST(nd AS DOUBLE) / n END AS dup_token_frac,
    |  CAST(topc AS DOUBLE) / totb AS top_bigram_frac
    |FROM tok LEFT JOIN topb USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- tx_quality_filter -------------------------------------------------

  /** The composite keep/drop decision a pipeline actually executes over
    * the individual signals: ordered rules (too short → wrong language
    * → too repetitive → keep), each doc labeled with the FIRST failing
    * reason. Every signal here is a per-row expression (token count,
    * marker-score language, duplicate-token fraction) so the whole
    * filter is one narrow scan inside whole-stage codegen — no joins,
    * no shuffle except the final order.
    *
    * The tokens are projected once as a column that all three signals
    * read: CollapseProject does not inline a non-cheap alias with more
    * than one reference, so each document's text is split once. */
  def txQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val dupFrac = lit(1.0) -
      size(array_distinct(toks)).cast("double") / size(toks)
    val reason = when(size(toks) < 20, "short")
      .when(langIdOfTokens(toks) =!= "en", "lang")
      .when(dupFrac > 0.3, "repetitive")
      .otherwise("keep")
    docsSpreadOrdered(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), reason.as("reason"))
      .withColumn("keep", col("reason") === "keep")
      .sortWithinPartitions("doc_id")
  }

  val txQualityFilterSql: String = {
    val score = LangMarkers.map { case (lang, markers) =>
      val set = markers.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"len(list_filter(toks, x -> list_contains($set, x)))"
    }
    val Seq(en, de, es, fr) = score.map(_._2)
    s"""
    |WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    |sig AS (
    |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
    |    CASE WHEN $fr > greatest($en, $de, $es) THEN 'fr'
    |         WHEN $es > greatest($en, $de) THEN 'es'
    |         WHEN $de > $en THEN 'de'
    |         ELSE 'en' END AS lang
    |  FROM t),
    |r AS (
    |  SELECT doc_id,
    |    CASE WHEN n < 20 THEN 'short'
    |         WHEN lang <> 'en' THEN 'lang'
    |         WHEN 1.0 - CAST(nd AS DOUBLE) / n > 0.3 THEN 'repetitive'
    |         ELSE 'keep' END AS reason
    |  FROM sig)
    |SELECT doc_id, reason, reason = 'keep' AS keep
    |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---- tx_lm_perplexity ----------------------------------------------------

  /** Bigram-LM perplexity scoring of the eval split — the model-based
    * quality filter a training pipeline runs beside the heuristic one
    * (tx_quality_filter): train Laplace-smoothed bigram counts on the
    * md5 'train' split, score every 'val' doc by average negative log
    * likelihood, flag the worst. Deterministic across engines and
    * partitionings: each bigram's log-prob is rounded to integer
    * micro-nats and SUMMED EXACTLY (the q_skew_join decimal
    * discipline — a double sum of logs is summation-order-dependent in
    * its last ulp), and the perplexity exponentiates the already-
    * rounded average. Scale shape: the count tables grow with the
    * corpus, so both probability joins are merge-hinted (the
    * tx_contamination rule — never broadcast a vocabulary); only the
    * one-row vocabulary size rides a broadcast. */
  def txLmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(s, dir)
      .select(col("doc_id"), col("text"), trainSplit(col("doc_id")).as("split"))
    val train = d.filter(col("split") === "train")
    val uni = train.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val big = train.select(explode(wordShingles(col("text"), 2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c2"))
    val vsz = uni.agg(count(lit(1)).as("vsz"))
    lmScore(d.filter(col("split") === "val").select("doc_id", "text"),
      uni, big, vsz)
      // per-eval-doc deliverable: one-partition sort (q5 coalesce note)
      .coalesce(1).sortWithinPartitions("doc_id")
  }

  /** The shared bigram-LM scoring tail (one definition for the batch
    * query and the serving shape): left-join each eval bigram against
    * the count tables, Laplace-smooth, round to integer micro-nats,
    * and aggregate per doc. Count-table joins stay merge-hinted — the
    * tables grow with the train corpus (never broadcast a vocabulary);
    * only the one-row vsz frame rides a broadcast. */
  private def lmScore(evalDocs: DataFrame, uni: DataFrame, big: DataFrame,
                      vsz: DataFrame): DataFrame = {
    val eb = evalDocs
      .select(col("doc_id"), explode(wordShingles(col("text"), 2)).as("b"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
    val scored = eb
      .join(big.hint("merge"), Seq("b"), "left")
      .join(uni.hint("merge"), col("w1") === col("w"), "left")
      .crossJoin(broadcast(vsz))
      .select(col("doc_id"),
        round(log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("vsz"))) * lit(1e6))
          .cast("long").as("lp"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("__s").cast("double") / (col("n_bigrams") * lit(1e6)), 4)
          .as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 2))
  }

  // ---- tx_lm_serve ---------------------------------------------------------

  /** The SERVING shape of the LM quality filter (the ss_ivf_topk
    * staged-index discipline applied to tx_lm_perplexity, whose 3.9x
    * sf1 residual is re-TRAINING the bigram LM inside every query —
    * SCALE.md round-18 three-shape A/B): the Laplace count tables are
    * the published model artifact, staged once per (session, dir) as
    * hash-partitioned localCheckpoints, and eval documents arrive as a
    * doc-id-ranged micro-batch backlog scored per batch against the
    * STATIC counts. Per-batch cost is O(|batch bigrams|) plus one
    * small exchange into the staged tables' partitioning — never a
    * rescan of the train corpus; at 100 TB the counts are a bucketed
    * table built by the training pipeline and each serving batch joins
    * against it unchanged. A doc's score depends only on the static
    * counts, so the drained union is slicing-independent and equals
    * batch tx_lm_perplexity — the same DuckDB oracle hash-pins it. */
  def txLmServe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stage
    def train = docsSpread(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(trainSplit(col("doc_id")) === "train")
    val uni = Stage.frame(s, dir, "lm_uni") {
      train.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
    }
    val big = Stage.frame(s, dir, "lm_big") {
      train.select(explode(wordShingles(col("text"), 2)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c2"))
    }
    val vsz = Stage.frame(s, dir, "lm_vsz") {
      uni.agg(count(lit(1)).as("vsz"))
    }
    // 2 ranged slices — the r18 serving-family convention (stateless
    // probe against a static artifact; extra batches only pay the
    // engine floor)
    def evalStream(ss: SparkSession) = graft.streaming.StreamOps
      .documentsStreamSliced(ss, dir, 2)
      .filter(trainSplit(col("doc_id")) === "val")
      .select("doc_id", "text")
    graft.streaming.StreamOps
      .runBatchTransforms(s, evalStream, "tx_lm_serve") { b =>
        lmScore(b, uni, big, vsz)
      }
      .coalesce(1).sortWithinPartitions("doc_id")
  }

  val txLmPerplexitySql: String = s"""
    |WITH d AS (
    |  SELECT doc_id, text, CASE
    |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
    |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
    |      ELSE 'train' END AS split
    |  FROM documents),
    |tt AS (SELECT doc_id, $toksSql AS toks FROM d WHERE split = 'train'),
    |uni AS (
    |  SELECT t AS w, count(*) AS c1
    |  FROM tt, LATERAL (SELECT unnest(toks) AS t) u GROUP BY 1),
    |v AS (SELECT count(*) AS vsz FROM uni),
    |big AS (
    |  SELECT toks[i] || ' ' || toks[i+1] AS b, count(*) AS c2
    |  FROM tt, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u GROUP BY 1),
    |ev AS (SELECT doc_id, $toksSql AS toks FROM d WHERE split = 'val'),
    |eb AS (
    |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b, toks[i] AS w1
    |  FROM ev, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u),
    |sc AS (
    |  SELECT doc_id,
    |    CAST(round(ln((coalesce(c2, 0) + 1.0) / (coalesce(c1, 0) + vsz)) * 1e6)
    |      AS BIGINT) AS lp
    |  FROM eb LEFT JOIN big USING (b)
    |    LEFT JOIN uni ON eb.w1 = uni.w
    |    CROSS JOIN v),
    |agg AS (
    |  SELECT doc_id, count(*) AS n_bigrams,
    |    round(-CAST(sum(lp) AS DOUBLE) / (count(*) * 1e6), 4) AS avg_nll
    |  FROM sc GROUP BY doc_id)
    |SELECT doc_id, n_bigrams, avg_nll, round(exp(avg_nll), 2) AS ppl
    |FROM agg ORDER BY doc_id""".stripMargin

  // ---- tx_contamination --------------------------------------------------

  /** Benchmark-decontamination check: an eval (val/test) doc is
    * CONTAMINATED if it shares any 8-token shingle with any train doc
    * under the md5 split of tx_train_split. The train shingle
    * vocabulary is one distinct set and the check is one
    * inverted-index join on the shingle — the dedup-family shuffle
    * shape, so a 100 TB train corpus meets eval docs only where
    * shingles collide, never pairwise. */
  val ContaminationShingle = 8

  def txContamination(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    // The overlap join keys on xxhash64 of the 8-gram (8-byte longs
    // through the exchange instead of ~60-byte strings; exact up to
    // 64-bit collisions, the same documented trade as the dedup
    // index). The tagged frame is NOT checkpointed although three
    // branches read it: caching ~90 MB of shingle arrays costs more
    // than re-running the codegen'd shingle pass per branch (measured
    // 1.17 s vs 0.78 s).
    val tagged = graft.operators.Dedup
      .shingles(docs(s, dir), "doc_id", "text", ContaminationShingle)
      .withColumn("split", TextFunctions.trainSplit(col("__id")))
    val trainSh = tagged.filter(col("split") === "train")
      .select(explode(col("sh")).as("sg0"))
      .select(xxhash64(col("sg0")).as("sg")).distinct()
    val hits = tagged.filter(col("split") =!= "train")
      .select(col("__id"), explode(col("sh")).as("sg0"))
      .select(col("__id"), xxhash64(col("sg0")).as("sg"))
      // MERGE pins the inverted-index shape: the train vocabulary
      // GROWS with the corpus (591k distinct shingles at 10x bench
      // data, billions at 100 TB), but its 8-byte-long frame estimates
      // small enough that the planner broadcasts it — a driver-side
      // build measured 1.32 s vs 0.86 s for the merge (ContamJoinAbProbe;
      // sf0.1 ties). The distinct() above already hash-partitions the
      // train side on sg, so the merge re-uses that exchange and only
      // the eval explode shuffles.
      .join(trainSh.hint("merge"), Seq("sg"))
      .select(col("__id")).distinct()
      .withColumn("contaminated", lit(true))
    tagged.filter(col("split") =!= "train")
      .select(col("__id").as("doc_id"), col("split"))
      .join(hits.withColumnRenamed("__id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  val txContaminationSql: String = s"""
    |WITH t AS (
    |  SELECT doc_id, $toksSql AS toks,
    |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
    |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
    |         ELSE 'train' END AS split
    |  FROM documents),
    |sh AS (
    |  SELECT doc_id, split, list_distinct(list(
    |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
    |      || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6]
    |      || ' ' || toks[i+7])) AS s
    |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) u
    |  GROUP BY doc_id, split),
    |tr AS (SELECT DISTINCT unnest(s) AS sg FROM sh WHERE split = 'train'),
    |ev AS (SELECT doc_id, unnest(s) AS sg FROM sh WHERE split <> 'train'),
    |hit AS (SELECT DISTINCT ev.doc_id FROM ev JOIN tr USING (sg))
    |SELECT t.doc_id, t.split,
    |  coalesce(t.doc_id IN (SELECT doc_id FROM hit), FALSE) AS contaminated
    |FROM t WHERE t.split <> 'train' ORDER BY doc_id""".stripMargin

  // ---- registry ----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_token_count" -> (txTokenCount _),
    "tx_bpe_tokens" -> (txBpeTokens _),
    "tx_pack_sequences" -> (txPackSequences _),
    "tx_quality_score" -> (txQualityScore _),
    "tx_lang_id" -> (txLangId _),
    "tx_fingerprint" -> (txFingerprint _),
    "tx_ngram_freq" -> (txNgramFreq _),
    "tx_pii_scrub" -> (txPiiScrub _),
    "tx_train_split" -> (txTrainSplit _),
    "tx_repetition" -> (txRepetition _),
    "tx_contamination" -> (txContamination _),
    "tx_quality_filter" -> (txQualityFilter _),
    "tx_stratified_sample" -> (txStratifiedSample _),
    "tx_lm_perplexity" -> (txLmPerplexity _),
    "tx_lm_serve" -> (txLmServe _))

  val oracles: Map[String, String] = Map(
    "tx_token_count" -> txTokenCountSql,
    "tx_bpe_tokens" -> txBpeTokensSql,
    "tx_pack_sequences" -> txPackSequencesSql,
    "tx_quality_score" -> txQualityScoreSql,
    "tx_lang_id" -> txLangIdSql,
    "tx_fingerprint" -> txFingerprintSql,
    "tx_ngram_freq" -> txNgramFreqSql,
    "tx_pii_scrub" -> txPiiScrubSql,
    "tx_train_split" -> txTrainSplitSql,
    "tx_repetition" -> txRepetitionSql,
    "tx_contamination" -> txContaminationSql,
    "tx_quality_filter" -> txQualityFilterSql,
    "tx_stratified_sample" -> txStratifiedSampleSql,
    "tx_lm_perplexity" -> txLmPerplexitySql,
    "tx_lm_serve" -> txLmPerplexitySql)
}
