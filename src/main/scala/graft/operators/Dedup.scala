package graft.operators

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import graft.plans.SimHash64
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for LLM-pipeline corpora.
  *
  * Scale design (SURVEY §5): every near-dup variant generates candidate
  * pairs through a keyed SHUFFLE — the AllPairs prefix index for exact
  * Jaccard ([[jaccardPairs]], within one corpus or across two), LSH /
  * SimHash bucket joins for the approximate variants — never a global
  * all-pairs product, and verifies the exact metric only on candidates.
  * Prefix-hot lists and bucket-size caps bound degenerate keys (a viral
  * shingle, an all-zero band) so no single task receives a quadratic
  * bucket.
  */
object Dedup {

  /** Exact dedup groups: one row per content fingerprint with the doc
    * count and the canonical (minimum) id. Single hash shuffle on the
    * digest with map-side partial aggregation. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(idCol).as("keep_id"))

  /** Word-shingle sets with sizes: (__id, sh, sz). The input is spread
    * across the cluster FIRST: a single-split source file would
    * otherwise run all tokenize/shingle/hash work on one core — the
    * narrow-row repartition is far cheaper than the serial scan. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Par.spread(df.select(col(idCol).as("__id"), col(textCol).as("__text")))
      .select(col("__id"), TextFunctions.shingleSet(col("__text"), n).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))

  /** Per-doc hashed shingle sets (__id, hs, sz): `hs` is the sorted,
    * distinct xxhash64 of the doc's word n-gram shingles, computed by
    * ONE fused codegen expression (plans.SortedShingleHashes — see
    * [[jaccardPairs]]); docs shorter than `n` tokens (or null text) get
    * an empty set. The input is spread first, as in [[shingles]]. Every
    * consumer of per-doc hashed sets — the prefix joins, MinHash
    * signatures, candidate verification — reads this frame; only
    * [[hotShingles]] hashes its own document sample. */
  def shingleHashSets(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    Par.spread(df.select(col(idCol).as("__id"), col(textCol).as("__text")))
      .select(col("__id"),
        coalesce(graft.plans.SortedShingleHashes(col("__text"), n),
          array().cast("array<long>")).as("hs"))
      .withColumn("sz", size(col("hs")).cast("long"))

  /** Verifies candidate (a_id, b_id) pairs with the Jaccard over the
    * full HASHED shingle sets — exact up to 64-bit collisions (see
    * [[jaccardPairs]]). */
  private def verifyPairs(cand: DataFrame, hsh: DataFrame,
                          threshold: Double): DataFrame =
    cand
      .join(hsh.select(col("__id").as("a_id"), col("hs").as("hs_a"), col("sz").as("a_sz")), "a_id")
      .join(hsh.select(col("__id").as("b_id"), col("hs").as("hs_b"), col("sz").as("b_sz")), "b_id")
      .withColumn("shared", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jac",
        col("shared").cast("double") / (col("a_sz") + col("b_sz") - col("shared")))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "shared", "jac")

  /** Detects the corpus's STOP SHINGLES — the bounded hot list
    * [[jaccardPairs]] excludes from prefixes — on a deterministic
    * 1-in-`sampleMod` document sample: shingles whose sampled document
    * frequency exceeds `floorMult`× the sampled mean, hottest capped at
    * `cap` entries, returned coldest-first (the hot-segment order of
    * the prefix proof; ties by hash). Accuracy only affects
    * PERFORMANCE — the prefix order stays exact for any list — so a
    * cheap sample suffices: a quadratic bucket is by definition
    * frequent enough to be sampled. On a uniform corpus no shingle
    * clears the floor and the list comes back empty (= the unchanged
    * fast plan); a sample with no shingles at all (an empty corpus,
    * or one whose sampled docs are all shorter than `n` tokens) has no
    * mean and returns empty too. The list costs one action. At 100 TB
    * this list is a published corpus artifact built by the same
    * pipeline that owns the dedup index (the ss_ivf_topk quantizer
    * discipline); size it by a df floor, which bounds every remaining
    * bucket. */
  def hotShingles(df: DataFrame, idCol: String, textCol: String, n: Int,
                  sampleMod: Int = 10, floorMult: Double = 4.0,
                  cap: Int = 4096): Seq[Long] = {
    val sampled = df
      .filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
      .select(explode(coalesce(
        graft.plans.SortedShingleHashes(col(textCol), n),
        array().cast("array<long>"))).as("sg"))
    // ONE action over the aggregate: the top-`cap` collect, with the
    // sampled mean observed over every aggregated row on its way into
    // the top-k (2 jobs: the aggregate's shuffle-map stage and the
    // top-k). In desc(__df) order every row above the floor precedes
    // every row at or below it, so flooring the collected rows keeps
    // exactly what filter-then-limit would. No rows back means no
    // sampled shingle, hence no mean: Nil.
    val mean = Observation("hot_shingles_mean")
    val top = sampled.groupBy("sg").agg(count(lit(1)).as("__df"))
      .observe(mean, avg("__df").as("mean"))
      .orderBy(desc("__df"), col("sg")).limit(cap).collect()
    if (top.isEmpty) Nil
    else {
      val floor = floorMult * mean.get("mean").asInstanceOf[Double]
      top.filter(_.getLong(1) > floor)
        .map(r => (r.getLong(1), r.getLong(0)))
        .sortBy(identity).map(_._2).toSeq
    }
  }

  /** Exact n-gram Jaccard pairs >= threshold — the one candidate join
    * every exact pair graph goes through, within one corpus (`against`
    * = None: pairs a_id < b_id of `df`) or across two (`against` =
    * Some(old): every (a_id from `df`, b_id from `old`) pair, no id
    * order imposed — the INCREMENTAL shape, where a daily batch is
    * scored against the corpus and old-vs-old pairs never
    * materialize). Output is RAW: one row per
    * (qualifying pair, shared prefix shingle), identical across a
    * pair's rows, so callers dedup with a plain distinct wherever their
    * deliverable lives (dd_ngram_jaccard fuses it into its
    * one-partition sort and finishes with a single exchange).
    *
    * Candidates come from the AllPairs prefix filter (Bayardo et al.,
    * WWW'07): under any global total order on shingles — the xxhash64
    * value itself here — a pair with jac >= t must share one of the
    * FIRST `|X| - ceil(t*|X|) + 1` elements of each of its sets. Proof
    * shape: jac >= t forces overlap >= t*|A∪B| >= t*|X| for both sets
    * X, and the smallest SHARED element sits at position
    * <= |X| - overlap + 1 in each — inside both prefixes. The bound
    * holds for each set on its own, so it is as exact between two
    * corpora as within one. The same
    * bound makes the size-ratio prefilter lossless: jac >= t forces
    * min(|A|,|B|) >= t * max(|A|,|B|). So indexing
    * only the prefix (~(1-t) of each set; 20 % at t=0.8) keeps EVERY
    * qualifying pair while the candidate join's output shrinks
    * quadratically against a full inverted-index self-join (~(1-t)^2 —
    * measured 1.40 M -> 56 k pair rows at sf0.1). Candidates are then
    * verified EXACTLY on the full hashed sets.
    *
    * Scale: the prefix index is the only exploded frame (25x smaller
    * than the full inverted index at t=0.8), the candidate set after
    * the prefix+size filters is near-linear in the true pair count,
    * and verification runs in-row on the arrays the candidate join
    * carries — no join back to the corpus.
    *
    * The per-doc chain — tokenize → shingle → string-dedup → xxhash64
    * → sort — is FUSED into one codegen expression
    * (plans.SortedShingleHashes): the unfused chain materializes the
    * string array, re-walks it to hash, then sorts through
    * `array_sort`, whose comparator lambda the engine evaluates
    * INTERPRETED per element pair. Verification walks the two sorted
    * arrays with a merge intersect (plans.SortedIntersectCount)
    * instead of array_intersect's per-pair hash set. Sets are keyed on
    * xxhash64(shingle), not the string: shared counts are exact up to
    * 64-bit collisions — two DIFFERENT shingles of the SAME candidate
    * pair colliding, a ~2^-64-per-pair event that standard
    * shingle-hashing dedup (Broder) accepts by construction. DedupSpec
    * pins the rows against a brute-force all-pairs Jaccard.
    *
    * The self-join consumes ONE shared exchange: both sides project
    * off the same `repartition(sg)` node, so AQE's stage reuse ships
    * the exploded prefix frame (and computes the fused chain) exactly
    * once — a two-sided shape pays both twice because its per-side
    * aliasing breaks exchange canonicalization (ReusedExchange in the
    * adaptive plan; PlanShapeSpec pins it).
    *
    * `hot` swaps the prefix's global order for stop-shingle-last
    * (plans.PrefixSkipHot, list from [[hotShingles]]): recall-identical
    * by the proof above (any corpus-consistent total order), but a
    * corpus-hot shingle no longer lands in every containing doc's
    * prefix — the quadratic bucket a zipf corpus otherwise sends the
    * candidate join (measured: 4.1M -> ~60 candidate rows on the zipf
    * sf1 clone). An empty list keeps the plan literally unchanged.
    *
    * Across corpora each side has its own prefix exchange; `df` is the
    * shuffle_hash BUILD side, so callers pass the smaller corpus (the
    * batch) as `df` and the per-partition hash map stays batch-sized
    * while the corpus side only streams.
    *
    * `joinParts`: explicit partition count for the prefix
    * exchange(s). The join is shuffle_hash-hinted (the measured win over
    * sort-merge at bench scale) and an SHJ build side cannot spill —
    * the build rows carry the full packed shingle arrays, so
    * per-partition build bytes grow linearly with corpus while the
    * session's shuffle-partition constant does not: the sf10 rehearsal
    * failed here with "Can't acquire … bytes to build hash relation"
    * at the default heap (guide §3.1's documented SHJ risk). Callers
    * above bench scale pass a corpus-derived count (DedupQueries sizes
    * it from the staged doc count) so build sides stay bounded; None
    * keeps the session default. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   hot: Seq[Long] = Nil,
                   joinParts: Option[Int] = None,
                   against: Option[DataFrame] = None): DataFrame = {
    // the recall proof's prefix length; greatest(1, ...) keeps
    // single-shingle docs indexed (their prefix IS the whole set)
    val prefixLen = greatest(lit(1),
      (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))
    val prefix =
      if (hot.isEmpty) slice(col("hs"), lit(1), prefixLen)
      else graft.plans.PrefixSkipHot(col("hs"), prefixLen, hot)
    def prefixes(corpus: DataFrame): DataFrame = {
      val pre = shingleHashSets(corpus, idCol, textCol, n)
        .select(col("__id"), col("sz"), col("hs"), explode(prefix).as("sg"))
      joinParts match {
        case Some(p) => pre.repartition(p, col("sg"))
        case None => pre.repartition(col("sg"))
      }
    }
    val ex = prefixes(df)
    val a = ex.select(col("__id").as("a_id"), col("sz").as("a_sz"),
      col("hs").as("hs_a"), col("sg")).hint("shuffle_hash")
    val b = against.fold(ex)(prefixes).select(col("__id").as("b_id"),
      col("sz").as("b_sz"), col("hs").as("hs_b"), col("sg"))
    // one orientation per self-pair; across corpora both ids are kept
    val idOrder = if (against.isEmpty) col("a_id") < col("b_id") else lit(true)
    a.join(b, Seq("sg"))
      .filter(idOrder &&
        col("a_sz") >= lit(threshold) * col("b_sz") &&
        col("b_sz") >= lit(threshold) * col("a_sz"))
      .withColumn("shared",
        graft.plans.SortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jac",
        col("shared").cast("double") / (col("a_sz") + col("b_sz") - col("shared")))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "shared", "jac")
  }

  /** MinHash + LSH near-dup pairs over a [[shingleHashSets]] frame: k-hash
    * signatures, b bands; docs sharing any band bucket become
    * candidates (buckets larger than maxBucket are dropped —
    * degenerate-key guard); candidates are then verified with the
    * EXACT Jaccard on their full hashed shingle sets. The string bytes
    * were hashed exactly once at staging; the k permutations re-hash
    * the longs. */
  def minhashLshPairs(hsh0: DataFrame, k: Int, bands: Int,
                      threshold: Double,
                      maxBucket: Long = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val hsh = hsh0.filter(col("sz") > 0)
    val sig = hsh.select(col("__id"),
      HashFunctions.minhashFromHashes(col("hs"), k).as("sig"))
    val bandDf = sig
      .select(col("__id"),
        explode(HashFunctions.bandHashes(col("sig"), bands, k / bands)).as("bh"))
      .select(col("__id"), col("bh.band").as("band"), col("bh.h").as("h"))
    // bucket-size guard via a window over the SAME (band, h) partitioning
    // the pair join shuffles on — no extra groupBy+join recompute branch
    val sizeW = Window.partitionBy("band", "h")
    val bounded = bandDf
      .withColumn("__bn", count(lit(1)).over(sizeW))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
    val cand = bounded.select(col("band"), col("h"), col("__id").as("a_id"))
      .join(bounded.select(col("band"), col("h"), col("__id").as("b_id")),
        Seq("band", "h"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    verifyPairs(cand, hsh, threshold)
  }

  /** SimHash near-dup pairs over a [[shingles]] frame at Hamming
    * distance <= maxHamming (<= 7): 8-bit chunk join is an exact
    * candidate generator by pigeonhole (ham <= 7 implies at least one
    * equal chunk of 8), then the true Hamming distance filters
    * candidates.
    *
    * Docs with no shingles are excluded (an empty feature set would
    * hash to the all-ones signature and pair contentless docs with each
    * other); buckets above maxBucket are dropped — the degenerate-key
    * guard that keeps any single chunk value from going quadratic.
    *
    * `corpusRows` (when the caller knows it — DedupQueries passes its
    * staged doc count) arms the CAP-COLLAPSE guard: the 8-bit pigeonhole
    * buckets average corpus/256 docs, so past maxBucket·256 rows the
    * degenerate-bucket cap drops EVERY bucket and the candidate set —
    * and the query output — silently empties (the sf10 rehearsal: 500k
    * docs → mean occupancy ~1950 > 1000 → 0 rows, 0 recall, no error).
    * A silent "no duplicates" at scale is corrupt output, so like
    * [[embeddingPairs]]'s all-pairs bound this refuses loudly with the
    * resize rule instead: raise maxBucket (per-bucket verify work grows
    * with its square), shard the corpus, or move to the permuted-prefix
    * table design (wider chunks per table, ham budget split across
    * tables) whose bucket width scales with log N. */
  def simhashPairs(sh: DataFrame, maxHamming: Int,
                   maxBucket: Long = 1000,
                   corpusRows: Option[Long] = None): DataFrame = {
    require(maxHamming <= 7, "8-chunk pigeonhole is only exact for ham <= 7")
    corpusRows.foreach { n =>
      require(n <= maxBucket * 256,
        s"simhashPairs: $n docs put ~${n / 256} docs in every 8-bit chunk " +
          s"bucket (cap $maxBucket) — the degenerate-bucket guard would drop " +
          "every bucket and silently return ZERO pairs; raise maxBucket, " +
          "shard the corpus, or use permuted-prefix tables sized to log N")
    }
    val sig = sh.filter(col("sz") > 0)
      .select(col("__id"), SimHash64(col("sh")).as("sig"))
    val chunks = sig.select(col("__id"), col("sig"),
      explode(HashFunctions.simhashChunks(col("sig"))).as("c"))
      .select(col("__id"), col("sig"), col("c.chunk").as("chunk"), col("c.v").as("v"))
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy("chunk", "v")))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
    chunks.select(col("chunk"), col("v"), col("__id").as("a_id"), col("sig").as("a_sig"))
      .join(chunks.select(col("chunk"), col("v"), col("__id").as("b_id"), col("sig").as("b_sig")),
        Seq("chunk", "v"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sig", "b_sig").distinct()
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** [[embeddingPairs]]'s all-pairs refusal bound — public so audit
    * machinery sizing a sampled base (DedupQueries.embExactPairs) uses
    * the same constant the guard enforces. */
  val EmbeddingPairsMaxRows: Long = 100000

  /** Exact embedding-cosine pairs >= threshold. This is the CORRECTNESS
    * BASELINE: an all-pairs product (norms precomputed once, one dot
    * product per pair). At corpus scale, candidate pruning must come
    * from LSH bucketing ([[embeddingPairsLsh]]) — exact all-pairs is
    * quadratic by definition and only appropriate for bounded slices
    * (a shard, a bucket, an oracle check).
    *
    * Why the REGISTERED dd_embedding stays on this baseline: its 0.45
    * threshold sits inside the random-pair cosine noise floor of the
    * 64-dim synthetic embeddings (measured: non-pair cosines reach
    * 0.4497, threshold pairs start at 0.4501). At that separation any
    * hyperplane-LSH (r, b) with near-1 recall yields band buckets whose
    * pair product exceeds the all-pairs square itself — bucketing
    * cannot bound candidates AND keep the oracle-exact output. The LSH
    * route is registered alongside as dd_embedding_lsh with a
    * self-auditing recall column instead. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double,
                     maxRows: Long = EmbeddingPairsMaxRows): DataFrame = {
    // a plain cast, not VectorFunctions.toDouble's transform (same
    // doubles): the zero-norm filter below is pushed under this
    // projection with `emb` inlined twice, and a higher-order function
    // runs interpreted, uneliminated, once per copy
    val e = df.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("emb"))
      .withColumn("nrm", VectorFunctions.normPre(col("emb")))
      // zero-norm guard: a contentless (all-zero) embedding gives
      // cos = 0/0 = NaN, and Spark orders NaN LARGEST, so NaN >=
      // threshold is TRUE — every pair touching the zero vector would
      // pass as a spurious "duplicate" (the text operators' sz > 0
      // guard, same failure mode)
      .filter(col("nrm") > 0)
    // Corpus-size guard: the quadratic baseline REFUSES unbounded input
    // at execution time instead of silently planning a corpus-square
    // product (at 100x scale that is 10,000x the work — use
    // [[embeddingPairsLsh]] there). The guard is lazy — a 1-row count
    // aggregate whose assert_true fires on the first action — so
    // registry functions remain pure plan builders; its linear extra
    // scan is noise next to the O(n^2) product it protects.
    val guard = e.groupBy().agg(count(lit(1)).as("__n"))
      .select(assert_true(col("__n") <= maxRows, concat(
        lit("embeddingPairs is the exact all-pairs O(n^2) baseline and refuses corpora above maxRows="),
        lit(maxRows), lit(" (got "), col("__n"),
        lit(" rows); use Dedup.embeddingPairsLsh for unbounded input"))).as("__guard"))
    // spread the streamed side before the quadratic product — a
    // single-split source would otherwise run every pair on one core
    val a = Par.spread(
      e.select(col("__id").as("a_id"), col("emb").as("ea"), col("nrm").as("na")))
      // the filter keeps __guard referenced so pruning can't drop the
      // assert; assert_true yields NULL when the bound holds, so the
      // predicate keeps every row
      .crossJoin(broadcast(guard)).filter(col("__guard").isNull).drop("__guard")
    val b = e.select(col("__id").as("b_id"), col("emb").as("eb"), col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", VectorFunctions.dotPre(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  /** LSH-candidate embedding near-dup pairs: fixed seeded
    * random-hyperplane signatures, banded bucket self-join (band rows
    * carry ids only — vectors rejoin after the id-level distinct, so
    * the candidate dedup never shuffles embedding payloads), the
    * degenerate-bucket cap, then EXACT cosine verification of every
    * candidate — output pairs are never false positives.
    *
    * This is the 100 TB route: pairs sharing no band bucket never
    * materialize, so the join is bounded by bucket occupancy instead of
    * the corpus square. The price is recall at the threshold: a pair at
    * cosine c becomes a candidate with
    * p(c) = 1 - (1 - (1 - acos(c)/pi)^r)^b, r = nBits/bands — ~1 for
    * genuine near-dups (c >= ~0.9 at the defaults) and deliberately
    * lossy near the noise floor (see [[embeddingPairs]] for why that is
    * unavoidable). The 100-plane default (r = 5 × 20 bands) measures
    * recall 0.92-1.0 across plane seeds at the 0.45 noise-floor
    * threshold, and its 2^5 = 32 values/band keep average bucket
    * occupancy under maxBucket through ~30k vectors — the r12 packed
    * 48-bit form (r = 4, 16 values/band) blew every bucket past the
    * cap at 20k vectors and recall collapsed to 0.23. Sizing rule at
    * real scale: 2^r ≳ N/maxBucket (r grows with log N), bands then
    * sized for recall at the target threshold. Callers that need the
    * recall actually achieved
    * should compare against the exact baseline on a sample —
    * DedupQueries.ddEmbeddingLsh emits exactly that audit column. */
  def embeddingPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        nBits: Int = 100, bands: Int = 20,
                        maxBucket: Long = 1000,
                        corpusRows: Option[Long] = None): DataFrame = {
    require(nBits % bands == 0, s"bands=$bands must divide nBits=$nBits")
    val r = nBits / bands
    require(r <= 63, s"rows-per-band $r exceeds one long")
    // CAP-COLLAPSE guard (see simhashPairs): mean band-bucket
    // occupancy is corpus/2^r, so past maxBucket·2^r rows the
    // degenerate-bucket cap drops every bucket and the output silently
    // empties (sf10 rehearsal: 200k vectors at r=5 → occupancy 6250 >
    // 1000 → 0 rows, 0 recall, no error). The documented sizing rule —
    // 2^r ≳ N/maxBucket, bands then re-sized for recall at the target
    // threshold — is now enforced loudly instead of advisory.
    corpusRows.foreach { n =>
      // overflow-safe spelling of n <= maxBucket * 2^r: the shifted
      // product overflows Long at r >= 54 (default maxBucket=1000) and
      // the guard would spuriously refuse/accept exotic-but-legal
      // configs (r is only bounded <= 63); comparing n >> r against
      // maxBucket never overflows (r19 advice)
      require((n >> r) <= maxBucket,
        s"embeddingPairsLsh: $n vectors put ~${n >> r} in every " +
          s"$r-bit band bucket (cap $maxBucket) — the degenerate-bucket " +
          "guard would drop every bucket and silently return ZERO pairs; " +
          "re-size the signature (2^r >= corpus/maxBucket, bands re-sized " +
          "for recall at the threshold) or shard the corpus")
    }
    // the survived-band okMask (shiftleft(1L, band)) and
    // FirstCollisionBand's (mask >>> j) index single-long bit
    // positions — band indexes past 63 would silently wrap modulo 64
    // and drop/duplicate candidate pairs
    require(bands <= 64, s"bands=$bands exceeds the 64-bit band mask")
    val e = df.select(col(idCol).as("__id"),
      VectorFunctions.toDouble(col(vecCol)).as("emb"))
      .withColumn("nrm", VectorFunctions.normPre(col("emb")))
      // zero-norm guard: see embeddingPairs — all-zero vectors share
      // the all-ones hyperplane signature (s >= 0 sets every bit), so
      // they'd bucket together in EVERY band and then "verify" with
      // cos = NaN >= threshold
      .filter(col("nrm") > 0)
    // per-band values computed DIRECTLY over the band's global plane
    // window (no ≤63-bit packed-signature ceiling — the r12 48-bit
    // form capped the whole scheme at 16 values/band, and at 20k+
    // vectors every bucket blew past maxBucket and recall collapsed
    // to 0.23; 2^r must scale with corpus/maxBucket, which forces
    // total plane counts past one long)
    val vals = array((0 until bands).map { b =>
      VectorFunctions.hyperplaneSigPreAt(col("emb"), b * r, r, dim)
    }: _*)
    val banded = Par.spread(e.select(col("__id"), col("emb")))
      .withColumn("vals", vals)
      .select(col("__id"), col("vals"),
        posexplode(col("vals")).as(Seq("band", "v")))
    // per-row bucket survival + per-DOC survived-band bitmask: bit b of
    // okMask says "this doc's band-b bucket was not degenerate-capped".
    // The mask rides the bucket join so the first-collision predicate
    // below can skip capped bands — one extra narrow window shuffle on
    // __id (id, vals, band, v — no embedding payloads).
    val counted = banded
      .withColumn("__ok", count(lit(1)).over(Window.partitionBy("band", "v")) <= maxBucket)
    val bounded = counted
      .withColumn("okMask",
        sum(when(col("__ok"), expr("shiftleft(1L, cast(band as int))"))
          .otherwise(lit(0L))).over(Window.partitionBy("__id")))
      .filter(col("__ok"))
      .drop("__ok")
    // FIRST-COLLISION dedup instead of a global distinct: a pair
    // colliding in k bands would surface k times from the bucket join;
    // emitting it only from the EARLIEST band that (a) has agreeing
    // values and (b) SURVIVED the bucket cap makes every candidate
    // unique by construction — the candidate-set shuffle that a
    // distinct would cost simply never exists. The survived bit
    // matters: without it, a pair whose earliest agreeing band was
    // degenerate-capped would be dropped outright instead of
    // re-emitted by a later surviving band — a recall hole the cap was
    // never meant to open. Agreeing values put both docs in the SAME
    // bucket, so one side's mask bit decides. The whole check is ONE
    // codegen call (plans/FirstCollisionBand — earliest agreeing
    // surviving band) compared to the joined band: the equivalent
    // bands-1-disjunct Boolean tree, each term probing both value
    // arrays, cost ~7 s interpreted over the ~10^6 matched bucket rows
    // this join produces at a noise-floor threshold.
    val cand = bounded.select(col("band"), col("v"), col("__id").as("a_id"),
        col("vals").as("a_vals"), col("okMask").as("a_mask"))
      .join(bounded.select(col("band"), col("v"), col("__id").as("b_id"),
        col("vals").as("b_vals")), Seq("band", "v"))
      .filter(col("a_id") < col("b_id") &&
        col("band") === graft.plans.FirstCollisionBand(
          col("a_vals"), col("b_vals"), col("a_mask")))
      .select("a_id", "b_id")
    cand
      .join(e.select(col("__id").as("a_id"), col("emb").as("ea"), col("nrm").as("na")), "a_id")
      .join(e.select(col("__id").as("b_id"), col("emb").as("eb"), col("nrm").as("nb")), "b_id")
      .withColumn("cos", VectorFunctions.dotPre(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  /** Connected components over the near-dup pair graph: assigns every
    * vertex the MINIMUM id reachable from it, i.e. the canonical
    * representative of its duplicate cluster — the step that turns
    * pairwise near-dup output into "keep one doc per cluster". One
    * [[relabel]] with every vertex its own base.
    *
    * Ids must be integral (the loop keys on Long; labels come back in
    * the id column's type). maxIter counts every round, round 1 and
    * the final empty one included, and guards the pathological chain
    * case: non-convergence throws rather than returning
    * silently-wrong upper-approximation labels. */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame =
    relabel(vertices.select(col(idCol).as("id"), col(idCol).as("base")), idCol,
      pairs.select(col(aCol).as("a"), col(bCol).as("b")), maxIter)

  /** INCREMENTAL connected-component maintenance: merges today's pair
    * batch into yesterday's labels without re-converging the whole
    * graph. At corpus scale a daily batch touches a vanishing fraction
    * of clusters — relabeling 100 TB of stable docs because 0.1% got
    * new edges is the difference between a nightly job and a weekly
    * one.
    *
    * Contraction, then one [[relabel]]: every prior member's base is
    * its prior cluster label and every batch doc's base is itself, and
    * each new-pair endpoint is mapped onto its prior label (an unknown
    * endpoint onto itself) — whole prior clusters collapse to single
    * nodes (Kiveris et al.'s star contraction, applied once: the stars
    * are yesterday's converged clusters), so rounds ∝ the diameter of
    * the CLUSTER graph. The loop touches only contracted endpoints; a
    * cluster no new pair reaches keeps its label through relabel's
    * final left join. Old labels are min member ids, so the contracted
    * minimum equals the minimum over all member ids — exactly the
    * labels a full recompute over the union edge set would assign, the
    * property the dd_cluster_incr oracle hash-verifies.
    *
    * @param newVertices today's batch vertex universe (ids unseen by
    *        `prevLabels`; known ids are ignored — their cluster
    *        membership only changes if a new PAIR touches it)
    */
  def updateComponents(prevLabels: DataFrame, idCol: String, labelCol: String,
                       newVertices: DataFrame, newIdCol: String,
                       newPairs: DataFrame, aCol: String, bCol: String,
                       maxIter: Int = 25): DataFrame = {
    val prev = prevLabels.select(col(idCol).as("id"), col(labelCol).as("base"))
    val batch = newVertices.select(col(newIdCol).as("id"), col(newIdCol).as("base"))
      .join(prev, Seq("id"), "left_anti")
    def onto(end: String) = prev.select(col("id").as(end), col("base").as(s"${end}_l"))
    val cEdges = newPairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .join(onto("a"), Seq("a"), "left")
      .join(onto("b"), Seq("b"), "left")
      .select(coalesce(col("a_l"), col("a")).as("a"), coalesce(col("b_l"), col("b")).as("b"))
    relabel(prev.union(batch), idCol, cEdges, maxIter)
  }

  /** The one clustering loop behind [[connectedComponents]] and
    * [[updateComponents]]: `verts` is (id, base), `pairs` is (a, b)
    * over bases, and the result is (id, cluster_id) with cluster_id the
    * minimum base reachable from the vertex's base.
    *
    * Semi-naive min-label propagation over PAIR ENDPOINTS only, the
    * way RaSQL evaluates a recursive min-aggregate and Pregelix halts
    * vertices: only a vertex whose label fell in the last round sends
    * it on, and the loop has converged when that delta is empty. A
    * base with no edge never changes label and never enters the loop
    * (in a dedup graph most docs are near-duplicates of nothing); it
    * keeps label = base through one final left join of the vertices
    * onto the labels. The loop counts the labels, so a set under the
    * broadcast threshold is broadcast from the start: the finish is one
    * broadcast job and a map-side join, and the vertices are never
    * exchanged. A null base gets a null label, a duplicated vertex row
    * keeps both rows, and an endpoint that is no vertex adds no row.
    *
    * The edges (symmetrized), the labels and every round's delta are
    * RDDs on ONE HashPartitioner(spark.sql.shuffle.partitions), so the
    * delta ⋈ edges and labels ⋈ candidates joins are narrow and a round
    * has exactly one shuffle: the (dst, label) min. Round 1 reads the
    * edges alone (a narrow per-src min over the neighbours). Each round
    * then runs ONE Spark job — the count of the labels it lowered and
    * of all labels, which also materializes the round — and no SQL
    * execution (the only one is the pairs' Dataset.rdd conversion,
    * before round 1); its state is localCheckpoint'ed, so lineage stays
    * one round deep instead of re-executing every prior round per
    * action.
    *
    * Rounds = component diameter + 1 (the last one finds the delta
    * empty). Near-dup clusters are quasi-cliques, so that is 2-4
    * rounds regardless of corpus size; the star-contraction family
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) drops the bound to O(log n) rounds but rewrites the EDGE
    * set every round — the wrong trade for flat dedup graphs. A
    * DataFrame formulation of the same loop cannot keep the
    * co-partitioning: under AQE a checkpointed frame's reads are
    * coalesced, so every round re-exchanges both join sides (measured
    * 6 jobs and 2 QueryExecutions a round). */
  private def relabel(verts: DataFrame, idCol: String, pairs: DataFrame,
                      maxIter: Int): DataFrame = {
    val baseType = verts.schema("base").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(baseType),
      s"connectedComponents needs an integral id column; '$idCol' is " +
        s"${baseType.simpleString} — hash or rank string ids to longs first " +
        "(RankOps.withGlobalRank)")
    val spark = verts.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // every round reads the edges: persisted, not checkpointed — their
    // lineage is the pair plan, which never grows, and a job checkpoints
    // only the marked RDDs nearest its result, so a mark here would sit
    // behind each round's state and never be acted on. A pair with a
    // null endpoint joins nothing.
    val edges = pairs.where(col("a").isNotNull && col("b").isNotNull)
      .select(col("a").cast("long"), col("b").cast("long"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a round's state: vertex -> (label, label before the round); its
    // one job counts the labels it lowered and the labels in all (every
    // edge endpoint, the same in every round)
    def settle(state: RDD[(Long, (Long, Long))]) = {
      state.localCheckpoint()
      val (lowered, all) = state.aggregate((0L, 0L))(
        { case ((n, m), (_, (l, prev))) => (if (l < prev) n + 1 else n, m + 1) },
        { case ((n1, m1), (n2, m2)) => (n1 + n2, m1 + m2) })
      (state.mapValues(_._1),
        state.filter { case (_, (l, prev)) => l < prev }.mapValues(_._1), lowered, all)
    }
    var (labels, delta, lowered, labelCount) = settle(edges.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (v, m) => (v, (math.min(v, m), v)) },
        preservesPartitioning = true))
    var rounds = 1
    while (lowered > 0 && rounds < maxIter) {
      val cand = delta.join(edges, part)
        .map { case (_, (l, dst)) => (dst, l) }
        .reduceByKey(part, math.min(_, _))
      val (l, d, n, _) = settle(labels.leftOuterJoin(cand, part).mapValues {
        case (prev, c) => (c.fold(prev)(math.min(prev, _)), prev)
      })
      labels = l; delta = d; lowered = n
      rounds += 1
    }
    edges.unpersist(blocking = false)
    require(lowered == 0,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds the near-dup quasi-clique assumption")
    // a (long, long) row is 24 bytes to the planner
    val labelled = spark.createDataFrame(labels).toDF("__eid", "label")
      .select(col("__eid").cast(baseType).as("__eid"), col("label").cast(baseType).as("label"))
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    verts.join(if (threshold >= 0 && labelCount * 24 <= threshold) broadcast(labelled) else labelled,
        col("base") === col("__eid"), "left")
      .select(col("id"), coalesce(col("label"), col("base")).as("cluster_id"))
  }
}
