package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup of 1
    (3L, "completely different content about spark shuffles and partitions here"),
    (4L, "THE QUICK BROWN FOX jumps over the lazy dog near the river bank today!"), // exact dup of 1 after normalize
    (5L, "tiny")).toDF("doc_id", "text")

  test("exactGroups groups normalized duplicates under one fingerprint") {
    val out = Dedup.exactGroups(corpus, "doc_id", "text")
      .select("n_docs", "keep_id").as[(Long, Long)].collect().toSet
    assert(out.contains((2L, 1L))) // docs 1+4 share a fingerprint, keep min id
    assert(out.count(_._1 == 1L) === 3)
  }

  test("jaccardPairs finds the near-dup pair and nothing else at 0.6") {
    val out = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccardPairs: empty corpus and single-doc corpus yield no pairs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(empty, "doc_id", "text", 3, 0.5).count() === 0)
    val single = Seq((1L, "just one document here")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(single, "doc_id", "text", 3, 0.5).count() === 0)
  }

  test("jaccardPairsPrefix: empty and single-doc corpora yield no pairs") {
    // the AllPairs prefix filter behind jaccardPairs at a high threshold
    // (prefix length 1 per doc) and in the stop-shingle-last order a hot
    // list selects; an empty sample yields an empty hot list, not a throw
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyHot = Dedup.hotShingles(empty, "doc_id", "text", 3, sampleMod = 1,
      floorMult = 1.0)
    assert(emptyHot.isEmpty)
    assert(Dedup.jaccardPairs(empty, "doc_id", "text", 3, 0.8).count() === 0)
    assert(Dedup.jaccardPairs(empty, "doc_id", "text", 3, 0.8, emptyHot)
      .count() === 0)
    val one = Seq((1L, "just one document right here")).toDF("doc_id", "text")
    val oneHot = Dedup.hotShingles(one, "doc_id", "text", 3, sampleMod = 1,
      floorMult = 0.5)
    assert(oneHot.nonEmpty)
    assert(Dedup.jaccardPairs(one, "doc_id", "text", 3, 0.8).count() === 0)
    assert(Dedup.jaccardPairs(one, "doc_id", "text", 3, 0.8, oneHot)
      .count() === 0)
  }

  /** The reference pair set: brute-force all-pairs Jaccard over the
    * collected [[Dedup.shingles]] string sets, in plain Scala — no
    * index, no prefix, no hashing. Rows as (a_id, b_id, shared, jac). */
  private def bruteForcePairs(docs: org.apache.spark.sql.DataFrame, n: Int,
                              t: Double): Seq[(Long, Long, Long, Double)] = {
    val sets = Dedup.shingles(docs, "doc_id", "text", n)
      .select("__id", "sh").as[(Long, Seq[String])].collect()
      .map { case (id, sh) => (id, Option(sh).getOrElse(Nil).toSet) }
      .sortBy(_._1)
    for {
      i <- sets.indices
      j <- (i + 1) until sets.length
      (a, sa) = sets(i)
      (b, sb) = sets(j)
      shared = (sa intersect sb).size.toLong
      if shared > 0
      jac = shared.toDouble / (sa.size + sb.size - shared)
      if jac >= t
    } yield (a, b, shared, jac)
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.dropDuplicates().select("a_id", "b_id", "shared", "jac")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("jaccardPairs equals a brute-force all-pairs Jaccard across thresholds") {
    // recall is the property at stake: the prefix filter must never
    // drop a qualifying pair. Sweep thresholds so prefix lengths of
    // 1..several are exercised, on a corpus with exact dups, near-dups,
    // disjoint docs, a single-shingle doc and nested pairs.
    // Nested pair: B is A minus its last token, so |A| = 5, |B| = 4 and
    // jac = 0.8 exactly — the case where the prefix bound is TIGHT at
    // t = 0.8: an A-prefix one entry shorter misses the pair whenever
    // A's one unshared shingle hashes first.
    val nested = (1 to 20).flatMap { i =>
      val toks = (1 to 7).map(k => s"n${i}w$k")
      Seq((100L + 2 * i, toks.mkString(" ")), (101L + 2 * i, toks.init.mkString(" ")))
    }
    val docs = corpus.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (7L, "alpha beta gamma"), // single shingle
      (8L, "alpha beta gamma")  // its exact dup
    ).toDF("doc_id", "text")).union(nested.toDF("doc_id", "text"))
    for (t <- Seq(0.5, 0.8, 0.95, 1.0)) {
      val want = bruteForcePairs(docs, 3, t)
      assert(want.nonEmpty)
      assert(pairRows(Dedup.jaccardPairs(docs, "doc_id", "text", 3, t)) === want,
        s"prefix path diverged at t=$t")
    }
  }

  test("jaccardPairs equals a brute-force all-pairs Jaccard on the testdata corpus") {
    // the planted near-dup pairs at the registered threshold, in the
    // plain hash order and in the stop-shingle-last order a hot list
    // selects (any corpus-consistent order keeps the AllPairs proof)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val want = bruteForcePairs(docs, 3, 0.8)
    assert(want.nonEmpty)
    assert(pairRows(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)) === want)
    val hot = Dedup.hotShingles(docs, "doc_id", "text", 3, sampleMod = 1,
      floorMult = 1.0)
    assert(hot.nonEmpty, "no shingle above the mean document frequency")
    assert(pairRows(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8, hot)) === want)
  }

  test("simhashPairs ignores docs with no shingles (no all-ones pairing)") {
    val tiny = Seq(
      (1L, "a b"), (2L, "c d"), (3L, "e f"), // all shorter than n=3
      (4L, "the quick brown fox jumps high today")).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(Dedup.shingles(tiny, "doc_id", "text", 3),
      maxHamming = 7).count() === 0)
  }

  test("minhashLshPairs recalls every exact-Jaccard pair on the testdata corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a_id", "b_id").distinct().as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(
      Dedup.shingleHashSets(docs, "doc_id", "text", 3),
      k = 64, bands = 16, threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // verification on full sets makes LSH precision exact; recall is the
    // probabilistic part — these band settings must not miss 0.8+ pairs
    assert(lsh === exact)
    assert(exact.nonEmpty)
  }

  test("simhashPairs finds the near-dup pair within hamming 7") {
    val out = Dedup.simhashPairs(Dedup.shingles(corpus, "doc_id", "text", 3),
      maxHamming = 7)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)) || out.contains((1L, 4L)))
  }

  test("embeddingPairs finds only pairs above the cosine threshold") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),  // cos ~ 0.994 with 1
      (3L, Array(0.0f, 1.0f, 0.0f))). // orthogonal to 1
      toDF("vec_id", "embedding")
    val out = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
  }

  test("embeddingPairsLsh: subset of exact pairs, full recall on high-cos near-dups") {
    // 8-dim near-identical pairs (cos ~ 0.999) plus unrelated axes:
    // at the default (r=5 x 20 bands) the survival probability of a
    // 0.99+ pair is 1 - (1 - (1 - acos(.99)/pi)^5)^20 ~ 1 - 5e-15
    val vecs = Seq(
      (1L, Array(1.0f, 0.02f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(1.0f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (3L, Array(0f, 1.0f, 0.01f, 0f, 0f, 0f, 0f, 0f)),
      (4L, Array(0f, 1.0f, 0.02f, 0f, 0f, 0f, 0f, 0f)),
      (5L, Array(0f, 0f, 0f, 0f, 0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact === Set((1L, 2L), (3L, 4L)))
    assert(lsh.subsetOf(exact)) // exact verify: no false positives, ever
    assert(lsh === exact)       // deterministic hyperplanes: full recall here
  }

  test("embeddingPairsLsh: single-band configuration plans and runs") {
    // bands = 1 has no earlier band — the first-collision dedup
    // predicate must degrade to "emit always", not an empty reduce
    val vecs = Seq(
      (1L, Array(1.0f, 0.02f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(1.0f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 0f, 0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, nBits = 8, bands = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh === Set((1L, 2L)))
  }

  test("embeddingPairs refuses a corpus above maxRows at execution time") {
    val vecs = (1L to 10L).map(i => (i, Array(i.toFloat, 1f, 0f)))
      .toDF("vec_id", "embedding")
    // construction stays lazy (pure plan builder) — the guard fires at
    // the first action, before the quadratic product can run away
    val guarded = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.0,
      maxRows = 5)
    val ex = intercept[Exception] { guarded.collect() }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("embeddingPairsLsh"), s"unexpected failure: $chain")
    // and the same corpus passes untouched under the bound
    assert(Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.999999,
      maxRows = 10).count() >= 0)
  }

  test("cap-collapse guards refuse corpora whose every bucket would cap") {
    // the sf10 rehearsal regression class: mean bucket occupancy past
    // maxBucket drops EVERY bucket and the pair output silently empties
    // — the operators now refuse at plan build when the caller passes
    // the corpus size (loud boundary, like the all-pairs maxRows guard)
    val vecs = (1L to 10L).map(i => (i, Array(i.toFloat, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val exL = intercept[IllegalArgumentException] {
      Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding", dim = 3,
        threshold = 0.5, corpusRows = Some(200000L))
    }
    assert(exL.getMessage.contains("ZERO pairs"))
    val sh = (1L to 4L).map(i => (i, Seq(s"a$i b c", "b c d"), 2L))
      .toDF("__id", "sh", "sz")
    val exS = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(sh, maxHamming = 7,
        corpusRows = Some(500000L))
    }
    assert(exS.getMessage.contains("ZERO pairs"))
    // below the bound the armed guard is a no-op: same results as unarmed
    val armed = Dedup.simhashPairs(sh, maxHamming = 7,
      corpusRows = Some(4L)).collect().toSet
    val unarmed = Dedup.simhashPairs(sh, maxHamming = 7)
      .collect().toSet
    assert(armed == unarmed)
  }

  test("ddEmbeddingLsh audit column holds the measured recall floor") {
    val out = graft.queries.DedupQueries
      .ddEmbeddingLsh(spark, "/root/testdata/sf0.001")
      .select("recall").as[Double].collect()
    assert(out.nonEmpty)
    assert(out.distinct.length === 1) // constant audit column
    // measured floor: with deterministic hyperplanes the r=5 × 20-band
    // config recalls 7/7 = 1.0 here (pairs AT the 0.45 noise floor
    // stay deliberately lossy, see embeddingPairs scaladoc); a drop
    // below 0.85 means the signature/banding regressed
    assert(out.head >= 0.85, s"dd_embedding_lsh recall regressed: ${out.head}")
  }

  test("ddMinhashLsh audit column holds full recall on the planted pairs") {
    val out = graft.queries.DedupQueries
      .ddMinhashLsh(spark, "/root/testdata/sf0.001")
      .select("recall").as[Double].collect()
    assert(out.nonEmpty)
    assert(out.head >= 0.9, s"dd_minhash_lsh recall regressed: ${out.head}")
  }

  test("connectedComponents labels chains, triangles and singletons") {
    // component {1,2,3} as a CHAIN (1-2, 2-3: needs propagation across
    // 2 hops), triangle {5,6,7}, singleton 4
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("connectedComponents converges on a long chain within maxIter") {
    val n = 12
    val verts = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id",
      maxIter = 15).as[(Long, Long)].collect().toMap
    assert(out.values.toSet === Set(1L))
  }

  /** The cross-corpus reference: brute-force new x old Jaccard over
    * the collected [[Dedup.shingles]] string sets, in plain Scala. Rows
    * as (new id, old id, shared, jac); new-new and old-old pairs are
    * never scored. */
  private def bruteForceAcross(newDocs: org.apache.spark.sql.DataFrame,
                               oldDocs: org.apache.spark.sql.DataFrame, n: Int,
                               t: Double): Seq[(Long, Long, Long, Double)] = {
    def sets(d: org.apache.spark.sql.DataFrame) =
      Dedup.shingles(d, "doc_id", "text", n)
        .select("__id", "sh").as[(Long, Seq[String])].collect()
        .map { case (id, sh) => (id, Option(sh).getOrElse(Nil).toSet) }
    val olds = sets(oldDocs)
    (for {
      (a, sa) <- sets(newDocs).toSeq
      (b, sb) <- olds.toSeq
      shared = (sa intersect sb).size.toLong
      if shared > 0
      jac = shared.toDouble / (sa.size + sb.size - shared)
      if jac >= t
    } yield (a, b, shared, jac)).sortBy(r => (r._1, r._2))
  }

  test("jaccardPairs against a second corpus equals a brute-force new x old Jaccard") {
    // Nested pairs as in the self-join sweep (|A| = 5, |B| = 4, jac =
    // 0.8): A's prefix is the tight one at t = 0.8, so A sits in the
    // new corpus for odd i and in the old corpus for even i — a prefix
    // one entry short on EITHER side loses pairs.
    val nested = (1 to 20).flatMap { i =>
      val toks = (1 to 7).map(k => s"n${i}w$k")
      Seq((100L + 2 * i, toks.mkString(" ")), (101L + 2 * i, toks.init.mkString(" ")))
    }
    val nestedNew = (1 to 20).map(i => (if (i % 2 == 1) 100L else 101L) + 2 * i)
    val docs = corpus.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (7L, "alpha beta gamma"), // single shingle
      (8L, "alpha beta gamma"),
      (9L, "the quick brown fox jumps over the lazy dog near the river bank today"), // new-new dup of 1
      // 11-12 near-dups split across new/old -> reported;
      // 13-14 near-dups both old -> never scored
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "alpha beta gamma delta epsilon zeta eta iota"),
      (13L, "one two three four five six seven eight"),
      (14L, "one two three four five six seven nine")
    ).toDF("doc_id", "text")).union(nested.toDF("doc_id", "text"))
    val newIds = Set(1L, 3L, 5L, 7L, 9L, 11L) ++ nestedNew
    val newDocs = docs.filter($"doc_id".isin(newIds.toSeq: _*))
    val oldDocs = docs.filter(!$"doc_id".isin(newIds.toSeq: _*))
    val hot = Dedup.hotShingles(docs, "doc_id", "text", 3, sampleMod = 1,
      floorMult = 1.0)
    assert(hot.nonEmpty, "no shingle above the mean document frequency")
    for (t <- Seq(0.5, 0.8, 0.95, 1.0); h <- Seq(Nil, hot)) {
      val want = bruteForceAcross(newDocs, oldDocs, 3, t)
      assert(want.nonEmpty)
      val got = pairRows(Dedup.jaccardPairs(newDocs, "doc_id", "text", 3, t, h,
        against = Some(oldDocs)))
      assert(got === want, s"cross-corpus prefix path diverged at t=$t, hot=${h.nonEmpty}")
      assert(got.forall(r => newIds(r._1) && !newIds(r._2)),
        "a pair within one corpus was scored")
      if (t == 0.5) assert(got.exists(r => r._1 == 11L && r._2 == 12L))
    }
  }

  test("connectedComponents throws rather than returning unconverged labels") {
    val n = 10
    val verts = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    assertThrows[IllegalArgumentException] {
      Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id",
        maxIter = 2).collect()
    }
  }

  test("connectedComponents: an empty pair set labels every vertex with its own id") {
    val verts = Seq(3L, 1L, 2L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id",
      maxIter = 1).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("connectedComponents keeps IntegerType ids IntegerType") {
    val verts = Seq(4, 3, 2, 1, 9).toDF("doc_id")
    val pairs = Seq((4, 3), (3, 2), (2, 1)).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id")
    assert(out.schema.map(_.dataType) ===
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(out.as[(Int, Int)].collect().toMap ===
      Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 1, 9 -> 9))
  }

  test("connectedComponents rejects a string id column before any job starts") {
    val verts = Seq("a", "b").toDF("doc_id")
    val pairs = Seq(("a", "b")).toDF("a_id", "b_id")
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusBridge.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id")
      }
      assert(e.getMessage.contains("RankOps.withGlobalRank"))
      org.apache.spark.ListenerBusBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0)
  }

  test("connectedComponents: a 4-clique plus a disjoint pair converges in exactly 2 rounds") {
    // diameter 1: round 1 labels everything, round 2 finds no change
    val verts = (1L to 6L).toDF("doc_id")
    val clique = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val pairs = (clique :+ ((6L, 5L))).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id",
      maxIter = 2).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
    assertThrows[IllegalArgumentException] {
      Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id", maxIter = 1)
    }
  }

  // the left-join semantics of the labels finish: every vertex row comes
  // back exactly once, and only vertex rows come back
  test("connectedComponents: a null vertex id comes back with a null cluster_id") {
    val verts = Seq(Some(1L), None, Some(2L), Some(3L)).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id")
      .as[(Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(out.toSeq === Seq((None, None), (Some(1L), Some(1L)), (Some(2L), Some(1L)),
      (Some(3L), Some(3L))))
  }

  test("connectedComponents: a duplicated vertex id keeps both rows") {
    val verts = Seq(1L, 2L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((3L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().sorted
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("connectedComponents: a pair endpoint missing from the vertices adds no row") {
    // 7 links 2 to 0 and is no vertex: 2 takes label 0, 7 gets no row
    val verts = Seq(2L, 3L).toDF("doc_id")
    val pairs = Seq((2L, 7L), (7L, 0L)).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().sorted
    assert(out.toSeq === Seq((2L, 0L), (3L, 3L)))
  }

  test("connectedComponents: result schema keeps the id type and nullability") {
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
    def shape(verts: org.apache.spark.sql.DataFrame, pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id")
        .schema.map(f => (f.name, f.dataType, f.nullable))
    def want(t: DataType, nullable: Boolean) =
      Seq(("id", t, nullable), ("cluster_id", t, nullable))
    assert(shape(Seq(1L, 2L).toDF("doc_id"), Seq((1L, 2L)).toDF("a_id", "b_id")) ===
      want(LongType, nullable = false))
    assert(shape(Seq(Some(1L), None).toDF("doc_id"), Seq((1L, 2L)).toDF("a_id", "b_id")) ===
      want(LongType, nullable = true))
    assert(shape(Seq(1, 2).toDF("doc_id"), Seq((1, 2)).toDF("a_id", "b_id")) ===
      want(IntegerType, nullable = false))
    assert(shape(Seq(Some(1), None).toDF("doc_id"), Seq((1, 2)).toDF("a_id", "b_id")) ===
      want(IntegerType, nullable = true))
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(shape(docs, Seq((1L, 2L)).toDF("a_id", "b_id")) ===
      want(docs.schema("doc_id").dataType, docs.schema("doc_id").nullable))
  }

  // yesterday: clusters {1,2}, {5,6}, singleton 9 (labels = min ids)
  private def prevLabels =
    Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("id", "cluster_id")

  test("updateComponents merges a batch into touched clusters only") {
    // batch {10, 11}: 10 pairs with 2 (joins cluster 1), 11 is isolated
    val batch = Seq(10L, 11L).toDF("doc_id")
    val pairs = Seq((10L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.updateComponents(prevLabels, "id", "cluster_id",
      batch, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 11L,
      5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("updateComponents equals a full recompute over the union edge set") {
    // new pair 6-9 merges cluster {5,6} with singleton 9; new doc 0
    // pairs with 1 and drags cluster {1,2} down to label 0
    val batch = Seq(0L).toDF("doc_id")
    val pairs = Seq((6L, 9L), (0L, 1L)).toDF("a_id", "b_id")
    val incr = Dedup.updateComponents(prevLabels, "id", "cluster_id",
      batch, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    val fullVerts = Seq(0L, 1L, 2L, 5L, 6L, 9L).toDF("doc_id")
    val fullPairs = Seq((1L, 2L), (5L, 6L), (6L, 9L), (0L, 1L))
      .toDF("a_id", "b_id")
    val full = Dedup.connectedComponents(fullVerts, "doc_id",
      fullPairs, "a_id", "b_id").as[(Long, Long)].collect().toMap
    assert(incr === full)
  }

  test("updateComponents re-converges only the touched region") {
    // untouched cluster {5,6} carries a non-minimum label 6: a full
    // recompute would lower it to 5, so a kept 6 shows the cluster
    // never entered the loop; {1,2} is touched via 2 and absorbs 10
    val prev = Seq((1L, 1L), (2L, 1L), (5L, 6L), (6L, 6L), (9L, 9L))
      .toDF("id", "cluster_id")
    val batch = Seq(10L).toDF("doc_id")
    val pairs = Seq((10L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.updateComponents(prev, "id", "cluster_id",
      batch, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
      5L -> 6L, 6L -> 6L, 9L -> 9L))
  }

  test("updateComponents ignores batch ids already labelled in prevLabels") {
    // 2 is a known member of cluster 1 and arrives again in the batch;
    // 10 is new and pairs with 6 (joins cluster 5)
    val batch = Seq(2L, 10L).toDF("doc_id")
    val pairs = Seq((10L, 6L)).toDF("a_id", "b_id")
    val rows = Dedup.updateComponents(prevLabels, "id", "cluster_id",
      batch, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq === Seq(1L, 2L, 5L, 6L, 9L, 10L),
      "one row per id")
    assert(rows.toMap === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      9L -> 9L, 10L -> 5L))
  }

  test("ddKeepList: keeps the cluster min id, accounts dropped bytes, skips singletons") {
    val out = graft.queries.DedupQueries
      .ddKeepList(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty, "testdata plants near-dup clusters")
    out.foreach { r =>
      val (n, total, dropped) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 1, "singleton clusters have nothing to drop")
      assert(dropped > 0 && dropped < total,
        "kept doc's bytes stay; dropped strictly between 0 and total")
    }
    // keep ids are cluster minima -> strictly increasing in sorted output
    val keeps = out.map(_.getLong(0))
    assert(keeps.sameElements(keeps.sorted))
  }

  test("updateComponents with no new pairs appends singletons, labels untouched") {
    val batch = Seq(20L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val out = Dedup.updateComponents(prevLabels, "id", "cluster_id",
      batch, "doc_id", pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      9L -> 9L, 20L -> 20L))
  }

  test("staged dedup lineage is keyed by dir and idempotent per dir") {
    // cache poisoning across SFs would make a same-session Verify at a
    // second dir silently return the first dir's clusters — pin the
    // isolation: each dir's labels cover exactly its own corpus, and
    // repeated invocations (memo hits) reproduce the first answer
    def clusterAt(dir: String) =
      graft.queries.DedupQueries.ddCluster(spark, dir)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      val first = clusterAt(dir).collect()
      assert(first.length.toLong === docs,
        s"$dir: one label row per document of THIS dir")
      assert(clusterAt(dir).collect() === first,
        s"$dir: memo-hit invocation must reproduce the staged answer")
    }
  }
}
