package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** plans.PrefixSkipHot + the stop-shingle-ordered prefix path: the
  * zipf quadratic-bucket fix must change CANDIDATE VOLUME only, never
  * the result set (the AllPairs proof holds for any corpus-consistent
  * total order). */
class PrefixSkipHotSpec extends SparkSpec {
  import spark.implicits._

  private def skipHot(hs: Seq[Long], k: Int, hot: Seq[Long]): Seq[Long] = {
    val df = Seq((hs, k)).toDF("hs", "k")
      .select(graft.plans.PrefixSkipHot(col("hs"), col("k"), hot).as("p"))
    df.as[Seq[Long]].collect().head
  }

  test("empty hot list reproduces the plain head slice") {
    assert(skipHot(Seq(1L, 5L, 9L, 12L), 2, Nil) === Seq(1L, 5L))
    assert(skipHot(Seq(7L), 3, Nil) === Seq(7L))
  }

  test("hot shingles are skipped in hash order") {
    // 5 is hot: the 2-prefix walks past it
    assert(skipHot(Seq(1L, 5L, 9L, 12L), 2, Seq(5L)) === Seq(1L, 9L))
    // all leading entries hot: prefix comes from the tail
    assert(skipHot(Seq(1L, 5L, 9L, 12L), 2, Seq(1L, 5L)) === Seq(9L, 12L))
  }

  test("nearly-all-hot docs fill from the hot segment in LIST order") {
    // only one non-hot element; the second prefix slot comes from the
    // doc's hot elements ordered by hot-list position (9 before 5,
    // because the list ranks 9 first)
    assert(skipHot(Seq(1L, 5L, 9L), 2, Seq(9L, 5L)) === Seq(1L, 9L))
    // no non-hot at all: pure hot-rank fill
    assert(skipHot(Seq(5L, 9L), 2, Seq(9L, 5L)) === Seq(9L, 5L))
  }

  test("zipf-hot corpus: skew-safe pairs equal plain-order pairs") {
    // a planted corpus where one shingle ("aa bb cc") is corpus-hot:
    // near-dup pair (1,2) must survive whichever order the prefix uses
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg zz"),
      (3L, "aa bb cc qq rr ss tt uu"),
      (4L, "aa bb cc vv ww xx yy mm"),
      (5L, "aa bb cc nn oo pp kk jj")
    ).toDF("doc_id", "text")
    val t = 0.6
    val plain = graft.operators.Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, t)
      .orderBy("a_id", "b_id").collect().toSeq
    val hot = graft.operators.Dedup
      .hotShingles(docs, "doc_id", "text", 3, sampleMod = 1,
        floorMult = 2.0)
    assert(hot.nonEmpty, "planted hot shingle not detected")
    val safe = graft.operators.Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, t, hot)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(plain.nonEmpty)
    assert(safe === plain)
  }

  test("hotShingles returns Nil when the sample holds no shingle") {
    // avg over zero sampled shingles is NULL: an all-short corpus
    // (every doc under n tokens, all sampled) and an empty corpus
    val short = Seq((1L, "a b"), (2L, "c d"), (3L, "e")).toDF("doc_id", "text")
    assert(graft.operators.Dedup
      .hotShingles(short, "doc_id", "text", 3, sampleMod = 1) === Nil)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.hotShingles(empty, "doc_id", "text", 3) === Nil)
  }

  /** hotShingles' contract in plain Scala: per-doc DISTINCT shingle
    * hashes over the 1-in-`sampleMod` id sample, document frequency per
    * hash, keep df > floorMult x mean df, hottest `cap` by (df desc,
    * hash asc), returned coldest-first. */
  private def hotReference(docs: Seq[(Long, String)], sampleMod: Int,
                           floorMult: Double, cap: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val sampled = docs.filter { case (id, _) =>
      Math.floorMod(XXH64.hashLong(id, 42L), sampleMod.toLong) == 0 }
    val dfs = sampled.flatMap { case (_, text) =>
      graft.plans.SortedShingleHashes.compute(UTF8String.fromString(text), 3)
        .toLongArray().toSeq
    }.groupBy(identity).map { case (h, hs) => (h, hs.size.toLong) }
    if (dfs.isEmpty) return Nil
    val floor = floorMult * (dfs.values.sum.toDouble / dfs.size)
    dfs.toSeq.filter(_._2 > floor).sortBy { case (h, df) => (-df, h) }
      .take(cap).map { case (h, df) => (df, h) }.sorted.map(_._2)
  }

  test("hotShingles equals a plain-Scala document-frequency reference") {
    // planted one-shingle docs: df 6 (x1), df 4 (x3), df 2 (x2), and ten
    // df-1 shingles, one of them repeated inside its doc ("r s t r s t"
    // counts once). 32 occurrences over 16 shingles: mean 2.0, so at
    // floorMult 1.0 the df-2 shingles sit exactly AT the floor (out),
    // and cap 2 or 3 cuts inside the three-way df-4 tie (hash order).
    def rep(text: String, k: Int) = Seq.fill(k)(text)
    val texts = rep("xa ya za", 6) ++
      (1 to 3).flatMap(k => rep(s"xb$k yb$k zb$k", 4)) ++
      (1 to 2).flatMap(k => rep(s"xc$k yc$k zc$k", 2)) ++
      Seq("r s t r s t") ++ (1 to 7).map(k => s"xd$k yd$k zd$k")
    val docs = texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }
    val df = docs.toDF("doc_id", "text")
    def hot(sampleMod: Int, floorMult: Double, cap: Int) =
      graft.operators.Dedup.hotShingles(df, "doc_id", "text", 3,
        sampleMod = sampleMod, floorMult = floorMult, cap = cap)
    assert(hotReference(docs, 1, 1.0, 4096).size === 4) // floor tie excluded
    assert(hotReference(docs, 1, 0.999, 4096).size === 6) // ...and included
    for ((mod, fm, cap) <- Seq((1, 1.0, 4096), (1, 1.0, 3), (1, 1.0, 2),
        (1, 1.0, 1), (1, 0.999, 5), (1, 0.5, 4096), (2, 1.0, 4096),
        (3, 1.0, 2))) {
      assert(hot(mod, fm, cap) === hotReference(docs, mod, fm, cap),
        s"sampleMod=$mod floorMult=$fm cap=$cap")
    }
  }

  test("registered dd_ngram_jaccard result unchanged by the hot-list stage") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.DedupQueries.queries("dd_ngram_jaccard")(spark, dir)
      .collect().toSeq
    val plain = graft.operators.Dedup
      .jaccardPairs(
        graft.Tables.documents(spark, dir), "doc_id", "text",
        graft.queries.DedupQueries.ShingleN,
        graft.queries.DedupQueries.JaccardThreshold)
      .repartition(1).dropDuplicates()
      .sortWithinPartitions("a_id", "b_id").collect().toSeq
    assert(got === plain)
  }
}
