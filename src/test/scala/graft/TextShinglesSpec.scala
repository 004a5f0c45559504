package graft

import graft.plans.MinHashSig
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Equality of the codegen hash expressions with the legacy Column
  * trees they replaced (transform/xxhash64 higher-order forms). These
  * feed the rows-only LSH/SimHash queries, so the DuckDB oracle never
  * sees them — this spec is their bit-equality evidence.
  */
class TextShinglesSpec extends SparkSpec {

  private def sample = {
    import spark.implicits._
    Seq(
      Seq("a", "b", "c"),
      Seq("", "a a", "é漢 multi  byte"),
      Seq.empty[String],
      null
    ).toDF("arr")
  }

  test("MinHashSig equals array of array_min(transform(hs, h => xxhash64(h, j)))") {
    val k = 8
    // non-null inputs only: the legacy tree maps a NULL array to an
    // array of k nulls (array() never yields NULL) while MinHashSig is
    // null-intolerant (NULL in, NULL out) — both sit behind a
    // sz > 0 filter in every caller, so only non-null rows matter
    val hashed = sample.filter(col("arr").isNotNull)
      .select(transform(col("arr"), s => xxhash64(s)).as("hs"))
    val legacy: Column = array((0 until k).map { j =>
      array_min(transform(col("hs"), h => xxhash64(h, lit(j))))
    }: _*)
    val rows = hashed
      .select(MinHashSig(col("hs"), k).as("fast"), legacy.as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1))
      assert(r.getSeq[java.lang.Long](0) === r.getSeq[java.lang.Long](1))
    }
  }

  test("MinHashSig of a NULL array is NULL (callers filter empty docs)") {
    import spark.implicits._
    val rows = Seq(Tuple1(Option.empty[Seq[Long]])).toDF("hs")
      .select(MinHashSig(col("hs"), 4).as("fast")).collect()
    assert(rows.head.isNullAt(0))
  }

  test("SortedShingleHashes equals array_sort(ArrayXxHash64(WordShingles(distinct)))") {
    // "ArrayXxHash64" in the name is transform(arr, s => xxhash64(s))
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a",                 // heavy duplicate shingles
      "  leading and trailing  ",
      "one two",                   // fewer than n tokens
      "",
      null
    ).toDF("text")
    for (n <- Seq(2, 3)) {
      val legacy: Column = array_sort(transform(
        graft.plans.WordShingles(col("text"), n, distinct = true), s => xxhash64(s)))
      val rows = texts
        .select(graft.plans.SortedShingleHashes(col("text"), n).as("fast"),
          legacy.as("slow"))
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) === r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      }
    }
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted arrays") {
    import spark.implicits._
    val pairs = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(2L, 3L, 5L, 9L)),
      (Seq(1L, 1L, 2L), Seq(1L, 2L, 2L)),      // duplicates count once
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(-5L, 0L, 4L), Seq(-5L, 0L, 4L))
    ).toDF("a", "b")
    val rows = pairs
      .select(graft.plans.SortedIntersectCount(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("slow"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }
}
