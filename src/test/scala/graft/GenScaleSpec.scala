package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The scale-rehearsal generator's INDEPENDENCE invariants: replicas
  * must preserve within-shard near-dup/similarity structure exactly
  * while sharing nothing across shards — otherwise BENCH_SF1 measures
  * a replica-count-quadratic artifact instead of a 10× workload. */
class GenScaleSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"
  private val dst = "/tmp/graft-scalespec"

  override def beforeAll(): Unit = {
    super.beforeAll()
    GenScale.generate(spark, src, dst, copies = 2)
  }

  test("facts replicate, dims stay fixed, keys never collide") {
    assert(spark.read.parquet(s"$dst/documents.parquet").count() ===
      2 * spark.read.parquet(s"$src/documents.parquet").count())
    assert(spark.read.parquet(s"$dst/nation.parquet").count() ===
      spark.read.parquet(s"$src/nation.parquet").count())
    val ids = spark.read.parquet(s"$dst/documents.parquet").select("doc_id")
    assert(ids.distinct().count() === ids.count())
  }

  test("single-file-per-table layout (stream staging depends on it)") {
    assert(new java.io.File(s"$dst/events.parquet").isFile)
    assert(new java.io.File(s"$dst/lineitem.parquet").isFile)
  }

  test("within-shard Jaccard pairs double; no cross-shard pair appears") {
    val basePairs = Dedup.jaccardPairs(
      spark.read.parquet(s"$src/documents.parquet"), "doc_id", "text",
      queries.DedupQueries.ShingleN, queries.DedupQueries.JaccardThreshold)
      .dropDuplicates().count()
    val scaled = Dedup.jaccardPairs(
      spark.read.parquet(s"$dst/documents.parquet"), "doc_id", "text",
      queries.DedupQueries.ShingleN, queries.DedupQueries.JaccardThreshold)
      .dropDuplicates()
    // token-suffix bijection preserves every within-shard pair and the
    // key shift separates shards, so the pair count exactly doubles...
    assert(scaled.count() === 2 * basePairs)
    // ...and no surviving pair straddles the replica-id boundary
    val m = 10000000L
    assert(scaled.filter((col("a_id") < m) =!= (col("b_id") < m)).count() === 0)
  }

  test("shards share zero shingles") {
    val sh = Dedup.shingles(
      spark.read.parquet(s"$dst/documents.parquet"), "doc_id", "text",
      queries.DedupQueries.ShingleN)
      .select(col("__id"), explode(col("sh")).as("sg"))
    val m = 10000000L
    val a = sh.filter(col("__id") < m).select("sg").distinct()
    val b = sh.filter(col("__id") >= m).select("sg").distinct()
    assert(a.join(b, "sg").count() === 0)
  }

  test("embedding rotation preserves within-shard cosine pairs exactly") {
    val base = Dedup.embeddingPairs(
      spark.read.parquet(s"$src/embeddings.parquet"), "vec_id", "embedding",
      queries.DedupQueries.CosineThreshold)
    val scaled = Dedup.embeddingPairs(
      spark.read.parquet(s"$dst/embeddings.parquet"), "vec_id", "embedding",
      queries.DedupQueries.CosineThreshold)
    val m = 10000000L
    // rotation is orthogonal: replica-1 pairs are the base pairs with
    // shifted ids and IDENTICAL cosines
    val r1 = scaled.filter(col("a_id") >= m)
      .select((col("a_id") - m).as("a_id"), (col("b_id") - m).as("b_id"), col("cos"))
    assert(r1.collect().toSet === base.collect().toSet)
  }
}
