package graft

import org.apache.spark.sql.functions._

/** Recall floors on the CLUSTERED embeddings variant (round-19 verdict
  * item 4): every shipped recall number stood on the driver's isotropic
  * synthetic corpus, where LSH must buy recall with a ~0.73 candidate
  * fraction because true neighbors sit barely above the 64-dim noise
  * floor (SURVEY §14). Real corpora are clustered, and there an index
  * must deliver the same recall while PRUNING — so this spec generates
  * the deterministic mixture-of-Gaussians variant (GenClustered, 32
  * clusters over the sf0.1 ids, same-cluster cosines ~0.6-0.85) and
  * pins recall AND candidate fraction together for the clustered-regime
  * tunings. Measured at HEAD (ClusteredRecallProbe, sf0.1 ids, n=2000):
  *
  *   lsh r=3 x 10 (shipped default)  recall 1.000  frac 0.749
  *   lsh r=6 x 10 (clustered tune)   recall 0.945  frac 0.186
  *   ivf nprobe=7 (shipped default)  recall 1.000  frac 0.690
  *   ivf nprobe=2 (clustered tune)   recall 0.998  frac 0.220
  *
  * The shipped defaults stay sized for the isotropic worst case (their
  * floors live in RecallFloorSpec); these floors pin that the SAME
  * operators, tuned for the clustered regime, hold >= 0.85 recall at a
  * materially lower fraction — the claim an ANN index makes at 100 TB.
  * Everything is deterministic (hash-seeded generator, seeded planes,
  * deterministic k-means), so the floors carry no seed variance.
  */
class RecallFloorClusteredSpec extends SparkSpec {

  private val K = 10
  private lazy val dir: String = {
    val d = "/tmp/graft-clustered"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$d/embeddings.parquet")))
      GenClustered.generate(spark, "/root/testdata/sf0.1", d, clusters = 32)
    d
  }

  import graft.operators.Similarity

  private lazy val data = graft.Tables.embeddings(spark, dir)
  private lazy val qs = data.filter(col("vec_id") % 50 === 0)
  private lazy val n = data.count()
  private lazy val nq = qs.count()
  private lazy val brute = Similarity
    .bruteTopK(data, qs, "vec_id", "embedding", K).localCheckpoint()

  private def recallMin(df: org.apache.spark.sql.DataFrame): Double =
    graft.operators.Audit.withRecall(df, brute, Seq("q_id", "vec_id"))
      .agg(min("recall")).collect()(0).getDouble(0)

  test("clustered LSH tune (r=6 x 10 bands) holds recall >= 0.85 at cand_frac <= 0.30") {
    val rec = recallMin(Similarity.lshTopK(data, qs, "vec_id", "embedding",
      dim = 64, k = K, nBits = 60, bands = 10))
    val frac = Similarity.lshCandidates(data, qs, "vec_id", "embedding",
      dim = 64, nBits = 60, bands = 10).count().toDouble / (nq * (n - 1))
    assert(rec >= 0.85, s"clustered LSH recall collapsed: $rec (measured 0.945)")
    assert(frac <= 0.30, s"clustered LSH stopped pruning: frac $frac (measured 0.186)")
  }

  test("clustered IVF tune (nprobe=2) holds recall >= 0.85 at cand_frac <= 0.35") {
    val cent = Similarity.kmeansCentroids(data, "vec_id", "embedding",
      c = graft.queries.SimilarityQueries.IvfCells, iters = 8)
    val indexed = Similarity.ivfAssign(data, "embedding", cent).localCheckpoint()
    val rec = recallMin(Similarity.ivfTopK(indexed, qs, "vec_id", "embedding",
      "cluster", cent, K, nprobe = 2))
    val sizes = indexed.groupBy("cluster").count()
    val mass = Similarity.ivfProbes(qs, "vec_id", "embedding", cent, 2)
      .join(sizes, "cluster").agg(sum("count")).collect()(0).getLong(0)
    val frac = mass.toDouble / (nq * n)
    assert(rec >= 0.85, s"clustered IVF recall collapsed: $rec (measured 0.998)")
    assert(frac <= 0.35, s"clustered IVF stopped pruning: frac $frac (measured 0.220)")
  }

  test("shipped registry defaults stay green on the clustered corpus") {
    // the isotropic-sized defaults must not LOSE recall when the data
    // gets easier — a drop here means the operator, not the tuning
    val rec = recallMin(Similarity.lshTopK(data, qs, "vec_id", "embedding",
      dim = 64, k = K))
    assert(rec >= 0.9, s"default LSH recall on clustered data: $rec (measured 1.0)")
  }
}
