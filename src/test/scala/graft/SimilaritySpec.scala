package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.select("q_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap

  test("bruteTopK returns k rows per query, self excluded, ranks 1..k") {
    val out = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 5)
    val byQ = ranks(out).groupBy(_._1._1)
    val nq = queries.count()
    assert(byQ.size === nq)
    byQ.foreach { case (q, rows) =>
      assert(rows.values.toSeq.sorted === (1L to 5L))
      assert(!rows.keySet.contains((q, q)))
    }
  }

  test("lshTopK candidates are a subset ranked consistently with brute force") {
    val brute = ranks(Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    val lsh = ranks(Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      dim = 64, k = 10))
    // ANN: every returned neighbor must be a real vector pair. The
    // r=3 × 10-band default measures recall@10 0.87-0.95 across plane
    // seeds on the isotropic testdata (sf0.001/0.01/0.1 alike); floor
    // at 0.8 = min-seed measurement minus margin. The hard guarantee
    // is the planted-neighbor check below.
    val recall = lsh.keySet.count(brute.keySet.contains).toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall@10 regressed: $recall (measured 0.87-0.95)")
  }

  test("lshTopK never misses a planted high-cosine nearest neighbor") {
    // the testdata queries all have noise-floor rank-1s (max cos 0.43
    // at sf0.001), so the hard guarantee needs a corpus in the regime
    // LSH exists for: 64-dim vectors each with a cos ~0.999 twin. At
    // (nBits=30, bands=10, r=3) a twin's band-collision probability is
    // 1-(1-(1-acos(.999)/pi)^3)^10 ~ 1-3e-14, and the hyperplanes are
    // seeded — a missed twin means the signature/banding regressed.
    val rnd = new scala.util.Random(42)
    val base = (0 until 20).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val twins = base.map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val qs = base.toDF("vec_id", "embedding")
    val top1 = Similarity.lshTopK(corpus, qs, "vec_id", "embedding",
      dim = 64, k = 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    base.foreach { case (i, _) =>
      assert(top1.get(i).contains(1000L + i),
        s"LSH missed the planted twin of $i: got ${top1.get(i)}")
    }
  }

  private lazy val trained = Similarity.kmeansCentroids(emb, "vec_id",
    "embedding", c = 10, iters = 8)

  test("ivfTopK with nprobe = all clusters equals brute force") {
    val ivf = ranks(Similarity.ivfTopK(
      Similarity.ivfAssign(emb, "embedding", trained), queries, "vec_id",
      "embedding", clusterCol = "cluster", centroids = trained, k = 10,
      nprobe = trained.size))
    val brute = ranks(Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    assert(ivf === brute)
  }

  test("kmeans IVF index: deterministic rebuild, recall@10 >= 0.75 at nprobe 6") {
    // deterministic: an independent rebuild lands on identical centroids
    // (6-dp-rounded means pin summation-order ulps)
    val snap = trained.map { case (k, v) => (k, v.toSeq) }
    val snap2 = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      c = 10, iters = 8).map { case (k, v) => (k, v.toSeq) }
    assert(snap === snap2)
    assert(snap.size === 10)
    // the k-means quantizer at nprobe 6/10 must keep recall a user
    // would accept (measured ~0.85 on this corpus; the label quantizer
    // it replaced measured 0.57 at nprobe 4 — neighbor-blind cells)
    val indexed = Similarity.ivfAssign(emb, "embedding", trained)
    val ivf = ranks(Similarity.ivfTopK(indexed, queries, "vec_id", "embedding",
      "cluster", trained, k = 10, nprobe = 6))
    val brute = ranks(Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    val recall = ivf.keySet.count(brute.keySet.contains).toDouble / brute.size
    assert(recall >= 0.75, s"IVF recall@10 regressed: $recall (measured ~0.85)")
  }

  private def train(rows: Seq[(Long, Array[Float])], c: Int, iters: Int) =
    Similarity.kmeansCentroids(rows.toDF("vec_id", "embedding"), "vec_id",
      "embedding", c, iters).map { case (k, v) => (k, v.toSeq) }

  test("kmeansCentroids: zero-norm rows skipped, iters = 0 returns the normalized seeds") {
    val rows = Seq(1L -> Array(0f, 0f), 2L -> Array(3f, 4f),
      3L -> Array(0f, 2f), 4L -> Array(5f, 0f))
    // id 1 has norm 0, so the two lowest usable ids seed the clusters
    assert(train(rows, c = 2, iters = 0) ===
      Seq(2L -> Seq(0.6, 0.8), 3L -> Seq(0.0, 1.0)))
    // c above the vector count: every usable vector is its own cluster
    val all = train(rows, c = 10, iters = 8)
    assert(all.map(_._1) === Seq(2L, 3L, 4L))
    all.zip(Seq(Seq(0.6, 0.8), Seq(0.0, 1.0), Seq(1.0, 0.0))).foreach {
      case ((k, got), want) => got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-12, s"cluster $k: $got vs $want")
      }
    }
  }

  test("kmeansCentroids: an exact dot tie goes to the lower cluster id") {
    // u = (1,1)/sqrt 2 has bit-equal dots with seeds (1,0) and (0,1)
    val out = train(Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 1f),
      3L -> Array(1f, 1f)), c = 2, iters = 1)
    // cluster 1 = {(1,0), u}: mean (0.85355339, 0.35355339) rounds to
    // (0.853553, 0.353553), then unit length; cluster 2 keeps (0,1)
    val n = math.sqrt(0.853553 * 0.853553 + 0.353553 * 0.353553)
    assert(out === Seq(1L -> Seq(0.853553 / n, 0.353553 / n), 2L -> Seq(0.0, 1.0)))
  }

  test("kmeansCentroids: a duplicate seed's higher-id cluster empties and drops out") {
    val out = train(Seq(1L -> Array(2f, 0f), 2L -> Array(1f, 0f),
      3L -> Array(0f, 1f)), c = 3, iters = 1)
    assert(out === Seq(1L -> Seq(1.0, 0.0), 3L -> Seq(0.0, 1.0)))
  }

  test("kmeansCentroids at sf0.001 equals the Spark Lloyd loop's centroids bit for bit") {
    // SHA-256 of "id:hexbits,hexbits,...;..." over the c = 10, iters = 8
    // centroids, captured from the Spark training loop this trainer replaced
    val enc = trained.map { case (k, v) =>
      s"$k:" + v.map(d => java.lang.Long.toHexString(
        java.lang.Double.doubleToLongBits(d))).mkString(",")
    }.mkString(";")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(enc.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(sha === "cbe9e1ea72d45abc4dc5adcee07b64b550e7972074e3d16b3b34dd4e1de7cb89")
  }
}
