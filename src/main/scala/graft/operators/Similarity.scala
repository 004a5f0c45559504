package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Scale design: the query set / centroid set is always the broadcast
  * side; the corpus is scanned once with vectors kept packed (zip_with +
  * aggregate dot products, no element explosion). Brute force is the
  * exact baseline; LSH and IVF bound the per-query candidate set so the
  * scan cost drops from N·Q to N + |candidates|.
  */
object Similarity {

  /** (id, emb:double[], nrm) projection with the cast and the norm each
    * computed once; downstream pair math uses the pre-cast fast paths. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       prefix: String): DataFrame =
    df.select(col(idCol).as(s"${prefix}id"), toDouble(col(vecCol)).as(s"${prefix}emb"))
      .withColumn(s"${prefix}nrm", normPre(col(s"${prefix}emb")))

  private def cosCol: Column =
    dotPre(col("qemb"), col("demb")) / (col("qnrm") * col("dnrm"))

  /** Per-query top-k by rounded cosine with deterministic id tie-break.
    * Rounding to 6 dp collapses summation-order ulps so ranks are
    * engine-stable; genuine ties fall back to vec_id order.
    *
    * Ranked through the top_k_pairs bounded-heap aggregate
    * (plans/TopKPairs): partial aggregation caps what leaves each map
    * partition at k pairs per query, where the equivalent
    * row_number() window would shuffle EVERY scored candidate to its
    * query's partition and sort there — |corpus|·|queries| rows vs
    * k·|queries|·mappers. Same output, including ties. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("cos", round(cosCol, 6))
      .groupBy(col("qid").as("q_id"))
      .agg(call_function("top_k_pairs", col("cos"), col("did"), lit(k)).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("r0", "s")))
      .select(col("q_id"), col("s.id").as("vec_id"), col("s.score").as("cos"),
        (col("r0") + 1).cast("long").as("rank"))

  /** Exact brute-force cosine top-k: broadcast the (small) query set,
    * one scan of the corpus, shuffle only (q_id, vec_id, cos) triples. */
  def bruteTopK(data: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int): DataFrame = {
    val d = withNorm(data, idCol, vecCol, "d")
    val q = withNorm(queries, idCol, vecCol, "q")
    topK(d.join(broadcast(q), col("did") =!= col("qid")), k)
  }

  /** Random-hyperplane LSH ANN top-k: nBits-bit signatures, split into
    * bands; a corpus vector is a candidate for a query iff they share at
    * least one band value. Approximate — recall grows with bands and
    * shrinks with rows-per-band (r = nBits/bands): collision prob for a
    * pair at angle θ is 1-(1-(1-θ/π)^r)^bands. Defaults r=3 × 10 bands:
    * on the synthetic corpus (isotropic noise — true top-10 cosines sit
    * at 0.27-0.40, barely above the 64-dim noise floor) this measures
    * recall@10 ≈ 0.87-0.95 (across plane seeds) at ~0.73 candidate
    * fraction; on a real corpus with actual near-duplicate structure
    * the same setting prunes far harder (a cos 0.9 pair collides w.p.
    * ~0.99996 while random pairs collide at 0.125/band). The old
    * r=4 × 4 default measured 0.43-0.49 recall — half the true
    * neighbors is not a usable brute-force replacement. */
  def lshTopK(data: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int,
              nBits: Int = 30, bands: Int = 10): DataFrame = {
    val d0 = withNorm(data, idCol, vecCol, "d")
    val q0 = withNorm(queries, idCol, vecCol, "q")
    // FUSED candidate generation + verification (r19, after the sf10
    // rehearsal): the corpus side streams its payload through the band
    // explode straight into the broadcast bucket probe, and the
    // first-collision predicate (the Dedup.embeddingPairsLsh
    // discipline, plans/FirstCollisionBand) makes every (query, doc)
    // candidate unique BY CONSTRUCTION — the old explode → join →
    // distinct() → re-join(d0) → re-join(q0) shape materialized a
    // partial-aggregate hash map over |Q|·N·collision-rate candidate
    // rows, which at sf10 (4k queries × 200k isotropic corpus ≈ 10^9
    // pre-distinct rows) OOM'd a 48 GB heap DURING its own spill
    // (UnsafeFixedWidthAggregationMap → sorter conversion). The fused
    // shape needs no aggregation and no corpus exchange at all: scan →
    // explode → broadcast probe → first-collision filter → cosine →
    // k-bounded topK partial agg. Candidate SET and therefore rows,
    // ranks and the recall audit are identical (SimilaritySpec pins
    // against brute force; the candidate-uniqueness proof is
    // FirstCollisionBand's).
    val cand = bandedVals(d0, "d", dim, nBits, bands,
        keep = Seq("demb", "dnrm"))
      .join(broadcast(bandedVals(q0, "q", dim, nBits, bands,
        keep = Seq("qemb", "qnrm"))), Seq("band", "v"))
      .filter(col("did") =!= col("qid") &&
        col("band") === graft.plans.FirstCollisionBand(
          col("dvals"), col("qvals"), lit(-1L)))
    topK(cand, k)
  }

  /** The LSH candidate-pair set (qid, did) alone — the stage whose
    * cardinality IS the honest cost of the index (candidate fraction =
    * |pairs| / (|Q|·(N-1))); exposed so audits can measure fraction
    * next to recall instead of inferring it (SURVEY §14's isotropic
    * 0.73 vs the clustered regime). Same plan [[lshTopK]] executes. */
  def lshCandidates(data: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, dim: Int,
                    nBits: Int = 30, bands: Int = 10): DataFrame =
    lshCandidateIds(withNorm(data, idCol, vecCol, "d"),
      withNorm(queries, idCol, vecCol, "q"), dim, nBits, bands)

  /** (id, vals, band, v) band rows for the bucket probe: `vals` is the
    * per-band value array (the signature's r-bit windows), carried so
    * the first-collision predicate can dedup candidates in-row, plus
    * any `keep` payload columns (the fused [[lshTopK]] carries the
    * corpus vector through — the probe side never shuffles, so payload
    * amplification is an in-codegen generate, not an exchange). */
  private def bandedVals(df: DataFrame, prefix: String, dim: Int,
                         nBits: Int, bands: Int,
                         keep: Seq[String]): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    require(bands <= 64, s"bands=$bands exceeds the 64-bit first-collision mask")
    val r = nBits / bands
    val mask = (1L << r) - 1
    val sig = hyperplaneSigPre(col(s"${prefix}emb"), nBits, dim)
    val vals = array((0 until bands).map { b =>
      shiftrightunsigned(sig, b * r).bitwiseAND(lit(mask))
    }: _*)
    df.withColumn(s"${prefix}vals", vals)
      .select(Seq(col(s"${prefix}id"), col(s"${prefix}vals")) ++ keep.map(col) :+
        posexplode(col(s"${prefix}vals")).as(Seq("band", "v")): _*)
  }

  private def lshCandidateIds(d0: DataFrame, q0: DataFrame, dim: Int,
                              nBits: Int, bands: Int): DataFrame =
    // first-collision dedup instead of a candidate distinct(): a pair
    // colliding in k bands surfaces only from its earliest agreeing
    // band, so each candidate is unique by construction and the
    // aggregation (whose hash map scaled with |Q|·N·collision-rate and
    // OOM'd the sf10 rehearsal) never exists — see [[lshTopK]]
    bandedVals(d0, "d", dim, nBits, bands, keep = Nil)
      .join(broadcast(bandedVals(q0, "q", dim, nBits, bands, keep = Nil)),
        Seq("band", "v"))
      .filter(col("did") =!= col("qid") &&
        col("band") === graft.plans.FirstCollisionBand(
          col("dvals"), col("qvals"), lit(-1L)))
      .select("qid", "did")

  /** A trained coarse quantizer: (cluster id, unit centroid) pairs
    * sorted by cluster id. A driver value of c rows, built once per
    * corpus by [[kmeansCentroids]] and passed to every IVF entry point. */
  type Centroids = IndexedSeq[(Long, Array[Double])]

  /** IVF ANN top-k: each query probes its nprobe nearest centroids, and
    * only those cells' vectors are scanned. `data` carries its cell in
    * `clusterCol` ([[ivfAssign]]'s output); `centroids` is the quantizer
    * that assigned it. Probe scoring, candidate generation and the
    * bounded-heap top-k all run in one plan; nprobe = |centroids| scans
    * every cell and equals [[bruteTopK]]. */
  def ivfTopK(data: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, clusterCol: String, centroids: Centroids,
              k: Int, nprobe: Int = 2): DataFrame = {
    val d = data.select(col(idCol).as("did"), toDouble(col(vecCol)).as("demb"),
      col(clusterCol).as("cluster"))
      .withColumn("dnrm", normPre(col("demb")))
    val probes = probeCells(withNorm(queries, idCol, vecCol, "q"), centroids,
      nprobe)
    val cand = d.join(broadcast(probes), Seq("cluster"))
      .filter(col("did") =!= col("qid"))
    topK(cand, k)
  }

  /** Which coarse cells each query probes — exposed as (qid, cluster)
    * so audits can weigh probed-cell mass (IVF's candidate fraction)
    * next to recall. [[probeCells]] is the exact stage [[ivfTopK]]
    * runs. */
  def ivfProbes(queries: DataFrame, idCol: String, vecCol: String,
                centroids: Centroids, nprobe: Int): DataFrame =
    probeCells(withNorm(queries, idCol, vecCol, "q"), centroids, nprobe)
      .select("qid", "cluster")

  private def probeCells(q: DataFrame, centroids: Centroids,
                         nprobe: Int): DataFrame = {
    val cent = q.sparkSession.createDataFrame(centroids).toDF("cluster", "cemb")
      .withColumn("cnrm", normPre(col("cemb")))
    val probeW = Window.partitionBy("qid").orderBy(
      (dotPre(col("qemb"), col("cemb")) / (col("qnrm") * col("cnrm"))).desc,
      col("cluster").asc)
    q.crossJoin(broadcast(cent))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select("qid", "qemb", "qnrm", "cluster")
  }

  /** Fold over a one-row centroid array picking the max-dot cluster —
    * the shuffle-free argmax behind corpus assignment, and the rule
    * [[nearest]] follows on the driver. `cents` is
    * array<struct<cluster:long, cemb:array<double>>> sorted by cluster
    * id so strict-greater keeps the LOWEST cluster on exact ties
    * (deterministic across partitionings). Centroids are
    * unit-normalized, so argmax dot = argmax cosine for any input
    * vector without normalizing the corpus side. */
  private def bestCluster(v: Column, cents: Column): Column =
    aggregate(cents,
      struct(lit(Double.MinValue).as("s"), lit(-1L).as("c")),
      (acc, ct) => {
        val dp = dotPre(v, ct.getField("cemb"))
        when(dp > acc.getField("s"),
          struct(dp.as("s"), ct.getField("cluster").cast("long").as("c")))
          .otherwise(acc)
      },
      acc => acc.getField("c"))

  /** Training vectors per coarse cell: the quantizer is fit on at most
    * PointsPerCell·c corpus vectors (the FAISS default; Jégou et al.,
    * TPAMI 2011). */
  private val PointsPerCell = 256

  /** The plan's dot product ([[graft.plans.ArrayDot]]) on the driver. */
  private def dot(a: Array[Double], b: Array[Double]): Double =
    graft.plans.ArrayDot.compute(ArrayData.toArrayData(a), ArrayData.toArrayData(b))

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v))
    v.map(_ / n)
  }

  /** [[bestCluster]] on the driver: strict-greater over clusters in id
    * order, so an exact tie keeps the lower cluster id. */
  private def nearest(u: Array[Double], cents: Centroids): Long =
    cents.foldLeft((Double.MinValue, -1L)) { case (acc, (k, c)) =>
      val dp = dot(u, c)
      if (dp > acc._1) (dp, k) else acc
    }._2

  /** Deterministic spherical k-means coarse quantizer — the training
    * half of the IVF index build. One Spark action collects the training
    * set: the PointsPerCell·c vectors first in (xxhash64(id), id) order
    * (the whole corpus below that size). The c-row fit runs on the
    * driver, over that set in id order: zero-norm vectors are dropped
    * and the rest normalized; the c lowest ids seed the clusters, each
    * labelled by its seed's id; each of `iters` Lloyd rounds assigns
    * every vector to its [[nearest]] centroid and replaces each centroid
    * by the normalized per-cluster mean, rounded to 6 dp. A cluster that
    * empties drops out (c shrinks). The fixed sample and round count
    * make the build deterministic. The corpus-sized passes stay in
    * Spark: [[ivfAssign]] and [[ivfTopK]]. */
  def kmeansCentroids(data: DataFrame, idCol: String, vecCol: String,
                      c: Int, iters: Int = 8): Centroids = {
    require(c >= 1 && iters >= 0, s"need c>=1, iters>=0 (got $c, $iters)")
    val units = data
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(PointsPerCell * c)
      .select(col(idCol).cast("long"), toDouble(col(vecCol)))
      .collect().filterNot(_.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .filter { case (_, e) => dot(e, e) > 0 }
      .map { case (id, e) => (id, unit(e)) }.toIndexedSeq
    var cents: Centroids = units.take(c)
    for (_ <- 1 to iters) {
      cents = units.groupBy { case (_, u) => nearest(u, cents) }
        .toIndexedSeq.sortBy(_._1)
        .map { case (k, members) =>
          // id-order sum, then SQL round(_, 6): HALF_UP on the shortest decimal
          (k, unit(Array.tabulate(members.head._2.length) { i =>
            java.math.BigDecimal
              .valueOf(members.foldLeft(0.0)(_ + _._2(i)) / members.size)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
          }))
        }
    }
    cents
  }

  /** Assigns every corpus vector its coarse cell: one narrow pass with
    * the centroid set riding as a single broadcast row — the full-corpus
    * half of the IVF index build. Output = `data` + `cluster`. */
  def ivfAssign(data: DataFrame, vecCol: String,
                centroids: Centroids): DataFrame = {
    val cents = data.sparkSession.createDataFrame(Seq(Tuple1(centroids)))
      .select(col("_1")
        .cast("array<struct<cluster:bigint,cemb:array<double>>>")
        .as("__cents"))
    data.crossJoin(broadcast(cents))
      .withColumn("cluster",
        bestCluster(toDouble(col(vecCol)), col("__cents")))
      .drop("__cents")
  }
}
