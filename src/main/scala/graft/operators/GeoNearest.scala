package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact nearest-neighbor join from a large point set to a point layer
  * (traffic signals, crossings — reference:
  * open-street-map/pipeline/importer.py:146-176 fetches such layers)
  * via grid bucketing.
  *
  * A broadcast-cartesian argmin computes |positions| x |layer|
  * distances — O(N²/k) once the layer grows with the data. Here both
  * sides are bucketed into cellDeg grid cells and each position only
  * meets the signals of nearby cells, so the work is linear in the big
  * side at fixed layer density.
  *
  * Exactness: a candidate min at distance d is the global min when
  * every point outside the searched neighborhood is provably farther.
  * Outside a ring-r neighborhood (Chebyshev cell distance <= r), a
  * point differs by >= r full cell widths in latitude or longitude, so
  * its haversine distance is >= 2R·sin(r·θ/2)·cos(maxAbsLat)
  * (θ = cellDeg in radians; longitude at the largest |lat| is the
  * weakest direction, and sin/asin monotonicity makes the bound valid
  * for mixed lat+lon separations too). Three passes:
  *
  *   1. ring-1 candidates — the SMALL side (signals) is exploded to its
  *      9 neighbor cells and joined on the cell key (the planner picks
  *      broadcast for a small layer, shuffle-hash for a huge one);
  *   2. unresolved positions widen to ring `widenRing` — by then the
  *      position side is the small one, so IT is exploded and signals
  *      stay bucketed 1x1;
  *   3. any survivor (a (2·widenRing+1)²-cell hole in the layer) scans
  *      the whole broadcast layer — the exactness net. It only fires
  *      when the layer is locally empty at ring-widenRing scale; pick
  *      cellDeg against layer density so passes 2-3 see ~0 rows.
  *
  * Plan shape: each pass is a LEFT join + one aggregation, and the
  * resolved/unresolved split is a FILTER over that aggregation — the
  * position attributes (lat/lon/cell) ride through the aggregate as
  * first() of functionally-dependent columns, so no pass needs an
  * anti-join back to the input (each anti-join would cost two more
  * shuffles). Each pass's aggregation is localCheckpoint'ed so its two
  * filter branches read ONE computation (asserted in GeoNearestSpec;
  * see the argmin comment for why exchange reuse alone cannot dedup
  * the branches).
  *
  * The per-pass argmin in passes 1-2 is a codegen'd primitive min over
  * ONE packed long (dist_micro << IdBits | signal_id): distance
  * dominates, signal_id ITSELF breaks ties — identical to the oracle's
  * min(dist·K + id) and fully parallel. (The previous dense row_number
  * surrogate funneled the whole layer through one unpartitioned-window
  * task — the exact single-task bottleneck this operator exists to
  * avoid once the layer grows with a deployment — and cost an extra
  * id-mapping join on the way out.) The packing is overflow-safe there
  * because ring-join candidates are separation-bounded by the
  * require() above (<= 20°/axis → dist < 3,162 km < 2^(63-IdBits)
  * micro-km). Pass 3's exactness net has UNBOUNDED distances (up to
  * the half circumference), so it uses a lexicographic struct-min of
  * (dist_micro, signal_id) instead — same ordering, no packing; it
  * runs on ~0 rows by construction, so the non-primitive aggregate
  * costs nothing.
  *
  * Contract: `positions(event_id PK, lat, lon)`, `signals(signal_id
  * UNIQUE in [0, 2^IdBits) — enforced in-plan; a layer with a wider
  * id space, e.g. raw planet-OSM node ids, pre-maps ids through
  * RankOps.withGlobalRank, which is order-preserving and parallel)`,
  * and |lat| <= maxAbsLatDeg on BOTH sides — a violated latitude
  * bound voids the exactness guarantee. LONGITUDE contract: the grid
  * does not wrap at the antimeridian (gridX is a plain floor over
  * lon - originLon), so a layer spanning lon ±180 can resolve a
  * seam-adjacent position to a same-side signal while its true
  * nearest sits across the seam — callers with ±180-crossing data
  * must recenter longitudes (rotate the origin so the data is
  * contiguous) before calling; city/regional layers (the reference's
  * domain) are contiguous by construction. Positions with no signal
  * anywhere in the layer are dropped (inner-join semantics of the
  * final pass).
  */
object GeoNearest {

  /** Bits reserved for the signal id inside the packed argmin long.
    * 31 is the ring-bounded maximum: 2^31 ids x the worst ring-join
    * distance (20°/axis separation → 3,162 km = 3.17e9 micro-km)
    * packs to 6.8e18 < 2^63 with ~26% headroom. */
  val IdBits = 31

  /** Largest attested layer the candidate joins broadcast: 2M signals
    * x9 ring copies x ~48 B/row ≈ 0.9 GB built relation — inside the
    * 8 GB / 512M-row broadcast cap with wide margin, and far past any
    * city/regional point layer (the reference's domain is ~10^3-10^5
    * signals). Layers past this keep the planner's shuffle strategy. */
  val BroadcastLayerMaxRows = 2000000L

  /** Strictly-increasing intermediate rings between ring-1 and
    * `widenRing`. Pass-2's ring-widening explodes each unresolved
    * position to (2r+1)² cells, and the r19 sf1 profile showed the
    * jump 1 -> 8 pays x289 explosion for survivors whose nearest sits
    * just past the ring-1 radius: 32.3k survivors, ALL within safe(2),
    * p99.9 dist 1.77 km vs safe(2) = 2.80 km — ~100M candidate evals
    * where ring-2's x25 needs ~9M. Ring 2 resolves the dense-regime
    * tail at x25 and leaves the x(2·widenRing+1)² pass to genuinely
    * sparse neighborhoods; an empty-survivor mid pass joins ~0 rows and
    * costs one ~20 ms stage. Exactness is per-pass (the safe(r)
    * lower-bound cutoff), so any ladder is as exact as the direct
    * jump. */
  private val MidRings = Seq(2)

  /** @param layerRows the caller's staged layer count, when known. The
    *   layer frame below is a localCheckpoint whose size the planner
    *   cannot estimate — at sf10 the r20 metrics dump caught the pass-1
    *   candidate join planned as a SortMergeJoin that SHUFFLED AND
    *   SORTED the 10M-row position side (twice, reuse lost with it:
    *   two 416M-row SMJ pipelines = ~75% of query core time) where
    *   sf0.1/sf1 plan the broadcast the operator was designed around.
    *   A layer is dim-sized by contract, so when the caller can attest
    *   the count, the ring-exploded side is broadcast EXPLICITLY
    *   (guide §3.1: hint when estimates are wrong) up to
    *   [[BroadcastLayerMaxRows]]; past that the planner keeps choosing
    *   (a genuinely huge layer must not OOM the driver on a hint). */
  def nearest(positions: DataFrame, signals: DataFrame,
              cellDeg: Double, originLat: Double, originLon: Double,
              maxAbsLatDeg: Double, widenRing: Int = 8,
              layerRows: Option[Long] = None): DataFrame = {
    require(widenRing >= 1, s"widenRing=$widenRing must be >= 1")
    require(cellDeg > 0, s"cellDeg=$cellDeg must be positive")
    // rungs at or past widenRing are dropped: the ladder must degrade
    // to the plain two-pass shape for a caller that narrows widenRing
    // to <= 2 (GeoNearestSpec's sparse layer tests do)
    val mids = MidRings.filter(_ < widenRing)
    // the squared-degree prefilter's sin x >= x(1-x²/6) slack needs the
    // in-join separation (≤ (widenRing+1)·cellDeg per side) to stay
    // small-angle; 20° keeps the polynomial factor above 0.9949 — far
    // inside the 0.99 margin the filter budget carries
    require(cellDeg * (widenRing + 1) <= 20,
      s"cellDeg=$cellDeg too coarse for widenRing=$widenRing (prefilter bound)")

    // lower bound on the distance to anything outside a ring-r
    // neighborhood; the 0.999 slack absorbs the 6-dp distance rounding
    // and evaluation-order ulps, and keeps the accepted min STRICTLY
    // below every outside distance so the id tie-break can never be
    // stolen by an unseen equidistant signal
    def safeKm(r: Int): Double =
      2 * GeoFunctions.EarthRadiusKm *
        math.sin(r * math.toRadians(cellDeg) / 2) *
        math.cos(math.toRadians(maxAbsLatDeg)) * 0.999

    // sig_idx = signal_id, guarded in-plan: an out-of-range id would
    // silently corrupt the packed argmin, so the range check rides the
    // projection itself (raise_error in the otherwise branch — codegen
    // cannot prune it away, and it costs one comparison per layer row)
    val maxId = (1L << IdBits) - 1
    // the layer is dim-sized but appears in THREE plan branches (ring-1
    // explode, pass-2 probe, pass-3 broadcast net); without lineage
    // truncation each branch re-runs the caller's full derivation —
    // for the registry query that was an events scan + JSON position
    // parse per branch (RescanSweep: events.parquet scanned 4x). The
    // LAZY localCheckpoint computes the |layer|-row frame once on the
    // first action and the other branches read its blocks
    // (Audit.withRecall precedent; eager=false keeps plan building
    // job-free for the lint specs).
    val sig = signals
      .select(col("signal_id"), col("s_lat"), col("s_lon"))
      .withColumn("s_coslat", GeoFunctions.cosLat(col("s_lat")))
      .withColumn("sig_idx",
        when(col("signal_id").between(0, maxId), col("signal_id").cast("long"))
          .otherwise(raise_error(concat(
            lit(s"GeoNearest: signal_id outside [0, 2^$IdBits): "),
            col("signal_id")))))
      .withColumn("sgx", GeoFunctions.gridX(col("s_lon"), originLon, cellDeg))
      .withColumn("sgy", GeoFunctions.gridY(col("s_lat"), originLat, cellDeg))
      .localCheckpoint(eager = false)

    val p = Par.spread(positions.select("event_id", "lat", "lon"))
      .withColumn("coslat", GeoFunctions.cosLat(col("lat")))
      .withColumn("gx", GeoFunctions.gridX(col("lon"), originLon, cellDeg))
      .withColumn("gy", GeoFunctions.gridY(col("lat"), originLat, cellDeg))

    val dist = GeoFunctions.haversineKmPre(
      col("lat"), col("lon"), col("coslat"),
      col("s_lat"), col("s_lon"), col("s_coslat"))
    // the double round reproduces the oracle's decimal rounding
    // (round(d,6) is not an exact micro multiple in binary; rounding
    // its *1e6 image recovers the integer). The isNotNull guard is
    // load-bearing under ANSI: an unmatched LEFT row has null s_*, and
    // haversineKmPre's least/greatest clamps SKIP nulls — the "dist"
    // of a non-candidate evaluates to the half circumference, whose
    // eager multiply overflows at IdBits=31 before the null sig_idx
    // can null the sum. The when() short-circuits, restoring "m is
    // null when nothing matched" by construction; MATCHED candidates
    // are ring-bounded (<= 20°/axis) and pack with headroom.
    val packed = when(col("sig_idx").isNotNull,
      round(round(dist, 6) * lit(1e6)).cast("long") *
        lit(1L << IdBits) + col("sig_idx"))
    // min(packed) as "m" (null when the LEFT join matched nothing);
    // lat/lon/coslat are functionally dependent on event_id in every
    // pass, so their first() is deterministic and lets the unresolved
    // branch feed the next pass without re-joining the input. (The
    // pre-r20 pass-1 argmin also carried first(gx)/first(gy); no
    // consumer ever read them — resolved rows keep (event_id, m) and
    // the widen passes recompute the grid key from lat/lon — so they
    // were pure agg-buffer + exchange weight.)
    //
    // Each pass's argmin is localCheckpoint'ed (lazy): its two
    // consumers prune DIFFERENT column sets — the resolved branch
    // keeps (event_id, m), the next pass needs (lat, lon, coslat) —
    // so the optimizer clones the aggregate into two canonically
    // DIFFERENT subtrees that exchange reuse cannot dedup, and the
    // candidate join + argmin (the query's dominant cost) executed
    // TWICE at every scale (r20 sf10 metrics dump: two 416M-row join
    // pipelines = ~2/3 of total core time; the same double shape is
    // in the sf0.1 plan). The checkpoint computes the pass once and
    // both branches read its blocks. Lineage is per-invocation, so
    // nothing persists across runs (the sig staging precedent above);
    // the one visible cost is that the pass-1 job now runs when the
    // plan is first materialized.
    def argmin(cand: DataFrame): DataFrame =
      cand.groupBy("event_id").agg(min(packed).as("m"),
        first("lat").as("lat"), first("lon").as("lon"),
        first("coslat").as("coslat"))
        .localCheckpoint(eager = false)
    def distKmOf(m: Column): Column =
      shiftrightunsigned(m, IdBits).cast("double") / 1e6
    def isResolved(r: Int): Column =
      col("m").isNotNull && distKmOf(col("m")) <= safeKm(r)

    // cheap cos-scaled squared-degree prefilter, riding IN the join
    // condition so pruned candidates never reach the haversine (the
    // pass's dominant math — 2 sin + asin + sqrt per candidate vs 5
    // multiplications here): from dist = 2R·asin(√h) >= 2R·√h and
    // sin x >= x(1-x²/6) >= 0.9949·x at the require()-bounded in-join
    // separations, dist >= 0.9949·R·√(dlat² + cc·dlon²) (radians).
    // A candidate whose cheap bound exceeds the pass's acceptance
    // radius safeKm(r) can never be an ACCEPTED min — if the true min
    // is accepted it lies inside the radius and the lower bound keeps
    // it (0.99 margin > the 0.9949 polynomial factor + fp ulps), and a
    // position whose min is beyond the radius goes unresolved either
    // way, re-deriving candidates from scratch in the next pass. At
    // ~50°N the kept ellipse is ~π·cos²(lat)·cellDeg² vs the 9-cell
    // join's 9·cellDeg² — ~78% of pass-1 haversines never run.
    def cheapNear(r: Int): Column = {
      val dlat = radians(col("lat") - col("s_lat"))
      val dlon = radians(col("lon") - col("s_lon"))
      val d2 = dlat * dlat + col("coslat") * col("s_coslat") * dlon * dlon
      val b = safeKm(r) / 0.99 / GeoFunctions.EarthRadiusKm
      d2 <= lit(b * b)
    }

    // ring offsets as two chained explodes of sequence(-r, r): the
    // generated code is O(1) in r — an array-of-structs literal would
    // put (2r+1)² struct constructors into one codegen unit, and at
    // r=8 the janino compile time alone cost ~1 s per run
    def withRing(df: DataFrame, r: Int, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+ col("gx") :+ col("gy") :+
          explode(sequence(lit(-r), lit(r))).as("__dx"): _*)
        .select(keep.map(col) :+ (col("gx") + col("__dx")).as("gx") :+
          col("gy") :+ explode(sequence(lit(-r), lit(r))).as("__dy"): _*)
        .select(keep.map(col) :+ col("gx") :+
          (col("gy") + col("__dy")).as("gy"): _*)

    // attested-small layer → explicit broadcast of the candidate-join
    // layer sides (see the layerRows scaladoc); unattested layers keep
    // the planner's choice
    val bcastLayer = layerRows.exists(n => n >= 0 && n <= BroadcastLayerMaxRows)
    def maybeBcast(df: DataFrame): DataFrame =
      if (bcastLayer) broadcast(df) else df

    // pass 1: ring-1, signal side exploded x9; the prefilter rides the
    // join condition (LEFT semantics keep no-candidate positions alive
    // as m=null → unresolved, where a post-join filter would LOSE them)
    val sig9 = withRing(
      sig.select(col("sig_idx"), col("s_lat"), col("s_lon"), col("s_coslat"),
        col("sgx").as("gx"), col("sgy").as("gy")),
      1, Seq("sig_idx", "s_lat", "s_lon", "s_coslat"))
      .withColumnRenamed("gx", "jgx").withColumnRenamed("gy", "jgy")
    val m1 = argmin(p.join(maybeBcast(sig9),
      col("gx") === col("jgx") && col("gy") === col("jgy") && cheapNear(1),
      "left_outer").drop("jgx", "jgy"))
    val resolved1 = m1.filter(isResolved(1))
    val un1 = m1.filter(!isResolved(1))

    // pass 2: survivors widen through the ring ladder (MidRings, then
    // widenRing); position side exploded, signals 1x1. Each rung's
    // unresolved frame recomputes gx/gy from lat/lon — the grid key is
    // a pure projection, so recomputing beats carrying a
    // nondeterministic first() through every aggregate.
    def widenPass(unresolved: DataFrame, r: Int): (DataFrame, DataFrame) = {
      val base = unresolved
        .select(col("event_id"), col("lat"), col("lon"), col("coslat"))
        .withColumn("gx", GeoFunctions.gridX(col("lon"), originLon, cellDeg))
        .withColumn("gy", GeoFunctions.gridY(col("lat"), originLat, cellDeg))
      val pWide = withRing(base, r, Seq("event_id", "lat", "lon", "coslat"))
      val m = argmin(pWide.join(
        maybeBcast(sig.select(col("sig_idx"), col("s_lat"), col("s_lon"),
          col("s_coslat"), col("sgx").as("jgx"), col("sgy").as("jgy"))),
        col("gx") === col("jgx") && col("gy") === col("jgy") &&
          cheapNear(r),
        "left_outer").drop("jgx", "jgy"))
      (m.filter(isResolved(r)), m.filter(!isResolved(r)))
    }
    val (resolvedMid, unAfterMid) =
      mids.foldLeft((Seq.empty[DataFrame], un1: DataFrame)) {
        case ((acc, un), r) =>
          val (res, next) = widenPass(un, r)
          (acc :+ res, next)
      }
    val (resolved2, un2) = widenPass(unAfterMid, widenRing)

    // pass 3: exactness net over the whole broadcast layer. Distances
    // here are UNBOUNDED (no ring), so the packed long could overflow
    // at IdBits=31 — this pass argmins a lexicographic struct of
    // (dist_micro, signal_id) instead: the identical (distance, id)
    // ordering with no packing, on the ~0 rows that ever get here.
    val distMicro = round(round(dist, 6) * lit(1e6)).cast("long")
    val m3 = un2.select("event_id", "lat", "lon", "coslat")
      .join(broadcast(
        sig.select(col("sig_idx"), col("s_lat"), col("s_lon"), col("s_coslat"))))
      .groupBy("event_id")
      .agg(min(struct(distMicro.as("d"), col("sig_idx").as("i"))).as("ms"))
      .select(col("event_id"), col("ms.i").as("signal_id"),
        (col("ms.d").cast("double") / 1e6).as("dist_km"))

    // sig_idx IS signal_id, so unpacking recovers it directly — no
    // mapping join back through the layer; every branch is projected
    // to the two columns the unpack needs before the union
    (resolvedMid :+ resolved2)
      .foldLeft(resolved1.select("event_id", "m")) {
        (u, r) => u.unionByName(r.select("event_id", "m")) }
      .select(col("event_id"),
        col("m").bitwiseAND(lit(maxId)).as("signal_id"),
        distKmOf(col("m")).as("dist_km"))
      .unionByName(m3)
  }
}
