package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial column functions — pure `Column` expression trees so every
  * call stays inside whole-stage codegen (no UDFs).
  *
  * Mirrors the reference's geo math: haversine + bbox filtering
  * (reference: kpt/visualize.py:21-35 great-circle distance, whose one
  * counterpart here is [[haversineKm]],
  * eway/pipeline/ws_interceptor.py:44-56 bounds checks,
  * open-street-map/pipeline/importer.py:15 `KYIV_BOUNDS`).
  */
object GeoFunctions {
  val EarthRadiusKm: Double = 6371.0

  /** Kyiv bbox as (latMin, latMax, lonMin, lonMax). */
  val KyivBounds: (Double, Double, Double, Double) = (50.3, 50.6, 30.2, 30.8)
  val UkraineBounds: (Double, Double, Double, Double) = (44.0, 52.0, 22.0, 40.0)

  /** Great-circle distance in km (spherical haversine). `a` is clamped
    * to [0, 1]: rounding can push it a few ulps past 1 for
    * near-antipodal points, and sqrt(negative) would turn the distance
    * into a NaN that silently fails every downstream filter. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dlat = radians(lat2 - lat1)
    val dlon = radians(lon2 - lon1)
    val a = pow(sin(dlat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dlon / 2), 2)
    lit(2 * EarthRadiusKm) *
      atan2(sqrt(least(a, lit(1.0))), sqrt(greatest(lit(1.0) - a, lit(0.0))))
  }

  /** Haversine with pre-computed cos(radians(lat)) per side — for
    * pair-product joins, computing each side's cosine once before the
    * join removes two of the six trig calls per PAIR. Bit-identical to
    * [[haversineKm]]: same inputs to the same functions, multiplied in
    * the same order. */
  def haversineKmPre(lat1: Column, lon1: Column, cos1: Column,
                     lat2: Column, lon2: Column, cos2: Column): Column = {
    val dlat = radians(lat2 - lat1)
    val dlon = radians(lon2 - lon1)
    val a = pow(sin(dlat / 2), 2) + cos1 * cos2 * pow(sin(dlon / 2), 2)
    lit(2 * EarthRadiusKm) *
      atan2(sqrt(least(a, lit(1.0))), sqrt(greatest(lit(1.0) - a, lit(0.0))))
  }

  /** cos(radians(lat)) — the per-side factor for [[haversineKmPre]]. */
  def cosLat(lat: Column): Column = cos(radians(lat))

  /** True when (lat, lon) falls inside an inclusive bbox. */
  def inBounds(lat: Column, lon: Column,
               bounds: (Double, Double, Double, Double)): Column = {
    val (latMin, latMax, lonMin, lonMax) = bounds
    lat.between(latMin, latMax) && lon.between(lonMin, lonMax)
  }

  /** Ordered named-region table mirroring the reference's
    * FOUND_REGIONS_BOUNDS (eway/pipeline/ws_interceptor.py:30-34) —
    * consulted, in order, for positions outside the kyiv/ukraine
    * buckets. Bounds are (latMin, latMax, lonMin, lonMax). */
  val NamedRegionBounds: Seq[((Double, Double, Double, Double), String)] = Seq(
    ((35.0, 40.0, 35.0, 42.0), "Turkey/Syria"),
    ((15.0, 25.0, 30.0, 40.0), "Red Sea/Sudan"),
    ((30.0, 35.0, 15.0, 25.0), "Libya/Egypt"))

  /** Full identify_region semantics (ws_interceptor.py:90-94): the
    * kyiv/ukraine buckets first, then the named-region table in order,
    * else "Unknown region" — folded into ONE codegen'd conditional
    * chain. A bounds dim this small as a broadcast join would cost a
    * nested-loop row multiply plus a first-match aggregate per input
    * row; folding the ordered table into the expression keeps
    * categorization shuffle-free at any scale (the dim stays data —
    * extend NamedRegionBounds, not SQL). */
  def regionCategoryNamed(lat: Column, lon: Column): Column =
    NamedRegionBounds.foldLeft(
      when(inBounds(lat, lon, KyivBounds), "kyiv")
        .when(inBounds(lat, lon, UkraineBounds), "ukraine")) {
      case (acc, (bounds, name)) => acc.when(inBounds(lat, lon, bounds), name)
    }.otherwise("Unknown region")

  /** Integer grid cell ids for spatial binning / bucketed spatial joins.
    * cellDeg is the cell edge in degrees. */
  def gridX(lon: Column, originLon: Double, cellDeg: Double): Column =
    floor((lon - originLon) / cellDeg).cast("int")
  def gridY(lat: Column, originLat: Double, cellDeg: Double): Column =
    floor((lat - originLat) / cellDeg).cast("int")

  /** Point-in-CONVEX-polygon containment (landuse/bbox layers,
    * importer.py:146-176 polygon feature handling): the point lies
    * inside iff it is on the left of (or on) every edge of the
    * counter-clockwise vertex ring — per-edge cross product
    * (x2-x1)(py-y1) - (y2-y1)(px-x1) >= 0. Vertices are compile-time
    * literals, so the whole test folds into one codegen'd boolean
    * expression per row: no join, no UDF, and the identical literal
    * arithmetic is emitted by [[convexPolySql]] for the oracle —
    * per-row expression trees have no summation-order float risk. */
  def pointInConvexPoly(lat: Column, lon: Column,
                        polyLonLat: Seq[(Double, Double)]): Column = {
    require(polyLonLat.length >= 3, "polygon needs >= 3 vertices")
    polyLonLat.indices.map { i =>
      val (x1, y1) = polyLonLat(i)
      val (x2, y2) = polyLonLat((i + 1) % polyLonLat.length)
      (lit(x2 - x1) * (lat - lit(y1)) - lit(y2 - y1) * (lon - lit(x1))) >= 0
    }.reduce(_ && _)
  }

  /** The same containment test as a SQL boolean over column names
    * `latCol`/`lonCol` — built from the SAME vertex list so the engine
    * and the oracle share one source of truth. */
  def convexPolySql(latCol: String, lonCol: String,
                    polyLonLat: Seq[(Double, Double)]): String =
    polyLonLat.indices.map { i =>
      val (x1, y1) = polyLonLat(i)
      val (x2, y2) = polyLonLat((i + 1) % polyLonLat.length)
      s"(${x2 - x1} * ($latCol - $y1) - ${y2 - y1} * ($lonCol - $x1)) >= 0"
    }.mkString("(", " AND ", ")")
}
