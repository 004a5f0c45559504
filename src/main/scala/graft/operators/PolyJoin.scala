package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Points ⋈ polygon-SET containment join.
  *
  * [[graft.functions.GeoFunctions.pointInConvexPoly]] folds ONE literal
  * ring into a codegen'd scan — the right tool when the polygon is a
  * constant. A real importer has a *table* of polygons (districts,
  * landuse zones; reference: open-street-map/pipeline/importer.py
  * polygon→GeoJSON conversion around :294-350), and the operator for
  * that is a join:
  *
  *  1. each polygon is exploded to the grid CELLS its bbox overlaps
  *     (|polys| × cells-per-bbox rows, ids + vertex array only);
  *  2. each point computes its single cell — so a point is compared
  *     only against polygons whose bbox shares that cell, never the
  *     whole layer;
  *  3. candidates pass the exact convex-containment test (the same
  *     cross-product sign fold as the literal-ring expression,
  *     evaluated over the vertex array with higher-order functions —
  *     no UDF, no per-row allocation beyond the array read).
  *
  * Exactness: containment ⊆ bbox and the bbox cell range is inclusive,
  * so the prefilter can never drop a contained pair; a point has ONE
  * cell and a (poly, cell) row is unique, so no post-join dedup is
  * needed. Work is linear in |points| at fixed polygon density.
  *
  * Scale: the exploded poly-cell dim is always broadcast (a city's
  * district/landuse layer is a few thousand rows — classic broadcast
  * territory), so the point side is never shuffled. `cellDeg` trades
  * dim fan-out (smaller cells → more rows per polygon) against
  * candidate selectivity (bigger cells → more polygons per point).
  */
object PolyJoin {

  /** True iff (lat, lon) is inside-or-on the convex CCW ring `verts`
    * (array of struct{x: lon, y: lat}) — every edge cross product
    * non-negative. The identical arithmetic to
    * GeoFunctions.pointInConvexPoly / convexPolySql, so engine and
    * oracle agree bit-for-bit even for boundary points. Native codegen
    * expression (plans/GeoContains.ConvexContains) like the ray-cast
    * variant: the forall/zip_with tree it replaces was interpreted,
    * and this predicate runs once per candidate pair in the join. */
  def containsConvex(lat: Column, lon: Column, verts: Column): Column =
    call_function("convex_contains", verts, lat, lon)

  /** True iff (lat, lon) is inside the ARBITRARY simple ring `verts`
    * (convex or concave, either orientation) by ray-crossing parity: a
    * horizontal ray to the right crosses an odd number of edges. The
    * reference's OSM landuse zones are arbitrary simple polygons
    * (open-street-map/pipeline/importer.py:158-165, way geometry
    * :268-292), often concave — the cross-product-sign fold of
    * [[containsConvex]] is wrong for them.
    *
    * The crossing test for edge (ax,ay)-(bx,by):
    * `(ay > lat) != (by > lat)` (the edge spans the ray's latitude;
    * the half-open comparison counts a vertex exactly once and skips
    * horizontal edges — their div-by-zero branch is never evaluated)
    * AND `lon < ax + (bx-ax)*(lat-ay)/(by-ay)` (the intersection lies
    * strictly right of the point). The identical arithmetic is emitted
    * for the DuckDB oracle (GeoQueries.geoPolyConcaveSql), so both
    * engines flip the same boundary cases the same way.
    *
    * Native codegen expression (plans/GeoContains) rather than an
    * `aggregate` HOF fold: higher-order functions are interpreted
    * (CodegenFallback) and this predicate sits in a join condition,
    * where it runs once per candidate pair. */
  def containsRayCast(lat: Column, lon: Column, verts: Column): Column =
    call_function("ray_cast_contains", verts, lat, lon)

  /** Shoelace area of the simple ring `verts`, in squared coordinate
    * units (deg² here — no cos-latitude correction, deliberately: libm
    * cos may differ in the last ulp across engines, while the shoelace
    * fold is plain +-*, reproducible bit-for-bit; callers needing km²
    * scale by a constant). Orientation-independent (abs). Rounded by
    * the CALLER, not here — the raw fold keeps one source of truth
    * with the oracle's ordered list_sum. Native codegen expression
    * (plans/GeoContains.RingArea), left-fold in vertex order. */
  def ringArea(verts: Column): Column = call_function("ring_area", verts)

  /** Joins `points` to every polygon in `polys` containing them.
    * Output: all point columns plus `polyIdCol`. Points inside no
    * polygon are dropped (inner join); points on a shared border
    * surface once per containing polygon.
    *
    * @param polys     polygon dim: `polyIdCol` + `vertsCol`
    *                  (array of struct{x, y}; with `convex = true` the
    *                  rings must be convex CCW — the fast path; with
    *                  `convex = false` any simple ring works)
    * @param cellDeg   prefilter grid cell edge, in coordinate degrees —
    *                  pick on the order of the typical polygon size
    * @param convex    true → cross-product-sign fold (convex CCW rings
    *                  only, boundary-inclusive); false → ray-crossing
    *                  parity (any simple ring, boundary by crossing
    *                  parity)
    */
  def containsJoin(points: DataFrame, latCol: String, lonCol: String,
                   polys: DataFrame, polyIdCol: String, vertsCol: String,
                   cellDeg: Double,
                   convex: Boolean = true): DataFrame = {
    val v = col(vertsCol)
    val xs = transform(v, p => p("x"))
    val ys = transform(v, p => p("y"))
    val polyCells = polys
      .select(col(polyIdCol), v.as("__verts"),
        floor(array_min(xs) / cellDeg).cast("long").as("__cx0"),
        floor(array_max(xs) / cellDeg).cast("long").as("__cx1"),
        floor(array_min(ys) / cellDeg).cast("long").as("__cy0"),
        floor(array_max(ys) / cellDeg).cast("long").as("__cy1"))
      .withColumn("__pcx", explode(sequence(col("__cx0"), col("__cx1"))))
      .withColumn("__pcy", explode(sequence(col("__cy0"), col("__cy1"))))
      .select(col(polyIdCol), col("__verts"), col("__pcx"), col("__pcy"))
    points
      .withColumn("__cx", floor(col(lonCol) / cellDeg).cast("long"))
      .withColumn("__cy", floor(col(latCol) / cellDeg).cast("long"))
      .join(broadcast(polyCells), col("__cx") === col("__pcx") && col("__cy") === col("__pcy"))
      .filter(
        if (convex) containsConvex(col(latCol), col(lonCol), col("__verts"))
        else containsRayCast(col(latCol), col(lonCol), col("__verts")))
      .drop("__cx", "__cy", "__pcx", "__pcy", "__verts")
  }
}
