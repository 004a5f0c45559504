package graft

import graft.functions.GeoFunctions
import graft.operators.PolyJoin
import graft.sources.PositionView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

class PolyJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** poly dim from literal rings (the same shaping the query uses). */
  private def polyDf(polys: Seq[(Int, Seq[(Double, Double)])]): DataFrame =
    polys.toDF("poly_id", "ring")
      .select(col("poly_id"),
        transform(col("ring"),
          p => struct(p("_1").as("x"), p("_2").as("y"))).as("verts"))

  // two unit squares sharing the x = 1 edge (x = lon, y = lat, CCW)
  private val squares = Seq(
    1 -> Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)),
    2 -> Seq((1.0, 0.0), (2.0, 0.0), (2.0, 1.0), (1.0, 1.0)))

  private def pts(rows: (Long, Double, Double)*): DataFrame =
    rows.toDF("id", "lat", "lon")

  test("inside points match their polygon, outside points drop") {
    val out = PolyJoin.containsJoin(
      pts((1L, 0.5, 0.5), (2L, 0.5, 1.5), (3L, 0.5, 9.0), (4L, -0.5, 0.5)),
      "lat", "lon", polyDf(squares), "poly_id", "verts", cellDeg = 0.5)
      .select("id", "poly_id").as[(Long, Int)].collect().toSet
    assert(out === Set((1L, 1), (2L, 2)))
  }

  test("a point on a shared border belongs to both polygons") {
    val out = PolyJoin.containsJoin(pts((7L, 0.5, 1.0)),
      "lat", "lon", polyDf(squares), "poly_id", "verts", cellDeg = 0.5)
      .select("id", "poly_id").as[(Long, Int)].collect().toSet
    assert(out === Set((7L, 1), (7L, 2)))
  }

  test("prefilter cells never drop a contained point (cell much smaller than polygon)") {
    // 9 interior lattice points of square 1, cells 10x smaller than the ring
    val inside = for (i <- 1 to 3; j <- 1 to 3)
      yield ((i * 10 + j).toLong, i * 0.25, j * 0.25)
    val out = PolyJoin.containsJoin(pts(inside: _*),
      "lat", "lon", polyDf(squares), "poly_id", "verts", cellDeg = 0.1)
      .select("id").as[Long].collect().toSet
    assert(out === inside.map(_._1).toSet)
  }

  test("matches the literal-ring codegen expression on real positions") {
    val p = PositionView.fromEvents(
      Tables.events(spark, "/root/testdata/sf0.001"))
      .select("event_id", "lat", "lon")
    val ring = graft.queries.GeoQueries.KyivDistricts.head._2
    val viaJoin = PolyJoin.containsJoin(p, "lat", "lon",
      polyDf(graft.queries.GeoQueries.KyivDistricts.take(1)),
      "poly_id", "verts", cellDeg = 0.05)
      .select("event_id").as[Long].collect().toSet
    val viaExpr = p.filter(
      GeoFunctions.pointInConvexPoly(col("lat"), col("lon"), ring))
      .select("event_id").as[Long].collect().toSet
    assert(viaJoin === viaExpr)
    assert(viaExpr.nonEmpty)
  }

  // U-shape: outer square (0,0)-(3,3) with the notch 1<x<2, y>1 removed
  private val uShape = Seq(
    9 -> Seq((0.0, 0.0), (3.0, 0.0), (3.0, 3.0), (2.0, 3.0),
      (2.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0)))

  test("ray-cast containment: concave notch excluded, arms and base included") {
    val out = PolyJoin.containsJoin(
      pts((1L, 2.0, 0.5),  // left arm -> in
        (2L, 2.0, 2.5),    // right arm -> in
        (3L, 0.5, 1.5),    // base below the notch -> in
        (4L, 2.0, 1.5),    // inside the notch -> OUT (bbox would keep it)
        (5L, 2.0, 3.5),    // right of the ring -> out
        (6L, -1.0, 1.5)),  // below -> out
      "lat", "lon", polyDf(uShape), "poly_id", "verts", cellDeg = 1.0,
      convex = false)
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 3L))
  }

  test("ray-cast agrees with the convex fold on a convex layer (interior points)") {
    // j == 10 would sit exactly on the shared x = 1 edge, where the two
    // conventions legitimately differ (convex fold: both squares;
    // half-open ray-cast: the right square only) — keep interior points
    val inside = for (i <- 1 to 9; j <- (1 to 19) if j != 10)
      yield ((i * 100 + j).toLong, i * 0.1, j * 0.1)
    val viaConvex = PolyJoin.containsJoin(pts(inside: _*),
      "lat", "lon", polyDf(squares), "poly_id", "verts", cellDeg = 0.5)
      .select("id", "poly_id").as[(Long, Int)].collect().toSet
    val viaRay = PolyJoin.containsJoin(pts(inside: _*),
      "lat", "lon", polyDf(squares), "poly_id", "verts", cellDeg = 0.5,
      convex = false)
      .select("id", "poly_id").as[(Long, Int)].collect().toSet
    assert(viaRay === viaConvex)
    assert(viaRay.size === inside.size)
  }

  test("ray-cast matches a scalar reference implementation on a point grid") {
    // classic even-odd reference, same half-open convention
    def refContains(ring: Seq[(Double, Double)], lon: Double, lat: Double): Boolean = {
      var c = false
      var i = 0
      while (i < ring.length) {
        val (ax, ay) = ring(i)
        val (bx, by) = ring((i + 1) % ring.length)
        if ((ay > lat) != (by > lat) &&
          lon < ax + (bx - ax) * (lat - ay) / (by - ay)) c = !c
        i += 1
      }
      c
    }
    val ring = uShape.head._2
    val grid = for (i <- 0 to 13; j <- 0 to 13)
      yield ((i * 100 + j).toLong, i * 0.25 - 0.125, j * 0.25 - 0.125)
    val got = PolyJoin.containsJoin(pts(grid: _*),
      "lat", "lon", polyDf(uShape), "poly_id", "verts", cellDeg = 1.0,
      convex = false)
      .select("id").as[Long].collect().toSet
    val want = grid.collect {
      case (id, lat, lon) if refContains(ring, lon, lat) => id
    }.toSet
    assert(got === want)
  }

  test("ringArea: shoelace matches analytic areas, concave and convex, any orientation") {
    val polys = Seq(
      1 -> Seq((0.0, 0.0), (3.0, 0.0), (3.0, 3.0), (2.0, 3.0), // U: 9 - 1x2 notch
        (2.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0)),
      2 -> Seq((0.0, 0.0), (0.0, 2.0), (4.0, 2.0), (4.0, 0.0)), // CW rect
      3 -> Seq((0.0, 0.0), (2.0, 0.0), (1.0, 2.0)))             // triangle
    val got = polyDf(polys)
      .select($"poly_id", PolyJoin.ringArea($"verts").as("a"))
      .as[(Int, Double)].collect().toMap
    assert(math.abs(got(1) - 7.0) < 1e-12) // 9 - 2
    assert(math.abs(got(2) - 8.0) < 1e-12)
    assert(math.abs(got(3) - 2.0) < 1e-12)
  }

  test("a null vertex yields false (no NPE) for both containment folds") {
    // ArrayType containsNull permits a null element; the compiled loops
    // must drop the row like the HOF trees' null did, not NPE in codegen
    val df = spark.sql(
      """SELECT array(named_struct('x', 0.0D, 'y', 0.0D),
        |             cast(null as struct<x: double, y: double>),
        |             named_struct('x', 1.0D, 'y', 1.0D)) AS verts""".stripMargin)
    val out = df.select(
      PolyJoin.containsConvex(lit(0.5), lit(0.5), $"verts").as("c"),
      PolyJoin.containsRayCast(lit(0.5), lit(0.5), $"verts").as("r"))
      .as[(Boolean, Boolean)].collect().head
    assert(out === ((false, false)))
  }

  test("plans a broadcast hash join on the cell key — never a cartesian") {
    val q = PolyJoin.containsJoin(pts((1L, 0.5, 0.5)),
      "lat", "lon", polyDf(squares), "poly_id", "verts", cellDeg = 0.5)
    val plan = q.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "expected the poly-cell dim broadcast-hash-joined")
    assert(collectWithSubqueries(plan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.isEmpty, "containment must come from the cell equi-join, not a product")
  }
}
