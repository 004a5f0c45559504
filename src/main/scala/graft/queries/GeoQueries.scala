package graft.queries

import graft.Tables
import graft.functions.GeoFunctions
import graft.sources.PositionView
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType, StructType}

/** Geo / OSM block (reference: open-street-map/pipeline/importer.py —
  * Overpass signal/crossing fetchers :146-176, tag maps :63-75, bbox
  * handling; grid binning mirrors the visualize heat-grid idea).
  */
object GeoQueries {

  /** Grid cell edge in degrees (~5.5 km at Kyiv latitudes). */
  val CellDeg = 0.05

  private[graft] def pos(s: SparkSession, dir: String): DataFrame =
    PositionView.fromEvents(Tables.events(s, dir))

  // ---- geo_grid_density --------------------------------------------------

  def geoGridDensity(s: SparkSession, dir: String): DataFrame =
    pos(s, dir)
      .groupBy(
        GeoFunctions.gridX(col("lon"), 30.2, CellDeg).as("gx"),
        GeoFunctions.gridY(col("lat"), 50.3, CellDeg).as("gy"))
      .agg(count(lit(1)).as("n"), countDistinct("vehicle_id").as("n_vehicles"))
      // bounded deliverable (|grid cells| rows): single-task finish
      .coalesce(1).sortWithinPartitions("gx", "gy")

  val geoGridDensitySql: String = PositionView.oracleCte + """
    |SELECT CAST(floor((lon - 30.2) / 0.05) AS INT) AS gx,
    |       CAST(floor((lat - 50.3) / 0.05) AS INT) AS gy,
    |  count(*) AS n, count(DISTINCT vehicle_id) AS n_vehicles
    |FROM pos GROUP BY 1, 2 ORDER BY gx, gy""".stripMargin

  // ---- geo_nearest_signal ------------------------------------------------

  /** Synthetic "traffic signal" point set: every 199th event's position
    * (~50 points — the small dim a signal layer is in practice). */
  private def signals(s: SparkSession, dir: String): DataFrame =
    pos(s, dir).filter(col("event_id") % 199 === 0)
      .select(col("event_id").as("signal_id"),
        col("lat").as("s_lat"), col("lon").as("s_lon"))

  /** Nearest signal per position via the grid-bucketed candidate join
    * (operators/GeoNearest.scala): ring-1 cell join, ring-widening for
    * sparse neighborhoods, broadcast exactness net. The synthetic
    * signal layer GROWS with the data (|events|/199), so the old
    * broadcast-cartesian argmin was O(N²/199) — the bucketed plan is
    * linear in |positions| at fixed layer density. KyivBounds' latMax
    * bounds every synthetic latitude, which is the contract the
    * exactness guarantee needs. */
  /** Signal count the fixed [[CellDeg]] was sized against (sf0.1:
    * 100k events / 199 ≈ 500 signals over the Kyiv box). */
  private val RefSignals = 500.0
  /** Events row count from the parquet footers (Tables.rowCount, no
    * job): it backs the density-adaptive cell sizing below. */
  private def eventsCount(s: SparkSession, dir: String): Long =
    Tables.rowCount(s, dir, "events")

  def geoNearestSignal(s: SparkSession, dir: String): DataFrame = {
    // density-adaptive grid: the signal layer GROWS with the data
    // (|events|/199 over a fixed box), so a fixed cell size makes
    // per-cell candidate pairs grow with density SQUARED — 10× data
    // measured 16× (not 10×) at fixed cells. The cell shrinks with
    // density at exponent 0.4, not the occupancy-preserving 0.5: the
    // ring-1 resolution probability depends on the nearest-signal
    // spacing RELATIVE to the cell, and pure sqrt scaling tightens
    // that ratio until survivors flood the ring-widening pass (probed
    // on 10× data: sqrt-scaled cell 29 s, 0.4-scaled 10 s, fixed cell
    // 28 s). Exactness does not depend on the cell size (the ring
    // lower-bound cutoff holds for any positive cellDeg), so the knob
    // only moves work between passes.
    val n = math.max(1L, eventsCount(s, dir) / 199)
    val cell = math.max(0.002, math.min(0.2,
      CellDeg * math.pow(RefSignals / n.toDouble, 0.4)))
    // Compact-id pre-map: GeoNearest packs signal_id into IdBits=31
    // bits and HARD-FAILS past 2^31; sf1 event ids already reach ~900M
    // (~2.4x headroom). Signals are exactly the event_id % 199 == 0
    // rows, so event_id / 199 is an order-preserving bijection into
    // [0, maxEventId/199] — 475x more id headroom with ZERO extra
    // stages (an arbitrary layer would use RankOps.withGlobalRank, the
    // remedy the GeoNearest contract documents). Order preservation
    // keeps the packed-long tie-break identical: min over
    // (dist, id/199) picks the same signal as min over (dist, id).
    graft.operators.GeoNearest.nearest(
      pos(s, dir).select("event_id", "lat", "lon"),
      signals(s, dir)
        .withColumn("signal_id", (col("signal_id") / 199).cast("long")),
      cellDeg = cell,
      originLat = GeoFunctions.KyivBounds._1,
      originLon = GeoFunctions.KyivBounds._3,
      maxAbsLatDeg = GeoFunctions.KyivBounds._2,
      // the footer count attests the layer is dim-sized, so the
      // candidate joins broadcast it explicitly — at sf10 the planner
      // (blind to the localCheckpoint's size) planned an SMJ that
      // shuffled+sorted the 10M-position side twice (GeoNearest
      // scaladoc; r20 metrics dump)
      layerRows = Some(n))
      // map back to the caller-visible id space (the oracle's ids)
      .withColumn("signal_id", col("signal_id") * 199)
      .orderBy("event_id")
  }

  /** Oracle in packed-min AGGREGATION form (the same argmin the engine
    * computes), not a row_number window: the window forces DuckDB to
    * SORT the full |pos|×|sig| cross product — at 10× data that is a
    * 5-billion-row external sort that exhausted disk in the sf1 gate —
    * while min() streams through a 1M-entry hash table. Tie-break is
    * identical: min over (dist_micro·10^10 + signal_id) orders by
    * (rounded distance, signal_id). */
  val geoNearestSignalSql: String = {
    PositionView.oracleCte + s""",
    |sig AS (
    |  SELECT event_id AS signal_id, lat AS s_lat, lon AS s_lon
    |  FROM pos WHERE event_id % 199 = 0),
    |d AS (
    |  SELECT p.event_id,
    |    CAST(round(round(${TrafficQueries.havSql("lat", "lon", "s_lat", "s_lon")}, 6) * 1e6)
    |      AS HUGEINT) * 10000000000 + sig.signal_id AS pk
    |  FROM pos p CROSS JOIN sig),
    |m AS (SELECT event_id, min(pk) AS mk FROM d GROUP BY event_id)
    |SELECT event_id, CAST(mk % 10000000000 AS BIGINT) AS signal_id,
    |  CAST(mk // 10000000000 AS BIGINT) / 1e6 AS dist_km
    |FROM m ORDER BY event_id""".stripMargin
  }

  // ---- geo_tag_stats -----------------------------------------------------

  /** OSM-style tag-map frequency: parse props as a generic map, explode
    * every (key, value) entry, bucket values (importer.py:63-75 tag
    * filters / :128-138 tag-map build). */
  def geoTagStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Par.spread(Tables.events(s, dir).select("props"))
      .select(explode(from_json(col("props"), MapType(StringType, IntegerType)))
        .as(Seq("tag_key", "tag_value")))
      .groupBy(col("tag_key"), (col("tag_value") % 10).as("value_bucket"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions("tag_key", "value_bucket")

  val geoTagStatsSql: String = """
    |SELECT 'k' AS tag_key,
    |  CAST(json_extract_string(props, '$.k') AS INT) % 10 AS value_bucket,
    |  count(*) AS n
    |FROM events GROUP BY 1, 2 ORDER BY tag_key, value_bucket""".stripMargin

  // ---- geo_range_query ---------------------------------------------------

  /** Positions within RangeKm of the Kyiv center, per route. `lat` is
    * derived from `event_id`, so no predicate on it reaches the scan;
    * the distance cut is one codegen'd filter over every position. */
  val RangeKm = 5.0

  def geoRangeQuery(s: SparkSession, dir: String): DataFrame =
    pos(s, dir)
      .filter(GeoFunctions.haversineKm(col("lat"), col("lon"),
        lit(TrafficQueries.CenterLat), lit(TrafficQueries.CenterLon)) < RangeKm)
      .groupBy("route_id")
      .agg(count(lit(1)).as("n"))
      .orderBy("route_id")

  val geoRangeQuerySql: String = PositionView.oracleCte + s"""
    |SELECT route_id, count(*) AS n
    |FROM pos
    |WHERE ${TrafficQueries.havSql("lat", "lon", "50.45", "30.52")} < 5.0
    |GROUP BY route_id ORDER BY route_id""".stripMargin

  // ---- geo_osm_xml_parse -------------------------------------------------

  /** OSM-XML node parsing (importer.py:258-265 _parse_node: id/lat/lon
    * attributes + a tag k->v map from child elements) via from_xml —
    * ONE structured parse per row (per-field xpath calls each re-parse
    * the document through javax.xml, whose factory contended badly
    * across executor threads). Coordinates ride as e4 integers inside
    * the XML; the oracle predicts the parsed output from the same
    * arithmetic. */
  def geoOsmXmlParse(s: SparkSession, dir: String): DataFrame = {
    val latE4 = PositionView.latE4(col("event_id"))
    val lonE4 = PositionView.lonE4(col("event_id"))
    val xml = concat(
      lit("<node id=\""), col("event_id").cast("string"),
      lit("\" lat=\""), latE4.cast("string"),
      lit("\" lon=\""), lonE4.cast("string"),
      lit("\"><tag k=\"highway\" v=\""), col("event_type"),
      lit("\"/><tag k=\"ref\" v=\""), col("user_id").cast("string"),
      lit("\"/></node>"))
    // attributes surface with the _ prefix; tag children as an array.
    // Native single-pass parse (plans/OsmXml.scala) — from_xml is
    // CodegenFallback and split the codegen span around itself.
    graft.operators.Par.spreadOrdered(
      Tables.events(s, dir).select(col("event_id"), col("event_type"), col("user_id")),
      col("event_id"))
      .select(col("event_id"),
        graft.plans.OsmXml.node(xml).as("w"))
      .select(
        col("event_id"),
        col("w._id").as("osm_id"),
        (col("w._lat") / 10000.0).as("lat"),
        (col("w._lon") / 10000.0).as("lon"),
        map_from_entries(transform(col("w.tag"),
          t => struct(t.getField("_k"), t.getField("_v")))).as("tags"))
      .select(col("event_id"), col("osm_id"), col("lat"), col("lon"),
        col("tags")("highway").as("highway"),
        col("tags")("ref").as("ref_user"))
      .sortWithinPartitions("event_id")
  }

  val geoOsmXmlParseSql: String = """
    |SELECT event_id, event_id AS osm_id,
    |  CAST(event_id * 7919 % 3000 + 503000 AS DOUBLE) / 10000.0 AS lat,
    |  CAST(event_id * 104729 % 6000 + 302000 AS DOUBLE) / 10000.0 AS lon,
    |  event_type AS highway,
    |  CAST(user_id AS VARCHAR) AS ref_user
    |FROM events ORDER BY event_id""".stripMargin

  // ---- geo_osm_way_parse -------------------------------------------------

  /** OSM way parsing (importer.py:268-274 _parse_way: id attribute, an
    * ORDERED list of nd ref children, and the tag map). Each event
    * synthesizes a 3-node way; the oracle predicts the parsed output. */
  def geoOsmWayParse(s: SparkSession, dir: String): DataFrame = {
    def nd(ref: Column): Column =
      concat(lit("<nd ref=\""), ref.cast("string"), lit("\"/>"))
    val base = col("event_id") * 31 % 100000
    val xml = concat(
      lit("<way id=\""), col("event_id").cast("string"), lit("\">"),
      nd(base), nd(base + 1), nd(base + 2),
      lit("<tag k=\"highway\" v=\""), col("event_type"), lit("\"/></way>"))
    graft.operators.Par.spreadOrdered(
      Tables.events(s, dir).select(col("event_id"), col("event_type")),
      col("event_id"))
      .select(col("event_id"), graft.plans.OsmXml.way(xml).as("w"))
      .select(
        col("event_id"),
        col("w._id").as("way_id"),
        size(col("w.nd")).cast("long").as("n_nodes"),
        col("w.nd").getItem(0).getField("_ref").as("first_ref"),
        element_at(col("w.nd"), -1).getField("_ref").as("last_ref"),
        map_from_entries(transform(col("w.tag"),
          t => struct(t.getField("_k"), t.getField("_v"))))("highway").as("highway"))
      .sortWithinPartitions("event_id")
  }

  val geoOsmWayParseSql: String = """
    |SELECT event_id, event_id AS way_id, CAST(3 AS BIGINT) AS n_nodes,
    |  event_id * 31 % 100000 AS first_ref,
    |  event_id * 31 % 100000 + 2 AS last_ref,
    |  event_type AS highway
    |FROM events ORDER BY event_id""".stripMargin

  // ---- geo_osm_relation_parse ----------------------------------------------

  /** OSM relation parsing (importer.py:277-292 _parse_relation: id
    * attribute, an ORDERED member list of (type, ref, role) structs,
    * and the tag map) — turn restrictions / route relations. Each event
    * synthesizes a 3-member relation; the oracle predicts the parsed
    * output from the same arithmetic. */
  def geoOsmRelationParse(s: SparkSession, dir: String): DataFrame = {
    def member(tpe: String, ref: Column, role: String): Column =
      concat(lit("<member type=\"" + tpe + "\" ref=\""), ref.cast("string"),
        lit("\" role=\"" + role + "\"/>"))
    val base = col("event_id") * 37 % 99991
    val xml = concat(
      lit("<relation id=\""), col("event_id").cast("string"), lit("\">"),
      member("way", base, "outer"), member("way", base + 1, "inner"),
      member("node", base + 2, "stop"),
      lit("<tag k=\"type\" v=\""), col("event_type"),
      lit("\"/><tag k=\"route_ref\" v=\""), col("user_id").cast("string"),
      lit("\"/></relation>"))
    graft.operators.Par.spreadOrdered(
      Tables.events(s, dir).select(col("event_id"), col("event_type"), col("user_id")),
      col("event_id"))
      .select(col("event_id"), graft.plans.OsmXml.relation(xml).as("w"))
      .select(
        col("event_id"),
        col("w._id").as("relation_id"),
        size(col("w.member")).cast("long").as("n_members"),
        concat_ws(",", col("w.member._type")).as("member_types"),
        col("w.member").getItem(0).getField("_ref").as("first_ref"),
        element_at(col("w.member"), -1).getField("_ref").as("last_ref"),
        concat_ws(",", col("w.member._role")).as("roles"),
        map_from_entries(transform(col("w.tag"),
          t => struct(t.getField("_k"), t.getField("_v")))).as("tags"))
      .select(col("event_id"), col("relation_id"), col("n_members"),
        col("member_types"), col("first_ref"), col("last_ref"), col("roles"),
        col("tags")("type").as("rel_type"),
        col("tags")("route_ref").as("route_ref"))
      .sortWithinPartitions("event_id")
  }

  val geoOsmRelationParseSql: String = """
    |SELECT event_id, event_id AS relation_id, CAST(3 AS BIGINT) AS n_members,
    |  'way,way,node' AS member_types,
    |  event_id * 37 % 99991 AS first_ref,
    |  event_id * 37 % 99991 + 2 AS last_ref,
    |  'outer,inner,stop' AS roles,
    |  event_type AS rel_type,
    |  CAST(user_id AS VARCHAR) AS route_ref
    |FROM events ORDER BY event_id""".stripMargin

  // ---- geo_geojson_roundtrip ---------------------------------------------

  /** GeoJSON feature conversion (importer.py:192-212 to_geojson /
    * _node_to_geojson_feature: Feature with [lon, lat] Point geometry
    * and tags as properties), built with to_json and round-tripped back
    * through from_json — shortest-repr double serialization makes the
    * coordinates survive bit-exactly, so the oracle checks the parsed
    * FIELDS and formatting cancels out. */
  def geoGeojsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = graft.operators.Par.spreadOrdered(
      pos(s, dir).select("event_id", "lat", "lon", "event_type"), col("event_id"))
    val feature = to_json(struct(
      lit("Feature").as("type"),
      col("event_id").as("id"),
      struct(lit("Point").as("type"),
        array(col("lon"), col("lat")).as("coordinates")).as("geometry"),
      struct(col("event_type").as("highway")).as("properties")))
    val schema = StructType.fromDDL(
      "type STRING, id BIGINT, " +
        "geometry STRUCT<type: STRING, coordinates: ARRAY<DOUBLE>>, " +
        "properties STRUCT<highway: STRING>")
    p.select(col("event_id"), from_json(feature, schema).as("f"))
      .select(
        col("event_id"),
        col("f.type").as("feat_type"),
        col("f.geometry.type").as("geom_type"),
        col("f.geometry.coordinates").getItem(0).as("lon"),
        col("f.geometry.coordinates").getItem(1).as("lat"),
        col("f.properties.highway").as("highway"))
      .sortWithinPartitions("event_id")
  }

  val geoGeojsonRoundtripSql: String = PositionView.oracleCte + """
    |SELECT event_id, 'Feature' AS feat_type, 'Point' AS geom_type,
    |  lon, lat, event_type AS highway
    |FROM pos ORDER BY event_id""".stripMargin

  // ---- geo_point_in_poly -------------------------------------------------

  /** Convex landuse-style polygon over central Kyiv (CCW lon/lat ring).
    * One source of truth: the engine's Column tree and the oracle SQL
    * are both generated from this list. */
  val KyivPentagon: Seq[(Double, Double)] = Seq(
    (30.3, 50.35), (30.55, 50.33), (30.75, 50.45),
    (30.6, 50.58), (30.35, 50.55))

  /** Point-in-polygon containment (importer.py landuse polygon
    * features): per-position boolean folded into one codegen'd
    * expression (no join, no UDF), aggregated to containment counts per
    * route type. */
  def geoPointInPoly(s: SparkSession, dir: String): DataFrame =
    pos(s, dir)
      .withColumn("inside",
        GeoFunctions.pointInConvexPoly(col("lat"), col("lon"), KyivPentagon))
      .groupBy("route_id", "inside")
      .agg(count(lit(1)).as("n"), countDistinct("vehicle_id").as("n_vehicles"))
      .orderBy("route_id", "inside")

  val geoPointInPolySql: String = PositionView.oracleCte + s"""
    |SELECT route_id, ${GeoFunctions.convexPolySql("lat", "lon", KyivPentagon)} AS inside,
    |  count(*) AS n, count(DISTINCT vehicle_id) AS n_vehicles
    |FROM pos GROUP BY 1, 2 ORDER BY route_id, inside""".stripMargin

  // ---- geo_poly_join -----------------------------------------------------

  /** District-style polygon LAYER (six convex CCW lon/lat quads tiling
    * the synthetic position bbox). One source of truth: the engine's
    * polygon dim and the oracle's edge VALUES are both generated from
    * this list. */
  val KyivDistricts: Seq[(Int, Seq[(Double, Double)])] = Seq(
    1 -> Seq((30.19, 50.29), (30.41, 50.30), (30.40, 50.45), (30.20, 50.44)),
    2 -> Seq((30.41, 50.30), (30.61, 50.29), (30.60, 50.44), (30.40, 50.45)),
    3 -> Seq((30.61, 50.29), (30.81, 50.31), (30.80, 50.46), (30.60, 50.44)),
    4 -> Seq((30.20, 50.44), (30.40, 50.45), (30.41, 50.61), (30.19, 50.60)),
    5 -> Seq((30.40, 50.45), (30.60, 50.44), (30.59, 50.60), (30.41, 50.61)),
    6 -> Seq((30.60, 50.44), (30.80, 50.46), (30.81, 50.61), (30.59, 50.60)))

  /** Polygon dim as a DataFrame — poly_id + array<struct{x,y}> ring. */
  private def districtPolys(s: SparkSession): DataFrame = {
    import s.implicits._
    KyivDistricts.toDF("poly_id", "ring")
      .select(col("poly_id"),
        transform(col("ring"),
          p => struct(p("_1").as("x"), p("_2").as("y"))).as("verts"))
  }

  /** Points ⋈ polygon-set containment join (operators/PolyJoin): every
    * position assigned to the district(s) containing it via the
    * grid-cell prefilter + exact convex test, rolled up per district.
    * This is the table-of-polygons generalization of
    * [[geoPointInPoly]]'s single literal ring. */
  def geoPolyJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.PolyJoin.containsJoin(
      pos(s, dir), "lat", "lon",
      districtPolys(s), "poly_id", "verts", cellDeg = CellDeg)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n"),
        countDistinct("vehicle_id").as("n_vehicles"),
        countDistinct("route_id").as("n_routes"))
      .orderBy("poly_id")

  /** VALUES rows of a polygon layer's edges — shared by the convex and
    * ray-cast oracle CTEs (one source of truth with the engine dims). */
  private def edgeValues(layer: Seq[(Int, Seq[(Double, Double)])]): String =
    layer.flatMap { case (id, ring) =>
      ring.indices.map { i =>
        val (x1, y1) = ring(i)
        val (x2, y2) = ring((i + 1) % ring.length)
        s"($id, $x1, $y1, $x2, $y2)"
      }
    }.mkString(",\n    |    ").stripMargin

  val geoPolyJoinSql: String = PositionView.oracleCte + s""",
    |edges(poly_id, x1, y1, x2, y2) AS (VALUES
    |    ${edgeValues(KyivDistricts)}),
    |hit AS (
    |  SELECT p.event_id, p.vehicle_id, p.route_id, e.poly_id
    |  FROM pos p, edges e
    |  GROUP BY p.event_id, p.vehicle_id, p.route_id, e.poly_id
    |  HAVING bool_and(
    |    (e.x2 - e.x1) * (p.lat - e.y1) - (e.y2 - e.y1) * (p.lon - e.x1) >= 0))
    |SELECT poly_id, count(*) AS n, count(DISTINCT vehicle_id) AS n_vehicles,
    |  count(DISTINCT route_id) AS n_routes
    |FROM hit GROUP BY 1 ORDER BY poly_id""".stripMargin

  // ---- geo_poly_concave --------------------------------------------------

  /** NON-CONVEX polygon layer: OSM landuse ways are arbitrary simple
    * polygons (reference: open-street-map/pipeline/importer.py:158-165,
    * way geometry :268-292) — often concave, where the cross-product
    * fold is wrong. Ring 1 is a U-shape (a park wrapping a built-up
    * notch: the notch 30.35..30.45 x 50.40..50.55 is OUTSIDE); ring 2 a
    * convex quad, exercising the generic test on a convex ring too. */
  val KyivConcave: Seq[(Int, Seq[(Double, Double)])] = Seq(
    1 -> Seq((30.25, 50.32), (30.55, 50.32), (30.55, 50.55), (30.45, 50.55),
      (30.45, 50.40), (30.35, 50.40), (30.35, 50.55), (30.25, 50.55)),
    2 -> Seq((30.60, 50.35), (30.78, 50.38), (30.75, 50.55), (30.62, 50.52)))

  private[graft] def concavePolys(s: SparkSession): DataFrame = {
    import s.implicits._
    KyivConcave.toDF("poly_id", "ring")
      .select(col("poly_id"),
        transform(col("ring"),
          p => struct(p("_1").as("x"), p("_2").as("y"))).as("verts"))
  }

  /** Points ⋈ CONCAVE polygon layer via ray-crossing parity
    * (PolyJoin.containsRayCast) — same grid-cell prefilter join shape as
    * [[geoPolyJoin]], generic containment test. A point in the U's
    * notch passes the bbox prefilter but must NOT land in ring 1; the
    * oracle computes the same parity over the same edge VALUES. */
  def geoPolyConcave(s: SparkSession, dir: String): DataFrame =
    // two-level aggregate instead of countDistinct over the raw join
    // output: a multi-countDistinct plans Expand x3 (every hit row
    // tripled before the shuffle), while pre-collapsing to the distinct
    // (poly, vehicle, route) combos is a map-side-combined aggregate
    // whose shuffle carries |polys| x |vehicles| rows; the distinct
    // counts then run over that tiny frame. At 100 TB the Expand is 3x
    // the stream's hit volume — the combo collapse is bounded by key
    // cardinality instead.
    graft.operators.PolyJoin.containsJoin(
      pos(s, dir), "lat", "lon",
      concavePolys(s), "poly_id", "verts", cellDeg = CellDeg,
      convex = false)
      .groupBy("poly_id", "vehicle_id", "route_id")
      .agg(count(lit(1)).as("__n"))
      .groupBy("poly_id")
      .agg(sum("__n").as("n"),
        countDistinct("vehicle_id").as("n_vehicles"),
        countDistinct("route_id").as("n_routes"))
      .orderBy("poly_id")

  val geoPolyConcaveSql: String = PositionView.oracleCte + s""",
    |edges(poly_id, x1, y1, x2, y2) AS (VALUES
    |    ${edgeValues(KyivConcave)}),
    |hit AS (
    |  SELECT p.event_id, p.vehicle_id, p.route_id, e.poly_id
    |  FROM pos p, edges e
    |  GROUP BY p.event_id, p.vehicle_id, p.route_id, e.poly_id
    |  HAVING sum(CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
    |      AND p.lon < e.x1 + (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1)
    |    THEN 1 ELSE 0 END) % 2 = 1)
    |SELECT poly_id, count(*) AS n, count(DISTINCT vehicle_id) AS n_vehicles,
    |  count(DISTINCT route_id) AS n_routes
    |FROM hit GROUP BY 1 ORDER BY poly_id""".stripMargin

  // ---- geo_poly_area -----------------------------------------------------

  /** Per-polygon shoelace area (deg², orientation-independent — works
    * for the concave ring too) with contained-point counts and density:
    * the landuse-analytics roll-up the importer's polygon layers feed.
    * Areas/densities are rounded (9/6 dp): the shoelace folds on both
    * engines may sum edges in different orders, and rounding at ~1e9x
    * the double's ulp margin makes the hash comparison order-proof.
    * The point side reuses the ray-cast containment join. */
  def geoPolyArea(s: SparkSession, dir: String): DataFrame = {
    val areas = concavePolys(s)
      .select(col("poly_id"),
        round(graft.operators.PolyJoin.ringArea(col("verts")), 9).as("area_deg2"))
    val counts = graft.operators.PolyJoin.containsJoin(
      pos(s, dir), "lat", "lon",
      concavePolys(s), "poly_id", "verts", cellDeg = CellDeg,
      convex = false)
      .groupBy("poly_id").agg(count(lit(1)).as("n"))
    areas.join(counts, Seq("poly_id"), "left")
      .select(col("poly_id"), col("area_deg2"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("n"), lit(0L)) / col("area_deg2"), 6).as("density"))
      .orderBy("poly_id")
  }

  val geoPolyAreaSql: String = {
    val edgeRows = KyivConcave.flatMap { case (id, ring) =>
      ring.indices.map { i =>
        val (x1, y1) = ring(i)
        val (x2, y2) = ring((i + 1) % ring.length)
        s"($id, ${i + 1}, $x1, $y1, $x2, $y2)"
      }
    }.mkString(",\n    |    ").stripMargin
    PositionView.oracleCte + s""",
    |edges(poly_id, idx, x1, y1, x2, y2) AS (VALUES
    |    $edgeRows),
    |area AS (
    |  SELECT poly_id,
    |    round(abs(list_sum(list(x1 * y2 - x2 * y1 ORDER BY idx))) / 2, 9) AS area_deg2
    |  FROM edges GROUP BY poly_id),
    |hit AS (
    |  SELECT p.event_id, e.poly_id
    |  FROM pos p, edges e
    |  GROUP BY p.event_id, e.poly_id
    |  HAVING sum(CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
    |      AND p.lon < e.x1 + (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1)
    |    THEN 1 ELSE 0 END) % 2 = 1),
    |cnt AS (SELECT poly_id, count(*) AS n FROM hit GROUP BY 1)
    |SELECT a.poly_id, a.area_deg2, coalesce(c.n, 0) AS n,
    |  round(coalesce(c.n, 0) / a.area_deg2, 6) AS density
    |FROM area a LEFT JOIN cnt c USING (poly_id)
    |ORDER BY a.poly_id""".stripMargin
  }

  // ---- geo_overpass_build ------------------------------------------------

  /** Overpass QL construction for the reference's six fetch sets — the
    * fetch-side counterpart of the geo_osm_* result parsers (see
    * [[graft.operators.Overpass]] for the importer.py:16-176 mapping).
    * Data-driven: filter-spec rows in, one QL string per query set out,
    * with both string aggregations order-pinned. */
  def geoOverpassBuild(s: SparkSession, dir: String): DataFrame =
    graft.operators.Overpass.buildQueries(graft.operators.Overpass.specDf(s))

  val geoOverpassBuildSql: String = graft.operators.Overpass.oracleSql

  // ---- registry ----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_overpass_build" -> (geoOverpassBuild _),
    "geo_point_in_poly" -> (geoPointInPoly _),
    "geo_poly_join" -> (geoPolyJoin _),
    "geo_poly_concave" -> (geoPolyConcave _),
    "geo_poly_area" -> (geoPolyArea _),
    "geo_grid_density" -> (geoGridDensity _),
    "geo_nearest_signal" -> (geoNearestSignal _),
    "geo_tag_stats" -> (geoTagStats _),
    "geo_range_query" -> (geoRangeQuery _),
    "geo_osm_xml_parse" -> (geoOsmXmlParse _),
    "geo_osm_way_parse" -> (geoOsmWayParse _),
    "geo_osm_relation_parse" -> (geoOsmRelationParse _),
    "geo_geojson_roundtrip" -> (geoGeojsonRoundtrip _))

  val oracles: Map[String, String] = Map(
    "geo_overpass_build" -> geoOverpassBuildSql,
    "geo_point_in_poly" -> geoPointInPolySql,
    "geo_poly_join" -> geoPolyJoinSql,
    "geo_poly_concave" -> geoPolyConcaveSql,
    "geo_poly_area" -> geoPolyAreaSql,
    "geo_grid_density" -> geoGridDensitySql,
    "geo_nearest_signal" -> geoNearestSignalSql,
    "geo_tag_stats" -> geoTagStatsSql,
    "geo_range_query" -> geoRangeQuerySql,
    "geo_osm_xml_parse" -> geoOsmXmlParseSql,
    "geo_osm_way_parse" -> geoOsmWayParseSql,
    "geo_osm_relation_parse" -> geoOsmRelationParseSql,
    "geo_geojson_roundtrip" -> geoGeojsonRoundtripSql)
}
