package graft

import graft.functions.GeoFunctions
import org.apache.spark.sql.functions._

class GeoFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("haversine: zero distance, known distance, antipodal stays finite") {
    val df = Seq(
      (1L, 50.45, 30.52, 50.45, 30.52),   // same point
      (2L, 50.4501, 30.52, 50.45, 30.52), // ~11 m due north
      (3L, 50.0, 30.0, -50.0, -150.0),    // antipodal: clamp must hold
      (4L, 50.45 + 4.4 / 111.1949, 30.52, 50.45, 30.52)) // 4.4 km due north
      .toDF("id", "a", "b", "c", "d")
    val out = df.select(col("id"),
      GeoFunctions.haversineKm(col("a"), col("b"), col("c"), col("d")).as("km"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) === 0.0)
    assert(math.abs(out(2L) - 0.0111) < 0.001)
    assert(!out(3L).isNaN && math.abs(out(3L) - math.Pi * 6371.0) < 1.0)
    // pure latitude separation passes geo_range_query's 5 km cut
    assert(math.abs(out(4L) - 4.4) < 0.001 && out(4L) < 5.0)
  }

  test("bounds are inclusive and regions nest kyiv < ukraine < other") {
    val df = Seq(
      (1L, 50.3, 30.2),   // exact kyiv corner -> kyiv (inclusive)
      (2L, 50.7, 30.5),   // north of kyiv box, inside ukraine
      (3L, 37.0, 38.0),   // first named region
      (4L, 10.0, 10.0))   // none
      .toDF("id", "lat", "lon")
    val out = df.select(col("id"),
      GeoFunctions.regionCategoryNamed(col("lat"), col("lon")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "kyiv", 2L -> "ukraine", 3L -> "Turkey/Syria",
      4L -> "Unknown region"))
  }

  test("grid cells floor correctly across the origin") {
    val df = Seq((30.2, 50.3), (30.19, 50.29), (30.25, 50.35))
      .toDF("lon", "lat")
    val out = df.select(
      GeoFunctions.gridX(col("lon"), 30.2, 0.05).as("gx"),
      GeoFunctions.gridY(col("lat"), 50.3, 0.05).as("gy"))
      .as[(Int, Int)].collect().toSeq
    assert(out === Seq((0, 0), (-1, -1), (1, 1)))
  }
}
