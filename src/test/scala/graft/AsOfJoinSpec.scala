package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, lit}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def left(rows: (Long, String, Long)*) =
    rows.toDF("id", "k", "t")
  private def right(rows: (String, Long, Double)*) =
    rows.toDF("k", "t", "v")

  private def asOf(l: DataFrame, r: DataFrame, valueCols: Seq[String] = Seq("v")) =
    AsOfJoin.backwardBroadcast(l, r, Seq("k"), "t", valueCols)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().toSeq.map(_.toSeq)

  private def timeKey(v: Any): Long = v match {
    case t: Long => t
    case t: java.time.LocalDateTime =>
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
  }

  /** Plain-Scala backward as-of over the collected rows, independent of
    * Spark's joins and windows: each left row (ordered by `id`) followed
    * by the `valueCols` of the series row with the greatest time <= its
    * time under an equal non-null key `k`, or nulls when there is none. */
  private def bruteAsOf(l: DataFrame, r: DataFrame,
                        valueCols: Seq[String] = Seq("v")): Seq[Seq[Any]] = {
    val series = r.collect().toSeq
    l.collect().toSeq.sortBy(_.getAs[Long]("id")).map { row =>
      val (k, t) = (row.getAs[Any]("k"), row.getAs[Any]("t"))
      val hit =
        if (k == null || t == null) None
        else series
          .filter(s => s.getAs[Any]("k") == k && timeKey(s.getAs[Any]("t")) <= timeKey(t))
          .maxByOption(s => timeKey(s.getAs[Any]("t")))
      row.toSeq ++ valueCols.map(c => hit.map(_.getAs[Any](c)).orNull)
    }
  }

  test("backward attaches the most recent right value at or before t") {
    val l = left((1L, "a", 5L), (2L, "a", 10L), (3L, "a", 20L))
    val r = right(("a", 5L, 1.0), ("a", 15L, 2.0))
    val out = asOf(l, r).select("id", "v").as[(Long, Double)].collect().toMap
    // t=5 sees the right row AT 5 (inclusive), t=10 still 1.0, t=20 -> 2.0
    assert(out === Map(1L -> 1.0, 2L -> 1.0, 3L -> 2.0))
    assert(rows(asOf(l, r)) === bruteAsOf(l, r))
  }

  test("backward yields null before the first right row, per key") {
    val l = left((1L, "a", 1L), (2L, "b", 100L))
    val r = right(("a", 50L, 9.0))
    val out = asOf(l, r).select("id", "v").collect()
      .map(row => row.getLong(0) -> (if (row.isNullAt(1)) None else Some(row.getDouble(1))))
      .toMap
    assert(out === Map(1L -> None, 2L -> None)) // b has no series at all
    assert(rows(asOf(l, r)) === bruteAsOf(l, r))
  }

  test("backward on empty left returns empty with left schema") {
    val l = left()
    val r = right(("a", 1L, 1.0))
    val out = asOf(l, r)
    assert(out.count() === 0)
    assert(out.schema.map(f => f.name -> f.dataType) ===
      (l.schema.fields :+ r.schema("v")).toSeq.map(f => f.name -> f.dataType))
  }

  test("backward never tears value columns across different right rows") {
    // right at t=2 has v1=NULL: a per-column fill would pair v1 from t=1
    // with v2 from t=2 — a row that never existed. Checked through the
    // serving composition: pack the series once, probe a batch
    val l = Seq((1L, "a", 3L)).toDF("id", "k", "t")
    val r = Seq(("a", 1L, Some(5.0), Some(3.0)), ("a", 2L, None, Some(7.0)))
      .toDF("k", "t", "v1", "v2")
    val packed = AsOfJoin.packSeries(r, Seq("k"), "t", Seq("v1", "v2"))
    val out = AsOfJoin.probePacked(l, packed, Seq("k"), "t", Seq("v1", "v2"))
    val row = out.select("v1", "v2").collect().head
    assert(row.isNullAt(0) && row.getDouble(1) === 7.0)
    assert(rows(out) === bruteAsOf(l, r, Seq("v1", "v2")))
  }

  test("backward rejects valueCols colliding with left columns") {
    val l = left((1L, "a", 1L)).withColumnRenamed("id", "v")
    val r = right(("a", 1L, 1.0))
    intercept[IllegalArgumentException] {
      asOf(l, r)
    }
    // the serving path checks too: the guard lives in the probe
    val packed = AsOfJoin.packSeries(r, Seq("k"), "t", Seq("v"))
    intercept[IllegalArgumentException] {
      AsOfJoin.probePacked(l, packed, Seq("k"), "t", Seq("v"))
    }
  }

  test("probePacked rejects left columns named like its internals") {
    // unguarded, a left __asof would be silently replaced by the payload
    // struct, and a left __ts/__ps would be ambiguous after the join
    val packed = AsOfJoin.packSeries(right(("a", 1L, 1.0)), Seq("k"), "t", Seq("v"))
    for (name <- Seq("__ts", "__ps", "__asof")) {
      val l = left((1L, "a", 1L)).withColumn(name, lit(0L))
      val e = intercept[IllegalArgumentException] {
        AsOfJoin.probePacked(l, packed, Seq("k"), "t", Seq("v"))
      }
      assert(e.getMessage.contains(name))
    }
  }

  test("backwardBroadcast refuses time columns on different epoch scales") {
    // each side normalizes its own time to a long: days against micros
    // (or a raw long against either) would compare silently wrong
    val r = right(("a", 1L, 1.0))
      .withColumn("t", expr("timestampadd(HOUR, CAST(t AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00')"))
    val days = left((1L, "a", 1L))
      .withColumn("t", expr("date_add(DATE '2024-01-01', CAST(t AS INT))"))
    for (l <- Seq(days, left((1L, "a", 1L)))) {
      val e = intercept[IllegalArgumentException] {
        asOf(l, r)
      }
      assert(e.getMessage.contains("epoch-scale mismatch"))
    }
  }

  test("backwardBroadcast matches a brute-force as-of (long times)") {
    // inclusive-at-equal-time, reach-back across gaps, before-first-series
    // nulls, a key with no series at all, a null left key, a null left
    // time, and a null-key series row that must never match
    val l = left((1L to 40L).map(i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", i * 7 % 45)): _*)
      .unionByName(Seq[(Long, String, Option[Long])]((98L, "a", None), (99L, null, Some(10L)))
        .toDF("id", "k", "t"))
    val r = right(Seq(5L, 11L, 17L, 23L).map(t => ("a", t, t * 1.0)) ++
      Seq(2L, 19L, 33L).map(t => ("b", t, t * 10.0)) :+ ((null: String, 1L, -1.0)): _*)
    val expected = bruteAsOf(l, r)
    assert(expected.exists(_.last == null) && expected.exists(_.last != null))
    assert(rows(asOf(l, r)) === expected)
  }

  test("backwardBroadcast is row-identical on timestamp_ntz times (ta_asof's shape)") {
    val l = left((1L to 30L).map(i => (i, "a", i * 5 % 37)): _*)
      .withColumn("t", expr("timestampadd(HOUR, CAST(t AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00')"))
    val r = right(Seq(3L, 12L, 25L).map(t => ("a", t, t * 1.0)): _*)
      .withColumn("t", expr("timestampadd(HOUR, CAST(t AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00')"))
    assert(rows(asOf(l, r)) === bruteAsOf(l, r))
    // the probe side must carry no exchange of the left: broadcast join
    val plan = asOf(l, r).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"expected a broadcast join in:\n$plan")
  }

  test("backwardBroadcast never tears value columns across right rows") {
    val l = Seq((1L, "a", 3L)).toDF("id", "k", "t")
    val r = Seq(("a", 1L, Some(5.0), Some(3.0)), ("a", 2L, None, Some(7.0)))
      .toDF("k", "t", "v1", "v2")
    val out = asOf(l, r, Seq("v1", "v2")).select("v1", "v2").collect().head
    assert(out.isNullAt(0) && out.getDouble(1) === 7.0)
  }
}
