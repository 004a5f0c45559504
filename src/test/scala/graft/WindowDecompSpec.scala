package graft

import graft.operators.{Poller, SpeedOps, TimeBuckets}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The (key, time-bucket) carry-in decomposition must be ROW-IDENTICAL
  * to the single-window plans for every bucket count. The fixture is
  * adversarial on seams: duplicate timestamps (tie-break on event_id),
  * one hot key carrying most rows (the zipf shape the decomposition
  * exists for), keys with a single row, gaps straddling bucket
  * boundaries, and B far above the distinct-time count (empty buckets
  * → carry-through). */
class WindowDecompSpec extends SparkSpec {
  import spark.implicits._

  private val Buckets = Seq(2, 3, 7, 64)

  /** ~400 rows, 5 keys, key 1 hot (60%), times clustered so that gap
    * sessions form; duplicate ts pairs every 7th row. */
  private def posFixture(): DataFrame = {
    val rng = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      val key = if (rng.nextDouble() < 0.6) 1L else 2L + rng.nextInt(4)
      // bursts separated by occasional large gaps → real sessions
      val ts = i * 40L + (if (rng.nextDouble() < 0.08) 5000L else 0L) +
        (if (i % 7 == 0) 0L else rng.nextInt(30))
      (i.toLong, key, ts * 1000000L, ts.toDouble,
        50.3 + rng.nextInt(3000) / 1e4, 30.2 + rng.nextInt(6000) / 1e4)
    } ++ Seq((900L, 9L, 1000000L, 1.0, 50.31, 30.21)) // single-row key
    rows.toDF("event_id", "vehicle_id", "ts_us", "ts_s", "lat", "lon")
  }

  private def pollFixture(): DataFrame = {
    val rng = new scala.util.Random(7)
    (1 to 500).map { i =>
      val client = if (rng.nextDouble() < 0.5) 1L else 2L + rng.nextInt(3)
      val outcome = rng.nextInt(10) match {
        case 0 | 1 | 2 => "fail"
        case 3 => "http_403"
        case 4 => "http_502"
        case _ => "ok"
      }
      (i.toLong, client, i * 1000000L + (i % 5) * 3L, outcome)
    }.toDF("event_id", "client_id", "ts_us", "outcome")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("speeds: bucketed path row-identical to single window, B=2..64") {
    val pos = posFixture()
    val single = sortedRows(SpeedOps.speeds(pos, maxGapSeconds = 600.0,
      maxSpeedKmh = 1e9, buckets = 1))
    assert(single.nonEmpty)
    Buckets.foreach { b =>
      val out = sortedRows(SpeedOps.speeds(pos, maxGapSeconds = 600.0,
        maxSpeedKmh = 1e9, buckets = b))
      assert(out === single, s"buckets=$b diverged")
    }
  }

  test("sessionize: bucketed path row-identical to single window, B=2..64") {
    val pos = posFixture()
    val single = sortedRows(SpeedOps.sessionize(pos, "vehicle_id", 120.0,
      buckets = 1))
    assert(single.nonEmpty)
    Buckets.foreach { b =>
      val out = sortedRows(SpeedOps.sessionize(pos, "vehicle_id", 120.0,
        buckets = b))
      assert(out === single, s"buckets=$b diverged")
    }
  }

  test("lifecycle: bucketed path row-identical to single window, B=2..64") {
    val ev = pollFixture()
    val single = sortedRows(Poller.lifecycle(ev, buckets = 1))
    assert(single.nonEmpty)
    Buckets.foreach { b =>
      val out = sortedRows(Poller.lifecycle(ev, buckets = b))
      assert(out === single, s"buckets=$b diverged")
    }
  }

  test("poller stats: bucketed path row-identical to single window, B=2..64") {
    val ev = pollFixture()
    val single = sortedRows(Poller.stats(ev, buckets = 1))
    assert(single.nonEmpty)
    Buckets.foreach { b =>
      val out = sortedRows(Poller.stats(ev, buckets = b))
      assert(out === single, s"buckets=$b diverged")
    }
  }

  test("lag1 over (tsCol, tieCol) themselves: bucketed identical, B=2..64") {
    // the slim ta_speed_lag shape — the lagged columns ARE the order
    // columns; exercises carry-struct fields sharing names with keys
    val pos = posFixture().select("event_id", "vehicle_id", "ts_us")
    val single = sortedRows(TimeBuckets.lag1(pos, "vehicle_id", "ts_us",
      "event_id", Seq("event_id", "ts_us"), buckets = 1))
    assert(single.nonEmpty)
    Buckets.foreach { b =>
      val out = sortedRows(TimeBuckets.lag1(pos, "vehicle_id", "ts_us",
        "event_id", Seq("event_id", "ts_us"), buckets = b))
      assert(out === single, s"buckets=$b diverged")
    }
  }

  test("lag1 with NULL lag values mid-bucket: bucketed identical, B=2..64") {
    // a legitimately-null lagged VALUE must lag through as null — the
    // pre-r18 per-column coalesce substituted the cross-bucket carry
    // for it, diverging from the single window (caught by review; this
    // fixture nulls a value column on every 3rd row so nulls land both
    // mid-bucket and on bucket seams)
    val pos = posFixture()
      .withColumn("v", when(col("event_id") % 3 === 0, lit(null))
        .otherwise(col("ts_s")))
      .select("event_id", "vehicle_id", "ts_us", "v")
    val single = sortedRows(TimeBuckets.lag1(pos, "vehicle_id", "ts_us",
      "event_id", Seq("v"), buckets = 1))
    assert(single.exists(_.contains("null")), "fixture must carry null lags")
    Buckets.foreach { b =>
      val out = sortedRows(TimeBuckets.lag1(pos, "vehicle_id", "ts_us",
        "event_id", Seq("v"), buckets = b))
      assert(out === single, s"buckets=$b diverged on null lag values")
    }
  }

  test("sessionize: column order and schema unchanged by the bucketed path") {
    val pos = posFixture()
    assert(SpeedOps.sessionize(pos, "vehicle_id", 120.0, buckets = 4)
      .columns.toSeq === (pos.columns.toSeq :+ "session_seq"))
    assert(SpeedOps.speeds(pos, maxGapSeconds = 600.0, maxSpeedKmh = 1e9,
      buckets = 4).columns.toSeq ===
      (pos.columns.toSeq ++ Seq("prev_lat", "prev_lon", "prev_ts_s",
        "dt_s", "dist_km", "speed_kmh")))
  }

  test("bucketCount: small inputs stay single-window; forced counts win") {
    val pos = posFixture()
    assert(TimeBuckets.bucketCount(pos, 0) === 1) // tiny estimate
    assert(TimeBuckets.bucketCount(pos, 5) === 5)
  }

  test("width-aware estimate: engagement tracks rows, not bytes") {
    // slim (two longs) and wide (same rows + doubles + a string) frames
    // with IDENTICAL row counts must derive ~equal row estimates and the
    // SAME bucket count — the byte estimate alone differs by the width
    // ratio, which is exactly the mis-engagement the rows conversion
    // removes (a hot key's sequential window cost is per-row)
    def frames(n: Long) = {
      val r = spark.range(n)
      (r.select(col("id").as("k"), col("id").as("ts_us")),
        r.select(col("id").as("k"), col("id").as("ts_us"),
          (col("id") * 1.5).as("d1"), (col("id") * 2.5).as("d2"),
          concat(lit("payload-"), col("id")).as("s1")))
    }
    val (slim, wide) = frames(512)
    val slimRows = TimeBuckets.estimatedRows(slim)
    val wideRows = TimeBuckets.estimatedRows(wide)
    // same row count → row estimates within a small factor (string
    // default size vs actual lengths is the slack), NOT the ~3x the
    // byte estimates differ by
    val slimBytes = slim.queryExecution.optimizedPlan.stats.sizeInBytes
    val wideBytes = wide.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(wideBytes > slimBytes * 2, "fixture must differ in width")
    assert((slimRows - wideRows).abs * 4 <= slimRows.max(wideRows),
      s"row estimates diverged: slim=$slimRows wide=$wideRows")
    // past the default rows target both widths engage IDENTICALLY; the
    // frames are only planned, never run, so their size is free
    val (bigSlim, bigWide) = frames(16 * TimeBuckets.DefaultBucketRows)
    val bs = TimeBuckets.bucketCount(bigSlim, 0)
    val bw = TimeBuckets.bucketCount(bigWide, 0)
    assert(bs > 1, "an estimate past the rows target must engage the hatch")
    assert(bs === bw, s"widths engaged differently: slim=$bs wide=$bw")
  }

  test("withBucket: degenerate bounds collapse to one bucket") {
    val one = Seq((1L, 1L, 1000000L, 1.0)).toDF("event_id", "vehicle_id", "ts_us", "ts_s")
    val out = TimeBuckets.withBucket(one, "ts_us", 8)
    assert(out.select("__tb").as[Int].collect().toSeq === Seq(0))
  }
}
