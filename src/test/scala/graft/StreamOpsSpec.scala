package graft

import graft.streaming.{SessEvent, StatefulSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  test("stateful sessionizer carries state ACROSS micro-batches") {
    // two files, processed one per trigger: user 1's events continue in
    // file B within the gap -> same session; then a gap -> new session
    val dir = Files.createTempDirectory("graft-sess-").toFile
    val sink = "sess_x_batches"
    Seq((1L, 1L, 0L), (2L, 1L, 10_000_000L))
      .toDF("event_id", "user_id", "ts_us")
      .coalesce(1).write.parquet(s"$dir/in/a.parquet")
    Seq((3L, 1L, 20_000_000L), (4L, 1L, 900_000_000L))
      .toDF("event_id", "user_id", "ts_us")
      .coalesce(1).write.parquet(s"$dir/in/b.parquet")
    val in = spark.readStream
      .schema("event_id LONG, user_id LONG, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/*/")
    val q = StatefulSession.assign(in.as[SessEvent], gapUs = 300_000_000L)
      .toDF()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table(sink)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    // events 1-3 within 300s gaps -> session 1 even across the file
    // boundary; event 4 is 880s after event 3 -> session 2
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("session_window merges within the gap and splits across it") {
    val dir = Files.createTempDirectory("graft-sw-").toFile
    val min30ns = 30L * 60 * 1_000_000_000L
    // user 1: two events 10 min apart (one session), then one 2 h later
    // (new session); user 2: a single event
    Seq(
      (1L, 0L, 1L), (2L, min30ns / 3, 1L),
      (3L, min30ns * 5, 1L), (4L, 0L, 2L))
      .toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .coalesce(1).write.parquet(s"$dir/in/events.parquet")
    val out = graft.streaming.StreamOps
      .runToMemory(spark, ss => graft.streaming.StreamOps.sessionCounts(
        ss.readStream.schema(graft.streaming.StreamOps.EventsSchema)
          .parquet(s"$dir/in/events.parquet"), "30 minutes"),
        "sw_probe_sink", "complete")
      .select(col("user_id"), col("n_events"),
        (col("session_window.end").cast("long") -
          col("session_window.start").cast("long")).as("len_s"))
      .as[(Long, Long, Long)].collect().toSet
    // session length = span of events + the 30 min gap tail
    assert(out === Set(
      (1L, 2L, 600L + 1800L), // 10 min span + gap
      (1L, 1L, 1800L),        // lone event: gap-length session
      (2L, 1L, 1800L)))
  }

  test("JSONL envelope parse under the streaming engine equals the batch parse") {
    val streamed = graft.queries.MiscQueries
      .stPositionsParse(spark, "/root/testdata/sf0.001")
      .collect().toSeq
    val batch = graft.queries.IngestQueries
      .ingJsonlPositions(spark, "/root/testdata/sf0.001")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("windowed counts against batch equivalent on a replay") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val expected = events
      .groupBy(date_trunc("hour", timestamp_micros(expr("ts div 1000"))).as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    val streamed = graft.streaming.StreamOps.runToMemory(spark,
      ss => graft.streaming.StreamOps.windowedCounts(
        graft.streaming.StreamOps.eventsStream(ss, "/root/testdata/sf0.001")),
      "wc_spec_sink", "complete")
      .select(col("window.start").as("h"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    assert(streamed === expected)
  }

  test("append+state-read session final equals the complete-mode replay") {
    // the unbounded-feed shape (each session flushed once by the
    // watermark, open tail read from the state store) must be
    // row-identical to the complete-mode emission — including the
    // OPEN sessions, which only the state read can supply
    val sf = "/root/testdata/sf0.001"
    val complete = graft.queries.MiscQueries.stSessionWindow(spark, sf)
      .as[(Long, java.time.LocalDateTime, java.time.LocalDateTime, Long)]
      .collect().toSeq
    val fin = graft.queries.MiscQueries.stSessionFinal(spark, sf)
      .as[(Long, java.time.LocalDateTime, java.time.LocalDateTime, Long)]
      .collect().toSeq
    assert(complete.nonEmpty)
    assert(fin === complete)
  }

  test("append+state-read session final is batch-boundary independent") {
    // the SAME backlog drained in 4 time-ranged micro-batches must
    // produce the identical flushed ∪ open set: sessions spanning a
    // batch boundary merge in state, sessions closed by the advancing
    // watermark flush mid-replay instead of at the end — the shape an
    // unbounded feed actually runs
    import graft.streaming.StreamOps
    val sf = "/root/testdata/sf0.001"
    def proj(open: DataFrame): DataFrame = open.select(
      col("value.user_id").as("user_id"),
      col("value.session_window").as("session_window"),
      col("value.count").as("n_events"))
    def shape(df: DataFrame) = df
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("sess_start"),
        col("session_window.end").cast("timestamp_ntz").as("sess_end"),
        col("n_events"))
      .orderBy("user_id", "sess_start")
      .as[(Long, java.time.LocalDateTime, java.time.LocalDateTime, Long)]
      .collect().toSeq
    val oneBatch = shape(StreamOps.runToParquetWithState(spark,
      ss => StreamOps.sessionCounts(
        StreamOps.eventsStreamWide(ss, sf, StreamOps.wideReplayFiles(spark)),
        "30 minutes"),
      "spec_sess_final_1b", proj))
    val fourBatches = shape(StreamOps.runToParquetWithState(spark,
      ss => StreamOps.sessionCounts(
        StreamOps.eventsStreamSlicedWide(ss, sf, 4, 1), "30 minutes"),
      "spec_sess_final_4b", proj))
    assert(oneBatch.nonEmpty)
    assert(fourBatches === oneBatch)
  }

  test("streaming incremental dedup equals batch exact dedup, any slicing") {
    import graft.streaming.StreamOps
    val sf = "/root/testdata/sf0.001"
    val batch = graft.queries.DedupQueries.ddExact(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    // registered shape: 4 doc-id-ranged batches through the update
    // delta sink (several fingerprints get updated across batches)
    val streamed = graft.queries.MiscQueries.stIncrementalDedup(spark, sf)
      .select("fp", "n_docs", "keep_id")
      .as[(String, Long, Long)].collect().toSeq
    // degenerate slicing: the whole corpus in ONE batch must merge to
    // the identical keep-list (batch-boundary independence)
    val oneSlice = StreamOps.runUpdateDeltas(spark,
      ss => StreamOps.documentsStreamSliced(ss, sf, 1)
        .groupBy(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id")),
      "spec_incr_1b", Seq("fp"))
      .orderBy("fp")
      .as[(String, Long, Long)].collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed === batch)
    assert(oneSlice === batch)
  }

  test("streaming ANN serving equals the batch brute-force top-k") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.queries.SimilarityQueries.ssBruteTopK(spark, sf)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val served = graft.queries.SimilarityQueries.stAnnServe(spark, sf)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(batch.nonEmpty)
    assert(served === batch)
  }

  test("streaming LM serving equals the batch perplexity scoring") {
    // tx_lm_serve scores arriving eval docs against count tables staged
    // once; a doc's score depends only on the static counts, so the
    // drained union must equal batch tx_lm_perplexity exactly
    val sf = "/root/testdata/sf0.001"
    val batch = graft.queries.TextQueries.txLmPerplexity(spark, sf)
      .select("doc_id", "n_bigrams", "avg_nll", "ppl")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val served = graft.queries.TextQueries.txLmServe(spark, sf)
      .select("doc_id", "n_bigrams", "avg_nll", "ppl")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(batch.nonEmpty)
    assert(served === batch)
  }

  test("stream-stream interval join equals the batch interval join") {
    val sf = "/root/testdata/sf0.001"
    val tsUs = graft.sources.PositionView.TsUsSql
    val ev = Tables.events(spark, sf)
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", expr(tsUs).as("cts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("pu"), expr(tsUs).as("pts"))
    val expected = c.join(p, $"user_id" === $"pu" &&
        $"pts" > $"cts" && $"pts" <= $"cts" + 3600000000L)
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty) // 5 pairs planted at this SF
    val streamed = graft.queries.MiscQueries.stStreamJoin(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === expected)
  }

  test("streaming as-of serving equals the batch as-of enrichment") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.queries.TrafficQueries.queries("ta_asof_weather")(spark, sf)
      .select("event_id", "w_temp")
      .as[(Long, Option[Double])].collect().sorted.toSeq
    val served = graft.queries.TrafficQueries.queries("st_asof_serve")(spark, sf)
      .select("event_id", "w_temp")
      .as[(Long, Option[Double])].collect().sorted.toSeq
    assert(batch.nonEmpty)
    assert(served === batch)
  }

  test("bucketed interval join hits every window-edge and bucket-edge pair") {
    // the time-bucketed join key (intervalJoin's range-join binning)
    // must not lose pairs at its seams: matches exactly AT the window
    // bound, matches crossing a bucket boundary, and near-misses just
    // outside the window on either side
    import graft.streaming.StreamOps
    val H = 3600L * 1000000L // 1 h in µs
    def ns(us: Long): Long = us * 1000L
    val rows = Seq(
      // (event_id, user_id, event_type, ts_ns)
      (1L, 1L, "click", ns(100L)),          // bucket 0
      (10L, 1L, "purchase", ns(100L)),      // == click ts -> excluded (strict >)
      (11L, 1L, "purchase", ns(100L + H)),  // exactly +1h -> included (<=), bucket 1
      (12L, 1L, "purchase", ns(101L + H)),  // +1h +1µs -> excluded
      (2L, 1L, "click", ns(H - 50L)),       // bucket 0, near bucket edge
      (13L, 1L, "purchase", ns(H + 50L)),   // bucket 1, within 1h of click 2
      (3L, 1L, "click", ns(H + 10L)),       // bucket 1
      (14L, 1L, "purchase", ns(H + 200L)),  // bucket 1, same-bucket match for 3 (and 2)
      (4L, 2L, "click", ns(H - 50L)),       // other user: no cross-user pairs
      (15L, 3L, "purchase", ns(H + 50L)))
    val dir = Files.createTempDirectory("graft-ij-").toFile
    rows.toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, ts LONG")
      .parquet(s"$dir/in")
      .withColumn("value", lit(0.0)).withColumn("props", lit(""))
    val ckpt = Files.createTempDirectory("graft-ij-ck-")
    val q = StreamOps.intervalJoin(stream, "click", "purchase", "1 hour")
      .select($"user_id", $"left_id".as("click_id"), $"right_id".as("purchase_id"))
      .writeStream.format("memory").queryName("ij_edges")
      .outputMode("append").option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ij_edges")
      .as[(Long, Long, Long)].collect().toSet
    val expected = for {
      (cid, cu, ct, cts) <- rows if ct == "click"
      (pid, pu, pt, pts) <- rows
      if pt == "purchase" && pu == cu &&
        pts / 1000L > cts / 1000L && pts / 1000L <= cts / 1000L + H
    } yield (cu, cid, pid)
    val exp = expected.toSet
    // the seams the fixture plants: exactly-at-window-bound included,
    // bucket-boundary-crossing included, strict-> and just-outside excluded
    assert(exp.contains((1L, 1L, 11L)), "match exactly AT +window must survive")
    assert(exp.contains((1L, 2L, 13L)), "bucket-crossing match must survive")
    assert(!exp.contains((1L, 1L, 10L)), "equal-ts pair is excluded (strict >)")
    assert(!exp.contains((1L, 1L, 12L)), "+window+1µs pair is excluded")
    assert(!exp.exists(_._1 == 2L), "no cross-user pairs")
    assert(got === exp)
  }
}
