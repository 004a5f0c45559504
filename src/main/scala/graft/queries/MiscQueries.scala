package graft.queries

import graft.Tables
import graft.operators.Multimodal
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal, streaming, and approximate-aggregate blocks (SURVEY §2
  * tail sections).
  *
  * Multimodal payloads are the documents' UTF-8 bytes (pure ASCII, so
  * the DuckDB oracle can hash the text directly while Spark operates on
  * real binary). Streaming queries replay the events parquet through
  * the file stream source; queries whose output grows with the feed
  * land in a distributed parquet sink (StreamOps.runToParquet), while
  * bounded-group aggregations may keep the driver memory sink — the
  * sink-discipline lint in RegistryPlanLintSpec enforces the split.
  * Oracles are the batch equivalents.
  */
object MiscQueries {

  // ---- mm_meta_extract ---------------------------------------------------

  /** (doc_id, payload) spread across the session parallelism before the
    * per-row digest stages (single-split source otherwise). */
  private def payloads(s: SparkSession, dir: String): DataFrame =
    graft.operators.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload")))

  def mmMetaExtract(s: SparkSession, dir: String): DataFrame =
    Multimodal.metaExtract(payloads(s, dir), "doc_id", "payload")
      .orderBy("doc_id")

  val mmMetaExtractSql: String = """
    |SELECT doc_id,
    |  octet_length(encode(text)) AS byte_len,
    |  sha256(text) AS sha256,
    |  lower(hex(encode(substring(text, 1, 4)))) AS magic
    |FROM documents ORDER BY doc_id""".stripMargin

  // ---- mm_frame_sample ---------------------------------------------------

  val FrameBytes = 16
  val FrameStride = 4

  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(payloads(s, dir),
      "doc_id", "payload", FrameBytes, FrameStride)
      .orderBy("doc_id", "frame_idx")

  val mmFrameSampleSql: String = """
    |WITH f AS (
    |  SELECT doc_id, i AS frame_idx,
    |    md5(substring(text, CAST(i * 16 + 1 AS INT), 16)) AS frame_md5
    |  FROM documents,
    |    LATERAL (SELECT unnest(range(0, length(text) // 16)) AS i) u
    |  WHERE i % 4 = 0)
    |SELECT doc_id, frame_idx, frame_md5 FROM f
    |ORDER BY doc_id, frame_idx""".stripMargin

  // ---- mm_resize_plan ----------------------------------------------------

  /** Aspect-preserving resize + tile-batch geometry for synthetic image
    * dims (derived from doc_id with engine-identical integer
    * arithmetic); fits the long side to 224 and counts 16px tiles —
    * the batch shape a vision encoder consumes. All floor math, fully
    * SQL-checkable. */
  def mmResizePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(
      graft.operators.Par.spread(Tables.documents(s, dir).select(col("doc_id")))
        .withColumn("w", (col("doc_id") * 7 % 1280 + 640).cast("long"))
        .withColumn("h", (col("doc_id") * 13 % 800 + 360).cast("long")),
      "doc_id", "w", "h", target = 224, tile = 16)
      .orderBy("doc_id")

  val mmResizePlanSql: String = """
    |WITH d AS (
    |  SELECT doc_id,
    |    CAST(doc_id * 7 % 1280 + 640 AS BIGINT) AS w,
    |    CAST(doc_id * 13 % 800 + 360 AS BIGINT) AS h
    |  FROM documents),
    |r AS (
    |  SELECT doc_id, w, h,
    |    (w * 224) // greatest(w, h) AS new_w,
    |    (h * 224) // greatest(w, h) AS new_h
    |  FROM d)
    |SELECT doc_id, w, h, new_w, new_h,
    |  ((new_w + 15) // 16) * ((new_h + 15) // 16) AS n_tiles
    |FROM r ORDER BY doc_id""".stripMargin

  // ---- mm_header_decode ----------------------------------------------------

  /** REAL container-header decode (plans/ImageHeader): PNG IHDR and
    * JPEG SOF width/height extraction over headers SYNTHESIZED in-plan
    * from doc_id — byte plumbing the engine owns outright, distinct
    * from the pixel-decode stub. Even ids become PNGs, odd ids JPEGs
    * whose SOF sits behind a VARIABLE-length COM segment (doc_id-sized
    * payload), so the decoder's marker walk and length-skip are
    * genuinely exercised. The oracle builds the identical blob with
    * DuckDB byte functions and parses it back independently (hex-image
    * slicing + the same COM length-skip arithmetic) — a hash match
    * means the decode inverts real bytes, not that two copies of one
    * formula agree. */
  def mmHeaderDecode(s: SparkSession, dir: String): DataFrame = {
    def be(c: org.apache.spark.sql.Column, bytes: Int) =
      unhex(lpad(hex(c), bytes * 2, "0"))
    val dims = graft.operators.Par.spread(
        Tables.documents(s, dir).select(col("doc_id")))
      .withColumn("w", (col("doc_id") % 1800 + 100).cast("long"))
      .withColumn("h", (col("doc_id") * 3 % 1200 + 80).cast("long"))
      .withColumn("pad", (col("doc_id") % 7 + 2).cast("long"))
    val png = concat(
      unhex(lit("89504E470D0A1A0A")),         // signature
      be(lit(13), 4), lit("IHDR").cast("binary"),
      be(col("w"), 4), be(col("h"), 4),
      unhex(lit("0806000000")))               // depth/color/CRC filler
    val jpeg = concat(
      unhex(lit("FFD8FFFE")),                 // SOI + COM marker
      be(col("pad") + 2, 2),                  // segment length (self-inclusive)
      expr("cast(repeat('A', pad) as binary)"),
      unhex(lit("FFC00011")),                 // SOF0, len 17
      unhex(lit("08")), be(col("h"), 2), be(col("w"), 2),
      unhex(lit("03011100021101031101")),     // 3 components
      unhex(lit("FFD9")))                     // EOI
    val img = when(col("doc_id") % 2 === 0, png).otherwise(jpeg)
    dims.select(col("doc_id"),
        graft.plans.ImageHeaderDecode(img).as("__hdr"))
      .select(col("doc_id"), col("__hdr.fmt").as("fmt"),
        col("__hdr.width").as("width"), col("__hdr.height").as("height"))
      .orderBy("doc_id")
  }

  val mmHeaderDecodeSql: String = """
    |WITH d AS (
    |  SELECT doc_id,
    |    CAST(doc_id % 1800 + 100 AS BIGINT) AS w,
    |    CAST(doc_id * 3 % 1200 + 80 AS BIGINT) AS h,
    |    CAST(doc_id % 7 + 2 AS BIGINT) AS pad
    |  FROM documents),
    |b AS (
    |  SELECT doc_id,
    |    CASE WHEN doc_id % 2 = 0 THEN
    |      unhex('89504E470D0A1A0A') || unhex(lpad(hex(13),8,'0'))
    |        || encode('IHDR') || unhex(lpad(hex(w),8,'0'))
    |        || unhex(lpad(hex(h),8,'0')) || unhex('0806000000')
    |    ELSE
    |      unhex('FFD8FFFE') || unhex(lpad(hex(pad+2),4,'0'))
    |        || encode(repeat('A', CAST(pad AS INT)))
    |        || unhex('FFC00011') || unhex('08')
    |        || unhex(lpad(hex(h),4,'0')) || unhex(lpad(hex(w),4,'0'))
    |        || unhex('03011100021101031101') || unhex('FFD9')
    |    END AS img
    |  FROM d),
    |p AS (SELECT doc_id, hex(img) AS hx FROM b),
    |dec AS (
    |  SELECT doc_id, hx,
    |    CASE WHEN substr(hx,1,16) = '89504E470D0A1A0A'
    |           AND substr(hx,25,8) = '49484452' THEN 'png'
    |         WHEN substr(hx,1,4) = 'FFD8' THEN 'jpeg'
    |         ELSE 'unknown' END AS fmt,
    |    ('0x' || substr(hx,9,4))::BIGINT AS seglen
    |  FROM p)
    |SELECT doc_id, fmt,
    |  CASE fmt WHEN 'png'  THEN ('0x' || substr(hx,33,8))::BIGINT
    |           WHEN 'jpeg' THEN ('0x' || substr(hx, 2*(11+seglen)+1, 4))::BIGINT
    |  END AS width,
    |  CASE fmt WHEN 'png'  THEN ('0x' || substr(hx,41,8))::BIGINT
    |           WHEN 'jpeg' THEN ('0x' || substr(hx, 2*(9+seglen)+1, 4))::BIGINT
    |  END AS height
    |FROM dec ORDER BY doc_id""".stripMargin

  // ---- st_windowed_counts ------------------------------------------------

  def stWindowedCounts(s: SparkSession, dir: String): DataFrame = {
    // complete-mode aggregate landed as a distributed snapshot refresh
    // (runCompleteSnapshot): the group count is windows x event_type —
    // small per refresh, but still no reason to funnel it through the
    // driver; the snapshot sink keeps every registered query memory-free
    StreamOps.runCompleteSnapshot(s, ss => StreamOps.windowedCounts(
      StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s))),
      "st_windowed_counts")
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"))
      .orderBy("hour", "event_type")
  }

  val stWindowedCountsSql: String = """
    |SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
    |  event_type, count(*) AS n
    |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---- st_sliding_counts ---------------------------------------------------

  /** Sliding-window counterpart of st_windowed_counts (2 h windows,
    * 1 h slide): each event contributes to two overlapping windows. The
    * oracle expands the overlap explicitly — one row per event per
    * covering window start. */
  def stSlidingCounts(s: SparkSession, dir: String): DataFrame = {
    StreamOps.runCompleteSnapshot(s, ss => StreamOps.slidingCounts(
      StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s))),
      "st_sliding_counts")
      .select(col("window.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")
  }

  val stSlidingCountsSql: String = """
    |WITH e AS (
    |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type
    |  FROM events),
    |x AS (
    |  SELECT h AS win_start, event_type FROM e
    |  UNION ALL
    |  SELECT h - INTERVAL 1 HOUR, event_type FROM e)
    |SELECT win_start, event_type, count(*) AS n
    |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  // ---- st_stream_dedup ---------------------------------------------------

  /** Distributed parquet sink, not the memory sink: the dedup's output
    * is the whole distinct corpus — on an unbounded feed a memory sink
    * funnels every surviving row through the driver per batch, the
    * exact bottleneck runToParquet exists to remove (the bounded-group
    * aggs keep the memory sink; their per-batch output is a few
    * thousand grouped rows, documented at each site). */
  def stStreamDedup(s: SparkSession, dir: String): DataFrame = {
    StreamOps.runToParquet(s, ss => StreamOps.streamDedup(
      StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s)),
      Seq("user_id", "event_type"))
      .select("user_id", "event_type"),
      "st_stream_dedup", stateful = true,
      noFlush = true)
      .orderBy("user_id", "event_type")
  }

  val stStreamDedupSql: String = """
    |SELECT DISTINCT user_id, event_type
    |FROM events ORDER BY user_id, event_type""".stripMargin

  // ---- st_incremental_dedup ------------------------------------------------

  /** CONTINUOUS exact dedup of an arriving corpus — the streaming shape
    * of [[graft.operators.Dedup.exactGroups]]: documents replayed as a
    * doc-id-ranged backlog (a crawl landing zone filling in acquisition
    * order), a native streaming aggregation holding (content
    * fingerprint → running doc count, minimum keeper id) in the state
    * store, UPDATE-mode emission into a per-batch delta sink merged on
    * read (StreamOps.runUpdateDeltas — each batch writes only the
    * fingerprints it changed). State is O(distinct fingerprints), the
    * cardinality ANY exact dedup must hold somewhere; count/min merges
    * are commutative, so the final keep-list is batch-boundary
    * independent and equals the batch dd_exact output — the identical
    * DuckDB oracle pins both. */
  def stIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    // 2 ranged slices, not 4: the keep-list merge is batch-boundary
    // independent (IncrDedupProbe asserts 1≡2≡4≡8; StreamOpsSpec pins
    // the spec), so the slice count is a harness knob and each extra
    // batch pays the ~0.3 s state-commit+engine floor the IncrDedupProbe
    // curve measures (sf1 r18: x1 1.21, x2 1.54, x4 2.11, x8 3.44 s —
    // linear in batches, slope ≈ the floor). 2 keeps the cross-batch
    // state-merge contract exercised (batch 2 updates batch-1 keys).
    StreamOps.runUpdateDeltas(s, ss => StreamOps.documentsStreamSliced(ss, dir, 2)
      .groupBy(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id")),
      "st_incr_dedup", Seq("fp"))
      .orderBy("fp")
  }

  // ---- st_ttl_dedup --------------------------------------------------------

  /** TTL day-scaled for the hours-apart synthetic stream: the
    * reference's 60 s guards a seconds-apart live feed (same scaling
    * convention as the registered session-gap constants). 24 h admits
    * ~69% of events — both drops AND post-TTL re-admits are exercised,
    * which is the semantic daylight st_stream_dedup's forever-dedup
    * cannot cover. */
  val TtlDedupUs: Long = 24L * 3600 * 1000000L

  /** The reference PositionCache's TTL dedup (DeduplicationFilter,
    * websocket_client.py:98-122) under the streaming engine: admit,
    * drop repeats while the entry lives, RE-ADMIT at/after expiry —
    * greedy per-key admission chains in event time, state = one
    * timestamp per key ([[graft.streaming.TtlDedup]]). The DuckDB
    * oracle replays the same greedy chain with a recursive
    * lateral-join CTE, so the re-admit semantics are hash-pinned, not
    * just row-counted. */
  def stTtlDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ~70% of the stream is admitted (70k rows at sf0.1) — land
    // distributed, keep state partitions small
    StreamOps.runToParquet(s, ss =>
      graft.streaming.TtlDedup.admit(
        StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr(graft.sources.PositionView.TsUsSql).as("ts_us"))
          .as[graft.streaming.TtlEvent], TtlDedupUs).toDF(),
      "st_ttl_dedup", stateful = true)
      .select("user_id", "event_type", "event_id", "ts_us")
      .orderBy("user_id", "event_type", "ts_us", "event_id")
  }

  val stTtlDedupSql: String = s"""
    |WITH RECURSIVE ev AS (
    |  SELECT event_id, user_id, event_type,
    |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    |f AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
    |        ORDER BY ts_us, event_id) AS rn FROM ev),
    |adm AS (
    |  SELECT event_id, user_id, event_type, ts_us FROM f WHERE rn = 1
    |  UNION ALL
    |  SELECT n.event_id, n.user_id, n.event_type, n.ts_us
    |  FROM adm a, LATERAL (
    |    SELECT event_id, user_id, event_type, ts_us FROM ev e
    |    WHERE e.user_id = a.user_id AND e.event_type = a.event_type
    |      AND e.ts_us >= a.ts_us + ${TtlDedupUs}::BIGINT
    |    ORDER BY e.ts_us, e.event_id LIMIT 1) n)
    |SELECT user_id, event_type, event_id, ts_us FROM adm
    |ORDER BY user_id, event_type, ts_us, event_id""".stripMargin

  // ---- st_positions_parse -------------------------------------------------

  /** The reference's actual wire path under the STREAMING engine: each
    * streamed event synthesizes the writer.py two-position JSONL
    * envelope (the SAME line builder as the batch ing_jsonl_positions —
    * one source of truth), and from_json + posexplode run inside the
    * micro-batch. This is the combination a Kyiv-traffic user runs
    * first — Socket.IO/JSONL envelopes parsed as they stream in — and
    * it proves the parse is engine-agnostic: stateless row-local
    * transforms, so no watermark or state store is involved and the
    * identical code runs against a socket/Kafka source. */
  def stPositionsParse(s: SparkSession, dir: String): DataFrame = {
    // wide staged backlog: the micro-batch plans one scan task per
    // file, so the parse runs at session parallelism WITHOUT the
    // in-batch repartition the single-file source needed (a full-row
    // shuffle for the same effect)
    // stateless → distributed file sink: the memory sink's per-batch
    // driver collect of ~2 rows/event dominated the replay at 10x data
    StreamOps.runToParquet(s, { ss =>
      val lines = StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s))
        .select(col("event_id"), col("user_id"), col("ts"))
        .select(col("event_id"),
          IngestQueries.positionEnvelopeLine.as("line"))
      IngestQueries.positionEnvelopeProjection(
        graft.sources.PositionLog.parseLines(lines, col("line")))
    }, "st_positions_parse")
      .orderBy("event_id", "pos_idx")
  }

  /** Identical output contract to the batch parse — same oracle. */
  val stPositionsParseSql: String = IngestQueries.ingJsonlPositionsSql

  // ---- st_sessionize (stateful flatMapGroupsWithState) -------------------

  /** Streaming counterpart of ta_sessionize: same gap semantics, but
    * session numbers come from per-key state carried across batches
    * (StatefulSession), verified against the batch window-SQL oracle. */
  def stSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-event output (100k rows at sf0.1): distributed file sink
    // instead of the driver-collecting memory sink; the state op keeps
    // the small state-partition count
    StreamOps.runToParquet(s, ss => graft.streaming.StatefulSession
      .assign(StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s))
        .select(col("event_id"), col("user_id"),
          expr(graft.sources.PositionView.TsUsSql).as("ts_us"))
        .as[graft.streaming.SessEvent], gapUs = 43200L * 1000000L).toDF(),
      "st_sessionize", stateful = true)
      .select("event_id", "user_id", "session_seq")
      .orderBy("event_id")
  }

  val stSessionizeSql: String = """
    |WITH lagged AS (
    |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
    |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
    |      ORDER BY epoch_us(ts), event_id) AS prev
    |  FROM events)
    |SELECT event_id, user_id,
    |  CAST(sum(CASE WHEN prev IS NULL OR ts_us - prev > 43200000000 THEN 1 ELSE 0 END)
    |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
    |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    |    AS BIGINT) AS session_seq
    |FROM lagged ORDER BY event_id""".stripMargin

  // ---- mm_decode_features ------------------------------------------------

  /** Drives the documented decode STUB through the registry so the
    * swap-in point for a real codec is exercised end-to-end. The
    * byte-summary fake features (length / mean byte / inked fraction)
    * are reproducible from the text in DuckDB, so this is
    * hash-verified — integer sums divided as doubles are IEEE-
    * identical across engines. */
  def mmDecodeFeatures(s: SparkSession, dir: String): DataFrame =
    payloads(s, dir)
      .select(col("doc_id"),
        Multimodal.decodeFeaturesStub(col("payload")).as("features"))
      .select(col("doc_id"), col("features").getItem(0).as("f_len"),
        col("features").getItem(1).as("f_mean"), col("features").getItem(2).as("f_ink"))
      .orderBy("doc_id")

  val mmDecodeFeaturesSql: String = """
    |WITH b AS (
    |  SELECT doc_id, length(text) AS n,
    |    list_transform(range(1, length(text) + 1),
    |                   i -> ord(substring(text, i, 1))) AS bs
    |  FROM documents)
    |SELECT doc_id,
    |  CAST(n AS DOUBLE) AS f_len,
    |  coalesce(CAST(list_sum(bs) AS DOUBLE) / nullif(n, 0), 0.0) AS f_mean,
    |  coalesce(CAST(len(list_filter(bs, x -> x > 32)) AS DOUBLE) / nullif(n, 0), 0.0) AS f_ink
    |FROM b ORDER BY doc_id""".stripMargin

  // ---- ag_approx_quantile ------------------------------------------------

  /** Approximate percentiles vs exact medians per event_type, with the
    * relative sketch error as an explicit self-audit column (rows-only:
    * sketch internals are engine-specific, so the error IS the check). */
  def agApproxQuantile(s: SparkSession, dir: String): DataFrame =
    // no Par.spread: an aggregation is not a compute-bound parse stage
    // — the partial agg already parallelizes on scan splits, and the
    // round-robin pre-shuffle was a pure extra exchange of every input
    // byte (measured on the distinct variant: −0.33 s sf0.1 / −0.54 s
    // sf1 from dropping it)
    Tables.events(s, dir).select("event_type", "value")
      .groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_median"),
        expr("percentile(value, 0.5)").as("exact_median"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("approx_p99"))
      .withColumn("median_rel_err",
        abs(col("approx_median") - col("exact_median")) /
          abs(nullif(col("exact_median"), lit(0.0))))
      .orderBy("event_type")

  // ---- ag_approx_distinct ------------------------------------------------

  /** HLL++ approximate distinct vs exact, with the relative error —
    * rows-only check (sketch internals are engine-specific). */
  def agApproxDistinct(s: SparkSession, dir: String): DataFrame =
    // no Par.spread — see agApproxQuantile
    //
    // DEDUP-FIRST, never countDistinct next to the sketch: the mixed
    // (countDistinct + approx_count_distinct) aggregate rewrites to a
    // two-level plan whose level-1 keys are (event_type, user_id) with
    // partial_approx_count_distinct computed PER PAIR — the HLL++
    // buffer materializes as 410 Long columns on every pair row and
    // crosses the first exchange (~3.3 KB/row where the key needs ~20 B,
    // guide §2.3 "shuffle fewer bytes"). Reducing to the distinct pairs
    // first shuffles bare keys, and both aggregates then run on the
    // deduped rows: count(user_id) over distinct pairs IS countDistinct,
    // and the HLL sketch is insertion-idempotent so approx_count_distinct
    // is bit-identical with or without duplicate inputs (the probe
    // asserts row identity). Measured (AgDistinctAbProbe, steady-min):
    // 0.772 → 0.482 s sf0.1, and the buffer volume now scales with
    // DISTINCT pairs, not raw rows.
    Tables.events(s, dir).select("event_type", "user_id").distinct()
      .groupBy("event_type")
      .agg(
        approx_count_distinct("user_id", 0.02).as("approx_users"),
        count("user_id").as("exact_users"))
      .withColumn("rel_err",
        abs(col("approx_users") - col("exact_users")).cast("double") / col("exact_users"))
      .orderBy("event_type")

  // ---- st_dated_sink -----------------------------------------------------

  /** The poller's end-to-end pipeline shape: the position stream lands
    * in a date-rotated zone (StreamOps.runToDated → DatedWriter, the
    * streaming counterpart of ing_dated_write's batch path — reference
    * writer.py:18-57 consumes the LIVE stream, not a batch), then the
    * landing zone is read back and audited per date. The oracle
    * aggregates the raw events directly, so the hash proves the
    * stream → rotated-files → read-back path loses and duplicates
    * nothing. */
  def stDatedSink(s: SparkSession, dir: String): DataFrame = {
    // pid-scoped: a name-keyed shared /tmp path races between
    // concurrent graft JVMs (the serve-warm hazard, r18 sweep)
    val out = StreamOps.scratchPath(
      "stream-dated-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val src = StreamOps.eventsStream(s, dir)
      .select(col("event_id"), col("user_id").as("vehicle_id"),
        timestamp_micros(expr(graft.sources.PositionView.TsUsSql)).as("ts"),
        col("value"))
    StreamOps.runToDated(s, src, "ts", out)
    graft.sources.DatedWriter.readDated(s, out, src.schema)
      .groupBy("date_key")
      .agg(count(lit(1)).as("n"), countDistinct("vehicle_id").as("n_vehicles"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("date_key")
  }

  val stDatedSinkSql: String = """
    |SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS date_key,
    |  count(*) AS n, count(DISTINCT user_id) AS n_vehicles,
    |  round(sum(value), 2) AS sum_value
    |FROM events GROUP BY 1 ORDER BY date_key""".stripMargin

  // ---- st_recover_buffered -----------------------------------------------

  /** Buffered-position recovery across a dropped session
    * (poller.py:70-77 `_recover_buffered_positions`): the backlog
    * replays through the dated sink in four micro-batches; the run is
    * KILLED mid-stream right after batch 1's rows are staged
    * (buffered) but before they land — then a restart from the same
    * checkpoint recovers the staged batch and finishes the backlog.
    * The oracle aggregates the raw events, so the hash proves the
    * crash+recovery path loses NOTHING (the buffered batch re-enters)
    * and duplicates NOTHING (batches 0's landed file is not
    * re-appended; the recovered move overwrites its own deterministic
    * target). See StreamOps.runToDatedRecoverable for the lifecycle
    * mapping onto the reference's buffer/.processing/confirm files. */
  def stRecoverBuffered(s: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    def src = StreamOps.eventsStreamSlicedWide(s, dir, 3, 1)
      .select(col("event_id"), col("user_id").as("vehicle_id"),
        timestamp_micros(expr(graft.sources.PositionView.TsUsSql)).as("ts"),
        col("value"))
    // the KILLED session's state (checkpoint + zone with batch 1 staged
    // but unlanded) is this query's INPUT — the deterministic wreckage
    // a crash leaves behind, not work the recovery does. Stage it once
    // per (session, dir); each run restarts from a file-level clone, so
    // the measured cost is the RECOVERY itself: read the checkpoint,
    // land the staged batch exactly once, drain the remaining backlog.
    val (pOut, pCkpt) = graft.operators.Stage.value(s, dir, "recover_killed") {
      val out0 = StreamOps.scratchPath("recover-" + key + "_killed")
      val ck0 = StreamOps.recoverCheckpointDir(key + "-killed")
      val dropped =
        try { StreamOps.runToDatedRecoverable(s, src, "ts", out0, ck0,
          failAtBatch = Some(1L), fresh = true); false }
        catch { case _: StreamOps.PlantedStreamFailure => true }
      require(dropped, "planted mid-stream failure did not fire")
      (out0, ck0)
    }
    val out = StreamOps.scratchPath("recover-" + key + "_work")
    val ckpt = StreamOps.recoverCheckpointDir(key + "-work")
    graft.sources.DatedWriter.cloneTree(pOut, out)
    graft.sources.DatedWriter.cloneTree(pCkpt, ckpt)
    // the next session: same checkpoint, no planted failure — recovers
    // the buffered batch and drains the remaining backlog
    StreamOps.runToDatedRecoverable(s, src, "ts", out, ckpt)
    graft.sources.DatedWriter.readDated(s, out, src.schema)
      .groupBy("date_key")
      .agg(count(lit(1)).as("n"), countDistinct("vehicle_id").as("n_vehicles"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("date_key")
  }

  val stRecoverBufferedSql: String = stDatedSinkSql

  // ---- st_session_window -------------------------------------------------

  /** Streaming session windows via the native session_window
    * aggregation (StreamOps.sessionCounts, 30 min gap), replayed over
    * the events backlog. Complete output mode emits every session —
    * including those still open at end-of-backlog, which append mode
    * would hold in state forever — so the batch oracle (gap
    * sessionization: lag + break-flag + running sum) matches row for
    * row, session bounds included. */
  def stSessionWindow(s: SparkSession, dir: String): DataFrame = {
    // wide staged source: the 1M-row scan+project feeding the session
    // shuffle gets one task per file instead of the single backlog
    // file's one split (probed at sf1: 2.36 -> 1.92 s). The complete
    // re-emission (one row per session) lands as a distributed snapshot
    // refresh, never a driver collect; the true unbounded-feed shape is
    // st_session_final (append + one state read).
    StreamOps.runCompleteSnapshot(s, ss => StreamOps.sessionCounts(
      StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s)),
      "30 minutes"),
      "st_session_window")
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("sess_start"),
        col("session_window.end").cast("timestamp_ntz").as("sess_end"),
        col("n_events"))
      .orderBy("user_id", "sess_start")
  }

  /** The UNBOUNDED-feed shape of [[stSessionWindow]]: append-mode
    * replay (each session emitted exactly once when the watermark
    * closes it, landed in a distributed parquet sink) plus ONE final
    * state-store read for the sessions still open when the backlog
    * ran dry — StreamOps.runToParquetWithState. Complete-mode
    * re-emission grows with batches × result size and a memory sink
    * funnels every session through the driver; this path pays one
    * output pass per session and never collects, which is the contract
    * that survives a 100 TB/day feed. Same rows, same oracle hash as
    * st_session_window (flushed ∪ open ≡ complete). */
  def stSessionFinal(s: SparkSession, dir: String): DataFrame = {
    StreamOps.runToParquetWithState(s, ss => StreamOps.sessionCounts(
      StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s)),
      "30 minutes"), "st_session_final_sink",
      open => open.select(
        col("value.user_id").as("user_id"),
        col("value.session_window").as("session_window"),
        col("value.count").as("n_events")))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("sess_start"),
        col("session_window.end").cast("timestamp_ntz").as("sess_end"),
        col("n_events"))
      .orderBy("user_id", "sess_start")
  }

  // both windows tiebreak on event_id: with duplicate (user_id, ts)
  // rows — legal input, and exactly what GenScale's 10x densification
  // produces — a bare ORDER BY t leaves the running sum's tie order
  // unspecified, so brk=0 duplicates could precede their run's brk=1
  // row and leak into the PREVIOUS session (caught by the sf1 gate:
  // 3 sessions split differently than the engine's session_window)
  val stSessionWindowSql: String = """
    |WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id FROM events),
    |m AS (SELECT user_id, t, event_id,
    |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
    |                  <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
    |      FROM e),
    |s AS (SELECT user_id, t,
    |        sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
    |                       ROWS UNBOUNDED PRECEDING) AS sid
    |      FROM m)
    |SELECT user_id, min(t) AS sess_start,
    |  max(t) + INTERVAL 30 MINUTE AS sess_end, count(*) AS n_events
    |FROM s GROUP BY user_id, sid
    |ORDER BY user_id, sess_start""".stripMargin

  // ---- ag_approx_topk ----------------------------------------------------

  /** Approximate frequent-items (heavy hitters) per event_type:
    * `approx_top_k` sketch (exact counts while tracked items stay
    * under the sketch budget — the Misra-Gries/CMS family guarantee),
    * exploded to (event_type, item, approx_n) rows and self-audited
    * against the exact per-key counts from the same scan. Rows-only
    * check (sketch tie order at equal counts is engine-internal);
    * the audit column `n_err` — |approx − exact| — carries a ScalaTest
    * zero-floor, the top-k set itself may differ only at count ties.
    * Scale shape: one sketch per group merged map-side (partial
    * TypedImperativeAggregate), so the shuffle carries k-bounded
    * sketches, never per-item counts. */
  def agApproxTopk(s: SparkSession, dir: String): DataFrame = {
    // no Par.spread — see agApproxQuantile
    val ev = Tables.events(s, dir).select("event_type", "user_id")
    val approx = ev
      .groupBy("event_type")
      .agg(expr("approx_top_k(user_id, 10)").as("tk"))
      .select(col("event_type"), explode(col("tk")).as("t"))
      .select(col("event_type"), col("t.item").as("user_id"),
        col("t.count").as("approx_n"))
    val exact = ev.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("exact_n"))
    approx.join(exact, Seq("event_type", "user_id"), "left")
      .withColumn("n_err", abs(col("approx_n") - coalesce(col("exact_n"), lit(0L))))
      .orderBy("event_type", "user_id")
  }

  // ---- st_stream_join ----------------------------------------------------

  /** Watermarked stream-stream interval join (click → purchase within
    * 1 h per user), replayed over the events backlog and verified
    * against the equivalent batch join in DuckDB. The watermark bounds
    * the join state (see StreamOps.intervalJoin). */
  def stStreamJoin(s: SparkSession, dir: String): DataFrame = {
    // distributed parquet sink: join output grows with feed density —
    // the memory sink collected every matched pair into the driver
    StreamOps.runToParquet(s, ss => StreamOps.intervalJoin(
      StreamOps.eventsStreamWide(ss, dir, StreamOps.wideReplayFiles(s)),
      "click", "purchase", "1 hour")
      .select(col("user_id"), col("left_id").as("click_id"),
        col("right_id").as("purchase_id")),
      "st_stream_join", stateful = true,
      noFlush = true)
      .orderBy("user_id", "click_id", "purchase_id")
  }

  val stStreamJoinSql: String = """
    |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    |FROM events c JOIN events p
    |  ON c.user_id = p.user_id
    | AND c.event_type = 'click' AND p.event_type = 'purchase'
    | AND epoch_us(p.ts) > epoch_us(c.ts)
    | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
    |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  // ---- q_skew_join -------------------------------------------------------

  /** Weighted fact-dim join on `event_type` — a 5-value key over the
    * whole events table, i.e. the textbook skewed shuffle join (a plain
    * hash-partitioned join lands ALL rows on 5 tasks no matter the
    * cluster size). Routed through Skew.saltedJoin so each hot key
    * fans out over 32 salted sub-keys; the oracle is the plain join,
    * proving the salt is invisible in the result. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // power-of-two weights: value*weight stays an exact double, so the
    // rounded sums hit no cross-engine half-up boundaries
    val weights = Seq(("signup", 2.0), ("purchase", 4.0), ("view", 0.5),
      ("click", 1.0), ("error", 0.25)).toDF("event_type", "weight")
    // no Par.spread: the salted merge join shuffles the big side on
    // (key, salt) anyway — the pre-shuffle was a second full exchange
    graft.operators.Skew.saltedJoin(
      Tables.events(s, dir).select("event_type", "value"),
      weights, "event_type", nSalts = 32)
      .groupBy("event_type")
      // decimal accumulation, double result: a double sum over 2M+
      // terms is summation-ORDER-dependent in its last ulp, and the
      // salted join's partial-agg order is nondeterministic — at sf1
      // the ulp drift crossed a cent boundary under round(..., 2)
      // (2479589.18 vs .17 against the oracle). Casting each exact
      // product to decimal(22,6) makes the sum associative (exact
      // integer arithmetic) in BOTH engines; the per-term cast rounds
      // the same binary double to the same 6 decimals on both sides
      // because both engines round double→decimal ties AWAY FROM ZERO
      // (Spark HALF_UP on the magnitude, DuckDB half-away-from-zero) —
      // a double CAN sit exactly on a 6-decimal midpoint (0.0078125 =
      // 2^-7 is exactly between 0.007812 and 0.007813), so the
      // agreement rests on the tie rules coinciding, not on midpoints
      // being unreachable.
      .agg(count(lit(1)).as("n"),
        round(sum((col("value") * col("weight")).cast("decimal(22,6)")), 2)
          .cast("double").as("wsum"))
      .coalesce(1).sortWithinPartitions("event_type")
  }

  // the oracle mirrors the INNER join against the same 5-row weight
  // table (not a CASE ... ELSE over all rows): if the event_type domain
  // ever gains a value, both engine and oracle drop it identically
  // instead of the parity failure pointing at the salted join
  val qSkewJoinSql: String = """
    |SELECT e.event_type, count(*) AS n,
    |  CAST(round(sum(CAST(e.value * w.weight AS DECIMAL(22,6))), 2) AS DOUBLE) AS wsum
    |FROM events e
    |JOIN (VALUES ('signup', 2.0), ('purchase', 4.0), ('view', 0.5),
    |             ('click', 1.0), ('error', 0.25)) AS w(event_type, weight)
    |  ON e.event_type = w.event_type
    |GROUP BY 1 ORDER BY e.event_type""".stripMargin

  // ---- registry ----------------------------------------------------------

  // ---- st_reconnect_backoff ----------------------------------------------

  /** The poller failure-handling lifecycle as LITERAL streaming state:
    * flatMapGroupsWithState carries one (consec, runPos) PollState per
    * client across micro-batches — the sequential form of the
    * reference's in-process counters (poller.py:139-187 + the
    * websocket reconnect backoff), replayed over the events backlog and
    * verified against the same closed-form DuckDB oracle as the batch
    * window version (ing_poll_lifecycle). */
  def stReconnectBackoff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-event output (one lifecycle row per poll) grows with the
    // feed — distributed parquet sink, never the driver memory sink
    StreamOps.runToParquet(s, ss => graft.operators.PollLifecycle.assign(
      StreamOps.eventsStream(ss, dir)
        .select(col("event_id"), col("user_id").as("client_id"),
          expr(graft.sources.PositionView.TsUsSql).as("ts_us"),
          graft.operators.Poller.outcomeCol.as("outcome"))
        .as[graft.operators.PollEvent]).toDF(),
      "st_reconnect_backoff", stateful = true)
      .orderBy("client_id", "event_id")
  }

  val stReconnectBackoffSql: String = graft.operators.Poller.lifecycleSql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_reconnect_backoff" -> (stReconnectBackoff _),
    "mm_meta_extract" -> (mmMetaExtract _),
    "mm_frame_sample" -> (mmFrameSample _),
    "st_windowed_counts" -> (stWindowedCounts _),
    "st_stream_dedup" -> (stStreamDedup _),
    "st_incremental_dedup" -> (stIncrementalDedup _),
    "st_ttl_dedup" -> (stTtlDedup _),
    "st_sliding_counts" -> (stSlidingCounts _),
    "st_sessionize" -> (stSessionize _),
    "st_positions_parse" -> (stPositionsParse _),
    "mm_decode_features" -> (mmDecodeFeatures _),
    "mm_resize_plan" -> (mmResizePlan _),
    "mm_header_decode" -> (mmHeaderDecode _),
    "ag_approx_quantile" -> (agApproxQuantile _),
    "ag_approx_distinct" -> (agApproxDistinct _),
    "ag_approx_topk" -> (agApproxTopk _),
    "st_session_window" -> (stSessionWindow _),
    "st_session_final" -> (stSessionFinal _),
    "st_dated_sink" -> (stDatedSink _),
    "st_recover_buffered" -> (stRecoverBuffered _),
    "q_skew_join" -> (qSkewJoin _),
    "st_stream_join" -> (stStreamJoin _))

  val oracles: Map[String, String] = Map(
    "st_reconnect_backoff" -> stReconnectBackoffSql,
    "mm_meta_extract" -> mmMetaExtractSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "st_windowed_counts" -> stWindowedCountsSql,
    "st_stream_dedup" -> stStreamDedupSql,
    "st_incremental_dedup" -> graft.queries.DedupQueries.ddExactSql,
    "st_ttl_dedup" -> stTtlDedupSql,
    "st_sliding_counts" -> stSlidingCountsSql,
    "st_sessionize" -> stSessionizeSql,
    "st_dated_sink" -> stDatedSinkSql,
    "st_recover_buffered" -> stRecoverBufferedSql,
    "st_positions_parse" -> stPositionsParseSql,
    "q_skew_join" -> qSkewJoinSql,
    "st_stream_join" -> stStreamJoinSql,
    "st_session_window" -> stSessionWindowSql,
    "st_session_final" -> stSessionWindowSql,
    "mm_resize_plan" -> mmResizePlanSql,
    "mm_header_decode" -> mmHeaderDecodeSql,
    "mm_decode_features" -> mmDecodeFeaturesSql)
}
