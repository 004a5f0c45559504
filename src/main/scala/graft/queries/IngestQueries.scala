package graft.queries

import graft.Tables
import graft.functions.GeoFunctions
import graft.plans.BinaryGpsDecode
import graft.sources.PositionView
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion / parsing block (reference: kpt/poller/parsers.py:24-72
  * CSV + Socket.IO frame parsing, :74-109 nested JSON payloads,
  * eway/pipeline/ws_interceptor.py:90-139 bounds + binary GPS decode).
  *
  * The raw wire strings/bytes are synthesized in-plan from `events`
  * with pure integer arithmetic, then parsed back with the real
  * operators (from_json / from_csv / regexp_extract / the custom
  * BinaryGpsDecode expression). The oracle rebuilds the same lines with
  * identical integer arithmetic, so the parse round-trip is fully
  * SQL-checkable — including the binary decode.
  */
object IngestQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Narrow projection spread across the session parallelism before a
    * per-row parse stage: the testdata tables are single-split parquet
    * (one row group), so without this every from_json/regexp stage runs
    * on ONE core. On a real multi-file source the scan already splits
    * and AQE coalesces the (tiny) extra shuffle. */
  private def spreadEv(s: SparkSession, dir: String, cols: Column*): DataFrame =
    graft.operators.Par.spread(events(s, dir).select(cols: _*))

  /** spreadEv for parse queries whose output is ordered by event_id
    * (+ parse-generated secondary keys): range-exchange the narrow
    * source ONCE up front and finish with sortWithinPartitions instead
    * of orderBy — same total order, but the orderBy's range-boundary
    * sampling would re-execute the whole synthesis+parse lineage (see
    * Par.spreadOrdered). */
  private def spreadEvOrdered(s: SparkSession, dir: String, cols: Column*): DataFrame =
    graft.operators.Par.spreadOrdered(events(s, dir).select(cols: _*), col("event_id"))

  // ---- ing_json_props ----------------------------------------------------

  def ingJsonProps(s: SparkSession, dir: String): DataFrame =
    spreadEvOrdered(s, dir, col("event_id"), col("props")).select(
      col("event_id"),
      from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
        .getField("k").as("k"))
      .sortWithinPartitions("event_id")

  val ingJsonPropsSql: String = """
    |SELECT event_id,
    |  CAST(json_extract_string(props, '$.k') AS INT) AS k
    |FROM events ORDER BY event_id""".stripMargin

  // ---- ing_csv_positions -------------------------------------------------

  /** CSV position line (parsers.py:24-54 format
    * "vehicle_id,route_id,lat,lon,direction,flag,timestamp"), with
    * lat/lon carried as e4-scaled integers so string formatting is
    * engine-independent; the ÷10000.0 happens after the parse. */
  def ingCsvPositions(s: SparkSession, dir: String): DataFrame = {
    val line = concat_ws(",",
      col("user_id"), col("user_id") % 25,
      PositionView.latE4(col("event_id")),
      PositionView.lonE4(col("event_id")),
      col("event_id") % 2, col("event_id") % 4,
      expr("ts div 1000000000"))
    val schema = StructType.fromDDL(
      "vehicle_id BIGINT, route_id BIGINT, lat_e4 BIGINT, " +
        "lon_e4 BIGINT, direction BIGINT, flag BIGINT, ts_sec BIGINT")
    spreadEvOrdered(s, dir, col("event_id"), col("user_id"), col("ts"))
      .select(col("event_id"), from_csv(line, schema, Map.empty[String, String]).as("p"))
      .select(
        col("event_id"),
        col("p.vehicle_id").as("vehicle_id"),
        col("p.route_id").as("route_id"),
        (col("p.lat_e4") / 10000.0).as("lat"),
        (col("p.lon_e4") / 10000.0).as("lon"),
        col("p.direction").as("direction"),
        col("p.flag").as("flag"),
        col("p.ts_sec").as("ts_sec"))
      .sortWithinPartitions("event_id")
  }

  val ingCsvPositionsSql: String = """
    |WITH line AS (
    |  SELECT event_id, concat_ws(',',
    |    user_id, user_id % 25,
    |    event_id * 7919 % 3000 + 503000,
    |    event_id * 104729 % 6000 + 302000,
    |    event_id % 2, event_id % 4,
    |    epoch_us(ts) // 1000000) AS s
    |  FROM events)
    |SELECT event_id,
    |  CAST(split_part(s, ',', 1) AS BIGINT) AS vehicle_id,
    |  CAST(split_part(s, ',', 2) AS BIGINT) AS route_id,
    |  CAST(split_part(s, ',', 3) AS BIGINT) / 10000.0 AS lat,
    |  CAST(split_part(s, ',', 4) AS BIGINT) / 10000.0 AS lon,
    |  CAST(split_part(s, ',', 5) AS BIGINT) AS direction,
    |  CAST(split_part(s, ',', 6) AS BIGINT) AS flag,
    |  CAST(split_part(s, ',', 7) AS BIGINT) AS ts_sec
    |FROM line ORDER BY event_id""".stripMargin

  // ---- ing_socketio_parse ------------------------------------------------

  /** Socket.IO event frame `42["event",payload]` (parsers.py:14
    * SOCKET_IO_EVENT_PATTERN, :56-72). The frame split is the native
    * single-pass [[graft.plans.SocketIoFrame]] expression — one char
    * scan instead of two full regex evaluations per frame, with the
    * regex's exact match semantics (pinned by SocketIoFrameSpec); the
    * coalesce mirrors regexp_extract's '' on no-match. */
  def ingSocketioParse(s: SparkSession, dir: String): DataFrame = {
    val frame = concat(
      lit("42[\"position\",{\"id\":"), col("user_id").cast("string"),
      lit(",\"t\":\""), col("event_type"), lit("\"}]"))
    spreadEvOrdered(s, dir, col("event_id"), col("user_id"), col("event_type"))
      .select(col("event_id"), frame.as("frame"))
      .select(col("event_id"),
        graft.plans.SocketIoFrame(col("frame")).as("f"))
      .select(
        col("event_id"),
        coalesce(col("f.evt_name"), lit("")).as("evt_name"),
        from_json(col("f.payload"),
          StructType(Seq(StructField("id", LongType), StructField("t", StringType))))
          .as("p"))
      .select(col("event_id"), col("evt_name"),
        col("p.id").as("payload_id"), col("p.t").as("payload_t"))
      .sortWithinPartitions("event_id")
  }

  val ingSocketioParseSql: String = """
    |WITH f AS (
    |  SELECT event_id,
    |    concat('42["position",{"id":', CAST(user_id AS VARCHAR),
    |           ',"t":"', event_type, '"}]') AS frame
    |  FROM events),
    |m AS (
    |  SELECT event_id,
    |    regexp_extract(frame, '^42\["(\w+)",(.*)\]\s*$', 1) AS evt_name,
    |    regexp_extract(frame, '^42\["(\w+)",(.*)\]\s*$', 2) AS payload
    |  FROM f)
    |SELECT event_id, evt_name,
    |  CAST(json_extract_string(payload, '$.id') AS BIGINT) AS payload_id,
    |  json_extract_string(payload, '$.t') AS payload_t
    |FROM m ORDER BY event_id""".stripMargin

  // ---- ing_corrupt_quarantine --------------------------------------------

  /** Corrupt-record handling (the reference's parsers wrap every frame
    * in try/except — parsers.py error paths): 1-in-7 synthesized frames
    * are truncated mid-payload; the parse keeps the stream flowing,
    * counts good/bad per event name, and carries the bad frames' raw
    * text into a bounded quarantine sample (min over the group — no
    * unbounded collect_list of corrupt payloads on a hot key). A parse
    * failure is data, not an exception: from_json yields NULL and the
    * pipeline routes it, which is what lets one bad producer not kill
    * a 100 TB ingest job. */
  def ingCorruptQuarantine(s: SparkSession, dir: String): DataFrame = {
    val goodFrame = concat(
      lit("42[\"position\",{\"id\":"), col("user_id").cast("string"),
      lit(",\"t\":\""), col("event_type"), lit("\"}]"))
    // corrupt variant: payload truncated (unclosed JSON) — regexp still
    // slices a payload substring, from_json rejects it
    val frame = when(col("event_id") % 7 === 0,
      concat(lit("42[\"position\",{\"id\":"), col("user_id").cast("string")))
      .otherwise(goodFrame)
    // validity flag via get_json_object, not from_json: the routing
    // only needs "payload parses AND carries id" — the streaming
    // Jackson probe skips the struct materialization and the
    // per-corrupt-row exception path (A/B at sf1, QuarantineProbe:
    // parse cost over the scan floor 0.36 -> 0.26 s, row-identical).
    // Plain spread, NOT spreadEvOrdered: the output is a 2-row grouped
    // aggregate — a range exchange (and its boundary-sampling job) buys
    // nothing here (QuarantineProbe r16: 0.585 s min vs 0.662 s with
    // the range pass at sf1). The frame split is the native single-pass
    // SocketIoFrame expression — one char scan replaces two full regex
    // evaluations per frame (the probed regexp_replace / substring
    // rewrites both LOST because they still paid regex or extra
    // allocation; the codegen scan pays neither).
    spreadEv(s, dir, col("event_id"), col("user_id"), col("event_type"))
      .select(col("event_id"), frame.as("frame"))
      .select(col("frame"),
        graft.plans.SocketIoFrame(col("frame")).as("f"))
      .select(col("frame"),
        coalesce(col("f.evt_name"), lit("")).as("evt_name"),
        get_json_object(col("f.payload"), "$.id").isNotNull.as("ok"))
      .groupBy("evt_name")
      .agg(count(lit(1)).as("n_frames"),
        count(when(col("ok"), 1)).as("n_ok"),
        count(when(!col("ok"), 1)).as("n_bad"),
        min(when(!col("ok"), col("frame"))).as("quarantine_sample"))
      .orderBy("evt_name")
  }

  val ingCorruptQuarantineSql: String = """
    |WITH f AS (
    |  SELECT event_id,
    |    CASE WHEN event_id % 7 = 0
    |      THEN concat('42["position",{"id":', CAST(user_id AS VARCHAR))
    |      ELSE concat('42["position",{"id":', CAST(user_id AS VARCHAR),
    |             ',"t":"', event_type, '"}]') END AS frame
    |  FROM events),
    |m AS (
    |  SELECT frame,
    |    regexp_extract(frame, '^42\["(\w+)",(.*)\]\s*$', 1) AS evt_name,
    |    CASE WHEN json_valid(regexp_extract(frame, '^42\["(\w+)",(.*)\]\s*$', 2))
    |      THEN CAST(json_extract_string(
    |        regexp_extract(frame, '^42\["(\w+)",(.*)\]\s*$', 2), '$.id') AS BIGINT)
    |      ELSE NULL END AS pid
    |  FROM f)
    |SELECT evt_name, count(*) AS n_frames,
    |  count(CASE WHEN pid IS NOT NULL THEN 1 END) AS n_ok,
    |  count(CASE WHEN pid IS NULL THEN 1 END) AS n_bad,
    |  min(CASE WHEN pid IS NULL THEN frame END) AS quarantine_sample
    |FROM m GROUP BY 1 ORDER BY evt_name""".stripMargin

  // ---- ing_handshake_parse -----------------------------------------------

  /** Socket.IO handshake response `<length>:0{json}` → (sid,
    * pingInterval) (parsers.py:137-153 parse_handshake_response). The
    * reference brace-counts to find the object end; for the handshake
    * wire format (no nested objects) a greedy regexp capture is the
    * declarative equivalent. */
  def ingHandshakeParse(s: SparkSession, dir: String): DataFrame = {
    val packet = concat(
      lit("0{\"sid\":\"s"), col("user_id").cast("string"),
      lit("-"), col("event_id").cast("string"),
      lit("\",\"upgrades\":[\"websocket\"],\"pingInterval\":"),
      (lit(25000) + col("event_id") % 10 * 1000).cast("string"), lit("}"))
    // the length prefix is the REAL packet length per row — a fixed
    // prefix would violate the length-framed wire format being modeled
    val json = regexp_extract(col("resp"), ":0(\\{.*\\})", 1)
    // spreadEvOrdered, not spreadEv + orderBy: the trailing orderBy's
    // range-boundary sampling re-executes the whole synth+parse chain
    // (this was the one parse query still paying it)
    spreadEvOrdered(s, dir, col("event_id"), col("user_id"))
      .select(col("event_id"),
        concat(length(packet).cast("string"), lit(":"), packet).as("resp"))
      .select(col("event_id"),
        from_json(json, StructType(Seq(
          StructField("sid", StringType),
          StructField("pingInterval", LongType)))).as("h"))
      .select(col("event_id"), col("h.sid").as("sid"),
        col("h.pingInterval").as("ping_interval"))
      .sortWithinPartitions("event_id")
  }

  val ingHandshakeParseSql: String = """
    |SELECT event_id,
    |  concat('s', CAST(user_id AS VARCHAR), '-', CAST(event_id AS VARCHAR)) AS sid,
    |  25000 + event_id % 10 * 1000 AS ping_interval
    |FROM events ORDER BY event_id""".stripMargin

  // ---- ing_bounds_filter -------------------------------------------------

  /** Full identify_region categorization over a wide synthetic
    * coordinate spread (ws_interceptor.py:90-94: kyiv/ukraine buckets,
    * then the ordered FOUND_REGIONS_BOUNDS table, else "Unknown
    * region"). The spread covers lat [15, 53) x lon [15, 42) so every
    * named oblast-table entry actually receives rows. */
  def ingBoundsFilter(s: SparkSession, dir: String): DataFrame = {
    val latW = lit(15.0) + (col("event_id") * 7919 % 38000) / 1000.0
    val lonW = lit(15.0) + (col("event_id") * 104729 % 27000) / 1000.0
    events(s, dir)
      .select(GeoFunctions.regionCategoryNamed(latW, lonW).as("region"),
        col("user_id"))
      .groupBy("region")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
      .orderBy("region")
  }

  val ingBoundsFilterSql: String = """
    |WITH c AS (
    |  SELECT user_id,
    |    15.0 + (event_id * 7919 % 38000) / 1000.0 AS lat,
    |    15.0 + (event_id * 104729 % 27000) / 1000.0 AS lon
    |  FROM events)
    |SELECT CASE
    |    WHEN lat BETWEEN 50.3 AND 50.6 AND lon BETWEEN 30.2 AND 30.8 THEN 'kyiv'
    |    WHEN lat BETWEEN 44.0 AND 52.0 AND lon BETWEEN 22.0 AND 40.0 THEN 'ukraine'
    |    WHEN lat BETWEEN 35.0 AND 40.0 AND lon BETWEEN 35.0 AND 42.0 THEN 'Turkey/Syria'
    |    WHEN lat BETWEEN 15.0 AND 25.0 AND lon BETWEEN 30.0 AND 40.0 THEN 'Red Sea/Sudan'
    |    WHEN lat BETWEEN 30.0 AND 35.0 AND lon BETWEEN 15.0 AND 25.0 THEN 'Libya/Egypt'
    |    ELSE 'Unknown region' END AS region,
    |  count(*) AS n,
    |  count(DISTINCT user_id) AS n_users
    |FROM c GROUP BY 1 ORDER BY region""".stripMargin

  // ---- ing_dated_write -----------------------------------------------------

  /** Writer-rotation round-trip (writer.py:18-57): positions land
    * date-partitioned (sources/DatedWriter.scala), then the reader
    * prunes a 4-day window and aggregates per day. The date filter
    * reaches the scan as a PartitionFilter (DatedWriterSpec asserts
    * it), so 26 of the 30 date directories are never opened — the
    * property the reference's file rotation exists to provide. */
  def ingDatedWrite(s: SparkSession, dir: String): DataFrame = {
    // pid-scoped: a name-keyed shared /tmp path races between
    // concurrent graft JVMs (the serve-warm hazard, r18 sweep)
    val out = graft.streaming.StreamOps.scratchPath(
      "dated-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val posDf = PositionView.fromEvents(events(s, dir))
      .select("event_id", "vehicle_id", "ts", "value")
    // one file per date: ~3k rows/date at sf0.1 — four files each was
    // over-split (file-commit overhead, not parallelism, dominated);
    // the knob rises with the per-date volume at scale
    graft.sources.DatedWriter.writeDated(posDf, "ts", out, filesPerDate = 1)
    graft.sources.DatedWriter.readDated(s, out, posDf.schema)
      .filter(col("date_key") >= "20240105" && col("date_key") <= "20240108")
      .groupBy("date_key")
      .agg(count(lit(1)).as("n"), countDistinct("vehicle_id").as("n_vehicles"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("date_key")
  }

  val ingDatedWriteSql: String = """
    |SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS date_key,
    |  count(*) AS n, count(DISTINCT user_id) AS n_vehicles,
    |  round(sum(value), 2) AS sum_value
    |FROM events
    |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') BETWEEN '20240105' AND '20240108'
    |GROUP BY 1 ORDER BY date_key""".stripMargin

  // ---- ing_upsert ----------------------------------------------------------

  /** CDC latest-wins merge (operators/Cdc.latestWins): an update batch
    * (every 10th event, bumped value, +1h timestamp) upserted into the
    * base snapshot — one hash shuffle on the key, newest (ts, src) row
    * wins, src tag breaks exact-ts ties deterministically. The poller's
    * "re-deliver the newest position record" semantic as a batch
    * operator. */
  def ingUpsert(s: SparkSession, dir: String): DataFrame = {
    val tsUs = PositionView.TsUsSql
    val base = events(s, dir)
      .select(col("event_id"), expr(tsUs).as("tu"), col("value"),
        lit("base").as("src"))
    val updates = events(s, dir)
      .filter(col("event_id") % 10 === 0)
      .select(col("event_id"), (expr(tsUs) + 3600000000L).as("tu"),
        (col("value") + 1000).as("value"), lit("update").as("src"))
    graft.operators.Cdc.latestWins(base, updates,
      keyCols = Seq("event_id"), orderCols = Seq("tu", "src"))
      .select("event_id", "value", "src")
      .orderBy("event_id")
  }

  val ingUpsertSql: String = """
    |WITH base AS (
    |  SELECT event_id, epoch_us(ts) AS tu, value, 'base' AS src FROM events),
    |upd AS (
    |  SELECT event_id, epoch_us(ts) + 3600000000 AS tu,
    |    value + 1000 AS value, 'update' AS src
    |  FROM events WHERE event_id % 10 = 0),
    |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    |r AS (SELECT *, row_number() OVER (
    |        PARTITION BY event_id ORDER BY tu DESC, src DESC) AS rn FROM u)
    |SELECT event_id, value, src FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---- ing_jsonl_positions -----------------------------------------------

  /** The writer.py:86-91 two-position envelope line synthesized from
    * (event_id, user_id, ts[ns]) columns — ONE source of truth shared
    * by the batch parse (ing_jsonl_positions) and the streaming parse
    * (st_positions_parse), so both exercise the identical wire format. */
  private[graft] def positionEnvelopeLine: Column = {
    def posJson(latE4: Column, lonE4: Column): Column = concat(
      lit("{\"vehicle_id\":"), col("user_id").cast("string"),
      lit(",\"route_id\":"), (col("user_id") % 25).cast("string"),
      lit(",\"lat\":"), latE4.cast("string"),
      lit(",\"lon\":"), lonE4.cast("string"),
      lit(",\"direction\":"), (col("event_id") % 2).cast("string"),
      lit(",\"flag\":"), (col("event_id") % 4).cast("string"),
      lit(",\"timestamp\":"), expr("ts div 1000000000").cast("string"),
      lit("}"))
    val latE4 = PositionView.latE4(col("event_id"))
    val lonE4 = PositionView.lonE4(col("event_id"))
    concat(
      lit("{\"collected_by\":\"kpt\",\"timestamp\":\"2024-01-01T00:00:00\",\"count\":2,\"positions\":["),
      posJson(latE4, lonE4), lit(","), posJson(latE4 + 1, lonE4 + 1), lit("]}"))
  }

  /** The parsed-envelope projection shared with st_positions_parse:
    * e4-scaled wire integers back to degrees, envelope bookkeeping
    * kept. (No sort here — the streaming side can only sort the sink.) */
  private[graft] def positionEnvelopeProjection(parsed: DataFrame): DataFrame =
    parsed.select(
      col("event_id"), col("pos_idx"), col("rec_count"),
      col("vehicle_id"), col("route_id"),
      (col("lat") / 10000.0).as("lat"), (col("lon") / 10000.0).as("lon"),
      col("direction"), col("flag"), col("pos_ts"))

  /** Round-trips the reference's nested-positions JSONL envelope
    * (writer.py:86-91) through PositionLog.parseLines: each event
    * synthesizes a 2-position record in-plan; the oracle predicts the
    * parsed output from the same integer arithmetic. Coordinates ride
    * as e4-scaled integers inside the JSON (format-stable), divided
    * after the parse. */
  def ingJsonlPositions(s: SparkSession, dir: String): DataFrame = {
    // spread before the per-row synthesis + JSON parse (single-split source)
    val parsed = graft.sources.PositionLog.parseLines(
      spreadEvOrdered(s, dir, col("event_id"), col("user_id"), col("ts"))
        .select(col("event_id"), positionEnvelopeLine.as("line")), col("line"))
    positionEnvelopeProjection(parsed).sortWithinPartitions("event_id", "pos_idx")
  }

  val ingJsonlPositionsSql: String = """
    |WITH e AS (
    |  SELECT event_id, user_id,
    |    event_id * 7919 % 3000 + 503000 AS lat_e4,
    |    event_id * 104729 % 6000 + 302000 AS lon_e4,
    |    event_id % 2 AS direction, event_id % 4 AS flag,
    |    epoch_us(ts) // 1000000 AS pos_ts
    |  FROM events),
    |r AS (
    |  SELECT event_id, 0 AS pos_idx, 2 AS rec_count, user_id AS vehicle_id,
    |    user_id % 25 AS route_id, CAST(lat_e4 AS DOUBLE) / 10000.0 AS lat,
    |    CAST(lon_e4 AS DOUBLE) / 10000.0 AS lon, direction, flag, pos_ts
    |  FROM e
    |  UNION ALL
    |  SELECT event_id, 1, 2, user_id, user_id % 25,
    |    CAST(lat_e4 + 1 AS DOUBLE) / 10000.0,
    |    CAST(lon_e4 + 1 AS DOUBLE) / 10000.0, direction, flag, pos_ts
    |  FROM e)
    |SELECT * FROM r ORDER BY event_id, pos_idx""".stripMargin

  // ---- ing_routes_jsonl --------------------------------------------------

  /** Round-trips the routes-file envelope (writer.py write_routes +
    * models.py RouteRecord) through PositionLog.parseRouteLines. */
  def ingRoutesJsonl(s: SparkSession, dir: String): DataFrame = {
    def routeJson(id: Column): Column = concat(
      lit("{\"id\":"), id.cast("string"),
      lit(",\"number\":\"T"), (id % 25).cast("string"),
      lit("\",\"type\":"), (id % 3 + 1).cast("string"), lit("}"))
    val line = concat(
      lit("{\"collected_by\":\"kpt\",\"timestamp\":\"2024-01-01T00:00:00\","),
      lit("\"poll_number\":"), col("event_id").cast("string"),
      lit(",\"route_count\":2,\"routes\":["),
      routeJson(col("user_id")), lit(","), routeJson(col("user_id") + 100),
      lit("]}"))
    val parsed = graft.sources.PositionLog.parseRouteLines(
      spreadEvOrdered(s, dir, col("event_id"), col("user_id"))
        .select(col("event_id"), line.as("line")), col("line"))
    parsed.select("event_id", "poll_number", "route_count", "route_idx",
      "route_id", "route_number", "route_type")
      .sortWithinPartitions("event_id", "route_idx")
  }

  val ingRoutesJsonlSql: String = """
    |WITH r AS (
    |  SELECT event_id, event_id AS poll_number, 2 AS route_count,
    |    0 AS route_idx, user_id AS route_id,
    |    concat('T', CAST(user_id % 25 AS VARCHAR)) AS route_number,
    |    CAST(user_id % 3 + 1 AS INT) AS route_type
    |  FROM events
    |  UNION ALL
    |  SELECT event_id, event_id, 2, 1, user_id + 100,
    |    concat('T', CAST((user_id + 100) % 25 AS VARCHAR)),
    |    CAST((user_id + 100) % 3 + 1 AS INT)
    |  FROM events)
    |SELECT * FROM r ORDER BY event_id, route_idx""".stripMargin

  // ---- ing_weather_json --------------------------------------------------

  /** Open-Meteo-style response parsing (weather/pipeline/extract.py:
    * 14-21 WeatherResponse, 49-57: the `hourly` object is PARALLEL
    * ARRAYS zipped by index — time[i] pairs with temperature_2m[i]).
    * arrays_zip + posexplode restores the row form. Temperatures ride
    * as deci-degree integers; ÷10.0 after the parse. */
  def ingWeatherJson(s: SparkSession, dir: String): DataFrame = {
    val t0 = expr("ts div 1000000000 div 3600 * 3600")
    val temp0 = col("event_id") % 400 - 100
    def arr3(base: Column, step: Column): Column = concat(
      lit("["), base.cast("string"), lit(","), (base + step).cast("string"),
      lit(","), (base + step * 2).cast("string"), lit("]"))
    val json = concat(
      lit("{\"latitude\":50.45,\"longitude\":30.52,\"elevation\":179.0,"),
      lit("\"timezone\":\"UTC\",\"hourly\":{\"time\":"), arr3(t0, lit(3600L)),
      lit(",\"temperature_2m\":"), arr3(temp0, lit(1L)), lit("}}"))
    val schema = StructType.fromDDL(
      "latitude DOUBLE, longitude DOUBLE, elevation DOUBLE, timezone STRING, " +
        "hourly STRUCT<time: ARRAY<BIGINT>, temperature_2m: ARRAY<BIGINT>>")
    spreadEvOrdered(s, dir, col("event_id"), col("ts"))
      .select(col("event_id"), from_json(json, schema).as("w"))
      .select(col("event_id"), col("w.latitude").as("latitude"),
        posexplode(arrays_zip(col("w.hourly.time"), col("w.hourly.temperature_2m")))
          .as(Seq("idx", "h")))
      .select(col("event_id"), col("idx"), col("latitude"),
        col("h.time").as("hour_epoch"),
        (col("h.temperature_2m") / 10.0).as("temp_c"))
      .sortWithinPartitions("event_id", "idx")
  }

  val ingWeatherJsonSql: String = """
    |WITH e AS (
    |  SELECT event_id,
    |    epoch_us(ts) // 1000000 // 3600 * 3600 AS t0,
    |    event_id % 400 - 100 AS temp0
    |  FROM events),
    |r AS (
    |  SELECT event_id, 0 AS idx, CAST(50.45 AS DOUBLE) AS latitude, t0 AS hour_epoch,
    |         CAST(temp0 AS DOUBLE) / 10.0 AS temp_c FROM e
    |  UNION ALL
    |  SELECT event_id, 1, 50.45, t0 + 3600,
    |         CAST(temp0 + 1 AS DOUBLE) / 10.0 FROM e
    |  UNION ALL
    |  SELECT event_id, 2, 50.45, t0 + 7200,
    |         CAST(temp0 + 2 AS DOUBLE) / 10.0 FROM e)
    |SELECT * FROM r ORDER BY event_id, idx""".stripMargin

  // ---- ing_binary_gps ----------------------------------------------------

  /** LE-uint32 hex of a non-negative int column (byte-swapped 8-digit
    * hex), used to synthesize the wire bytes in-plan. */
  private def hexLe(c: Column): Column = {
    val h = lpad(hex(c), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Encodes two (lng, lat) uint32 records per event into real bytes,
    * decodes them with the custom BinaryGpsDecode Catalyst expression,
    * and explodes the result. The oracle predicts the decoded output
    * from the same integer arithmetic. */
  def ingBinaryGps(s: SparkSession, dir: String): DataFrame = {
    // lng: the shared e4 lon scaled to 1e8 (30.2xx -> fits uint32);
    // lat: its own 30.3-based value — the true 50.3e8 would overflow
    // the reference's uint32 wire format
    val lng1 = PositionView.lonE4(col("event_id")) * 10000L
    val lat1 = col("event_id") * 7919 % 3000 * 10000 + 3030000000L
    val bin = unhex(concat(
      hexLe(lng1), hexLe(lat1), hexLe(lng1 + 1), hexLe(lat1 + 1)))
    spreadEvOrdered(s, dir, col("event_id"))
      .select(col("event_id"), explode(BinaryGpsDecode(bin)).as("c"))
      .select(col("event_id"), col("c.off").as("off"),
        col("c.lon").as("lon"), col("c.lat").as("lat"))
      .sortWithinPartitions("event_id", "off")
  }

  /** The full WebSocket wire path: the reference receives binary GPS
    * frames as BASE64 TEXT (ws_interceptor.py:97-107
    * decode_base64_message) — unpadded on the wire, re-padded to a
    * multiple of 4, b64-decoded, and frames that fail to decode are
    * logged and dropped to the error lane rather than killing the
    * stream (ws_interceptor.py:103-107). This query wraps the
    * [[ingBinaryGps]] frame in that envelope: encode → strip padding
    * (the wire shape) → corrupt every 97th frame with non-alphabet
    * bytes → re-pad → `try_to_binary(_, 'base64')` (NULL on malformed,
    * the quarantine signal) → decode. Malformed frames surface as one
    * `off = -1` row with null coordinates — the same
    * keep-the-evidence shape as ing_corrupt_quarantine. */
  def ingBase64Gps(s: SparkSession, dir: String): DataFrame = {
    val lng1 = PositionView.lonE4(col("event_id")) * 10000L
    val lat1 = col("event_id") * 7919 % 3000 * 10000 + 3030000000L
    val bin = unhex(concat(
      hexLe(lng1), hexLe(lat1), hexLe(lng1 + 1), hexLe(lat1 + 1)))
    // wire frame: base64 text transmitted unpadded; every 97th frame
    // arrives mangled (non-alphabet bytes mid-stream)
    val frame0 = rtrim(base64(bin), "=")
    val quarantineRec = array(struct(
      lit(-1).as("off"),
      lit(null).cast("double").as("lon"),
      lit(null).cast("double").as("lat")))
    spreadEvOrdered(s, dir, col("event_id"))
      .withColumn("frame",
        when(col("event_id") % 97 === 0, concat(frame0, lit("!@")))
          .otherwise(frame0))
      // decode_base64_message: restore '=' padding to a multiple of 4
      .withColumn("padded", concat(col("frame"),
        repeat(lit("="), (lit(4) - length(col("frame")) % 4) % 4)))
      .withColumn("bytes", try_to_binary(col("padded"), lit("base64")))
      .select(col("event_id"), explode(
        when(col("bytes").isNull, quarantineRec)
          .otherwise(BinaryGpsDecode(col("bytes")))).as("c"))
      .select(col("event_id"), col("c.off").as("off"),
        col("c.lon").as("lon"), col("c.lat").as("lat"))
      .sortWithinPartitions("event_id", "off")
  }

  val ingBase64GpsSql: String = """
    |WITH e AS (
    |  SELECT event_id,
    |    event_id * 104729 % 6000 * 10000 + 3020000000 AS lng1,
    |    event_id * 7919 % 3000 * 10000 + 3030000000 AS lat1
    |  FROM events),
    |r AS (
    |  SELECT event_id, 0 AS off,
    |         lng1 / 100000000.0 AS lon, lat1 / 100000000.0 AS lat
    |  FROM e WHERE event_id % 97 <> 0
    |  UNION ALL
    |  SELECT event_id, 8 AS off,
    |         (lng1 + 1) / 100000000.0, (lat1 + 1) / 100000000.0
    |  FROM e WHERE event_id % 97 <> 0
    |  UNION ALL
    |  SELECT event_id, -1 AS off, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    |  FROM e WHERE event_id % 97 = 0)
    |SELECT event_id, off, lon, lat FROM r ORDER BY event_id, off""".stripMargin

  val ingBinaryGpsSql: String = """
    |WITH e AS (
    |  SELECT event_id,
    |    event_id * 104729 % 6000 * 10000 + 3020000000 AS lng1,
    |    event_id * 7919 % 3000 * 10000 + 3030000000 AS lat1
    |  FROM events),
    |r AS (
    |  SELECT event_id, 0 AS off,
    |         lng1 / 100000000.0 AS lon, lat1 / 100000000.0 AS lat FROM e
    |  UNION ALL
    |  SELECT event_id, 8 AS off,
    |         (lng1 + 1) / 100000000.0, (lat1 + 1) / 100000000.0 FROM e)
    |SELECT event_id, off, lon, lat FROM r ORDER BY event_id, off""".stripMargin

  // ---- ing_poll_lifecycle ------------------------------------------------

  /** Poller failure-handling lifecycle derived from the poll-outcome
    * log: consecutive-failure counts, session-refresh decisions
    * (threshold or 403) and exponential reconnect backoff — the control
    * plane of kpt/poller/poller.py:139-187 + websocket_client.py:333-374
    * as a single-shuffle window transform (see
    * [[graft.operators.Poller]] for the closed forms). */
  def ingPollLifecycle(s: SparkSession, dir: String): DataFrame = {
    val polls = events(s, dir)
      .select(col("user_id").as("client_id"), col("event_id"),
        expr(PositionView.TsUsSql).as("ts_us"),
        graft.operators.Poller.outcomeCol.as("outcome"))
    graft.operators.Poller.lifecycle(polls).orderBy("client_id", "event_id")
  }

  val ingPollLifecycleSql: String = graft.operators.Poller.lifecycleSql

  // ---- ing_poll_stats ------------------------------------------------------

  /** The ws client's observability counters (stats() + the dedup
    * cache's tracked_count — kpt/poller/websocket_client.py:183-190,
    * 124-125) per client, from the same poll-outcome log as
    * [[ingPollLifecycle]]; see [[graft.operators.Poller.stats]] for the
    * counter semantics and the one-exchange plan shape. */
  def ingPollStats(s: SparkSession, dir: String): DataFrame = {
    val polls = events(s, dir)
      .select(col("user_id").as("client_id"), col("event_id"),
        expr(PositionView.TsUsSql).as("ts_us"),
        graft.operators.Poller.outcomeCol.as("outcome"))
    graft.operators.Poller.stats(polls).orderBy("client_id")
  }

  val ingPollStatsSql: String = graft.operators.Poller.statsSql

  // ---- ing_compact_zone ----------------------------------------------------

  /** Landing-zone COMPACTION round-trip: positions land date-rotated at
    * filesPerDate=4 (a fragmented zone — the state any micro-batched
    * appender leaves behind, one file per batch x date), then
    * DatedWriter.compactDated rewrites each date partition down to one
    * file and swaps the zone in place. The oracle aggregates the raw
    * events, so the hash proves compaction loses and duplicates
    * NOTHING; the file-count drop itself is asserted in
    * DatedWriterSpec (file layout is not SQL-observable). */
  def ingCompactZone(s: SparkSession, dir: String): DataFrame = {
    // pid-scoped: see ingDatedWrite — shared name-keyed paths race
    val base = graft.streaming.StreamOps.scratchPath(
      "dated-compact-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    // the fragmented zone is this query's INPUT — a state some appender
    // left behind, not work the compaction job does. Stage the pristine
    // zone once per (session, dir) and hand each run a file-level clone
    // (compaction consumes its input in place): the measured cost is
    // the maintenance job itself — one clustered shuffle + rewrite +
    // swap — not rebuilding the 120-small-file input per invocation.
    val posDf = PositionView.fromEvents(events(s, dir))
      .select("event_id", "vehicle_id", "ts", "value")
    val pristine = graft.operators.Stage.value(s, dir, "compact_zone_src") {
      val p = base + "_pristine"
      graft.sources.DatedWriter.writeDated(posDf, "ts", p, filesPerDate = 4)
      p
    }
    val out = base + "_work"
    graft.sources.DatedWriter.cloneTree(pristine, out)
    graft.sources.DatedWriter.compactDated(s, out, filesPerDate = 1)
    graft.sources.DatedWriter.readDated(s, out, posDf.schema)
      .groupBy("date_key")
      .agg(count(lit(1)).as("n"), countDistinct("vehicle_id").as("n_vehicles"),
        round(sum("value"), 2).as("sum_value"))
      .coalesce(1).sortWithinPartitions("date_key")
  }

  val ingCompactZoneSql: String = """
    |SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS date_key,
    |  count(*) AS n, count(DISTINCT user_id) AS n_vehicles,
    |  round(sum(value), 2) AS sum_value
    |FROM events GROUP BY 1 ORDER BY date_key""".stripMargin

  // ---- registry ----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ing_poll_lifecycle" -> (ingPollLifecycle _),
    "ing_poll_stats" -> (ingPollStats _),
    "ing_json_props" -> (ingJsonProps _),
    "ing_csv_positions" -> (ingCsvPositions _),
    "ing_socketio_parse" -> (ingSocketioParse _),
    "ing_corrupt_quarantine" -> (ingCorruptQuarantine _),
    "ing_handshake_parse" -> (ingHandshakeParse _),
    "ing_bounds_filter" -> (ingBoundsFilter _),
    "ing_jsonl_positions" -> (ingJsonlPositions _),
    "ing_routes_jsonl" -> (ingRoutesJsonl _),
    "ing_weather_json" -> (ingWeatherJson _),
    "ing_binary_gps" -> (ingBinaryGps _),
    "ing_base64_gps" -> (ingBase64Gps _),
    "ing_dated_write" -> (ingDatedWrite _),
    "ing_compact_zone" -> (ingCompactZone _),
    "ing_upsert" -> (ingUpsert _))

  val oracles: Map[String, String] = Map(
    "ing_poll_lifecycle" -> ingPollLifecycleSql,
    "ing_poll_stats" -> ingPollStatsSql,
    "ing_json_props" -> ingJsonPropsSql,
    "ing_csv_positions" -> ingCsvPositionsSql,
    "ing_socketio_parse" -> ingSocketioParseSql,
    "ing_corrupt_quarantine" -> ingCorruptQuarantineSql,
    "ing_handshake_parse" -> ingHandshakeParseSql,
    "ing_bounds_filter" -> ingBoundsFilterSql,
    "ing_jsonl_positions" -> ingJsonlPositionsSql,
    "ing_routes_jsonl" -> ingRoutesJsonlSql,
    "ing_weather_json" -> ingWeatherJsonSql,
    "ing_binary_gps" -> ingBinaryGpsSql,
    "ing_base64_gps" -> ingBase64GpsSql,
    "ing_dated_write" -> ingDatedWriteSql,
    "ing_compact_zone" -> ingCompactZoneSql,
    "ing_upsert" -> ingUpsertSql)
}
