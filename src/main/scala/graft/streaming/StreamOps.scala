package graft.streaming

import graft.PidScratch.deleteRecursive
import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators (the reference's pollers ARE streams:
  * kpt/poller/websocket_client.py consumes a realtime feed; these are
  * the same computations expressed over readStream).
  *
  * Tested by replaying the events parquet through the file stream
  * source with an AvailableNow trigger — identical code runs against a
  * socket/Kafka source in production; only the `load` changes.
  */
object StreamOps {

  /** events schema as stored, with `ts` parameterized: the driver's
    * parquet has shipped ts as INT64 TIMESTAMP(NANOS) (read as Long
    * under nanosAsLong) and as TIMESTAMP(MICROS) (TIMESTAMP_NTZ) across
    * rounds, and GenScale copies write raw BIGINT nanos. The stream
    * source needs an explicit schema, so [[eventsStream]] peeks the
    * file's batch footer once and normalizes to the engine-canonical
    * Long nanos after read — the same contract as Tables.events. */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  val EventsSchema: StructType = eventsSchema(LongType)

  /** Stage key = sanitized dir name + full-path hash: two dirs that
    * sanitize identically must not share (and silently reuse) a stage.
    * ONE definition for the symlink stage and the sliced stages. */
  private def stageKey(dir: String, src: java.nio.file.Path): String =
    dir.replaceAll("[^A-Za-z0-9]", "_") + "-" +
      Integer.toHexString(src.toString.hashCode)

  /** Normalize a streamed events `ts` to engine-canonical Long nanos —
    * the streaming twin of Tables.normalizeTs's vintage contract, ONE
    * definition for both events readers (the contract changed twice
    * already; a third change must not have to find N copies). */
  private def normalizeEventsTs(df: DataFrame,
                                tsType: org.apache.spark.sql.types.DataType): DataFrame =
    tsType match {
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df
    }

  /** The file stream source requires a DIRECTORY; the testdata table is
    * a single parquet file, so stage a symlink to it under a scratch
    * directory keyed by the source path (idempotent). */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(s"$dir/events.parquet").toAbsolutePath
    val stage = Paths.get("/tmp/graft-stream", stageKey(dir, src), "events")
    Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    // IDEMPOTENT create, never delete-then-recreate: an unconditional
    // deleteIfExists raced both the in-JVM warmup pool (second thread's
    // createSymbolicLink throws FileAlreadyExists) and a CONCURRENT
    // graft JVM whose in-flight FileStreamSource could list the stage
    // in the deletion window and drain an EMPTY backlog (r18 review
    // finding). A correct link is left untouched; only a missing or
    // wrong-target link (dangling ones included — readSymbolicLink
    // sees them where Files.exists follows-and-lies) is replaced, under
    // the same per-stage lock stageSlices uses; a cross-process
    // creation race resolves by verifying the winner's target.
    val lock = stageLocks.computeIfAbsent(link.toString, _ => new Object)
    lock.synchronized {
      val correct = Files.isSymbolicLink(link) &&
        Files.readSymbolicLink(link) == src
      if (!correct) {
        Files.deleteIfExists(link)
        try Files.createSymbolicLink(link, src)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            require(Files.isSymbolicLink(link) &&
              Files.readSymbolicLink(link) == src,
              s"stage link $link exists with a different target")
        }
      }
    }
    // one-time footer peek for the ts vintage (Long nanos vs TIMESTAMP);
    // cached per path like any catalog schema — re-inferring per replay
    // run paid a footer + file-index build on every bench repeat
    val tsType = Tables.schemaOf(s, src.toString)
      .find(_.name == "ts").map(_.dataType).getOrElse(LongType)
    normalizeEventsTs(
      s.readStream.schema(eventsSchema(tsType)).parquet(stage.toString), tsType)
  }

  /** [[eventsStream]] over an N-file staged copy of the events table,
    * read one file per micro-batch — the multi-batch replay harness
    * for restart/recovery operators (a single-file backlog is one
    * AvailableNow batch, which cannot exercise a MID-stream failure).
    * The sliced copy is staged once per (dir, slices) and reused:
    * batch boundaries then stay fixed across the failed run and its
    * recovery restart, exactly like the reference's buffer files
    * surviving a dropped session. */
  def eventsStreamSliced(s: SparkSession, dir: String, slices: Int): DataFrame =
    eventsStreamStaged(s, dir, slices, filesPerTrigger = Some(1))

  /** [[eventsStreamSliced]]'s N-file stage drained in ONE AvailableNow
    * batch (no maxFilesPerTrigger): on a [[replaySession]] the batch's
    * scan plans one task per file, so the decode+project feeding a
    * stateful shuffle runs at N-way parallelism instead of inheriting
    * the single backlog file's one split. The repartition alternative
    * pays an extra full-row shuffle INSIDE the batch; pre-splitting
    * the backlog is free after the one-time stage — and is the shape a
    * production landing zone already has (many files per date). */
  def eventsStreamWide(s: SparkSession, dir: String, files: Int): DataFrame =
    eventsStreamStaged(s, dir, files, filesPerTrigger = None)

  /** Ranged backlog drained `filesPerBatch` files per micro-batch from
    * a `slices`-file stage: on a [[replaySession]] each batch's scan
    * plans one task per file (on any other session the planner packs
    * small files by bytes into fewer tasks), so a per-batch
    * parse/probe runs filesPerBatch-way parallel WITHOUT
    * the in-batch shuffle a repartition fan-out would pay
    * (measured on st_asof_serve at sf1: an in-probe Par.spread made the
    * batch p50 834 -> 1211 ms — the exchange costs more than the serial
    * parse it relieves; multi-file batches get the parallelism for
    * free). Batch boundaries stay deterministic: files drain in stamped
    * mtime (range) order, so batch k = ranges [k*f, (k+1)*f). */
  def eventsStreamSlicedWide(s: SparkSession, dir: String, slices: Int,
                             filesPerBatch: Int): DataFrame =
    eventsStreamStaged(s, dir, slices, filesPerTrigger = Some(filesPerBatch))

  /** One lock object per stage path: [[stageSlices]] is hit by Bench's
    * concurrent warmup pool, and two threads both missing _SUCCESS
    * would run overlapping write.mode(overwrite) jobs into the same
    * directory — one job's overwrite can delete the other's in-flight
    * files and leave a mixed-but-stamped stage that later measured runs
    * replay. The write additionally lands in a temp sibling and renames
    * into place atomically, so even a cross-process race (or a crashed
    * writer) can never publish a partial stage under _SUCCESS. */
  private val stageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stages `<dir>/<table>.parquet` as `slices` RANGE partitions on
    * `sortCol` (staged once per (dir, table, slices) and reused, so
    * batch boundaries stay fixed across a failed run and its recovery
    * restart) and returns the stage path.
    *
    * RANGED slices, not round-robin: a real backlog drains in rough
    * key order, so each micro-batch should touch one range's worth of
    * values, not every value in the zone (a round-robin slice made
    * every batch write all ~30 date partitions in the dated-sink
    * replay; ranged slices cut the per-batch file count ~4x).
    *
    * Deterministic RANGE-ORDER drain: FileStreamSource picks unread
    * files oldest-mtime-first, and the parallel range-partition write
    * lands the slices with arbitrary (often tied) mtimes — a replay
    * that processes a late time range first advances the watermark
    * past the earlier ranges and silently DROPS them as late data
    * (measured: 235+245 of 500 rows dropped on a 4-slice sf0.001
    * session replay). Stamp mtimes ascending in range order (part
    * index follows repartitionByRange's partition order) so the
    * backlog drains the way a real landing zone fills: files appear
    * as the sort key advances. Re-asserted on every call — the stage
    * dir is cached across sessions and pre-fix stages carry the racy
    * mtimes. */
  private def stageSlices(s: SparkSession, dir: String, table: String,
                          sortCol: String, slices: Int): java.nio.file.Path = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(s"$dir/$table.parquet").toAbsolutePath
    val stage =
      Paths.get("/tmp/graft-stream", stageKey(dir, src), s"$table-x$slices")
    val lock = stageLocks.computeIfAbsent(stage.toString, _ => new Object)
    lock.synchronized {
      if (!Files.exists(stage.resolve("_SUCCESS"))) {
        // CROSS-PROCESS exclusion via an OS advisory lock: the old
        // check-then-delete-then-move had a TOCTOU window where a
        // loser's deleteRecursive(stage) could destroy a stage the
        // winner had JUST published and already started streaming from
        // (r18 review finding). With the flock held, check + stale-dir
        // clear + atomic publish are a critical section against other
        // graft JVMs too; a waiter re-checks _SUCCESS after acquiring
        // and reuses the winner's stage instead of rebuilding.
        val lockFile = stage.resolveSibling(
          stage.getFileName.toString + ".lock")
        // the lock file lives under /tmp/graft-stream/<key>/, which no
        // prior step creates for tables other than events — on a fresh
        // host the open below would throw NoSuchFileException before
        // the Spark write ever runs (r18 advice, high)
        Files.createDirectories(stage.getParent)
        val ch = java.nio.channels.FileChannel.open(lockFile,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val flock = ch.lock()
        try {
          if (!Files.exists(stage.resolve("_SUCCESS"))) {
            val tmp = stage.resolveSibling(
              stage.getFileName.toString + ".tmp-" +
                java.lang.Long.toHexString(System.nanoTime()))
            s.read.parquet(src.toString).repartitionByRange(slices, col(sortCol))
              .write.mode("overwrite").parquet(tmp.toString)
            deleteRecursive(stage) // stale partial dir from a crashed writer
            Files.move(tmp, stage, StandardCopyOption.ATOMIC_MOVE)
            if (Files.exists(tmp)) deleteRecursive(tmp)
          }
        } finally { flock.release(); ch.close() }
      }
      val t0 = Files.getLastModifiedTime(stage.resolve("_SUCCESS")).toMillis
      val parts = listDir(stage)
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
      val mtimes = parts.map(Files.getLastModifiedTime(_).toMillis)
      // skip the stamping syscalls when a prior call already ordered the
      // stage (idempotent values) — the check costs the reads just done
      val ordered = mtimes.zipWithIndex.forall { case (m, i) =>
        m == t0 + (i + 1) * 2000L
      }
      if (!ordered) parts.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(t0 + (i + 1) * 2000L))
      }
    }
    stage
  }

  /** Directory listing that CLOSES the underlying stream — a bare
    * Files.list leaks its open directory handle until GC, and the
    * replay harness lists stages dozens of times per bench round. */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  private def eventsStreamStaged(s: SparkSession, dir: String, slices: Int,
                                 filesPerTrigger: Option[Int]): DataFrame = {
    val stage = stageSlices(s, dir, "events", "ts", slices)
    val tsType = Tables.schemaOf(s, s"$dir/events.parquet")
      .find(_.name == "ts").map(_.dataType).getOrElse(LongType)
    val rdr = s.readStream.schema(eventsSchema(tsType))
    filesPerTrigger.foreach(n => rdr.option("maxFilesPerTrigger", n.toString))
    normalizeEventsTs(rdr.parquet(stage.toString), tsType)
  }

  /** Tumbling hourly counts per event_type with a 1 h watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts_w", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_w", "1 hour")
      .groupBy(window(col("ts_w"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** SLIDING hourly-step 2-hour windows per event_type: every event
    * lands in two overlapping windows (epoch-aligned starts, Spark's
    * window() contract). State is bounded by the watermark — closed
    * windows age out — so the sliding overlap multiplies state by
    * size/slide, never by stream length. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts_w", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_w", "2 hours")
      .groupBy(window(col("ts_w"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Native session-window aggregation: per-user sessions that merge
    * while events arrive within `gap` of the session's end — the
    * BUILT-IN operator for the gap-sessionization StatefulSession
    * hand-rolls with flatMapGroupsWithState. Session state is merged
    * incrementally per micro-batch and bounded by the watermark (a
    * session finalizes once the watermark passes its end), so state is
    * O(open sessions), never O(stream). The session's end is the last
    * event + gap — Spark's session_window contract, replicated by the
    * batch oracle. */
  def sessionCounts(events: DataFrame, gap: String): DataFrame =
    events
      .withColumn("ts_w", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_w", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts_w"), gap))
      .agg(count(lit(1)).as("n_events"))

  /** First-arrival dedup on a key set. State is bounded by key
    * cardinality (not stream length); for time-bounded state use
    * dropDuplicatesWithinWatermark instead — that variant trades exact
    * global dedup for eviction. */
  def streamDedup(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicates(keys)

  /** Watermarked stream-stream interval self-join: for every `leftType`
    * event, the `rightType` events of the same user inside
    * (left_ts, left_ts + window]. Both sides carry a watermark equal to
    * the join window, which is what lets Spark BOUND the join state:
    * a buffered left row can be evicted once the right watermark passes
    * left_ts + window, so state is O(events per window), not O(stream).
    * An un-watermarked stream-stream join would grow state forever —
    * the difference between a demo and an operator that survives an
    * unbounded 100 TB/day feed.
    *
    * TIME-BUCKETED join key (range-join binning): a bare user_id
    * equi-join evaluates the full clicks x purchases cross product per
    * user before the time predicate prunes it — quadratic in per-user
    * density (the sf1 shards: ~1.3k x 1.3k per user = 26.6M pair
    * evaluations for a 37k-row result, and a 100 TB feed's hot users
    * are strictly denser). Both sides therefore also carry
    * floor(ts / window): a right row lives in exactly one bucket, a
    * left row is EXPLODED into its own and the next bucket — the only
    * two a match can land in, since 0 < right_ts - left_ts <= window —
    * and the bucket id joins as an extra equality key. Each candidate
    * pair is produced exactly once (the two exploded bucket values are
    * distinct), pair volume drops to per-(user, window)-bucket
    * products, and the watermark/state contract is untouched: bucket
    * ids are derived from the same event-time columns, state eviction
    * still keys off the time-range predicate (probed at sf1:
    * 26.6M -> 7.4M pair evals, addBatch 4.3 -> ~2 s). */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
                   window: String): DataFrame = {
    val tsUs = graft.sources.PositionView.TsUsSql
    val wUs = intervalMicros(window)
    // exact integer floor division (the pmod-floor pattern TsUsSql
    // already uses): floor(us / wUs) via IEEE double division is only
    // correct while 1/wUs exceeds the quotient's half-ulp — a long
    // window over far-future timestamps could mis-bucket a row by one
    // and silently drop a matching pair at a bucket seam
    def bucket(tsCol: String): org.apache.spark.sql.Column =
      expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), ${wUs}L)) div ${wUs}L")
    val left = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("left_id"), col("user_id"),
        timestamp_micros(expr(tsUs)).as("left_ts"))
      .withColumn("__lb", explode(array(bucket("left_ts"), bucket("left_ts") + 1)))
      .withWatermark("left_ts", window)
    val right = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("right_id"), col("user_id").as("__ru"),
        timestamp_micros(expr(tsUs)).as("right_ts"))
      .withColumn("__rb", bucket("right_ts"))
      .withWatermark("right_ts", window)
    left.join(right,
      col("user_id") === col("__ru") && col("__lb") === col("__rb") &&
        col("right_ts") > col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr(s"INTERVAL $window"))
      .drop("__ru", "__lb", "__rb")
  }

  /** "N hours"-style interval string as microseconds (day-time only —
    * month intervals have no fixed length). */
  def intervalMicros(window: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(window))
    require(iv.months == 0, s"interval '$window' must be day-time, not months")
    iv.days * 86400000000L + iv.microseconds
  }

  /** State-task count for FINITE replays. A stateful op fixes its
    * partition count at first checkpoint, and every micro-batch then
    * pays a per-partition state-store commit (a two-sided interval join
    * keeps FOUR stores per partition) regardless of rows held. At the
    * session's 32 shuffle partitions that is 128 near-empty store
    * commits per batch — measured 5.3 s → 2.2 s on the replayed
    * interval join by dropping to 8, and a further ~15 % across the
    * eight-query replay family at 4 (probed 8/4/2: 12.6/10.8/12.1 s —
    * 2 starts starving the stateful stages' parallelism). The count is
    * deployment sizing, not operator semantics (results are
    * partitioning-independent, which the DuckDB-hash checks pin).
    *
    * Derived from the session's shuffle parallelism (parallelism/8,
    * clamped to [2, 8]): at the default 32 that resolves to the probed
    * optimum 4, a wider cluster session scales the state tasks with
    * it, and the clamp keeps the finite-replay commit floor bounded
    * (the probe showed both 2 and un-clamped counts losing). */
  def replayStateParts(s: SparkSession): Int = {
    val par = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(2, math.min(8, par / 8))
  }

  /** Fresh CHILD session for one finite replay: shares the
    * SparkContext (executors, cache, scheduler) but owns its SQLConf,
    * so the replay's two conf overrides are SCOPED to this run. No
    * concurrent replay, warmup thread, or later batch query can
    * observe them, which deletes the depth-counted ReplayGuard (and
    * its documented overlap caveat) outright; it also means
    * [[replayStateParts]] always derives from the PARENT session's
    * un-clamped parallelism, closing the derive-under-clamp hazard.
    *
    * `stateful` clamps the shuffle partitions — the count a stateful
    * op fixes as its state partitions at first checkpoint — to
    * [[replayStateParts]]. A stateless replay keeps the session
    * parallelism for its scan and sink write.
    *
    * `noFlush` skips the trailing ZERO-ROW micro-batch Spark appends to
    * a stateful replay (noDataMicroBatches — it advances the watermark
    * so evictions/timeouts fire), measured at 0.5-0.7 s of state-scan +
    * store commits per replay. Only legal where that batch cannot add
    * OUTPUT rows: complete-mode aggregations re-emit the full result
    * every batch (the no-data pass re-emits an identical table), and
    * first-arrival dedup and watermarked INNER joins emit in the batch
    * the rows arrive (eviction only trims state). Queries whose RESULTS
    * need the watermark push — append-mode windowed aggs, outer joins,
    * flatMapGroupsWithState event-time timeouts — must keep it off. The
    * DuckDB-hash gate pins that every noFlush adopter is row-identical
    * to the batch oracle.
    *
    * newSession() inherits only builder-time options, so the parent's
    * dynamic session conf is copied first (static and core keys,
    * which Spark rejects with an AnalysisException, are skipped) and
    * the custom function registry re-asserted — the child must plan
    * exactly like the parent except for the overrides. That copy is
    * also how a deployment picks the state-store provider: the default
    * HDFS-backed in-memory store wins at this harness's state sizes
    * (the sf1 A/B in SCALE.md round 15 measured RocksDB strictly
    * slower here), while state that outgrows executor heap (dedup key
    * spaces, session maps) wants RocksDB's spill-to-disk store. Set
    * `spark.sql.streaming.stateStore.providerClass` on the session (a
    * runtime conf) and every replay of it uses that provider; results
    * are store-independent, which StateStoreProviderSpec hash-gates.
    * A child of a [[graft.GraftSession.builder]] session inherits its
    * artifact isolation off, so the replay reuses the classes the
    * parent already compiled instead of recompiling them.
    *
    * The child's scans plan one task per file: its open cost is raised
    * to the split size, so no two files share a task. A replay's
    * source is a staged backlog whose slices ([[wideReplayFiles]])
    * exist to split its CPU-bound decode across cores, and the
    * session's 64 KB open cost packs them by bytes into tasks of about
    * 2 MB — at sf0.1 the whole events backlog (2.0 MB) into one task:
    * st_positions_parse read 0.70 → 1.40 s, and st_session_window,
    * st_sliding_counts, st_stream_dedup and st_sessionize 11-23%
    * slower, in a same-window `graft.Bench` A/B on 4 cores (SCALE.md).
    * Reads on the parent session, such as the sinks' read-backs, still
    * pack. */
  private[graft] def replaySession(s: SparkSession, stateful: Boolean,
                                   noFlush: Boolean): SparkSession = {
    val ss = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      try ss.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    graft.GraftSession.ensureFunctions(ss)
    ss.conf.set("spark.sql.files.openCostInBytes",
      ss.sessionState.conf.filesMaxPartitionBytes.toString)
    if (stateful)
      ss.conf.set("spark.sql.shuffle.partitions", replayStateParts(s).toString)
    if (noFlush)
      ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ss
  }

  /** Per-micro-batch latency of the most recent replay run, keyed by
    * the harness `name` — the serving-contract number for the streaming
    * operators (a serving query is judged on batch latency, not on
    * total drain time). Recorded from StreamingQueryProgress after
    * every finite replay; Bench dumps the map alongside the per-query
    * wall times. Latest run wins — bench repeats replay identical
    * machinery. */
  object ReplayMetrics {
    final case class BatchStats(n: Int, p50Ms: Long, p95Ms: Long, maxMs: Long)
    private val m = new java.util.concurrent.ConcurrentHashMap[String, BatchStats]()
    def record(name: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val ds = q.recentProgress.toSeq.map(_.batchDuration).sorted
      if (ds.nonEmpty) {
        // nearest-rank: ceil(p·n)−1, not floor(p·n) — the floor form
        // overstated by one rank (p95 of ≤20 batches returned the MAX;
        // p50 of 4 returned the upper mid — r18 review finding)
        def pct(p: Double): Long =
          ds(math.max(0, math.min(ds.size - 1,
            math.ceil(p * ds.size).toInt - 1)))
        m.put(name, BatchStats(ds.size, pct(0.50), pct(0.95), ds.last))
        ()
      }
    }
    def snapshot: Map[String, BatchStats] = {
      import scala.jdk.CollectionConverters._
      m.asScala.toMap
    }
    /** Drops every recorded run — Bench calls it after its warmup so
      * the artifact holds measured runs only. */
    def clear(): Unit = m.clear()
  }

  /** Marker file naming a directory as a [[runToDated]] landing zone —
    * the only kind of directory its pre-replay clear may delete. */
  val DatedZoneMarker = "_GRAFT_DATED_ZONE"

  /** Root for the replay harness's streaming checkpoints and side
    * outputs, under the shared pid-scoped scratch policy
    * ([[graft.PidScratch]]: tmpfs when it has room, one subdir per JVM,
    * dead-pid siblings reclaimed). A finite replay's offset/commit WAL
    * and state-store delta files are ephemeral machinery (a production
    * feed checkpoints to durable shared storage sized for its fleet —
    * the same deployment knob as ReplayStateParts), but every
    * micro-batch pays their create/sync latency INLINE on the driver
    * path; on the bench host the spinning-dir default is the dominant
    * share of the per-batch floor across the whole st_* family.
    *
    * The per-JVM subdir matters because run roots are keyed by query
    * name: two live graft JVMs (a Verify beside a bench) sharing a
    * flat root raced on the same FileStreamSink metadata ("Race while
    * writing batch 0", observed when two Verifies overlapped). recover-
    * dirs keep their cross-RESTART contract: the recoverable replays
    * restart queries inside one JVM, never across JVMs. Results are
    * checkpoint-location-independent, which the DuckDB-hash checks
    * pin. */
  private val CheckpointRoot: java.nio.file.Path =
    graft.PidScratch.root("graft-ckpt")

  /** The run root `<prefix>-<name>` under [[CheckpointRoot]], cleared
    * at the START of every run: it holds the run's checkpoint (`ckpt`)
    * and any sink output beside it. Spark never cleans an explicit
    * checkpointLocation, and a STALE one would make the next
    * AvailableNow replay skip the already-committed backlog entirely.
    * Clearing at the next start, not at the end, lets a lazy read-back
    * (sink files, a state-store read) outlive the run and keeps one
    * root per name across bench repeats. */
  private def runRoot(prefix: String, name: String): java.nio.file.Path = {
    val root = CheckpointRoot.resolve(s"$prefix-$name")
    deleteRecursive(root)
    root
  }

  /** Persistent (cross-restart) checkpoint dir for the RECOVERABLE
    * replays: survives the planted crash because it outlives the
    * query, exactly like the reference's buffer files outliving the
    * dropped session. Lives under the same root as the ephemeral
    * checkpoints. */
  def recoverCheckpointDir(key: String): String =
    CheckpointRoot.resolve("recover-" + key).toString

  /** Set true on Bench's concurrent WARMUP threads: the eager
    * state-store unload a finishing replay runs in its finally
    * (releaseStateStores) is process-global, so with several warmup
    * replays in flight one query's unload killed a sibling's
    * mid-commit store ("CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT …
    * RejectedExecutionException: pool Terminated" aborts, logged with
    * full stacks into the bench stderr — the r18 stack-provenance
    * hunt). Warmup replays skip the eager unload (the measured loop is
    * sequential and unloads as before; Spark's 60 s maintenance cycle
    * reclaims whatever warmup leaves loaded). */
  val SuppressStoreUnload: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private def releaseStateStores(): Unit =
    if (!SuppressStoreUnload.get())
      org.apache.spark.sql.execution.streaming.state.GraftStateBridge.unloadAll()

  /** Pid-scoped scratch path for non-checkpoint streaming side files
    * (warm-up writes, staging). Name-keyed paths under a SHARED root
    * (the old /tmp/graft-serve-warm) race between concurrent graft
    * JVMs exactly like the flat checkpoint root did — two Verifies
    * overwrite each other's parquet footers mid-read. Routing them
    * under [[CheckpointRoot]] gives them the same per-JVM isolation
    * and dead-pid reclamation for free. */
  def scratchPath(name: String): String =
    CheckpointRoot.resolve("scratch-" + name).toString

  /** The ONE finite-replay lifecycle behind every `run*` runner: a
    * runner supplies only its sink (format and path, output mode or a
    * foreachBatch body) and its read-back. Records the sink in
    * [[SinkAudit]] as `kind:name`, drains `df`'s backlog from
    * checkpoint `ckpt` with AvailableNow, records the run's batch
    * latencies in [[ReplayMetrics]] under `metricKey`, and unloads the
    * state stores however the run ends.
    *
    * The eager unload: a run's providers hold the full join/agg state
    * maps in executor memory and can never be reused (the next run of
    * a name starts from a cleared checkpoint), yet the maintenance
    * thread only evicts them on its 60 s cycle — across a many-query
    * suite that retained state compounds into GC pressure that shows
    * up as multi-second variance in UNRELATED queries. The unload is
    * safe because the harness never runs two streams concurrently
    * outside Bench's warmup ([[SuppressStoreUnload]]); a stateless run
    * has no store loaded. */
  private def replay(kind: String, name: String, df: DataFrame,
                     ckpt: java.nio.file.Path, metricKey: String)
                    (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    SinkAudit.record(kind, name)
    try {
      val q = sink(df.writeStream.option("checkpointLocation", ckpt.toString))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ReplayMetrics.record(metricKey, q)
    } finally releaseStateStores()
  }

  /** Marker-less acceptance for zones predating [[DatedZoneMarker]]:
    * every entry is a date_key= partition dir or a _/. bookkeeping
    * file — a testdata dir (bare *.parquet files) or any shared dir
    * fails. */
  private def looksDated(entries: Seq[java.nio.file.Path]): Boolean =
    entries.forall { p =>
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".") ||
        (n.startsWith("date_key=") && java.nio.file.Files.isDirectory(p))
    }

  /** Replays a stream into a date-partitioned landing zone via
    * foreachBatch → [[graft.sources.DatedWriter]] — the reference
    * poller's ACTUAL pipeline shape (kpt/poller/writer.py:18-57
    * consumes the live stream into date-rotated files; here each
    * micro-batch appends to the dates its rows belong to). The landing
    * dir is cleared first: the replay contract is "the backlog lands
    * exactly once", and a stale zone would double-count.
    *
    * The recursive clear REFUSES any target that is not a landing zone
    * this writer created (marker file) and not empty/absent: a miswired
    * outDir (testdata, a shared dir) must error, never be silently
    * wiped.
    *
    * Each micro-batch appends ONE file per date it touches — the
    * reference's rotation contract (writer.py `build_file_path`). At
    * the replay's volumes more files per date only multiply
    * open/commit/list costs (measured: 30 dates x 4 files = 120 files
    * cost ~0.5 s write + ~0.3 s read-back over the 1-file-per-date
    * layout). */
  def runToDated(s: SparkSession, df: DataFrame, tsCol: String,
                 outDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(outDir)
    val marker = root.resolve(DatedZoneMarker)
    if (Files.exists(root)) {
      val entries = listDir(root)
      require(entries.isEmpty || Files.exists(marker) || looksDated(entries),
        s"runToDated: refusing to clear '$outDir' — non-empty, missing the " +
          s"$DatedZoneMarker marker and not shaped like a dated landing zone")
      deleteRecursive(root)
    }
    Files.createDirectories(root)
    Files.createFile(marker)
    // NO ReplayStateParts override here: this pipeline is STATELESS
    // (foreachBatch file sink, no state store), so shrinking shuffle
    // partitions only strangles the dated write's parallelism — the
    // (date_key, salt) clustering inside writeDated bounds the FILE
    // count regardless of partition count (measured: the in-batch
    // write dominated st_dated_sink at 8 parts; session-level
    // parallelism cuts its wall time without changing output shape).
    val zone = root.getFileName.toString
    val ckpt = runRoot("dated", stageKey(zone, root)).resolve("ckpt")
    replay("dated", outDir, df, ckpt, "dated:" + zone) {
      _.foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.sources.DatedWriter.writeDated(batch.toDF(), tsCol, outDir,
          mode = "append", filesPerDate = 1)
      }
    }
  }

  /** Thrown by [[runToDatedRecoverable]]'s planted failure — the
    * simulated dropped session. */
  final class PlantedStreamFailure(batchId: Long)
    extends RuntimeException(s"planted stream failure at batch $batchId")

  /** [[runToDated]] with CRASH-RECOVERY semantics — the Spark mirror of
    * the reference's buffered-position recovery
    * (kpt/poller/poller.py:70-77 `_recover_buffered_positions` over
    * websocket_client.py:33-56 `ConcurrentFileQueue.recover`): positions
    * buffered when a session drops are re-emitted by the next session
    * exactly once (buffer/.processing files survive the crash; recovery
    * writes them and deletes the files; `confirm_flush` marks a
    * completed hand-off).
    *
    * The mirror maps each piece onto Structured Streaming's restart
    * contract:
    *   - buffer/.processing file  → a per-batch STAGING dir under
    *     `_staging/batch=<id>` (rows written, not yet in the zone);
    *   - recover() on reconnect   → the checkpointed restart replaying
    *     the uncommitted batch (foreachBatch is at-least-once);
    *   - write-once guarantee     → the move into the zone names files
    *     deterministically (`b<batchId>.parquet` per date dir, one file
    *     per (batch, date)), so a replayed move OVERWRITES rather than
    *     appends — no duplication whatever the crash point;
    *   - confirm_flush()          → the `_commits/<batchId>` marker; a
    *     marked batch short-circuits on replay.
    *
    * `failAtBatch` plants the dropped session: the batch's rows are
    * staged (buffered) and the stream then dies BEFORE the zone move —
    * exactly the reference's crash window. A rerun with the same
    * `checkpointDir` recovers: it re-runs that batch, re-stages, moves,
    * commits, and continues the backlog. `fresh = true` clears zone and
    * checkpoint for a deterministic full replay.
    *
    * Scale: per batch this adds one staging write and |dates-touched|
    * renames — O(batch), nothing proportional to the zone. The `_`
    * prefixes keep staging/commit bookkeeping invisible to readers. */
  def runToDatedRecoverable(s: SparkSession, df: DataFrame, tsCol: String,
                            outDir: String, checkpointDir: String,
                            failAtBatch: Option[Long] = None,
                            fresh: Boolean = false): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Paths.get(outDir)
    val marker = root.resolve(DatedZoneMarker)
    if (fresh) {
      if (Files.exists(root)) {
        val entries = listDir(root)
        require(entries.isEmpty || Files.exists(marker),
          s"runToDatedRecoverable: refusing to clear '$outDir' — non-empty " +
            s"and missing the $DatedZoneMarker marker")
        deleteRecursive(root)
      }
      deleteRecursive(Paths.get(checkpointDir))
    }
    Files.createDirectories(root)
    // NEVER plant the marker into a dir this writer doesn't own: on
    // the non-fresh (recovery) path a miswired outDir (testdata, a
    // shared dir) would get _GRAFT_DATED_ZONE created inside it, which
    // ARMS a later runToDated/fresh clear to wipe it wholesale (r18
    // review finding). The marker may only appear in an empty dir or
    // one already shaped like a dated zone (the runToDated guard).
    if (!Files.exists(marker)) {
      val entries = listDir(root)
      require(entries.isEmpty || looksDated(entries),
        s"runToDatedRecoverable: refusing to adopt '$outDir' — non-empty, " +
          s"unmarked and not shaped like a dated landing zone")
      Files.createFile(marker)
    }
    val commits = root.resolve("_commits")
    Files.createDirectories(commits)
    // A PLANTED failure is this replay's fixture, not an incident:
    // Spark's stream thread logs the termination exception at ERROR
    // with a full stack, which lands in bench/driver stderr and reads
    // as an unexplained crash in the artifact tail (the r17 "stack in
    // a clean artifact" finding was this class of noise). Silence the
    // stream-execution loggers for the planted run only (refcounted —
    // see PlantedLogSilence); the real failure still reaches the
    // caller as PlantedStreamFailure.
    val silenced = failAtBatch.isDefined
    if (silenced) PlantedLogSilence.enter()
    try replay("dated", outDir, df, Paths.get(checkpointDir),
      "recover:" + root.getFileName.toString) {
      _.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!Files.exists(commits.resolve(batchId.toString))) {
          val staging = root.resolve("_staging").resolve(s"batch=$batchId")
          // recover(), not rebuild: a COMPLETE staged batch (atomic
          // job commit = _SUCCESS) is exactly the reference's buffer
          // file surviving the dropped session — the restart re-emits
          // it without re-deriving it. A partial write (no _SUCCESS)
          // is rewritten from the replayed batch.
          if (!Files.exists(staging.resolve("_SUCCESS"))) {
            graft.sources.DatedWriter.writeDated(batch.toDF(), tsCol,
              staging.toString, mode = "overwrite", filesPerDate = 1)
          }
          if (failAtBatch.contains(batchId))
            throw new PlantedStreamFailure(batchId)
          // idempotent hand-off: one file per (batch, date), named by
          // the batch id — a replayed move can only overwrite itself
          listDir(staging)
            .filter(p => p.getFileName.toString.startsWith("date_key=") &&
              Files.isDirectory(p))
            .foreach { dateDir =>
              val dst = root.resolve(dateDir.getFileName.toString)
              Files.createDirectories(dst)
              val parts = listDir(dateDir)
                .filter(_.getFileName.toString.endsWith(".parquet")).toList
              require(parts.size <= 1,
                s"filesPerDate=1 write produced ${parts.size} files in $dateDir")
              parts.foreach(p => Files.move(p, dst.resolve(s"b$batchId.parquet"),
                StandardCopyOption.REPLACE_EXISTING))
            }
          Files.createFile(commits.resolve(batchId.toString))
          ()
        }
      }
    } catch {
      // unwrap the StreamingQueryException shell so callers plant and
      // catch the SAME exception type
      case e: Throwable if causedByPlanted(e) => throw rootPlanted(e)
    } finally if (silenced) PlantedLogSilence.exit()
  }

  /** Refcounted silencing of the stream-execution loggers around a
    * PLANTED-failure replay. Log4j levels are process-global, so a
    * naive save/restore races when two planted replays overlap (the
    * Stage.value memo builds OUTSIDE its lock, so Bench's warmup pool
    * can run the planted stage twice concurrently): the second caller
    * would snapshot OFF as the "prior" level and restore OFF
    * permanently, muting real stream-error logging for the JVM's
    * remaining life. The counter makes the first enter capture+OFF
    * and only the last exit restore. */
  private object PlantedLogSilence {
    private val loggers = Seq(
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      "org.apache.spark.sql.execution.streaming.runtime.StreamExecution")
    private var depth = 0
    private var prior: Seq[(String, org.apache.logging.log4j.Level)] = Nil
    def enter(): Unit = synchronized {
      if (depth == 0) {
        prior = loggers.map { l =>
          (l, org.apache.logging.log4j.LogManager.getLogger(l).getLevel)
        }
        loggers.foreach(l =>
          org.apache.logging.log4j.core.config.Configurator.setLevel(
            l, org.apache.logging.log4j.Level.OFF))
      }
      depth += 1
    }
    def exit(): Unit = synchronized {
      depth -= 1
      if (depth == 0)
        prior.foreach { case (l, lv) =>
          org.apache.logging.log4j.core.config.Configurator.setLevel(l, lv)
        }
    }
  }

  private def causedByPlanted(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (c.isInstanceOf[PlantedStreamFailure]) return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  private def rootPlanted(e: Throwable): PlantedStreamFailure = {
    var c: Throwable = e
    while (!c.isInstanceOf[PlantedStreamFailure]) c = c.getCause
    c.asInstanceOf[PlantedStreamFailure]
  }

  /** Replay to a DISTRIBUTED parquet file sink: the stream lands as
    * parquet (exactly-once via the file sink's commit log) and the
    * result is read back — rows never funnel through the driver. The
    * memory sink collects every output row into the driver per batch,
    * which for a high-volume row-local transform costs more than the
    * transform itself (st_positions_parse emits 2M rows at sf1 — the
    * driver collect dominated its replay); landing distributed is also
    * the PRODUCTION shape of a parse stream (land, then read). The sink
    * write itself is distributed either way; `stateful` and `noFlush`
    * are [[replaySession]]'s (a stateful op still wants the small
    * state-partition count — per-partition store commits are its
    * floor — while a stateless parse keeps the session parallelism).
    * Sink and checkpoint live under the run root keyed by `name`,
    * cleared at the START of each run, so bench repeats never
    * accumulate. */
  def runToParquet(s: SparkSession, build: SparkSession => DataFrame,
                   name: String, stateful: Boolean = false,
                   noFlush: Boolean = false): DataFrame = {
    val root = runRoot("sink", name)
    val out = root.resolve("out")
    val df = build(replaySession(s, stateful, noFlush))
    replay("parquet", name, df, root.resolve("ckpt"), name) {
      _.format("parquet").option("path", out.toString).outputMode("append")
    }
    // the sink wrote exactly df's columns — reading back with that
    // schema skips a fresh-dir footer inference per run
    s.read.schema(df.schema).parquet(out.toString)
  }

  /** File-count for [[eventsStreamWide]]'s stage, derived from the
    * session's shuffle parallelism (half of it, clamped to [4, 32]):
    * the stage exists to give the stateless scan+project side of a
    * stateful replay real parallelism, so it scales with the session
    * like any scan split count — while the STATE partitions stay at
    * the small [[replayStateParts]] (near-empty store commits are the
    * stateful stage's floor, a different trade). At the default 32
    * that resolves to 16, the probed optimum at sf1 (2.36 → 1.92 s on
    * st_session_window; one-file baseline runs the 1M-row decode on a
    * single core). Each slice is one scan task because the replays
    * plan on a [[replaySession]], whose open cost equals the split
    * size; under the builder's 64 KB open cost the planner would pack
    * the slices by bytes into tasks of about 2 MB, which at sf0.1 is
    * the whole backlog in one task. */
  def wideReplayFiles(s: SparkSession): Int =
    math.max(4, math.min(32,
      s.conf.get("spark.sql.shuffle.partitions").toInt / 2))

  /** APPEND-mode replay of a watermarked stateful aggregation to a
    * distributed parquet sink, then ONE read of the query's final
    * state store for the rows still held open when the backlog ran
    * dry. This is the UNBOUNDED-scale contract for session windows:
    * complete mode re-emits the whole aggregate every micro-batch
    * (output grows with batches × result size — fine for a finite
    * one-batch backlog drain, fatal for a 100 TB/day feed), while
    * append emits each closed session exactly once as the watermark
    * passes it, and end-of-feed accounting reads the surviving open
    * sessions straight from the state store (the `statestore` batch
    * data source over the retained checkpoint). flushed ∪ open is the
    * COMPLETE result — pinned by the same DuckDB oracle hash as the
    * complete-mode replay.
    *
    * `openProj` maps the state read's (key, value, partition_id) rows
    * onto the aggregation's output schema. The checkpoint must outlive
    * the returned (lazy) DataFrame, which the run root (cleared at the
    * START of the next run) guarantees. */
  def runToParquetWithState(s: SparkSession, build: SparkSession => DataFrame,
                            name: String,
                            openProj: DataFrame => DataFrame): DataFrame = {
    val root = runRoot("sinkst", name)
    val out = root.resolve("sink")
    val ckpt = root.resolve("ckpt")
    val df = build(replaySession(s, stateful = true, noFlush = false))
    replay("parquet+state", name, df, ckpt, name) {
      _.format("parquet").option("path", out.toString).outputMode("append")
    }
    val flushed = s.read.schema(df.schema).parquet(out.toString)
    val open = openProj(
      s.read.format("statestore").option("path", ckpt.toString).load())
    flushed.unionByName(open)
  }

  /** The documents table replayed as a doc-id-RANGED backlog, one file
    * per micro-batch: the arriving-corpus harness for the streaming
    * dedup operators — each batch is a contiguous id range, like a
    * crawl landing zone filling in acquisition order. Same staged-slice
    * machinery (and deterministic drain order) as the events replays. */
  def documentsStreamSliced(s: SparkSession, dir: String, slices: Int): DataFrame =
    tableStreamSliced(s, dir, "documents", "doc_id", slices)

  /** A table replayed as a sortCol-RANGED backlog, one file per
    * micro-batch, with the table's own footer schema — the shared body
    * of the documents/embeddings sliced replays (one definition, not
    * two copies to keep in lockstep). */
  private def tableStreamSliced(s: SparkSession, dir: String, table: String,
                                sortCol: String, slices: Int): DataFrame = {
    val stage = stageSlices(s, dir, table, sortCol, slices)
    val schema = StructType(Tables.schemaOf(s, s"$dir/$table.parquet"))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
  }

  /** Drained-union read-back over the per-batch sink dirs: EXPLICIT
    * dir paths with the already-known schema, not a glob. A glob makes
    * DataFrameReader probe the literal glob string as a potential
    * FileStreamSink output, and the recovered FileNotFoundException is
    * logged WARN with a full driver stack — the "unexplained stack
    * trace" in BENCH_r17's tail (reproduced r18: WARN FileStreamSink
    * "Assume no metadata directory ... out-b* does not exist"; the
    * read then succeeds, so nerr stayed 0). Multi-path reads skip the
    * probe entirely, one real dir probes quietly, and the explicit
    * schema skips per-dir footer inference — ONE driver listing, no
    * stacks, cheaper drain (the r17 item-3 lever). */
  private def readBatchDirs(s: SparkSession, root: java.nio.file.Path,
                            prefix: String,
                            schema: StructType): DataFrame = {
    val dirs = Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getPath).sorted
    require(dirs.nonEmpty,
      s"no $prefix batch dirs under $root — the replay produced no batches")
    s.read.schema(schema).parquet(dirs.toIndexedSeq: _*)
  }

  /** UPDATE-mode replay of an (un-windowed) stateful aggregation into
    * a CDC-style DELTA sink, merged on read.
    *
    * Each micro-batch appends ONLY the aggregate rows it changed,
    * stamped with the batch id, under a deterministic per-batch path —
    * foreachBatch is at-least-once, so a recovered batch overwrites
    * its own directory instead of duplicating (the st_recover_buffered
    * commit discipline). The merged view — latest batch's row per key —
    * IS the running aggregate, materialized by merge-on-read instead
    * of rewriting the artifact per batch: a batch's write cost is
    * O(keys changed in the batch), never O(all keys), which is what
    * lets a continuous corpus maintain its keep-list incrementally at
    * 100 TB (a production delta sink compacts periodically; the
    * merge-on-read window here is that compaction, paid once at read
    * time). Complete mode would re-emit every key every batch; append
    * mode never re-emits an updated aggregate at all — update is the
    * only output mode whose emission volume tracks the CHANGE stream.
    *
    * The final merged result is batch-boundary independent whenever
    * the aggregate's merge is commutative (counts, min/max, sums) —
    * the state store applies the same merge regardless of how the
    * backlog was sliced; the spec pins 1-slice ≡ 4-slice. */
  def runUpdateDeltas(s: SparkSession, build: SparkSession => DataFrame,
                      name: String, keyCols: Seq[String]): DataFrame = {
    val root = runRoot("delta", name)
    val df = build(replaySession(s, stateful = true, noFlush = false))
    replay("delta", name, df, root.resolve("ckpt"), name) {
      _.outputMode("update").foreachBatch { (b: Dataset[Row], id: Long) =>
        b.withColumn("__batch", lit(id))
          .write.mode("overwrite")
          .parquet(root.resolve(f"delta-b$id%05d").toString)
      }
    }
    val deltas = readBatchDirs(s, root, "delta-b",
      df.schema.add("__batch", LongType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__batch").desc)
    deltas.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__batch")
  }

  /** The embeddings table replayed as a vec-id-RANGED backlog, one
    * file per micro-batch — the arriving-queries harness for streaming
    * similarity serving. */
  def embeddingsStreamSliced(s: SparkSession, dir: String, slices: Int): DataFrame =
    tableStreamSliced(s, dir, "embeddings", "vec_id", slices)

  /** Replays a STATELESS stream and lands `f(batch)` as per-batch
    * parquet deltas (deterministic per-batch dirs — foreachBatch is
    * at-least-once, so a recovered batch overwrites its own directory
    * instead of duplicating), returning the drained union read back.
    *
    * The per-batch transform runs as a full BATCH plan — broadcast
    * joins against static artifacts, bounded-heap partial aggregates,
    * anything the batch engine can express — which is the foreachBatch
    * SERVING pattern: operators whose semantics are per-arriving-batch
    * against static state (an ANN index, a dimension snapshot) rather
    * than cross-batch streaming state. No state store runs, so the
    * shuffle-partition clamp is skipped and `f`'s plan keeps the
    * session parallelism. */
  def runBatchTransforms(s: SparkSession, df: DataFrame, name: String)
                        (f: DataFrame => DataFrame): DataFrame = {
    val root = runRoot("fb", name)
    // the transform's output schema, captured from the first batch's
    // plan so the drain read never infers footers (readBatchDirs)
    @volatile var outSchema: StructType = null
    replay("batch-deltas", name, df, root.resolve("ckpt"), name) {
      _.outputMode("append").foreachBatch { (b: Dataset[Row], id: Long) =>
        val out = f(b)
        if (outSchema == null) outSchema = out.schema
        out.write.mode("overwrite")
          .parquet(root.resolve(f"out-b$id%05d").toString)
      }
    }
    readBatchDirs(s, root, "out-b", outSchema)
  }

  /** COMPLETE-mode replay landed DISTRIBUTED: each micro-batch's full
    * re-emitted aggregate overwrites a deterministic snapshot dir via
    * foreachBatch — the materialized-view-refresh shape of a
    * complete-mode aggregation (a production serving layer refreshes
    * its table per batch; readers always see the latest refresh). The
    * write is a distributed parquet job, so unlike the memory sink no
    * row ever funnels through the driver, whatever the aggregate's
    * cardinality does as the feed grows. Per-batch cost is O(result),
    * which is complete mode's own contract — the per-batch refresh is
    * the price of re-emission, not of this sink; append-mode variants
    * (runToParquetWithState) are the shape when that price is too high.
    *
    * Always `noFlush` ([[replaySession]]): complete mode re-emits the
    * full result every batch, so the trailing zero-row batch could only
    * rewrite an identical snapshot. */
  def runCompleteSnapshot(s: SparkSession, build: SparkSession => DataFrame,
                          name: String): DataFrame = {
    val root = runRoot("snap", name)
    val out = root.resolve("snapshot")
    val df = build(replaySession(s, stateful = true, noFlush = true))
    replay("snapshot", name, df, root.resolve("ckpt"), name) {
      _.outputMode("complete").foreachBatch { (b: Dataset[Row], _: Long) =>
        b.write.mode("overwrite").parquet(out.toString)
      }
    }
    s.read.schema(df.schema).parquet(out.toString)
  }

  /** Records which SINK each replay harness run used, keyed by run
    * name — the evidence base for the registry sink-discipline lint
    * (RegistryPlanLintSpec): a registered streaming query must land
    * distributed; the driver-collecting memory sink is probe/test-only.
    * Recording in [[replay]], the one lifecycle every runner shares
    * (not in the queries), means a future query wired to the wrong
    * sink is caught by construction, not by review. */
  object SinkAudit {
    private val uses = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def record(kind: String, name: String): Unit = { uses.add(s"$kind:$name"); () }
    def memorySinks: Set[String] = {
      import scala.jdk.CollectionConverters._
      uses.asScala.toSet.filter(_.startsWith("memory:"))
    }
    def clear(): Unit = uses.clear()
  }

  /** Runs a finite stateful streaming query to a memory sink in output
    * `mode` and returns the sink table. AvailableNow processes the full
    * backlog then stops — the batch-replay harness for stream
    * operators, probe/test-only (see [[SinkAudit]]). */
  def runToMemory(s: SparkSession, build: SparkSession => DataFrame,
                  name: String, mode: String): DataFrame = {
    val root = runRoot("mem", name)
    val ss = replaySession(s, stateful = true, noFlush = false)
    val df = build(ss)
    replay("memory", name, df, root.resolve("ckpt"), name) {
      _.format("memory").queryName(name).outputMode(mode)
    }
    // the memory sink registers its table in the session that ran the
    // query — the child's catalog
    ss.table(name)
  }
}
