package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The replay lifecycle every StreamOps `run*` runner shares, pinned
  * per runner: each runs twice under one name over a 2-slice backlog.
  * The second run must replay the whole backlog and return the first
  * run's rows — a checkpoint left over from the first would make it
  * skip the already-committed backlog. Afterwards the SinkAudit trail and the ReplayMetrics keys
  * name every run, and the checkpoint root holds at most one entry per
  * name, so repeats never accumulate scratch. */
class ReplayHarnessSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def events(ss: SparkSession): DataFrame =
    StreamOps.eventsStreamSliced(ss, sf, 2)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val scratch = java.nio.file.Files.createTempDirectory("graft-harness-")
  private val datedDir = scratch.resolve("harness_dated").toString
  private val recoverDir = scratch.resolve("harness_recover").toString

  /** Registers a test that runs `run` twice and wants identical,
    * non-empty rows from two runs that both drained the backlog: each
    * records its own [[StreamOps.ReplayMetrics]] entry under
    * `metricKey`, with the same batch count. The count is the check
    * that bites for sinks whose files outlive a run: their rows come
    * back even when a stale checkpoint makes the second run skip the
    * backlog, but that run then drains one empty batch, not all. */
  private def twice(runner: String, metricKey: String)(run: => DataFrame): Unit =
    test(s"$runner: a second run under the same name replays the whole backlog") {
      def stats = StreamOps.ReplayMetrics.snapshot.getOrElse(metricKey,
        fail(s"no replay metrics recorded under $metricKey"))
      val first = rows(run)
      val firstStats = stats
      val second = rows(run)
      val secondStats = stats
      assert(first.nonEmpty, s"$runner returned no rows")
      assert(second === first)
      assert(secondStats ne firstStats, "the second run drained no batch")
      assert(secondStats.n === firstStats.n)
    }

  twice("runToMemory", "harness_memory") {
    StreamOps.runToMemory(spark, ss => StreamOps.windowedCounts(events(ss)),
      "harness_memory", "complete")
  }

  twice("runToParquet (stateless)", "harness_pq_stateless") {
    StreamOps.runToParquet(spark,
      ss => events(ss).select("event_id", "user_id"), "harness_pq_stateless")
  }

  twice("runToParquet (stateful)", "harness_pq_stateful") {
    StreamOps.runToParquet(spark,
      ss => StreamOps.streamDedup(events(ss), Seq("user_id", "event_type"))
        .select("user_id", "event_type"),
      "harness_pq_stateful", stateful = true)
  }

  twice("runToParquetWithState", "harness_sinkst") {
    StreamOps.runToParquetWithState(spark,
      ss => StreamOps.sessionCounts(events(ss), "30 minutes"), "harness_sinkst",
      open => open.select(col("value.user_id").as("user_id"),
        col("value.session_window").as("session_window"),
        col("value.count").as("n_events")))
  }

  twice("runUpdateDeltas", "harness_delta") {
    StreamOps.runUpdateDeltas(spark,
      ss => events(ss).groupBy("event_type").agg(count(lit(1)).as("n")),
      "harness_delta", Seq("event_type"))
  }

  twice("runBatchTransforms", "harness_fb") {
    StreamOps.runBatchTransforms(spark, events(spark), "harness_fb")(
      _.groupBy("event_type").agg(count(lit(1)).as("n")))
  }

  twice("runCompleteSnapshot", "harness_snap") {
    StreamOps.runCompleteSnapshot(spark,
      ss => StreamOps.windowedCounts(events(ss)), "harness_snap")
  }

  private def datedSource: DataFrame = events(spark)
    .select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"))

  twice("runToDated", "dated:harness_dated") {
    StreamOps.runToDated(spark, datedSource, "ts", datedDir)
    graft.sources.DatedWriter.readDated(spark, datedDir, datedSource.schema)
  }

  twice("runToDatedRecoverable (fresh)", "recover:harness_recover") {
    StreamOps.runToDatedRecoverable(spark, datedSource, "ts", recoverDir,
      StreamOps.recoverCheckpointDir("harness_recover"), fresh = true)
    graft.sources.DatedWriter.readDated(spark, recoverDir, datedSource.schema)
  }

  /** The full audit trail; SinkAudit's API exposes only its memory-sink
    * view, so the backing set is read reflectively. */
  private def sinkAudit: Set[String] = {
    val f = StreamOps.SinkAudit.getClass.getDeclaredFields
      .find(f => classOf[java.util.Set[_]].isAssignableFrom(f.getType))
      .getOrElse(fail("SinkAudit has no backing set"))
    f.setAccessible(true)
    f.get(StreamOps.SinkAudit).asInstanceOf[java.util.Set[String]]
      .asScala.toSet
  }

  test("every run is audited, measured, and leaves one root per name") {
    assert(sinkAudit.filter(_.contains("harness_")) === Set(
      "memory:harness_memory",
      "parquet:harness_pq_stateless",
      "parquet:harness_pq_stateful",
      "parquet+state:harness_sinkst",
      "delta:harness_delta",
      "batch-deltas:harness_fb",
      "snapshot:harness_snap",
      s"dated:$datedDir",
      s"dated:$recoverDir"))
    assert(StreamOps.ReplayMetrics.snapshot.keySet.filter(_.contains("harness_")) ===
      Set("harness_memory", "harness_pq_stateless", "harness_pq_stateful",
        "harness_sinkst", "harness_delta", "harness_fb", "harness_snap",
        "dated:harness_dated", "recover:harness_recover"))
    val root = java.nio.file.Paths.get(StreamOps.scratchPath("harness")).getParent
    val entries = root.toFile.list().toSeq
    Seq("harness_memory", "harness_pq_stateless", "harness_pq_stateful",
      "harness_sinkst", "harness_delta", "harness_fb", "harness_snap",
      "harness_dated", "harness_recover").foreach { name =>
      val mine = entries.filter(e => s"(^|-)$name($$|-)".r.findFirstIn(e).isDefined)
      assert(mine.size <= 1, s"$name left ${mine.size} roots: ${mine.mkString(", ")}")
    }
  }
}
