package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.StreamOps

/** Generated code compiled in one session is reused by the next.
  *
  * Spark keys its JVM-wide compiled-class cache on (context classloader,
  * code); with artifact isolation on, every session gets its own
  * classloader and recompiles byte-identical code. GraftSession.builder
  * turns isolation off, so a fresh newSession() — a timed pass, a
  * replay child — compiles nothing a previous session already did.
  * This is the tripwire for a Spark upgrade that renames the conf or
  * changes the cache key. Forked suites run one after another, so the
  * JVM-global compile counter only moves for this suite's work. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while `body` runs. */
  private def compiled[T](body: => T): (T, Long) = {
    val before = compiles
    val out = body
    (out, compiles - before)
  }

  test("a second newSession() recompiles nothing for the same aggregate") {
    def run(s: SparkSession) =
      s.range(100000).selectExpr("sum(id * 3)", "max(id % 7)").collect().toSeq
    val first = run(spark.newSession())
    val (second, n) = compiled(run(spark.newSession()))
    assert(second === first)
    assert(n === 0L, "classes recompiled in the second session")
  }

  test("a second replay of the same source compiles 0 classes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen-reuse-")
    spark.range(1000)
      .selectExpr("id AS event_id", "id * 60000000000 AS ts", "id % 10 AS user_id",
        "IF(id % 3 = 0, 'click', 'view') AS event_type", "1.0d AS value",
        "'{}' AS props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    def replay() = StreamOps.runToMemory(spark,
      ss => StreamOps.windowedCounts(ss.readStream
        .schema(StreamOps.EventsSchema).parquet(s"$dir/events.parquet")),
      "codegen_reuse_sink", "complete")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val out = replay()
    val first = rows(out)
    val (second, n) = compiled(rows(replay()))
    assert(second === first)
    assert(n === 0L, "classes recompiled by the second replay")
    val child = out.sparkSession
    assert(child ne spark, "the replay ran in a child session")
    assert(child.conf.get("spark.sql.artifact.isolation.enabled") === "false")
  }
}
