package graft

import java.nio.file.Files

import graft.plans.SmallSortFinish
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** SmallSortFinish: a global sort over a small, size-bounded input runs
  * in one task with no range exchange, statically (relation sizes) and
  * at runtime (a materialized aggregate stage), and returns the rows of
  * a session without the rule in the same order. Everything it must
  * leave alone keeps its range exchange or its TakeOrderedAndProject. */
class SmallSortFinishSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import JobBudgetSpec.withCounts

  private val rows = (1 to 2000).map(i => (i % 37, i.toLong, s"v$i"))

  /** A LocalRelation (sized at planning, so the static rule sees it). */
  private def local(s: SparkSession): DataFrame =
    s.createDataFrame(rows).toDF("k", "x", "s")

  /** An RDD scan: no size until a stage measures it, so only the
    * runtime rule can finish its sort. */
  private def unsized(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 4)).toDF("k", "x", "s")

  private def grouped(df: DataFrame): DataFrame =
    df.groupBy("k").agg(sum("x").as("sx"), count(lit(1)).as("n")).orderBy(col("sx").desc)

  private def withoutRule: SparkSession = {
    val s = spark.newSession()
    val excluded = "spark.sql.optimizer.excludedRules"
    s.conf.set(excluded,
      (s.conf.getOption(excluded).toSeq :+ SmallSortFinish.ruleName).mkString(","))
    s.conf.set("spark.sql.adaptive.optimizer.excludedRules", SmallSortFinish.ruleName)
    s
  }

  private def rangeExchanges(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.size

  /** (rows, jobs, range exchanges in the final plan) of one collect. */
  private def run(df: DataFrame): (Seq[org.apache.spark.sql.Row], Int, Int) = {
    val (out, jobs, _) = withCounts(df.sparkSession)(df.collect().toSeq)
    (out, jobs, rangeExchanges(df))
  }

  private def finished(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case Repartition(1, false, _) => true
      case _ => false
    }

  Seq("static" -> local _, "runtime" -> unsized _).foreach { case (phase, input) =>
    test(s"a small groupBy-orderBy sorts in one task ($phase): 2 fewer jobs, same rows") {
      val (got, jobs, ranges) = run(grouped(input(spark.newSession())))
      val (want, baseJobs, baseRanges) = run(grouped(input(withoutRule)))
      assert(baseRanges === 1 && ranges === 0)
      assert(got === want)
      assert(jobs === baseJobs - 2, s"$jobs jobs with the rule, $baseJobs without")
    }

    test(s"a sort whose input is above the floor keeps its range exchange ($phase)") {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
      val (got, jobs, ranges) = run(grouped(input(s)))
      val (want, baseJobs, _) = run(grouped(input(withoutRule)))
      assert(ranges === 1)
      assert(got === want && jobs === baseJobs)
    }
  }

  test("the static rule alone finishes a sort over a relation") {
    assert(finished(grouped(local(spark.newSession()))))
    assert(!finished(grouped(unsized(spark.newSession()))))
  }

  test("orderBy + limit stays a TakeOrderedAndProject") {
    val df = grouped(local(spark.newSession())).limit(5)
    assert(!finished(df))
    assert(find(df.queryExecution.executedPlan)(_.isInstanceOf[TakeOrderedAndProjectExec]).isDefined)
    val projected = local(spark.newSession()).orderBy("x").select("k").limit(5)
    assert(!finished(projected))
  }

  test("a sort over repartition(n) keeps its spread") {
    val df = local(spark.newSession()).repartition(4).orderBy("x")
    assert(!finished(df))
    val (out, _, ranges) = run(df)
    assert(ranges === 1 && out.map(_.getLong(1)) === (1L to 2000L))
    assert(collectWithSubqueries(df.queryExecution.executedPlan) {
      case c: CoalesceExec => c
    }.isEmpty)
  }

  test("a sort over explode is left alone") {
    val df = local(spark.newSession())
      .select(col("k"), explode(array(col("x"), col("x") + 1)).as("y"))
      .orderBy("y", "k")
    assert(!finished(df))
    assert(run(df)._3 === 1)
  }

  test("a streaming sort is left alone") {
    val dir = Files.createTempDirectory("graft-small-sort-").toFile
    local(spark).coalesce(1).write.parquet(s"$dir/in")
    val sink = "small_sort_finish_stream"
    val q = spark.readStream.schema("k INT, x LONG, s STRING").parquet(s"$dir/in")
      .groupBy("k").count().orderBy("k")
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.optimizedPlan
    assert(!plan.exists(_.isInstanceOf[Repartition]), plan.treeString)
    assert(spark.table(sink).count() === 37)
  }
}
