package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.queries.{DedupQueries, SimilarityQueries}
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query Spark job budget for the dedup and similarity families
  * and three queries whose final sort finishes in one task, at
  * sf0.001. Fixed per-job latency dominates small-input passes, and
  * nothing else pins how many jobs a query runs, so a change that adds
  * jobs fails here.
  *
  * Each query runs in a fresh `newSession()` (its staged frames and
  * values are rebuilt, as on a cold pass) and is counted twice: jobs
  * during the registry build call, then jobs during a noop save. The
  * budget is `src/test/resources/job_budget.tsv` (query, build, save).
  * A change that lowers a count lowers its budget; raising one is a
  * recorded decision, not a silent edit. */
class JobBudgetSpec extends SparkSpec {
  import JobBudgetSpec.withCounts

  private val dir = "/root/testdata/sf0.001"

  // table schemas are inferred once per JVM (Tables' catalog stand-in)
  // and the streamed embeddings and events slices are staged once per
  // host (under /tmp/graft-stream, kept across JVMs): do both here so
  // no query's count depends on which suite or JVM ran first
  override def beforeAll(): Unit = {
    super.beforeAll()
    val s = spark.newSession()
    Tables.documents(s, dir)
    Tables.embeddings(s, dir)
    Seq(2, 4).foreach(graft.streaming.StreamOps.embeddingsStreamSliced(s, dir, _))
    graft.streaming.StreamOps.eventsStream(s, dir)
    graft.streaming.StreamOps.eventsStreamWide(s, dir,
      graft.streaming.StreamOps.wideReplayFiles(s))
  }

  // beyond the two families: the perfbench pipeline replays and
  // interactive geo_range_query, whose final sorts SmallSortFinish
  // finishes in one task (no range-sample job, no range shuffle)
  private val sortFinished = Seq("st_windowed_counts", "st_dated_sink", "geo_range_query")

  private val queries = DedupQueries.queries ++ SimilarityQueries.queries ++
    sortFinished.map(q => q -> SparkEntry.queries(q))

  private lazy val budget: Map[String, (Int, Int)] = {
    val src = scala.io.Source.fromResource("job_budget.tsv")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, build, save) = l.split("\t")
        q -> (build.toInt, save.toInt)
      }.toMap
    finally src.close()
  }

  test("the budget covers exactly the dd_*, similarity and sort-finished queries") {
    assert(budget.keySet === queries.keySet)
  }

  queries.keys.toSeq.sorted.foreach { q =>
    test(s"$q stays within its job budget") {
      val session = spark.newSession()
      val (df, build, _) = withCounts(spark)(queries(q)(session, dir))
      val (_, save, _) = withCounts(spark)(df.write.format("noop").mode("overwrite").save())
      info(s"jobs\t$q\t$build\t$save")
      val (maxBuild, maxSave) = budget.getOrElse(q, fail(s"no budget entry for $q"))
      assert(build <= maxBuild && save <= maxSave,
        s"$q ran $build build / $save save jobs; budget $maxBuild / $maxSave")
    }
  }

  test("connectedComponents runs one job per round and no SQL execution in its rounds") {
    import spark.implicits._
    // an n-chain has diameter n - 1, so the loop runs n rounds; the
    // final left join onto the broadcast labels then costs the same
    // jobs whatever the round count
    val joinJobs = Seq(3, 6).map { n =>
      val verts = (1L to n).toDF("doc_id")
      val pairs = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val (out, loopJobs, loopExecs) = withCounts(spark)(
        graft.operators.Dedup.connectedComponents(verts, "doc_id", pairs, "a_id", "b_id"))
      assert(loopJobs === n, s"$n-chain: $loopJobs loop jobs for $n rounds")
      // the one execution is the pairs' Dataset.rdd conversion (Spark
      // 4.1 runs it as an execution named "rdd"); the rounds add none
      assert(loopExecs === Seq("rdd"), s"$n-chain: SQL executions in the loop")
      val (rows, join, joinExecs) = withCounts(spark)(out.as[(Long, Long)].collect())
      assert(rows.toMap === (1L to n).map(_ -> 1L).toMap)
      assert(joinExecs === Seq("collect"), "the listener must see the collect")
      join
    }
    // 2: the labels' broadcast and the collect itself
    assert(joinJobs === Seq(2, 2), s"final join jobs vary with rounds or differ from 2: $joinJobs")
    info(s"6-chain: 6 loop jobs + ${joinJobs.head} final-join jobs")
  }

  test("updateComponents runs the loop over the new pairs only and equals a full recompute") {
    import spark.implicits._
    // prev: one 10-member cluster {100..109} and 50 untouched 2-member
    // clusters {1000 + 10k, 1001 + 10k}; batch doc 5 pairs with member
    // 104 and drags the big cluster to label 5, batch doc 7 is alone
    val big = (100L to 109L).map(_ -> 100L)
    val small = (0 until 50).flatMap { k =>
      val root = 1000L + 10 * k
      Seq(root -> root, (root + 1) -> root)
    }
    val prev = (big ++ small).toDF("id", "cluster_id")
    val batch = Seq(5L, 7L).toDF("doc_id")
    val newPairs = Seq((5L, 104L)).toDF("a_id", "b_id")
    // the loop's jobs are the ones outside any SQL execution (the
    // contraction's joins run inside the pairs' "rdd" execution)
    val (out, loopJobs, _) = withCounts(spark,
      e => Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))(
      graft.operators.Dedup.updateComponents(
        prev, "id", "cluster_id", batch, "doc_id", newPairs, "a_id", "b_id"))
    // the contracted edge (5, 100) has diameter 1: a lowering round
    // and an empty one, whatever the number of untouched clusters
    assert(loopJobs === 2, s"$loopJobs loop jobs")
    val oldPairs = (100L until 109L).map(i => (i, i + 1)) ++
      small.collect { case (id, root) if id != root => (root, id) }
    val full = graft.operators.Dedup.connectedComponents(
      prev.select($"id".as("doc_id")).union(batch), "doc_id",
      (oldPairs :+ ((5L, 104L))).toDF("a_id", "b_id"), "a_id", "b_id")
    val rows = out.as[(Long, Long)].collect()
    assert(rows.sorted.toSeq === full.as[(Long, Long)].collect().sorted.toSeq)
    val labels = rows.toMap
    assert(labels(109L) === 5L && labels(1011L) === 1010L)
  }
}

object JobBudgetSpec {
  /** `body`'s result, the jobs started (those `counted` accepts) and the
    * action names of the SQL executions (QueryExecutions reported to
    * `spark`'s listeners) finished while it ran, with the listener
    * bus drained on both sides. */
  def withCounts[T](spark: SparkSession,
                    counted: SparkListenerJobStart => Boolean = _ => true)
                   (body: => T): (T, Int, Seq[String]) = {
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    val jobs = new AtomicInteger
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e)) jobs.incrementAndGet()
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        execs.add(f)
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      val out = body
      ListenerBusBridge.drain(sc)
      (out, jobs.get, execs.asScala.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}
