package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.queries.{DedupQueries, SimilarityQueries}
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Per-query Spark job budget for the dedup and similarity families at
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
  private val dir = "/root/testdata/sf0.001"

  // table schemas are inferred once per JVM (Tables' catalog stand-in):
  // infer them here so no query's count depends on which suite ran first
  override def beforeAll(): Unit = {
    super.beforeAll()
    val s = spark.newSession()
    Tables.documents(s, dir)
    Tables.embeddings(s, dir)
  }

  private val queries = DedupQueries.queries ++ SimilarityQueries.queries

  private lazy val budget: Map[String, (Int, Int)] = {
    val src = scala.io.Source.fromResource("job_budget.tsv")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, build, save) = l.split("\t")
        q -> (build.toInt, save.toInt)
      }.toMap
    finally src.close()
  }

  /** `body`'s result and the jobs started while it ran, counted with
    * the listener bus drained on both sides. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusBridge.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("the budget covers exactly the registered dd_* and similarity queries") {
    assert(budget.keySet ===
      DedupQueries.queries.keySet ++ SimilarityQueries.queries.keySet)
  }

  queries.keys.toSeq.sorted.foreach { q =>
    test(s"$q stays within its job budget") {
      val session = spark.newSession()
      val (df, build) = withJobCount(queries(q)(session, dir))
      val (_, save) = withJobCount(df.write.format("noop").mode("overwrite").save())
      info(s"jobs\t$q\t$build\t$save")
      val (maxBuild, maxSave) = budget.getOrElse(q, fail(s"no budget entry for $q"))
      assert(build <= maxBuild && save <= maxSave,
        s"$q ran $build build / $save save jobs; budget $maxBuild / $maxSave")
    }
  }
}
