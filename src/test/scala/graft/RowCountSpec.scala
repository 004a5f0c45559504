package graft

/** `Tables.rowCount` sums parquet footer row counts on the driver, so a
  * query builder can size a plan without running a job. The sum must be
  * exact: it picks join partitions, cap guards and grid cells. */
class RowCountSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("footer row counts equal count() for every sf0.001 table") {
    Tables.names.foreach { t =>
      assert(Tables.rowCount(spark, dir, t) === Tables.load(spark, dir, t).count(), t)
    }
  }

  test("footer row counts sum over a three-part-file table") {
    val root = PidScratch.claim(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-rowcount"))
    try {
      val path = root.resolve("three.parquet").toString
      spark.range(0, 1000).repartition(3).write.mode("overwrite").parquet(path)
      assert(Tables.load(spark, root.toString, "three").inputFiles.length === 3)
      assert(Tables.rowCount(spark, root.toString, "three") === 1000L)
      assert(Tables.load(spark, root.toString, "three").count() === 1000L)
    } finally PidScratch.deleteRecursive(root)
  }

  test("footer row counts start no Spark job") {
    val s = spark.newSession()
    Seq("documents", "embeddings", "events").foreach { t =>
      val (n, jobs, execs) = JobBudgetSpec.withCounts(s)(Tables.rowCount(s, dir, t))
      assert(n > 0, t)
      assert(jobs === 0 && execs.isEmpty, s"$t: $jobs jobs, executions $execs")
    }
  }
}
