package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DatedWriter

/** Scan-task packing under `GraftSession.builder`'s file confs
  * (`maxPartitionBytes` 2 MB, `openCostInBytes` 64 KB, `minPartitionNum`
  * 1): many small files pack into a few tasks of about 2 MB, while a
  * single file plans exactly the splits it had under Spark's 4 MB open
  * cost and one-partition-per-core floor.
  *
  * The core count reaches the split arithmetic only as the session's
  * leaf-node parallelism (`spark.sql.leafNodeDefaultParallelism`,
  * `defaultParallelism` when unset, i.e. n under `local[n]`), so the
  * 1-, 4- and 8-core cases set that conf on a `newSession()` of the
  * shared `local[4]` context. A replay session keeps one task per
  * file (`StreamOps.replaySession`). */
class ScanPackingSpec extends SparkSpec {
  private val MB = 1024L * 1024
  private val OpenCost = 64L * 1024

  private val root = PidScratch.claim(
    Paths.get(sys.props("java.io.tmpdir"), "graft-scanpacking"))

  override def afterAll(): Unit =
    try PidScratch.deleteRecursive(root) finally super.afterAll()

  private def scanPartitions(df: DataFrame): Int =
    df.queryExecution.toRdd.getNumPartitions

  private def parquetFiles(dir: Path): Seq[Path] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally st.close()
  }

  /** One parquet file of `rows` incompressible longs, written with
    * `rowGroupBytes` row groups. */
  private def oneFile(name: String, rows: Long, rowGroupBytes: Long): (String, Long) = {
    val dir = root.resolve(name)
    spark.range(rows).select(xxhash64(col("id")).as("h")).coalesce(1)
      .write.mode("overwrite").option("parquet.block.size", rowGroupBytes.toString)
      .parquet(dir.toString)
    val files = parquetFiles(dir)
    assert(files.size === 1, s"$name: fixture is not one file")
    (dir.toString, Files.size(files.head))
  }

  /** A session whose planner sees `cores` leaf-node parallelism. */
  private def withCores(cores: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.leafNodeDefaultParallelism", cores.toString)
    s
  }

  test("a 30-date zone of small files reads back in a few packed scan partitions") {
    val dir = root.resolve("zone").toString
    val df = spark.range(3000).select(col("id"),
      expr("timestamp'2024-01-01 10:00:00' + make_interval(0,0,0,CAST(id % 30 AS INT),0,0,0)")
        .as("ts"),
      xxhash64(col("id")).as("v"))
    DatedWriter.writeDated(df, "ts", dir, filesPerDate = 1)
    val lens = parquetFiles(Paths.get(dir)).map(Files.size)
    assert(lens.size === 30, "fixture is not one file per date")
    val bound = (lens.map(_ + OpenCost).sum + 2 * MB - 1) / (2 * MB)
    val n = scanPartitions(DatedWriter.readDated(spark, dir, df.schema))
    assert(n <= bound && n < lens.size,
      s"30 files of ${lens.max} B at most planned $n scan partitions, bound $bound")
  }

  test("a single parquet file under 2 MB is one scan partition at 1, 4 and 8 cores") {
    // about 1 MB, one row group: Spark's per-core floor would cut it
    // into one chunk per core, all but one of them empty
    val (path, len) = oneFile("single", 130000, 128 * MB)
    assert(len > MB / 2 && len < 2 * MB, s"fixture is $len B")
    for (cores <- Seq(1, 4, 8)) {
      val n = scanPartitions(withCores(cores).read.parquet(path))
      assert(n === 1, s"$cores cores: a $len B file planned $n scan partitions")
    }
  }

  test("a file over 2 MB with 2 MB row groups plans the splits Spark's defaults plan") {
    val (path, len) = oneFile("large", 650000, 2 * MB)
    assert(len > 4 * MB, s"fixture is $len B")
    // the packing confs at Spark's defaults, maxPartitionBytes kept
    val defaults = spark.newSession()
    defaults.conf.set("spark.sql.files.openCostInBytes", (4 * MB).toString)
    defaults.conf.unset("spark.sql.files.minPartitionNum")
    val before = scanPartitions(defaults.read.parquet(path))
    val after = scanPartitions(spark.read.parquet(path))
    assert(after === before)
    assert(after === (len + 2 * MB - 1) / (2 * MB))
  }

  test("a replay session plans one scan task per staged file") {
    // a replay's staged slices split its decode across cores, so they
    // must not pack like the small files of a read-back
    val dir = root.resolve("slices").toString
    spark.range(4000).select(col("id"), xxhash64(col("id")).as("h")).repartition(8)
      .write.mode("overwrite").parquet(dir)
    assert(parquetFiles(Paths.get(dir)).size === 8)
    assert(scanPartitions(spark.read.parquet(dir)) === 1)
    val replay = graft.streaming.StreamOps.replaySession(spark, stateful = false,
      noFlush = false)
    assert(scanPartitions(replay.read.parquet(dir)) === 8)
  }
}
