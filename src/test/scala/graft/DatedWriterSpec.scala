package graft

import graft.sources.DatedWriter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Date-rotation semantics of the partitioned landing writer: per-date
  * directories, append lands in the right partition, and — the point
  * of rotating at all — a date filter prunes the scan to the asked-for
  * partitions.
  */
class DatedWriterSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("dated").toString + "/land"

  private def day(d: Int, id: Long) =
    (id, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"))

  test("writes one directory per date and reads back the same rows") {
    val dir = freshDir()
    val df = Seq(day(1, 1L), day(1, 2L), day(2, 3L)).toDF("id", "ts")
    DatedWriter.writeDated(df, "ts", dir)
    val dates = new java.io.File(dir).list().filter(_.startsWith("date_key="))
    assert(dates.toSet === Set("date_key=20240101", "date_key=20240102"))
    val back = DatedWriter.readDated(spark, dir)
      .select("id", "date_key").as[(Long, String)].collect().toSet
    assert(back === Set((1L, "20240101"), (2L, "20240101"), (3L, "20240102")))
  }

  test("append rotates into the new date without touching existing ones") {
    val dir = freshDir()
    DatedWriter.writeDated(Seq(day(1, 1L)).toDF("id", "ts"), "ts", dir)
    DatedWriter.writeDated(Seq(day(2, 2L)).toDF("id", "ts"), "ts", dir,
      mode = "append")
    val back = DatedWriter.readDated(spark, dir)
      .select("id", "date_key").as[(Long, String)].collect().toSet
    assert(back === Set((1L, "20240101"), (2L, "20240102")))
  }

  test("files per date partition stay bounded regardless of upstream parallelism") {
    val dir = freshDir()
    // 2000 rows over 3 dates, arriving in 16 upstream partitions: the
    // naive partitionBy write would emit up to 16 files per date
    val df = spark.range(2000).repartition(16)
      .withColumn("ts", expr("timestamp'2024-01-01 10:00:00' + make_interval(0,0,0,CAST(id % 3 AS INT),0,0,0)"))
      .select(col("id"), col("ts"))
    DatedWriter.writeDated(df, "ts", dir, filesPerDate = 4)
    val dates = new java.io.File(dir).listFiles().filter(_.getName.startsWith("date_key="))
    assert(dates.length === 3)
    dates.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= 4, s"${d.getName} wrote $files files")
    }
    // and nothing was lost in the pre-write shuffle
    assert(DatedWriter.readDated(spark, dir).count() === 2000)
  }

  test("runToDated replay is exactly-once: a re-run never double-counts") {
    val dir = freshDir()
    val src = Seq(day(1, 1L), day(1, 2L), day(2, 3L)).toDF("id", "ts")
    val stage = java.nio.file.Files.createTempDirectory("datedsrc").toString
    src.coalesce(1).write.mode("overwrite").parquet(stage)
    def replay(): Unit = graft.streaming.StreamOps.runToDated(spark,
      spark.readStream.schema(src.schema).parquet(stage), "ts", dir)
    replay(); replay() // second replay must REPLACE, not append onto, the zone
    val back = DatedWriter.readDated(spark, dir)
    assert(back.count() === 3)
    assert(back.groupBy("date_key").count().orderBy("date_key")
      .as[(String, Long)].collect().toSeq === Seq(("20240101", 2L), ("20240102", 1L)))
  }

  test("recoverable replay: planted crash loses the buffered batch, restart recovers it exactly once") {
    import graft.streaming.StreamOps
    val dir = freshDir()
    val ckpt = java.nio.file.Files.createTempDirectory("recoverckpt").toString
    // 4 source files -> 4 micro-batches (maxFilesPerTrigger=1 on the
    // recoverable path is the caller's staging; emulate with 4 files)
    val rows = (1L to 40L).map(i => day((i % 4 + 1).toInt, i))
    val stage = java.nio.file.Files.createTempDirectory("recoversrc").toString
    val srcDf = rows.toDF("id", "ts")
    srcDf.repartition(4).write.mode("overwrite").parquet(stage)
    def src = spark.readStream.schema(srcDf.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)

    // session 1 drops right after batch 1 is staged (buffered)
    intercept[StreamOps.PlantedStreamFailure] {
      StreamOps.runToDatedRecoverable(spark, src, "ts", dir, ckpt,
        failAtBatch = Some(1L), fresh = true)
    }
    val afterCrash = DatedWriter.readDated(spark, dir).count()
    assert(afterCrash < 40, "crash point must leave the zone incomplete")
    // the buffered rows sit in staging, not the zone — the reference's
    // buffer file surviving the dropped session
    assert(new java.io.File(s"$dir/_staging/batch=1").exists())

    // session 2: same checkpoint, no failure — recovery + drain
    StreamOps.runToDatedRecoverable(spark, src, "ts", dir, ckpt)
    val back = DatedWriter.readDated(spark, dir)
    assert(back.count() === 40, "recovered zone must hold every row exactly once")
    assert(back.select("id").distinct().count() === 40, "no duplicated rows")

    // a THIRD run over the same checkpoint is a no-op on the zone
    StreamOps.runToDatedRecoverable(spark, src, "ts", dir, ckpt)
    assert(DatedWriter.readDated(spark, dir).count() === 40)
  }

  test("runToDated refuses to clear a directory that is not a landing zone") {
    val dir = java.nio.file.Files.createTempDirectory("notazone")
    java.nio.file.Files.writeString(dir.resolve("precious.parquet"), "data")
    val src = Seq(day(1, 1L)).toDF("id", "ts")
    val stage = java.nio.file.Files.createTempDirectory("datedsrc2").toString
    src.coalesce(1).write.mode("overwrite").parquet(stage)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.runToDated(spark,
        spark.readStream.schema(src.schema).parquet(stage), "ts", dir.toString)
    }
    assert(e.getMessage.contains("refusing to clear"))
    // the miswired target survives untouched
    assert(java.nio.file.Files.exists(dir.resolve("precious.parquet")))
  }

  /** A one-row stream for the recoverable replay's refusal cases, which
    * refuse before the stream ever starts. */
  private def oneRowStream() = {
    val src = Seq(day(1, 1L)).toDF("id", "ts")
    val stage = java.nio.file.Files.createTempDirectory("datedsrc3").toString
    src.coalesce(1).write.mode("overwrite").parquet(stage)
    spark.readStream.schema(src.schema).parquet(stage)
  }

  test("runToDatedRecoverable(fresh) refuses to clear an unmarked non-empty directory") {
    import java.nio.file.Files
    // shaped like a zone but unmarked: runToDated would clear it, the
    // fresh recoverable clear demands the marker
    val dir = Files.createTempDirectory("unmarked")
    Files.createDirectory(dir.resolve("date_key=20240101"))
    val ckpt = Files.createTempDirectory("recoverckpt2").toString
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.runToDatedRecoverable(spark, oneRowStream(),
        "ts", dir.toString, ckpt, fresh = true)
    }
    assert(e.getMessage.contains("refusing to clear"))
    assert(Files.isDirectory(dir.resolve("date_key=20240101")))
    assert(!Files.exists(dir.resolve(graft.streaming.StreamOps.DatedZoneMarker)))
  }

  test("runToDatedRecoverable refuses to adopt a directory that is not a landing zone") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("notazone2")
    Files.writeString(dir.resolve("precious.parquet"), "data")
    val ckpt = Files.createTempDirectory("recoverckpt3").toString
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.runToDatedRecoverable(spark, oneRowStream(),
        "ts", dir.toString, ckpt)
    }
    assert(e.getMessage.contains("refusing to adopt"))
    assert(Files.readString(dir.resolve("precious.parquet")) === "data")
    // the marker that would arm a later clear was never planted
    assert(!Files.exists(dir.resolve(graft.streaming.StreamOps.DatedZoneMarker)))
  }

  test("compactDated: files per date drop to the target, rows identical, bookkeeping kept") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir()
    // 60 rows over 3 dates at filesPerDate=4 -> a fragmented zone
    val rows = (1 to 60).map(i => day(i % 3 + 1, i.toLong))
    DatedWriter.writeDated(rows.toDF("id", "ts"), "ts", dir, filesPerDate = 4)
    val marker = java.nio.file.Paths.get(dir, "_ZONE_MARKER")
    java.nio.file.Files.createFile(marker)
    def filesPerDate(): Map[String, Int] =
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("date_key="))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.list(p).iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))).toMap
    val before = DatedWriter.readDated(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(filesPerDate().values.exists(_ > 1), "fixture not fragmented")
    DatedWriter.compactDated(spark, dir, filesPerDate = 1)
    assert(filesPerDate().values.forall(_ === 1), s"not compacted: ${filesPerDate()}")
    val after = DatedWriter.readDated(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(after === before)
    assert(java.nio.file.Files.exists(marker), "bookkeeping lost in the swap")
    // no residue from the swap
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + "__compacting")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + "__precompact")))
  }

  test("compactDated refuses a directory that is not a dated zone") {
    val dir = java.nio.file.Files.createTempDirectory("notzone")
    java.nio.file.Files.createFile(dir.resolve("data.parquet"))
    intercept[IllegalArgumentException] {
      DatedWriter.compactDated(spark, dir.toString)
    }
    assert(java.nio.file.Files.exists(dir.resolve("data.parquet")))
  }

  test("cloneTree and compactDated close every directory handle they open") {
    val pristine = freshDir()
    DatedWriter.writeDated((1 to 20).map(i => day(i % 2 + 1, i.toLong)).toDF("id", "ts"),
      "ts", pristine, filesPerDate = 2)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pristine, "_commits"))
    val work = freshDir()
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    def round(): Unit = {
      DatedWriter.cloneTree(pristine, work)
      DatedWriter.compactDated(spark, work)
    }
    round() // the first round's Spark job opens what it keeps open
    val before = openFds()
    val rounds = 50
    (1 to rounds).foreach(_ => round())
    // a leaked directory stream is one fd per round; the slack absorbs
    // Spark's own file handles coming and going
    val grown = openFds() - before
    assert(grown < rounds / 5, s"$grown fds more after $rounds rounds")
    assert(DatedWriter.readDated(spark, work).count() === 20)
  }

  test("a date filter reaches the scan as a partition filter") {
    val dir = freshDir()
    val df = (1 to 10).map(d => day(d, d.toLong)).toDF("id", "ts")
    DatedWriter.writeDated(df, "ts", dir)
    val q = DatedWriter.readDated(spark, dir)
      .filter(col("date_key") >= "20240103" && col("date_key") <= "20240104")
    assert(q.collect().map(_.getAs[Long]("id")).toSet === Set(3L, 4L))
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.metadata("PartitionFilters").nonEmpty)
    // pruning happened: of the 10 date partitions, only the 2 asked-for
    // ones were actually opened (numFiles counts post-pruning files)
    assert(scans.head.metrics("numFiles").value === 2)
  }
}
