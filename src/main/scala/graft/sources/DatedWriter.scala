package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.PidScratch

/** Date-partitioned landing writer mirroring the reference's
  * date-rotated JSONL output (kpt/poller/writer.py:18-57
  * `build_file_path` / `_should_rotate`: one output file per yyyyMMdd
  * date). In Spark the same contract is a `partitionBy(date_key)`
  * write: each date lands in its own directory, an append goes to the
  * partition its rows' timestamps derive (dynamic partition overwrite
  * untouched dates), and — the property rotation exists to provide —
  * readers PRUNE to the dates they ask for instead of scanning the
  * whole landing zone (asserted in DatedWriterSpec).
  */
object DatedWriter {

  /** Writes `df` partitioned by the yyyyMMdd image of `tsCol`.
    *
    * The shuffle before the write is the point: `partitionBy` alone
    * writes from whatever partitioning the upstream plan has, so every
    * task emits a file for every date it holds — up to |tasks|×|dates|
    * tiny files, the classic landing-zone killer at scale. Clustering
    * by (date_key, salt) first bounds output to at most `filesPerDate`
    * files per date partition while keeping `filesPerDate`-way write
    * parallelism within a hot date (salting by date alone would funnel
    * each date through one task). The salt is derived from row content
    * (deterministic), so shuffle retries re-route rows identically;
    * bit-identical duplicate rows co-locating is fine here — the bound
    * is files-per-date, not bytes-per-file. For byte-exact file sizing
    * layer `spark.sql.files.maxRecordsPerFile` on top. */
  def writeDated(df: DataFrame, tsCol: String, outDir: String,
                 format: String = "parquet", mode: String = "overwrite",
                 filesPerDate: Int = 4): Unit = {
    require(filesPerDate >= 1, s"filesPerDate=$filesPerDate must be >= 1")
    val dated = df.withColumn("date_key", date_format(col(tsCol), "yyyyMMdd"))
    val salt = pmod(xxhash64(df.columns.map(col): _*), lit(filesPerDate))
    // EXPLICIT partition count: a bare repartition(cols) lets AQE
    // coalesce the small shuffle to ONE post-shuffle partition
    // (advisory 64 MB >> a replay batch), which turns the write into a
    // single sequential sort-based task opening |dates| parquet
    // writers one after another — measured 0.75 -> 0.52 s at sf0.1.
    // Pinning the session's shuffle parallelism keeps whole
    // (date, salt) groups per task (≤1 file per group either way) with
    // the date dirs written concurrently.
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    dated.repartition(parts, col("date_key"), salt)
      .write.partitionBy("date_key").format(format).mode(mode).save(outDir)
  }

  /** Reads a dated landing dir written from frames of schema
    * `written` (the frame [[writeDated]] was given, without date_key).
    * The schema is the caller's, so the read runs no footer-inference
    * job, and date_key is declared a string: the digits-only directory
    * value would otherwise infer as int, and the partition column must
    * compare like the writer produced it. */
  def readDated(s: SparkSession, outDir: String, written: StructType): DataFrame =
    s.read.schema(written.add("date_key", StringType)).parquet(outDir)

  /** Compacts a dated landing zone down to `filesPerDate` files per
    * date partition — the small-files maintenance job every appended
    * landing zone needs: a micro-batched sink lands one file per
    * (batch, date), so a zone's file count grows with BATCHES while
    * its data grows with rows, and scan planning/listing cost follows
    * the file count. One shuffle clustered on (date_key, salt) — the
    * same bounded-output discipline as [[writeDated]] — rewrites the
    * zone into a staging dir, then two directory renames swap it in.
    * A reader never sees a MIXED zone (each rename is atomic), but the
    * zone path is briefly ABSENT between the two renames — run this as
    * a maintenance job in a reader-quiet window (its natural slot), or
    * front it with a catalog/symlink pointer flip where readers cannot
    * be paused. A crash inside that window strands the original zone
    * at `<zone>__precompact`; the next compactDated call (or a manual
    * rename back) restores it — recovery is self-healing and the data
    * is row-identical either way, which the oracle gate pins end to
    * end.
    *
    * Refuses any target that is not shaped like a dated zone (only
    * date_key= dirs and _/. bookkeeping entries), and carries
    * bookkeeping entries (markers, _commits) across the swap
    * untouched. Scale: cost is one read+shuffle+write of the zone's
    * DATA; at 100 TB this runs per date partition or per recent-date
    * window instead of whole-zone (pass a zone subdir). */
  def compactDated(s: SparkSession, outDir: String,
                   filesPerDate: Int = 1): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    require(filesPerDate >= 1, s"filesPerDate=$filesPerDate must be >= 1")
    val root = Paths.get(outDir)
    // crash recovery: a previous run that died between its two swap
    // renames left the zone absent and the original at __precompact —
    // restore it before anything else (the stranded copy is the intact
    // pre-compaction zone, so restoring loses nothing)
    val stranded = Paths.get(outDir + "__precompact")
    if (!Files.isDirectory(root) && Files.isDirectory(stranded))
      Files.move(stranded, root, StandardCopyOption.ATOMIC_MOVE)
    require(Files.isDirectory(root), s"compactDated: no zone at $outDir")
    val entries = {
      val st = Files.list(root)
      try st.iterator().asScala.toList finally st.close()
    }
    val (book, dataDirs) = entries.partition { p =>
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }
    require(dataDirs.forall(p => p.getFileName.toString.startsWith("date_key=") &&
      Files.isDirectory(p)),
      s"compactDated: refusing '$outDir' — entries other than date_key= " +
        "partitions and _/. bookkeeping")
    if (dataDirs.isEmpty) return
    val staging = Paths.get(outDir + "__compacting")
    PidScratch.deleteRecursive(staging)
    // read WITHOUT the date_key string normalization: partitionBy must
    // write back the identical directory values
    val df = s.read.parquet(outDir)
    val dataCols = df.columns.filterNot(_ == "date_key").map(col)
    val salt = pmod(xxhash64(dataCols: _*), lit(filesPerDate))
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(parts, col("date_key"), salt)
      .write.partitionBy("date_key").mode("overwrite").parquet(staging.toString)
    // bookkeeping rides INSIDE staging before the swap: copying it
    // after the staging→root rename left a crash window where the
    // originals sat only in the doomed __precompact tree (whose
    // recovery path restores nothing once root exists) — a _SUCCESS
    // or _commits entry could be permanently lost while data survived
    book.foreach { p =>
      val st = Files.walk(p)
      try st.iterator().asScala.foreach { q =>
        val t = staging.resolve(root.relativize(q))
        if (Files.isDirectory(q)) Files.createDirectories(t)
        else Files.copy(q, t, StandardCopyOption.REPLACE_EXISTING)
      } finally st.close()
    }
    // swap: old zone aside, staging (data + bookkeeping) in
    val old = Paths.get(outDir + "__precompact")
    PidScratch.deleteRecursive(old)
    Files.move(root, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, root, StandardCopyOption.ATOMIC_MOVE)
    PidScratch.deleteRecursive(old)
  }

  /** Replaces `dst` with a file-level copy of the `src` tree (hard
    * links where the filesystem allows). For handing a STAGED input
    * zone/checkpoint to a consumer that mutates it in place (renames
    * into, deletes from, or compacts over the clone): new names never
    * touch the pristine tree, and a rename/unlink of a linked file
    * only drops the clone's name. Bench-shape rationale: a query whose
    * subject is a MAINTENANCE or RECOVERY job should measure that job,
    * not the re-construction of its input state per invocation. */
  def cloneTree(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val s0 = Paths.get(src)
    val d0 = Paths.get(dst)
    PidScratch.deleteRecursive(d0)
    val st = Files.walk(s0)
    try st.iterator().asScala.foreach { p =>
      val t: Path = d0.resolve(s0.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else try Files.createLink(t, p)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(p, t)
      }
    } finally st.close()
  }
}
