package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Recursive delete that CLOSES each directory stream (a bare
    * Files.list leaks the handle until GC — the StreamOps.listDir
    * lesson; this main keeps running through ~100 more dumps after a
    * withheld one). */
  private def deleteDir(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try {
        val it = st.iterator()
        while (it.hasNext) deleteDir(it.next())
      } finally st.close()
    }
    Files.deleteIfExists(p); ()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // GraftSession carries the required reader configs (nanosAsLong for
    // events.ts, NTZ inference) — a bare builder here would fail on the
    // events table and break every ta_*/ing_* dump.
    val spark = GraftSession.get(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (unset = all,
    // which is what the driver runs)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Surface the self-audit columns of the rows-only queries (recall /
    // rel_err / n_err) as a first-class artifact: the driver's rows
    // check sees only a count, so the quality number each approximate
    // operator carries is aggregated here from the just-written dumps —
    // a broken LSH shows recall_min 0.0 in audit.json instead of
    // passing as "some rows".
    val auditCols = Seq("recall", "rel_err", "n_err", "median_rel_err")
    val audits = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val path = s"$outDir/$name"
      if (!Files.exists(Paths.get(path))) None
      else {
        val df = spark.read.parquet(path)
        val present = df.columns.filter(auditCols.contains)
        // a FLOORED query whose audit column vanished (refactor drops
        // the recall column) must fail the gate, not silently skip the
        // floor check — withhold the dump exactly like a violation.
        // Short-circuit to None afterwards: the dump files are gone, so
        // falling through to df.agg below would scan deleted files and
        // abort the whole Verify run (r18 advice, medium).
        val missingFloorCol =
          SparkEntry.auditFloors.get(name).exists { case (colName, _, _) =>
            !df.columns.contains(colName)
          }
        if (missingFloorCol) {
          val colName = SparkEntry.auditFloors(name)._1
          System.err.println(
            s"[verify] $name AUDIT COLUMN MISSING: '$colName' not in " +
              s"dump schema — withholding dump so the rows gate fails")
          deleteDir(Paths.get(path))
          None
        }
        else if (present.isEmpty) None
        else {
          import org.apache.spark.sql.functions.{max, min}
          val aggs = present.flatMap(c =>
            Seq(min(c).as(s"${c}_min"), max(c).as(s"${c}_max")))
          val row = df.agg(aggs.head, aggs.tail: _*).head
          def v(f: String): Option[Double] = {
            val i = row.schema.fieldNames.indexOf(f)
            if (i < 0 || row.isNullAt(i)) None
            else Some(row.get(i).toString.toDouble)
          }
          // ENFORCE the advertised floor (SparkEntry.auditFloors): a
          // rows-only query whose audit column collapsed must fail the
          // driver-VISIBLE gate, not just a ScalaTest floor — withhold
          // its dump so the driver's rows check errs for it.
          val violation = SparkEntry.auditFloors.get(name).flatMap {
            case (colName, bound, isMin) =>
              // floor checks the WORST row: min for a >= floor,
              // max for a <= ceiling
              v(if (isMin) s"${colName}_min" else s"${colName}_max")
                .filter(x => if (isMin) x < bound else x > bound)
                .map(x => (colName, x, bound, isMin))
          }
          violation.foreach { case (c, x, bound, isMin) =>
            val rel = if (isMin) "<" else ">"
            System.err.println(
              s"[verify] $name AUDIT FLOOR VIOLATION: $c=$x $rel " +
                s"advertised ${if (isMin) "floor" else "ceiling"} $bound" +
                " — withholding dump so the rows gate fails visibly")
            deleteDir(Paths.get(path))
          }
          val kv = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            s""""$f": ${row.get(i)}"""
          } ++ violation.map { case (c, x, bound, _) =>
            s""""floor_violation": "$c=$x vs $bound""""
          }
          Some(s""""$name": {${kv.mkString(", ")}}""")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/audit.json"),
      audits.mkString("{", ",\n ", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
