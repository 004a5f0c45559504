package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables.
  *
  * Plain `spark.read.parquet` so Catalyst's parquet source handles column
  * pruning + predicate pushdown; never cache here (callers decide).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One-time-inferred schema per table path — the loader's stand-in for
  // a catalog/metastore entry. `spark.read.parquet` without a schema
  // re-infers from footers on EVERY call (~100-130 ms per reference on
  // this host); a deployed engine resolves table schemas from its
  // catalog exactly once, and the DuckDB oracle's CREATE VIEW pays its
  // bind cost once outside the per-query timings, so per-reference
  // re-inference is a harness artifact, not engine work. The cached
  // value IS the inferred schema (same session configs apply), so
  // downstream type dispatch (e.g. normalizeTs) is unchanged. Keyed by
  // (reader-config fingerprint, path): distinct vintages/scale factors
  // live in distinct dirs, and a second session in the same JVM with
  // different parquet reader configs (nanosAsLong / NTZ inference flip
  // what type a footer infers to) gets its own entries instead of
  // silently inheriting the first session's inference.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** The parquet reader configs that change what schema inference
    * returns for the same footer — the cache-key fingerprint. */
  private def readerFingerprint(spark: SparkSession): String =
    Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp")
      .map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")

  /** The cached-catalog schema of a parquet path (inferred on first
    * use). Only for paths whose schema is fixed for the process
    * lifetime — the sf tables and their staged copies. */
  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(readerFingerprint(spark) + "\u0000" + path,
      _ => spark.read.parquet(path).schema)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Exact row count of a table, summed from the parquet footers of its
    * input files on the driver: the other half of the catalog stand-in
    * (a catalog answers `numRows` from its table statistics). No Spark
    * job runs, so a query builder can size a plan (join partitions, a
    * cap guard, a grid cell) before anything executes. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    load(spark, sfDir, name).inputFiles.iterator.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Canonical engine representation of `events.ts`: epoch NANOSECOND
    * Long. The driver's parquet has shipped it two ways across rounds —
    * INT64 TIMESTAMP(NANOS) (read as Long under nanosAsLong) and plain
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) — and GenScale's 10x
    * copies write raw BIGINT nanos. Normalizing AT THE LOADER keeps
    * every downstream plan and every DuckDB oracle (which computes
    * `epoch_us(ts)` — exact under both source types) byte-identical
    * regardless of which vintage the input dir carries. The µs→ns
    * widening is a *1000 column op the scan prunes like any other; no
    * precision exists below µs in either source, so nothing is invented.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        // session TZ is pinned UTC (GraftSession), so the NTZ→TIMESTAMP
        // cast reinterprets the same micros value rather than shifting it
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df // already Long nanos
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
