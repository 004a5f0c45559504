package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared (key, TIME-BUCKET) decomposition plumbing for the per-key
  * ordered-window operators (lag windows, sessionization, lifecycle
  * prefix sums).
  *
  * A per-key window caps parallelism at |keys| and concentrates a hot
  * key's entire history in ONE sorted task: the round-14 zipf(1.5)
  * rehearsal (SCALE.md) put 39% of a 1M-row stream on one key and
  * measured the window family straggling at 1.65-2.33x — at 100 TB the
  * same shape is a single multi-TB sequential task. The escape hatch
  * is to partition the window on (key, time bucket) and repair the
  * cross-bucket seam with an EXACT carry (WindowDecompSpec checks it
  * row-identical to the single window at every bucket count): the
  * only rows a bucket cannot see are in earlier buckets, and
  * the per-key windows used here depend on that history only through a
  * bounded per-bucket summary (last row, prefix totals) that a
  * map-side-combined aggregate produces at |keys| x B rows.
  *
  * The decomposition engages by plan ESTIMATE — in ROWS, not bytes
  * ([[DefaultBucketRows]], the byte estimate divided by the schema's
  * row width): a hot key's sequential window cost is
  * per-row, so a byte threshold engages at wildly different hot-task
  * seconds depending on row width. Below the threshold the
  * single-window plan runs as-is (the carry machinery's fixed stages
  * cost more than the skew they remove at small volume), while an
  * UNKNOWN size estimates huge and buckets — the safe default for a
  * 100 TB scan. The threshold is the constant [[DefaultBucketRows]];
  * a caller that needs the bucketed plans at harness scale (the spec
  * harness, a skew rehearsal) forces a count through the operators'
  * `buckets` argument.
  */
object TimeBuckets {

  /** Estimated input ROWS per bucket above which a per-key window is
    * bucketed. Rows, not bytes: a hot key's sequential window task
    * costs per-ROW (sort comparisons, lag/scan passes), so a byte
    * threshold engages the hatch at wildly different hot-task costs
    * depending on row width — a two-long lag row hits 256 MB at ~6M
    * rows where a 1 KB document row hits it at 250k, a 24x swing in
    * the sequential seconds the threshold is supposed to bound. The
    * estimate therefore converts bytes to rows through the schema's
    * Catalyst default row width first.
    *
    * Calibration (CrossoverProbe, r16; 75%-hot-key streams, minima):
    * at EQUAL row counts slim (4-long) and wide (+3 doubles +string)
    * frames cost the same both single and bucketed (4M rows: 7.12 vs
    * 7.04 s single, 1.56 vs 1.62 s bucketed) — the crossover is a ROW
    * property, which is the whole case for this conversion. Under
    * heavy skew the bucketed side wins from ~1M rows (1.77→1.02 s) and
    * the gap grows monotonically (8M: 16.8→2.97 s); under uniform data
    * the seam machinery costs ~1 s flat (SCALE.md r15), amortized by
    * the time a multi-million-row job engages. 2M rows/bucket places
    * engagement where the skewed side already wins decisively for the
    * cheapest per-row operator (the slim lag) while compensating the
    * estimate's systematic row UNDER-count (~1.6x on the probe frames;
    * parquet file-relation byte estimates are compressed bytes, biasing
    * the same direction). */
  val DefaultBucketRows: Long = 2L * 1000 * 1000

  /** Catalyst-default row width of `df`'s schema, floored at 8 bytes so
    * a degenerate schema cannot explode the row estimate. */
  def estimatedRowWidth(df: DataFrame): Long =
    math.max(8L, df.schema.map(_.dataType.defaultSize.toLong).sum)

  /** Estimated input rows: plan byte estimate ÷ schema row width. */
  def estimatedRows(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes / estimatedRowWidth(df)

  /** Bucket count: one per [[DefaultBucketRows]] of estimated input
    * rows, capped at the session's shuffle parallelism (more buckets
    * than tasks only multiplies seams), floored at 1 (= stay
    * single-window). `buckets > 0` forces a count — the spec harness
    * pins B-invariance with it. */
  def bucketCount(df: DataFrame, buckets: Int): Int =
    if (buckets > 0) buckets
    else {
      val parts = BigInt(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      ((estimatedRows(df) / DefaultBucketRows) min parts max BigInt(1)).toInt
    }

  /** Per-key lag(1) of `lagCols` (ordered by tsCol, tieCol; appended as
    * `prev_<col>`), decomposed over (key, time bucket) above the size
    * threshold. The only pair a bucket cannot form is (last row of the
    * previous bucket, first row of this one); that predecessor is
    * recovered from a map-side-combined per-bucket aggregate carrying
    * the previous nonempty bucket's last row as ONE struct; a lagged
    * constant (__hasprev) marks the bucket's first row, so the carry
    * substitutes exactly there — never for a legitimately-null
    * mid-bucket lag value — and cannot tear (one struct). Row-identical
    * to the single window at every B (spec-asserted, including null
    * lag values); `key` must be non-null. */
  def lag1(df: DataFrame, key: String, tsCol: String, tieCol: String,
           lagCols: Seq[String], buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = bucketCount(df, buckets)
    val prevNames = lagCols.map("prev_" + _)
    if (b == 1) {
      val w = Window.partitionBy(key).orderBy(tsCol, tieCol)
      lagCols.zip(prevNames).foldLeft(df) { case (d, (c, p)) =>
        d.withColumn(p, lag(c, 1).over(w))
      }
    } else {
      val tb = withBucket(df, tsCol, b)
      val w = Window.partitionBy(col(key), col("__tb")).orderBy(tsCol, tieCol)
      val kw = Window.partitionBy(key).orderBy("__tb")
      val carry = tb.groupBy(col(key), col("__tb"))
        .agg(max_by(struct(lagCols.map(col): _*),
          struct(col(tsCol), col(tieCol))).as("__last"))
        .withColumn("__carry", lag("__last", 1).over(kw))
        .select(col(key), col("__tb"), col("__carry"))
      // __hasprev (a lagged constant) distinguishes "first row of the
      // bucket" from "predecessor's lagged VALUE is null": a bare
      // per-column coalesce substituted the cross-bucket carry for a
      // legitimately-null mid-bucket lag value, diverging from the
      // single-window plan on frames with null lagCols (r18 review;
      // in-tree callers lag non-null columns, but the operator's
      // B-invariance contract must hold for any frame)
      val lagged = lagCols.zip(prevNames).foldLeft(
        tb.withColumn("__hasprev", lag(lit(1), 1).over(w))) {
        case (d, (c, p)) => d.withColumn("__l_" + p, lag(c, 1).over(w))
      }
      lagged.join(carry, Seq(key, "__tb"))
        .select(df.columns.map(col) ++ lagCols.zip(prevNames).map {
          case (c, p) => when(col("__hasprev").isNull, col(s"__carry.$c"))
            .otherwise(col("__l_" + p)).as(p)
        }: _*)
    }
  }

  /** Appends `__tb` in [0, b): equal-width buckets of the NUMERIC time
    * column, bounds riding the plan as a broadcast 1-row aggregate (no
    * driver collect).
    *
    * SIBLING: RankOps.withGlobalRank carries the other copy (adds
    * null→-1 and NaN→last-bucket routing for VALUE columns — time
    * columns here are non-null non-NaN by the callers' contract). A
    * fix to the shared floor arithmetic must visit both; they differ
    * deliberately in edge handling, which is why they are not one
    * function. Bucketing
    * is monotone in the time column, so same time => same bucket and
    * every bucket's rows are contiguous in the per-key order; the
    * degenerate bounds (empty input, single timestamp) collapse to one
    * bucket. */
  def withBucket(df: DataFrame, tsCol: String, b: Int): DataFrame = {
    val bounds = df.agg(min(col(tsCol)).as("__lo"), max(col(tsCol)).as("__hi"))
    val w: Column = (col("__hi") - col("__lo")).cast("double") / b
    df.crossJoin(broadcast(bounds))
      .withColumn("__tb",
        when(col("__lo").isNull || (w <= 0), lit(0)).otherwise(
          least(greatest(
            floor((col(tsCol) - col("__lo")).cast("double") / w), lit(0L)),
            lit((b - 1).toLong)).cast("int")))
      .drop("__lo", "__hi")
  }
}
