package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** Backward as-of join: for every left row, attach the most recent
  * series row with series.time <= left.time, per key.
  *
  * Mirrors the reference's intent of correlating vehicle positions with
  * the hourly weather series (weather/pipeline/extract.py fetches hourly
  * rows keyed by time; the analysis joins "conditions at that moment").
  *
  * One mechanism, a broadcast binary-search probe:
  *  - [[packSeries]] builds the INDEX artifact: per key the series
  *    collapses to ONE row of time-sorted arrays (times as longs,
  *    payloads as aligned structs);
  *  - [[probePacked]] hands that row to every left row through a
  *    broadcast hash join on the keys, and plans.AsOfIndex picks the
  *    last series index with series.t <= left.t inside generated code
  *    (O(log |series|) per row, no allocation). The big side is never
  *    shuffled, sorted or unioned: scan → broadcast probe → project;
  *  - [[backwardBroadcast]] is their one-shot composition. A serving
  *    caller packs once, persists the index and probes each batch.
  *
  * Contract: the right side is a BOUNDED reference series — an hourly
  * weather series is |hours| × |keys| rows however large the position
  * stream grows — and unique per (keys, time). A series too large to
  * broadcast is not re-planned: it fails loudly in Spark's broadcast.
  *
  * Semantics (AsOfJoinSpec checks them against a brute-force as-of):
  * inclusive at equal times, values travel as one struct (no torn
  * matches), null-key series rows never match, and null-key/null-time
  * left rows and rows before the first series point get null values.
  */
object AsOfJoin {

  /** Left column names the probe writes; a left frame carrying one
    * would be silently overwritten or fail as ambiguous. */
  private val Reserved = Seq("__ts", "__ps", "__asof")

  /** The monotone LONG image both sides' times are compared on.
    * Timestamp and TimestampNTZ share the same unix_micros image under
    * the session's pinned-UTC clock. */
  private def asLong(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_date(c).cast("long")
    case _ => c.cast("long")
  }

  private def epochScale(dt: DataType): String = dt match {
    case TimestampType | TimestampNTZType => "micros"
    case DateType => "days"
    case other => s"raw:$other"
  }

  /** One-shot as-of: `right` packed by [[packSeries]], then probed by
    * [[probePacked]].
    *
    * @param left       big side; must carry `keyCols` and `timeCol`
    * @param right      series side; must carry `keyCols`, `timeCol`, and
    *                   `valueCols` (columns to attach)
    * @param timeCol    orderable column name present on both sides
    * @param valueCols  right-side payload column names to carry over
    */
  def backwardBroadcast(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                        timeCol: String, valueCols: Seq[String]): DataFrame = {
    // each side's time column is normalized to longs independently;
    // types on DIFFERENT epoch scales (DateType days vs TimestampType
    // micros, or a raw long against either) would compare silently
    // wrong, so fail fast
    val (lt, rt) = (left.schema(timeCol).dataType, right.schema(timeCol).dataType)
    require(epochScale(lt) == epochScale(rt),
      s"asof time column '$timeCol' epoch-scale mismatch: left $lt vs right $rt; " +
        "cast one side first")
    probePacked(left,
      packSeries(right, keyCols, timeCol, valueCols),
      keyCols, timeCol, valueCols)
  }

  /** The as-of INDEX artifact: one row per key with the series' times
    * (ascending longs) and payload structs as aligned arrays. Split out
    * of [[backwardBroadcast]] so a SERVING caller can build it once,
    * persist it, and probe arriving batches against it — inlined, the
    * packing aggregation (groupBy + collect_list + its shuffle) re-ran
    * inside EVERY micro-batch's broadcast build (AsofDetail r16: ~40%
    * of steady per-batch latency, and the whole batch-0 tail).
    * `epochScale` consistency with the probe side is the caller's
    * contract here; the one-shot path still requires it. */
  def packSeries(right: DataFrame, keyCols: Seq[String], timeCol: String,
                 valueCols: Seq[String]): DataFrame = {
    // SQL equality never matches NULL keys: drop null-key series rows so
    // a null-key left row falls through to null values like an ASOF JOIN
    val rightNonNull = keyCols.foldLeft(right)((d, k) => d.filter(col(k).isNotNull))
    val payload = struct(valueCols.map(col): _*)
    // one row per key: ascending times with payloads aligned — sorting
    // (t, payload) structs keeps both arrays consistent after the split
    rightNonNull
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(
        asLong(col(timeCol), right.schema(timeCol).dataType).as("__t"),
        payload.as("__p")))).as("__s"))
      .select(keyCols.map(col) ++ Seq(
        col("__s.__t").as("__ts"), col("__s.__p").as("__ps")): _*)
  }

  /** Probes `left` against a [[packSeries]] artifact: broadcast join on
    * the keys, per-row binary search (AsOfIndex) into the packed time
    * array, payload attached as one struct. Left rows before the first
    * series time (or with no key match) get null values — ASOF LEFT
    * JOIN semantics. */
  def probePacked(left: DataFrame, packed: DataFrame, keyCols: Seq[String],
                  timeCol: String, valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val reservedHit = Reserved.filter(leftCols.contains)
    require(reservedHit.isEmpty,
      s"left columns ${reservedHit.mkString(",")} collide with AsOfJoin " +
        "internals; drop or rename them first")
    val valueHit = valueCols.intersect(leftCols)
    require(valueHit.isEmpty,
      s"valueCols ${valueHit.mkString(",")} collide with left columns; rename first")
    val idx = graft.plans.AsOfIndex(col("__ts"),
      asLong(col(timeCol), left.schema(timeCol).dataType))
    left.join(broadcast(packed), keyCols, "left")
      .withColumn("__asof", when(idx >= 0, element_at(col("__ps"), idx + 1)))
      .select(leftCols.map(col) ++
        valueCols.map(c => col(s"__asof.$c").as(c)): _*)
  }
}
