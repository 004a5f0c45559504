package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Normalizes the synthetic `events` table into the reference's vehicle
  * position stream shape (reference: kpt/poller/models.py:9-17
  * `VehiclePosition(vehicle_id, route_id, lat, lon, direction, flag,
  * timestamp)`).
  *
  * `events.ts` arrives as Long nanoseconds (Spark's parquet reader cannot
  * represent TIMESTAMP(NANOS); see GraftSession's nanosAsLong config);
  * we derive a µs timestamp + exact integer/double epoch columns so the
  * DuckDB oracle (`CAST(ts AS TIMESTAMP)` / `epoch_ns(ts)`) agrees
  * bit-for-bit.
  *
  * Coordinates are derived deterministically from event_id with pure
  * integer arithmetic (identical in Spark SQL and DuckDB SQL) and land
  * inside the Kyiv bbox.
  */
object PositionView {

  /** e4-scaled synthetic coordinate INTEGERS, shared by every
    * wire-format synthesis (CSV lines, JSONL, XML, binary) so the Spark
    * plans and their oracles derive from one definition and cannot
    * drift. (fromEvents' double-valued lat/lon below intentionally keep
    * their own 50.3 + m/1e4 op order in lockstep with oracleCte.) */
  def latE4(eventId: Column): Column = eventId * 7919 % 3000 + 503000
  def lonE4(eventId: Column): Column = eventId * 104729 % 6000 + 302000

  /** ns → µs as an exact FLOOR division (see the ts_us comment below). */
  val TsUsSql = "(ts - pmod(ts, 1000)) div 1000"

  /** Spark-side position columns. The DuckDB-side equivalent is
    * [[oracleCte]] — keep the two in lockstep. */
  def fromEvents(events: DataFrame): DataFrame = {
    events.select(
      col("event_id"),
      col("user_id").as("vehicle_id"),
      (col("user_id") % 25).cast("int").as("route_id"),
      (lit(50.3) + (col("event_id") * 7919 % 3000) / lit(10000.0)).as("lat"),
      (lit(30.2) + (col("event_id") * 104729 % 6000) / lit(10000.0)).as("lon"),
      // µs, not ns: DuckDB's parquet reader floors TIMESTAMP(NANOS) to a
      // µs TIMESTAMP, so the oracle can never see sub-µs digits. A bare
      // `div 1000` truncates toward zero, which IS the floor for ts >= 0
      // but diverges for pre-1970 (negative) nanos; subtracting the
      // non-negative pmod first makes it an exact floor for all inputs.
      // (Verified: raw ...999 ns → epoch_us ...275, a floor not a round.)
      expr(TsUsSql).as("ts_us"),
      // NTZ so Spark's parquet output carries isAdjustedToUTC=false and the
      // DuckDB oracle sees the same naive TIMESTAMP.
      timestamp_micros(expr(TsUsSql)).cast("timestamp_ntz").as("ts"),
      (expr(TsUsSql) / lit(1e6)).as("ts_s"),
      col("event_type"),
      col("value"))
  }

  /** DuckDB CTE producing the same columns from the raw events parquet. */
  val oracleCte: String =
    """WITH pos AS (
      |  SELECT event_id,
      |         user_id AS vehicle_id,
      |         CAST(user_id % 25 AS INT) AS route_id,
      |         50.3 + (event_id * 7919 % 3000) / 10000.0 AS lat,
      |         30.2 + (event_id * 104729 % 6000) / 10000.0 AS lon,
      |         epoch_us(ts) AS ts_us,
      |         CAST(ts AS TIMESTAMP) AS ts,
      |         epoch_us(ts) / 1e6 AS ts_s,
      |         event_type,
      |         value
      |  FROM events)""".stripMargin
}
