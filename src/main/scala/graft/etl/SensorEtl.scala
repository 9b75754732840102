package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The flagship ETL spine (cf. `/root/reference/sensor_data_etl.py:57-92`):
  * filter → normalize names → derive target (max code) and pivot long→wide
  * (fixed value list) in one aggregate → fill null defaults →
  * broadcast-join a bounded code dimension → drop junk columns.
  *
  * Role mapping (FIXTURES.md §C): events(user_id, ts, event_type, value) is
  * the sensor fact; the 7-row in-memory `codes` table is the reference's
  * message_code_table (`read_sensor_configs.py:36-40`), derived here from
  * the event's JSON props (`$.k % 7`) since the testdata has no separate
  * code column.
  *
  * Scale notes: the reference's target groupBy, pivot groupBy and
  * features⋈target join are ONE groupBy on (user_id, day) — every group
  * yields both the target and the features, so that join was 1:1 — and
  * the pivot is a FIXED value list of conditional aggregates (no
  * distinct-values job, static schema). One scan, one shuffle; the code
  * join is an explicit broadcast (7 rows); AQE handles partition sizing —
  * no magic `repartition(n)` (the reference's 50/100/200 constants are
  * deliberately not copied, VERDICT.md round-1 plan audit).
  */
object SensorEtl {

  private val pivotValues = Seq("click", "error", "purchase", "view", "signup")
  private val fillDefaults =
    Map("click" -> 0.0, "error" -> 0.0, "purchase" -> 0.0, "view" -> 21.0, "signup" -> 0.0)

  /** The 7-row message-code dimension (cf. `read_sensor_configs.py:36-40`,
    * names per `sensor_data_classification.py:45` plus synthetic extras). */
  def codes(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(0 -> "Normal", 1 -> "GasHighAlarm", 2 -> "GasLowAlarm", 3 -> "GasAlarm",
      4 -> "Maintenance", 5 -> "Calibration", 6 -> "Offline")
      .toDF("code_id", "code_name")
  }

  /** Deterministic variant (max instead of first-ignoreNulls) used for the
    * DuckDB-oracle correctness gate. */
  def wide(s: SparkSession, d: String): DataFrame = build(s, d, deterministic = true)

  /** Reference-parity variant: pivot aggregates with first(ignoreNulls)
    * exactly like `sensor_data_etl.py:78-81`. Used by `SparkEntry.entry`. */
  def flagship(s: SparkSession, d: String): DataFrame = build(s, d, deterministic = false)

  private def build(s: SparkSession, d: String, deterministic: Boolean): DataFrame = {
    // P5/P8: filter + name normalization (cf. sensor_data_etl.py:31-33,57-58);
    // a null (user_id, day) key is dropped, as the reference's
    // features⋈target inner join drops it
    val enriched = Tables.events(s, d)
      .where(col("value") >= 0.0 && col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("code_id", get_json_object(col("props"), "$.k").cast("int") % 7)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("value"), col("code_id"))

    // A1 + A2/P11: target label = max code per (user, day) (cf. :73-76) and
    // features = fixed-list pivot (cf. :78-84), in one aggregate
    def agg(c: Column) = if (deterministic) max(c) else first(c, ignoreNulls = true)
    val features = pivotValues.map(v => agg(when(col("event_type") === v, col("value"))).as(v))
    enriched.groupBy("user_id", "day")
      .agg(max("code_id").as("code_id"), features: _*)
      .select((Seq("user_id", "day") ++ pivotValues :+ "code_id").map(col): _*)
      .na.fill(fillDefaults)
      // J3 + P4: attach code names via broadcast, drop junk
      // (cf. :86-92 — "signup" plays the "Battery level" junk-column role)
      .join(broadcast(codes(s)), Seq("code_id"))
      .drop("signup")
  }
}
