package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Schemas, Tables}
import graft.silver.Silver
import graft.gold.Gold

/** The medallion chain composed end-to-end over the driver testdata
  * `events` table (FIXTURES.md §B mapping). This is the flagship path:
  * bronze (adapted events) → silver (dedup + range + z-score flags) →
  * gold (5-min/hourly/daily aggregates).
  *
  * Single-action design: unlike the reference, which recomputes the
  * lineage up to 5× through repeated `count()` actions (SURVEY §3.2), each
  * stage here is one declarative plan; callers materialize once.
  */
object Pipeline {

  /** Bronze: events adapted to the sensor-reading contract. */
  def bronze(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsAsReadings(Tables.events(spark, dir))

  /** Silver: null-filter → keep-latest dedup → static range flag →
    * rolling z-score flag. Deterministic total order (ts, event_id). */
  def silver(spark: SparkSession, dir: String): DataFrame =
    silverOf(bronze(spark, dir))

  /** [[silver]] over any reading-shaped frame (sensor_id, sensor_type,
    * value, event_time, event_id) — the one definition of the silver
    * stages, shared with `ScaleProbe`'s generated-input chain sweep. */
  def silverOf(readings: DataFrame): DataFrame = {
    val filtered = Silver.nullFilter(readings,
      Seq("sensor_id", "sensor_type", "value", "event_time"))
    val deduped = Silver.dedupLatest(filtered,
      Seq("sensor_id", "event_time"),
      Seq(col("event_id").desc))
    val ranged = Silver.rangeAnomaly(deduped, "sensor_type", "value",
      Schemas.eventValueRanges)
    Silver.zscoreFlags(ranged, Seq("sensor_id"),
      Seq(col("event_time").asc, col("event_id").asc), "value")
  }

  /** Gold: 5-minute per-sensor aggregate with health pct. The flagship
    * chain uses SKETCH percentiles like the reference does
    * (percentile_approx, silver_to_gold.py:64-66) — fixed-size aggregation
    * state per group, the only shape that holds when a window's group
    * count is unbounded. The oracle-checked a1/a2/a3 variants use exact
    * percentiles because DuckDB's quantile_cont is the comparison target. */
  def gold5Min(spark: SparkSession, dir: String): DataFrame =
    gold5MinOf(silver(spark, dir))

  /** [[gold5Min]] over an already-built silver frame. */
  def gold5MinOf(silverDf: DataFrame): DataFrame =
    Gold.withHealthPct(
      Gold.windowAgg(silverDf, Seq("sensor_id", "sensor_type"),
        "event_time", "value", "5 minutes", approxPercentiles = true))

  def goldHourly(spark: SparkSession, dir: String): DataFrame =
    Gold.locationHourly(silver(spark, dir), "location", "sensor_type",
      "event_time", "value", "sensor_id",
      approxPercentiles = true, approxDistinct = true)

  def goldDaily(spark: SparkSession, dir: String): DataFrame =
    Gold.dailySummary(silver(spark, dir), "sensor_type", "event_time",
      "value", "sensor_id")

  /** Silver with observable row/anomaly counts in ONE action. The
    * reference re-runs the lineage up to 5x through repeated `count()`
    * calls between stages (SURVEY §3.2); `observe()` attaches the metrics
    * to the single materializing action instead, so stage counts come for
    * free with the write. */
  def silverObserved(spark: SparkSession, dir: String):
      (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("silver_metrics")
    val df = silver(spark, dir).observe(obs,
      count(lit(1)).as("rows"),
      sum(when(col("is_anomaly"), 1L).otherwise(0L)).as("anomalies"))
    (df, obs)
  }
}
