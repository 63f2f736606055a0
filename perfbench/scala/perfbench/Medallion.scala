package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.bench.EventGenerator
import graft.gold.Gold
import graft.model.Schemas
import graft.quality.Quality
import graft.silver.Silver
import graft.warehouse.Warehouse

/** The medallion pipeline of batch_pipelines. Sensor readings → silver (null filter, keep-latest dedup, range and
  * rolling z-score flags; written once) → gold (5-min window stats with
  * health pct, location-hourly, daily summary) → warehouse load of the
  * silver facts by date → quality suites over silver and gold. */
final class Medallion extends BatchJob {
  import Medallion._

  private var in: String = _
  private var out: String = _
  private var lastQuality: Seq[Quality.CheckResult] = Nil

  def stage(b: Bench, dir: String): Unit =
    readings(b).write.parquet(s"$dir/readings")

  private def generated(b: Bench): DataFrame =
    EventGenerator.events(b.spark, Sensors, Ticks, seed = b.seed,
      startEpoch = StartEpoch, intervalSeconds = IntervalS)

  /** Generated readings, delivered 1-5 s after their event time; a share
    * is delivered again an hour later (same key, later ingestion_time),
    * and keep-latest must pick those. The generator's anomaly flag is
    * ground truth and not part of the staged input. */
  private def readings(b: Bench): DataFrame = {
    val key = Seq(col("sensor_id"), col("event_time"))
    val delay = (abs(xxhash64(key :+ lit(b.seed): _*)) % 5) + 1
    val base = generated(b).drop("is_injected").withColumn("ingestion_time",
      timestamp_seconds(unix_timestamp(col("event_time")) + delay))
    val redeliver = abs(xxhash64(key :+ lit(b.seed + 1): _*)) % 1000 <
      lit((RedeliveryRate * 1000).toLong)
    base.unionByName(base.filter(redeliver).withColumn("ingestion_time",
      timestamp_seconds(unix_timestamp(col("ingestion_time")) + 3600)))
  }

  def use(dir: String): Unit = { in = dir }

  def rows(b: Bench): Long = Sensors.toLong * Ticks + planted(b)

  /** Re-deliveries in the staged input. */
  private def planted(b: Bench): Long =
    b.spark.read.parquet(s"$in/readings").count() - Sensors.toLong * Ticks

  def job(b: Bench): Unit = {
    val spark = b.spark
    out = s"${b.work}/medallion_out"
    val input = spark.read.parquet(s"$in/readings")
    b.span("silver", "silver") {
      val kept = Silver.nullFilter(input, Seq("sensor_id", "sensor_type", "value", "event_time"))
      val latest = Silver.dedupLatest(kept, Seq("sensor_id", "event_time"),
        Seq(col("ingestion_time").desc))
      val ranged = Silver.rangeAnomaly(latest, "sensor_type", "value", Schemas.sensorValueRanges)
      val flagged = Silver.zscoreFlags(ranged, Seq("sensor_id"), Seq(col("event_time").asc), "value")
      b.guarded("silver", "Window") {
        flagged.write.mode("overwrite").parquet(s"$out/silver")
      }
    }
    val silver = spark.read.parquet(s"$out/silver")
    b.span("gold", "gold") {
      val w5 = Gold.withHealthPct(Gold.windowAgg(silver, Seq("sensor_id", "sensor_type"),
        "event_time", "value", "5 minutes", approxPercentiles = true))
      val hourly = Gold.locationHourly(silver, "location", "sensor_type", "event_time",
        "value", "sensor_id", approxPercentiles = true, approxDistinct = true)
      val daily = Gold.dailySummary(silver, "sensor_type", "event_time", "value", "sensor_id")
      Seq("gold_5min" -> w5, "gold_hourly" -> hourly, "gold_daily" -> daily).foreach {
        case (name, df) =>
          b.guarded(name, "Aggregate") { df.write.mode("overwrite").parquet(s"$out/$name") }
      }
    }
    b.span("warehouse", "idempotentPartitionLoad") {
      Warehouse.idempotentPartitionLoad(facts(silver), s"$out/warehouse", Seq("date"))
    }
    lastQuality = b.span("quality", "Quality.run") {
      val gold = spark.read.parquet(s"$out/gold_5min")
      b.guarded("quality_silver", "Aggregate")(Quality.run(silver, silverChecks)) ++
        b.guarded("quality_gold", "Aggregate")(Quality.run(gold, goldChecks))
    }
  }

  def checks(b: Bench): Seq[Check] = {
    val spark = b.spark
    val silver = spark.read.parquet(s"$out/silver")
    val keys = Sensors.toLong * Ticks
    val nPlanted = planted(b)
    val redelivered =
      unix_timestamp(col("ingestion_time")) - unix_timestamp(col("event_time")) > 3000
    val s = silver.agg(count(lit(1)), sum(when(redelivered, 1L).otherwise(0L))).head()
    val (nSilver, latestWins) = (s.getLong(0), s.getLong(1))
    val goldSum = spark.read.parquet(s"$out/gold_5min").agg(sum("reading_count")).head().getLong(0)
    val r = generated(b).filter(col("is_injected")).select("sensor_id", "event_time")
      .join(silver.filter(col("is_anomaly")).select(col("sensor_id"), col("event_time"),
        lit(1L).as("flagged")), Seq("sensor_id", "event_time"), "left")
      .agg(count(lit(1)), sum(coalesce(col("flagged"), lit(0L)))).head()
    val (nInjected, found) = (r.getLong(0), r.getLong(1))
    val recall = found.toDouble / nInjected
    val wh = s"$out/warehouse"
    def byDate = spark.read.parquet(wh).groupBy("date").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val before = byDate
    Warehouse.idempotentPartitionLoad(facts(silver), wh, Seq("date"))
    val after = byDate
    val failedQ = lastQuality.filter(_.failed > 0).map(_.check)
    Seq(
      Check("silver_rows_eq_keys", nSilver == keys, s"$nSilver silver rows, $keys distinct keys"),
      Check("latest_delivery_wins", latestWins == nPlanted,
        s"$latestWins re-deliveries kept of $nPlanted planted"),
      Check("gold_count_eq_silver", goldSum == nSilver, s"sum(reading_count)=$goldSum"),
      Check("anomaly_recall", recall >= RecallFloor,
        f"$found of $nInjected injected flagged ($recall%.3f, floor $RecallFloor)"),
      Check("reload_idempotent", before == after && before.values.sum == keys,
        s"warehouse rows by date $before -> $after"),
      Check("quality_suites_pass", lastQuality.nonEmpty && failedQ.isEmpty,
        s"${lastQuality.size} checks" + (if (failedQ.isEmpty) "" else s", failed: $failedQ")))
  }

  def layerMetrics(b: Bench): Map[String, Double] = {
    val spark = b.spark
    val rowsIn = spark.read.parquet(s"$in/readings").count()
    val silver = spark.read.parquet(s"$out/silver")
    val rowsOut = silver.count()
    val goldRows = Seq("gold_5min", "gold_hourly", "gold_daily")
      .map(g => spark.read.parquet(s"$out/$g").count()).sum
    val (files, bytes) = Files.parquetStats(s"$out/warehouse")
    val failed = lastQuality.count(_.failed > 0)
    Map(
      "gen.rows_offered" -> rowsIn.toDouble,
      "gen.dups_planted" -> planted(b).toDouble,
      "silver.rows_in" -> rowsIn.toDouble,
      "silver.rows_out" -> rowsOut.toDouble,
      "silver.dups_removed" -> (rowsIn - rowsOut).toDouble,
      "silver.anomalies_flagged" -> silver.filter(col("is_anomaly")).count().toDouble,
      "gold.rows_out" -> goldRows.toDouble,
      "quality.checks" -> lastQuality.size.toDouble,
      "quality.checks_failed" -> failed.toDouble,
      "quality.pass_rate" -> (lastQuality.size - failed).toDouble / lastQuality.size,
      "warehouse.files_written" -> files.toDouble,
      "warehouse.bytes_written_mb" -> bytes / 1048576.0,
      "warehouse.bytes_per_row" -> bytes.toDouble / rowsOut)
  }
}

object Medallion {
  val Sensors = 250
  val Ticks = 120L
  val IntervalS = 90L
  /** 2024-06-15 22:00 UTC: the readings span two dates. */
  val StartEpoch = 1718488800L
  val RedeliveryRate = 0.02
  /** Share of injected anomalies the silver flags must catch. The
    * range + z-score detector catches 0.28-0.32 of them at this size
    * (~600 injected); the rest stay within 3 rolling sigma. 0.2 lies
    * 4 standard deviations below. */
  val RecallFloor = 0.2

  def facts(silver: DataFrame): DataFrame = silver.withColumn("date", to_date(col("event_time")))

  val silverChecks: Seq[Quality.Check] =
    Quality.notNull(Seq("sensor_id", "sensor_type", "event_time", "value")) ++ Seq(
      Quality.inSet("sensor_type", EventGenerator.profiles.map(_.sensorType)),
      Quality.perTypeRange("sensor_type", "value", Schemas.sensorPhysicalRanges),
      Quality.regexMatch("sensor_id", "^sensor-[0-9]{3,4}$"))

  val goldChecks: Seq[Quality.Check] =
    Quality.notNull(Seq("window_start", "sensor_id", "avg_value")) :+
      Quality.Check("reading_count_positive",
        sum(when(col("reading_count") <= 0, 1L).otherwise(0L)))
}
