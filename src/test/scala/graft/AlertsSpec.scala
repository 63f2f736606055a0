package graft

import org.apache.spark.sql.functions._
import graft.monitoring.Alerts
import graft.monitoring.Alerts.Rule
import graft.streaming.StreamingPipeline.BatchProgress

/** Alert-threshold evaluation semantics (reference:
  * monitoring/prometheus/alert_rules.yml pending→firing lifecycle). */
class AlertsSpec extends SparkTestBase {
  import spark.implicits._

  private def series(vals: (String, Double)*) =
    vals.toDF("window_start", "value")
      .select(to_timestamp(col("window_start")).as("window_start"),
        lit("m").as("metric"), col("value"))

  test("breach shorter than forWindows stays pending") {
    val m = series(
      "2024-01-01 00:00:00" -> 5.0,
      "2024-01-01 01:00:00" -> 15.0, // breach 1 of a 3-window rule
      "2024-01-01 02:00:00" -> 15.0, // breach 2
      "2024-01-01 03:00:00" -> 5.0)  // run broken before firing
    val out = Alerts.evaluate(m, Seq(Rule("a", "warn", "m", ">", 10.0, 3))).collect()
    assert(out.length === 2)
    assert(out.forall(_.getAs[String]("state") == "pending"))
  }

  test("firing starts at the forWindows-th consecutive breach") {
    val m = series(
      "2024-01-01 00:00:00" -> 15.0,
      "2024-01-01 01:00:00" -> 15.0,
      "2024-01-01 02:00:00" -> 15.0,
      "2024-01-01 03:00:00" -> 15.0)
    val out = Alerts.evaluate(m, Seq(Rule("a", "warn", "m", ">", 10.0, 2)))
      .collect().map(r => (r.getAs[String]("window_start"), r.getAs[String]("state")))
    assert(out.toSeq === Seq(
      ("2024-01-01 00:00:00", "pending"),
      ("2024-01-01 01:00:00", "firing"),
      ("2024-01-01 02:00:00", "firing"),
      ("2024-01-01 03:00:00", "firing")))
  }

  test("a gap in the cadence resets the streak") {
    val m = series(
      "2024-01-01 00:00:00" -> 15.0,
      "2024-01-01 01:00:00" -> 15.0,
      // 02:00 missing entirely (no metric row at all)
      "2024-01-01 03:00:00" -> 15.0)
    val out = Alerts.evaluate(m, Seq(Rule("a", "warn", "m", ">", 2.0, 3))).collect()
    assert(out.map(_.getAs[Long]("streak")).toSeq === Seq(1L, 2L, 1L))
    assert(out.forall(_.getAs[String]("state") == "pending"))
  }

  test("ops <, <=, >= all evaluate; non-breaching rows are dropped") {
    val m = series("2024-01-01 00:00:00" -> 10.0)
    def one(op: String, thr: Double) =
      Alerts.evaluate(m, Seq(Rule("a", "w", "m", op, thr, 1))).count()
    assert(one("<", 11.0) === 1L); assert(one("<", 10.0) === 0L)
    assert(one("<=", 10.0) === 1L); assert(one(">=", 10.0) === 1L)
    assert(one(">", 10.0) === 0L)
  }

  test("hourly metric series gap-fills missing hours with zero volume") {
    val ev = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      // 01:00 hour empty
      ("2024-01-01 02:20:00", "error", 2.0))
      .toDF("ts", "event_type", "value")
      .select(to_timestamp(col("ts")).as("ts"), col("event_type"), col("value"))
    val m = Alerts.hourlyEventMetrics(ev)
    val tot = m.filter(col("metric") === "events_total")
      .orderBy("window_start").select("value").as[Double].collect()
    assert(tot.toSeq === Seq(1.0, 0.0, 1.0))
    // and producer_down fires on the gap hour
    val down = Alerts.evaluate(m, Seq(Rule("producer_down", "critical",
      "events_total", "<=", 0.0, 1))).collect()
    assert(down.length === 1)
    assert(down.head.getAs[String]("state") === "firing")
    assert(down.head.getAs[String]("window_start") === "2024-01-01 01:00:00")
  }

  test("listener history evaluates through evaluateProgress") {
    val hist = Seq(BatchProgress(0L, 100L, 50.0, 200L),
      BatchProgress(1L, 0L, 0.0, 150L), BatchProgress(2L, 0L, 0.0, 90L))
    val out = Alerts.evaluateProgress(spark, hist,
      Seq(Rule("stream_stalled", "critical", "input_rows", "<=", 0.0, 2))).collect()
    assert(out.map(_.getAs[String]("state")).toSeq === Seq("pending", "firing"))
  }

  test("latency SLO lifecycle: sustained >60s event age goes pending then firing; sentinel batches don't mask it") {
    // the reference's one real latency SLO (<60 s p95 end-to-end,
    // alert_rules.yml:37-46) on a slow-batch series: ages climb over
    // 60 s at batch 2 and stay there. Batch 4 has NO event-time info
    // (-1 sentinel): it must contribute no age row — treated as a
    // value it would read as instant delivery and break the streak.
    val hist = Seq(
      BatchProgress(0L, 100L, 50.0, 5000L, 20000L, 30000L),
      BatchProgress(1L, 100L, 50.0, 8000L, 40000L, 55000L),
      BatchProgress(2L, 100L, 10.0, 31000L, 52000L, 70000L), // breach 1
      BatchProgress(3L, 100L, 8.0, 35000L, 61000L, 90000L),  // breach 2
      BatchProgress(4L, 0L, 0.0, 100L),                      // no event-time
      BatchProgress(5L, 100L, 7.0, 36000L, 70000L, 95000L))
    val out = Alerts.evaluateProgress(spark, hist, Alerts.latencyRules)
      .collect()
    val e2e = out.filter(_.getAs[String]("alert") == "high_e2e_latency")
      .map(r => r.getAs[Long]("streak") -> r.getAs[String]("state"))
    // batches 2,3 are consecutive on the batch axis -> pending, firing;
    // batch 5 restarts the streak (batch 4 broke consecutiveness on the
    // batch-id axis) -> pending again
    assert(e2e.toSeq === Seq(1L -> "pending", 2L -> "firing", 1L -> "pending"))
    // slow_batch (>30s duration) breaches at 2,3 and again at 5
    val slow = out.filter(_.getAs[String]("alert") == "slow_batch")
      .map(_.getAs[String]("state"))
    assert(slow.toSeq === Seq("pending", "firing", "pending"))
  }

  test("latencyPercentiles: exact nearest-rank over the history, age keys only when event-time info exists") {
    val hist = (1 to 20).map(i =>
      BatchProgress(i.toLong, 10L, 1.0, i * 100L, i * 1000L, i * 2000L))
    val p = Alerts.latencyPercentiles(hist)
    assert(p("batch_duration_ms_p50") === 1000.0) // 10th of 20
    assert(p("batch_duration_ms_p95") === 1900.0) // 19th of 20
    assert(p("event_age_max_ms_p95") === 38000.0)
    assert(p("event_age_avg_ms_p50") === 10000.0)
    // sentinel-only history: duration percentiles, no age keys
    val noAge = Alerts.latencyPercentiles(
      Seq(BatchProgress(0L, 1L, 1.0, 500L), BatchProgress(1L, 1L, 1.0, 700L)))
    assert(noAge("batch_duration_ms_p95") === 700.0)
    assert(!noAge.contains("event_age_max_ms_p95"))
    assert(Alerts.latencyPercentiles(Nil).isEmpty)
  }

  test("PSI: identical halves score ~0, a shifted half scores high") {
    import graft.monitoring.Drift
    // group "same": ref and cur draw from the same values;
    // group "shift": cur values move two buckets right
    val rows = (0 until 200).flatMap { j =>
      val v = (j % 10) * 10.0
      Seq(("same", true, v), ("same", false, v),
        ("shift", true, v), ("shift", false, v + 30.0))
    }
    val df = rows.toDF("g", "ref", "v")
    val out = Drift.psi(df, Seq("g"), "v", col("ref"),
        lo = 0.0, hi = 130.0, buckets = 13)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("psi")).toMap
    assert(out("same") < 0.01, s"no-drift PSI should be ~0: ${out("same")}")
    assert(out("shift") > 0.25, s"shifted PSI should flag: ${out("shift")}")
    assert(out("shift") > 10 * out("same"))
  }

  test("streamingPsi against a stored histogram equals the batch PSI") {
    import graft.monitoring.Drift
    val rows = (0 until 100).flatMap { j =>
      Seq(("g", true, (j % 7) * 10.0), ("g", false, (j % 5) * 20.0))
    }
    val df = rows.toDF("g", "ref", "v")
    val batch = Drift.psi(df, Seq("g"), "v", col("ref"), 0.0, 100.0, 10)
      .select("n_ref", "n_cur", "psi").head()
    val refHist = Drift.referenceHistogram(
      df.filter(col("ref")), Seq("g"), "v", 0.0, 100.0, 10)
    val streaming = Drift.streamingPsi(
      df.filter(!col("ref")), refHist, Seq("g"), "v", 0.0, 100.0, 10)
      .select("n_ref", "n_cur", "psi").head()
    assert(streaming.getLong(0) === batch.getLong(0))
    assert(streaming.getLong(1) === batch.getLong(1))
    assert(math.abs(streaming.getDouble(2) - batch.getDouble(2)) < 1e-12)
  }

  test("embeddingDrift: identical direction scores 1, inverted scores -1, one-sided groups drop") {
    import graft.monitoring.Drift
    val rows = Seq(
      ("same", true, Array(1.0f, 0.0f)), ("same", false, Array(2.0f, 0.0f)),
      ("flip", true, Array(1.0f, 1.0f)), ("flip", false, Array(-2.0f, -2.0f)),
      ("onesided", true, Array(1.0f, 0.0f)))
      .toDF("g", "ref", "v")
    val out = Drift.embeddingDrift(rows, Seq("g"), "v", col("ref"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // scale-invariant: doubled magnitude, same direction → cosine 1
    assert(out("same")._1 === 1L && out("same")._2 === 1L)
    assert(math.abs(out("same")._3 - 1.0) < 1e-12)
    assert(math.abs(out("flip")._3 + 1.0) < 1e-12)
    assert(!out.contains("onesided")) // no current period → no comparison
  }

  test("KS statistic: hand-computed value, zero on identical samples, NULL on an empty side") {
    import graft.monitoring.Drift
    // ref {1,2} vs cur {2,3}: ECDF gaps are 0.5 at v=1 and v=2 → D = 0.5
    val hand = Seq(("g", true, 1.0), ("g", true, 2.0),
      ("g", false, 2.0), ("g", false, 3.0)).toDF("g", "ref", "v")
    val d = Drift.ksStatistic(hand, Seq("g"), "v", col("ref")).head()
    assert(d.getAs[Double]("ks") === 0.5)
    assert(d.getAs[Long]("n_ref") === 2L && d.getAs[Long]("n_cur") === 2L)

    // identical samples → D = 0; disjoint ranges → D = 1; empty side → NULL
    val rows = (0 until 50).flatMap { i =>
      Seq(("same", true, i.toDouble), ("same", false, i.toDouble),
        ("shift", true, i.toDouble), ("shift", false, i + 1000.0),
        ("onesided", true, i.toDouble))
    }.toDF("g", "ref", "v")
    val out = Drift.ksStatistic(rows, Seq("g"), "v", col("ref"))
      .collect().map(r => r.getAs[String]("g") ->
        (if (r.isNullAt(r.fieldIndex("ks"))) None
         else Some(r.getAs[Double]("ks")))).toMap
    assert(out("same") === Some(0.0))
    assert(out("shift") === Some(1.0))
    assert(out("onesided") === None)
  }

  test("per-batch PSI scores feed the alert lifecycle: a drifted batch fires") {
    import graft.monitoring.Drift
    // reference histogram from a stable period, then two micro-batches:
    // one matching the reference, one shifted
    val ref = (0 until 200).map(i => ("g", (i % 10) * 10.0)).toDF("g", "v")
    val hist = Drift.referenceHistogram(ref, Seq("g"), "v", 0.0, 100.0, 10)
    def psiOf(batch: org.apache.spark.sql.DataFrame): Double =
      Drift.streamingPsi(batch, hist, Seq("g"), "v", 0.0, 100.0, 10)
        .select("psi").as[Double].head()
    val okBatch = (0 until 100).map(i => ("g", (i % 10) * 10.0)).toDF("g", "v")
    val badBatch = (0 until 100).map(i => ("g", 90.0)).toDF("g", "v")
    val series = Seq(0L -> psiOf(okBatch), 1L -> psiOf(badBatch))
      .toDF("batch_id", "psi")
      .select(to_timestamp(col("batch_id")).as("window_start"),
        lit("psi").as("metric"), col("psi").as("value"))
    val out = Alerts.evaluate(series,
        Seq(Rule("psi_drift", "warning", "psi", ">", 0.25, 1)),
        windowSeconds = 1L)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("state") === "firing")
  }

  test("embedding drift series drives the pending→firing lifecycle through driftRules") {
    import graft.monitoring.Drift
    // per-window centroid cosine vs one reference period: two aligned
    // windows, then the corpus direction swings orthogonal for two —
    // embedding_drift (< 0.95 for 2 windows) goes pending → firing
    val windows = Seq(
      "2024-01-01 00:00:00" -> Array(1.0f, 0.0f),
      "2024-01-01 01:00:00" -> Array(1.0f, 0.0f),
      "2024-01-01 02:00:00" -> Array(0.0f, 1.0f),
      "2024-01-01 03:00:00" -> Array(0.0f, 1.0f))
    val rows = windows.flatMap { case (w, v) =>
      Seq((w, false, v), (w, true, Array(1.0f, 0.0f))) // ref direction per window
    }.toDF("w", "ref", "v")
    val scores = Drift.embeddingDrift(rows, Seq("w"), "v", col("ref"))
    val series = Drift.asMetricSeries(scores, "w", "centroid_cosine", "centroid_cosine")
    val out = Alerts.evaluate(series, Alerts.driftRules).collect()
      .map(r => (r.getAs[String]("alert"), r.getAs[String]("window_start"),
        r.getAs[String]("state")))
    assert(out.toSeq === Seq(
      ("embedding_drift", "2024-01-01 02:00:00", "pending"),
      ("embedding_drift", "2024-01-01 03:00:00", "firing")))
  }

  test("per-window streamingPsi feeds psi_drift through asMetricSeries") {
    import graft.monitoring.Drift
    // reference histogram from a stable period; three windows of current
    // data — stable, shifted, shifted — psi_drift (> 0.25 for 2) goes
    // breach-skip, pending, firing
    val ref = (0 until 200).map(i => ("2024-01-01 00:00:00", (i % 10) * 10.0))
      .toDF("w", "v")
    val hist = Drift.referenceHistogram(ref, Seq.empty, "v", 0.0, 100.0, 10)
    val cur = ((0 until 100).map(i => ("2024-01-01 00:00:00", (i % 10) * 10.0)) ++
      (0 until 100).map(_ => ("2024-01-01 01:00:00", 90.0)) ++
      (0 until 100).map(_ => ("2024-01-01 02:00:00", 90.0))).toDF("w", "v")
    // per-window PSI: the stored reference joins against each window's
    // own histogram (groupCols carries the window axis on the cur side)
    val scores = Drift.streamingPsi(cur, hist.crossJoin(cur.select("w").distinct()),
      Seq("w"), "v", 0.0, 100.0, 10)
    val series = Drift.asMetricSeries(scores, "w", "psi", "psi")
    val out = Alerts.evaluate(series, Alerts.driftRules).collect()
      .map(r => (r.getAs[String]("window_start"), r.getAs[String]("state")))
    assert(out.toSeq === Seq(
      ("2024-01-01 01:00:00", "pending"),
      ("2024-01-01 02:00:00", "firing")))
  }

  test("Prometheus drift exposition: declared header, escaped labels, sorted samples") {
    import graft.monitoring.Prometheus
    val text = Prometheus.renderDrift(Seq(
      ("psi", "zone_b", 0.41), ("centroid_cosine", "all", 0.87),
      ("psi", "zone_a", 0.02)))
    assert(text.contains("# TYPE graft_drift_score gauge"))
    val lines = text.linesIterator.filterNot(_.startsWith("#")).toSeq
    assert(lines === Seq(
      """graft_drift_score{kind="centroid_cosine",group="all"} 0.87""",
      """graft_drift_score{kind="psi",group="zone_a"} 0.02""",
      """graft_drift_score{kind="psi",group="zone_b"} 0.41"""))
    // the header is declared even with no samples, so the dashboard's
    // drift panel always queries an exposed metric
    assert(Prometheus.renderDrift(Nil).contains("# TYPE graft_drift_score gauge"))
    assert(Prometheus.scrape(Nil, Nil).contains("graft_drift_score"))
  }

  test("Prometheus exposition carries a firing rule at 1 and a resolved rule at 0") {
    import graft.monitoring.Prometheus
    // two metrics over the same windows: `hot` breaches through the end
    // (2 consecutive ≥ forWindows=2 → firing at the latest window);
    // `cold` breached early but recovered → resolved at the latest window
    val m = Seq(
      ("2024-01-01 00:00:00", "hot", 5.0), ("2024-01-01 00:00:00", "cold", 99.0),
      ("2024-01-01 01:00:00", "hot", 15.0), ("2024-01-01 01:00:00", "cold", 1.0),
      ("2024-01-01 02:00:00", "hot", 16.0), ("2024-01-01 02:00:00", "cold", 1.0))
      .toDF("window_start", "metric", "value")
      .select(to_timestamp(col("window_start")).as("window_start"),
        col("metric"), col("value"))
    val rules = Seq(
      Rule("hot_high", "critical", "hot", ">", 10.0, 2),
      Rule("cold_high", "warning", "cold", ">", 50.0, 1))
    val states = Alerts.currentStates(m, rules)
    assert(states.toSet === Set(
      ("hot_high", "critical", "firing"),
      ("cold_high", "warning", "resolved")))

    val text = Prometheus.renderAlerts(states)
    assert(text.contains("# TYPE graft_alert_active gauge"))
    assert(text.contains(
      """graft_alert_active{alertname="hot_high",severity="critical",alertstate="firing"} 1"""))
    assert(text.contains(
      """graft_alert_active{alertname="cold_high",severity="warning",alertstate="resolved"} 0"""))
  }

  test("Prometheus progress render: lifetime counters plus last-batch gauges") {
    import graft.monitoring.Prometheus
    val hist = Seq(BatchProgress(0L, 100L, 50.0, 2000L, 10000L, 20000L),
      BatchProgress(1L, 40L, 80.5, 500L, 30000L, 70000L))
    val text = Prometheus.renderProgress(hist)
    assert(text.contains("# TYPE graft_batches_total counter"))
    assert(text.contains("""graft_batches_total{job="graft"} 2"""))
    assert(text.contains("""graft_input_rows_total{job="graft"} 140"""))
    assert(text.contains("# TYPE graft_last_batch_rows_per_second gauge"))
    assert(text.contains("""graft_last_batch_id{job="graft"} 1"""))
    assert(text.contains("""graft_last_batch_input_rows{job="graft"} 40"""))
    assert(text.contains("""graft_last_batch_rows_per_second{job="graft"} 80.5"""))
    assert(text.contains("""graft_last_batch_duration_ms{job="graft"} 500"""))
    // latency percentile gauges (p95 of 2 samples = the larger)
    assert(text.contains("""graft_batch_duration_ms{job="graft",quantile="p95"} 2000"""))
    assert(text.contains("""graft_event_age_ms{job="graft",quantile="p95"} 70000"""))
    // empty history: counters at zero, no last-batch gauges
    val empty = Prometheus.renderProgress(Nil)
    assert(empty.contains("""graft_batches_total{job="graft"} 0"""))
    assert(!empty.contains("graft_last_batch_id"))
    // ageless history: no event-age gauge (absence, not a zero reading)
    val ageless = Prometheus.renderProgress(Seq(BatchProgress(0L, 1L, 1.0, 100L)))
    assert(!ageless.contains("graft_event_age_ms"))
    assert(ageless.contains("""graft_batch_duration_ms{job="graft",quantile="p50"} 100"""))
  }

  test("Prometheus renders NaN/Inf rates in valid 0.0.4 spelling") {
    import graft.monitoring.Prometheus
    // Spark progress reports rows_per_second = Infinity on a zero-duration
    // batch and NaN before the first progress — both must render in the
    // text format's spelling, never Java's "Infinity"
    val inf = Prometheus.renderProgress(
      Seq(BatchProgress(0L, 10L, Double.PositiveInfinity, 0L)))
    assert(inf.contains("""graft_last_batch_rows_per_second{job="graft"} +Inf"""))
    assert(!inf.contains("Infinity"))
    val nan = Prometheus.renderProgress(Seq(BatchProgress(0L, 10L, Double.NaN, 0L)))
    assert(nan.contains("""graft_last_batch_rows_per_second{job="graft"} NaN"""))
  }

  test("an empty or stalled metric series reports no_data, never all-clear") {
    import graft.monitoring.Prometheus
    val rules = Seq(
      Rule("producer_down", "critical", "events_total", "<=", 0.0, 1),
      Rule("hot_high", "warning", "hot", ">", 10.0, 1))
    // empty series: every rule is no_data (producer_down especially must
    // not read as resolved when there is no data at all)
    val empty = Seq.empty[(java.sql.Timestamp, String, Double)]
      .toDF("window_start", "metric", "value")
    val s0 = Alerts.currentStates(empty, rules)
    assert(s0.toSet === Set(
      ("producer_down", "critical", "no_data"),
      ("hot_high", "warning", "no_data")))
    // no_data renders as active (1), not all-clear
    val text = Prometheus.renderAlerts(s0)
    assert(text.contains(
      """graft_alert_active{alertname="producer_down",severity="critical",alertstate="no_data"} 1"""))

    // a series whose newest window is older than one cadence before asOf
    // has stalled: also no_data — the last state must not freeze
    val m = Seq(("2024-01-01 00:00:00", "hot", 99.0))
      .toDF("window_start", "metric", "value")
      .select(to_timestamp(col("window_start")).as("window_start"),
        col("metric"), col("value"))
    val staleAsOf = java.time.Instant.parse("2024-01-01T05:00:00Z")
    val s1 = Alerts.currentStates(m, rules, 3600L, Some(staleAsOf))
    assert(s1.forall(_._3 == "no_data"))
    // within one cadence of asOf the series is current: states evaluate
    val freshAsOf = java.time.Instant.parse("2024-01-01T00:30:00Z")
    val s2 = Alerts.currentStates(m, rules, 3600L, Some(freshAsOf)).toMap2
    assert(s2(("hot_high", "warning")) === "firing")
    assert(s2(("producer_down", "critical")) === "resolved")
    // boundary: just past the newest window's END a complete-window feed
    // hasn't produced the in-progress window yet — that is NOT stale
    // (staleness keys off the window end, not its start)
    val justPastEnd = java.time.Instant.parse("2024-01-01T01:00:01Z")
    val s3 = Alerts.currentStates(m, rules, 3600L, Some(justPastEnd)).toMap2
    assert(s3(("hot_high", "warning")) === "firing")
    // but one full cadence after the end, the series has stopped
    val wellPast = java.time.Instant.parse("2024-01-01T02:00:01Z")
    val s4 = Alerts.currentStates(m, rules, 3600L, Some(wellPast))
    assert(s4.forall(_._3 == "no_data"))
  }

  test("Grafana dashboard: valid JSON, rule-derived panels, only exposed metrics") {
    import graft.monitoring.{Grafana, Prometheus}
    import org.json4s.jackson.JsonMethods
    import org.json4s.{JArray, JObject, JString}
    val rules = Seq(
      Alerts.Rule("hot_high", "warning", "hot", ">", 50.0, 1),
      Alerts.Rule("producer_down", "critical", "input_rows", "<=", 0.0, 2))
    val json = Grafana.dashboardJson(rules)
    val parsed = JsonMethods.parse(json).asInstanceOf[JObject]
    val panels = (parsed \ "panels").asInstanceOf[JArray].arr
    assert(panels.size === 8 + rules.size) // base board (incl. drift + latency) + one per rule
    // every panel expr queries a metric name the engine actually exposes
    // (history carries event-time ages so the latency panel's
    // graft_event_age_ms series is present in the scrape)
    val exposed = Prometheus.scrape(Seq(BatchProgress(1L, 10L, 5.0, 100L, 5000L, 9000L)),
      Seq(("hot_high", "warning", "firing")))
    val metricNames = "graft_[a-z_]+".r.findAllIn(exposed).toSet
    val exprs = for {
      p <- panels
      t <- (p \ "targets").asInstanceOf[JArray].arr
      JString(e) <- Seq(t \ "expr")
    } yield e
    assert(exprs.nonEmpty)
    exprs.foreach { e =>
      val base = "graft_[a-z_]+".r.findFirstIn(e)
      assert(base.exists(metricNames.contains), s"unexposed metric in: $e")
    }
    // the alert panels are derived from the SAME rules the evaluator runs
    assert(exprs.exists(_.contains("""alertname="producer_down"""")))
  }

  test("Grafana: rule names with quotes/backslashes escape into valid PromQL matchers") {
    import graft.monitoring.Grafana
    import org.json4s.jackson.JsonMethods
    import org.json4s.{JArray, JObject, JString}
    // adversarial rule name: a quote and a backslash, each of which would
    // terminate/corrupt a naive {alertname="..."} matcher
    val name = """rate "hot" \ spike"""
    val json = Grafana.dashboardJson(Seq(Alerts.Rule(name, "warning", "m", ">", 1.0, 1)))
    // the dashboard itself must stay valid JSON
    val parsed = JsonMethods.parse(json).asInstanceOf[JObject]
    val exprs = for {
      p <- (parsed \ "panels").asInstanceOf[JArray].arr
      t <- (p \ "targets").asInstanceOf[JArray].arr
      JString(e) <- Seq(t \ "expr")
    } yield e
    val matchers = exprs.filter(_.contains("alertname="))
    assert(matchers.size === 1)
    val matcher = matchers.head
    // inside the matcher the name is escaped with the exposition-side
    // rules (\\ and \"), so the PromQL string round-trips to the exact
    // label value Prometheus.scrape exports
    assert(matcher === """graft_alert_active{alertname="rate \"hot\" \\ spike"}""")
    // un-escaping the matcher body recovers the original rule name
    val body = matcher.stripPrefix("""graft_alert_active{alertname="""")
      .stripSuffix("\"}")
    val unescaped = body.replace("\\\\", "\u0000")
      .replace("\\\"", "\"").replace("\u0000", "\\")
    assert(unescaped === name)
  }

  test("a genuinely-late replay trips high_e2e_latency through the real listener and recovers") {
    // end-to-end: a file-source replay with CONTROLLED lateness drives
    // the actual MetricsListener (batch-end minus min event time), whose
    // history then trips the reference SLO rule
    // (HighEndToEndLatency ~ alert_rules.yml:37-46) after TWO consecutive
    // late batches and resets when fresh data resumes.
    import graft.streaming.StreamingPipeline
    val inDir = tempRoot("graft-late-in")
    val ckpt = tempRoot("graft-late-ck")
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    def writeBatch(name: String, ts: java.time.Instant): Unit =
      java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, name),
        (1 to 5).map(i =>
            s"""{"ts":"${fmt.format(ts.plusSeconds(i))}","k":"a","value":$i.0}""")
          .mkString("", "\n", "\n"))
    // no-data micro-batches (watermark-advance flushes) would interleave
    // input-less batch ids and break the consecutive-breach axis the
    // `for:` clause counts on — a monitor replaying history disables them
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = spark.conf.get(ndKey)
    val listener = new StreamingPipeline.MetricsListener
    spark.streams.addListener(listener)
    try {
      spark.conf.set(ndKey, "false")
      val src = spark.readStream
        .schema("ts TIMESTAMP, k STRING, value DOUBLE").json(inDir)
      // watermark far wider than the planted lateness: nothing is
      // dropped, the stats just READ late
      val agg = StreamingPipeline.windowedAgg(src, "ts", Seq("k"), "value",
        "5 minutes", "2 hours")
      val q = agg.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt).start()
      try {
        writeBatch("b0.json", java.time.Instant.now()) // fresh
        q.processAllAvailable()
        writeBatch("b1.json", java.time.Instant.now().minusSeconds(600)) // late burst
        q.processAllAvailable()
        writeBatch("b2.json", java.time.Instant.now().minusSeconds(900)) // still late
        q.processAllAvailable()
        writeBatch("b3.json", java.time.Instant.now()) // recovered
        q.processAllAvailable()
      } finally q.stop()
    } finally {
      spark.conf.set(ndKey, prevNd)
      spark.streams.removeListener(listener)
    }
    val hist = listener.history
    assert(hist.size === 4, s"expected one batch per file: $hist")
    assert(hist.forall(_.eventAgeMaxMs >= 0),
      "every batch carries event-time info under the watermarked agg")
    val out = Alerts.evaluateProgress(spark, hist, Alerts.latencyRules)
      .filter(col("alert") === "high_e2e_latency").collect()
      .map(r => (r.getAs[String]("window_start"), r.getAs[String]("state")))
    // batches 1 and 2 breach (ages ~600/~900 s >> 60 s): pending then
    // firing; batches 0 and 3 (fresh, age ≈ processing time) never appear
    assert(out.toSeq === Seq(
      ("1970-01-01 00:00:01", "pending"),
      ("1970-01-01 00:00:02", "firing")), s"got ${out.toSeq}; hist=$hist")
  }

  test("DP ledger: budget gate, idempotent replay, per-dataset isolation") {
    import graft.quality.DpLedger
    val led = tempRoot("graft-dp-led")
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "fr"), (5L, "en"))
      .toDF("doc_id", "lang")
    def release(id: String, eps: Double, ds: String = "docs") =
      DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, ds, id, eps,
        totalBudget = 1.0)
    val r1 = release("r1", 0.4).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(r1("en")._1 === 3L && r1.size === 3)
    // noise is nonzero but bounded-sane at ε=0.4 (b=2.5): |noise| < 40
    assert(r1.values.forall { case (n, ndp) =>
      ndp != n.toDouble && math.abs(ndp - n) < 40 })
    assert(math.abs(DpLedger.spent(spark, led, "docs") - 0.4) < 1e-9)
    // idempotent replay: same release id → no new spend, SAME numbers
    val r1b = release("r1", 0.4).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(r1b === r1)
    assert(math.abs(DpLedger.spent(spark, led, "docs") - 0.4) < 1e-9)
    // a NEW release id draws FRESH noise and spends
    val r2 = release("r2", 0.4).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(r2("en") !== r1("en")._2, "fresh release id must re-draw noise")
    assert(math.abs(DpLedger.spent(spark, led, "docs") - 0.8) < 1e-9)
    // budget gate: 0.8 + 0.4 > 1.0 → fail fast, ledger untouched
    val ex = intercept[IllegalStateException] { release("r3", 0.4) }
    assert(ex.getMessage.contains("budget exhausted"))
    assert(math.abs(DpLedger.spent(spark, led, "docs") - 0.8) < 1e-9)
    assert(DpLedger.ledger(spark, led).count() === 2L)
    // datasets compose independently
    val other = release("r1", 0.9, ds = "other")
    assert(other.count() === 3L)
    assert(math.abs(DpLedger.spent(spark, led, "other") - 0.9) < 1e-9)
    // an exactly-exhausting release is allowed (<=, not <)
    assert(release("r4", 0.2).count() === 3L)
    assert(math.abs(DpLedger.spent(spark, led, "docs") - 1.0) < 1e-9)
    // a releaseId reused for a DIFFERENT query must throw — a silent
    // "replay" there would publish new numbers without spending
    val ex2 = intercept[IllegalStateException] {
      DpLedger.gatedLaplaceSums(docs.withColumn("v", lit(10.0)),
        Seq("lang"), "v", clip = 5.0, led, "docs", "r1", 0.4, 1.0)
    }
    assert(ex2.getMessage.contains("DIFFERENT query"))
    // sums: per-row contributions clip BEFORE summing (sensitivity =
    // clip), on an independent dataset budget
    val sums = DpLedger.gatedLaplaceSums(docs.withColumn("v", lit(10.0)),
        Seq("lang"), "v", clip = 5.0, led, "sums", "s1", 0.5, 1.0)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(sums("en")._2 === 15.0, "3 en rows x clip 5, not 3 x 10")
    assert(sums("en")._3 !== 15.0)
    assert(math.abs(sums("en")._3 - 15.0) < 200.0)
    assert(math.abs(DpLedger.spent(spark, led, "sums") - 0.5) < 1e-9)
  }

  test("DP ledger: secret salt re-keys the noise, multi-key seeds are " +
    "boundary- and null-safe, publicView drops the exact columns") {
    import graft.quality.DpLedger
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("doc_id", "lang")
    def fresh() = tempRoot("graft-dp-salt")
    // (a) a non-empty secretSalt draws DIFFERENT noise for the same
    // (dataset, releaseId, group) — the unsalted draw is recomputable
    // from public metadata, so a real release must re-key it
    val unsalted = DpLedger.gatedLaplaceCounts(docs, Seq("lang"), fresh(),
        "d", "r1", 0.5, 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val salted = DpLedger.gatedLaplaceCounts(docs, Seq("lang"), fresh(),
        "d", "r1", 0.5, 1.0, secretSalt = "s3cr3t")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(unsalted.keySet === salted.keySet)
    assert(unsalted.keys.forall(k => unsalted(k) !== salted(k)),
      "salted draws must differ from the public-seed draws")
    // and the salted release replays byte-identically under the same salt
    val led2 = fresh()
    val s1 = DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led2,
      "d", "r1", 0.5, 1.0, secretSalt = "s3cr3t").collect().toSeq
    val s2 = DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led2,
      "d", "r1", 0.5, 1.0, secretSalt = "s3cr3t").collect().toSeq
    assert(s1 === s2)
    // (b) multi-key groups that would collide under a separator-less
    // join — ("ab","c") vs ("a","bc") — must draw DIFFERENT noise.
    // Counts are equal (2 rows each) so distinct n_dp proves a
    // distinct draw.
    val pairs = Seq(("ab", "c"), ("ab", "c"), ("a", "bc"), ("a", "bc"))
      .toDF("k1", "k2")
    val mk = DpLedger.gatedLaplaceCounts(pairs, Seq("k1", "k2"), fresh(),
        "d", "r1", 0.5, 10.0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    assert(mk(("ab", "c")) !== mk(("a", "bc")),
      "boundary-colliding composite keys must not share a noise draw")
    // (c) a NULL key and an empty-string key draw differently too
    val nulls = Seq(Some(""), Some(""), None, None)
      .toDF("k")
    val nk = DpLedger.gatedLaplaceCounts(nulls, Seq("k"), fresh(),
        "d", "r1", 0.5, 10.0)
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(2)).toMap
    assert(nk(Some("")) !== nk(None),
      "null and empty-string keys must not share a noise draw")
    // (d) publicView: the released projection carries no exact values
    val full = DpLedger.gatedLaplaceSums(
      docs.withColumn("v", lit(10.0)), Seq("lang"), "v", clip = 5.0,
      fresh(), "d", "r1", 0.5, 1.0, secretSalt = "s3cr3t")
    assert(full.columns.toSeq === Seq("lang", "n", "sum_clipped", "sum_dp"))
    assert(DpLedger.publicView(full).columns.toSeq === Seq("lang", "sum_dp"))
    val fullC = DpLedger.gatedLaplaceCounts(docs, Seq("lang"), fresh(),
      "d", "r1", 0.5, 1.0, secretSalt = "s3cr3t")
    assert(DpLedger.publicView(fullC).columns.toSeq === Seq("lang", "n_dp"))
  }

  test("DP ledger survives a mid-swap crash: the backup restores, no spend lost") {
    import graft.quality.DpLedger
    val led = tempRoot("graft-dp-crash")
    val docs = Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
    DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r1", 0.3, 1.0)
      .collect()
    assert(math.abs(DpLedger.spent(spark, led, "d") - 0.3) < 1e-9)
    // simulate the crash window: the ledger moved aside but the staged
    // dir was never promoted — READS in this window must restore the
    // backup before answering, or spent() reads 0 and the gate is blind
    val dataDir = new java.io.File(s"$led/data")
    val backup = new java.io.File(s"$led/_prestate")
    assert(dataDir.renameTo(backup), "test setup: simulate mid-swap crash")
    // hole 1: an over-budget release right inside the window must still
    // be refused (budget 0.5: 0.3 spent + 0.3 requested exceeds it)
    intercept[IllegalStateException] {
      DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r2", 0.3, 0.5)
    }
    // hole 2: replaying r1 inside the window must NOT re-append its row
    assert(dataDir.renameTo(backup) || backup.exists(),
      "window may have been healed by the read above")
    DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r1", 0.3, 1.0)
      .collect()
    assert(math.abs(DpLedger.spent(spark, led, "d") - 0.3) < 1e-9)
    assert(DpLedger.ledger(spark, led).count() === 1L)
    // and a legitimate further release still lands on the restored books
    DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r2", 0.3, 1.0)
      .collect()
    assert(math.abs(DpLedger.spent(spark, led, "d") - 0.6) < 1e-9)
    intercept[IllegalStateException] {
      DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r3", 0.5, 1.0)
    }
  }

  test("DP ledger: pre-v2 replays are free ONLY where the seeds are " +
    "byte-identical (single non-null key); multi-key and null-key " +
    "replays are rejected, new spends record the current scheme") {
    import graft.quality.DpLedger
    val led = tempRoot("graft-dp-scheme")
    val docs = Seq((1L, "en", "a"), (2L, "de", "b"))
      .toDF("doc_id", "lang", "src")
    // simulate a ledger written BEFORE the seed_scheme column: the same
    // row shape minus the column.
    Seq(("d", "r1", "count by lang", 0.3),
        ("d", "rm", "count by lang,src", 0.2),
        ("d", "rn", "count by lang", 0.1))
      .toDF("dataset", "release_id", "query_key", "epsilon")
      .coalesce(1).write.mode("overwrite").parquet(s"$led/data")
    // single non-null key: keySeed is byte-identical to the historical
    // separator-less form, so the replay reproduces the published
    // numbers exactly — it stays the contract's FREE no-op (the
    // streaming checkpoint-replay case), spending nothing
    val rep1 = DpLedger
      .gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r1", 0.3, 1.0)
      .orderBy("lang").collect().map(_.toSeq)
    val rep2 = DpLedger
      .gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r1", 0.3, 1.0)
      .orderBy("lang").collect().map(_.toSeq)
    assert(rep1.toSeq === rep2.toSeq)
    assert(math.abs(DpLedger.spent(spark, led, "d") - 0.6) < 1e-9)
    // multi-key: NUL-joined seed differs from the separator-less form —
    // a "free" replay would be a second independent draw; refused
    val exM = intercept[IllegalStateException] {
      DpLedger.gatedLaplaceCounts(docs, Seq("lang", "src"), led, "d",
        "rm", 0.2, 1.0)
    }
    assert(exM.getMessage.contains("seed scheme"))
    assert(exM.getMessage.contains("pre-v2"))
    // single key but a NULL key value: the U+0001 sentinel changed that
    // group's seed relative to concat_ws's null-skipping — refused too
    val withNull = Seq((1L, "en"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "lang")
    val exN = intercept[IllegalStateException] {
      DpLedger.gatedLaplaceCounts(withNull, Seq("lang"), led, "d",
        "rn", 0.1, 1.0)
    }
    assert(exN.getMessage.contains("seed scheme"))
    // the legacy spends still count against the budget…
    assert(math.abs(DpLedger.spent(spark, led, "d") - 0.6) < 1e-9)
    // …and a NEW release id works, recording the current scheme, after
    // which ITS replay is free as usual
    DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r2", 0.3, 1.0)
      .collect()
    assert(math.abs(DpLedger.spent(spark, led, "d") - 0.9) < 1e-9)
    DpLedger.gatedLaplaceCounts(docs, Seq("lang"), led, "d", "r2", 0.3, 1.0)
      .collect()
    assert(math.abs(DpLedger.spent(spark, led, "d") - 0.9) < 1e-9)
    val schemes = DpLedger.ledger(spark, led)
      .select("release_id", "seed_scheme")
      .as[(String, String)].collect().toMap
    assert(schemes === Map("r1" -> "pre-v2", "rm" -> "pre-v2",
      "rn" -> "pre-v2", "r2" -> "nul-v2"))
  }

  test("DP ledger composes with streaming: replayed batches spend no new ε") {
    // the governance twin of the warehouse batch markers: releaseId =
    // batch id, so a checkpoint-lost replay re-publishes byte-identical
    // noised counts and the ε ledger does NOT double-charge
    import graft.quality.DpLedger
    val inDir = tempRoot("graft-dps-in")
    val led = tempRoot("graft-dps-led")
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "b0.json"),
      Seq("""{"k":"a"}""", """{"k":"a"}""", """{"k":"b"}""").mkString("\n"))
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      Seq("""{"k":"a"}""", """{"k":"c"}""").mkString("\n"))
    def run(): Map[(Long, String), Double] = {
      val out = scala.collection.mutable.Map.empty[(Long, String), Double]
      val ckpt = tempRoot("graft-dps-ck")
      val q = spark.readStream.schema("k STRING")
        .option("maxFilesPerTrigger", 1).json(inDir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          DpLedger.gatedLaplaceCounts(b, Seq("k"), led, "stream", s"b$id",
              epsilon = 0.3, totalBudget = 1.0)
            .collect().foreach(r =>
              out((id, r.getString(0))) = r.getDouble(2))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      out.toMap
    }
    val first = run()
    assert(first.keySet.map(_._1) === Set(0L, 1L))
    assert(math.abs(DpLedger.spent(spark, led, "stream") - 0.6) < 1e-9)
    // fresh checkpoint = full replay; same release ids → same numbers,
    // no new spend
    val replay = run()
    assert(replay === first)
    assert(math.abs(DpLedger.spent(spark, led, "stream") - 0.6) < 1e-9)
    assert(DpLedger.ledger(spark, led).count() === 2L)
  }

  private implicit class StateSeqOps(s: Seq[(String, String, String)]) {
    def toMap2: Map[(String, String), String] =
      s.map(t => (t._1, t._2) -> t._3).toMap
  }
}
