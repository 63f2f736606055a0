package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{AsOf, Skew}
import graft.streaming.StreamingPipeline

/** As-of lookups, skew-salted aggregation, and the in-stream windowed
  * aggregation / streaming-dedup extensions. */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("orchestration combinators: retries, SLA verdict, ordered catchup") {
    import graft.operators.Orchestrate
    // flaky body: fails twice, then succeeds; sleeps are recorded not slept
    var calls = 0
    val slept = scala.collection.mutable.ListBuffer.empty[Long]
    val (r, attempts) = Orchestrate.withRetries(3, delayMs = 50L, slept += _) {
      () => { calls += 1; if (calls < 3) sys.error("transient"); "ok" }
    }
    assert((r, attempts, calls) === (("ok", 3, 3)))
    assert(slept.toSeq === Seq(50L, 50L)) // no sleep after the success
    // exhausted attempts rethrow the LAST failure
    intercept[RuntimeException] {
      Orchestrate.withRetries(2, 0L, _ => ())(() => sys.error("always"))
    }
    // runReport never throws; failure + SLA verdict are data
    val (none, rep) = Orchestrate.runReport(2, 0L, slaMs = Some(-1L),
      sleep = _ => ())(() => sys.error("down"))
    assert(none.isEmpty && !rep.succeeded && rep.attempts === 2)
    assert(rep.slaMissed) // elapsed (>= 0 ms) always exceeds a -1 ms SLA
    assert(!Orchestrate.RunReport(1, true, 5L, Some(100L)).slaMissed)
    assert(Orchestrate.RunReport(1, true, 500L, Some(100L)).slaMissed)
    // catchup runs only missing dates, in order, and stops at a failure
    val ran = scala.collection.mutable.ListBuffer.empty[String]
    val out = Orchestrate.catchup(
      Seq("d1", "d2", "d3", "d4"), isDone = _ == "d1") { d =>
      if (d == "d3") sys.error("broken day") else ran += d
    }
    assert(out === Seq("d2"))        // d1 skipped (done), d3 failed → stop
    assert(ran.toSeq === Seq("d2"))  // d4 never attempted after the failure
  }

  test("orchestration: fatal errors escape unretried; interrupts restore the flag") {
    import graft.operators.Orchestrate
    // an OutOfMemoryError must escape withRetries on the FIRST attempt —
    // retrying through a compromised JVM only hides the crash
    var calls = 0
    intercept[OutOfMemoryError] {
      Orchestrate.withRetries(3, 0L, _ => ()) { () =>
        calls += 1; throw new OutOfMemoryError("simulated")
      }
    }
    assert(calls === 1)
    // runReport must not bury a fatal error as a failed report row
    intercept[OutOfMemoryError] {
      Orchestrate.runReport(3, 0L, sleep = _ => ())(() =>
        throw new OutOfMemoryError("simulated"))
    }
    // an interrupt is a cancellation request: it propagates on the first
    // attempt AND leaves the thread's interrupt flag set for the caller
    var icalls = 0
    intercept[InterruptedException] {
      Orchestrate.withRetries(3, 0L, _ => ()) { () =>
        icalls += 1; throw new InterruptedException("cancel")
      }
    }
    assert(icalls === 1)
    // Thread.interrupted() observes AND clears, leaving the harness clean
    assert(Thread.interrupted(), "interrupt flag must be restored")
  }

  test("asofSelf carries the last prior matching value per key") {
    val df = Seq(
      ("u1", 1L, "signup"), ("u1", 2L, "click"), ("u1", 3L, "signup"),
      ("u1", 4L, "purchase"), ("u2", 5L, "click")
    ).toDF("user", "seq", "typ")
    val out = AsOf.asofSelf(df, Seq("user"), Seq(col("seq").asc),
        col("seq"), col("typ") === "signup", "prior_signup")
      .select("seq", "prior_signup").as[(Long, Option[Long])].collect().toMap
    assert(out(1L) === None)       // nothing before the first row
    assert(out(2L) === Some(1L))
    assert(out(4L) === Some(3L))   // most recent, not first
    assert(out(5L) === None)       // other key unaffected
  }

  test("asofJoin attaches the right row in effect at each left time") {
    val left = Seq(("k", 10L, "a"), ("k", 20L, "b"), ("k", 5L, "c"))
      .toDF("key", "t", "tag")
    val right = Seq(("k", 8L, 1.0), ("k", 20L, 2.0)).toDF("key", "t", "rate")
    val out = AsOf.asofJoin(left, right, "key", "t", "t", Seq("rate"))
      .select("tag", "rate_asof").as[(String, Option[Double])].collect().toMap
    assert(out("c") === None)        // before any right row
    assert(out("a") === Some(1.0))
    assert(out("b") === Some(2.0))   // right row at exactly t is visible
  }

  test("saltedStats equals the direct aggregation") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toDouble))
      .toDF("key", "value")
    val direct = df.groupBy("key")
      .agg(sum("value").as("sum_value"), count("value").as("count_value"),
        min("value").as("min_value"), max("value").as("max_value"),
        (sum("value") / count("value")).as("avg_value"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val salted = Skew.saltedStats(df, Seq("key"), "value", buckets = 8)
      .select("key", "sum_value", "count_value", "min_value", "max_value", "avg_value")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(salted === direct)
  }

  test("saltedJoin equals the plain join") {
    val probe = (1 to 500).map(i => (s"k${i % 3}", i)).toDF("key", "v")
    val build = Seq(("k0", "zero"), ("k1", "one"), ("k2", "two")).toDF("key", "name")
    val direct = probe.join(build, Seq("key")).count()
    assert(Skew.saltedJoin(probe, build, "key", 8).count() === direct)
  }

  test("streaming windowed agg with watermark emits finalized windows") {
    val inDir = tempRoot("graft-swin")
    def writeBatch(name: String, lines: Seq[String]): Unit =
      Files.writeString(java.nio.file.Path.of(inDir, name), lines.mkString("\n"))
    // JSON lines with event time + key + value
    writeBatch("b1.json", Seq(
      """{"ts":"2024-06-15 10:00:10","k":"a","v":1.0}""",
      """{"ts":"2024-06-15 10:01:10","k":"a","v":3.0}""",
      """{"ts":"2024-06-15 10:07:00","k":"a","v":5.0}"""))
    val schema = "ts timestamp, k string, v double"
    val src = spark.readStream.schema(schema).json(inDir)
    val agg = StreamingPipeline.windowedAgg(src, "ts", Seq("k"), "v",
      "5 minutes", "1 minute")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("swin").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      // advance the watermark past the first window with a later batch
      writeBatch("b2.json", Seq("""{"ts":"2024-06-15 10:20:00","k":"a","v":7.0}"""))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("swin")
      .select("k", "window_start", "reading_count", "avg_value")
      .collect()
    assert(rows.nonEmpty, "no finalized windows emitted")
    val first = rows.find(_.getAs[Timestamp]("window_start") ===
      Timestamp.valueOf("2024-06-15 10:00:00"))
    assert(first.isDefined)
    assert(first.get.getAs[Long]("reading_count") === 2L)
    assert(first.get.getAs[Double]("avg_value") === 2.0)
  }

  test("T9: MetricsListener observes progress of a running query") {
    val inDir = tempRoot("graft-listen")
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      """{"ts":"2024-06-15 10:00:10","k":"a","v":1.0}""")
    val listener = new StreamingPipeline.MetricsListener
    spark.streams.addListener(listener)
    try {
      val src = spark.readStream.schema("ts timestamp, k string, v double").json(inDir)
      val q = src.writeStream.outputMode("append").format("memory")
        .queryName("listend").start()
      try q.processAllAvailable() finally q.stop()
      // progress events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (listener.batches == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.batches > 0)
      assert(listener.lastNumInputRows === 1L)
    } finally spark.streams.removeListener(listener)
  }

  test("streaming dedup within watermark keeps one row per key") {
    val inDir = tempRoot("graft-sdedup")
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"), Seq(
      """{"ts":"2024-06-15 10:00:10","k":"a","v":1.0}""",
      """{"ts":"2024-06-15 10:00:11","k":"a","v":2.0}""",
      """{"ts":"2024-06-15 10:00:12","k":"b","v":3.0}""").mkString("\n"))
    val src = spark.readStream.schema("ts timestamp, k string, v double").json(inDir)
    val deduped = StreamingPipeline.streamingDedup(src, "ts", Seq("k"), "10 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("sdedup").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("sdedup").count() === 2)
  }

  test("streaming session windows merge events within the gap") {
    val inDir = tempRoot("graft-sesswin")
    // two bursts for key a separated by > 5 min, one event for key b
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"), Seq(
      """{"ts":"2024-06-15 10:00:00","k":"a","v":1.0}""",
      """{"ts":"2024-06-15 10:01:00","k":"a","v":2.0}""",
      """{"ts":"2024-06-15 10:30:00","k":"a","v":3.0}""",
      """{"ts":"2024-06-15 10:00:30","k":"b","v":4.0}""").mkString("\n"))
    val src = spark.readStream.schema("ts timestamp, k string, v double").json(inDir)
    val agg = StreamingPipeline.sessionWindowAgg(src, "ts", Seq("k"), "v",
      gap = "5 minutes", watermark = "0 seconds")
    // session windows emit in append mode once the watermark passes the
    // session end; push the watermark forward with late flush batches
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("sesswin").start()
    try {
      q.processAllAvailable()
      Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
        """{"ts":"2024-06-15 11:00:00","k":"z","v":0.0}""")
      q.processAllAvailable()
      Files.writeString(java.nio.file.Path.of(inDir, "b3.json"),
        """{"ts":"2024-06-15 12:00:00","k":"z","v":0.0}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sesswin").filter($"k" =!= "z")
      .select("k", "n_events").as[(String, Long)].collect().toSet
    // a: {2 events} then {1 event} after the >5-min gap; b: {1 event}
    assert(out === Set(("a", 2L), ("a", 1L), ("b", 1L)))
  }

  test("flatMapGroupsWithState sessionizer closes on in-batch gaps and timeouts") {
    val inDir = tempRoot("graft-fms")
    // key a: burst of 2, then (same batch) an event past the 5-min gap —
    // the first session must close immediately from the arriving data
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"), Seq(
      """{"ts":"2024-06-15 10:00:00","k":"a","v":1.0}""",
      """{"ts":"2024-06-15 10:01:00","k":"a","v":2.0}""",
      """{"ts":"2024-06-15 10:30:00","k":"a","v":3.0}""").mkString("\n"))
    val src = spark.readStream.schema("ts timestamp, k string, v double").json(inDir)
    val sessions = StreamingPipeline.flatMapSessionize(src, "k", "ts",
      watermark = "0 seconds", gapSeconds = 300)
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("fms").start()
    try {
      q.processAllAvailable()
      // advance the watermark past 10:30 + gap so the open session times out
      Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
        """{"ts":"2024-06-15 11:00:00","k":"z","v":0.0}""")
      q.processAllAvailable()
      Files.writeString(java.nio.file.Path.of(inDir, "b3.json"),
        """{"ts":"2024-06-15 12:00:00","k":"z","v":0.0}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("fms").filter($"key" === "a")
      .select("n_events").as[Long].collect().sorted.toSeq
    assert(out === Seq(1L, 2L)) // burst of 2 closed by gap, single closed by timeout
  }

  test("mapGroupsWithState carries running per-key stats across batches") {
    val inDir = tempRoot("graft-runstate")
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"), Seq(
      """{"k":"a","v":1.0}""", """{"k":"a","v":5.0}""",
      """{"k":"b","v":2.0}""").mkString("\n"))
    val src = spark.readStream.schema("k string, v double").json(inDir)
    val q = StreamingPipeline.runningKeyStats(src, "k", "v")
      .writeStream.outputMode("update").format("memory")
      .queryName("runstate").start()
    try {
      q.processAllAvailable()
      // second micro-batch must see the state from the first
      Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
        """{"k":"a","v":3.0}""")
      q.processAllAvailable()
    } finally q.stop()
    val byKey = spark.table("runstate").select("key", "n", "sum", "max")
      .as[(String, Long, Double, Double)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    assert(byKey("a") === (("a", 3L, 9.0, 5.0))) // 1+5 then +3, max 5
    assert(byKey("b") === (("b", 1L, 2.0, 2.0)))
  }

  test("transformWithState matches mapGroupsWithState running stats (RocksDB store)") {
    val inDir = tempRoot("graft-tws")
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"), Seq(
      """{"k":"a","v":1.0}""", """{"k":"a","v":5.0}""",
      """{"k":"b","v":2.0}""").mkString("\n"))
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val src = spark.readStream.schema("k string, v double").json(inDir)
    val q = StreamingPipeline.runningKeyStatsTws(src, "k", "v")
      .writeStream.outputMode("update").format("memory")
      .queryName("twsstate").start()
    try {
      q.processAllAvailable()
      Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
        """{"k":"a","v":3.0}""")
      q.processAllAvailable()
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
    val byKey = spark.table("twsstate").select("key", "n", "sum", "max")
      .as[(String, Long, Double, Double)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    // identical end state to the mapGroupsWithState test above
    assert(byKey("a") === (("a", 3L, 9.0, 5.0)))
    assert(byKey("b") === (("b", 1L, 2.0, 2.0)))
  }

  test("stream-stream join matches within the time bound and key") {
    val lDir = tempRoot("graft-ssj-l")
    val rDir = tempRoot("graft-ssj-r")
    Files.writeString(java.nio.file.Path.of(lDir, "l1.json"), Seq(
      """{"k":"a","lt":"2024-06-15 10:00:00","lv":1.0}""",
      """{"k":"b","lt":"2024-06-15 10:00:00","lv":2.0}""").mkString("\n"))
    Files.writeString(java.nio.file.Path.of(rDir, "r1.json"), Seq(
      """{"k":"a","rt":"2024-06-15 10:03:00","rv":10.0}""",
      """{"k":"a","rt":"2024-06-15 10:20:00","rv":20.0}""",
      """{"k":"b","rt":"2024-06-15 09:59:00","rv":30.0}""").mkString("\n"))
    val l = spark.readStream.schema("k string, lt timestamp, lv double").json(lDir)
    val r = spark.readStream.schema("k string, rt timestamp, rv double").json(rDir)
    val joined = StreamingPipeline.streamStreamJoin(l, r, "k", "lt", "rt",
      watermark = "1 hour", within = "10 minutes")
    val q = joined.select(col("lv"), col("rv")).writeStream
      .outputMode("append").format("memory").queryName("ssj").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("ssj").as[(Double, Double)].collect().toSet
    // a@10:03 is within 10 min of a@10:00; a@10:20 is outside; b's right
    // event precedes the left event so never matches
    assert(out === Set((1.0, 10.0)))
  }

  test("funnel conversion: steps must happen in order; missing steps are null") {
    import graft.operators.Funnel
    val t0 = Timestamp.valueOf("2024-06-15 10:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    val df = Seq(
      // u1 completes the funnel in order
      ("u1", "signup", ts(0)), ("u1", "click", ts(10)), ("u1", "purchase", ts(20)),
      // u2 clicked BEFORE signing up — click must not count
      ("u2", "click", ts(0)), ("u2", "signup", ts(10)),
      // u3 never signed up
      ("u3", "click", ts(0)), ("u3", "purchase", ts(5))
    ).toDF("user", "typ", "t")
    val per = Funnel.conversion(df, "user", "typ", "t", Seq("signup", "click", "purchase"))
      .select("user", "t_1", "t_2", "t_3")
      .as[(String, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(per("u1") === ((Some(ts(0)), Some(ts(10)), Some(ts(20)))))
    assert(per("u2") === ((Some(ts(10)), None, None))) // pre-signup click ignored
    assert(!per.contains("u3"))                        // no first step, no row
    val counts = Funnel.conversionCounts(df, "user", "typ", "t",
      Seq("signup", "click", "purchase"))
      .as[(Long, Long, Long)].head()
    assert(counts === ((2L, 1L, 1L)))
  }

  test("cohort retention counts distinct users per cohort-week offset") {
    import graft.operators.Funnel
    val df = Seq(
      ("a", Timestamp.valueOf("2024-06-03 10:00:00")), // week 0 (Mon Jun 3)
      ("a", Timestamp.valueOf("2024-06-11 10:00:00")), // week 1
      ("b", Timestamp.valueOf("2024-06-04 10:00:00")), // week 0 only
      ("c", Timestamp.valueOf("2024-06-12 10:00:00"))  // cohort of week 1
    ).toDF("user", "t")
    val out = Funnel.cohortRetention(df, "user", "t")
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cw"),
        col("week_offset"), col("n_active"))
      .as[(String, Int, Long)].collect().toSet
    assert(out === Set(
      ("2024-06-03", 0, 2L),  // a + b active in their cohort week
      ("2024-06-03", 1, 1L),  // only a returned
      ("2024-06-10", 0, 1L))) // c's cohort
  }

  test("scd2History versions attribute runs with correct validity ranges") {
    import graft.warehouse.Warehouse
    val t0 = Timestamp.valueOf("2024-06-15 10:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    val df = Seq(
      ("u", ts(0), 1L, "x"), ("u", ts(10), 2L, "x"),  // run 1: x
      ("u", ts(20), 3L, "y"),                          // run 2: y
      ("u", ts(30), 4L, "x")                           // run 3: back to x
    ).toDF("user", "t", "eid", "attr")
    val out = Warehouse.scd2History(df, "user", "attr", "t",
        Seq(col("t").asc, col("eid").asc))
      .orderBy("version")
      .select("version", "attr", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Timestamp, Option[Timestamp], Long)].collect().toSeq
    assert(out === Seq(
      (1L, "x", ts(0), Some(ts(20)), 2L),
      (2L, "y", ts(20), Some(ts(30)), 1L),
      (3L, "x", ts(30), None, 1L)))  // open-ended current version
  }

  test("sessionize splits on gaps > threshold and rolls up durations") {
    import graft.operators.Sessionize
    val t0 = Timestamp.valueOf("2024-06-15 10:00:00")
    def ts(offsetSec: Long) = new Timestamp(t0.getTime + offsetSec * 1000)
    // u1: events at 0s, 60s, [gap 40min] 2460s, 2470s; u2: one event
    val df = Seq(
      ("u1", ts(0), 1L), ("u1", ts(60), 2L), ("u1", ts(2460), 3L),
      ("u1", ts(2470), 4L), ("u2", ts(0), 5L)
    ).toDF("user", "t", "eid")
    val out = Sessionize.sessionAgg(df, Seq("user"), "t",
        Seq(col("t").asc, col("eid").asc), gapSeconds = 1800)
      .select("user", "session_idx", "n_events", "duration_us")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out === Set(
      ("u1", 1L, 2L, 60000000L),   // first session: 2 events over 60s
      ("u1", 2L, 2L, 10000000L),   // second session after the 40-min gap
      ("u2", 1L, 1L, 0L)))
  }

  test("sessionize assign is a per-key monotone 1-based index") {
    import graft.operators.Sessionize
    val t0 = Timestamp.valueOf("2024-06-15 10:00:00")
    def ts(offsetSec: Long) = new Timestamp(t0.getTime + offsetSec * 1000)
    val df = Seq(("u", ts(0), 1L), ("u", ts(10000), 2L), ("u", ts(20000), 3L))
      .toDF("user", "t", "eid")
    val idx = Sessionize.assign(df, Seq("user"), "t",
        Seq(col("t").asc, col("eid").asc), gapSeconds = 1800)
      .orderBy("eid").select("session_idx").as[Long].collect().toSeq
    assert(idx === Seq(1L, 2L, 3L)) // every event its own session
  }

  test("int8 quantization: scale, clamp, saturation, zero-vector guard") {
    import graft.ext.Quantize
    val df = Seq(
      (1L, Seq(2.0f, -4.0f, 1.0f)), // maxabs 4 → scale 31.75
      (2L, Seq(0.0f, 0.0f, 0.0f))   // zero vector → scale 0, q all 0
    ).toDF("id", "vec")
    val out = df.select(col("id"),
        Quantize.int8Scale(col("vec")).as("s"),
        Quantize.int8Quantize(col("vec")).as("q"))
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (k, s, q) => k -> ((s, q)) }.toMap
    val (s1, q1) = (out(1L)._1, out(1L)._2)
    assert(math.abs(s1 - 31.75) < 1e-12)
    assert(q1 === Seq(64, -127, 32)) // round(2*31.75)=64, maxabs saturates at -127
    assert(out(2L) === ((0.0, Seq(0, 0, 0))))
  }
}
