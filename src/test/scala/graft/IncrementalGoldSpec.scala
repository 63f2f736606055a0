package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamingPipeline

/** Continuous gold maintenance and stream-static enrichment. */
class IncrementalGoldSpec extends SparkTestBase {
  import spark.implicits._

  private def writeBatch(dir: String, name: String, rows: Seq[String]): Unit =
    Files.writeString(java.nio.file.Path.of(dir, name), rows.mkString("\n"))

  test("incremental gold equals batch recomputation after two micro-batches") {
    val inDir = tempRoot("graft-ig-in")
    val goldDir = tempRoot("graft-ig-gold") + "/g"
    val ckpt = tempRoot("graft-ig-ckpt")
    writeBatch(inDir, "b1.json", Seq(
      """{"t":"2024-06-15 10:01:00","k":"a","v":1.0}""",
      """{"t":"2024-06-15 10:02:00","k":"a","v":5.0}""",
      """{"t":"2024-06-15 10:06:00","k":"b","v":2.0}"""))
    val src = spark.readStream.schema("t timestamp, k string, v double")
      .json(inDir)
    val q = StreamingPipeline.incrementalGold(src, goldDir, ckpt,
      "t", Seq("k"), "v", "5 minutes")
    try {
      q.processAllAvailable()
      writeBatch(inDir, "b2.json", Seq(
        """{"t":"2024-06-15 10:03:00","k":"a","v":9.0}""", // same window as b1
        """{"t":"2024-06-15 10:11:00","k":"a","v":4.0}""")) // new window
      q.processAllAvailable()
    } finally q.stop()
    val gold = spark.read.parquet(s"$goldDir/data")
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("k"), col("n"), col("sum_v"), col("min_v"), col("max_v"))
      .as[(String, String, Long, Double, Double, Double)].collect().toSet
    assert(gold === Set(
      ("10:00", "a", 3L, 15.0, 1.0, 9.0),
      ("10:05", "b", 1L, 2.0, 2.0, 2.0),
      ("10:10", "a", 1L, 4.0, 4.0, 4.0)))
  }

  test("a replayed batch id is a no-op (at-least-once made exactly-once)") {
    val goldDir = tempRoot("graft-ig2") + "/g"
    val batch = Seq(("2024-06-15 10:01:00", "a", 1.0))
      .toDF("t", "k", "v")
      .select(to_timestamp(col("t")).as("t"), col("k"), col("v"))
    StreamingPipeline.mergeGoldBatch(batch, goldDir, 0L, "t", Seq("k"), "v",
      "5 minutes")
    StreamingPipeline.mergeGoldBatch(batch, goldDir, 0L, "t", Seq("k"), "v",
      "5 minutes") // replay of the SAME batch id must not double-count
    val n = spark.read.parquet(s"$goldDir/data")
      .agg(sum("n")).as[Long].head()
    assert(n === 1L)
    // a NEW batch id with the same data does merge
    StreamingPipeline.mergeGoldBatch(batch, goldDir, 1L, "t", Seq("k"), "v",
      "5 minutes")
    val n2 = spark.read.parquet(s"$goldDir/data").agg(sum("n")).as[Long].head()
    assert(n2 === 2L)
  }

  test("incremental EWMA/seasonal gold: parity with batch recompute, replay no-op") {
    val ewmaDir = tempRoot("graft-ewma") + "/s"
    val seasDir = tempRoot("graft-seas") + "/s"
    // three logical days × two types, delivered as three micro-batches
    // that SPLIT days across batches (the merge has to add, not replace)
    val all = Seq(
      ("2024-06-10 01:00:00", "click", 1.0), ("2024-06-10 13:00:00", "click", 3.0),
      ("2024-06-10 01:30:00", "error", 8.0), ("2024-06-11 01:00:00", "click", 5.0),
      ("2024-06-11 13:00:00", "click", 7.0), ("2024-06-11 13:30:00", "error", 2.0),
      ("2024-06-12 01:00:00", "click", 4.0), ("2024-06-12 13:00:00", "error", 6.0),
      ("2024-06-12 13:45:00", "error", 9.0))
    def df(rows: Seq[(String, String, Double)]) = rows
      .toDF("ts", "event_type", "value")
      .select(to_timestamp(col("ts")).as("ts"), col("event_type"), col("value"))
    val batches = Seq(all.take(3), all.slice(3, 6), all.drop(6))
    batches.zipWithIndex.foreach { case (rows, id) =>
      StreamingPipeline.ewmaGoldBatch(df(rows), id.toLong, ewmaDir,
        "ts", Seq("event_type"), "value")
      StreamingPipeline.seasonalBaselineBatch(df(rows), id.toLong, seasDir,
        "ts", Seq("event_type"), "value")
    }
    // EWMA view over incremental state ≡ the batch a_ewma_daily shape
    // recomputed over the full corpus
    def ewmaOf(daily: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day").rowsBetween(-9, 0)
      daily.withColumn("lv", collect_list(col("v")).over(w))
        .select(col("event_type"), col("day"),
          round(aggregate(
            slice(col("lv"), lit(2), greatest(size(col("lv")) - 1, lit(0))),
            element_at(col("lv"), 1),
            (a, x) => a * lit(0.5) + x * lit(0.5)) + lit(1e-9), 4).as("ewma"))
    }
    val batchDaily = df(all)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(avg(col("value")) + lit(1e-9), 4).as("v"))
    val expect = ewmaOf(batchDaily)
      .as[(String, java.sql.Date, Double)].collect().toSet
    val got = StreamingPipeline.ewmaDailyView(
        spark.read.parquet(s"$ewmaDir/data"), Seq("event_type"))
      .as[(String, java.sql.Date, Double)].collect().toSet
    assert(got === expect)
    // seasonal baseline view ≡ per-(type, hour) mean/stddev over the corpus
    val base = StreamingPipeline.seasonalBaselineView(
        spark.read.parquet(s"$seasDir/data"))
      .select(col("event_type"), col("hod"), col("m"), col("sd"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    val ref = df(all).groupBy(col("event_type"), hour(col("ts")).as("hod"))
      .agg(avg("value").as("m"), stddev_samp(col("value")).as("sd"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), Option(r.get(3)).filter(_ != null)
          .map(_.asInstanceOf[Double]))).toMap
    assert(base.keySet === ref.keySet)
    ref.foreach { case (k, (m, sd)) =>
      val (gm, gsd) = base(k)
      assert(math.abs(gm - m) < 1e-9, s"mean mismatch at $k")
      (sd, gsd) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"sd at $k")
        case (None, None)       => // single observation: both NULL
        case other              => fail(s"sd nullability mismatch at $k: $other")
      }
    }
    // replaying an already-markered batch changes nothing in either store
    val before = (spark.read.parquet(s"$ewmaDir/data").agg(sum("n")).as[Long].head(),
      spark.read.parquet(s"$seasDir/data").agg(sum("n")).as[Long].head())
    StreamingPipeline.ewmaGoldBatch(df(batches(1)), 1L, ewmaDir,
      "ts", Seq("event_type"), "value")
    StreamingPipeline.seasonalBaselineBatch(df(batches(1)), 1L, seasDir,
      "ts", Seq("event_type"), "value")
    val after = (spark.read.parquet(s"$ewmaDir/data").agg(sum("n")).as[Long].head(),
      spark.read.parquet(s"$seasDir/data").agg(sum("n")).as[Long].head())
    assert(after === before)
  }

  test("EWMA/seasonal state: NULL values do not inflate n (AVG/STDDEV_SAMP parity)") {
    val ewmaDir = tempRoot("graft-ewma-null") + "/s"
    val seasDir = tempRoot("graft-seas-null") + "/s"
    val rows = Seq(
      ("2024-06-10 01:00:00", "click", Some(2.0)),
      ("2024-06-10 02:00:00", "click", None),
      ("2024-06-10 03:00:00", "click", Some(4.0)))
      .toDF("ts", "event_type", "value")
      .select(to_timestamp(col("ts")).as("ts"), col("event_type"), col("value"))
    StreamingPipeline.ewmaGoldBatch(rows, 0L, ewmaDir,
      "ts", Seq("event_type"), "value")
    StreamingPipeline.seasonalBaselineBatch(rows, 0L, seasDir,
      "ts", Seq("event_type"), "value")
    // day state must carry AVG semantics: n = 2 non-null values, not 3 rows
    val st = spark.read.parquet(s"$ewmaDir/data")
      .select("n", "sum_v").as[(Long, Double)].head()
    assert(st === ((2L, 6.0)))
    assert(StreamingPipeline.ewmaDailyView(
        spark.read.parquet(s"$ewmaDir/data"), Seq("event_type"))
      .select("ewma").as[Double].head() === 3.0) // (2+4)/2, not /3
    // seasonal: the NULL-only hour contributes n=0, the others n=1
    val ns = spark.read.parquet(s"$seasDir/data")
      .select("hod", "n").as[(Int, Long)].collect().toMap
    assert(ns === Map(1 -> 1L, 2 -> 0L, 3 -> 1L))
  }

  test("cdcUpsert: latest-wins with tombstones, late changes ignored, replay no-op") {
    val store = tempRoot("graft-cdc") + "/t"
    def b(rows: (String, Long, String, String)*) =
      rows.toSeq.toDF("k", "seq", "op", "v")
    def table: Map[String, (Long, String)] = StreamingPipeline
      .cdcLive(spark.read.parquet(s"$store/data"))
      .select("k", "seq", "v").as[(String, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

    StreamingPipeline.cdcUpsertBatch(
      b(("k1", 1L, "upsert", "v1"), ("k2", 1L, "upsert", "v2"),
        ("k3", 5L, "upsert", "v3")),
      0L, Seq("k"), "seq", "op", store)
    // update k1, tombstone k2; within-batch: k1 gets two changes, the
    // higher sequence wins
    val b1 = b(("k1", 2L, "upsert", "mid"), ("k1", 3L, "upsert", "v10"),
      ("k2", 2L, "delete", ""))
    StreamingPipeline.cdcUpsertBatch(b1, 1L, Seq("k"), "seq", "op", store)
    // a LATE change for k3 (seq 3 < applied 5) must be ignored
    StreamingPipeline.cdcUpsertBatch(
      b(("k3", 3L, "upsert", "late")), 2L, Seq("k"), "seq", "op", store)
    assert(table === Map("k1" -> (3L, "v10"), "k3" -> (5L, "v3")))

    // replaying batch 1 is a no-op
    StreamingPipeline.cdcUpsertBatch(b1, 1L, Seq("k"), "seq", "op", store)
    assert(table === Map("k1" -> (3L, "v10"), "k3" -> (5L, "v3")))

    // an OUT-OF-ORDER upsert for the deleted k2 with a sequence BELOW its
    // tombstone (seq 1 < deleted-at 2) must NOT resurrect the key: the
    // tombstone is retained in the store and its sequence still guards
    StreamingPipeline.cdcUpsertBatch(
      b(("k2", 1L, "upsert", "zombie")), 3L, Seq("k"), "seq", "op", store)
    assert(!table.contains("k2"))

    // a key re-inserted after its tombstone, with a higher sequence
    StreamingPipeline.cdcUpsertBatch(
      b(("k2", 3L, "upsert", "back")), 4L, Seq("k"), "seq", "op", store)
    assert(table("k2") === ((3L, "back")))
  }

  test("sketchDistinct maintains mergeable HLL registers across batches, exactly-once") {
    val store = tempRoot("graft-sk") + "/s"
    def batchDf(rows: Seq[(String, Long)]) = rows.toDF("k", "u")
    // batch 0: 100 users in a, 10 in b; batch 1 overlaps a by 50
    StreamingPipeline.sketchDistinctBatch(
      batchDf((1L to 100L).map("a" -> _) ++ (1L to 10L).map("b" -> _)),
      0L, Seq("k"), "u", store, lgK = 12)
    StreamingPipeline.sketchDistinctBatch(
      batchDf((51L to 150L).map("a" -> _)), 1L, Seq("k"), "u", store, lgK = 12)

    def estimates: Map[String, Double] = spark.read.parquet(s"$store/data")
      .select(col("k"), expr("hll_sketch_estimate(sk)").as("est"))
      .as[(String, Double)].collect().toMap
    val est = estimates
    // exact: a=150 distinct, b=10; lgK=12 → ~1.6% rsd, give 5%
    assert(math.abs(est("a") - 150.0) / 150.0 <= 0.05, s"a: ${est("a")}")
    assert(math.abs(est("b") - 10.0) / 10.0 <= 0.05, s"b: ${est("b")}")

    // replaying batch 1 must not re-merge (estimates identical, not just close)
    StreamingPipeline.sketchDistinctBatch(
      batchDf((51L to 150L).map("a" -> _)), 1L, Seq("k"), "u", store, lgK = 12)
    assert(estimates === est)

    // crash mid-swap: the table moved aside but the staged dir was never
    // promoted — the next batch must restore the backup (the
    // authoritative state) before merging, losing nothing
    val dataDir = new java.io.File(s"$store/data")
    val backup = new java.io.File(s"$store/_prestate")
    assert(dataDir.renameTo(backup), "test setup: simulate mid-swap crash")
    StreamingPipeline.sketchDistinctBatch(
      batchDf((1L to 5L).map("c" -> _)), 2L, Seq("k"), "u", store, lgK = 12)
    val est2 = estimates
    assert(est2("a") === est("a") && est2("b") === est("b"),
      "pre-crash registers must survive the restore")
    assert(math.abs(est2("c") - 5.0) / 5.0 <= 0.05)
  }

  test("sampleBatch maintains the deterministic k-sample across batches, exactly-once") {
    val store = tempRoot("graft-smp") + "/s"
    val b0 = (1L to 40L).map(i => i -> s"d$i")
    val b1 = (41L to 80L).map(i => i -> s"d$i")
    val b2 = (30L to 50L).map(i => i -> s"d$i") // overlaps both: id-dedup
    def fold(rows: Seq[(Long, String)], id: Long): Unit =
      StreamingPipeline.sampleBatch(rows.toDF("doc_id", "txt"), "doc_id",
        k = 10, store, id)
    fold(b0, 0L); fold(b1, 1L); fold(b2, 2L)
    def stored: Seq[String] = spark.read.parquet(s"$store/data")
      .select("id").as[String].collect().sorted.toSeq
    // parity: the maintained state IS the batch top-10-by-md5 over the
    // DISTINCT union of everything ingested
    val expected = (1L to 80L).map(_.toString).toDF("id")
      .select(col("id"), md5(col("id").cast("binary")).as("h"))
      .orderBy("h", "id").limit(10)
      .select("id").as[String].collect().sorted.toSeq
    assert(stored === expected)
    // replayed batch id: a no-op, byte-identical state
    fold(b2, 2L)
    assert(stored === expected)
    // a new batch can only change the sample by BEATING existing keys
    fold(Seq(81L -> "d81"), 3L)
    val after = stored
    assert(after.size === 10)
    val expected2 = (1L to 81L).map(_.toString).toDF("id")
      .select(col("id"), md5(col("id").cast("binary")).as("h"))
      .orderBy("h", "id").limit(10)
      .select("id").as[String].collect().sorted.toSeq
    assert(after === expected2)
  }

  test("sampleBatch: duplicate ids in one batch cannot crowd distinct ids out " +
    "of the candidate cut (r15 shrunk counterexample)") {
    // Nine copies of id 0 plus one id 3, all in ONE batch, k=7: a row-wise
    // limit(k) before dedup would emit seven copies of "0" as candidates and
    // the post-dedup sample would be {0}; the contract (top-k-by-md5 over
    // DISTINCT ids) requires {0, 3}.
    val store = tempRoot("graft-smp-dup") + "/s"
    val rows = Seq.fill(9)(0L) :+ 3L
    StreamingPipeline.sampleBatch(
      rows.toDF("doc_id").withColumn("x", lit(1)), "doc_id", k = 7, store, 0L)
    val got = spark.read.parquet(s"$store/data")
      .select("id").as[String].collect().sorted.toSeq
    assert(got === Seq("0", "3"))
    // and the same pressure split across batches (duplicates of an id the
    // store already holds) must not evict anything either
    StreamingPipeline.sampleBatch(
      Seq.fill(9)(0L).toDF("doc_id").withColumn("x", lit(1)),
      "doc_id", k = 7, store, 1L)
    val got2 = spark.read.parquet(s"$store/data")
      .select("id").as[String].collect().sorted.toSeq
    assert(got2 === Seq("0", "3"))
  }

  test("sourceCapBatch enforces per-source budgets across batches, exactly-once") {
    val root = tempRoot("graft-cap")
    val store = s"$root/state"
    val out = s"$root/kept"
    def fold(rows: Seq[(String, Long)], id: Long): Unit =
      StreamingPipeline.sourceCapBatch(rows.toDF("source", "doc_id"),
        "source", "doc_id", cap = 5L, out, store, id)
    def keptBy: Map[String, Long] = spark.read.parquet(out)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    def counts: Map[String, Long] = spark.read.parquet(s"$store/data")
      .as[(String, Long)].collect().toMap
    // batch 0: a under budget, b exactly at nothing-left-after
    fold(Seq.fill(4)("a").zipWithIndex.map { case (s, i) => s -> i.toLong } ++
      Seq("b" -> 100L, "b" -> 101L), 0L)
    assert(keptBy === Map("a" -> 4L, "b" -> 2L))
    // batch 1: a has 1 slot left of 3 offered; b takes all 3 remaining;
    // c is brand new
    fold((10L to 12L).map("a" -> _) ++ (110L to 114L).map("b" -> _) ++
      Seq("c" -> 200L), 1L)
    assert(keptBy === Map("a" -> 5L, "b" -> 5L, "c" -> 1L))
    assert(counts === Map("a" -> 5L, "b" -> 5L, "c" -> 1L))
    // batch 2: a and b exhausted contribute nothing; c still open
    fold(Seq("a" -> 20L, "b" -> 120L, "c" -> 201L), 2L)
    assert(keptBy === Map("a" -> 5L, "b" -> 5L, "c" -> 2L))
    // replayed batch: counts untouched, partition rewritten identically
    val before = spark.read.parquet(out)
      .select("source", "doc_id").as[(String, Long)].collect().sorted.toSeq
    fold(Seq("a" -> 20L, "b" -> 120L, "c" -> 201L), 2L)
    assert(counts === Map("a" -> 5L, "b" -> 5L, "c" -> 2L))
    val after = spark.read.parquet(out)
      .select("source", "doc_id").as[(String, Long)].collect().sorted.toSeq
    assert(after === before)
  }

  test("property: sampleBatch parity and sourceCap budget hold under random batch splits") {
    import org.scalacheck.Prop
    import org.scalacheck.Prop.{forAllNoShrink, propBoolean, AnyOperators}
    import org.scalacheck.{Gen, Test => SCTest}
    // the incremental claims must hold for ANY way the stream slices the
    // data into micro-batches: the sample equals the batch top-k over
    // the distinct union, and no source ever exceeds its cap.
    // forAllNoShrink: default shrinking walks outside the generator domain
    // and replays a full Spark pipeline per candidate (~50 min of shrinking
    // in r15 for an unreadable result); the raw case is small enough to read.
    // Gen.choose(1L, 60L) over up-to-40 draws makes intra-batch duplicate
    // collisions routine — the exact regime that exposed the r15 bug.
    val idsGen = Gen.choose(5, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1L, 60L)))
    val cutsGen = Gen.listOfN(2, Gen.choose(0.0, 1.0))
    val prop = forAllNoShrink(idsGen, cutsGen) { (ids, cuts) =>
      val parts = {
        val sorted = cuts.sorted.map(c => (c * ids.size).toInt)
        val (a, rest) = ids.splitAt(sorted.head)
        val (b, c2) = rest.splitAt(math.max(0, sorted(1) - sorted.head))
        Seq(a, b, c2)
      }
      // --- sample parity under this split
      val sDir = tempRoot("graft-psmp") + "/s"
      parts.zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.sampleBatch(
          p.toDF("doc_id").withColumn("x", lit(1)), "doc_id", 7, sDir, i.toLong)
      }
      val got = spark.read.parquet(s"$sDir/data")
        .select("id").as[String].collect().sorted.toSeq
      val want = ids.map(_.toString).distinct.toDF("id")
        .select(col("id"), md5(col("id").cast("binary")).as("h"))
        .orderBy("h", "id").limit(7).select("id")
        .as[String].collect().sorted.toSeq
      // --- cap invariant under the same split (source = id parity)
      val cDir = tempRoot("graft-pcap")
      parts.zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.sourceCapBatch(
          p.zipWithIndex.map { case (id, j) =>
            (if (id % 2 == 0) "even" else "odd", id * 100 + j) }
            .toDF("source", "doc_id"),
          "source", "doc_id", cap = 6L, s"$cDir/kept", s"$cDir/state", i.toLong)
      }
      val perSource = spark.read.parquet(s"$cDir/kept")
        .groupBy("source").count().as[(String, Long)].collect().toMap
      // labeled conjuncts so a failure names the broken invariant
      ("sample parity" |: (got ?= want)) &&
        ("cap budget" |: Prop(perSource.values.forall(_ <= 6L)))
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("cmsFrequency maintains mergeable count-min registers across batches, exactly-once") {
    val store = tempRoot("graft-cms") + "/s"
    def batchDf(rows: Seq[(String, String)]) = rows.toDF("k", "item")
    // batch 0: group a sees x ×30 + y ×5, group b sees x ×7;
    // batch 1 adds x ×20 to a — merged frequency must span batches
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(30)("a" -> "x") ++ Seq.fill(5)("a" -> "y")
        ++ Seq.fill(7)("b" -> "x")),
      0L, Seq("k"), "item", store, 1e-4, 0.99, 42)
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(20)("a" -> "x")), 1L, Seq("k"), "item", store,
      1e-4, 0.99, 42)

    def estimates: Map[(String, String), Long] =
      StreamingPipeline.cmsEstimates(
          spark.read.parquet(s"$store/data"), Seq("k"), Seq("x", "y", "z"))
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    val est = estimates
    // eps 1e-4 → width 2e4 cells: no collisions at this size, so the
    // register reads are EXACT, not just within eps·N
    assert(est(("a", "x")) === 50L)
    assert(est(("a", "y")) === 5L)
    assert(est(("b", "x")) === 7L)
    assert(est(("a", "z")) === 0L) // never seen

    // replaying batch 1 must not re-merge (exact equality, not closeness)
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(20)("a" -> "x")), 1L, Seq("k"), "item", store,
      1e-4, 0.99, 42)
    assert(estimates === est)

    // crash mid-swap: restore the backup before merging, losing nothing
    val dataDir = new java.io.File(s"$store/data")
    val backup = new java.io.File(s"$store/_prestate")
    assert(dataDir.renameTo(backup), "test setup: simulate mid-swap crash")
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(3)("c" -> "x")), 2L, Seq("k"), "item", store,
      1e-4, 0.99, 42)
    val est2 = estimates
    assert(est2(("a", "x")) === 50L && est2(("b", "x")) === 7L)
    assert(est2(("c", "x")) === 3L)
  }

  test("cmsEstimates returns composite key COLUMNS (no joined label) for multi-key stores") {
    val store = tempRoot("graft-cms-mk") + "/s"
    // composite keys whose string forms would collide under any naive
    // separator-joined label ("a b","c" vs "a","b c") stay distinct
    StreamingPipeline.cmsFrequencyBatch(
      (Seq.fill(4)(("a b", "c")) ++ Seq.fill(9)(("a", "b c")))
        .toDF("k1", "k2").withColumn("item", lit("x")),
      0L, Seq("k1", "k2"), "item", store, 1e-4, 0.99, 42)
    val est = StreamingPipeline.cmsEstimates(
      spark.read.parquet(s"$store/data"), Seq("k1", "k2"), Seq("x"))
    assert(est.columns.toSeq === Seq("k1", "k2", "item", "est_n"),
      "key columns must ride through verbatim")
    val m = est.as[(String, String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._4).toMap
    assert(m(("a b", "c")) === 4L)
    assert(m(("a", "b c")) === 9L)
  }

  test("cmsFrequency stamps a marker-less store when valueCol is string-typed (native domain == string)") {
    val store = tempRoot("graft-cms-mig") + "/s"
    def batchDf(rows: Seq[(String, String)]) = rows.toDF("k", "item")
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(6)("a" -> "x")), 0L, Seq("k"), "item", store,
      1e-4, 0.99, 42)
    // simulate a store written before the cms_key_domain column existed:
    // pre-marker registers hold the NATIVE-type hashes, and here the
    // item column is a string — native == string-bytes, so the merge
    // must succeed and stamp the domain (verified from the batch schema)
    val data = s"$store/data"
    val legacy = spark.read.parquet(data).drop("cms_key_domain")
    val tmp = tempRoot("graft-cms-legacy")
    legacy.write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(data))
    spark.read.parquet(tmp).write.parquet(data)
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(4)("a" -> "x")), 1L, Seq("k"), "item", store,
      1e-4, 0.99, 42)
    val est = StreamingPipeline.cmsEstimates(
        spark.read.parquet(data), Seq("k"), Seq("x"))
      .as[(String, String, Long)].collect()
      .map(t => t._1 -> t._3).toMap
    assert(est("a") === 10L, "legacy registers must merge, not be rebuilt")
    assert(spark.read.parquet(data).columns.contains("cms_key_domain"),
      "merge must stamp the domain marker onto the migrated store")
  }

  test("cmsFrequency rejects a marker-less store over a non-string column unless explicitly opted in") {
    val store = tempRoot("graft-cms-mign") + "/s"
    def batchDf(rows: Seq[(String, Long)]) = rows.toDF("k", "item")
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(6)("a" -> 7L)), 0L, Seq("k"), "item", store,
      1e-4, 0.99, 42)
    val data = s"$store/data"
    val legacy = spark.read.parquet(data).drop("cms_key_domain")
    val tmp = tempRoot("graft-cms-legacyn")
    legacy.write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(data))
    spark.read.parquet(tmp).write.parquet(data)
    // a pre-marker store over a BIGINT item column may hold long-domain
    // hashes — auto-stamping it string would silently orphan its counts,
    // so without the opt-in the merge must fail loudly
    val ex = intercept[IllegalStateException] {
      StreamingPipeline.cmsFrequencyBatch(
        batchDf(Seq.fill(4)("a" -> 7L)), 1L, Seq("k"), "item", store,
        1e-4, 0.99, 42)
    }
    assert(ex.getMessage.contains("migrateMarkerlessAsString"))
    // with the opt-in the caller asserts the legacy store's items were
    // string-typed at build time; the stamp-and-merge then proceeds
    StreamingPipeline.cmsFrequencyBatch(
      batchDf(Seq.fill(4)("a" -> 7L)), 1L, Seq("k"), "item", store,
      1e-4, 0.99, 42, migrateMarkerlessAsString = true)
    val est = StreamingPipeline.cmsEstimates(
        spark.read.parquet(data), Seq("k"), Seq("7"))
      .as[(String, String, Long)].collect()
      .map(t => t._1 -> t._3).toMap
    assert(est("a") === 10L)
    assert(spark.read.parquet(data).columns.contains("cms_key_domain"))
  }

  test("quantileState maintains mergeable GK distribution state across batches, exactly-once") {
    val store = tempRoot("graft-qsk") + "/s"
    def batchDf(rows: Seq[(String, Double)]) = rows.toDF("k", "v")
    // batch 0: group a sees 1..60, group b sees 10,20,30;
    // batch 1 adds 61..100 to a — quantiles must span batches
    StreamingPipeline.quantileStateBatch(
      batchDf((1 to 60).map(i => "a" -> i.toDouble) ++
        Seq("b" -> 10.0, "b" -> 20.0, "b" -> 30.0)),
      0L, Seq("k"), "v", store, relativeError = 0.001)
    StreamingPipeline.quantileStateBatch(
      batchDf((61 to 100).map(i => "a" -> i.toDouble)), 1L, Seq("k"), "v",
      store, relativeError = 0.001)

    def quantiles: Map[String, Seq[Double]] =
      StreamingPipeline.quantileStateView(
          spark.read.parquet(s"$store/data"), Seq("k"), Seq(0.0, 0.5, 1.0))
        .as[(String, Seq[Double])].collect().toMap
    val q = quantiles
    // ε·n = 0.1 at this size: the summary is uncompressed, reads are
    // EXACT order statistics over the merged history
    assert(q("a") === Seq(1.0, 50.0, 100.0))
    assert(q("b") === Seq(10.0, 20.0, 30.0))

    // replaying batch 1 must not re-merge (exact equality via the marker)
    StreamingPipeline.quantileStateBatch(
      batchDf((61 to 100).map(i => "a" -> i.toDouble)), 1L, Seq("k"), "v",
      store, relativeError = 0.001)
    assert(quantiles === q)

    // crash mid-swap: restore the backup before merging, losing nothing
    val dataDir = new java.io.File(s"$store/data")
    val backup = new java.io.File(s"$store/_prestate")
    assert(dataDir.renameTo(backup), "test setup: simulate mid-swap crash")
    StreamingPipeline.quantileStateBatch(
      batchDf(Seq("c" -> 5.0)), 2L, Seq("k"), "v", store,
      relativeError = 0.001)
    val q2 = quantiles
    assert(q2("a") === q("a") && q2("b") === q("b"),
      "pre-crash summaries must survive the restore")
    assert(q2("c") === Seq(5.0, 5.0, 5.0))
  }

  test("embeddingMoments: additive cells across batches equal the full-corpus fit") {
    val store = tempRoot("graft-emom") + "/s"
    val all = (0 until 100).map(i =>
      Array((i % 10).toDouble, (i % 10) + (if ((i / 10) % 2 == 0) 0.2 else -0.2)))
    val (b0, b1) = all.splitAt(60)
    StreamingPipeline.embeddingMomentsBatch(b0.toDF("v"), 0L, "v", store)
    StreamingPipeline.embeddingMomentsBatch(b1.toDF("v"), 1L, "v", store)

    def fit = StreamingPipeline.embeddingMomentsView(
      spark.read.parquet(s"$store/data"))
    val (n, mean, cov) = fit
    val (nF, meanF, covF) = graft.ext.Whiten.moments(all.toDF("v"), "v")
    assert(n === nF && n === 100L)
    mean.zip(meanF).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    for (i <- 0 until 2; j <- 0 until 2)
      assert(math.abs(cov(i, j) - covF(i, j)) < 1e-9,
        s"cov($i,$j) diverged: ${cov(i, j)} vs ${covF(i, j)}")

    // replaying batch 1 must be a marker no-op (exact cell equality)
    StreamingPipeline.embeddingMomentsBatch(b1.toDF("v"), 1L, "v", store)
    val (n2, mean2, _) = fit
    assert(n2 === 100L && mean2.toSeq === mean.toSeq)

    // a batch with a DIFFERENT embedding dimension must fail loudly —
    // cell-wise summing a 3-dim batch into the 2-dim layout would corrupt
    // every fit silently
    val ex = intercept[IllegalArgumentException] {
      StreamingPipeline.embeddingMomentsBatch(
        Seq(Array(1.0, 2.0, 3.0)).toDF("v"), 2L, "v", store)
    }
    assert(ex.getMessage.contains("dimension changed"))
    assert(fit._1 === 100L, "failed batch must not touch the state")
  }

  test("ccIngest maintains the cluster assignment across batches, exactly-once") {
    val store = tempRoot("graft-cc") + "/s"
    def edges(rows: Seq[(Long, Long)]) = rows.toDF("a", "b")
    // batch 0: {1,2,3} and {10,11}; batch 1 merges them via (3,10) and
    // adds a fresh {20,21}
    StreamingPipeline.ccIngestBatch(
      edges(Seq((1L, 2L), (2L, 3L), (10L, 11L))), 0L, "a", "b", store)
    StreamingPipeline.ccIngestBatch(
      edges(Seq((3L, 10L), (20L, 21L))), 1L, "a", "b", store)

    def assignment: Map[Long, Long] =
      spark.read.parquet(s"$store/data")
        .as[(Long, Long)].collect().toMap
    val a = assignment
    // merged component takes the global min label; full-CC parity
    assert(a === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L))

    // replaying batch 1 must be a marker no-op
    StreamingPipeline.ccIngestBatch(
      edges(Seq((3L, 10L), (20L, 21L))), 1L, "a", "b", store)
    assert(assignment === a)

    // crash mid-swap: restore the backup before merging, losing nothing
    val dataDir = new java.io.File(s"$store/data")
    val backup = new java.io.File(s"$store/_prestate")
    assert(dataDir.renameTo(backup), "test setup: simulate mid-swap crash")
    StreamingPipeline.ccIngestBatch(
      edges(Seq((21L, 22L))), 2L, "a", "b", store)
    val a2 = assignment
    assert(a2.view.filterKeys(_ <= 11L).toMap ===
      a.view.filterKeys(_ <= 11L).toMap,
      "pre-crash assignments must survive the restore")
    assert(a2(22L) === 20L)
  }

  test("adaptiveGateIngest gates each batch at the HISTORICAL per-source " +
    "quantile; cold sources keep everything; replay is a no-op") {
    val root = tempRoot("graft-agate")
    val out = s"$root/out"; val store = s"$root/store"
    // 8 docs with distinct graded qualities (distinct token counts)
    def doc(src: String, i: Int): (Long, String, String) =
      (i.toLong + (if (src == "a") 0L else 100L), src,
        ("the and of to in is word w " * i).trim)
    def fold(rows: Seq[(Long, String, String)], id: Long): Unit =
      StreamingPipeline.adaptiveGateBatch(
        rows.toDF("doc_id", "source", "text"), id, "source", "text",
        out, store, pct = 0.25, relativeError = 0.001)
    // batch 0: NO history → cold start keeps all 8
    val b0 = (1 to 8).map(doc("a", _))
    fold(b0, 0L)
    assert(spark.read.parquet(s"$out/batch_id=0").count() === 8)
    // the store now holds source a's offered distribution; its p25
    // interpolates between the 2nd and 3rd lowest of the 8 scores
    val cut = StreamingPipeline.quantileStateView(
        spark.read.parquet(s"$store/data"), Seq("source"), Seq(0.25))
      .select(col("source"), round(element_at(col("quantiles"), 1)
        + lit(1e-9), 4).as("c"))
      .as[(String, Double)].collect().toMap
    // batch 1: the SAME 8 source-a docs (identical scores) → everything
    // below the historical p25 drops (the GK read returns an actual
    // sample, so the doc AT the cutoff survives under >=); brand-new
    // source b (cold) keeps everything regardless of score
    val scores = b0.map(_._3).toDF("text")
      .select(round(graft.ext.TextAnalysis.qualityScore(col("text"))
        + lit(1e-9), 4))
      .as[Double].collect()
    val expectA = scores.count(_ >= cut("a"))
    assert(expectA < 8, s"cutoff ${cut("a")} must bite on ${scores.toSeq}")
    val b1 = (1 to 8).map(doc("a", _)) ++ Seq(doc("b", 1))
    fold(b1, 1L)
    val kept1 = spark.read.parquet(s"$out/batch_id=1")
      .select("source", "doc_id").as[(String, Long)].collect()
    assert(kept1.count(_._1 == "a") === expectA,
      s"cutoff ${cut("a")} over ${scores.toSeq}")
    assert(kept1.count(_._1 == "b") === 1, "cold source must keep all")
    // kept docs all clear the pre-batch cutoff
    val keptQ = spark.read.parquet(s"$out/batch_id=1")
      .filter(col("source") === "a")
      .withColumn("q", round(graft.ext.TextAnalysis
        .qualityScore(col("text")) + lit(1e-9), 4))
      .select("q").as[Double].collect()
    assert(keptQ.forall(_ >= cut("a")))
    // the store folds the OFFERED distribution (kept AND dropped): both
    // sources present, and source a's registers now hold 16 values
    val n = StreamingPipeline.quantileStateView(
        spark.read.parquet(s"$store/data"), Seq("source"), Seq(0.0, 1.0))
      .as[(String, Seq[Double])].collect().toMap
    assert(n.keySet === Set("a", "b"))
    // replay of batch 1 is a marker no-op: output byte-identical even
    // though the store has since evolved (re-gating would differ)
    val before = spark.read.parquet(s"$out/batch_id=1")
      .select("doc_id").as[Long].collect().sorted.toSeq
    fold(b1, 1L)
    val after = spark.read.parquet(s"$out/batch_id=1")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(after === before)
  }

  test("shardManifestIngest continues the shard sequence across batches, " +
    "exactly-once") {
    import graft.ext.{Sampling, TextAnalysis}
    val root = tempRoot("graft-shm")
    val out = s"$root/out"; val store = s"$root/state"
    def docs(ids: Range): Seq[(Long, String)] =
      ids.map(i => (i.toLong, ("tok " * (1 + i % 9)).trim))
    def fold(rows: Seq[(Long, String)], id: Long): Unit =
      StreamingPipeline.shardManifestBatch(rows.toDF("doc_id", "text"),
        id, "text", "doc_id", out, store, tokensPerShard = 25L)
    fold(docs(1 to 20), 0L)
    fold(docs(21 to 35), 1L)
    val got = spark.read.parquet(out)
      .select("doc_id", "tok_n", "shard_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // reference: concatenate the two batches, each in its own md5 order,
    // and assign start-offset shards over the running total
    def ordered(rows: Seq[(Long, String)]) = {
      val keyed = rows.toDF("doc_id", "text").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"),
          Sampling.epochKey(col("doc_id"), 0).as("k"))
        .as[(Long, Long, String)].collect()
      keyed.sortBy(t => (t._3, t._1))
    }
    var cum = 0L
    val want = (ordered(docs(1 to 20)) ++ ordered(docs(21 to 35))).map {
      case (id, n, _) => val s = cum / 25L; cum += n; (id, n, s)
    }.sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    // the running total survives in the one-row state
    assert(spark.read.parquet(s"$store/data").as[Long].head() === cum)
    // shard ids are contiguous and batch 1 CONTINUES batch 0's last
    // (possibly partial) shard rather than starting a fresh one
    val shards = got.map(_._3).distinct.sorted
    assert(shards.toSeq === (0L to shards.max).toSeq)
    val lastShardB0 = spark.read.parquet(s"$out/batch_id=0")
      .agg(max("shard_id")).as[Long].head()
    val firstShardB1 = spark.read.parquet(s"$out/batch_id=1")
      .agg(min("shard_id")).as[Long].head()
    assert(firstShardB1 <= lastShardB0 + 1)
    // replay of batch 1: offset not double-advanced, rows identical
    fold(docs(21 to 35), 1L)
    assert(spark.read.parquet(s"$store/data").as[Long].head() === cum)
    assert(spark.read.parquet(out).count() === 35)
  }

  test("shardManifestIngest: an EMPTY micro-batch on a string-id stream " +
    "keeps the manifest root schema-mergeable (id stays string)") {
    // regression: the empty-batch manifest used to be fabricated from
    // emptyDataFrame with lit(0L).as(idCol), landing a batch partition
    // whose id column was bigint beside string partitions — reading the
    // manifest root then failed schema merge or silently picked one
    val root = tempRoot("graft-shm-str")
    val out = s"$root/out"; val store = s"$root/state"
    def fold(rows: Seq[(String, String)], id: Long): Unit =
      StreamingPipeline.shardManifestBatch(rows.toDF("doc_id", "text"),
        id, "text", "doc_id", out, store, tokensPerShard = 10L)
    fold(Seq(("d-a", "tok tok tok"), ("d-b", "tok tok")), 0L)
    fold(Seq.empty[(String, String)], 1L) // trigger-with-no-data event
    fold(Seq(("d-c", "tok tok tok tok")), 2L)
    val merged = spark.read.parquet(out)
    assert(merged.schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    val got = merged.select("doc_id", "tok_n", "shard_id")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq("d-a", "d-b", "d-c"))
    // the empty batch advanced nothing: batch 2 continues batch 0's
    // running total (5 tokens → doc c starts in shard 0)
    assert(spark.read.parquet(s"$store/data").as[Long].head() === 9L)
  }

  test("keepBestIngest: cross-batch parity with the batch operator, " +
    "champion displacement, replay no-op") {
    import graft.ext.Curate
    val store = tempRoot("graft-kb") + "/s"
    def df(rows: Seq[(Long, Long, String)]) =
      rows.toDF("doc_id", "cluster_id", "text")
    // batch 1 exercises both merge directions: cluster 10's incumbent
    // (doc 2) survives a weaker challenger (doc 4), cluster 20's
    // incumbent (doc 3) is DISPLACED by a stronger one (doc 5), and
    // cluster 30 is brand new.
    val b0 = Seq(
      (1L, 10L, "x"),
      (2L, 10L, "the and of to in is a good doc here"),
      (3L, 20L, "w w"))
    val b1 = Seq(
      (4L, 10L, "short"),
      (5L, 20L, "the and of to in is a better longer doc here today"),
      (6L, 30L, "z"))
    StreamingPipeline.keepBestBatch(df(b0), 0L,
      "cluster_id", "text", "doc_id", store)
    StreamingPipeline.keepBestBatch(df(b1), 1L,
      "cluster_id", "text", "doc_id", store)
    def readState: Set[(Long, Long, Double)] =
      spark.read.parquet(s"$store/data")
        .select("cluster_id", "doc_id", "quality")
        .as[(Long, Long, Double)].collect().toSet
    val want = Curate.keepBestPerCluster(df(b0 ++ b1),
        "cluster_id", "text", "doc_id")
      .select(col("cluster_id"), col("doc_id"), col("quality"))
      .as[(Long, Long, Double)].collect().toSet
    assert(readState === want)
    assert(readState.map(t => t._1 -> t._2).toMap ===
      Map(10L -> 2L, 20L -> 5L, 30L -> 6L))
    // replay of batch 1 is a marker no-op
    StreamingPipeline.keepBestBatch(df(b1), 1L,
      "cluster_id", "text", "doc_id", store)
    assert(readState === want)
  }

  test("tokenBudgetIngest: view equals the batch selection, a dropped doc " +
    "RE-ENTERS when the budget grows, replay no-op, empty batch keeps " +
    "the id type") {
    import graft.ext.Sampling
    val store = tempRoot("graft-tb") + "/s"
    // three texts with strictly ordered quality scores; the ordering is
    // asserted below so a qualityScore change fails loudly here rather
    // than silently voiding the readmission scenario
    val tA = "the and of to" // 4 stopword tokens: highest quality
    val tB = "qq ww ee rr" // 4 plain tokens: middle
    val tC = "z1! z2! z3! z4! z5! z6! z7! z8!" // 8 punct/digit tokens: lowest
    val q = Seq(tA, tB, tC).toDF("text")
      .select(graft.ext.TextAnalysis.qualityScore(col("text")))
      .as[Double].collect()
    assert(q(0) > q(1) && q(1) > q(2),
      s"test texts must order A>B>C by quality, got ${q.toSeq}")
    def df(rows: Seq[(String, String)]) = rows.toDF("doc_id", "text")
    def view = StreamingPipeline.tokenBudgetView(
      spark.read.parquet(s"$store/data"), "doc_id", budgetFrac = 0.5)
    def kept = view.select("doc_id").as[String].collect().toSet
    // batch 0: total 8 tokens, budget 4 → only A fits; B is DROPPED
    StreamingPipeline.tokenBudgetIngestBatch(
      df(Seq(("d-a", tA), ("d-b", tB))), 0L, "text", "doc_id", store)
    assert(kept === Set("d-a"))
    // batch 1: C's 8 low-quality tokens raise the budget to 8 without
    // raising the cutoff — B re-enters. A kept-set-only state would have
    // lost B forever; the scored index readmits it.
    StreamingPipeline.tokenBudgetIngestBatch(
      df(Seq(("d-c", tC))), 1L, "text", "doc_id", store)
    assert(kept === Set("d-a", "d-b"))
    // the view IS the batch operator over the concatenated history
    val want = Sampling.tokenBudgetSelect(
        df(Seq(("d-a", tA), ("d-b", tB), ("d-c", tC))),
        "text", "doc_id", budgetFrac = 0.5)
      .as[(String, Long, Long)].collect().toSet
    assert(view.as[(String, Long, Long)].collect().toSet === want)
    // replay of batch 1 is a marker no-op (no duplicate index rows)
    StreamingPipeline.tokenBudgetIngestBatch(
      df(Seq(("d-c", tC))), 1L, "text", "doc_id", store)
    assert(spark.read.parquet(s"$store/data").count() === 3)
    // an empty micro-batch keeps the string id type in the store
    StreamingPipeline.tokenBudgetIngestBatch(
      df(Seq.empty), 2L, "text", "doc_id", store)
    assert(spark.read.parquet(s"$store/data").schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(kept === Set("d-a", "d-b"))
    // per-DOCUMENT idempotence: d-c re-delivered under a NEW batch id
    // (the at-least-once redelivery the marker cannot catch — e.g. after
    // checkpoint loss) must fold as a no-op, not double-count its tokens
    StreamingPipeline.tokenBudgetIngestBatch(
      df(Seq(("d-c", tC))), 3L, "text", "doc_id", store)
    assert(spark.read.parquet(s"$store/data").count() === 3,
      "re-delivered doc under a new batch id must not duplicate its row")
    assert(kept === Set("d-a", "d-b"))
    // ...including duplicates WITHIN one micro-batch (producer-retry
    // duplicates adjacent in the log): both rows are absent from the
    // store, so only an in-batch dedup can stop them — a new doc
    // delivered twice in its first batch must land exactly once
    StreamingPipeline.tokenBudgetIngestBatch(
      df(Seq(("d-d", tB), ("d-d", tB))), 4L, "text", "doc_id", store)
    assert(spark.read.parquet(s"$store/data")
      .filter(col("doc_id") === "d-d").count() === 1,
      "a doc delivered twice within one batch must not double-count")
  }

  test("store views refuse to build under ignoreMissingFiles=true (the " +
    "snapshot contract is enforced, not just documented) and recover " +
    "when the conf is unset") {
    val store = tempRoot("graft-tbg") + "/s"
    StreamingPipeline.tokenBudgetIngestBatch(
      Seq(("d-a", "the and of to")).toDF("doc_id", "text"),
      0L, "text", "doc_id", store)
    def stored = spark.read.parquet(s"$store/data")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      // every lazy store view refuses while the conf would let a
      // fold-between-view-and-action silently read a partial snapshot
      val ex = intercept[IllegalStateException] {
        StreamingPipeline.tokenBudgetView(stored, "doc_id", 0.5)
      }
      assert(ex.getMessage.contains("ignoreMissingFiles"))
      intercept[IllegalStateException] {
        StreamingPipeline.quantileStateView(stored, Seq("doc_id"), Seq(0.5))
      }
      intercept[IllegalStateException] {
        StreamingPipeline.dsirWeightsView(stored, 16)
      }
      intercept[IllegalStateException] {
        StreamingPipeline.seasonalBaselineView(stored)
      }
      intercept[IllegalStateException] {
        StreamingPipeline.ewmaDailyView(stored, Seq("doc_id"))
      }
      intercept[IllegalStateException] {
        StreamingPipeline.driftSeriesView(stored)
      }
      // knModelView returns lazy frames inside a KnModel — same
      // contract, same guard (the guard throws before column access,
      // so the store's schema is irrelevant here)
      intercept[IllegalStateException] {
        StreamingPipeline.knModelView(stored)
      }
    } finally spark.conf.set("spark.sql.files.ignoreMissingFiles", "false")
    // conf back to loud-failure default: the view builds and reads
    // (frac 1.0 — at 0.5 the single 4-token doc exceeds budget 2)
    assert(StreamingPipeline.tokenBudgetView(stored, "doc_id", 1.0)
      .select("doc_id").as[String].collect().toSet === Set("d-a"))
  }

  test("mergeSwapState crash windows: backup-restore and stale-backup hold " +
    "for the sample and cap-spend stores (parameterized)") {
    // The same READ-side restore path in mergeSwapState serves every
    // state store; the CMS/GK/CC/DP-ledger tests each cover the
    // mid-swap window for their own store — this parameterized case
    // covers the two stores without one (the k-sample and the
    // cap-SPEND counts, the closest analog to the ledger's budget) and
    // adds the second window nothing else exercises: a crash AFTER the
    // staged promotion but BEFORE the backup delete leaves BOTH
    // $store/data and $store/_prestate on disk, and the next batch
    // must read the (newer) data dir and discard the stale backup, not
    // resurrect it.
    case class StoreCase(
      name: String,
      fold: (Seq[Long], Long, String) => Unit, // (ids, batchId, store)
      read: String => Map[String, Long])
    val cases = Seq(
      StoreCase("sample",
        (ids, bid, st) => StreamingPipeline.sampleBatch(
          ids.toDF("doc_id"), "doc_id", k = 3, st, bid),
        st => spark.read.parquet(s"$st/data").select("id")
          .as[String].collect().map(_ -> 1L).toMap),
      StoreCase("cap-spend",
        (ids, bid, st) => StreamingPipeline.sourceCapBatch(
          ids.map(i => (if (i % 2 == 0) "even" else "odd", i))
            .toDF("source", "doc_id"),
          "source", "doc_id", cap = 4L,
          s"${st}_kept", st, bid),
        st => spark.read.parquet(s"$st/data")
          .as[(String, Long)].collect().toMap),
      StoreCase("shard-offset",
        (ids, bid, st) => StreamingPipeline.shardManifestBatch(
          ids.map(i => (i, ("tok " * (1 + (i % 4)).toInt).trim))
            .toDF("doc_id", "text"),
          bid, "text", "doc_id", s"${st}_out", st, tokensPerShard = 10L),
        st => Map("total" -> spark.read.parquet(s"$st/data")
          .as[Long].head())),
      StoreCase("token-budget",
        (ids, bid, st) => StreamingPipeline.tokenBudgetIngestBatch(
          ids.map(i => (i, ("tok " * (1 + (i % 4)).toInt).trim))
            .toDF("doc_id", "text"),
          bid, "text", "doc_id", st),
        st => spark.read.parquet(s"$st/data")
          .select("doc_id", "tok_n").as[(Long, Long)].collect()
          .map { case (d, t) => d.toString -> t }.toMap),
      StoreCase("keep-best",
        (ids, bid, st) => StreamingPipeline.keepBestBatch(
          ids.map(i => (i, i % 3, ("the and of w " * (1 + (i % 5)).toInt).trim))
            .toDF("doc_id", "cluster_id", "text"),
          bid, "cluster_id", "text", "doc_id", st),
        st => spark.read.parquet(s"$st/data")
          .select("cluster_id", "doc_id").as[(Long, Long)].collect()
          .map { case (c, d) => c.toString -> d }.toMap),
      // adaptiveGateBatch hand-rolls the READ-side restore (the gate
      // reads the store directly, outside mergeSwapState) — the crash
      // window must hold for that path too
      StoreCase("adaptive-gate",
        (ids, bid, st) => StreamingPipeline.adaptiveGateBatch(
          ids.map(i => (i, "s", ("the and of w " * (1 + (i % 5)).toInt).trim))
            .toDF("doc_id", "source", "text"),
          bid, "source", "text", s"${st}_out", st,
          pct = 0.25, relativeError = 0.001),
        st => StreamingPipeline.quantileStateView(
            spark.read.parquet(s"$st/data"), Seq("source"), Seq(0.0, 1.0))
          .as[(String, Seq[Double])].collect()
          .map { case (s, q) => s -> (q.head * 100 + q(1)).toLong }
          .toMap))
    for (c <- cases) {
      val store = tempRoot(s"graft-cw-${c.name}") + "/s"
      c.fold((1L to 5L), 0L, store)
      val afterB0 = c.read(store)
      // window 1 — crash mid-swap during (a hypothetical) batch 1: the
      // data dir moved aside, the staged merge never promoted
      val dataDir = new java.io.File(s"$store/data")
      val backup = new java.io.File(s"$store/_prestate")
      assert(dataDir.renameTo(backup),
        s"${c.name}: test setup: simulate mid-swap crash")
      c.fold(Seq(6L, 7L), 1L, store)
      val afterB1 = c.read(store)
      // no state/spend loss: batch-0 history must be inside the merge
      val expect01 = {
        val fresh = tempRoot(s"graft-cw2-${c.name}") + "/s"
        c.fold((1L to 5L), 0L, fresh); c.fold(Seq(6L, 7L), 1L, fresh)
        c.read(fresh)
      }
      assert(afterB1 === expect01,
        s"${c.name}: state after crash-restore must equal the " +
          "uninterrupted fold")
      assert(afterB0.keySet.forall(k =>
          afterB1.contains(k) || c.name == "sample"),
        s"${c.name}: pre-crash history lost in the restore")
      // window 2 — crash after promote, before backup delete: BOTH dirs
      // exist; the stale backup must be discarded, never read
      val staleSrc = new java.io.File(s"$store/data")
      val staleDst = new java.io.File(s"$store/_prestate")
      org.apache.commons.io.FileUtils
        .copyDirectory(staleSrc, staleDst)
      // poison the copy so reading it would be detectable: delete its
      // markers — if the next fold restored or folded the backup in,
      // the replayed batch below would double-merge
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$staleDst/_merged"))
      c.fold(Seq(8L), 2L, store)
      val afterB2 = c.read(store)
      // replay of batch 2 is a marker no-op even with the (now deleted)
      // stale backup gone through a swap
      c.fold(Seq(8L), 2L, store)
      assert(c.read(store) === afterB2,
        s"${c.name}: replay after stale-backup swap must be a no-op")
      assert(!staleDst.exists,
        s"${c.name}: stale backup must be deleted by the next swap")
    }
  }

  test("stream-static dim join enriches every micro-batch via broadcast") {
    val inDir = tempRoot("graft-ss-in")
    writeBatch(inDir, "b1.json", Seq(
      """{"k":"a","v":1.0}""", """{"k":"z","v":2.0}"""))
    val dim = Seq(("a", "alpha"), ("b", "beta")).toDF("k", "label")
    val src = spark.readStream.schema("k string, v double").json(inDir)
    val enriched = StreamingPipeline.dimEnrich(src, dim, Seq("k"))
    val q = enriched.writeStream.outputMode("append").format("memory")
      .queryName("ssdim").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("ssdim").select("k", "label")
      .as[(String, Option[String])].collect().toMap
    assert(out === Map("a" -> Some("alpha"), "z" -> None)) // left join keeps unmatched
  }

  // ---------------------------------------------------------------
  // batch ledger: the O(1) replay record every state store shares
  // ---------------------------------------------------------------
  private def oneRow(t: String, k: String, v: Double) =
    Seq((t, k, v)).toDF("t", "k", "v")
      .select(to_timestamp(col("t")).as("t"), col("k"), col("v"))

  private def goldN(goldDir: String): Long =
    spark.read.parquet(s"$goldDir/data").agg(sum("n")).as[Long].head()

  private def ledgerEntries(store: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$store/data/_merged")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath.getName).toSeq
  }

  test("BatchLedger: range-compressed encode/decode, out-of-order ids") {
    import graft.streaming.BatchLedger
    val l = Seq(3L, 0L, 1L, 2L, 7L, 9L, 8L, 5L).foldLeft(BatchLedger.empty)(_ + _)
    assert(l.encode === "0..3,5,7..9")
    assert(BatchLedger.decode(l.encode) === l)
    assert(Seq(0L, 3L, 5L, 7L, 9L).forall(l.contains))
    assert(!Seq(-1L, 4L, 6L, 10L).exists(l.contains))
    assert((l + 4L + 6L).encode === "0..9")
    assert(BatchLedger.decode("") === BatchLedger.empty)
  }

  test("batch ledger: after 50 merges _merged/ holds one file, every " +
    "merged id replays as a no-op, and the store's file count stays flat") {
    val goldDir = tempRoot("graft-ledger") + "/g"
    val row = oneRow("2024-06-15 10:01:00", "a", 1.0)
    def filesOnDisk(): Long = {
      val w = Files.walk(java.nio.file.Path.of(s"$goldDir/data"))
      try w.filter(Files.isRegularFile(_)).count() finally w.close()
    }
    val files = (0L until 50L).map { id =>
      StreamingPipeline.mergeGoldBatch(row, goldDir, id, "t", Seq("k"), "v",
        "5 minutes")
      filesOnDisk()
    }
    assert(ledgerEntries(goldDir) === Seq("ledger"))
    assert(goldN(goldDir) === 50L)
    (0L until 50L).foreach(id => StreamingPipeline.mergeGoldBatch(row,
      goldDir, id, "t", Seq("k"), "v", "5 minutes"))
    assert(goldN(goldDir) === 50L, "a replayed id must not merge again")
    // same one-row state every merge: per-batch markers (each re-created
    // by every later merge) grew the store by a file per batch
    assert(files(45) === files(5), s"store files per merge grew: $files")
  }

  test("batch ledger: a store in the legacy per-batch-marker layout keeps " +
    "working and folds its markers into the ledger") {
    val goldDir = tempRoot("graft-legacy") + "/g"
    val row = oneRow("2024-06-15 10:01:00", "a", 2.0)
    (0L to 2L).foreach(id => StreamingPipeline.mergeGoldBatch(row, goldDir,
      id, "t", Seq("k"), "v", "5 minutes"))
    // rewrite the bookkeeping as the older layout did: one empty file
    // per merged batch, no ledger
    val merged = new java.io.File(s"$goldDir/data/_merged")
    org.apache.commons.io.FileUtils.deleteDirectory(merged)
    merged.mkdirs()
    (0 to 2).foreach(id => new java.io.File(merged, id.toString).createNewFile())
    StreamingPipeline.mergeGoldBatch(row, goldDir, 1L, "t", Seq("k"), "v",
      "5 minutes")
    assert(goldN(goldDir) === 3L, "a replayed legacy id must be a no-op")
    StreamingPipeline.mergeGoldBatch(row, goldDir, 3L, "t", Seq("k"), "v",
      "5 minutes")
    assert(goldN(goldDir) === 4L, "the next id must merge")
    assert(ledgerEntries(goldDir) === Seq("ledger"))
    val text = new String(Files.readAllBytes(
      java.nio.file.Path.of(s"$goldDir/data/_merged/ledger")), "UTF-8")
    assert(text === "0..3")
    StreamingPipeline.mergeGoldBatch(row, goldDir, 0L, "t", Seq("k"), "v",
      "5 minutes")
    assert(goldN(goldDir) === 4L, "migrated legacy ids stay merged")
  }

  test("batch ledger: a legacy store whose types differ from the pinned " +
    "schema (integer values, sum stored as double) merges and is rewritten " +
    "in the batch-recompute types") {
    val goldDir = tempRoot("graft-legacy-int") + "/g"
    // the older join merge stored an integer column's sum as a double
    Seq(("2024-06-15 10:00:00", "a", 2L, 5.0, 1, 4)).toDF("w", "k", "n",
        "sum_v", "min_v", "max_v")
      .select(to_timestamp(col("w")).as("window_start"), col("k"), col("n"),
        col("sum_v"), col("min_v"), col("max_v"))
      .write.parquet(s"$goldDir/data")
    new java.io.File(s"$goldDir/data/_merged").mkdirs()
    (0 to 1).foreach(id =>
      new java.io.File(s"$goldDir/data/_merged/$id").createNewFile())
    val batch = Seq(("2024-06-15 10:03:00", "a", 7)).toDF("t", "k", "v")
      .select(to_timestamp(col("t")).as("t"), col("k"), col("v"))
    StreamingPipeline.mergeGoldBatch(batch, goldDir, 2L, "t", Seq("k"), "v",
      "5 minutes")
    val stored = spark.read.parquet(s"$goldDir/data")
    assert(stored.schema("sum_v").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(stored.select("n", "sum_v", "min_v", "max_v")
      .as[(Long, Long, Int, Int)].collect().toSeq === Seq((3L, 12L, 1, 7)))
    StreamingPipeline.mergeGoldBatch(batch, goldDir, 3L, "t", Seq("k"), "v",
      "5 minutes")
    assert(goldN(goldDir) === 4L)
  }

  test("adaptiveGateBatch honours the ledger (and legacy markers) as its " +
    "commit record") {
    val root = tempRoot("graft-agate-ledger")
    val out = s"$root/out"; val store = s"$root/store"
    def fold(id: Long): Unit = StreamingPipeline.adaptiveGateBatch(
      (1 to 6).map(i => (i.toLong, "a", ("the and of w " * i).trim))
        .toDF("doc_id", "source", "text"), id, "source", "text",
      out, store, pct = 0.25, relativeError = 0.001)
    (0L to 2L).foreach(fold)
    assert(ledgerEntries(store) === Seq("ledger"))
    // a replay returns before touching the output: drop a committed
    // partition and replay its batch — it must stay gone
    val part = new java.io.File(s"$out/batch_id=1")
    org.apache.commons.io.FileUtils.deleteDirectory(part)
    fold(1L)
    assert(!part.exists, "replay of a ledgered batch re-gated its output")
    // same for a batch recorded only as a legacy marker file
    new java.io.File(s"$store/data/_merged/3").createNewFile()
    fold(3L)
    assert(!new java.io.File(s"$out/batch_id=3").exists,
      "replay of a legacy-marked batch re-gated its output")
    fold(4L)
    assert(new java.io.File(s"$out/batch_id=4").exists)
  }

  // ---------------------------------------------------------------
  // gold merge semantics: nulls and integer values
  // ---------------------------------------------------------------
  /** Batch recompute of the gold table, in the merge's column layout. */
  private def goldRecompute(df: org.apache.spark.sql.DataFrame) = df
    .groupBy(window(col("t"), "5 minutes").getField("start")
      .as("window_start"), col("k"))
    .agg(count(lit(1)).as("n"), sum("v").as("sum_v"), min("v").as("min_v"),
      max("v").as("max_v"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("window_start", "k", "n", "sum_v", "min_v", "max_v")
      .collect().map(_.toSeq).toSet

  test("gold merge: all-null and partly-null windows and an IntegerType " +
    "value column store what a batch recompute gives, values and types") {
    import org.apache.spark.sql.types._
    def events(rows: Seq[(String, String, Option[Int])], vType: DataType) =
      rows.toDF("t", "k", "v").select(to_timestamp(col("t")).as("t"),
        col("k"), col("v").cast(vType).as("v"))
    val b0 = Seq(
      ("2024-06-15 10:01:00", "nulls", None),     // all-null window,
      ("2024-06-15 10:01:00", "part", Some(4)),   // split across batches
      ("2024-06-15 10:02:00", "part", None),
      ("2024-06-15 10:06:00", "once", None))      // all-null, one batch
    val b1 = Seq(
      ("2024-06-15 10:03:00", "nulls", None),
      ("2024-06-15 10:04:00", "part", Some(-3)),
      ("2024-06-15 10:04:00", "part", None),
      ("2024-06-15 10:11:00", "new", Some(7)))
    for (vType <- Seq(DoubleType, IntegerType)) {
      val goldDir = tempRoot("graft-gnull") + "/g"
      StreamingPipeline.mergeGoldBatch(events(b0, vType), goldDir, 0L, "t",
        Seq("k"), "v", "5 minutes")
      StreamingPipeline.mergeGoldBatch(events(b1, vType), goldDir, 1L, "t",
        Seq("k"), "v", "5 minutes")
      val stored = spark.read.parquet(s"$goldDir/data")
      val want = goldRecompute(events(b0 ++ b1, vType))
      assert(stored.schema.map(f => f.name -> f.dataType) ===
        want.schema.map(f => f.name -> f.dataType), s"$vType column types")
      assert(rowsOf(stored) === rowsOf(want), s"$vType values")
      val byKey = stored.collect().map(r => r.getAs[String]("k") -> r).toMap
      assert(byKey("nulls").getAs[Long]("n") === 2L)
      assert(byKey("nulls").isNullAt(byKey("nulls").fieldIndex("sum_v")),
        "an all-null window sums to NULL, as the recompute does")
      assert(byKey("part").getAs[Any]("sum_v").toString.toDouble === 1.0)
      assert(byKey("part").getAs[Long]("n") === 4L)
    }
  }

  test("gold merge: on non-null doubles it equals the earlier full-outer-" +
    "join combination of two partial aggregates") {
    def partial(df: org.apache.spark.sql.DataFrame) = goldRecompute(df)
    def joinMerge(a: org.apache.spark.sql.DataFrame,
                  b: org.apache.spark.sql.DataFrame) = {
      val on = Seq("window_start", "k")
      a.select(on.map(col) :+ col("n").as("n0") :+ col("sum_v").as("s0") :+
          col("min_v").as("mn0") :+ col("max_v").as("mx0"): _*)
        .join(b, on, "full_outer")
        .select(on.map(col) ++ Seq(
          (coalesce(col("n0"), lit(0L)) + coalesce(col("n"), lit(0L))).as("n"),
          (coalesce(col("s0"), lit(0.0)) + coalesce(col("sum_v"), lit(0.0)))
            .as("sum_v"),
          least(coalesce(col("mn0"), col("min_v")),
            coalesce(col("min_v"), col("mn0"))).as("min_v"),
          greatest(coalesce(col("mx0"), col("max_v")),
            coalesce(col("max_v"), col("mx0"))).as("max_v")): _*)
    }
    val b0 = Seq(("2024-06-15 10:01:00", "a", 1.5),
      ("2024-06-15 10:07:00", "b", 2.0), ("2024-06-15 10:02:00", "a", -4.0))
    val b1 = Seq(("2024-06-15 10:03:00", "a", 8.0),
      ("2024-06-15 10:12:00", "c", 0.5))
    def df(rows: Seq[(String, String, Double)]) = rows.toDF("t", "k", "v")
      .select(to_timestamp(col("t")).as("t"), col("k"), col("v"))
    val goldDir = tempRoot("graft-gjoin") + "/g"
    StreamingPipeline.mergeGoldBatch(df(b0), goldDir, 0L, "t", Seq("k"), "v",
      "5 minutes")
    StreamingPipeline.mergeGoldBatch(df(b1), goldDir, 1L, "t", Seq("k"), "v",
      "5 minutes")
    val stored = spark.read.parquet(s"$goldDir/data")
    val ref = joinMerge(partial(df(b0)), partial(df(b1)))
    assert(stored.schema.map(f => f.name -> f.dataType) ===
      ref.schema.map(f => f.name -> f.dataType))
    assert(rowsOf(stored) === rowsOf(ref))
  }

  test("gold merge into an existing store runs at most 2 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val goldDir = tempRoot("graft-gjobs") + "/g"
    def batch(k: String) = Seq(("2024-06-15 10:01:00", k, 1.0),
      ("2024-06-15 10:08:00", k, 2.0)).toDF("t", "k", "v")
      .select(to_timestamp(col("t")).as("t"), col("k"), col("v"))
    StreamingPipeline.mergeGoldBatch(batch("a"), goldDir, 0L, "t", Seq("k"),
      "v", "5 minutes")
    val sc = spark.sparkContext
    val group = s"gold-jobs-${System.nanoTime}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull
        if (g == group) jobs.add(e.jobId)
        if (g == sentinel) sentinelJobs.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) sentinelDone.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "gold merge")
      StreamingPipeline.mergeGoldBatch(batch("b"), goldDir, 1L, "t",
        Seq("k"), "v", "5 minutes")
      // the bus delivers in order: once the sentinel job's end arrives,
      // every job the merge started has been seen
      sc.setJobGroup(sentinel, "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    assert(jobs.size >= 1 && jobs.size <= 2,
      s"merge into an existing store ran ${jobs.size} jobs")
    assert(goldN(goldDir) === 4L)
  }
}
