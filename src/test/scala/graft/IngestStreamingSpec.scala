package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.JsonIngest
import graft.model.Schemas
import graft.streaming.{BatchLedger, StreamingPipeline}

/** Schema-enforced JSON parse + dead-letter split, batch and streaming. */
class IngestStreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val goodJson =
    """{"sensor_id":"sensor-001","sensor_type":"temperature","timestamp":"2024-06-15T10:00:00+00:00","value":22.5,"unit":"celsius","location":"floor-1-zone-A"}"""
  private val badJson = """{"sensor_id": BROKEN"""

  /** The batch ledger of the index-backed ingest store at `out`. */
  private def ledgerDir(out: String) = new org.apache.hadoop.fs.Path(s"$out/data")
  private def ledgerFs(out: String) =
    ledgerDir(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def ledger(out: String): BatchLedger =
    BatchLedger.load(ledgerFs(out), ledgerDir(out))
  private def setLedger(out: String, l: BatchLedger): Unit =
    l.commit(ledgerFs(out), ledgerDir(out))
  /** Rewrite the ledger without batch `id`: the state a crash leaves
    * between the batch's index-delta renames and its ledger commit. */
  private def dropFromLedger(out: String, id: Long): Unit =
    setLedger(out, BatchLedger(ledger(out).ranges.flatMap { case (lo, hi) =>
      Seq(lo -> math.min(hi, id - 1), math.max(lo, id + 1) -> hi)
        .filter { case (a, b) => a <= b }
    }))

  test("P2/P3: valid rows flatten with event_time; malformed rows dead-letter with error metadata") {
    val raw = Seq(goodJson, badJson).toDF("value")
    val res = JsonIngest.parseAndSplit(raw, "value", Schemas.sensorSchema)
    assert(res.valid.count() === 1)
    assert(res.deadLetter.count() === 1)
    val v = res.valid.head()
    assert(v.getAs[String]("sensor_id") === "sensor-001")
    assert(v.getAs[java.sql.Timestamp]("event_time") ===
      java.sql.Timestamp.valueOf("2024-06-15 10:00:00")) // session UTC
    val d = res.deadLetter.head()
    assert(d.getAs[String]("error_type") === "json_parse_failure")
    assert(d.getAs[String]("raw_value") === badJson)
  }

  test("T1-T5: streaming file source -> foreachBatch fan-out writes bronze + dead letters once") {
    val inDir = tempRoot("graft-stream-in")
    val bronze = tempRoot("graft-bronze") + "/data"
    val dead = tempRoot("graft-dead") + "/data"
    val ckpt = tempRoot("graft-ckpt")
    Files.writeString(java.nio.file.Path.of(inDir, "batch1.txt"),
      s"$goodJson\n$badJson\n")

    val q = StreamingPipeline.start(
      StreamingPipeline.fileSource(spark, inDir), Schemas.sensorSchema,
      bronze, dead,
      StreamingPipeline.Config(triggerInterval = "1 second", checkpointDir = ckpt))
    try {
      q.processAllAvailable()
    } finally q.stop()

    val bronzeDf = spark.read.parquet(bronze)
    assert(bronzeDf.count() === 1)
    assert(bronzeDf.select("sensor_id").as[String].head() === "sensor-001")
    // partitioned layout by sensor_type (S4)
    assert(bronzeDf.select("sensor_type").as[String].head() === "temperature")
    val deadDf = spark.read.json(dead)
    assert(deadDf.count() === 1)
    assert(deadDf.select("error_type").as[String].head() === "json_parse_failure")
  }

  test("T1 backfill: AvailableNow trigger drains the backlog and terminates") {
    val inDir = tempRoot("graft-an-in")
    val bronze = tempRoot("graft-an-bronze") + "/data"
    val dead = tempRoot("graft-an-dead") + "/data"
    val ckpt = tempRoot("graft-an-ckpt")
    Files.writeString(java.nio.file.Path.of(inDir, "backlog.txt"),
      Seq.fill(3)(goodJson).mkString("\n"))
    val q = StreamingPipeline.start(
      StreamingPipeline.fileSource(spark, inDir), Schemas.sensorSchema,
      bronze, dead,
      StreamingPipeline.Config(checkpointDir = ckpt, availableNow = true))
    // AvailableNow terminates on its own once the backlog is drained
    assert(q.awaitTermination(60000))
    assert(spark.read.parquet(bronze).count() === 3)
  }

  test("maxFilesPerTrigger paces backlog drain to bounded micro-batches") {
    val inDir = tempRoot("graft-bp-in")
    val ckpt = tempRoot("graft-bp-ckpt")
    (1 to 3).foreach { i =>
      Files.writeString(java.nio.file.Path.of(inDir, s"f$i.txt"),
        s"$goodJson\n$goodJson\n")
    }
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingPipeline.fileSource(spark, inDir, maxFilesPerTrigger = Some(1))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.synchronized { counts += b.count() }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // 6 backlog rows drain as 3 bounded batches, never one catch-up batch
    assert(counts.sum === 6L)
    assert(counts.size >= 3, s"expected >=3 micro-batches, got $counts")
    assert(counts.forall(_ <= 2L), s"a batch exceeded the cap: $counts")
  }

  test("dedupIngest: cross-batch dups never land twice; restart replays are no-ops") {
    val inDir = tempRoot("graft-dd-in")
    val out = tempRoot("graft-dd-out")
    val idx = tempRoot("graft-dd-idx")
    val ckpt = tempRoot("graft-dd-ckpt")

    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, text STRING")
        .json(inDir)
      val q = src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingPipeline.dedupIngestBatch(b, id, "text", "doc_id", out,
            idx)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // batch 1: one internal dup (21 of 20)
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      """{"doc_id":10,"text":"alpha beta"}
        |{"doc_id":20,"text":"gamma delta"}
        |{"doc_id":21,"text":"gamma delta"}
        |""".stripMargin)
    run()
    assert(spark.read.parquet(s"$out/data").count() === 2)

    // batch 2: 30 dups batch-1's survivor, 31 is genuinely new
    Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
      """{"doc_id":30,"text":"alpha beta"}
        |{"doc_id":31,"text":"epsilon zeta"}
        |""".stripMargin)
    run()
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(landed === Seq(10L, 20L, 31L))
    // the index now carries one fingerprint per unique doc ever seen
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 3)

    // restart with the same checkpoint: no new input → nothing re-lands
    run()
    assert(spark.read.parquet(s"$out/data").count() === 3)
  }

  test("normalizedDedupIngest: case/punct/digit variants of any earlier " +
    "survivor never land") {
    val out = tempRoot("graft-nd-out")
    val idx = tempRoot("graft-nd-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // batch 1: doc 11 is a punctuation/case variant of doc 10 → absorbed
    StreamingPipeline.normalizedDedupIngestBatch(
      batch(10L -> "release version 2 of the parser",
        11L -> "Release, Version 7 -- of the PARSER!",
        12L -> "a different document entirely"),
      1L, "text", "doc_id", out, idx)
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 12L))
    // batch 2: doc 20 is a whitespace/digit variant of batch-1's
    // SURVIVOR (the index catches it); doc 21 is genuinely new
    StreamingPipeline.normalizedDedupIngestBatch(
      batch(20L -> "  RELEASE   version 9 of the parser  ",
        21L -> "fresh content for batch two"),
      2L, "text", "doc_id", out, idx)
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(landed === Seq(10L, 12L, 21L))
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 3)
    // replay of batch 2 is a marker no-op
    StreamingPipeline.normalizedDedupIngestBatch(
      batch(20L -> "  RELEASE   version 9 of the parser  ",
        21L -> "fresh content for batch two"),
      2L, "text", "doc_id", out, idx)
    assert(spark.read.parquet(s"$out/data").count() === 3)
  }

  test("driftMonitorIngest: per-batch PSI series drives driftRules pending→firing; replay no-op") {
    import graft.monitoring.{Alerts, Drift}
    val inDir = tempRoot("graft-drift-in")
    val store = tempRoot("graft-drift-store")
    val ckpt = tempRoot("graft-drift-ckpt")
    // reference histogram from the validation slice: uniform over
    // {0, 10, ..., 90}
    val ref = Drift.referenceHistogram(
      (0 until 200).map(i => (i % 10) * 10.0).toDF("v"),
      Seq.empty, "v", 0.0, 100.0, 10)

    def run(): Unit = {
      val src = spark.readStream.schema("id LONG, v DOUBLE").json(inDir)
      val q = src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingPipeline.driftMonitorBatch(b, id, ref, Seq.empty, "v",
            store, 0.0, 100.0, 10)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def batchFile(name: String, vs: Seq[Double]): Unit =
      Files.writeString(java.nio.file.Path.of(inDir, name),
        vs.zipWithIndex.map { case (v, i) => s"""{"id":$i,"v":$v}""" }
          .mkString("", "\n", "\n"))

    // batch 0 matches the reference; batches 1 and 2 collapse to one
    // bucket — the drifted regime
    batchFile("b0.json", (0 until 100).map(i => (i % 10) * 10.0))
    run()
    batchFile("b1.json", Seq.fill(100)(90.0))
    run()
    batchFile("b2.json", Seq.fill(100)(90.0))
    run()

    val stored = spark.read.parquet(s"$store/data")
    assert(stored.count() === 3) // one score row per batch
    val psi0 = stored.filter(col("batch_id") === 0)
      .select("psi").as[Double].head()
    assert(psi0 < 0.05, s"stable batch should score ~0: $psi0")

    // the stored series feeds the SAME rule set as the batch side and
    // walks the lifecycle: drifted batch 1 pending, batch 2 firing
    val out = Alerts.evaluate(StreamingPipeline.driftSeriesView(stored),
        Alerts.driftRules, windowSeconds = 1L).collect()
      .map(r => (r.getAs[Long]("streak"), r.getAs[String]("state")))
    assert(out.toSeq === Seq((1L, "pending"), (2L, "firing")))

    // replay with the same checkpoint: no new input → the series must
    // not grow (a duplicated score row would stretch the streak)
    run()
    assert(spark.read.parquet(s"$store/data").count() === 3)

    // an EMPTY batch has no distribution: it must append NO score row
    // (n_cur=0 scores as PSI(ref vs uniform) and would falsely breach —
    // absence is producer_down's signal, not drift's)
    StreamingPipeline.driftMonitorBatch(
      Seq.empty[Double].toDF("v"), 99L, ref, Seq.empty, "v", store,
      0.0, 100.0, 10)
    assert(spark.read.parquet(s"$store/data").count() === 3)

    // the newest window's breach state reaches the scrape surface
    val states = Alerts.currentStates(StreamingPipeline.driftSeriesView(
      spark.read.parquet(s"$store/data")), Alerts.driftRules, 1L)
    assert(states.contains(("psi_drift", "warning", "firing")))
  }

  test("embeddingDriftMonitorIngest: centroid-cosine series fires embedding_drift; replay no-op") {
    import graft.monitoring.{Alerts, Drift}
    val inDir = tempRoot("graft-edrift-in")
    val store = tempRoot("graft-edrift-store")
    val ckpt = tempRoot("graft-edrift-ckpt")
    // reference centroid from the validation corpus: the x direction
    val ref = Drift.referenceCentroid(
      Seq.fill(8)(Array(1.0, 0.0)).toDF("v"), "v")
    assert(ref.select("n").as[Long].head() === 8L)

    def run(): Unit = {
      val src = spark.readStream.schema("id LONG, v ARRAY<DOUBLE>").json(inDir)
      val q = src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingPipeline.embeddingDriftMonitorBatch(b, id, ref, "v", store)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def batchFile(name: String, vs: Seq[Seq[Double]]): Unit =
      Files.writeString(java.nio.file.Path.of(inDir, name),
        vs.zipWithIndex.map { case (v, i) =>
          s"""{"id":$i,"v":[${v.mkString(",")}]}"""
        }.mkString("", "\n", "\n"))

    // batch 0 stays on the reference direction; batches 1 and 2 swing
    // orthogonal — cosine 1, 0, 0
    batchFile("b0.json", Seq.fill(4)(Seq(2.0, 0.0)))
    run()
    batchFile("b1.json", Seq.fill(4)(Seq(0.0, 1.0)))
    run()
    batchFile("b2.json", Seq.fill(4)(Seq(0.0, 1.0)))
    run()

    val stored = spark.read.parquet(s"$store/data")
    assert(stored.count() === 3)
    val cos0 = stored.filter(col("batch_id") === 0)
      .select("centroid_cosine").as[Double].head()
    assert(math.abs(cos0 - 1.0) < 1e-12) // scale-invariant: 2x magnitude

    val series = StreamingPipeline.driftSeriesView(stored,
      metric = "centroid_cosine", valueCol = "centroid_cosine")
    val out = Alerts.evaluate(series, Alerts.driftRules, windowSeconds = 1L)
      .collect().map(r => (r.getAs[Long]("streak"), r.getAs[String]("state")))
    assert(out.toSeq === Seq((1L, "pending"), (2L, "firing")))

    // replay: the series must not grow
    run()
    assert(spark.read.parquet(s"$store/data").count() === 3)

    // an EMPTY batch has no centroid: it must append NO score row (the
    // degenerate cosine 0.0 would read as a critical direction change)
    StreamingPipeline.embeddingDriftMonitorBatch(
      Seq.empty[Array[Double]].toDF("v"), 99L, ref, "v", store)
    assert(spark.read.parquet(s"$store/data").count() === 3)
  }

  test("spanDedupIngest cuts cross-batch boilerplate at span granularity; replay no-op") {
    val out = tempRoot("graft-span-out")
    val idx = tempRoot("graft-span-idx")
    def b(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // batch 1: nothing duplicated yet — docs publish intact, grams indexed
    StreamingPipeline.spanDedupIngestBatch(
      b(1L -> "l1 l2 l3 l4 l5 body1 body2", 2L -> "c1 c2 c3 c4"),
      1L, "text", "doc_id", out, idx)
    val s1 = spark.read.parquet(s"$out/data")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    assert(s1(1L) === (("l1 l2 l3 l4 l5 body1 body2", 0L)))
    assert(s1(2L) === (("c1 c2 c3 c4", 0L)))
    // batch 2: doc 10 repeats batch 1's 5-token header → span cut; the
    // first-seen copy in doc 1 stays published untouched. Doc 11 unique.
    StreamingPipeline.spanDedupIngestBatch(
      b(10L -> "l1 l2 l3 l4 l5 fresh1 fresh2", 11L -> "n1 n2 n3 n4 n5 n6"),
      2L, "text", "doc_id", out, idx)
    val s2 = spark.read.parquet(s"$out/data")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    assert(s2(10L) === (("fresh1 fresh2", 5L)))
    assert(s2(11L) === (("n1 n2 n3 n4 n5 n6", 0L)))
    assert(s2(1L) === (("l1 l2 l3 l4 l5 body1 body2", 0L))) // unchanged
    // replaying batch 2 is a marker no-op: store byte-identical
    StreamingPipeline.spanDedupIngestBatch(
      b(10L -> "l1 l2 l3 l4 l5 fresh1 fresh2", 11L -> "n1 n2 n3 n4 n5 n6"),
      2L, "text", "doc_id", out, idx)
    val s3 = spark.read.parquet(s"$out/data")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    assert(s3 === s2)
    // the gram index carries only 32-hex md5 hashes, deduplicated
    val hs = spark.read.parquet(s"$idx/data").select("h").as[String].collect()
    assert(hs.forall(_.length === 32))
    assert(hs.length === hs.distinct.length)
  }

  test("dedupIngest replay after index-rename/pre-marker crash loses no data") {
    val out = tempRoot("graft-ddc-out")
    val idx = tempRoot("graft-ddc-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    // batch 1 completes normally
    StreamingPipeline.dedupIngestBatch(
      batch(10L -> "alpha beta", 20L -> "gamma delta"),
      1L, "text", "doc_id", out, idx)
    // batch 2 runs to completion (survivor 31; 30 dups batch-1's text)...
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)
    // ...but the crash happens in the window AFTER the b2- index-delta
    // rename and BEFORE the ledger commit: simulate by dropping only its
    // ledger entry. The index now already contains batch 2's own
    // fingerprints.
    dropFromLedger(out, 2L)
    assert(!ledger(out).contains(2L))

    // at-least-once replay of the same batch: the replay must clear its
    // own partial index delta before anti-joining, or it would see its
    // own fingerprints, compute zero survivors, and overwrite
    // batch_id=2 with an empty dataset — permanent loss
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)

    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(landed === Seq(10L, 20L, 31L))
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 3)
    assert(ledger(out).contains(2L))
  }

  test("dedupIngest: a ledger commit that crashed after moving the old " +
    "ledger aside replays its batch exactly once") {
    val out = tempRoot("graft-lca-out")
    val idx = tempRoot("graft-lca-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    StreamingPipeline.dedupIngestBatch(
      batch(10L -> "alpha beta", 20L -> "gamma delta"),
      1L, "text", "doc_id", out, idx)
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)
    // batch 2's commit crashed between its move-aside and its promote:
    // the old ledger (without 2) sits aside, the staged one (with 2) was
    // never promoted, and no live _merged exists
    dropFromLedger(out, 2L)
    val live = new java.io.File(s"$out/data/_merged")
    val aside = new java.io.File(s"$out/data/_premerged")
    assert(live.renameTo(aside))
    Files.createDirectories(java.nio.file.Path.of(out, "data", "_merged_stage"))
    Files.writeString(
      java.nio.file.Path.of(out, "data", "_merged_stage", "ledger"), "1..2")
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 20L, 31L))
    assert(spark.read.parquet(s"$idx/data").count() === 3)
    assert(ledger(out) === BatchLedger.decode("1..2"))
    assert(live.exists() && !aside.exists())
  }

  test("dedupIngest: a staged ledger that was never swapped in replays " +
    "its batch exactly once") {
    val out = tempRoot("graft-lcs-out")
    val idx = tempRoot("graft-lcs-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    StreamingPipeline.dedupIngestBatch(
      batch(10L -> "alpha beta", 20L -> "gamma delta"),
      1L, "text", "doc_id", out, idx)
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)
    // batch 2's commit staged its ledger, then crashed before the swap
    dropFromLedger(out, 2L)
    Files.createDirectories(java.nio.file.Path.of(out, "data", "_merged_stage"))
    Files.writeString(
      java.nio.file.Path.of(out, "data", "_merged_stage", "ledger"), "1..2")
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 20L, 31L))
    assert(spark.read.parquet(s"$idx/data").count() === 3)
    assert(ledger(out) === BatchLedger.decode("1..2"))
    assert(!new java.io.File(s"$out/data/_merged_stage").exists())
  }

  test("an index-backed store with batch_id= data but no ledger fails " +
    "loudly, naming the store, and is left as it was") {
    val out = tempRoot("graft-nol-out")
    val idx = tempRoot("graft-nol-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    StreamingPipeline.dedupIngestBatch(
      batch(10L -> "alpha beta", 20L -> "gamma delta"),
      1L, "text", "doc_id", out, idx)
    // a store from the per-batch marker era: partitions, no ledger. Read
    // as empty, a replay of batch 1 would anti-join against its own
    // fingerprints and overwrite batch_id=1 with nothing.
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$out/data/_merged"))
    Files.createDirectories(java.nio.file.Path.of(out, "_batches"))
    Files.createFile(java.nio.file.Path.of(out, "_batches", "1"))
    val replay = intercept[IllegalStateException] {
      StreamingPipeline.dedupIngestBatch(
        batch(10L -> "alpha beta", 20L -> "gamma delta"),
        1L, "text", "doc_id", out, idx)
    }
    assert(replay.getMessage.contains(out), replay.getMessage)
    // targetFiles = 0: the one delta file must not count as compacted
    intercept[IllegalStateException] {
      StreamingPipeline.compactIngestIndex(spark, out, idx, targetFiles = 0)
    }
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 20L))
  }

  test("index compaction folds delta files, preserves dedup, and refuses in-flight batches") {
    val out = tempRoot("graft-ci-out")
    val idx = tempRoot("graft-ci-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    StreamingPipeline.dedupIngestBatch(batch(1L -> "alpha one"), 1L,
      "text", "doc_id", out, idx)
    StreamingPipeline.dedupIngestBatch(batch(2L -> "beta two"), 2L,
      "text", "doc_id", out, idx)
    StreamingPipeline.dedupIngestBatch(batch(3L -> "gamma three"), 3L,
      "text", "doc_id", out, idx)
    val idxDir = new java.io.File(s"$idx/data")
    def parquetFiles = idxDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles.length >= 3)
    val before = spark.read.parquet(idxDir.getPath)
      .as[String].collect().sorted.toSeq

    // a crash-window delta (no marker) must abort the compaction: its
    // replay has to be able to clear its own b$id- files
    StreamingPipeline.dedupIngestBatch(batch(9L -> "inflight nine"), 9L,
      "text", "doc_id", out, idx)
    dropFromLedger(out, 9L)
    val e = intercept[IllegalStateException] {
      StreamingPipeline.compactIngestIndex(spark, out, idx)
    }
    assert(e.getMessage.contains("batch 9"))
    // replay batch 9 to completion, then compact for real
    StreamingPipeline.dedupIngestBatch(batch(9L -> "inflight nine"), 9L,
      "text", "doc_id", out, idx)
    StreamingPipeline.compactIngestIndex(spark, out, idx)
    assert(parquetFiles.length === 1)
    val after = spark.read.parquet(idxDir.getPath)
      .as[String].collect().sorted.toSeq
    assert(after === (before ++ spark.createDataset(Seq("inflight nine"))
      .toDF("text").select(graft.ext.TextAnalysis.fingerprint(col("text")))
      .as[String].collect().toSeq).sorted)

    // the compacted index still dedups the next batch
    StreamingPipeline.dedupIngestBatch(
      batch(10L -> "alpha one", 11L -> "delta four"), 10L,
      "text", "doc_id", out, idx)
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(landed === Set(1L, 2L, 3L, 9L, 11L))

    // a compaction interrupted mid-swap (data moved aside, staged dir
    // never promoted) must be restored by the NEXT compaction, not read
    // as an empty index
    assert(idxDir.renameTo(new java.io.File(s"$idx/_preidx")))
    StreamingPipeline.compactIngestIndex(spark, out, idx)
    assert(idxDir.exists())
    assert(spark.read.parquet(idxDir.getPath).distinct().count() === 5)
  }

  test("compaction aborts the swap when a delta lands after the quiescence check") {
    val out = tempRoot("graft-race-out")
    val idx = tempRoot("graft-race-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    (1L to 3L).foreach { i =>
      StreamingPipeline.dedupIngestBatch(batch(i -> s"doc number $i"), i,
        "text", "doc_id", out, idx)
    }
    // a micro-batch completes in the window between the upfront marker
    // check + snapshot read and the rename-aside swap: its fresh delta
    // must survive, so the compaction must refuse to swap
    val e = intercept[IllegalStateException] {
      StreamingPipeline.compactIngestIndex(spark, out, idx,
        onBeforeSwap = () =>
          StreamingPipeline.dedupIngestBatch(batch(4L -> "doc number 4"), 4L,
            "text", "doc_id", out, idx))
    }
    assert(e.getMessage.contains("changed during compaction"))
    // nothing lost: all four fingerprints remain readable, and a
    // quiesced retry compacts cleanly
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 4)
    StreamingPipeline.compactIngestIndex(spark, out, idx)
    assert(new java.io.File(s"$idx/data").listFiles()
      .count(_.getName.endsWith(".parquet")) === 1)
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 4)
  }

  test("compaction swap raced by a batch that recreates the data dir: history restored, racer delta folded") {
    val out = tempRoot("graft-fold-out")
    val idx = tempRoot("graft-fold-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    (1L to 3L).foreach { i =>
      StreamingPipeline.dedupIngestBatch(batch(i -> s"doc number $i"), i,
        "text", "doc_id", out, idx)
    }
    val before = spark.read.parquet(s"$idx/data").distinct().count()
    // prebuild the racer's delta file (a batch that read an empty index
    // while the real one sat in _preidx, then recreated data/)
    val racerTmp = tempRoot("graft-fold-racer")
    Seq("zz-racer-fingerprint").toDF("fingerprint").coalesce(1)
      .write.mode("overwrite").parquet(racerTmp)
    val racerPart = new java.io.File(racerTmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val e = intercept[java.io.IOException] {
      StreamingPipeline.compactIngestIndex(spark, out, idx,
        onAfterAside = () => {
          val dataDir = new java.io.File(s"$idx/data")
          assert(dataDir.mkdirs())
          java.nio.file.Files.move(racerPart.toPath,
            new java.io.File(dataDir, "b9-" + racerPart.getName).toPath)
        })
    }
    assert(e.getMessage.contains("not quiesced"))
    // nothing stranded: the data dir holds the FULL history plus the
    // racer's fingerprint, and no _preidx backup is left behind
    val after = spark.read.parquet(s"$idx/data").distinct()
    assert(after.count() === before + 1)
    assert(after.filter($"fingerprint" === "zz-racer-fingerprint").count() === 1)
    assert(!new java.io.File(s"$idx/_preidx").exists())
    // once the racer's batch is in the ledger (quiesced again),
    // compaction folds everything — history and racer delta — into one
    // generation
    setLedger(out, ledger(out) + 9L)
    StreamingPipeline.compactIngestIndex(spark, out, idx)
    assert(new java.io.File(s"$idx/data").listFiles()
      .count(_.getName.endsWith(".parquet")) === 1)
    assert(spark.read.parquet(s"$idx/data").distinct().count() === before + 1)
  }

  test("divergent data + _preidx state heals by folding before the next read") {
    val out = tempRoot("graft-heal-out")
    val idx = tempRoot("graft-heal-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    StreamingPipeline.dedupIngestBatch(batch(1L -> "alpha beta"), 1L,
      "text", "doc_id", out, idx)
    StreamingPipeline.dedupIngestBatch(batch(2L -> "gamma delta"), 2L,
      "text", "doc_id", out, idx)
    // simulate a crash mid-repair: the index was moved aside, a partial
    // fold put only batch 2's delta back — data/ and _preidx BOTH exist,
    // history split across them
    val dataDir = new java.io.File(s"$idx/data")
    val preidx = new java.io.File(s"$idx/_preidx")
    assert(dataDir.renameTo(preidx))
    assert(dataDir.mkdirs())
    preidx.listFiles().filter(_.getName.startsWith("b2-")).foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(dataDir, f.getName).toPath)
    }
    // the next batch folds the remainder in before reading: the dup of
    // doc 1 — whose fingerprint sat in the STRANDED half — is blocked
    StreamingPipeline.dedupIngestBatch(
      batch(3L -> "alpha beta", 4L -> "epsilon zeta"), 3L,
      "text", "doc_id", out, idx)
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(landed === Set(1L, 2L, 4L)) // 3 blocked by the healed index
    assert(!preidx.exists()) // divergence gone
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 3)
  }

  test("heal tolerates committer markers (_SUCCESS) present in both dirs") {
    val out = tempRoot("graft-heal2-out")
    val idx = tempRoot("graft-heal2-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    StreamingPipeline.dedupIngestBatch(batch(1L -> "alpha beta"), 1L,
      "text", "doc_id", out, idx)
    StreamingPipeline.dedupIngestBatch(batch(2L -> "gamma delta"), 2L,
      "text", "doc_id", out, idx)
    // a compaction leaves a _SUCCESS marker in data/ alongside the parquet
    StreamingPipeline.compactIngestIndex(spark, out, idx)
    assert(new java.io.File(s"$idx/data/_SUCCESS").exists())
    StreamingPipeline.dedupIngestBatch(batch(3L -> "epsilon zeta"), 3L,
      "text", "doc_id", out, idx)
    // crash mid-repair: history (with its marker) stranded in _preidx,
    // data/ recreated carrying batch 3's delta AND its own _SUCCESS —
    // the marker name now collides across the two dirs
    val dataDir = new java.io.File(s"$idx/data")
    val preidx = new java.io.File(s"$idx/_preidx")
    assert(dataDir.renameTo(preidx))
    assert(dataDir.mkdirs())
    preidx.listFiles().filter(_.getName.startsWith("b3-")).foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(dataDir, f.getName).toPath)
    }
    java.nio.file.Files.createFile(
      java.nio.file.Path.of(s"$idx/data/_SUCCESS"))
    // the heal must fold the stranded parquet in and DROP the colliding
    // marker instead of aborting — doc 1's dup is blocked afterwards
    StreamingPipeline.dedupIngestBatch(
      batch(5L -> "alpha beta", 6L -> "eta theta"), 4L,
      "text", "doc_id", out, idx)
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(landed === Set(1L, 2L, 3L, 6L))
    assert(!preidx.exists())
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 4)
  }

  test("the exactly-once protocol runs through scheme-qualified file:// URIs") {
    // state paths resolve their FileSystem from the path URI (HDFS in
    // production, file:// here) — drive the whole protocol with explicit
    // scheme-qualified paths to pin that no java.io assumption remains
    val out = "file://" + tempRoot("graft-uri-out")
    val idx = "file://" + tempRoot("graft-uri-idx")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    StreamingPipeline.dedupIngestBatch(
      batch(10L -> "alpha beta", 20L -> "gamma delta"),
      1L, "text", "doc_id", out, idx)
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)
    // replay is a no-op through the URI-resolved marker
    StreamingPipeline.dedupIngestBatch(
      batch(30L -> "alpha beta", 31L -> "epsilon zeta"),
      2L, "text", "doc_id", out, idx)
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 20L, 31L))
    StreamingPipeline.compactIngestIndex(spark, out, idx)
    assert(spark.read.parquet(s"$idx/data").distinct().count() === 3)
  }

  test("nearDupIngest: cross-batch near-copies never land; fresh and short docs do") {
    val inDir = tempRoot("graft-nd-in")
    val out = tempRoot("graft-nd-out")
    val idx = tempRoot("graft-nd-idx")
    val ckpt = tempRoot("graft-nd-ckpt")
    def words(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")

    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, text STRING")
        .json(inDir)
      val q = src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingPipeline.nearDupIngestBatch(b, id, "text", "doc_id", out,
            idx, estThreshold = 0.5)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      s"""{"doc_id":10,"text":"${words(1 to 40, "a")}"}
         |{"doc_id":11,"text":"${words(100 to 140, "b")}"}
         |""".stripMargin)
    run()
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet === Set(10L, 11L))

    // batch 2: 20 near-copies batch-1's doc 10 (38 of 40 tokens) → drop;
    // 21 is fresh → lands; 22 is too short to sign → lands
    Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
      s"""{"doc_id":20,"text":"${words(1 to 38, "a")} zz1 zz2"}
         |{"doc_id":21,"text":"${words(500 to 540, "c")}"}
         |{"doc_id":22,"text":"just two"}
         |""".stripMargin)
    run()
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(landed === Set(10L, 11L, 21L, 22L))
    // the signature index carries one row per SIGNED survivor (22 has no
    // shingles, so no signature)
    assert(spark.read.parquet(s"$idx/data").count() === 3)

    // restart with the same checkpoint: no new input → nothing re-lands
    run()
    assert(spark.read.parquet(s"$out/data").count() === 4)
  }

  test("curateIngest: quality gate, cross-batch dedup, and source caps match the batch pipeline") {
    val inDir = tempRoot("graft-cu-in")
    val out = tempRoot("graft-cu-out")
    val idx = tempRoot("graft-cu-idx")
    val ckpt = tempRoot("graft-cu-ckpt")
    val counts = new StreamingPipeline.CurateCounts

    // long stopword-rich sentences pass the 0.35 quality gate; "x" fails
    def good(i: Int) =
      s"the quick brown fox $i jumps over the lazy dog and the cat is in the house of the hill " * 3
    def row(id: Long, src: String, text: String) =
      s"""{"doc_id":$id,"source":"$src","text":"${text.trim}"}"""

    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .json(inDir)
      val q = src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingPipeline.curateIngestBatch(b, id, out, idx,
            minQuality = 0.35, perSourceCap = 2, counts = counts)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // batch 1: 4 good docs in source a (cap 2 keeps 2), 1 low-quality,
    // 1 in-batch dup of doc 10
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      Seq(row(10, "a", good(1)), row(11, "a", good(2)), row(12, "a", good(3)),
        row(13, "a", good(4)), row(14, "a", "x"), row(15, "a", good(1)))
        .mkString("", "\n", "\n"))
    run()
    val landed1 = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(landed1.size === 2)
    assert(!landed1.contains(14L) && !landed1.contains(15L))

    // batch 2: one cross-batch dup of a batch-1 SURVIVOR, one dup of a
    // batch-1 capped-out doc (its fingerprint is NOT in the index — the
    // cap dropped it before indexing, so the dup can land), one fresh
    // doc, three good docs in source b (cap keeps 2)
    val survivor = landed1.min // the lowest kept doc_id of batch 1
    val survivorText = good((survivor - 9).toInt)
    val cappedOut = ((10L to 13L).toSet -- landed1).min
    val cappedText = good((cappedOut - 9).toInt)
    Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
      Seq(row(20, "a", survivorText), row(21, "a", cappedText),
        row(22, "a", good(50)),
        row(23, "b", good(60)), row(24, "b", good(61)), row(25, "b", good(62)))
        .mkString("", "\n", "\n"))
    run()
    val all = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(!all.contains(20L), "cross-batch dup of an indexed survivor must drop")
    assert((all & Set(23L, 24L, 25L)).size === 2, "source-b cap keeps 2 of 3")
    // batch 2 of source a: 21 (dup of a capped-out doc -> fingerprint not
    // indexed) and 22 are both eligible; cap 2 keeps both
    assert(all.contains(22L))

    // stage counts: one entry per batch, equal to Curate.incremental run
    // on the same data against the same evolving index
    val hist = counts.history.sortBy(_._1).map(_._2)
    assert(hist.size === 2)
    val b1df = Seq((10L, "a", good(1)), (11L, "a", good(2)), (12L, "a", good(3)),
      (13L, "a", good(4)), (14L, "a", "x"), (15L, "a", good(1)))
      .toDF("doc_id", "source", "text")
    val emptyIdx = spark.emptyDataFrame.select(lit("").as("fingerprint")).limit(0)
    val r1 = graft.ext.Curate.incremental(b1df, emptyIdx, 0.35, 2)
    val idx1 = r1.indexDelta
    val b2df = Seq((20L, "a", survivorText), (21L, "a", cappedText),
      (22L, "a", good(50)),
      (23L, "b", good(60)), (24L, "b", good(61)), (25L, "b", good(62)))
      .toDF("doc_id", "source", "text")
    val r2 = graft.ext.Curate.incremental(b2df, idx1, 0.35, 2)
    assert(hist(0) === r1.stats)
    assert(hist(1) === r2.stats)
    r1.release(); r2.release()
  }

  test("curateFullIngest: both indices live across batches; counts match the batch capstone") {
    val inDir = tempRoot("graft-cf-in")
    val out = tempRoot("graft-cf-out")
    val fpIdx = tempRoot("graft-cf-fp")
    val sigIdx = tempRoot("graft-cf-sig")
    val ckpt = tempRoot("graft-cf-ckpt")
    val counts = new StreamingPipeline.CurateCounts

    def words(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    def row(id: Long, text: String) =
      s"""{"doc_id":$id,"source":"a","text":"$text"}"""
    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .json(inDir)
      val q = src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingPipeline.curateFullIngestBatch(b, id, out, fpIdx, sigIdx,
            minQuality = 0.1, estThreshold = 0.5, perSourceCap = 15,
            counts = counts)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // batch 1: two long docs land (minQuality 0.1 ≈ length-only gate)
    val tA = words(1 to 40, "a"); val tB = words(100 to 140, "b")
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      Seq(row(10, tA), row(11, tB)).mkString("", "\n", "\n"))
    run()
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet === Set(10L, 11L))

    // batch 2: junk (quality), exact copy of 10 (fp index), near-copy
    // of 11 (sig index), one genuinely fresh doc
    Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
      Seq(row(20, "x"), row(21, tA),
        row(22, words(100 to 138, "b") + " zz1 zz2"),
        row(23, words(500 to 540, "c"))).mkString("", "\n", "\n"))
    run()
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(landed === Set(10L, 11L, 23L))

    // counts equal the batch capstone run on the same two days
    val hist = counts.history.sortBy(_._1).map(_._2)
    assert(hist.size === 2)
    val emptyFp = spark.emptyDataFrame
      .select(lit("").as("fingerprint")).limit(0)
    val b1 = Seq((10L, "a", tA), (11L, "a", tB))
      .toDF("doc_id", "source", "text")
    val sig0 = graft.ext.Dedup.minhashSigTable(
      spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
        .withColumn("source", lit("a")), "text", "doc_id")
    val r1 = graft.ext.Curate.incrementalFull(b1, emptyFp, sig0,
      minQuality = 0.1, estThreshold = 0.5, perSourceCap = 15)
    assert(hist(0) === r1.stats)
    val b2 = Seq((20L, "a", "x"), (21L, "a", tA),
      (22L, "a", words(100 to 138, "b") + " zz1 zz2"),
      (23L, "a", words(500 to 540, "c"))).toDF("doc_id", "source", "text")
    val r2 = graft.ext.Curate.incrementalFull(b2, r1.fpDelta, r1.sigDelta,
      minQuality = 0.1, estThreshold = 0.5, perSourceCap = 15)
    assert(hist(1) === r2.stats)
    r1.release(); r2.release()

    // replay: nothing re-lands
    run()
    assert(spark.read.parquet(s"$out/data").count() === 3)
  }

  test("ivfIngest: the stored ANN index answers top-k; replays are no-ops") {
    import graft.ext.Similarity
    val out = tempRoot("graft-ivf-out")
    val idx = tempRoot("graft-ivf-idx")
    val cluster1 = (1 to 5).map(i => (i.toLong, Array(1.0f + i * 0.01f, 0.0f), "a"))
    val cluster2 = (6 to 10).map(i => (i.toLong, Array(0.0f, 1.0f + i * 0.01f), "b"))
    val all = (cluster1 ++ cluster2).toDF("vec_id", "embedding", "label")
    // the stored centroid table, built offline once (here: label means)
    val cents = Similarity.centroids(all, "label", 2)
    // two micro-batches extend the persistent index incrementally
    StreamingPipeline.ivfIngestBatch(all.filter($"vec_id" <= 5), 1L,
      "vec_id", "embedding", out, idx, cents)
    StreamingPipeline.ivfIngestBatch(all.filter($"vec_id" > 5), 2L,
      "vec_id", "embedding", out, idx, cents)
    val stored = spark.read.parquet(s"$idx/data")
    assert(stored.count() === 10)
    // the stored index answers top-k identically to the direct recompute
    // over everything ingested — history is never re-assigned
    val q = all.filter($"vec_id" === 1)
    val indexed = Similarity.ivfTopKIndexed(stored, q, cents, k = 3, nProbe = 2)
      .orderBy("rank").collect().toSeq
    val direct = Similarity.ivfTopK(all, q, cents, k = 3, nProbe = 2)
      .orderBy("rank").collect().toSeq
    assert(indexed === direct)
    // at-least-once replay of batch 2: the index must not double
    StreamingPipeline.ivfIngestBatch(all.filter($"vec_id" > 5), 2L,
      "vec_id", "embedding", out, idx, cents)
    assert(spark.read.parquet(s"$idx/data").count() === 10)
  }

  test("versionedStatsIngest: atomic snapshots, replay no-op, orphan gen invisible") {
    import graft.warehouse.Versioned
    val root = tempRoot("graft-vstats")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    StreamingPipeline.versionedStatsBatch(
      Seq(("A", 1.0), ("A", 3.0), ("B", 5.0)).toDF("k", "value"),
      1L, root, Seq("k"), "value")
    assert(snap(Versioned.read(spark, root)) === Set(("A", 2L, 4.0), ("B", 1L, 5.0)))
    StreamingPipeline.versionedStatsBatch(Seq(("A", 6.0)).toDF("k", "value"),
      2L, root, Seq("k"), "value")
    assert(snap(Versioned.read(spark, root)) === Set(("A", 3L, 10.0), ("B", 1L, 5.0)))
    assert(Versioned.versions(spark, root) === Seq(1L, 2L))
    // replay of a committed batch: no new generation, same snapshot
    StreamingPipeline.versionedStatsBatch(Seq(("A", 6.0)).toDF("k", "value"),
      2L, root, Seq("k"), "value")
    assert(Versioned.versions(spark, root) === Seq(1L, 2L))
    // time travel: the first snapshot is intact
    assert(snap(Versioned.readVersion(spark, root, 1L))
      === Set(("A", 2L, 4.0), ("B", 1L, 5.0)))
    // crash window: generation staged (data + meta) but the flip never
    // ran — readers still see gen 2; the replay re-merges from the OLD
    // current and commits as a fresh generation
    Seq(("B", 1L, 1.0)).toDF("k", "n", "s")
      .write.parquet(s"$root/gen=3")
    Versioned.setGenerationMeta(spark, root, 3L, "batch=3")
    assert(snap(Versioned.read(spark, root)) === Set(("A", 3L, 10.0), ("B", 1L, 5.0)))
    StreamingPipeline.versionedStatsBatch(Seq(("B", 1.0)).toDF("k", "value"),
      3L, root, Seq("k"), "value")
    assert(Versioned.resolve(spark, root) === Some(4L))
    assert(snap(Versioned.read(spark, root)) === Set(("A", 3L, 10.0), ("B", 2L, 6.0)))
  }

  test("modelGatedIngest: classifier gates the stream; index kills cross-batch dups") {
    import graft.ext.TextAnalysis
    val out = tempRoot("graft-mg-out")
    val idx = tempRoot("graft-mg-idx")
    val seed = Seq(
      (1L, "clean prose reads well tonight", 1),
      (2L, "clean prose flows well today", 1),
      (3L, "spam junk noise garbage spam", 0),
      (4L, "junk noise spam garbage junk", 0))
      .toDF("doc_id", "text", "label")
    // the stored model: trained offline once, broadcast per batch
    val wts = TextAnalysis.nbTrainWeights(seed, "text", $"label" === 1,
      numBuckets = 64)
    val counts = new StreamingPipeline.CurateCounts
    val b1 = Seq((10L, "clean prose reads well", "A"),
      (11L, "junk noise spam garbage", "A")) // classifier kills 11
      .toDF("doc_id", "text", "source")
    StreamingPipeline.modelGatedIngestBatch(b1, 1L, out, idx, wts, 64,
      minScore = 0.0, perSourceCap = 15, counts)
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet === Set(10L))
    // batch 2: exact copy of batch 1's survivor → killed by the index;
    // fresh positive prose lands
    val b2 = Seq((20L, "clean prose reads well", "B"),
      (21L, "clean prose flows tonight", "B"))
      .toDF("doc_id", "text", "source")
    StreamingPipeline.modelGatedIngestBatch(b2, 2L, out, idx, wts, 64,
      minScore = 0.0, perSourceCap = 15, counts)
    assert(spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet === Set(10L, 21L))
    // replay is a no-op; stage counts were recorded per batch
    StreamingPipeline.modelGatedIngestBatch(b2, 2L, out, idx, wts, 64,
      minScore = 0.0, perSourceCap = 15, counts)
    assert(spark.read.parquet(s"$out/data").count() === 2)
    val s2 = counts.history.filter(_._1 == 2L).map(_._2.toMap).head
    assert(s2("input") === 2 && s2("model_gate_kept") === 2 &&
      s2("after_dedup") === 1 && s2("after_cap") === 1)
  }

  test("pqIngest: incrementally stored codes equal the batch build; replay no-op") {
    import graft.ext.Similarity
    val out = tempRoot("graft-pq-out")
    val idx = tempRoot("graft-pq-idx")
    val cluster1 = (1 to 5).map(i => (i.toLong, Array(1.0f + i * 0.25f, 0.25f), 0))
    val cluster2 = (6 to 10).map(i => (i.toLong, Array(0.25f, 1.0f + i * 0.25f), 1))
    val all = (cluster1 ++ cluster2).toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(all, "label", 2)
    StreamingPipeline.pqIngestBatch(all.filter($"vec_id" <= 5), 1L,
      "vec_id", "embedding", out, idx, cents, m = 1, dim = 2)
    StreamingPipeline.pqIngestBatch(all.filter($"vec_id" > 5), 2L,
      "vec_id", "embedding", out, idx, cents, m = 1, dim = 2)
    val stored = spark.read.parquet(s"$idx/data")
    // code assignment is stateless, so the incrementally-built index is
    // row-identical to a one-shot batch build...
    val direct = Similarity.pqIndex(all, cents, m = 1, dim = 2)
    assert(stored.orderBy("id").collect().toSeq ===
      direct.select(stored.columns.map(col): _*).orderBy("id").collect().toSeq)
    // ...and answers IVF-PQ top-k identically
    val q = all.filter($"vec_id" === 1)
    val fromStored = Similarity.ivfPqTopK(stored, q, cents, k = 3, m = 1,
      dim = 2, nProbe = 2).orderBy("rank").collect().toSeq
    val fromDirect = Similarity.ivfPqTopK(direct, q, cents, k = 3, m = 1,
      dim = 2, nProbe = 2).orderBy("rank").collect().toSeq
    assert(fromStored === fromDirect)
    // at-least-once replay: the index must not double
    StreamingPipeline.pqIngestBatch(all.filter($"vec_id" > 5), 2L,
      "vec_id", "embedding", out, idx, cents, m = 1, dim = 2)
    assert(spark.read.parquet(s"$idx/data").count() === 10)
  }

  test("semanticDedupIngest: semantic dups never land across batches; replay no-op") {
    import graft.ext.Similarity
    val out = tempRoot("graft-sd-out")
    val idx = tempRoot("graft-sd-idx")
    val b1 = Seq((1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.0f, 1.0f), "b"))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(b1, "label", 2)
    StreamingPipeline.semanticDedupIngestBatch(b1, 1L, "vec_id", "embedding",
      out, idx, cents, threshold = 0.95)
    assert(spark.read.parquet(s"$out/data")
      .select("vec_id").as[Long].collect().toSet === Set(1L, 2L))
    // batch 2: 10 duplicates history 1 (scaled copy, cos 1) → dropped via
    // the stored index; 11 is a fresh direction → lands; 12 duplicates 11
    // within the batch → dropped in-batch
    val b2 = Seq((10L, Array(2.0f, 0.0f), "a"),
      (11L, Array(1.0f, 0.9f), "a"), (12L, Array(2.0f, 1.8f), "a"))
      .toDF("vec_id", "embedding", "label")
    StreamingPipeline.semanticDedupIngestBatch(b2, 2L, "vec_id", "embedding",
      out, idx, cents, threshold = 0.95)
    val landed = spark.read.parquet(s"$out/data")
      .select("vec_id").as[Long].collect().toSet
    assert(landed === Set(1L, 2L, 11L))
    // the index holds survivors only, and a replay changes nothing
    assert(spark.read.parquet(s"$idx/data").count() === 3)
    StreamingPipeline.semanticDedupIngestBatch(b2, 2L, "vec_id", "embedding",
      out, idx, cents, threshold = 0.95)
    assert(spark.read.parquet(s"$out/data").count() === 3)
    assert(spark.read.parquet(s"$idx/data").count() === 3)
    // a batch-3 copy of batch-2's SURVIVOR is also caught (the index
    // grew): scaled copy of 11 never lands
    StreamingPipeline.semanticDedupIngestBatch(
      Seq((20L, Array(3.0f, 2.7f), "a")).toDF("vec_id", "embedding", "label"),
      3L, "vec_id", "embedding", out, idx, cents, threshold = 0.95)
    assert(spark.read.parquet(s"$out/data")
      .select("vec_id").as[Long].collect().toSet === Set(1L, 2L, 11L))
  }

  test("multi-index compaction folds both curation indices to one generation") {
    val out = tempRoot("graft-mc-out")
    val fpIdx = tempRoot("graft-mc-fp")
    val sigIdx = tempRoot("graft-mc-sig")
    val counts = new StreamingPipeline.CurateCounts
    def words(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    def runBatch(id: Long, rows: (Long, String)*): Unit =
      StreamingPipeline.curateFullIngestBatch(
        rows.toSeq.toDF("doc_id", "text").withColumn("source", lit("a")),
        id, out, fpIdx, sigIdx, minQuality = 0.1, estThreshold = 0.5,
        perSourceCap = 15, counts = counts)
    runBatch(1L, 10L -> words(1 to 40, "a"))
    runBatch(2L, 11L -> words(100 to 140, "b"))
    runBatch(3L, 12L -> words(500 to 540, "c"))
    def gen(dir: String): Int = new java.io.File(s"$dir/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(gen(fpIdx) >= 3 && gen(sigIdx) >= 3)

    // an unmarkered (crash-window) batch blocks compaction of BOTH
    // indices — its replay must be able to clear its own deltas
    runBatch(9L, 13L -> words(900 to 940, "d"))
    dropFromLedger(out, 9L)
    val e = intercept[IllegalStateException] {
      StreamingPipeline.compactIngestIndexes(spark, out, Seq(fpIdx, sigIdx))
    }
    assert(e.getMessage.contains("batch 9"))
    // replay to completion, then compact both for real
    runBatch(9L, 13L -> words(900 to 940, "d"))
    StreamingPipeline.compactIngestIndexes(spark, out, Seq(fpIdx, sigIdx))
    assert(gen(fpIdx) === 1 && gen(sigIdx) === 1)
    assert(spark.read.parquet(s"$fpIdx/data").distinct().count() === 4)
    assert(spark.read.parquet(s"$sigIdx/data").count() === 4)

    // compacted indices still curate: an exact copy and a near copy of
    // history never land; a fresh doc does
    runBatch(10L,
      20L -> words(1 to 40, "a"),
      21L -> (words(100 to 138, "b") + " zz1 zz2"),
      22L -> words(7000 to 7040, "e"))
    val landed = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSet
    assert(landed === Set(10L, 11L, 12L, 13L, 22L))
  }

  test("every index/state-backed ingest twin tolerates an EMPTY first " +
    "micro-batch (trigger with no new data) and recovers on the next") {
    import graft.ext.Similarity
    // an empty first batch is a routine streaming event: it must seed
    // (or skip) state without wedging the stream — the embeddingMoments
    // bug this round wrote a zero-cell state an then rejected every
    // later batch's "changed" dimension
    def emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    def realDocs = Seq((1L, "the quick brown fox jumps over the dog", "a"),
      (2L, "a completely different second document text", "a"))
      .toDF("doc_id", "text", "source")
    val root = tempRoot("graft-empty")

    StreamingPipeline.normalizedDedupIngestBatch(emptyDocs, 0L, "text",
      "doc_id", s"$root/nd-out", s"$root/nd-idx")
    StreamingPipeline.normalizedDedupIngestBatch(realDocs, 1L, "text",
      "doc_id", s"$root/nd-out", s"$root/nd-idx")
    assert(spark.read.parquet(s"$root/nd-out/data").count() === 2)

    StreamingPipeline.spanDedupIngestBatch(emptyDocs, 0L, "text",
      "doc_id", s"$root/sp-out", s"$root/sp-idx", k = 3)
    StreamingPipeline.spanDedupIngestBatch(realDocs, 1L, "text",
      "doc_id", s"$root/sp-out", s"$root/sp-idx", k = 3)
    assert(spark.read.parquet(s"$root/sp-out/data").count() === 2)

    StreamingPipeline.nearDupIngestBatch(emptyDocs, 0L, "text",
      "doc_id", s"$root/nr-out", s"$root/nr-idx", estThreshold = 0.5)
    StreamingPipeline.nearDupIngestBatch(realDocs, 1L, "text",
      "doc_id", s"$root/nr-out", s"$root/nr-idx", estThreshold = 0.5)
    assert(spark.read.parquet(s"$root/nr-out/data").count() === 2)

    StreamingPipeline.adaptiveGateBatch(emptyDocs, 0L, "source", "text",
      s"$root/ag-out", s"$root/ag-store", pct = 0.25,
      relativeError = 0.001)
    StreamingPipeline.adaptiveGateBatch(realDocs, 1L, "source", "text",
      s"$root/ag-out", s"$root/ag-store", pct = 0.25,
      relativeError = 0.001)
    assert(spark.read.parquet(s"$root/ag-out/batch_id=1").count() === 2)

    StreamingPipeline.shardManifestBatch(emptyDocs, 0L, "text", "doc_id",
      s"$root/sm-out", s"$root/sm-store", tokensPerShard = 10L)
    StreamingPipeline.shardManifestBatch(realDocs, 1L, "text", "doc_id",
      s"$root/sm-out", s"$root/sm-store", tokensPerShard = 10L)
    assert(spark.read.parquet(s"$root/sm-out/batch_id=1").count() === 2)

    val vecs = Seq((1L, Array(1.0f, 0.2f)), (2L, Array(0.2f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.centroids(
      vecs.withColumn("label", lit(0)), "label", 1)
    def emptyVecs = vecs.limit(0)
    StreamingPipeline.ivfIngestBatch(emptyVecs, 0L, "vec_id", "embedding",
      s"$root/iv-out", s"$root/iv-idx", cents)
    StreamingPipeline.ivfIngestBatch(vecs, 1L, "vec_id", "embedding",
      s"$root/iv-out", s"$root/iv-idx", cents)
    assert(spark.read.parquet(s"$root/iv-idx/data").count() === 2)
    StreamingPipeline.pqIngestBatch(emptyVecs, 0L, "vec_id", "embedding",
      s"$root/pq-out", s"$root/pq-idx", cents, m = 1, dim = 2)
    StreamingPipeline.pqIngestBatch(vecs, 1L, "vec_id", "embedding",
      s"$root/pq-out", s"$root/pq-idx", cents, m = 1, dim = 2)
    assert(spark.read.parquet(s"$root/pq-idx/data").count() === 2)
    StreamingPipeline.semanticDedupIngestBatch(emptyVecs, 0L, "vec_id",
      "embedding", s"$root/sd-out", s"$root/sd-idx", cents,
      threshold = 0.95)
    StreamingPipeline.semanticDedupIngestBatch(vecs, 1L, "vec_id",
      "embedding", s"$root/sd-out", s"$root/sd-idx", cents,
      threshold = 0.95)
    assert(spark.read.parquet(s"$root/sd-out/data").count() === 2)
  }

  test("S7/S8: CSV replay source round-trips through producer-shaped JSON") {
    val csvDir = tempRoot("graft-csv")
    Files.writeString(java.nio.file.Path.of(csvDir, "replay.csv"),
      "sensor_id,sensor_type,timestamp,value,unit,location\n" +
        "sensor-001,temperature,2024-06-15T10:00:00+00:00,22.5,celsius,floor-1-zone-A\n" +
        "sensor-002,humidity,2024-06-15T10:00:05+00:00,45.0,percent,\n")
    val csv = spark.read.option("header", "true").csv(csvDir)
      .withColumn("value", col("value").cast("double"))
    assert(csv.count() === 2)
    // producer serialization: key = sensor_id, value = JSON event
    val wire = csv.select(col("sensor_id").as("key"),
      to_json(struct(csv.columns.map(col): _*)).as("value"))
    // consumer parse of the produced payload must round-trip losslessly
    val parsed = JsonIngest.parseAndSplit(wire, "value", Schemas.sensorSchema)
    assert(parsed.deadLetter.count() === 0)
    assert(parsed.valid.count() === 2)
    assert(parsed.valid.filter(col("sensor_id") === "sensor-001")
      .select("value").as[Double].head() === 22.5)
  }

  test("ingest stamp: one stamp per split call, no recompile per batch, " +
    "filters on the valid frame still push down") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val inDir = tempRoot("graft-stamp-in")
    Files.writeString(java.nio.file.Path.of(inDir, "b.txt"),
      s"$goodJson\n$badJson\n")
    val out = tempRoot("graft-stamp-out")
    def batch(i: Int): JsonIngest.ParseResult = {
      val res = JsonIngest.parseAndSplit(spark.read.text(inDir), "value",
        Schemas.sensorSchema)
      res.valid.write.mode("append").parquet(s"$out/valid")
      res.deadLetter.write.mode("append").json(s"$out/dead")
      res
    }
    (0 until 2).foreach(batch) // warm the codegen cache
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val last = (2 until 5).map { i => Thread.sleep(5); batch(i) }.last
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled,
      "each batch recompiled its bronze/dead-letter write")
    // valid and dead-letter rows of one call share its stamp
    val t = last.valid.select("ingestion_time").as[java.sql.Timestamp].head()
    assert(last.deadLetter.select("error_time").as[java.sql.Timestamp]
      .head() === t)
    assert(!last.valid.schema("ingestion_time").nullable)
    // a filter on the valid frame is pushed beneath the projection that
    // adds the stamp (a nondeterministic stamp would pin it on top)
    val plan = last.valid.filter(col("value") > 0).queryExecution
      .optimizedPlan
    assert(!plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter],
      s"filter stayed above the stamp projection:\n$plan")
  }

  test("ingest stamp: a streaming frame is refused (one stamp per call " +
    "would freeze every micro-batch's ingestion_time)") {
    val inDir = tempRoot("graft-stamp-stream")
    intercept[IllegalArgumentException] {
      JsonIngest.parseAndSplit(spark.readStream.text(inDir), "value",
        Schemas.sensorSchema)
    }
  }
}
