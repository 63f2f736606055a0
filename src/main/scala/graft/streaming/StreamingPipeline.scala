package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.Row

import graft.DirSwap
import graft.ingest.JsonIngest

/** Structured-Streaming ingest: source → schema-enforced parse →
  * dead-letter split → watermark → partitioned append sinks (SURVEY §2.9).
  *
  * Differences from the reference, on purpose:
  *  - The reference starts TWO independent streaming queries over the same
  *    Kafka topic (valid + dead-letter), consuming the topic twice
  *    (spark_streaming.py:100-154). Here one `foreachBatch` fans a single
  *    consumption out to both sinks — half the source load, one checkpoint
  *    lineage (SURVEY §3.1 notes this as the idiomatic collapse).
  *  - The ingest path is a stateless append, so no watermark is set here —
  *    late rows still land in Bronze (matching the reference, where the
  *    declared watermark also never drops anything because nothing stateful
  *    follows it) and late-data correctness is restored by the batch
  *    `Silver.mergeLateData` (T2 subtlety, SURVEY §7.4.4). Watermarks appear
  *    only on the genuinely stateful stages: `windowedAgg`/`streamingDedup`.
  *
  * Sources are injectable so the same pipeline runs from Kafka in
  * production and from file/rate/memory sources in tests (no Kafka in this
  * sandbox).
  */
object StreamingPipeline {

  /** The hash domain [[cmsFrequencyBatch]] sketches are built over, versioned
    * into every store as the `cms_key_domain` column so a merge can't
    * silently mix registers built under a different key encoding. */
  val CmsKeyDomain = "string"

  /** Every state/index path operation below goes through the Hadoop
    * FileSystem API resolved from the path's own URI — so the exactly-once
    * protocols (ledger-last, clear-own-delta-before-read, staged
    * rename-aside swap) run unchanged against HDFS and against local
    * `file://` in tests. Their correctness rests on rename atomicity, not
    * on any POSIX behavior (see [[graft.DirSwap]] for object stores). */
  private def stateFs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  final case class Config(
      watermark: String = "10 minutes",
      triggerInterval: String = "30 seconds",
      partitionBy: Seq[String] = Seq("sensor_type"),
      checkpointDir: String = "/tmp/graft-checkpoints",
      // backfill mode: process everything available, then stop — the
      // catch-up trigger for reprocessing a backlog with the same
      // pipeline + checkpoint (resumes incrementally on the next run)
      availableNow: Boolean = false)

  /** Kafka source plan (S1) — exactly the reference's options
    * (spark_streaming.py:79-87) plus the backpressure lever the reference
    * lacked: `maxOffsetsPerTrigger` caps records per micro-batch so a
    * restart after downtime drains the backlog at a bounded rate instead
    * of materializing one giant catch-up batch (the usual
    * restart-OOM/SLA failure at production volume). Not startable in the
    * sandbox; the plan shape is what tests assert. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "latest",
                  maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "false")
    maxOffsetsPerTrigger.fold(r)(n =>
      r.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** File-based source standing in for Kafka in tests: a directory of text
    * files, one JSON event per line, payload column named `value` like
    * Kafka's. `maxFilesPerTrigger` is the file-source form of the same
    * backpressure cap. */
  def fileSource(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n =>
      r.option("maxFilesPerTrigger", n.toString))
    r.text(dir).withColumnRenamed("value", "payload")
      .withColumn("value", col("payload")).drop("payload")
  }

  /** One-consumption ingest: parse + split happen per micro-batch inside
    * foreachBatch; valid rows append to partitioned parquet Bronze,
    * malformed rows to a JSON dead-letter path. */
  def start(source: DataFrame, schema: StructType, bronzePath: String,
            deadLetterPath: String, cfg: Config = Config()): StreamingQuery = {
    source.writeStream
      .trigger(if (cfg.availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(cfg.triggerInterval))
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val res = JsonIngest.parseAndSplit(batch, "value", schema)
        val valid = res.valid
        valid.write.mode("append")
          .partitionBy(cfg.partitionBy: _*).parquet(bronzePath)
        val dead = res.deadLetter
        if (!dead.isEmpty)
          dead.write.mode("append").json(deadLetterPath)
        ()
      }
      .start()
  }

  /** Stream-static enrichment: join a stream against a batch dimension
    * table. Spark re-plans the static side per micro-batch (so a dim
    * refresh is picked up on the next trigger) and broadcasts it when
    * small — the standard pattern for decorating a 100 TB/day stream with
    * slowly-changing reference data without any stream-side state. */
  def dimEnrich(stream: DataFrame, dim: DataFrame,
                keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Merge one micro-batch's window aggregates into a persistent gold
    * table: (n, sum, min, max) per (window_start, key) are algebraic, so
    * the stored table always equals the batch recomputation over
    * everything processed so far — same values, same column types.
    * The batch's merged id goes into the store's [[BatchLedger]], which
    * makes replays no-ops — foreachBatch is at-least-once, and this is
    * the standard idempotence guard.
    *
    * Each batch row enters as its own one-row aggregate
    * (n=1, sum_v=min_v=max_v=v), so the merge is ONE grouped aggregate
    * over (stored state ∪ batch rows): a single exchange, with the
    * partial aggregate before it collapsing the batch and the state
    * alike. The state is read with the schema this merge writes (see
    * [[mergeSwapState]]), so no job infers it from parquet footers; a
    * merge into an existing store runs two Spark jobs.
    *
    * Scale shape: the stored gold table is (windows × keys) — aggregate-
    * sized, not event-sized. At 100 TB the overwrite would target only
    * the date partitions present in the batch
    * (Warehouse.idempotentPartitionLoad), not the whole table as this
    * single-file path does. */
  def mergeGoldBatch(batch: DataFrame, goldPath: String, batchId: Long,
                     timeCol: String, keys: Seq[String], valueCol: String,
                     windowDuration: String): Unit = {
    val groupCols = ("window_start" +: keys).map(col)
    val v = col(valueCol)
    lazy val rows = batch.select(
      window(col(timeCol), windowDuration).getField("start").as("window_start")
        +: keys.map(col) :+ lit(1L).as("n") :+ v.as("sum_v") :+
        v.as("min_v") :+ v.as("max_v"): _*)
    def fold(df: DataFrame): DataFrame = df.groupBy(groupCols: _*)
      .agg(sum("n").as("n"), sum("sum_v").as("sum_v"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))
    lazy val fresh = fold(rows)
    mergeSwapState(batch.sparkSession, goldPath, batchId, fresh.schema) {
      case Some(state) => fold(state.unionByName(rows))
      case None => fresh
    }
  }

  /** Runtime enforcement of the store-view snapshot contract. Every lazy
    * view over a swap-replaced store ([[tokenBudgetView]],
    * [[dsirWeightsView]], the quantile/EWMA/seasonal/drift views) pins
    * its file listing at read creation and relies on a fold-in-between
    * failing LOUDLY at action time (FileNotFoundException on the
    * swapped-away files) to keep "act before the next fold" enforceable.
    * `spark.sql.files.ignoreMissingFiles=true` converts that loud
    * failure into a silent PARTIAL-snapshot read — a wrong answer
    * instead of an error — so view construction refuses outright under
    * that conf rather than leaving the hazard to scaladoc.
    *
    * Scope: the check runs at view-CONSTRUCTION time against the
    * SESSION conf — the misconfiguration the hazard was filed about.
    * Two bypasses remain the caller's contract (documented, not
    * enforceable from here): a per-read
    * `.option("ignoreMissingFiles", "true")` baked into `stored`'s own
    * reader (invisible to the session conf), and setting the conf
    * AFTER the view is built but before its action (no construction
    * hook can see the future). Both require the caller to explicitly
    * opt into ignoring missing files on a store they were told is
    * swap-replaced. */
  private[graft] def requireLoudMissingFiles(spark: SparkSession,
                                             view: String): Unit = {
    val on = spark.conf.getOption("spark.sql.files.ignoreMissingFiles")
      .exists(_.trim.equalsIgnoreCase("true"))
    if (on) throw new IllegalStateException(
      s"$view: refusing to build a store view while " +
        "spark.sql.files.ignoreMissingFiles=true — a state fold between " +
        "view creation and action would silently read a PARTIAL snapshot " +
        "of the swap-replaced store instead of failing loudly; unset the " +
        "conf (the snapshot contract depends on missing files being an " +
        "error)")
  }

  /** The state store at `storePath`: its ledger, and whether it holds
    * state yet, after the read-side crash-window restore
    * ([[graft.DirSwap.restore]]). Every "is batch `id` merged?" check goes
    * through here. */
  private def openStore(fs: FileSystem,
                        storePath: String): (BatchLedger, Boolean) = {
    val dataDir = new Path(s"$storePath/data")
    val hasState =
      DirSwap.restore(fs, dataDir, new Path(s"$storePath/_prestate"))
    (if (hasState) BatchLedger.load(fs, dataDir) else BatchLedger.empty,
      hasState)
  }

  /** `df` with every column of `schema` cast to the declared type where
    * it differs, so the next read pinned to `schema` matches the files
    * (a decimal sum widens by 10 digits per aggregate otherwise). */
  private def inTypes(df: DataFrame, schema: StructType): DataFrame =
    df.withColumns(df.schema.fields.collect {
      case f if !DataType.equalsStructurally(f.dataType,
          schema(f.name).dataType, ignoreNullability = true) =>
        f.name -> df.col(s"`${f.name}`").cast(schema(f.name).dataType)
    }.toMap)

  /** Crash-safe merge-and-swap shared by the small per-group STATE tables
    * ([[mergeGoldBatch]] aggregates, [[sketchDistinctBatch]] registers, ...):
    * read the current state if any, apply `merge`, stage the result next
    * to the data dir together with the store's [[BatchLedger]] plus this
    * batch, and swap it in ([[graft.DirSwap.swapIn]]).
    *
    * The ledger lives INSIDE the data dir and travels with the swap, so a
    * crash at any point leaves ledger and data consistent: either the old
    * dir (batch absent → replay re-merges from the old state) or the new
    * one (batch present → replay is a no-op). A ledger beside the data
    * could record a merge whose rename never happened — or miss one that
    * did, double-counting the batch on replay. The ledger is one file
    * however many batches were merged, so a merge does a fixed number of
    * file operations.
    *
    * `stateSchema` is the schema of the merge's output, which is also the
    * stored state's: the state is read with it (no footer-inference job
    * per merge) and every merge is written in its types. It is evaluated
    * only after the replay check, so a caller may derive it from a lazily
    * built batch partial. */
  private def mergeSwapState(spark: SparkSession, storePath: String,
                             batchId: Long, stateSchema: => StructType)
      (merge: Option[DataFrame] => DataFrame): Unit = {
    val fs = stateFs(spark, storePath)
    val dataDir = new Path(s"$storePath/data")
    val (merged, hasState) = openStore(fs, storePath)
    if (merged.contains(batchId)) return // replayed batch: already merged
    val pinned = stateSchema
    val existing =
      if (hasState) Some(spark.read.schema(pinned).parquet(dataDir.toString))
      else None
    // stage-and-swap: the merge plan reads dataDir, so materialize it
    // next door before replacing; the ledger goes in BEFORE the swap
    val tmp = new Path(s"$storePath/_stage")
    inTypes(merge(existing), pinned).write.mode("overwrite")
      .parquet(tmp.toString)
    (merged + batchId).save(fs, tmp)
    DirSwap.swapIn(fs, tmp, dataDir, new Path(s"$storePath/_prestate"))
  }

  /** Continuous distinct-count maintenance: per micro-batch, HLL-sketch
    * the batch's `valueCol` per `keys` group and union-merge into a
    * stored sketch table — state is (groups × one lgK-register binary),
    * aggregate-sized, never key-sized. This is the sketch-per-batch
    * pattern that answers any-range distinct queries at 100 TB by merging
    * registers instead of rescanning events; exactly-once via the same
    * ledger+swap as [[mergeGoldBatch]]. Read the estimate with
    * `hll_sketch_estimate(sk)` over the stored table. */
  def sketchDistinctBatch(batch: DataFrame, id: Long, keys: Seq[String],
                          valueCol: String, storePath: String,
                          lgK: Int = 12): Unit = {
    val kcols = keys.map(col)
    lazy val partial = batch.groupBy(kcols: _*)
      .agg(expr(s"hll_sketch_agg($valueCol, $lgK)").as("sk"))
    mergeSwapState(batch.sparkSession, storePath, id, partial.schema) {
      case Some(existing) =>
        // union-merge registers: groups absent from one side pass
        // through; allowDifferentLgConfigK=false pins a uniform lgK
        existing.select(kcols :+ col("sk"): _*)
          .unionByName(partial)
          .groupBy(kcols: _*)
          .agg(expr("hll_union_agg(sk, false)").as("sk"))
      case None => partial
    }
  }

  /** Continuous deterministic-sample maintenance — the streaming twin of
    * the batch `x_uniform_sample_k` query: the k-row uniform sample of
    * EVERYTHING ingested so far, kept incrementally. The sample is the
    * global top-k by md5(id) — a pure function of row identity — so the
    * maintained state equals the batch recomputation over the full
    * history at every point (top-k is associative: top-k(stored ∪
    * top-k(batch)) = top-k(all), after id-dedup), and is identical
    * across engines/partitionings. State is k rows regardless of
    * ingest volume; per batch the work is one TakeOrdered over the
    * batch plus one over 2k rows. Exactly-once via the same ledger+swap
    * as [[mergeGoldBatch]]. */
  def sampleBatch(batch: DataFrame, idCol: String, k: Int,
                  storePath: String, batchId: Long): Unit = {
    // Dedup BEFORE the candidate cut: limit(k) counts ROWS, so a batch
    // with duplicate ids among its top-k hash ranks would waste candidate
    // slots on copies and truncate away distinct ids that belong in the
    // global top-k-over-distinct-union (r15 property counterexample:
    // nine id-0 rows + one id-3 row, k=7 → sample {0} where {0,3} is
    // required). Distinct-first keeps the cut over the id domain the
    // parity contract is stated on.
    lazy val cand = batch.select(col(idCol).cast("string").as("id"))
      .dropDuplicates("id")
      .withColumn("h", md5(col("id").cast("binary")))
      .orderBy("h", "id").limit(k)
    mergeSwapState(batch.sparkSession, storePath, batchId, cand.schema) {
        existingOpt =>
      existingOpt.map(_.unionByName(cand)).getOrElse(cand)
        .dropDuplicates("id")
        .orderBy("h", "id").limit(k)
    }
  }

  /** Continuous per-source budget enforcement — the streaming form of the
    * batch `x_source_cap` sampler: each source keeps ingesting until its
    * `cap` is exhausted, then contributes nothing more. Semantics are
    * ARRIVAL-ORDER (first batches win; within a batch the deterministic
    * md5 rank breaks ties) — deliberately NOT the batch sampler's global
    * md5 order, which no streaming ingest can honor without buffering
    * the whole corpus; replaying the same batch sequence reproduces the
    * identical kept set. State is one (source, kept) row per source;
    * kept rows land hive-partitioned by batch id, so a replayed batch
    * OVERWRITES its own partition (idempotent) and the counts store's
    * batch ledger makes the spend exactly-once — the same two-piece protocol
    * as the span-dedup ingest. */
  def sourceCapBatch(batch: DataFrame, srcCol: String, idCol: String,
                     cap: Long, outPath: String, storePath: String,
                     batchId: Long): Unit = {
    require(cap > 0, s"cap must be > 0, got $cap")
    mergeSwapState(batch.sparkSession, storePath, batchId,
        batch.select(col(srcCol).as("src"), lit(0L).as("kept")).schema) {
        existingOpt =>
      val w = Window.partitionBy(srcCol)
        .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      val ranked = batch.withColumn("_cap_rn", row_number().over(w))
      val budgeted = existingOpt match {
        case Some(prior) =>
          // sources-sized state: always broadcastable
          ranked.join(
              broadcast(prior.select(col("src").as("_cap_src"),
                col("kept").as("_cap_kept"))),
              col(srcCol) === col("_cap_src"), "left")
            .withColumn("_cap_left",
              lit(cap) - coalesce(col("_cap_kept"), lit(0L)))
        case None => ranked.withColumn("_cap_left", lit(cap))
      }
      val kept = budgeted.filter(col("_cap_rn") <= col("_cap_left"))
        .drop("_cap_rn", "_cap_src", "_cap_kept", "_cap_left")
      // idempotent side output: a replayed batch rewrites ITS OWN
      // partition; the ledger prevents double-charging the counts
      kept.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      val keptCounts = kept.groupBy(col(srcCol).as("src"))
        .agg(count(lit(1)).cast("long").as("k_new"))
      existingOpt match {
        case Some(prior) =>
          prior.join(keptCounts, Seq("src"), "full_outer")
            .select(col("src"),
              (coalesce(col("kept"), lit(0L)) +
                coalesce(col("k_new"), lit(0L))).as("kept"))
        case None => keptCounts.withColumnRenamed("k_new", "kept")
      }
    }
  }

  /** Continuous training-shard assignment — the streaming twin of
    * [[graft.ext.Sampling.shardManifest]]: each micro-batch's documents
    * are appended to the shard sequence where the previous batch left
    * off (state = ONE row, the running token total), so a continuously
    * ingested corpus accumulates ready-to-train ≈`tokensPerShard` shards
    * without ever re-manifesting history. Semantics are ARRIVAL-ORDER
    * across batches (no stream can honor a global shuffle order without
    * buffering the corpus — the [[sourceCapBatch]] stance) with the
    * deterministic md5 order within a batch, so replaying the same batch
    * sequence reproduces identical assignments. Manifest rows land
    * hive-partitioned by batch id (a replay overwrites its own
    * partition); the batch ledger makes the offset advance exactly-once. */
  def shardManifestBatch(batch: DataFrame, id: Long, textCol: String,
                         idCol: String, outPath: String,
                         storePath: String, tokensPerShard: Long): Unit = {
    require(tokensPerShard > 0,
      s"tokensPerShard must be > 0, got $tokensPerShard")
    val spark = batch.sparkSession
    import spark.implicits._
    // the state is one running token total, built by this one constructor
    def totalRow(total: Long): DataFrame = Seq(total).toDF("total")
    mergeSwapState(spark, storePath, id, totalRow(0L).schema) {
        existingOpt =>
      val base = existingOpt
        .map(_.select("total").as[Long].head()).getOrElse(0L)
      val keyed = batch.select(col(idCol),
          graft.ext.TextAnalysis.tokenCount(col(textCol)).cast("long")
            .as("tok_n"))
        .withColumn("_mk", graft.ext.Sampling.epochKey(col(idCol), 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // exact integer floor division (same fix as the batch twin): the
        // double form silently diverges from floor(start/tokensPerShard)
        // once the running total passes 2^53
        val manifest = graft.ext.Sampling.startOffsets(keyed, idCol)
          .withColumn("shard_id",
            expr(s"(${base}L + _start) div ${tokensPerShard}L"))
          .select(col(idCol), col("tok_n"), col("shard_id"))
        manifest.write.mode("overwrite")
          .parquet(s"$outPath/batch_id=$id")
        val batchTokens = keyed.agg(
          coalesce(sum("tok_n"), lit(0L))).as[Long].head()
        totalRow(base + batchTokens)
      } finally { keyed.unpersist(); () }
    }
  }

  /** Continuous frequency maintenance — the heavy-hitter twin of
    * [[sketchDistinctBatch]]: per micro-batch, count-min sketch the batch's
    * `valueCol` per `keys` group with the built-in `count_min_sketch`
    * aggregate and union-merge into a stored sketch table via
    * [[graft.functions.CmsFunctions.cmsMerge]] (Spark ships no SQL merge
    * for CMS binaries). State is (groups × one depth×width register
    * blob) — aggregate-sized; any item's frequency over the whole
    * history reads from the registers, the events themselves are never
    * rescanned. CMS never undercounts and overshoots by at most eps·N —
    * the guarantee that makes it the standard "which values are hot"
    * state at 100 TB. Exactly-once via the same ledger+swap as
    * [[mergeGoldBatch]]. */
  def cmsFrequencyBatch(batch: DataFrame, id: Long, keys: Seq[String],
                        valueCol: String, storePath: String,
                        eps: Double = 1e-4, confidence: Double = 0.99,
                        seed: Int = 42): Unit = {
    val kcols = keys.map(col)
    // pin the sketch's key domain to STRINGS: the built-in aggregate
    // hashes longs and strings differently, and the [[cmsEstimates]]
    // probe always hashes string bytes — a sketch built over a raw
    // BIGINT column would answer every probe with ~0, silently.
    // The domain is VERSIONED into the store (`cms_key_domain`):
    // merging string-keyed partials into a store built under a
    // different hash domain would leave the old counts in the
    // registers but unreachable by the string probe — a silent
    // undercount, so a store under any other domain fails loudly.
    lazy val partial = batch.groupBy(kcols: _*)
      .agg(expr(s"count_min_sketch(CAST($valueCol AS STRING), ${eps}d, ${confidence}d, $seed)")
        .as("sk"))
      .withColumn("cms_key_domain", lit(CmsKeyDomain))
    mergeSwapState(batch.sparkSession, storePath, id, partial.schema) {
      case Some(existing) =>
        // value check is one limit(1) read of a groups-sized store; a
        // store written before the column existed reads it as NULL
        val dom = existing.select("cms_key_domain").limit(1).collect()
          .map(_.getString(0))
        if (dom.nonEmpty && dom(0) != CmsKeyDomain)
          throw new IllegalStateException(
            s"cmsFrequencyBatch store at $storePath was built under " +
              Option(dom(0)).fold("no recorded key domain")(d =>
                s"key domain '$d'") +
              s", this build probes '$CmsKeyDomain' — merged estimates " +
              "would silently undercount. Rebuild the store.")
        existing.select(kcols ++ Seq(col("sk"), col("cms_key_domain")): _*)
          .unionByName(partial)
          .groupBy(kcols: _*)
          .agg(graft.functions.CmsFunctions.cmsMerge(col("sk")).as("sk"),
            first(col("cms_key_domain")).as("cms_key_domain"))
      case None => partial
    }
  }

  /** Frequency estimates from a [[cmsFrequencyBatch]] store: one row per
    * (key-tuple, item) probe with the register-read estimate, shaped
    * (keys..., item, est_n) — the key columns keep their store names and
    * types, so multi-key stores need no label parsing. The store is
    * groups-sized and the probe list is small, so the sketches collect
    * to the driver like any aggregate result — the events never move. */
  def cmsEstimates(stored: DataFrame, keys: Seq[String],
                   items: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = stored.sparkSession
    // the key columns ride through VERBATIM (original names and types):
    // any joined-label encoding needs a separator guaranteed absent from
    // the data, which no separator is -- returning the columns themselves
    // sidesteps the contract question entirely and keeps multi-key
    // consumers joinable against the source frame.
    val keyFields = stored.select(keys.map(col): _*).schema.fields
    val rows = stored.select(keys.map(col) :+ col("sk"): _*).collect()
    val out = rows.flatMap { r =>
      val sk = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(
          r.getAs[Array[Byte]]("sk")))
      items.map(i =>
        Row.fromSeq(keys.indices.map(r.get) ++ Seq(i, sk.estimateCount(i))))
    }
    val schema = StructType(keyFields ++ Seq(
      StructField("item", StringType, nullable = false),
      StructField("est_n", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** Continuous distribution maintenance — the quantile member of the
    * mergeable-state family ([[sketchDistinctBatch]] = HLL distinct,
    * [[cmsFrequencyBatch]] = CMS frequency, this = GK distribution): per
    * micro-batch, build a [[graft.functions.QuantileSketchAgg]] partial
    * per `keys` group and union-merge it into the stored blob via
    * [[graft.functions.QuantileFunctions.quantileSketchMerge]]. State is
    * (groups × one O(1/ε·log εn) summary) — aggregate-sized; any
    * percentile of the whole history reads from the summary
    * ([[quantileStateView]]), the events themselves are never rescanned.
    * Exactly-once via the same ledger+swap as [[mergeGoldBatch]]. */
  def quantileStateBatch(batch: DataFrame, id: Long, keys: Seq[String],
                         valueCol: String, storePath: String,
                         relativeError: Double = 0.001): Unit = {
    val kcols = keys.map(col)
    lazy val partial = quantilePartial(batch, keys, valueCol, relativeError)
    mergeSwapState(batch.sparkSession, storePath, id, partial.schema) {
      case Some(existing) =>
        existing.select(kcols :+ col("sk"): _*)
          .unionByName(partial)
          .groupBy(kcols: _*)
          .agg(graft.functions.QuantileFunctions
            .quantileSketchMerge(col("sk")).as("sk"))
      case None => partial
    }
  }

  /** The GK-sketch partial [[quantileStateBatch]] folds in; its schema
    * is the store's. */
  private def quantilePartial(batch: DataFrame, keys: Seq[String],
                              valueCol: String,
                              relativeError: Double): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(graft.functions.QuantileFunctions
        .quantileSketch(col(valueCol), relativeError).as("sk"))

  /** Continuous per-source ADAPTIVE quality gating — the streaming twin
    * of [[graft.ext.Curate.adaptiveQualityGate]]: each micro-batch is
    * gated at the HISTORICAL per-source `pct` quantile read from a
    * [[quantileStateBatch]] GK store, then the batch's scores (kept AND
    * dropped) fold into the store for the next batch. Folding the full
    * offered distribution — not the survivors — is what keeps the gate
    * stable: a survivors-only fold would ratchet the cutoff upward every
    * batch (the p25 of an already-gated population keeps climbing), a
    * feedback loop that eventually drops everything. Sources with no
    * history yet (cold start) keep everything — a gate with no baseline
    * must not guess.
    *
    * Exactly-once: the quantile store's batch ledger doubles as the
    * COMMIT record for the gated output. A replay of a fully-processed
    * batch returns before touching the output (re-gating it against the
    * now-updated store would select a different set); a crash after the
    * output write but before the fold replays the gate against the same
    * pre-batch store and rewrites the identical partition. */
  def adaptiveGateBatch(batch: DataFrame, id: Long, srcCol: String,
                        textCol: String, outPath: String,
                        storePath: String, pct: Double = 0.25,
                        relativeError: Double = 0.001): Unit = {
    val spark = batch.sparkSession
    // the store's ledger is the batch's commit record: a completed batch
    // must NOT re-gate against the post-fold store (different cutoffs →
    // different output than originally published). openStore also runs
    // the crash-window restore, so a gate read in the rename-aside window
    // sees the authoritative store.
    val (merged, hasStore) = openStore(stateFs(spark, storePath), storePath)
    if (merged.contains(id)) return
    val scored = batch.withColumn("quality",
      round(graft.ext.TextAnalysis.qualityScore(col(textCol)) + lit(1e-9),
        4))
    val kept =
      if (hasStore) {
        val stored = spark.read.schema(quantilePartial(scored, Seq(srcCol),
          "quality", relativeError).schema).parquet(s"$storePath/data")
        val cuts = quantileStateView(stored, Seq(srcCol), Seq(pct))
          .select(col(srcCol),
            round(element_at(col("quantiles"), 1) + lit(1e-9), 4)
              .as("_cut"))
        scored.join(broadcast(cuts), Seq(srcCol), "left")
          .filter(col("_cut").isNull || col("quality") >= col("_cut"))
          .drop("_cut")
      } else scored
    kept.write.mode("overwrite").parquet(s"$outPath/batch_id=$id")
    quantileStateBatch(scored, id, Seq(srcCol), "quality", storePath,
      relativeError)
  }

  /** Continuous whitening-fit maintenance: the embedding moment cells
    * (n, Σx per dim, Σ xᵢxⱼ — see [[graft.ext.Whiten.momentCells]]) are
    * purely ADDITIVE, so each micro-batch's partial folds into the
    * stored cells with one cell-wise sum and the state always equals
    * the full-corpus recompute exactly (algebraic, like the gold
    * moments). State is d²+d+1 doubles TOTAL; read the whitener or
    * Mahalanobis fit at any time via [[embeddingMomentsView]] without
    * rescanning a single embedding. Exactly-once via ledger+swap. */
  def embeddingMomentsBatch(batch: DataFrame, id: Long, vecCol: String,
                            storePath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // the state is (cell index, moment sum) rows, built by this one
    // constructor
    def cellFrame(cells: Seq[(Int, Double)]): DataFrame = cells.toDF("k", "s")
    mergeSwapState(spark, storePath, id, cellFrame(Nil).schema) {
        existingOpt =>
      // the partial is d²+d+1 cells TOTAL — collect it ONCE and rebuild
      // a local frame for the merge/write, so each micro-batch's
      // embeddings are aggregated exactly once (a lazy `partial` would
      // re-trigger the full aggregation when the merged result is
      // written, scanning the batch twice per micro-batch)
      val cells = graft.ext.Whiten.momentCells(batch, vecCol)
        .select(col("k").cast("int"), col("s").cast("double"))
        .as[(Int, Double)].collect()
      val partial = cellFrame(cells.toSeq)
      existingOpt match {
        case Some(existing) =>
          // cell-count equality IS the dimension check: summing a
          // d'=32 batch into a d=64 layout would land its count cell
          // inside the outer-product block and silently corrupt every
          // fit read from the store — the same invariant VectorMoments
          // enforces within a batch, enforced here across batches
          // (both frames are d²+d+1 rows, so the counts are free)
          val nE = existing.count()
          // nE == 0: the store was created by an EMPTY first micro-batch
          // (zero moment cells — a routine trigger-with-no-data event,
          // not a dimension change), so the first real batch seeds the
          // layout instead of tripping the dimension check and wedging
          // the stream permanently
          require(cells.isEmpty || nE == 0L || nE == cells.length,
            s"embedding dimension changed across batches: state has $nE " +
              s"moment cells, batch produced ${cells.length}")
          if (cells.isEmpty) existing
          else if (nE == 0L) partial
          else existing.unionByName(partial)
            .groupBy("k").agg(sum("s").as("s"))
        case None => partial
      }
    }
  }

  /** Decode an [[embeddingMomentsBatch]] store into (n, mean, covariance) —
    * a d²-cell driver read, never an embedding rescan. */
  def embeddingMomentsView(stored: DataFrame): (Long, Array[Double], breeze.linalg.DenseMatrix[Double]) =
    graft.ext.Whiten.decodeCells(
      stored.orderBy("k").collect().map(_.getDouble(1)))

  /** Continuous cluster maintenance — the cluster-layer member of the
    * incremental-ingest family: each micro-batch of near-dup EDGES
    * (from the minhash/simhash/semantic detectors) folds into a
    * persistent (id, cluster_id) assignment via
    * [[graft.ext.Graph.incrementalConnectedComponents]], so "which docs
    * are the same" stays current without ever re-running CC over the
    * full historical edge set — only components a new edge touches
    * relabel. State is nodes-sized (two longs per doc ever seen in an
    * edge); the edges themselves are never stored. Exactly-once via the
    * same ledger+swap as [[mergeGoldBatch]]. */
  def ccIngestBatch(batch: DataFrame, id: Long, srcCol: String,
                    dstCol: String, storePath: String): Unit = {
    mergeSwapState(batch.sparkSession, storePath, id,
        graft.ext.Graph.AssignmentSchema) {
      case Some(existing) => graft.ext.Graph
        .incrementalConnectedComponents(existing, batch, srcCol, dstCol)
      case None => graft.ext.Graph
        .connectedComponents(batch, srcCol, dstCol)
    }
  }

  /** Continuous keep-best-per-cluster dedup — the streaming twin of
    * [[graft.ext.Curate.keepBestPerCluster]], closing the cluster-layer
    * ingest family ([[ccIngestBatch]] maintains WHICH docs are the same;
    * this maintains which copy the corpus KEEPS): per micro-batch, each
    * cluster's champion row (4-dp-rounded quality DESC, id ASC — ids
    * unique per doc, the standard corpus contract) folds into a stored
    * per-cluster best table. Best-by-a-total-order is associative, so
    * the state always equals the batch operator over the full
    * concatenated history EXACTLY (split-invariant; property-tested),
    * and a batch-only form would instead pay a full-history recompute
    * at every ingest. The batch reduces to its own per-cluster
    * champions FIRST, so the state merge ranks state ∪ batch-champions
    * — never state ∪ raw batch. State is clusters-sized (one row per
    * cluster ever seen); at 100 TB the store becomes a partitioned
    * table merged on the clusters the batch touches, exactly like the
    * gold-state note on [[mergeGoldBatch]]. Exactly-once via the same
    * ledger+swap. */
  def keepBestBatch(batch: DataFrame, id: Long, clusterCol: String,
                    textCol: String, idCol: String,
                    storePath: String): Unit = {
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col("quality").desc, col(idCol).asc)
    def champions(df: DataFrame): DataFrame =
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    lazy val batchBest = champions(batch
      .select(col(clusterCol), col(idCol), col(textCol))
      .withColumn("quality",
        round(graft.ext.TextAnalysis.qualityScore(col(textCol))
          + lit(1e-9), 4)))
    mergeSwapState(batch.sparkSession, storePath, id, batchBest.schema) {
      case Some(existing) => champions(existing.unionByName(batchBest))
      case None => batchBest
    }
  }

  /** Continuous token-budget corpus selection — the streaming twin of
    * [[graft.ext.Sampling.tokenBudgetSelect]]: each micro-batch's
    * documents are scored ONCE at arrival into the narrow
    * (id, tok_n, 4-dp-quality) projection and folded into a stored
    * index; [[tokenBudgetView]] replays the exact two-level selection
    * kernel over the index at read time.
    *
    * Why the state is the scored index and NOT the kept set: the budget
    * is a FRACTION of the running corpus token total, so the kept set is
    * not monotone — a document outside today's budget re-enters whenever
    * the budget grows faster than better documents arrive (e.g. a batch
    * of low-quality docs raises the budget without raising the cutoff).
    * Keeping only survivors would lose those readmission candidates
    * forever; the index keeps every doc's score, sized tens of bytes per
    * document ever seen — the same docs-sized-state stance as the
    * fingerprint/signature dedup indices, and the expensive part
    * (tokenize + quality-score the text) is still paid exactly once per
    * document. The fold is a union of first-arrival rows (an id already
    * in the index folds as a no-op — per-document idempotence, see
    * below), so the view over any batch split
    * equals [[graft.ext.Sampling.tokenBudgetSelect]] over the
    * concatenated history EXACTLY (split-invariant; property-tested).
    * Exactly-once via the same ledger+swap.
    *
    * The fold is per-DOCUMENT idempotent, not just per-batch: the ledger
    * suppresses replays of the same batch id, and the anti-join below
    * additionally drops index rows whose doc id is already present — so an
    * at-least-once source re-delivering a document under a NEW batch id (e.g.
    * after checkpoint loss) folds as a no-op instead of double-counting its
    * tokens in the budget and in cum_tokens forever (first-arrival score wins,
    * matching the sibling dedup/keep-best ingest stores). Distinct-id rows
    * still fold as a pure union, so the view over any batch split equals the
    * batch operator over the first-arrival-deduped history exactly. */
  def tokenBudgetIngestBatch(batch: DataFrame, id: Long, textCol: String,
                             idCol: String, storePath: String): Unit = {
    // an empty batch scores to an empty projection DERIVED from the
    // input, so the id column keeps its real type (the shardManifest
    // empty-frame lesson: fabricated literals would land a
    // wrongly-typed parquet partition)
    lazy val raw = graft.ext.Sampling.tokenBudgetScore(batch, textCol, idCol)
    // in-batch dedup FIRST: a duplicate id arriving twice within one
    // micro-batch (producer-retry duplicates adjacent in the log)
    // would bypass the store anti-join below — both rows are absent
    // from `existing` — and double-count forever. The reduction is
    // the deterministic min-(tok_n, _rqi) representative per id:
    // identity for true re-deliveries (identical scored rows), a
    // stable pick for conflicting payloads (same stance as the
    // semantic-dedup ingest's in-batch pass).
    lazy val scored = raw.groupBy(col(idCol))
      .agg(min(struct(col("tok_n"), col("_rqi"))).as("_m"))
      .select(col(idCol), col("_m.tok_n").as("tok_n"),
        col("_m._rqi").as("_rqi"))
    mergeSwapState(batch.sparkSession, storePath, id, scored.schema) {
      case Some(existing) => existing.unionByName(
        scored.join(existing.select(col(idCol)), Seq(idCol), "left_anti"))
      case None => scored
    }
  }

  /** The current selection from a [[tokenBudgetIngestBatch]] store:
    * identical columns and rows to running the batch operator over
    * every document streamed so far. The store read stays UNCACHED
    * (`cacheInput = false`): every fold swap-replaces the store
    * directory, and Spark's cache manager matches plans by path — a
    * persisted read here would pin the pre-swap contents for every
    * later view call and for the ingest's own state-merge reads.
    *
    * Snapshot contract: ACT on the returned frame before the next fold.
    * The kernel freezes its offset table driver-side at call time while
    * the final window runs at the caller's action; `stored`'s file
    * listing is pinned at read creation, so a fold in between makes the
    * action fail loudly on the swapped-away files (FileNotFound) rather
    * than mix corpus states. `spark.sql.files.ignoreMissingFiles=true`
    * would turn that loud failure into a silent partial-snapshot read,
    * so the view REFUSES to build under it
    * ([[requireLoudMissingFiles]] — enforced, not just documented).
    * Same single-writer, read-between-folds stance as every other store
    * view here. */
  def tokenBudgetView(stored: DataFrame, idCol: String, budgetFrac: Double,
                      maxBucketRows: Long = 4000000L): DataFrame = {
    requireLoudMissingFiles(stored.sparkSession, "tokenBudgetView")
    graft.ext.Sampling.tokenBudgetSelectScored(stored, idCol, budgetFrac,
      maxBucketRows, cacheInput = false)
  }

  /** Continuous DSIR weight maintenance — the streaming twin of
    * [[graft.ext.Sampling.dsirWeights]]: each micro-batch's hashed-ngram
    * bucket counts (target-predicate rows and all rows) fold ADDITIVELY
    * into a stored (bucket, ct, cr) table, so the importance-ratio model
    * tracks the evolving corpus without ever rescanning it. Counting is
    * algebraic, so the state always equals the full-corpus recompute
    * exactly; state is ≤numBuckets rows TOTAL. Read the weight table at
    * any time via [[dsirWeightsView]]. Exactly-once via ledger+swap. */
  def dsirCountsBatch(batch: DataFrame, id: Long, textCol: String,
                      targetPred: org.apache.spark.sql.Column,
                      numBuckets: Int, storePath: String): Unit = {
    lazy val partial = graft.ext.Par.fanOut(batch)
      .select(targetPred.cast("long").as("t"),
        explode(graft.ext.Sampling
          .dsirFeatures(col(textCol), numBuckets)).as("bucket"))
      .groupBy("bucket")
      .agg(sum("t").as("ct"), count(lit(1)).as("cr"))
    mergeSwapState(batch.sparkSession, storePath, id, partial.schema) {
      case Some(existing) =>
        existing.unionByName(partial).groupBy("bucket")
          .agg(sum("ct").as("ct"), sum("cr").as("cr"))
      case None => partial
    }
  }

  /** Smoothed log importance-ratio table from a [[dsirCountsBatch]] store:
    * (bucket, lw) over ALL `numBuckets` buckets — identical to
    * [[graft.ext.Sampling.dsirWeights]] over the corpus streamed so far
    * (target = rows matching the predicate, raw = all rows). Feed it to
    * `Sampling.dsirScore` unchanged. */
  def dsirWeightsView(stored: DataFrame, numBuckets: Int,
                      alpha: Double = 1.0): DataFrame = {
    requireLoudMissingFiles(stored.sparkSession, "dsirWeightsView")
    val spark = stored.sparkSession
    val all = spark.range(numBuckets).select(col("id").as("bucket"))
    val tot = stored.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val fln = org.apache.spark.sql.functions.log(_: org.apache.spark.sql.Column)
    all.join(stored, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        (fln((coalesce(col("ct"), lit(0L)) + lit(alpha)) /
          (coalesce(col("tt"), lit(0L)) + lit(alpha * numBuckets)))
          - fln((coalesce(col("cr"), lit(0L)) + lit(alpha)) /
          (coalesce(col("tr"), lit(0L)) + lit(alpha * numBuckets)))).as("lw"))
  }

  /** Continuous Kneser–Ney model maintenance — the streaming twin of
    * [[graft.ext.Lm.knBigramTrain]]: per micro-batch, bigram and unigram
    * type counts fold ADDITIVELY into one stored (k, kind, c) table, so
    * the perplexity filter's model tracks the evolving corpus without
    * rescanning it. State is vocabulary-bounded (bigram types + unigram
    * types); counting is algebraic, so [[knModelView]] over the store is
    * EXACTLY the batch model over the corpus streamed so far.
    * Exactly-once via ledger+swap. */
  def knCountsBatch(batch: DataFrame, id: Long, textCol: String,
                    storePath: String): Unit = {
    lazy val partial = {
      val toks = graft.ext.Par.fanOut(batch)
        .select(graft.ext.TextAnalysis.tokens(col(textCol)).as("toks"))
      val bg = toks
        .select(explode(graft.ext.TextAnalysis
          .shinglesFromTokens(col("toks"), 2)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .withColumn("kind", lit("bg"))
      val uni = toks.select(explode(col("toks")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .withColumn("kind", lit("uni"))
      bg.unionByName(uni)
    }
    mergeSwapState(batch.sparkSession, storePath, id, partial.schema) {
      case Some(existing) =>
        existing.unionByName(partial).groupBy("k", "kind")
          .agg(sum("c").as("c"))
      case None => partial
    }
  }

  /** Rebuild the [[graft.ext.Lm.KnModel]] tables from a [[knCountsBatch]]
    * store — every table is an aggregate of the stored TYPE counts
    * (vocabulary-bounded), identical to `knBigramTrain` over the full
    * streamed corpus; feed it to `Lm.knScore` unchanged. */
  def knModelView(stored: DataFrame): graft.ext.Lm.KnModel = {
    // lazy view over a swap-replaced store (the KnModel's frames
    // evaluate at the caller's knScore action) — same snapshot contract
    // as the other store views, so same guard
    requireLoudMissingFiles(stored.sparkSession, "knModelView")
    // NO persist here (the tokenBudgetView lesson): `stored` is a path
    // read of a store directory every fold swap-replaces, and the cache
    // manager matches plans by path — a persisted view would serve the
    // PRE-swap model to every later knModelView call. The store is
    // vocabulary-sized; the extra scans per consumer are cheap.
    val bigrams = stored.filter(col("kind") === "bg")
      .select(split(col("k"), " ").getItem(0).as("w1"),
        split(col("k"), " ").getItem(1).as("w2"), col("c").as("c2"))
    val hist = bigrams.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1p_fwd"))
    val cont = bigrams.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
    // distinct unigram count = the stored uni-row count (types, not mass)
    val vocab = stored.filter(col("kind") === "uni")
      .agg(count(lit(1)).as("vv"))
    val totals = bigrams.agg(count(lit(1)).as("tt")).crossJoin(broadcast(vocab))
    graft.ext.Lm.KnModel(bigrams, hist, cont, totals)
  }

  /** Robust-outlier baseline from a [[quantileStateBatch]] store: per key,
    * the median and the IQR-derived robust sigma (IQR/1.349 — the
    * normal-consistent spread estimate with a 25% breakdown point, where
    * a mean/stddev baseline is dragged by the outliers it monitors).
    * This is the STREAMING twin of `a_mad_robust_outliers`: the exact
    * MAD needs a second pass over deviations (a moving target as the
    * median updates), so continuous monitoring uses the one-sketch IQR
    * form — derived entirely from the stored GK registers, no event
    * rescan. Returns (keys..., med, iqr, sigma_robust); flag a new batch
    * with [[robustFlag]]. */
  def robustOutlierView(stored: DataFrame, keys: Seq[String]): DataFrame =
    quantileStateView(stored, keys, Seq(0.25, 0.5, 0.75))
      .select(keys.map(col) :+
        col("quantiles").getItem(1).as("med") :+
        (col("quantiles").getItem(2) - col("quantiles").getItem(0)).as("iqr"): _*)
      .withColumn("sigma_robust", col("iqr") / 1.349)

  /** Flag a batch of values against a [[robustOutlierView]] baseline:
    * LEFT broadcast-join the groups-sized baseline,
    * |v − med| / σ_robust > t. Zero-IQR keys (constant history) flag any
    * deviation. Keys with NO stored history — the most anomalous case a
    * monitor can see — must not vanish in the join: they come back with
    * `has_baseline = false` and `outlier = true` (alert-on-unknown; a
    * caller preferring to quarantine instead filters on the flag). */
  def robustFlag(batch: DataFrame, baseline: DataFrame, keys: Seq[String],
                 valueCol: String, threshold: Double = 3.5): DataFrame =
    batch.join(broadcast(baseline), keys, "left")
      .withColumn("has_baseline", col("med").isNotNull)
      // a NULL measurement has no z-score — but it must still ALERT
      // (alert-on-unknown, same stance as the missing-baseline case):
      // without the explicit branch, null arithmetic would make both
      // robust_z and `outlier` null, a row that neither flags nor passes
      .withColumn("robust_z",
        when(!col("has_baseline") || col(valueCol).isNull,
          lit(null).cast("double"))
          .otherwise(when(col("sigma_robust") > 0,
            (col(valueCol) - col("med")) / col("sigma_robust"))
            .otherwise(when(col(valueCol) === col("med"), lit(0.0))
              .otherwise(lit(Double.PositiveInfinity)))))
      .withColumn("outlier",
        when(!col("has_baseline") || col(valueCol).isNull, lit(true))
          .otherwise(abs(col("robust_z")) > threshold))

  /** Percentile read over a [[quantileStateBatch]] store: one row per group
    * with the requested quantiles as array<double> — a distributed
    * scalar read of the groups-sized state, no driver collect and no
    * event rescan. */
  def quantileStateView(stored: DataFrame, keys: Seq[String],
                        percentages: Seq[Double]): DataFrame = {
    requireLoudMissingFiles(stored.sparkSession, "quantileStateView")
    stored.select(keys.map(col) :+
      graft.functions.QuantileFunctions
        .quantileSketchQuery(col("sk"), percentages).as("quantiles"): _*)
  }

  /** Continuous EWMA gold: the per-(key, day) average series behind the
    * batch `a_ewma_daily` query, kept incrementally as algebraic
    * (n, Σv) day-level state under the same ledger+swap exactly-once
    * protocol as [[mergeGoldBatch]]. The EWMA itself is a READ-time fold
    * over the stored day aggregates ([[ewmaDailyView]]) — the recursion
    * is not mergeable, but its day-average input is, so state stays
    * aggregate-sized (keys × days) and the view over it always equals
    * the batch recomputation over everything processed so far. */
  def ewmaGoldBatch(batch: DataFrame, id: Long, storePath: String,
                    timeCol: String, keys: Seq[String],
                    valueCol: String): Unit = {
    val gb = (keys :+ "day").map(col)
    // n counts NON-NULL values (not rows): sum() skips NULLs, so a
    // count(1) row count would inflate the denominator and diverge
    // from the batch AVG the read-time view claims parity with.
    lazy val partial = batch.withColumn("day", to_date(col(timeCol)))
      .groupBy(gb: _*)
      .agg(count(col(valueCol)).as("n"), sum(col(valueCol)).as("sum_v"))
    mergeSwapState(batch.sparkSession, storePath, id, partial.schema) {
      case Some(existing) =>
        existing.unionByName(partial).groupBy(gb: _*)
          .agg(sum("n").as("n"), sum("sum_v").as("sum_v"))
      case None => partial
    }
  }

  /** Read-time EWMA over [[ewmaGoldBatch]] state: identical fold to the
    * batch `a_ewma_daily` shape — per-day averages rounded to 4 decimals
    * BEFORE the recursion, a `windowDays`-bounded frame seeded by its
    * oldest value — so incremental matches the batch recompute after the
    * rounding. (Cross-batch partial sums can differ from a single-scan
    * sum by final-ULP floating-point error; the pre-fold rounding is
    * what absorbs it, except for averages landing within one ULP of a
    * rounding boundary.) */
  def ewmaDailyView(stored: DataFrame, keys: Seq[String],
                    alpha: Double = 0.5, windowDays: Int = 10): DataFrame = {
    requireLoudMissingFiles(stored.sparkSession, "ewmaDailyView")
    val w = Window.partitionBy(keys.map(col): _*).orderBy("day")
      .rowsBetween(-(windowDays - 1), Window.currentRow)
    stored
      .withColumn("v", round(col("sum_v") / col("n") + lit(1e-9), 4))
      .withColumn("lv", collect_list(col("v")).over(w))
      .select(keys.map(col) :+ col("day") :+
        round(aggregate(
          slice(col("lv"), lit(2), greatest(size(col("lv")) - 1, lit(0))),
          element_at(col("lv"), 1),
          (a, x) => a * lit(1 - alpha) + x * lit(alpha)) + lit(1e-9), 4)
          .as("ewma"): _*)
  }

  /** Continuous seasonal baseline: the per-(key, hour-of-day) diurnal
    * mean/stddev profile behind the batch `a_seasonal_anomalies` query,
    * kept incrementally as algebraic moments (n, Σv, Σv²) under the
    * ledger+swap protocol. State is (keys × 24) rows at any corpus size;
    * [[seasonalBaselineView]] turns the moments into the m/sd baseline
    * new batches score z-values against. */
  def seasonalBaselineBatch(batch: DataFrame, id: Long, storePath: String,
                            timeCol: String, keys: Seq[String],
                            valueCol: String): Unit = {
    val gb = (keys :+ "hod").map(col)
    // n = non-null count, matching AVG/STDDEV_SAMP denominators (the
    // moment sums already skip NULLs natively).
    lazy val partial = batch.withColumn("hod", hour(col(timeCol)))
      .groupBy(gb: _*)
      .agg(count(col(valueCol)).as("n"), sum(col(valueCol)).as("sum_v"),
        sum(col(valueCol) * col(valueCol)).as("sum_sq"))
    mergeSwapState(batch.sparkSession, storePath, id, partial.schema) {
      case Some(existing) =>
        existing.unionByName(partial).groupBy(gb: _*)
          .agg(sum("n").as("n"), sum("sum_v").as("sum_v"),
            sum("sum_sq").as("sum_sq"))
      case None => partial
    }
  }

  /** Mean + sample stddev from [[seasonalBaselineBatch]] moments:
    * sd² = (Σv² − (Σv)²/n)/(n−1), clamped at 0 against FP cancellation;
    * sd is NULL for single-observation groups (like stddev_samp). */
  def seasonalBaselineView(stored: DataFrame): DataFrame = {
    requireLoudMissingFiles(stored.sparkSession, "seasonalBaselineView")
    stored
      .withColumn("m", col("sum_v") / col("n"))
      .withColumn("sd", when(col("n") > 1,
        sqrt(greatest(
          (col("sum_sq") - col("sum_v") * col("sum_v") / col("n"))
            / (col("n") - lit(1)), lit(0.0)))))
  }

  /** Continuous drift monitoring at ingest: per micro-batch, score the
    * batch's `valueCol` distribution against a STORED reference
    * histogram ([[graft.monitoring.Drift.referenceHistogram]], computed
    * once at validation time) and append one score row per group to a
    * persistent drift series — (batch_id, group..., n_ref, n_cur, psi).
    * [[driftSeriesView]] adapts the store to the long-format series
    * [[graft.monitoring.Alerts.driftRules]] evaluates with the
    * pending→firing lifecycle and
    * [[graft.monitoring.Prometheus.renderDrift]] exposes — the full
    * score→rule→exposition path in the streaming shape.
    *
    * Scale shape: the reference is bucket COUNTS (broadcast-sized), so
    * each batch pays one aggregation over its own rows — the validation
    * slice is never rescanned — and the stored series is
    * (batches × groups) rows. Ledger+swap replay idempotence like
    * [[mergeGoldBatch]]: foreachBatch is at-least-once, and a replayed
    * batch must not append its score twice (a duplicated row would
    * stretch a breach streak and mis-fire the `for:` clause). */
  def driftMonitorBatch(batch: DataFrame, id: Long, reference: DataFrame,
                        groupCols: Seq[String], valueCol: String,
                        storePath: String, lo: Double, hi: Double,
                        buckets: Int): Unit = {
    // a group with NO rows this batch (or an empty batch) scores as
    // PSI(reference vs uniform) — absence is a volume signal, not a
    // distribution shift, and appending it would fire psi_drift on two
    // quiet windows; producer_down already owns the no-data alert
    lazy val scored = graft.monitoring.Drift
      .streamingPsi(batch, reference, groupCols, valueCol, lo, hi, buckets)
      .filter(col("n_cur") > 0)
      .select(lit(id).as("batch_id") +: (groupCols.map(col) ++
        Seq(col("n_ref"), col("n_cur"), col("psi"))): _*)
    mergeSwapState(batch.sparkSession, storePath, id, scored.schema) {
      case Some(existing) => existing.unionByName(scored)
      case None           => scored
    }
  }

  /** The embedding twin of [[driftMonitorBatch]]: per micro-batch,
    * cosine between the batch's embedding centroid and a STORED
    * reference centroid ([[graft.monitoring.Drift.referenceCentroid]],
    * one row, broadcast-sized) appended as
    * (batch_id, n, centroid_cosine) — falling cosine = the corpus
    * direction is moving (encoder change, new topic mix, upstream
    * corruption). [[driftSeriesView]] with `metric/valueCol =
    * "centroid_cosine"` feeds the `embedding_drift` rule. Per batch the
    * vectors reduce to per-dim means ((dim, x) narrow rows, nothing
    * quadratic) and one 1×1 cosine; replay-idempotent like every other
    * monitor. */
  def embeddingDriftMonitorBatch(batch: DataFrame, id: Long,
                                 refCentroid: DataFrame, vecCol: String,
                                 storePath: String): Unit = {
    // an empty (or all-null-vector) batch has no centroid — its global
    // aggregate still emits one row (cv = [], n NULL) whose cosine
    // degenerates to 0.0, and appending that would fire the critical
    // embedding_drift rule on two quiet batches; skip it (volume
    // problems are producer_down's alert, not drift's)
    lazy val scored = graft.monitoring.Drift.referenceCentroid(batch, vecCol)
      .filter(col("n").isNotNull && col("n") > 0)
      .select(col("cv").as("bv"), col("n"))
      .crossJoin(broadcast(refCentroid.select(col("cv").as("rv"))))
      .select(lit(id).as("batch_id"), col("n"),
        graft.monitoring.Drift.cosineCol(col("bv"), col("rv"))
          .as("centroid_cosine"))
    mergeSwapState(batch.sparkSession, storePath, id, scored.schema) {
      case Some(existing) => existing.unionByName(scored)
      case None           => scored
    }
  }

  /** Long-format metric view of a [[driftMonitorBatch]] /
    * [[embeddingDriftMonitorBatch]] store — (window_start, metric,
    * value) with batch_id as the window axis; evaluate with
    * `windowSeconds = 1` exactly like
    * [[graft.monitoring.Alerts.evaluateProgress]]. Pass `group` to
    * select one group's series when the monitor was grouped (a mixed
    * multi-group series would interleave streaks); the global monitor
    * (no groupCols) needs no filter. The default metric/valueCol reads
    * a PSI store; pass "centroid_cosine" for an embedding store. */
  def driftSeriesView(stored: DataFrame,
                      group: Seq[(String, String)] = Nil,
                      metric: String = "psi",
                      valueCol: String = "psi"): DataFrame = {
    requireLoudMissingFiles(stored.sparkSession, "driftSeriesView")
    val one = group.foldLeft(stored) { case (df, (c, v)) =>
      df.filter(col(c) === v)
    }
    one.select(to_timestamp(col("batch_id")).as("window_start"),
      lit(metric).as("metric"), col(valueCol).as("value"))
  }

  /** Dedup-at-ingest: each micro-batch is deduped within itself and
    * against the persistent fingerprint index, survivors append to
    * `outPath`, and their fingerprints append to the index — so a
    * document seen in ANY earlier batch (not just inside the watermark
    * horizon, which is `dropDuplicatesWithinWatermark`'s limit) never
    * lands twice. The store's batch ledger makes replays no-ops, as it
    * does for [[mergeGoldBatch]].
    *
    * Scale shape: the index is fingerprint-sized (32 bytes/doc ever
    * ingested), the per-batch work is one window + one anti join keyed on
    * the fingerprint, and the corpus bodies never shuffle. At 100 TB the
    * index read would be a bucketed/bloom-pruned lookup rather than this
    * test path's full parquet read.
    *
    * foreachBatch is at-least-once; every step here must tolerate
    * running twice. */
  def dedupIngestBatch(batch: DataFrame, id: Long, textCol: String,
                       idCol: String, outPath: String,
                       indexPath: String): Unit =
    withBatchIndex(batch.sparkSession, id, outPath, indexPath) { index =>
      val survivors = graft.ext.Dedup
        .incrementalExactDedup(batch, textCol, idCol, index)
      // No caching/checkpoint: recomputing the anti join once more for
      // the index delta is cheaper than leaking persisted blocks across
      // micro-batches.
      (survivors, graft.ext.Dedup.survivorFingerprints(survivors, textCol),
        () => ())
    }

  /** Normalized-dedup-at-ingest — [[dedupIngestBatch]] keyed on the ROBUST
    * fingerprint ([[graft.ext.TextAnalysis.robustFingerprint]]): a
    * case/punctuation/digit/whitespace variant of ANY earlier batch's
    * survivor never lands (the CCNet normalization-dedup stage as a
    * stream). Same crash-safe index protocol as [[dedupIngestBatch]]. */
  def normalizedDedupIngestBatch(batch: DataFrame, id: Long,
                                 textCol: String, idCol: String,
                                 outPath: String,
                                 indexPath: String): Unit =
    withBatchIndex(batch.sparkSession, id, outPath, indexPath) { index =>
      val survivors = graft.ext.Dedup
        .incrementalNormalizedDedup(batch, textCol, idCol, index)
      (survivors,
        graft.ext.Dedup.survivorRobustFingerprints(survivors, textCol),
        () => ())
    }

  /** Span-dedup-at-ingest — the ExactSubstr surgery as a streaming
    * stage: each micro-batch's docs are cleaned of token spans
    * duplicated within the batch or against ANY earlier batch (a
    * persistent gram-hash index), cleaned docs land per-batch in
    * `outPath`, and the batch's distinct gram hashes extend the index.
    * Exactly-once via the same ledger protocol as [[dedupIngestBatch]].
    * Earlier batches' published docs stay as published — boilerplate
    * keeps its first-seen copy; later copies are cut at span
    * granularity.
    *
    * The gram table is computed ONCE per batch and persisted for its duration —
    * it feeds three consumers (duplicate-hash aggregation, mark join, index
    * delta), and the survivors and delta writes are separate actions, so
    * without the persist the tokenize+md5 subtree would re-evaluate per
    * consumer per action. Unpersisted via the afterWrite hook. */
  def spanDedupIngestBatch(batch: DataFrame, id: Long, textCol: String,
                           idCol: String, outPath: String,
                           indexPath: String, k: Int = 5): Unit = {
    // persisted OUTSIDE withBatchIndex and released in a finally: an
    // aborted batch (FS fault mid-write) must not leak cached blocks
    // across replays
    val grams = graft.ext.Dedup
      .tokenGramHashes(batch, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      withBatchIndex(batch.sparkSession, id, outPath, indexPath,
        GramIndex) { index =>
        val cleaned = graft.ext.Dedup
          .incrementalDuplicatedSpansGrams(batch, textCol, idCol, grams,
            index, k)
        // only hashes not already indexed append, so the index stays
        // distinct instead of accumulating one copy per batch that
        // re-encounters the same boilerplate
        val delta = grams.select(col("h")).distinct()
          .join(index.select(col("h")), Seq("h"), "left_anti")
        (cleaned, delta, () => ())
      }
    } finally { grams.unpersist(); () }
  }

  /** The schemas the ingest indexes are read and written in: a batch
    * reads its index pinned (no schema-inference job) and writes its
    * delta in the same types. Ids keep the type of the batch's `idCol`,
    * cells the centroid table's. */
  private val FingerprintIndex = new StructType().add("fingerprint", "string")
  private val GramIndex = new StructType().add("h", "string")
  private def sigIndex(batch: DataFrame, idCol: String) = new StructType()
    .add("id", batch.schema(idCol).dataType).add("sig", "array<bigint>")
  private def cellIndex(batch: DataFrame, idCol: String, cents: DataFrame) =
    new StructType().add("id", batch.schema(idCol).dataType)
      .add("cell", cents.schema("cell").dataType)
  /** [[graft.ext.Similarity.assignCells]] rows. */
  private def ivfIndex(batch: DataFrame, idCol: String, cents: DataFrame) =
    cellIndex(batch, idCol, cents).add("v", "array<double>").add("nrm", "double")
  /** [[graft.ext.Similarity.pqIndex]] rows: id, cell, `m` codes. */
  private def pqIndexSchema(batch: DataFrame, idCol: String,
                            cents: DataFrame, m: Int) =
    (0 until m).foldLeft(cellIndex(batch, idCol, cents))(
      (s, j) => s.add(s"code$j", "int"))

  /** The crash-safe protocol shared by every index-backed ingest path
    * ([[dedupIngestBatch]], [[curateIngestBatch]], ...): ledger no-op,
    * per-batch overwrite of survivors, staged-then-renamed index delta,
    * ledger commit last. The store's [[BatchLedger]] is
    * `$outPath/data/_merged/ledger`. `compute` maps the batch's view of
    * the index (read in `schema`) to (survivors, indexDelta,
    * afterWrite-callback).
    *
    * Ordering invariants, each load-bearing under at-least-once replay:
    *  - This batch's own prior b$id- index-delta files are cleared BEFORE
    *    the index is read: if a crash landed the delta rename but not the
    *    ledger commit, a replay reading the index first would see its own
    *    fingerprints, anti-join itself down to zero survivors, and
    *    overwrite batch_id=$id with an empty dataset — permanent loss.
    *    (spark.read.parquet lists files eagerly, so the deletion
    *    genuinely precedes the read, and the lazy recomputation for the
    *    delta write below can never resurrect the deleted files.)
    *  - Survivors go to a PER-BATCH partition dir with overwrite, so a
    *    replay REPLACES its own output instead of appending a copy.
    *  - The index delta reads idxDir, so it cannot write there directly:
    *    it stages next door, then renames the part files in (task UUIDs
    *    make collisions impossible), prefixed b$id- so a replay can
    *    identify exactly its own files.
    *  - The ledger commit is last; once the batch is in the ledger it is
    *    a no-op forever. A new store commits its empty ledger before its
    *    first partition lands, so no crash leaves partitions without a
    *    ledger (which [[BatchLedger.load]] refuses to read). */
  private def withBatchIndex(spark: SparkSession, id: Long, outPath: String,
                             indexPath: String,
                             schema: StructType = FingerprintIndex)
      (compute: DataFrame => (DataFrame, DataFrame, () => Unit)): Unit =
    withBatchIndexes(spark, id, outPath, Seq(indexPath -> schema)) {
      case Seq(index) =>
        val (survivors, delta, after) = compute(index)
        (survivors, Seq(delta), after)
    }

  /** The multi-index form of the crash-safe protocol — used directly by
    * [[curateFullIngestBatch]], which maintains BOTH the fingerprint and
    * the signature index in one exactly-once batch. Every index gets the
    * treatment [[withBatchIndex]] describes, after [[healIndex]]. */
  private def withBatchIndexes(spark: SparkSession, id: Long,
                               outPath: String,
                               indexes: Seq[(String, StructType)])
      (compute: Seq[DataFrame] => (DataFrame, Seq[DataFrame], () => Unit)): Unit = {
    val outFs = stateFs(spark, outPath)
    val outData = new Path(s"$outPath/data")
    val merged = BatchLedger.load(outFs, outData)
    if (merged.contains(id)) return
    if (merged == BatchLedger.empty) merged.commit(outFs, outData)
    val idxDirs = indexes.map { case (indexPath, _) =>
      val fs = stateFs(spark, indexPath)
      val idxDir = new Path(s"$indexPath/data")
      val exists = healIndex(fs, idxDir, new Path(s"$indexPath/_preidx"))
      if (exists)
        fs.listStatus(idxDir).filter(_.getPath.getName.startsWith(s"b$id-"))
          .foreach(f => { fs.delete(f.getPath, false); () })
      (fs, idxDir, exists)
    }
    val indexDfs = indexes.zip(idxDirs).map {
      case ((_, schema), (_, idxDir, exists)) =>
        if (exists) spark.read.schema(schema).parquet(idxDir.toString)
        else spark.createDataFrame(java.util.List.of[Row](), schema)
    }
    val (survivors, deltas, afterWrite) = compute(indexDfs)
    require(deltas.length == indexes.length,
      s"expected ${indexes.length} index deltas, got ${deltas.length}")
    survivors.write.mode("overwrite").parquet(s"$outData/batch_id=$id")
    indexes.zip(idxDirs).zip(deltas).foreach {
      case (((indexPath, schema), (fs, idxDir, _)), delta) =>
        val stage = new Path(s"$indexPath/_stage_$id")
        inTypes(delta, schema).write.mode("overwrite").parquet(stage.toString)
        fs.mkdirs(idxDir)
        fs.listStatus(stage).filter(_.getPath.getName.startsWith("part-"))
          .foreach { f =>
            // rename failure MUST abort the batch before the ledger
            // commit: FileSystem.rename reports failure by returning
            // false (no exception), and silently proceeding would commit
            // the batch with its index delta lost — every later batch
            // would then miss these fingerprints forever. Task-UUID file
            // names make true collisions impossible, so any false here
            // is an FS fault; the replay re-stages from scratch.
            val dest = new Path(idxDir, s"b$id-${f.getPath.getName}")
            if (!fs.rename(f.getPath, dest))
              throw new java.io.IOException(
                s"index delta: could not promote ${f.getPath} to $dest")
          }
        fs.delete(stage, true); ()
    }
    afterWrite()
    (merged + id).commit(outFs, outData)
  }

  /** CDC materialization — the Debezium/changelog shape: a stream of
    * (keys..., `seqCol`, `opCol` ∈ {upsert, delete}, payload...) rows
    * folds into a stored latest-wins keyed table. Per batch: keep each
    * key's highest-`seqCol` row within the batch, then merge against the
    * stored table by sequence (stored rows win over LATE arrivals — an
    * out-of-order change with a lower sequence than what's applied is
    * correctly ignored; batch wins ties, new info over old). A winning
    * delete is RETAINED as a tombstone row (op column kept in the store),
    * so the lower-sequence guarantee holds for deleted keys too: an
    * out-of-order upsert arriving in a later batch with a sequence below
    * the tombstone's cannot resurrect the key. Read the store through
    * [[cdcLive]] for the live (non-deleted) view. Exactly-once via
    * [[mergeSwapState]]; state is the keyed table itself plus its
    * tombstones — no extra streaming state. (Tombstone retention is what
    * makes out-of-order safety possible; prune tombstones only past the
    * source's max disorder horizon.)
    *
    * The stored table keeps the `opCol`: winning deletes persist as tombstones
    * so their sequence keeps guarding against late lower-sequence upserts. */
  def cdcUpsertBatch(batch: DataFrame, id: Long, keys: Seq[String],
                     seqCol: String, opCol: String,
                     storePath: String): Unit = {
    val kcols = keys.map(col)
    // the store holds the batch's own columns, tombstones included
    mergeSwapState(batch.sparkSession, storePath, id, batch.schema) {
        existingOpt =>
      val wKey = Window.partitionBy(kcols: _*)
        .orderBy(col(seqCol).desc, col(opCol).asc) // delete < upsert lexically; delete wins seq ties within a batch
      val latest = batch.withColumn("_rn", row_number().over(wKey))
        .filter(col("_rn") === 1).drop("_rn")
        .withColumn("_src", lit(1))
      // stored rows carry their real op (tombstones included); batch
      // wins sequence ties — new info over old
      val all = existingOpt.fold(latest)(
        _.withColumn("_src", lit(0)).unionByName(latest))
      val wMerge = Window.partitionBy(kcols: _*)
        .orderBy(col(seqCol).desc, col("_src").desc)
      all.withColumn("_rn", row_number().over(wMerge))
        .filter(col("_rn") === 1)
        .drop("_rn", "_src")
    }
  }

  /** The live view of a [[cdcUpsertBatch]] store: tombstoned keys filtered
    * out, the op column dropped — what a consumer of the materialized
    * table reads. */
  def cdcLive(stored: DataFrame, opCol: String = "op"): DataFrame =
    stored.filter(col(opCol) =!= "delete").drop(opCol)

  /** Compact an ingest index's accumulated per-batch delta files into one
    * generation of `targetFiles` (fingerprints/signatures deduplicated).
    * Thousands of micro-batches leave thousands of tiny b$id- files and
    * the per-batch index read pays a per-file open cost; compaction
    * restores O(targetFiles) reads.
    *
    * Safety gate: REQUIRES every delta's batch to be in the store's
    * batch ledger (the stream quiesced). A crash-window batch — delta
    * renamed, ledger commit missing — relies on clearing its OWN b$id-
    * files on replay ([[withBatchIndex]]); folding those into a
    * compacted file would make the stale fingerprints unremovable and
    * reopen the zero-survivors loss window, so an uncommitted delta
    * aborts the compaction. The swap is rename-aside (backup `_preidx`),
    * and [[withBatchIndex]] restores an interrupted swap before its next
    * read. */
  def compactIngestIndex(spark: SparkSession, outPath: String,
                         indexPath: String, targetFiles: Int = 1,
                         onBeforeSwap: () => Unit = () => (),
                         onAfterAside: () => Unit = () => ()): Unit = {
    val fs = stateFs(spark, indexPath)
    val idxDir = new Path(s"$indexPath/data")
    val backup = new Path(s"$indexPath/_preidx")
    // healed BEFORE the snapshot, so a folded backup's content rides
    // through this compaction (the distinct() below removes stale-copy
    // duplicates)
    if (!healIndex(fs, idxDir, backup)) return
    def parquetNames(dir: Path): Set[String] =
      fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    val snapshot = parquetNames(idxDir)
    if (snapshot.size <= targetFiles) return
    val merged = BatchLedger.load(stateFs(spark, outPath),
      new Path(s"$outPath/data"))
    snapshot.toSeq.flatMap(n => "^b(\\d+)-".r.findFirstMatchIn(n))
      .map(_.group(1).toLong).sorted.find(!merged.contains(_))
      .foreach { id =>
        throw new IllegalStateException(
          s"refusing to compact: batch $id has index deltas but is not in " +
            "the batch ledger (in-flight or crash-window batch; its replay " +
            "must be able to clear its own delta files)")
      }
    val stage = new Path(s"$indexPath/_compact")
    spark.read.parquet(idxDir.toString).distinct()
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(stage.toString)
    // the upfront ledger check is one-shot: a micro-batch could rename a
    // fresh delta into the dir between the snapshot read and the swap.
    // Re-listing AFTER the rename-aside closes the delta-into-old-dir
    // race: any delta that slipped in rides inside `backup`, and on
    // mismatch the backup is restored and the swap aborted — the racing
    // delta SURVIVES. A batch that instead interleaves with the swap
    // itself (reads while the dir is aside, then recreates it) is OUT OF
    // CONTRACT — quiescence is a requirement, the re-list is defense in
    // depth — but even then [[restoreFoldingRacers]] folds the racer's
    // fresh deltas into the restored history rather than stranding the
    // whole index in `_preidx`, so a quiescence violation costs at most
    // re-published duplicates, never the index. `onBeforeSwap` is a test
    // seam for injecting a racing delta into exactly the snapshot→aside
    // window.
    onBeforeSwap()
    // the backup was folded in (or absent) at entry; one REAPPEARING
    // here means another compaction is running — abort rather than
    // delete what might be its authoritative copy
    if (fs.exists(backup))
      throw new IllegalStateException(
        s"refusing to swap: $backup reappeared mid-compaction " +
          "(concurrent compaction?)")
    if (!fs.rename(idxDir, backup))
      throw new java.io.IOException(
        s"index swap: could not move $idxDir aside")
    // second test seam: the window where an out-of-contract micro-batch
    // could recreate the data dir while the index sits in the backup
    onAfterAside()
    val now = parquetNames(backup)
    if (now != snapshot) {
      fs.delete(stage, true)
      restoreFoldingRacers(fs, idxDir, backup)
      throw new IllegalStateException(
        "refusing to swap: index contents changed during compaction " +
          s"(appeared: ${(now -- snapshot).toSeq.sorted.mkString(", ")}; " +
          s"vanished: ${(snapshot -- now).toSeq.sorted.mkString(", ")}) — " +
          "the stream is not quiesced")
    }
    if (!fs.rename(stage, idxDir)) {
      // promote failed: either an FS fault, or a racing batch recreated
      // the data dir after our aside (mkdirs + fresh delta). Restore the
      // authoritative history, folding any racer files in, then abort.
      fs.delete(stage, true)
      restoreFoldingRacers(fs, idxDir, backup)
      throw new java.io.IOException(
        s"index swap: could not promote compacted index to $idxDir " +
          "(index recreated during the swap? stream not quiesced); " +
          "original index restored")
    }
    // on HDFS, rename into an EXISTING destination dir "succeeds" by
    // nesting the source inside it — which here means a racer recreated
    // the data dir and the compacted output landed at data/_compact.
    // Detect, unwind, restore the authoritative history, abort.
    if (fs.exists(new Path(idxDir, stage.getName))) {
      fs.delete(new Path(idxDir, stage.getName), true)
      restoreFoldingRacers(fs, idxDir, backup)
      throw new java.io.IOException(
        s"index swap: promote nested into a recreated $idxDir (stream " +
          "not quiesced); original index restored")
    }
    fs.delete(backup, true)
    ()
  }

  /** Heal the index at `idxDir` before it is read, and return whether it
    * exists. A compaction interrupted mid-swap left the whole index in
    * `backup`, which is authoritative and goes back
    * ([[graft.DirSwap.restore]]); otherwise a missing data dir would read
    * as an empty index. The divergent both-dirs-present state (a crash
    * inside a racer repair, or after a promote but before the backup
    * delete) folds every file of `backup` into `idxDir`, then drops the
    * emptied backup. Content-preserving whichever history the state came
    * from — a stale pre-compaction copy only re-adds rows the index
    * already carries (removed by the next compaction's distinct), while
    * a stranded post-racer-crash history is restored outright. Only
    * `.parquet` files are folded — committer markers (`_SUCCESS`, left by
    * every compaction's `write.parquet` and therefore present in BOTH
    * dirs whenever a backup survives a later compaction's crash window)
    * collide by name without carrying data, and folding on them would
    * wedge every subsequent batch behind a spurious "manual merge"; they
    * are simply dropped with the emptied backup. A COLLIDING `.parquet`
    * name still aborts loudly with both copies intact. */
  private def healIndex(fs: FileSystem, idxDir: Path,
                        backup: Path): Boolean = {
    if (!DirSwap.restore(fs, idxDir, backup)) return false
    if (!fs.exists(backup)) return true
    fs.listStatus(backup)
      .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
      val dest = new Path(idxDir, f.getPath.getName)
      if (fs.exists(dest))
        throw new java.io.IOException(
          s"index heal: name collision folding ${f.getPath} into $idxDir; " +
            "manual merge required")
      if (!fs.rename(f.getPath, dest))
        throw new java.io.IOException(
          s"index heal: could not fold ${f.getPath} into $idxDir")
    }
    fs.delete(backup, true)
    true
  }

  /** Put `backup` (the authoritative pre-swap index) back at `idxDir`.
    * If a racing micro-batch recreated `idxDir` while the index was
    * aside, its fresh delta files are folded INTO the backup first so
    * neither the history nor the racer's delta is lost, then the merged
    * dir is swapped back. Throws if the filesystem refuses — leaving
    * `_preidx` in place, which [[withBatchIndexes]]' restore-on-read
    * heals only when the data dir is absent, so failure here is loud. */
  private def restoreFoldingRacers(fs: FileSystem, idxDir: Path,
                                   backup: Path): Unit = {
    if (fs.exists(idxDir)) {
      fs.listStatus(idxDir).foreach { f =>
        if (!fs.rename(f.getPath, new Path(backup, f.getPath.getName)))
          throw new java.io.IOException(
            s"index swap: could not fold racer file ${f.getPath} into $backup")
      }
      if (!fs.delete(idxDir, true))
        throw new java.io.IOException(
          s"index swap: could not clear racer dir $idxDir before restore")
    }
    if (!fs.rename(backup, idxDir))
      throw new java.io.IOException(
        s"index swap: could not restore $backup to $idxDir")
  }

  /** Compact EVERY index of a multi-index ingest — [[curateFullIngestBatch]]
    * maintains a fingerprint AND a signature index, each accumulating one
    * b$id- delta per micro-batch, and both age toward the same
    * too-many-tiny-files problem. One [[compactIngestIndex]] per index
    * against the shared `outPath` batch ledger: the ledger gate is already
    * per-batch (a batch in its crash window blocks the compaction of ANY
    * index it wrote to, because the ledger lacks it), each swap is
    * per-index atomic, and compaction is content-preserving, so no
    * cross-index invariant can break mid-sequence — an abort on the
    * second index leaves the first compacted and both fully correct. */
  def compactIngestIndexes(spark: SparkSession, outPath: String,
                           indexPaths: Seq[String],
                           targetFiles: Int = 1): Unit =
    indexPaths.foreach(p =>
      compactIngestIndex(spark, outPath, p, targetFiles))

  /** Per-batch stage counts recorded by [[curateIngestBatch]] — the streaming
    * twin of `Curate.IncResult.stats`. Replayed batches may append a
    * second entry (at-least-once monitoring, same contract as Spark's own
    * progress events); the data paths themselves stay exactly-once. */
  final class CurateCounts {
    private val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(String, Long)])]
    private[streaming] def add(id: Long, stats: Seq[(String, Long)]): Unit =
      buf.synchronized { buf += ((id, stats)); () }
    def history: Seq[(Long, Seq[(String, Long)])] = buf.synchronized(buf.toSeq)
  }

  /** Streaming end-to-end curation — the streaming twin of
    * `Curate.incremental`: per micro-batch, quality gate → within-batch +
    * against-index exact dedup → per-source cap, survivors to a per-batch
    * partition, fingerprints into the persistent index, per-stage counts
    * into `counts`. Identical stage semantics to the batch pipeline (it
    * IS `Curate.incremental` under [[withBatchIndex]]'s exactly-once
    * write protocol), so a day processed as N micro-batches or one batch
    * job drops the same cross-batch dups. See [[withBatchIndex]] for the
    * replay-safety contract. */
  def curateIngestBatch(batch: DataFrame, id: Long, outPath: String,
                        indexPath: String, minQuality: Double = 0.35,
                        perSourceCap: Int = 15,
                        counts: CurateCounts = new CurateCounts): Unit =
    withBatchIndex(batch.sparkSession, id, outPath, indexPath) { index =>
      val r = graft.ext.Curate.incremental(batch, index, minQuality,
        perSourceCap)
      (r.survivors, r.indexDelta,
        () => { r.release(); counts.add(id, r.stats) })
    }

  /** Streaming CLASSIFIER-gated curation — the streaming twin of
    * `Curate.modelGated`: per micro-batch, the trained NB model scores
    * every document (weights are a STORED table, broadcast per batch,
    * like the centroid table in [[ivfIngestBatch]]), confident positives
    * proceed to within-batch + against-index dedup and the per-source
    * cap, under the same exactly-once index protocol. Retraining the
    * model is an offline rebuild of the weights table, never an
    * in-stream mutation. */
  def modelGatedIngestBatch(batch: DataFrame, id: Long, outPath: String,
                            indexPath: String, weights: DataFrame,
                            numBuckets: Int, minScore: Double = 0.0,
                            perSourceCap: Int = 15,
                            counts: CurateCounts = new CurateCounts): Unit =
    withBatchIndex(batch.sparkSession, id, outPath, indexPath) { index =>
      val r = graft.ext.Curate.modelGated(batch, index, weights,
        numBuckets, minScore, perSourceCap)
      (r.survivors, r.indexDelta,
        () => { r.release(); counts.add(id, r.stats) })
    }

  /** Streaming FULL curation — the streaming twin of
    * `Curate.incrementalFull`: per micro-batch, quality gate → exact
    * dedup against the persistent FINGERPRINT index → near-dup dedup
    * against the persistent SIGNATURE index → per-source cap, with both
    * indices maintained in the same exactly-once protocol and per-stage
    * counts in `counts`. The whole production day, as a stream. See
    * [[withBatchIndexes]] for the replay-safety contract. */
  def curateFullIngestBatch(batch: DataFrame, id: Long, outPath: String,
                            fpIndexPath: String, sigIndexPath: String,
                            minQuality: Double = 0.35,
                            estThreshold: Double = 0.5,
                            perSourceCap: Int = 15,
                            counts: CurateCounts = new CurateCounts): Unit = {
    withBatchIndexes(batch.sparkSession, id, outPath,
      Seq(fpIndexPath -> FingerprintIndex,
        sigIndexPath -> sigIndex(batch, "doc_id"))) {
      case Seq(fpIndex, sigIndex) =>
        val r = graft.ext.Curate.incrementalFull(batch, fpIndex, sigIndex,
          minQuality, estThreshold, perSourceCap)
        (r.survivors, Seq(r.fpDelta, r.sigDelta),
          () => { r.release(); counts.add(id, r.stats) })
    }
  }

  /** Streaming NEAR-dup ingest: per micro-batch, exact-dedup within the
    * batch, then drop docs whose MinHash signatures estimate ≥
    * `estThreshold` Jaccard against the persistent SIGNATURE index
    * (`Dedup.incrementalMinhashDedup` — history carries 8·numPerms bytes
    * per doc, never text), and append the survivors' signatures to the
    * index under [[withBatchIndex]]'s exactly-once protocol. The
    * streaming form of the production near-dup pipeline: a doc
    * near-duplicating ANY earlier batch never lands. */
  def nearDupIngestBatch(batch: DataFrame, id: Long, textCol: String,
                         idCol: String, outPath: String,
                         sigIndexPath: String,
                         estThreshold: Double = 0.5): Unit = {
    val inBatch = graft.ext.Dedup.exactDedup(batch, textCol, idCol)
    // one shingle pass per batch: the cached signature table feeds the
    // banded join AND, semi-joined on the surviving ids, the index delta.
    // Persisted OUTSIDE withBatchIndex and released in a finally: an
    // aborted batch (FS fault mid-write) must not leak cached blocks
    // across replays.
    val bSigs = graft.ext.Dedup.minhashSigTable(inBatch, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      withBatchIndex(batch.sparkSession, id, outPath, sigIndexPath,
        sigIndex(batch, idCol)) { histSigs =>
        val survivors = graft.ext.Dedup.incrementalMinhashDedupSigs(
          inBatch, bSigs, idCol, histSigs, estThreshold)
        val sigDelta = bSigs.join(
          survivors.select(col(idCol).as("id")), Seq("id"), "left_semi")
        (survivors, sigDelta, () => ())
      }
    } finally { bSigs.unpersist(); () }
  }

  /** Continuously-maintained keyed stats served as ATOMIC VERSIONED
    * snapshots — the feature-table publish pattern: per micro-batch,
    * merge the batch's partial (count, sum) per key into the current
    * snapshot and stage the result as a NEW generation of a
    * [[graft.warehouse.Versioned]] table; the pointer flip is the
    * exactly-once commit point. Readers always scan one complete,
    * consistent generation (never a half-merged table), can time-travel
    * to any retained snapshot, and roll back a bad batch by pointer
    * rewrite alone.
    *
    * Replay safety without a separate marker: each generation records
    * the batch id that produced it (`_meta`, written INSIDE the
    * generation dir BEFORE the flip). A replay whose id matches the
    * current generation's meta is a no-op; a crash before the flip
    * leaves an orphan generation no pointer references — invisible to
    * readers, reclaimed by `Versioned.vacuum`, and the replay simply
    * re-merges from the old current. */
  def versionedStatsBatch(batch: DataFrame, id: Long, root: String,
                          keyCols: Seq[String], valueCol: String): Unit = {
    import graft.warehouse.Versioned
    val spark = batch.sparkSession
    val cur = Versioned.resolve(spark, root)
    if (cur.exists(v =>
        Versioned.generationMeta(spark, root, v).contains(s"batch=$id")))
      return // replay after a completed flip: already committed
    val keys = keyCols.map(col)
    val part = batch.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("s"))
    val merged = cur match {
      case None => part
      case Some(v) =>
        Versioned.readVersion(spark, root, v).unionByName(part)
          .groupBy(keys: _*).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    }
    val next = Versioned.versions(spark, root).lastOption.getOrElse(0L) + 1L
    merged.write.mode("overwrite").parquet(s"$root/gen=$next")
    Versioned.setGenerationMeta(spark, root, next, s"batch=$id")
    Versioned.setCurrent(spark, root, next) // the atomic commit
  }

  /** Streaming ANN-index maintenance — the embedding twin of the
    * signature-index family: per micro-batch, assign the batch's
    * embeddings to the STORED centroid table (tiny, broadcast) and append
    * the (id, cell, v, nrm) rows to the persistent IVF index under the
    * same exactly-once protocol as every other ingest index. Top-k is
    * then answered by `Similarity.ivfTopKIndexed` against the stored
    * index — history is never rescanned or re-assigned. `cents` is the
    * stored centroid table ((cell, centroid), built offline by
    * `Similarity.centroids`/`lloydRefine` and persisted); re-clustering
    * is an offline rebuild followed by index compaction, never an
    * in-stream mutation. At 100 TB the compacted index generations are
    * written bucketed on `cell` so probes prune to their cells. */
  def ivfIngestBatch(batch: DataFrame, id: Long, idCol: String,
                     vecCol: String, outPath: String, indexPath: String,
                     cents: DataFrame): Unit =
    withBatchIndex(batch.sparkSession, id, outPath, indexPath,
      ivfIndex(batch, idCol, cents)) { _ =>
      (batch,
        graft.ext.Similarity.assignCells(batch, cents, idCol, vecCol),
        () => ())
    }

  /** Streaming IVF-PQ index maintenance — [[ivfIngestBatch]] storing CODES
    * instead of raw vectors: per micro-batch, encode the batch against
    * the stored centroid table (coarse cell + product-quantization
    * codes, `Similarity.pqIndex`) and append the (id, cell, code0..m-1)
    * rows under the shared exactly-once protocol. Top-k is answered by
    * `Similarity.ivfPqTopK` purely from the stored codes — the index
    * stays ~dim/8 bytes per vector no matter how many batches arrive,
    * the shape that keeps a billion-vector ANN index in memory.
    * Re-clustering the codebook is an offline rebuild + compaction,
    * never an in-stream mutation. */
  def pqIngestBatch(batch: DataFrame, id: Long, idCol: String,
                    vecCol: String, outPath: String, indexPath: String,
                    cents: DataFrame, m: Int, dim: Int): Unit =
    withBatchIndex(batch.sparkSession, id, outPath, indexPath,
      pqIndexSchema(batch, idCol, cents, m)) { _ =>
      (batch,
        graft.ext.Similarity.pqIndex(batch, cents, m, dim, idCol, vecCol),
        () => ())
    }

  /** Streaming SemDeDup at ingest — [[ivfIngestBatch]] plus the dedup gate:
    * per micro-batch, drop vectors that semantically duplicate (cosine ≥
    * `threshold` within the same centroid cell) EITHER a lower-id vector
    * of the same batch (`Similarity.semanticDedup`) or any earlier
    * batch's survivor (`Similarity.incrementalSemanticDedup` against the
    * stored index). Survivors land in `outPath` and their assignment
    * rows extend the index — so a semantically-duplicate embedding
    * arriving in ANY later batch never lands. History is the
    * (id, cell, v, nrm) index, bounded by survivors, not arrivals. */
  def semanticDedupIngestBatch(batch: DataFrame, id: Long, idCol: String,
                               vecCol: String, outPath: String,
                               indexPath: String, cents: DataFrame,
                               threshold: Double): Unit =
    withBatchIndex(batch.sparkSession, id, outPath, indexPath,
      ivfIndex(batch, idCol, cents)) { histIndex =>
      val inBatchDropped = graft.ext.Similarity
        .semanticDedup(batch, cents, threshold, idCol, vecCol)
        .select(col("vec_id").as(idCol))
      val inBatch = batch.join(inBatchDropped, Seq(idCol), "left_anti")
      val survivors = graft.ext.Similarity
        .incrementalSemanticDedup(inBatch, histIndex, cents, threshold,
          idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val delta = graft.ext.Similarity
        .assignCells(survivors, cents, idCol, vecCol)
      (survivors, delta, () => { survivors.unpersist(); () })
    }

  /** T7 (extension): in-stream tumbling-window aggregation with watermark —
    * the streaming counterpart of Gold.windowAgg. The reference computes
    * windows only in batch (silver_to_gold.py:57,106); this gives the same
    * aggregate shape with streaming state: partial aggregation per
    * micro-batch, state keyed by (window, keys), watermark bounding state
    * size (state for windows older than the watermark is evicted — the
    * knob that keeps a 100 TB/day stream's state finite). */
  def windowedAgg(events: DataFrame, timeCol: String, keys: Seq[String],
                  valueCol: String, windowDuration: String,
                  watermark: String): DataFrame =
    events.withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowDuration) +: keys.map(col): _*)
      .agg(count(lit(1)).as("reading_count"),
        avg(col(valueCol)).as("avg_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** T7 (extension): streaming SESSION windows — dynamic-gap windows that
    * the engine merges in the state store as events arrive, closing a
    * session once the watermark passes its gap. The batch counterpart is
    * `operators.Sessionize` (identical gaps-and-islands semantics,
    * engine-portable formulation); this is the path when sessions must be
    * emitted continuously. */
  def sessionWindowAgg(events: DataFrame, timeCol: String, keys: Seq[String],
                       valueCol: String, gap: String,
                       watermark: String): DataFrame =
    events.withWatermark(timeCol, watermark)
      .groupBy(session_window(col(timeCol), gap) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        avg(col(valueCol)).as("avg_value"))
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** T8 (extension): stream-stream inner join — both sides watermarked,
    * with a time-range condition bounding how long either side's state is
    * retained (right events match left events at or after them, within
    * `within`). Without the range bound the state store grows forever;
    * with it, rows age out as the watermark passes — the only shape that
    * survives an unbounded 100 TB/day pair of streams. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, keyCol: String,
                       leftTime: String, rightTime: String,
                       watermark: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTime, watermark).alias("l")
    val r = right.withWatermark(rightTime, watermark).alias("r")
    l.join(r, expr(
      s"""l.$keyCol = r.$keyCol AND
         |r.$rightTime >= l.$leftTime AND
         |r.$rightTime <= l.$leftTime + interval $within""".stripMargin))
  }

  /** Per-key running state carried across micro-batches. */
  final case class RunningState(n: Long, sum: Double, max: Double)
  final case class RunningUpdate(key: String, n: Long, sum: Double, max: Double)

  /** T8 (extension): arbitrary stateful processing via mapGroupsWithState —
    * the escape hatch for state machines the built-in aggregations can't
    * express. Keeps one fixed-size RunningState per key (count/sum/max so
    * far), emitting the updated totals every micro-batch. State size is
    * O(#keys) regardless of stream length — the knob that matters at
    * 100 TB/day is key cardinality, not volume. Use update output mode. */
  def runningKeyStats(events: DataFrame, keyCol: String,
                      valueCol: String): org.apache.spark.sql.Dataset[RunningUpdate] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val tupEnc: Encoder[(String, Double)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaDouble)
    implicit val stEnc: Encoder[RunningState] = Encoders.product[RunningState]
    implicit val upEnc: Encoder[RunningUpdate] = Encoders.product[RunningUpdate]
    events.select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[RunningState, RunningUpdate](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(
            RunningState(0L, 0.0, Double.NegativeInfinity))
          var n = prev.n; var s = prev.sum; var m = prev.max
          rows.foreach { case (_, value) =>
            n += 1; s += value; m = math.max(m, value)
          }
          state.update(RunningState(n, s, m))
          RunningUpdate(key, n, s, m)
      }
  }

  /** T8 (Spark 4 API): the same per-key running stats on
    * `transformWithState` — the successor to mapGroupsWithState backed by
    * the RocksDB state store, with typed named state variables, optional
    * TTL, and timers. Semantics here are identical to [[runningKeyStats]]
    * (OperatorsSpec asserts parity on the same input); the API is the
    * 100 TB story: RocksDB keeps per-key state off-heap and incrementally
    * checkpointed, so state size is bounded by disk not executor heap. */
  final class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Double), RunningUpdate] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[RunningState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RunningState]("stats",
        org.apache.spark.sql.Encoders.product[RunningState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
                                 timers: TimerValues): Iterator[RunningUpdate] = {
      val prev = if (st.exists()) st.get()
                 else RunningState(0L, 0.0, Double.NegativeInfinity)
      var n = prev.n; var s = prev.sum; var m = prev.max
      rows.foreach { case (_, v) => n += 1; s += v; m = math.max(m, v) }
      st.update(RunningState(n, s, m))
      Iterator.single(RunningUpdate(key, n, s, m))
    }
  }

  /** [[runningKeyStats]] on the transformWithState API. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def runningKeyStatsTws(events: DataFrame, keyCol: String,
                         valueCol: String): org.apache.spark.sql.Dataset[RunningUpdate] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val tupEnc: Encoder[(String, Double)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaDouble)
    implicit val upEnc: Encoder[RunningUpdate] = Encoders.product[RunningUpdate]
    events.select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** One closed session emitted by [[flatMapSessionize]]. */
  final case class ClosedSession(key: String, session_start: java.sql.Timestamp,
                                 session_end: java.sql.Timestamp, n_events: Long)
  /** Open-session state: first/last event micros + count. */
  final case class SessionBuf(startUs: Long, lastUs: Long, n: Long)

  /** T8 (extension): custom streaming sessionization via
    * flatMapGroupsWithState + event-time timeout — the full-control
    * alternative to `sessionWindowAgg` for session payloads the built-in
    * session_window aggregation can't express (e.g. carrying arbitrary
    * per-session state). A session closes either when a later event
    * arrives past the gap (emitted immediately) or when the watermark
    * passes last+gap (emitted by the timeout callback). State is one
    * fixed-size SessionBuf per active key. Use append output mode. */
  def flatMapSessionize(events: DataFrame, keyCol: String, timeCol: String,
                        watermark: String,
                        gapSeconds: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val tupEnc: Encoder[(String, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP)
    implicit val stEnc: Encoder[SessionBuf] = Encoders.product[SessionBuf]
    implicit val outEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    val gapUs = gapSeconds * 1000000L
    def toTs(us: Long) = new java.sql.Timestamp(us / 1000L)
    events.withWatermark(timeCol, watermark)
      .select(col(keyCol).cast("string"), col(timeCol))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[SessionBuf, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(key, toTs(s.startUs), toTs(s.lastUs), s.n))
          } else {
            val times = rows.map(_._2.getTime * 1000L).toArray.sorted
            var closed = List.empty[ClosedSession]
            var buf = state.getOption.orNull
            times.foreach { t =>
              buf match {
                case null => buf = SessionBuf(t, t, 1L)
                case b if t - b.lastUs <= gapUs =>
                  buf = b.copy(lastUs = math.max(b.lastUs, t), n = b.n + 1)
                case b =>
                  closed ::= ClosedSession(key, toTs(b.startUs), toTs(b.lastUs), b.n)
                  buf = SessionBuf(t, t, 1L)
              }
            }
            state.update(buf)
            // close via watermark once last+gap passes; never set a timeout
            // at or before the current watermark (illegal)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, buf.lastUs / 1000L + gapSeconds * 1000L))
            closed.reverseIterator
          }
      }
  }

  /** T8 (extension): streaming keep-one dedup bounded by the watermark —
    * `dropDuplicatesWithinWatermark` keeps (key) state only within the
    * watermark horizon, unlike `dropDuplicates` whose state grows forever.
    * Batch late-data correctness still comes from Silver.mergeLateData. */
  def streamingDedup(events: DataFrame, timeCol: String, keys: Seq[String],
                     watermark: String): DataFrame =
    events.withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** One micro-batch's progress snapshot, the unit of the listener
    * history. `eventAgeAvgMs`/`eventAgeMaxMs` are END-TO-END latency
    * readings — wall-clock at batch completion minus the batch's
    * average/oldest event time — available only for event-time queries
    * (a watermark makes Spark report the batch's eventTime stats);
    * batches without event-time info carry the -1 sentinel, which every
    * downstream consumer ([[graft.monitoring.Alerts.evaluateProgress]],
    * [[graft.monitoring.Alerts.latencyPercentiles]]) filters out rather
    * than treating as a zero-latency reading. */
  final case class BatchProgress(batchId: Long, inputRows: Long,
                                 rowsPerSecond: Double, batchDurationMs: Long,
                                 eventAgeAvgMs: Long = -1L,
                                 eventAgeMaxMs: Long = -1L)

  /** T9: progress metrics via the idiomatic StreamingQueryListener instead
    * of the reference's polling loop (spark_streaming.py:167-184). The
    * history additionally carries the end-to-end event-age readings that
    * feed the reference's one latency SLO (<60 s p95 end-to-end,
    * monitoring/prometheus/alert_rules.yml:37-46) via
    * [[graft.monitoring.Alerts.latencyPercentiles]] and
    * [[graft.monitoring.Alerts.latencyRules]]. */
  final class MetricsListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    @volatile var lastRowsPerSecond: Double = 0.0
    @volatile var lastNumInputRows: Long = 0L
    @volatile var batches: Long = 0L
    // per-batch history feeding graft.monitoring.Alerts.evaluateProgress
    private val hist = scala.collection.mutable.ArrayBuffer.empty[BatchProgress]
    def history: Seq[BatchProgress] = hist.synchronized(hist.toSeq)
    override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
      lastNumInputRows = e.progress.numInputRows
      lastRowsPerSecond = e.progress.processedRowsPerSecond
      batches += 1
      val rps = e.progress.processedRowsPerSecond
      // end-to-end age = batch-END wall clock minus event time. progress
      // .timestamp is the trigger START (ISO-8601), so completion is
      // start + duration; eventTime has "avg"/"min" ISO stamps only for
      // event-time (watermarked) queries with input this batch. "min"
      // (oldest event) gives the batch's WORST-case age — the
      // conservative reading an SLO alert should fire on.
      val (ageAvg, ageMax) = try {
        val et = e.progress.eventTime
        if (et == null || !et.containsKey("avg")) (-1L, -1L)
        else {
          val endMs = java.time.Instant.parse(e.progress.timestamp)
            .toEpochMilli + e.progress.batchDuration
          val avgMs = java.time.Instant.parse(et.get("avg")).toEpochMilli
          val minMs =
            if (et.containsKey("min"))
              java.time.Instant.parse(et.get("min")).toEpochMilli
            else avgMs
          (math.max(0L, endMs - avgMs), math.max(0L, endMs - minMs))
        }
      } catch { case _: Exception => (-1L, -1L) }
      hist.synchronized {
        hist += BatchProgress(e.progress.batchId, e.progress.numInputRows,
          if (rps.isNaN) 0.0 else rps, e.progress.batchDuration,
          ageAvg, ageMax)
      }
    }
    override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
