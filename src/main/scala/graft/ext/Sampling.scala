package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting.
  *
  * Training-data pipelines need splits that are (a) reproducible across
  * runs and engines, (b) stable under repartitioning, and (c) a pure
  * function of a row's identity — never `rand()`, whose value depends on
  * partition layout and evaluation order. The bucket is derived from md5
  * of the id, so every engine (and the DuckDB oracle) assigns identical
  * rows to identical splits.
  *
  * Scale notes (100 TB): the bucket is a narrow per-row projection —
  * no shuffle, no state; a split filter is pushed into the scan's data
  * filters like any other deterministic predicate.
  */
object Sampling {

  /** Stable bucket in [0, buckets) from md5 of the id's string form.
    * 6 hex digits (24 bits) keep the parsed value far inside a long while
    * giving at most ~16M distinguishable ids per bucket boundary. */
  def hashBucket(id: Column, buckets: Int): Column =
    pmod(conv(substring(md5(id.cast("string").cast("binary")), 1, 6), 16, 10)
      .cast("long"), lit(buckets.toLong))

  /** Deterministic named split by cumulative percentage. `cuts` maps
    * label -> upper percentile bound (exclusive), in ascending order;
    * e.g. Seq("train" -> 80, "valid" -> 90, "test" -> 100). */
  def deterministicSplit(id: Column, cuts: Seq[(String, Int)]): Column = {
    require(cuts.nonEmpty && cuts.last._2 == 100,
      "split bounds must be ascending and end at 100")
    val b = hashBucket(id, 100)
    cuts.init.foldRight(lit(cuts.last._1): Column) { case ((label, hi), rest) =>
      when(b < hi, label).otherwise(rest)
    }
  }

  /** Deterministic fraction sample: keep rows whose bucket falls below
    * `pct` of 100. */
  def samplePct(id: Column, pct: Int): Column = hashBucket(id, 100) < pct

  /** Efraimidis–Spirakis weighted-sampling key: rank rows by
    * u^(1/w) (computed as the order-equivalent ln(u)/w) with u a
    * hash-derived uniform in (0,1), and the top-k by key form a sample
    * where P(row selected) is proportional to its weight. Deterministic
    * for the same reasons as [[hashBucket]]: u is a pure function of row
    * identity, so the same k rows win on any engine or partitioning.
    * Distributed shape: narrow projection + TakeOrdered — the classic
    * weighted reservoir without its sequential state. */
  /** Engine-portable uniform in (0, 1) from the 40-bit md5 prefix of a
    * column's string form — THE randomness primitive of this module
    * ([[esKey]], [[gumbelKey]], the DP noise draw): one definition so
    * the bit width and the half-step offset can never drift between
    * call sites (or their DuckDB oracle twins). */
  def md5Uniform(key: Column): Column = {
    val h = conv(substring(md5(key.cast("string").cast("binary")), 1, 10), 16, 10)
      .cast("double")
    (h + lit(0.5)) / lit(1099511627776.0) // 2^40
  }

  def esKey(id: Column, weight: Column): Column = {
    val u = md5Uniform(id)
    // ln(u) < 0, so for w > 0 a LARGER key is better and top-k-by-key-desc
    // is the sample. A non-positive weight would flip the sign and always
    // win — pin such rows to -Inf so they can never be selected.
    when(weight > 0, log(u) / weight)
      .otherwise(lit(Double.NegativeInfinity))
  }

  /** Stratified deterministic sample: per-stratum keep percentages (the
    * class-balancing knob for training mixes — e.g. keep 10% of 'en' but
    * 100% of a rare language). Strata missing from `pcts` keep `defaultPct`.
    * Same md5-bucket determinism as [[samplePct]]: stable across runs,
    * engines, and repartitioning. */
  def stratifiedPct(id: Column, stratum: Column, pcts: Map[String, Int],
                    defaultPct: Int = 0): Column = {
    val b = hashBucket(id, 100)
    val cut = pcts.foldLeft(lit(defaultPct): Column) { case (acc, (s, p)) =>
      when(stratum === s, p).otherwise(acc)
    }
    b < cut
  }

  /** Epoch-salted shuffle key: md5("epoch|id") — a fresh deterministic
    * permutation of the corpus per epoch, a pure function of row
    * identity (same row, same epoch → same key on any engine or
    * partitioning; different epoch → an independent order). */
  def epochKey(id: Column, epoch: Int): Column =
    md5(concat(lit(epoch.toString), lit("|"), id.cast("string"))
      .cast("binary"))

  /** Deterministic epoch shuffle — the "reshuffle the corpus every
    * epoch, reproducibly" training-order operator: each row gets an
    * [[epochKey]], a shard (hash-uniform over `shards`), and its
    * position within the shard (key order, id tie-break). Reading
    * shards in order, each in `epoch_pos` order, replays one global
    * pseudo-random permutation; bumping `epoch` yields an independent
    * permutation with zero state.
    *
    * Shape at scale: ONE shuffle keyed on the shard and a per-shard
    * sort — corpus/shards rows per task, no global sort and no
    * single-node bottleneck (size `shards` so a shard fits a task; a
    * writer does `repartition(shard) + sortWithinPartitions(key)` with
    * the same columns). Never `rand()`: resuming a crashed epoch, or
    * re-materializing shard 7 alone, reproduces identical order. */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   shards: Int): DataFrame = {
    val keyed = df.withColumn("shuffle_key", epochKey(col(idCol), epoch))
      .withColumn("epoch_shard",
        pmod(conv(substring(col("shuffle_key"), 1, 6), 16, 10).cast("long"),
          lit(shards.toLong)))
    keyed.withColumn("epoch_pos",
      row_number().over(Window.partitionBy("epoch_shard")
        .orderBy(col("shuffle_key"), col(idCol))))
  }

  /** Deterministic read-time mixture interleaving — the "train on
    * sources at weights q, without materializing a resampled copy"
    * operator: every row gets a stride key (src_rank − ½) / q_source,
    * where src_rank is the row's [[epochKey]]-order rank WITHIN its
    * source and q the [[mixWeights]] temperature quota. Reading rows in
    * stride order interleaves sources so that every PREFIX of the
    * stream holds each source in ≈q proportion (a low-discrepancy
    * schedule — what weighted sampling only achieves in expectation),
    * deterministically and restartably. Strides are rounded to 6
    * decimals (engines differ in the last ulp of pow/division; spacing
    * within a source is 1/q ≫ 1e-6, so rounding never reorders a
    * source against itself — tie-break across sources on (source, id)).
    *
    * Shape at scale: the within-source rank is computed WITHOUT a
    * per-source global sort — rows bucket by their key's first byte
    * (order-preserving prefix ranges), rank locally per (source,
    * bucket), and add per-bucket offsets from a (sources × 256)-row
    * cumulative count table joined back broadcast — so the biggest
    * source costs 256 parallel partial sorts instead of one giant one.
    * Output adds (src_rank, mix_stride); consumers order by
    * (mix_stride, source, id). */
  def mixtureOrder(df: DataFrame, sourceCol: String, idCol: String,
                   alpha: Double, epoch: Int): DataFrame = {
    val q = mixWeights(df, Seq(sourceCol), alpha)
      .select(col(sourceCol), col("q"))
    val keyed = df
      .withColumn("_mk", epochKey(col(idCol), epoch))
      .withColumn("_mb", conv(substring(col("_mk"), 1, 2), 16, 10)
        .cast("long"))
    val offsets = keyed.groupBy(col(sourceCol), col("_mb"))
      .agg(count(lit(1)).as("_bn"))
      .withColumn("_off",
        coalesce(sum("_bn").over(Window.partitionBy(sourceCol)
          .orderBy("_mb").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(sourceCol), col("_mb"), col("_off"))
    keyed
      .withColumn("_lr", row_number().over(
        Window.partitionBy(col(sourceCol), col("_mb"))
          .orderBy(col("_mk"), col(idCol))))
      .join(broadcast(offsets), Seq(sourceCol, "_mb"))
      .withColumn("src_rank", col("_off") + col("_lr"))
      .join(broadcast(q), Seq(sourceCol))
      .withColumn("mix_stride",
        round((col("src_rank") - lit(0.5)) / col("q") + lit(1e-9), 6))
      .drop("_mk", "_mb", "_lr", "_off", "q")
  }

  /** Token-budget-constrained corpus selection — the "fill an N-token
    * training budget with the best documents" operator: rank documents
    * by (4-dp-rounded quality DESC, id ASC) and keep the prefix whose
    * cumulative token count stays within `budgetFrac` of the corpus
    * total. Deterministic (no rand; rounding pins the order across
    * engines) and budget-exact: the first document that would overflow
    * the budget is excluded, as is everything after it.
    *
    * Shape at scale: the prefix sum is computed WITHOUT a global sort,
    * via TWO order-preserving bucketing levels, so task size is bounded
    * regardless of how the corpus's quality mass is distributed:
    *
    *  - Level 1: the EXACT 4-dp quality integer (≤10001 values). Every
    *    bucket is a tie block — within it the remaining order is id ASC
    *    alone. Per-bucket (token-total, row-count) aggregates collect to
    *    a ≤10001-row driver table that yields the corpus total, the
    *    budget, and the prune set (buckets whose offset already exceeds
    *    the budget never reach a sort).
    *  - Level 2: any tie block fatter than `maxBucketRows` (real quality
    *    scores CONCENTRATE — a single 4-dp value can hold a large corpus
    *    fraction, and one per-bucket sort task would be the exact
    *    single-partition cliff this operator exists to avoid) is split
    *    into contiguous ID RANGES at approx-percentile boundaries of the
    *    id, computed once and FROZEN driver-side. Range sub-bucketing is
    *    order-preserving on id, so composing per-(bucket, sub) running
    *    sums with the two-level offset table reproduces the exact global
    *    (quality DESC, id ASC) prefix sum — the boundary VALUES only
    *    control balance, never the result (any contiguous split of a
    *    total order yields the same running sum), which is why an
    *    approximate, frozen percentile sketch is sufficient and fully
    *    deterministic downstream. An md5-style hash sub-bucket would NOT
    *    work here: hashing is not order-preserving on id, so it would
    *    reorder rows inside the tie block and change which documents the
    *    budget boundary admits.
    *
    * The offset table is ≤ (10001 + corpusRows/maxBucketRows) rows —
    * driver-sized by construction. The biggest corpus costs one bucket
    * aggregation, (for fat blocks only) one boundary sketch plus one
    * sub-bucket aggregation over the fat rows, and partial sorts of at
    * most ~maxBucketRows rows each; never one giant ordered shuffle.
    *
    * Fat-block boundaries are drawn PER ID TYPE, always compared in the
    * engine's own sort order for that type so the assignment is
    * order-preserving by construction:
    *  - NUMERIC ids: approx-percentile boundaries of `CAST(id AS
    *    DOUBLE)` (monotone cast, including longs past 2^53 — rounding
    *    is monotone and double-ties stay in one sub-bucket where the
    *    true id ordering resumes), compared with numeric `>`.
    *  - STRING ids (URLs, md5/uuid hex — the realistic corpus-id
    *    shape): boundaries sliced from a deterministic md5-thresholded
    *    sample of each fat block's ids, sorted by the ENGINE
    *    (`sort_array` = UTF8 binary order, the exact order the window's
    *    `id ASC` uses) and compared with string `>`. A string that
    *    happens to parse as a number stays in lexicographic order
    *    throughout — the boundary values and the comparison both live
    *    in string space, so the numeric-cast reorder bug this gate
    *    originally guarded against cannot arise. The sample is ~64 ids
    *    per target sub-bucket (≤64·1024 per fat block; fat blocks
    *    number ≤ corpusRows/maxBucketRows), driver-bounded.
    *  - Other id types keep every tie block as a single sorted range:
    *    correct, just unbounded for blocks beyond maxBucketRows.
    *
    * Returns (idCol, tok_n, cum_tokens) for the selected documents. */
  def tokenBudgetSelect(docs: DataFrame, textCol: String, idCol: String,
                        budgetFrac: Double,
                        maxBucketRows: Long = 4000000L): DataFrame =
    tokenBudgetSelectScored(tokenBudgetScore(docs, textCol, idCol), idCol,
      budgetFrac, maxBucketRows)

  /** The scored narrow projection [[tokenBudgetSelect]] ranks on:
    * (idCol, tok_n, _rqi) with _rqi the exact 4-dp quality integer.
    * Exposed so the streaming twin ([[graft.streaming.StreamingPipeline]]
    * tokenBudgetIngestBatch) can score each document ONCE at arrival and fold
    * the projection into its index — the selection then replays from the
    * index without ever re-reading document text. */
  def tokenBudgetScore(docs: DataFrame, textCol: String,
                       idCol: String): DataFrame =
    docs.select(col(idCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("tok_n"),
      round(round(TextAnalysis.qualityScore(col(textCol)) + lit(1e-9), 4)
        * 10000).cast("int").as("_rqi"))

  /** [[tokenBudgetSelect]] from an already-scored projection (the
    * [[tokenBudgetScore]] shape). The selection is a deterministic
    * function of the (id, tok_n, _rqi) SET, so running it over a stored
    * index of per-arrival scores equals the batch operator over the
    * concatenated history exactly.
    *
    * `cacheInput = false` makes the kernel's multiple passes re-read
    * `scored` instead of persisting it. The streaming view REQUIRES
    * this: its input is a path read of a store directory that every
    * ingest fold swap-replaces, and Spark's cache manager matches
    * cached plans by path — a persisted read would serve the PRE-swap
    * contents to every later view call AND to the ingest's own
    * state-merge reads (silent state corruption, not just a stale
    * view). Re-reading is cheap there: the store is the narrow
    * projection, already scored. */
  def tokenBudgetSelectScored(scored: DataFrame, idCol: String,
                              budgetFrac: Double,
                              maxBucketRows: Long = 4000000L,
                              cacheInput: Boolean = true): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1.0,
      s"budgetFrac must be in (0, 1], got $budgetFrac")
    require(maxBucketRows > 0,
      s"maxBucketRows must be > 0, got $maxBucketRows")
    val spark = scored.sparkSession
    import spark.implicits._
    // persist the NARROW scored projection (id, tok_n, rqi — tens of
    // bytes/row): tokenization+scoring is the dominant cost and feeds
    // the bucket aggregation, the (fat-path) boundary/sub-bucket passes,
    // and the window input; without the cache the corpus tokenizes once
    // per consumer. The session's between-queries sweep
    // (GraftSession.sweepCaches) reclaims it.
    val bucketed =
      if (cacheInput)
        scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else scored
    // one aggregation pass → ≤10001 (bucket, token-total, rows) rows;
    // everything the selection needs besides the per-row running sums
    // lives here (and the pass materializes the cache)
    val bt = bucketed.groupBy("_rqi")
      .agg(sum("tok_n").as("_bt"), count(lit(1)).as("_bn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    val budget = math.floor(budgetFrac * bt.map(_._2).sum).toLong
    // offset(b) = Σ token totals of all HIGHER buckets; a bucket whose
    // offset already EXCEEDS the budget cannot contribute a row — prune
    // it before it is ever split or sorted (off == budget stays: a
    // zero-token row there still satisfies cum == budget, matching the
    // reference global-order semantics)
    val bucketOffsets = bt.scanLeft((Int.MaxValue, 0L)) {
      case ((_, acc), (rqi, btot, _)) => (rqi, acc + btot)
    }.sliding(2).collect { case Array((_, off0), (rqi, _)) => (rqi, off0) }
      .toArray
    val keptOff = bucketOffsets.filter(_._2 <= budget).toMap
    if (keptOff.isEmpty)
      return bucketed.limit(0)
        .select(col(idCol), col("tok_n"), lit(0L).as("cum_tokens"))
    val keptBt = bt.filter(t => keptOff.contains(t._1))
    val minRqi = keptOff.keys.min
    // ---- level 2: split kept tie blocks fatter than maxBucketRows into
    // contiguous id ranges at frozen boundaries, drawn per id TYPE but
    // always COMPARED in the engine's own sort order for that type:
    //  - numeric ids: approx-percentile of CAST(id AS DOUBLE) (monotone
    //    cast, double-ties resolved inside one sub-bucket), numeric `>`;
    //  - string ids: sliced from an engine-sorted deterministic sample
    //    of the fat rows' ids, string `>` — a STRING id that parses as
    //    a number ("3000000" < "4" lexicographically) never leaves
    //    string space, so the numeric-cast reorder bug cannot arise.
    // Other id types keep every tie block as one sorted range — correct,
    // just unbounded for blocks beyond maxBucketRows.
    val idType = scored.schema(idCol).dataType
    val idNumeric =
      idType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    val idString = idType == org.apache.spark.sql.types.StringType
    val fat =
      if (!idNumeric && !idString) Map.empty[Int, Int]
      else keptBt.filter(_._3 > maxBucketRows)
        .map { case (rqi, _, bn) =>
          rqi -> math.min(1024L, (bn + maxBucketRows - 1) / maxBucketRows).toInt
        }.toMap
    // one pass over the FAT rows only: per-bucket percentile sketch of
    // the id at a shared grid sized to the LARGEST split count, sliced
    // down to each bucket's own s−1 boundaries driver-side (boundaries
    // only control balance — exactness never depends on where they
    // fall, so nearest-grid-point slicing is sufficient). A bucket
    // whose ids cast to NULL (non-numeric) sketches to no boundaries
    // and degrades to one range.
    val grid = if (fat.isEmpty) 0 else fat.values.max
    val bounds: Map[Int, Array[Double]] =
      if (fat.isEmpty || !idNumeric) Map.empty
      else bucketed.filter(col("_rqi").isin(fat.keys.toSeq: _*))
        .withColumn("_idd", col(idCol).cast("double"))
        .groupBy("_rqi")
        .agg(expr(s"approx_percentile(_idd, array(${
          (1 until grid).map(i => i.toDouble / grid).mkString(",")
        }), 10000)").as("_qs"))
        .collect().map { r =>
          val rqi = r.getInt(0)
          val s = fat(rqi)
          val qs = Option(r.getSeq[Double](1)).map(_.toArray)
            .getOrElse(Array.empty[Double])
          val picked =
            if (qs.isEmpty) Array.empty[Double]
            else (1 until s).map { i =>
              qs(math.min(qs.length - 1,
                math.max(0, math.round(i.toDouble / s * grid).toInt - 1)))
            }.toArray
          rqi -> picked
        }.toMap
    // STRING-id boundaries: one pass over the FAT rows only — a
    // deterministic md5-thresholded sample (~64 ids per target
    // sub-bucket; per-bucket fraction rides in as a broadcast join, not
    // a CASE chain) collected per bucket and sorted BY THE ENGINE
    // (sort_array = UTF8 binary comparison, identical to the window's
    // id ASC order), then sliced to s−1 evenly spaced boundaries
    // driver-side. Driver footprint ≤ 64·1024 ids per fat block, and
    // fat blocks number ≤ corpusRows/maxBucketRows by definition. A
    // bucket whose sample comes back empty simply gets no boundary row
    // and degrades to one range (balance lost, exactness untouched).
    val strBounds: Map[Int, Array[String]] =
      if (fat.isEmpty || !idString) Map.empty
      else {
        val fracDf = fat.toSeq.map { case (rqi, s) =>
          val bn = keptBt.find(_._1 == rqi).map(_._3).getOrElse(1L)
          (rqi, math.min(1.0, 64.0 * s / bn))
        }.toDF("_rqi", "_frac")
        bucketed.filter(col("_rqi").isin(fat.keys.toSeq: _*))
          .join(broadcast(fracDf), Seq("_rqi"))
          .filter(conv(substring(
              md5(concat(col(idCol), lit("#tbsel")).cast("binary")), 1, 8),
            16, 10).cast("double") < col("_frac") * lit(4294967296.0))
          .groupBy("_rqi")
          .agg(sort_array(collect_list(col(idCol))).as("_ids"))
          .collect().map { r =>
            val rqi = r.getInt(0)
            val s = fat(rqi)
            val ids = Option(r.getSeq[String](1)).map(_.toArray)
              .getOrElse(Array.empty[String])
            val picked =
              if (ids.isEmpty) Array.empty[String]
              else (1 until s).map { i =>
                ids(math.min(ids.length - 1, math.max(0,
                  math.round(i.toDouble / s * ids.length).toInt - 1)))
              }.distinct.toArray
            rqi -> picked
          }.toMap
      }
    // sub-bucket id of a row: #boundaries strictly below its id (in the
    // id type's own engine comparison; 0 for thin buckets). The
    // boundaries are FROZEN driver-side and ride in as a broadcast
    // (rqi → boundary-array) table consumed by a size(filter(...))
    // lookup — NOT as a per-bucket CASE chain: with thousands of fat
    // buckets × up to 1023 boundaries each (exactly the
    // concentrated-quality regime this kernel targets) an inlined
    // when/otherwise fold would build a plan with millions of expression
    // nodes and fall over in analysis/codegen before the window it
    // replaces ever would. The join keeps the plan size O(1) in the
    // bucket count; both the offset aggregation and the window apply the
    // identical deterministic assignment. The null branch is explicit
    // (thin bucket → no boundary row → _sub 0) rather than a coalesce
    // around size(NULL): under spark.sql.legacy.sizeOfNull=true,
    // size(NULL) is -1, not NULL — a coalesce would pass -1 through and
    // the offset join (which carries _sub = 0 for thin buckets) would
    // silently DROP every thin-bucket row. Correctness must not hinge
    // on a session conf.
    val boundsDf =
      if (idString)
        strBounds.toSeq.map { case (rqi, bs) => (rqi, bs.toSeq) }
          .toDF("_rqi", "_bs")
      else
        bounds.toSeq.map { case (rqi, bs) => (rqi, bs.toSeq) }
          .toDF("_rqi", "_bs")
    def withSub(df: DataFrame): DataFrame =
      if (fat.isEmpty) df.withColumn("_sub", lit(0))
      else df
        .join(broadcast(boundsDf), Seq("_rqi"), "left")
        .withColumn("_idc",
          if (idString) col(idCol) else col(idCol).cast("double"))
        .withColumn("_sub",
          when(col("_bs").isNull || col("_idc").isNull, lit(0))
            .otherwise(expr("size(filter(_bs, b -> _idc > b))")))
        .drop("_bs", "_idc")
    // per-(bucket, sub) token totals: thin buckets come straight from
    // the level-1 table; fat buckets pay one more aggregation over THEIR
    // rows only
    val fatSums: Map[(Int, Int), Long] =
      if (fat.isEmpty) Map.empty
      else withSub(bucketed.filter(col("_rqi").isin(fat.keys.toSeq: _*)))
        .groupBy("_rqi", "_sub").agg(sum("tok_n").as("_bt"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // compose the two-level offset table driver-side, in global order
    // (rqi DESC, sub ASC), pruning (rqi, sub) cells past the budget
    val cells: Seq[(Int, Int, Long)] = keptBt.toSeq.flatMap {
      case (rqi, btot, _) =>
        if (!fat.contains(rqi)) Seq((rqi, 0, btot))
        else fatSums.collect { case ((r, s), t) if r == rqi => (s, t) }
          .toSeq.sortBy(_._1).map { case (s, t) => (rqi, s, t) }
    }.sortBy { case (rqi, s, _) => (-rqi, s) }
    val offCells = cells.scanLeft(((0, 0), 0L)) {
      case (((_, _), acc), (rqi, s, t)) => ((rqi, s), acc + t)
    }.sliding(2).collect {
      case Seq(((_, _), off0), ((rqi, s), _)) => (rqi, s, off0)
    }.toSeq.filter(_._3 <= budget)
    val offDf = offCells.toDF("_rqi", "_sub", "_off")
    withSub(bucketed.filter(col("_rqi") >= minRqi))
      .join(broadcast(offDf), Seq("_rqi", "_sub"))
      .withColumn("_lc", sum("tok_n").over(
        Window.partitionBy("_rqi", "_sub")
          .orderBy(col(idCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_tokens", col("_off") + col("_lc"))
      .filter(col("cum_tokens") <= lit(budget))
      .select(col(idCol), col("tok_n"), col("cum_tokens"))
  }

  /** Training-shard manifest — assign every document to an output shard
    * of ≈`tokensPerShard` tokens, in the [[epochKey]] pseudo-random
    * order (the order a training run reads): shard_id =
    * floor(start_offset / tokensPerShard), where start_offset is the
    * running token total of all documents BEFORE this one. A document
    * straddling a boundary belongs to the shard where it starts (greedy
    * sequential semantics — shards overflow by at most one document).
    * Deterministic: re-running the manifest, or materializing shard 7
    * alone, reproduces identical assignments.
    *
    * Shape at scale: the same no-global-sort prefix sum as
    * [[tokenBudgetSelect]], keyed on the md5 epoch key instead of
    * quality — rows bucket by the key's first byte (256 order-preserving
    * ranges), cum-sum locally per bucket, add ≤256 broadcast offsets
    * (collected driver-side, size-gated by construction). The narrow
    * keyed projection persists for its two consumers; the session sweep
    * reclaims it.
    *
    * Returns (idCol, tok_n, shard_id). */
  def shardManifest(docs: DataFrame, textCol: String, idCol: String,
                    epoch: Int, tokensPerShard: Long): DataFrame = {
    require(tokensPerShard > 0,
      s"tokensPerShard must be > 0, got $tokensPerShard")
    val keyed = docs.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("tok_n"))
      .withColumn("_mk", epochKey(col(idCol), epoch))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact integer floor division: the double form loses integer
    // precision once the running token total passes 2^53 — at odds with
    // the documented floor(start/tokensPerShard) contract at 100 TB
    // (offsets are non-negative, so `div` IS floor here)
    startOffsets(keyed, idCol)
      .withColumn("shard_id", expr(s"_start div ${tokensPerShard}L"))
      .select(col(idCol), col("tok_n"), col("shard_id"))
  }

  /** The shared no-global-sort running-offset kernel of
    * [[shardManifest]] and the streaming shard twin: given a narrow
    * (idCol, tok_n, _mk) frame (caller persists it — tokenization is
    * the expensive part and this reads it twice), compute each row's
    * START offset in (_mk, id) order via 256 first-byte-bucketed
    * partial prefix sums plus a ≤256-row broadcast offset table.
    * Returns (idCol, tok_n, _start). */
  private[graft] def startOffsets(keyed: DataFrame,
                                  idCol: String): DataFrame = {
    val spark = keyed.sparkSession
    val bucketed = keyed.withColumn("_kb",
      conv(substring(col("_mk"), 1, 2), 16, 10).cast("int"))
    val bt = bucketed.groupBy("_kb").agg(sum("tok_n").as("_bt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets = bt.scanLeft((Int.MinValue, 0L)) {
      case ((_, acc), (kb, btot)) => (kb, acc + btot)
    }.sliding(2).collect { case Array((_, off0), (kb, _)) => (kb, off0) }
      .toArray
    import spark.implicits._
    // empty input: derive the empty frame FROM the input so the id
    // column keeps its real type — fabricating it from emptyDataFrame
    // with lit(0L) would type a string-id stream's empty-batch manifest
    // partition bigint and break schema merge on the manifest root
    if (offsets.isEmpty)
      return keyed.limit(0)
        .select(col(idCol), col("tok_n"), lit(0L).as("_start"))
    val offDf = offsets.toSeq.toDF("_kb", "_off")
    bucketed
      .withColumn("_lc", sum("tok_n").over(
        Window.partitionBy("_kb")
          .orderBy(col("_mk").asc, col(idCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offDf), Seq("_kb"))
      .withColumn("_start", col("_off") + col("_lc") - col("tok_n"))
      .select(col(idCol), col("tok_n"), col("_start"))
  }

  /** Deterministic fractional upsampling — the "repeat rare sources
    * 2.5× in the training mix" operator (data-constrained mixes repeat
    * high-value sources for multiple epochs while big sources run
    * under 1×): each document of source s appears
    * floor(f_s) + [u(id) < frac(f_s)] times, u the [[md5Uniform]] draw —
    * a pure function of row identity, so the realized copy counts are
    * identical on any engine, partitioning, or re-run, and per-source
    * expected volume is exactly f_s·n_s. Downsampling is the f < 1 case
    * of the same formula. Output rows carry `copy_idx` (0-based);
    * feed `epochKey(concat(id, '#', copy_idx), epoch)` to the epoch
    * shuffle so copies never ride adjacent in training order. Shape:
    * one narrow projection + explode — no shuffle; output volume is the
    * factor-weighted corpus size by construction. */
  def upsampleByFactor(docs: DataFrame, srcCol: String, idCol: String,
                       factors: Map[String, Double],
                       defaultFactor: Double = 1.0): DataFrame = {
    require((factors.values ++ Seq(defaultFactor)).forall(_ >= 0.0),
      "factors must be >= 0")
    val f = factors.foldLeft(lit(defaultFactor): Column) {
      case (acc, (s, v)) => when(col(srcCol) === s, lit(v)).otherwise(acc)
    }
    val u = md5Uniform(col(idCol))
    val n = (floor(f) +
      when(u < (f - floor(f)), lit(1)).otherwise(lit(0))).cast("int")
    docs.withColumn("_n", n).filter(col("_n") > 0)
      .withColumn("copy_idx", explode(sequence(lit(0), col("_n") - 1)))
      .withColumn("copy_idx", col("copy_idx").cast("long"))
      .drop("_n")
  }

  /** Temperature-scaled mixing weights per group (the multinomial
    * source/language re-balancing used when assembling a training mix):
    * with p_g the group's share of the corpus, q_g ∝ p_g^alpha
    * normalized. alpha=1 keeps natural proportions, alpha→0 approaches
    * uniform — upweighting rare sources at the expense of dominant ones.
    *
    * Distributed shape: one hash aggregation to per-group counts, then
    * unpartitioned windows over the GROUP table only — thousands of
    * groups at most, long after the corpus (billions of rows) has been
    * reduced, so the single-partition window is over provably tiny data.
    * Returns (group..., n_rows, p, q). */
  def mixWeights(df: DataFrame, groupCols: Seq[String],
                 alpha: Double): DataFrame = {
    val w = Window.partitionBy()
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("p", col("n_rows") / sum("n_rows").over(w))
      .withColumn("_qr", pow(col("p"), alpha))
      .withColumn("q", col("_qr") / sum("_qr").over(w))
      .drop("_qr")
  }

  /** Integer per-group sample budgets from the [[mixWeights]] quotas via
    * largest-remainder (Hamilton) apportionment: base = floor of each
    * group's raw quota, then the groups with the largest remainders
    * (group tie-break) absorb the leftover, so allocations sum EXACTLY
    * to `budget` — the number a sampler can act on, where the raw
    * expectation cannot. Raw quotas are rounded to 6 decimals before the
    * floor: pow/division differ in the last ulp across engines, and an
    * unrounded floor at an integer boundary would flip a whole row (the
    * weighted-sample cut lesson applied to apportionment). All windows
    * run over the per-GROUP weight table only — corpus-sized data never
    * reaches this operator. */
  def mixAllocation(df: DataFrame, groupCols: Seq[String], alpha: Double,
                    budget: Long): DataFrame = {
    val gcols = groupCols.map(col)
    val w = Window.partitionBy()
    val byRemainder = Window.partitionBy()
      .orderBy(col("_rem").desc +: gcols.map(_.asc): _*)
    mixWeights(df, groupCols, alpha)
      .withColumn("_raw", round(col("q") * budget + lit(1e-9), 6))
      .withColumn("_base", floor(col("_raw")).cast("long"))
      .withColumn("_rem", col("_raw") - col("_base"))
      .withColumn("_left", lit(budget) - sum("_base").over(w))
      .withColumn("_rk", row_number().over(byRemainder))
      .withColumn("alloc",
        col("_base") + when(col("_rk") <= col("_left"), 1L).otherwise(0L))
      .select(gcols :+ col("n_rows") :+ col("q") :+ col("alloc"): _*)
  }

  // --------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023).
  // Select raw-corpus documents that LOOK LIKE a small trusted target
  // set: fit a hashed bag-of-ngrams multinomial to each corpus, weight
  // every raw document by its target/raw log-likelihood ratio, then
  // resample with Gumbel-perturbed top-k (importance resampling without
  // replacement). Every step is deterministic: the feature hash and the
  // Gumbel uniform both derive from md5, so the same documents win on
  // any engine, run, or partitioning — the [[esKey]] design applied to
  // likelihood-ratio selection.

  /** Hashed n-gram features of a document: unigrams plus bigrams folded
    * into `numBuckets` via the engine-portable md5 bucket (the paper's
    * hashed n-gram feature space). Narrow per-row projection. */
  def dsirFeatures(text: Column, numBuckets: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    val grams = concat(toks, TextAnalysis.shinglesFromTokens(toks, 2))
    transform(grams, g => TextAnalysis.tokenBucket(g, numBuckets))
  }

  /** Per-bucket log importance ratio log p_target(b) − log p_raw(b),
    * each a Laplace-smoothed multinomial over the hashed feature space:
    * p(b) = (c(b) + α) / (C + α·B). Returns (bucket, lw) covering ALL
    * B buckets (unseen buckets carry the smoothed floor), so the score
    * join never drops a feature.
    *
    * Shape at scale: one explode + hash aggregation per corpus, both
    * map-side combined and bounded by B buckets out; the result is a
    * B-row table — broadcast material by construction. */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  numBuckets: Int, alpha: Double = 1.0): DataFrame = {
    val spark = raw.sparkSession
    val par = spark.sparkContext.defaultParallelism
    def bucketCounts(df: DataFrame): DataFrame =
      Par.fanOut(df, par)
        .select(explode(dsirFeatures(col(textCol), numBuckets)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("c"))
    val all = spark.range(numBuckets).select(col("id").as("bucket"))
    def smoothed(counts: DataFrame, name: String): DataFrame = {
      val tot = counts.agg(sum("c").as("tot"))
      all.join(counts, Seq("bucket"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          log((coalesce(col("c"), lit(0L)) + lit(alpha)) /
            (col("tot") + lit(alpha * numBuckets))).as(name))
    }
    smoothed(bucketCounts(target), "lt")
      .join(smoothed(bucketCounts(raw), "lr"), Seq("bucket"))
      .select(col("bucket"), (col("lt") - col("lr")).as("lw"))
  }

  /** [[dsirWeights]] for the common calibration shape where the target
    * is a FILTER of raw (target = raw.filter(isTarget)): one explode +
    * ONE hash aggregation computes BOTH bucket-count tables — the target
    * counts ride the raw pass as a conditional count — so the corpus is
    * featurized once instead of twice and the weight table assembles
    * from a single one-row totals broadcast instead of two independent
    * count→total→smooth pipelines (measured r21: ~2.3 s → ~0.9 s on the
    * curation pipeline's weight stage at sf0.1; at 100 TB it halves the
    * corpus passes). Output is IDENTICAL to
    * `dsirWeights(raw, raw.filter(isTarget), ...)`: same smoothing
    * arithmetic in the same evaluation order, and a null `isTarget`
    * counts as false exactly like `filter` drops null rows
    * (LmFusionSpec pins the parity). */
  def dsirWeightsWithin(raw: DataFrame, isTarget: Column, textCol: String,
                        numBuckets: Int, alpha: Double = 1.0): DataFrame = {
    val spark = raw.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val counts = Par.fanOut(raw, par)
      .select(isTarget.as("_t"),
        explode(dsirFeatures(col(textCol), numBuckets)).as("bucket"))
      .groupBy("bucket")
      .agg(count_if(col("_t")).as("tc"), count(lit(1)).as("rc"))
    val tot = counts.agg(sum("tc").as("ttot"), sum("rc").as("rtot"))
    val all = spark.range(numBuckets).select(col("id").as("bucket"))
    all.join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + lit(alpha)) /
          (col("ttot") + lit(alpha * numBuckets)))
          - log((coalesce(col("rc"), lit(0L)) + lit(alpha)) /
            (col("rtot") + lit(alpha * numBuckets)))).as("lw"))
  }

  /** Shared hashed-feature table for the self-trained DSIR shape
    * (target = filter of raw): ONE explode of the corpus produces
    * (id, _t, bucket) rows — the single featurization that
    * [[dsirWeightsFromFeatures]] (bucket counts) and
    * [[dsirScoreFromFeatures]] (per-doc log-weight sums) both consume.
    * Without the seam a calibrate-then-select pipeline featurizes the
    * corpus twice: once inside [[dsirWeightsWithin]] and once inside
    * [[dsirScore]] — at 100 TB, two full tokenize passes where one
    * suffices. Callers persist the returned frame (fixed-width
    * (long, bool, long) rows, MEMORY_AND_DISK) and unpersist once both
    * consumers are materialized; harness contexts sweep pinned state
    * between queries. */
  def dsirFeatureTable(raw: DataFrame, idCol: String, isTarget: Column,
                       textCol: String, numBuckets: Int): DataFrame = {
    val par = raw.sparkSession.sparkContext.defaultParallelism
    Par.fanOut(raw, par)
      .select(col(idCol).as("id"), isTarget.as("_t"),
        explode(dsirFeatures(col(textCol), numBuckets)).as("bucket"))
  }

  /** [[dsirWeightsWithin]] over a precomputed [[dsirFeatureTable]] —
    * identical arithmetic in the identical evaluation order (LmFusionSpec
    * pins bit-parity); the only difference is that the explode is read
    * from the shared table instead of re-run. */
  def dsirWeightsFromFeatures(feats: DataFrame, numBuckets: Int,
                              alpha: Double = 1.0): DataFrame = {
    val spark = feats.sparkSession
    val counts = feats
      .groupBy("bucket")
      .agg(count_if(col("_t")).as("tc"), count(lit(1)).as("rc"))
    val tot = counts.agg(sum("tc").as("ttot"), sum("rc").as("rtot"))
    val all = spark.range(numBuckets).select(col("id").as("bucket"))
    all.join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + lit(alpha)) /
          (col("ttot") + lit(alpha * numBuckets)))
          - log((coalesce(col("rc"), lit(0L)) + lit(alpha)) /
            (col("rtot") + lit(alpha * numBuckets)))).as("lw"))
  }

  /** [[dsirScore]] over a precomputed [[dsirFeatureTable]] — same
    * broadcast-join + per-doc aggregation, reading the shared table. */
  def dsirScoreFromFeatures(feats: DataFrame, weights: DataFrame,
                            seed: Int = 41): DataFrame =
    feats.select("id", "bucket")
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), sum("lw").as("logw"))
      .withColumn("key", col("logw") + gumbelKey(col("id"), seed))

  /** Gumbel(0,1) noise from row identity: −ln(−ln u) with u the md5
    * uniform of (seed, id) — the deterministic twin of the Gumbel-top-k
    * trick (adding Gumbel noise to log-weights and taking the top-k
    * samples k items WITHOUT replacement ∝ their importance weights). */
  def gumbelKey(id: Column, seed: Int): Column =
    -log(-log(md5Uniform(
      concat(lit(seed.toString), lit(":"), id.cast("string")))))

  /** Score every raw document under a [[dsirWeights]] table and rank by
    * Gumbel-perturbed log-weight. Returns (id, n_feats, logw, key);
    * `SELECT ... ORDER BY key DESC LIMIT k` — a TakeOrdered, no global
    * sort — is the DSIR-selected subset. Documents with no features
    * (under 1 token) are excluded: they carry no evidence either way.
    *
    * Shape at scale: explode → broadcast join on the B-row weight
    * table → one per-doc aggregation; texts never shuffle. */
  def dsirScore(raw: DataFrame, idCol: String, textCol: String,
                weights: DataFrame, numBuckets: Int,
                seed: Int = 41): DataFrame = {
    val par = raw.sparkSession.sparkContext.defaultParallelism
    Par.fanOut(raw, par)
      .select(col(idCol).as("id"),
        explode(dsirFeatures(col(textCol), numBuckets)).as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), sum("lw").as("logw"))
      .withColumn("key", col("logw") + gumbelKey(col("id"), seed))
  }
}
