package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline, binding the individual
  * operators into the product a reference user would actually run:
  *
  *   quality gate → language filter → exact dedup → near-dup clustering →
  *   keep-best-per-cluster → token chunking → per-shard sequence packing
  *
  * Every stage is the already-oracle-verified operator; this composition
  * adds the stage counts, read off the actions that materialize the
  * pinned stages (see [[run]]).
  *
  * Shape at 100 TB: stages 1-3 are narrow or single-shuffle; the near-dup
  * stage is the LSH path (linear candidates); chunk/pack shuffles carry
  * hashes, not text. The returned stats frame is a handful of rows.
  */
object Curate {

  /** The packed chunk table and the per-stage counts of [[run]].
    * `chunks` comes back persisted: write or otherwise consume it, then
    * call `release()`; after that it must not be read again. */
  final case class Result(chunks: DataFrame, stats: Seq[(String, Long)]) {
    /** Drop the cache backing `chunks` — call once it is published. */
    def release(): Unit = { chunks.unpersist(); () }
  }

  /** Batch curation of a whole corpus: quality + language gate → exact
    * dedup → MinHash LSH near-dup clusters → keep the best doc per
    * cluster → token chunks packed into per-source bins.
    *
    * One materialization yields both the stage counts and the frame the
    * caller writes (the [[incrementTail]] discipline; the reference's
    * count-per-stage anti-pattern, bronze_to_silver.py:190-219, pays a
    * full job per number):
    *  - the input and gate counts are `observe` metrics on the exact-
    *    dedup count, the one action over the input scan;
    *  - `exact`, the keep-best survivors and the packed chunks are each
    *    pinned and counted once, so every later stage (and the caller's
    *    write) reads the stage below from memory instead of re-running
    *    the gate, the dedup, tokenizing and packing from the scan;
    *  - the near-dup stage's own pins (shingles, LSH buckets) and the
    *    intermediate pins are dropped before this returns.
    *
    * The returned `chunks` is a catalog `persist`, not a lineage cut, so
    * its plan still shows every operator that built it, the pack Window
    * included. It stays pinned until the caller calls `Result.release()`. */
  def run(spark: SparkSession, docs: DataFrame,
          minQuality: Double = 0.35, lang: String = "en",
          jaccardThreshold: Double = 0.3,
          chunkSize: Int = 64, stride: Int = 64,
          binTokens: Int = 512): Result = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val obsIn = Observation(); val obsKept = Observation()

    // 1-2: quality + language gate (narrow projection), observed on
    // both sides.
    def gate(df: DataFrame): DataFrame =
      df.filter(TextAnalysis.qualityScore(col("text")) >= minQuality &&
        col("lang") === lang)
    val kept = gate(docs.observe(obsIn, nExpr))

    // 3: exact dedup (one shuffle on the content fingerprint); its count
    // is the one action over the input and fills both observations.
    val exact = Dedup.exactDedup(kept.observe(obsKept, nExpr), "text", "doc_id")
      .persist(level)
    val nExact = exact.count()
    val total = metric(obsIn, docs.count())
    val nKept = metric(obsKept, gate(docs).count())

    // 4-5: near-dup clusters via MinHash LSH, keep the best doc per
    // cluster (quality desc, id asc); singletons keep themselves.
    val pairs = Dedup.minhashNearDups(exact, "text", "doc_id",
      threshold = jaccardThreshold)
    val comp = Graph.componentsWithSize(pairs, "id_a", "id_b")
    // both CC arms are eager and cut lineage, so the pairs are never
    // read again: drop minhashNearDups' shingle and bucket pins now
    Graph.uncacheUnder(pairs, exact)
    val scored = comp.join(
      exact.select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(col("text")).as("q")), Seq("id"))
    val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("id").asc)
    val losers = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1).select(col("id").as("doc_id"))
    val unique = exact.join(losers, Seq("doc_id"), "left_anti").persist(level)
    val nUnique = unique.count()

    // 6-7: chunk + pack per source shard. The source rides the chunk id
    // as a struct instead of joining back: a broadcast join here would
    // keep its hash relation alive in the pinned table's lineage.
    val chunks = TextAnalysis.tokenChunks(
        unique.withColumn("_key", struct(col("doc_id"), col("source"))),
        "text", "_key", chunkSize, stride)
      .select(col("id.doc_id").as("id"), col("chunk_idx"), col("n_tok"),
        col("chunk_hash"), col("id.source").as("source"))
    val wPack = Window.partitionBy("source")
      .orderBy(col("id").asc, col("chunk_idx").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = chunks.withColumn("bin",
      floor((sum(col("n_tok")).over(wPack) - 1) / binTokens))
      .persist(level)
    val nChunks = packed.count()

    // packed is materialized: the stages below it, and the distributed
    // CC arm's checkpointed labels, are never read again
    exact.unpersist(); unique.unpersist(); Graph.freeCheckpoint(comp)
    Result(packed, Seq(
      "input_docs" -> total,
      "quality_lang_kept" -> nKept,
      "after_exact_dedup" -> nExact,
      "after_neardup_dedup" -> nUnique,
      "chunks" -> nChunks))
  }

  final case class IncResult(survivors: DataFrame, indexDelta: DataFrame,
                             stats: Seq[(String, Long)]) {
    /** Drop the caches backing `survivors`/`indexDelta` — call once both
      * are published. */
    def release(): Unit = { survivors.unpersist(); () }
  }

  private def nExpr = count(lit(1)).as("n")

  /** Read an observe-metric count, falling back to counting the stage
    * frame when the runtime plan dropped the CollectMetrics node: AQE's
    * empty-relation propagation replaces a join with a runtime-empty
    * side by an empty relation, discarding the other side's whole
    * subtree — including any observe node riding it (the
    * ObservationManager then resolves the observation with an EMPTY row
    * rather than leaving it pending). That happens exactly on the
    * degenerate day where a stage kills the entire batch (e.g. the model
    * gate keeps nothing), so the fallback counts run against tiny or
    * already-persisted frames; the normal path still pays zero extra
    * jobs. */
  private def metric(o: Observation, fallback: => Long): Long =
    o.get.get("n").map(_.asInstanceOf[Long]).getOrElse(fallback)

  /** Per-source ADAPTIVE quality gate — the fixed global threshold of
    * [[incremental]] silently over-prunes clean sources and under-prunes
    * noisy ones, because quality-score distributions differ BY SOURCE
    * (a forum dump and an encyclopedia dump do not share a cutoff).
    * This gate cuts each source at its OWN `pct` quantile: keep a doc
    * iff its quality ≥ the exact interpolated percentile of its source's
    * 4-dp-rounded scores. Rounding before the percentile and before the
    * comparison is what pins the boundary across engines (the repo-wide
    * ROUND(x+1e-9, 4) oracle discipline).
    *
    * Shape at scale: one aggregation to a sources-sized cutoff table
    * (exact `percentile` — per-group state is the source's score
    * multiset; for sources too hot for that, swap in approx_percentile
    * with a documented error budget), broadcast back, one filter. The
    * corpus never re-shuffles by source. Returns the kept rows with
    * `quality` and `cutoff` columns attached. */
  def adaptiveQualityGate(docs: DataFrame, keyCol: String,
                          textCol: String = "text",
                          pct: Double = 0.25): DataFrame =
    adaptiveQualityGateReleasable(docs, keyCol, textCol, pct)._1

  /** [[adaptiveQualityGate]] plus the explicit release handle for its
    * pinned scored frame — which carries the FULL text column, i.e. a
    * corpus-sized MEMORY_AND_DISK materialization at scale. Harness
    * contexts sweep pinned state between queries; a RESIDENT pipeline
    * must materialize the gated output and then call release(), or each
    * gate invocation leaks a corpus-sized cache generation (the
    * registry-wide contract documented on
    * [[Dedup.ngramJaccardPairsReleasable]]). */
  def adaptiveQualityGateReleasable(docs: DataFrame, keyCol: String,
                                    textCol: String = "text",
                                    pct: Double = 0.25)
      : (DataFrame, () => Unit) = {
    require(pct >= 0.0 && pct < 1.0, s"pct must be in [0, 1), got $pct")
    // Persisted (r21): `scored` feeds BOTH the cutoff aggregation (built
    // as a broadcast) and the gated main pass — unpersisted, the
    // regex-heavy qualityScore ran over the corpus twice.
    val scored = docs.withColumn("quality",
        round(TextAnalysis.qualityScore(col(textCol)) + lit(1e-9), 4))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cuts = scored.groupBy(col(keyCol))
      .agg(round(expr(s"percentile(quality, $pct)") + lit(1e-9), 4)
        .as("cutoff"))
    val gated = scored.join(broadcast(cuts), Seq(keyCol))
      .filter(col("quality") >= col("cutoff"))
    (gated, () => { scored.unpersist(); () })
  }

  /** Keep the BEST member of each duplicate cluster — the modern
    * alternative to keep-first/lowest-id dedup: when near-dup detection
    * has grouped documents into clusters (e.g.
    * `Dedup.ngramJaccardPairs` → `Graph.connectedComponents`), retain
    * the member with the highest quality score (4-dp-rounded; doc-id
    * tie-break), so the corpus keeps the cleanest copy of each piece of
    * content instead of whichever arrived first. One rank window
    * partitioned by cluster — the shuffle moves each cluster once. */
  def keepBestPerCluster(docs: DataFrame, clusterCol: String,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val scored = docs.withColumn("quality",
      round(TextAnalysis.qualityScore(col(textCol)) + lit(1e-9), 4))
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col("quality").desc, col(idCol).asc)
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** The daily-increment form of [[run]]: quality gate → within-batch +
    * against-index exact dedup → per-source cap. History is the
    * fingerprint index, never the documents — each day pays one pass over
    * its own batch plus fingerprint-keyed lookups. Union `indexDelta`
    * into the index after publishing the survivors.
    *
    * Driver discipline: the per-stage counts are `observe` metrics
    * collected on the ONE materializing action (the survivor count), not
    * repeated `count()` jobs — the reference's count-per-stage
    * anti-pattern (bronze_to_silver.py:190-219) pays a full job per
    * number; this pays zero extra. Each observe node sits on a
    * single-consumption edge directly above a persisted stage, so the
    * metric is the stage's exact row count.
    *
    * The returned `survivors` frame stays persisted so publishing it and
    * writing `indexDelta` (which derives from it) don't re-run the whole
    * gate/dedup/cap pipeline — call `release()` when both are written. */
  def incremental(batch: DataFrame, index: DataFrame,
                  minQuality: Double = 0.35,
                  perSourceCap: Int = 15): IncResult =
    incrementTail(batch,
      _.filter(TextAnalysis.qualityScore(col("text")) >= minQuality),
      index, perSourceCap, "quality_kept")

  /** The shared gate → dedup → cap tail of the two-stage increments
    * ([[incremental]], [[modelGated]]): observe the input, apply the
    * caller's gate, exact-dedup within the batch and against the index,
    * cap per source, and collect every stage count on the ONE
    * materializing action. `gateStat` names the gate stage in the
    * returned stats. */
  private def incrementTail(batch: DataFrame, gate: DataFrame => DataFrame,
                            index: DataFrame, perSourceCap: Int,
                            gateStat: String): IncResult = {
    val obsIn = Observation(); val obsKept = Observation()
    val obsDedup = Observation()
    // fan out before the regex-heavy gate (r22): a single-file daily
    // batch arrives as 1-3 scan partitions, serializing the gate AND
    // pinning the cached `kept` at that parallelism for every
    // downstream narrow stage (Par.fanOut is a no-op once the scan is
    // already parallel)
    val fanned = graft.ext.Par.fanOut(batch,
      batch.sparkSession.sparkContext.defaultParallelism)
    val kept = gate(fanned.observe(obsIn, nExpr))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deduped = Dedup.incrementalExactDedup(
        kept.observe(obsKept, nExpr), "text", "doc_id", index)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-source cap via the bounded top-k aggregate + broadcast semi
    // join, NOT a rank window: PARTITION BY source has #sources groups,
    // so the window form funnels the whole deduped corpus into #sources
    // sort tasks (the skew cliff at scale). The aggregate keeps the
    // perSourceCap smallest (md5, doc_id) keys per source map-side —
    // ≤ cap ids per (source, partition) cross the exchange — and the
    // surviving id set (≤ sources × cap rows) broadcasts back, so the
    // corpus itself never shuffles. Keep-set identical to the window:
    // same (md5 asc, doc_id asc) total order. The observation rides the
    // semi join's PROBE side (streams every deduped row exactly once in
    // the main stage — metrics under a broadcast subquery would never
    // reach the Observation listener).
    val capIds = deduped
      .groupBy("source")
      .agg(graft.functions.TopKSelectFunctions.topKSelect(
        md5(col("doc_id").cast("string")), col("doc_id"), Nil,
        perSourceCap, scoreDesc = false).as("_tk"))
      .select(explode(col("_tk.payload")).as("doc_id"))
    val capped = deduped.observe(obsDedup, nExpr)
      .join(broadcast(capIds), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCapped = capped.count() // the single action; fills every cache
    // stats BEFORE unpersist: the metric fallbacks (empty-batch
    // degenerate path only) count the still-cached stage frames
    val stats = Seq(
      "input" -> metric(obsIn, batch.count()),
      gateStat -> metric(obsKept, kept.count()),
      "after_dedup" -> metric(obsDedup, deduped.count()),
      "after_cap" -> nCapped)
    // capped is materialized, so the upstream caches can go now
    kept.unpersist(); deduped.unpersist()
    IncResult(capped, Dedup.survivorFingerprints(capped, "text"), stats)
  }

  /** [[incremental]] with a MODEL gate: the trained NB log-odds
    * classifier ([[TextAnalysis.nbTrainWeights]]) replaces the hand-rule
    * quality score — the CCNet-style curation shape where a model scores
    * every incoming document and only confident positives proceed to
    * dedup and capping. The gate cuts on the 4-decimal-rounded mean
    * log-odds (`> minScore`) so the decision is engine-reproducible.
    * Everything else (within-batch + against-index exact dedup,
    * per-source cap, observe-based stage counts, fingerprint delta) is
    * the [[incremental]] machinery unchanged. */
  def modelGated(batch: DataFrame, index: DataFrame, weights: DataFrame,
                 numBuckets: Int, minScore: Double = 0.0,
                 perSourceCap: Int = 15): IncResult = {
    val gateIds = TextAnalysis.nbScore(batch, "doc_id", "text",
        weights, numBuckets)
      .filter(round(col("nb_score") + lit(1e-9), 4) > minScore)
      .select(col("id").as("doc_id"))
    incrementTail(batch, _.join(gateIds, Seq("doc_id")),
      index, perSourceCap, "model_gate_kept")
  }

  final case class IncFullResult(survivors: DataFrame,
                                 fpDelta: DataFrame, sigDelta: DataFrame,
                                 stats: Seq[(String, Long)],
                                 private val cached: Seq[DataFrame]) {
    /** Drop the caches backing the survivors and both deltas — call once
      * all three are published. */
    def release(): Unit = { cached.foreach(_.unpersist()); () }
  }

  /** The FULL daily increment — [[incremental]] plus the near-dup stage:
    * quality gate → within-batch + against-fingerprint-index exact dedup
    * → against-SIGNATURE-index near-dup dedup → per-source cap. History
    * is two slim indices (32-byte fingerprints; 8·numPerms-byte MinHash
    * signatures) — historical text never participates. Returns the
    * survivors plus BOTH index deltas; union them in after publishing,
    * then call `release()`. This is the production shape end to end:
    * every stage's history side is index-sized, and each day pays one
    * pass over its own batch.
    *
    * ONE shingle pass per batch: the batch's signature table is computed
    * once (cached), feeds the banded join against the signature index,
    * and the signature delta is that same table semi-joined on the
    * surviving ids — tokenization never runs twice. Stage counts are
    * `observe` metrics on the single materializing action, as in
    * [[incremental]]. */
  def incrementalFull(batch: DataFrame, fpIndex: DataFrame,
                      sigIndex: DataFrame, minQuality: Double = 0.35,
                      estThreshold: Double = 0.5,
                      perSourceCap: Int = 15): IncFullResult = {
    val obsIn = Observation(); val obsKept = Observation()
    val obsExact = Observation(); val obsNear = Observation()
    // same single-file fan-out as incrementTail: the quality-gate regex
    // and the cached survivors otherwise run at the scan's parallelism
    val kept = graft.ext.Par.fanOut(batch,
        batch.sparkSession.sparkContext.defaultParallelism)
      .observe(obsIn, nExpr)
      .filter(TextAnalysis.qualityScore(col("text")) >= minQuality)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = Dedup.incrementalExactDedup(
        kept.observe(obsKept, nExpr), "text", "doc_id", fpIndex)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the batch's one shingle pass: cached, consumed by the banded join
    // below and by the sig delta after the cap. NOT observed — `exact`'s
    // count is taken on the anti-join edge, which consumes it once.
    val bSigs = Dedup.minhashSigTable(exact, "text", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nearDeduped = Dedup.incrementalMinhashDedupSigs(
        exact.observe(obsExact, nExpr), bSigs, "doc_id",
        sigIndex, estThreshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same aggregate-cap shape as [[incrementTail]]: ≤ cap ids per
    // (source, partition) shuffle, survivors broadcast back, corpus
    // never re-partitions by the #sources-cardinality key; observation
    // on the probe side for the same listener reason
    val capIds = nearDeduped
      .groupBy("source")
      .agg(graft.functions.TopKSelectFunctions.topKSelect(
        md5(col("doc_id").cast("string")), col("doc_id"), Nil,
        perSourceCap, scoreDesc = false).as("_tk"))
      .select(explode(col("_tk.payload")).as("doc_id"))
    val capped = nearDeduped.observe(obsNear, nExpr)
      .join(broadcast(capIds), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCapped = capped.count() // the single action; fills every cache
    // stats BEFORE unpersist, for the same degenerate-path fallback
    // reason as [[incrementTail]]
    val stats = Seq(
      "a_input" -> metric(obsIn, batch.count()),
      "b_quality" -> metric(obsKept, kept.count()),
      "c_exact_dedup" -> metric(obsExact, exact.count()),
      "d_neardup_dedup" -> metric(obsNear, nearDeduped.count()),
      "e_cap" -> nCapped)
    kept.unpersist(); exact.unpersist(); nearDeduped.unpersist()
    val sigDelta = bSigs
      .join(capped.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    IncFullResult(capped,
      Dedup.survivorFingerprints(capped, "text"),
      sigDelta,
      stats,
      cached = Seq(capped, bSigs))
  }

  final case class GramResult(cleaned: DataFrame, novelty: DataFrame,
                              contamination: DataFrame,
                              private val cached: Seq[DataFrame]) {
    /** Drop the shared gram cache — call once every consumer is
      * materialized/published. */
    def release(): Unit = { cached.foreach(_.unpersist()); () }
  }

  /** The three standard outputs of a near-dup clustering run, all
    * derived from ONE cluster assignment (see [[clusterReport]]).
    * `release()` frees the checkpointed assignment blocks — call once
    * every consumer is materialized/published. */
  final case class ClusterReport(assignments: DataFrame, split: DataFrame,
                                 keepBest: DataFrame, histogram: DataFrame,
                                 private val comp: DataFrame) {
    def release(): Unit = Graph.freeCheckpoint(comp)
  }

  /** ONE pair-generation + ONE connected-components pass feeding the
    * whole cluster-consumer family: leakage-guarded train/valid/test
    * split (keyed on the CLUSTER id), keep-best-per-cluster retention,
    * and the duplicate-cluster size histogram. The standalone registry
    * cells (`x_cluster_split`, `x_cluster_keep_best`,
    * `x_dup_cluster_histogram`, `x_dedup_clusters`) each rebuild the
    * shingle→pairs→CC artifact — correct for per-operator benching, but
    * a real curation run wants the clusters computed once (VERDICT r19
    * #2; the same one-pass seam [[Dedup.ngramJaccardPairsWithIndex]]
    * proved out one level down for shingles). Measured: the composed
    * report costs ~one family member, not four (SCALE.md r20).
    *
    * Shape at scale: the pair generator is the blocked inverted-index
    * join (never cross-source all-pairs); CC is eager (driver union-find
    * under the size gate, else checkpointed label propagation), so by
    * the time this returns, the expensive lineage has run exactly once
    * and the shingle index is already released — the three outputs
    * re-join only the docs scan against the small assignment table.
    * Singletons keep their own id as cluster_id, exactly like the
    * standalone cells. */
  def clusterReport(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", blockCol: String = "source",
                    shingleN: Int = 3, threshold: Double = 0.02,
                    splits: Seq[(String, Int)] =
                      Seq("train" -> 80, "valid" -> 90, "test" -> 100))
      : ClusterReport = {
    val (pairs, _, releaseIdx) = Dedup.ngramJaccardPairsWithIndex(
      docs, textCol, idCol, blockCol, shingleN, threshold)
    val comp = Graph.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    // CC has fully consumed the pair lineage (it is eager on both its
    // arms), so the pinned shingle index can go NOW — no consumer below
    // ever re-shingles
    releaseIdx()
    // Explicit size-gated broadcast of the assignment table (ADVICE r20):
    // on the driver-union-find arm comp is a LocalRelation and Spark's
    // size estimate already broadcasts it, but on the distributed-CC arm
    // comp is a localCheckpoint-backed LogicalRDD with NO size stats —
    // the planner would default it to defaultSizeInBytes and fall to
    // SortMergeJoin on exactly the "small assignment table re-join" this
    // seam exists for. Gate on a cheap count of the already-materialized
    // checkpoint (driver arm skips even that); past the gate the
    // assignment table at 100 TB is genuinely too big to broadcast and
    // the shuffle join is the right plan.
    val compIsLocal = comp.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val compHint =
      if (compIsLocal || comp.count() <= 4000000L) broadcast(comp) else comp
    val assigned = docs.join(compHint, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val split = assigned
      .withColumn("split",
        Sampling.deterministicSplit(col("cluster_id"), splits))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
    val keepBest = keepBestPerCluster(
        assigned.select(col(idCol), col(textCol), col("cluster_id")),
        "cluster_id", textCol, idCol)
      .select(col("cluster_id"), col(idCol), col("quality"))
    val histogram = assigned
      .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"),
        sum("csize").cast("long").as("n_docs"))
    ClusterReport(assigned.select(col(idCol), col("cluster_id")),
      split, keepBest, histogram, comp)
  }

  /** ONE gram pass across the k-gram operator family — span-dedup
    * surgery, novelty scoring, and benchmark decontamination all read
    * the SAME persisted (id, pos, md5) gram table, so a curation
    * pipeline using several of them tokenizes and hashes the corpus
    * once, not once per operator (the [[incrementalFull]] one-shingle-
    * pass discipline extended to grams). Contamination's test set is
    * `isTest`; its distinct per-doc grams derive from the positioned
    * stream ([[Dedup.ngramContaminationGrams]] — identical md5s, so
    * identical results to the standalone operators, spec-pinned).
    *
    * Shape at scale: the gram table is the fixed-width (id, pos, md5)
    * stream — persisted MEMORY_AND_DISK because at corpus scale it
    * spills; every downstream consumer is the already-verified
    * aggregation/join shape over that one materialization. */
  def gramPipeline(docs: DataFrame, textCol: String, idCol: String,
                   isTest: Column, k: Int): GramResult = {
    val grams = Dedup.tokenGramHashes(docs, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    GramResult(
      cleaned = Dedup.removeDuplicatedSpansGrams(docs, textCol, idCol,
        grams, k),
      novelty = Dedup.gramNoveltyGrams(grams),
      contamination = Dedup.ngramContaminationGrams(grams,
        docs.select(col(idCol).as("id"), isTest.as("is_test"))),
      cached = Seq(grams))
  }
}
