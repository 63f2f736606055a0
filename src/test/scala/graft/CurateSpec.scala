package graft

import org.apache.spark.sql.functions._
import graft.ext.{Curate, TextAnalysis}

/** End-to-end curation pipeline: monotone stage counts, no surviving
  * exact duplicates, packed chunks cover every surviving doc. */
class CurateSpec extends SparkTestBase {

  test("curate chains quality -> dedup -> cluster -> chunk -> pack") {
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001")
    val res = Curate.run(spark, docs)
    val s = res.stats.toMap
    assert(s("input_docs") > 0)
    assert(s("quality_lang_kept") <= s("input_docs"))
    assert(s("after_exact_dedup") <= s("quality_lang_kept"))
    assert(s("after_neardup_dedup") <= s("after_exact_dedup"))
    assert(s("after_neardup_dedup") > 0)
    assert(s("chunks") >= s("after_neardup_dedup")) // every doc yields >= 1 chunk

    // no two surviving chunks' docs share a content fingerprint
    val out = res.chunks.select(col("id")).distinct()
      .join(docs, col("id") === col("doc_id"))
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    assert(out.count() === out.distinct().count())

    // bins respect the per-shard running-sum assignment: within a source,
    // bin ids are non-decreasing in (id, chunk_idx) order
    val viol = res.chunks
      .withColumn("prev_bin", lag(col("bin"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("id").asc, col("chunk_idx").asc)))
      .filter(col("prev_bin").isNotNull && col("bin") < col("prev_bin"))
      .count()
    assert(viol === 0)
    res.release()
  }

  /** Node names of `df`'s executed plan as the SQL listeners see it:
    * SparkPlanInfo descends into each cached relation's own plan. */
  private def planInfoNames(p: org.apache.spark.sql.execution.SparkPlanInfo)
      : Set[String] =
    p.children.flatMap(planInfoNames).toSet + p.nodeName

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty

  test("Curate.run materializes once: stats match a count per stage, the " +
    "write reads the pinned chunks, release() empties every cache") {
    import graft.ext.{Dedup, Graph}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    import org.apache.spark.sql.expressions.Window
    GraftSession.sweepCaches(spark)
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001")
    val res = Curate.run(spark, docs)

    // the write reads the pinned table: no tokenize explode above the
    // cache boundary (the InMemoryRelation block prints the plan that
    // built the cache — cut the string there, as in incrementalFull)
    val plan = res.chunks.queryExecution.executedPlan.toString
    val cacheAt = plan.indexOf("InMemoryRelation")
    assert(cacheAt >= 0, plan)
    val outer = plan.substring(0, cacheAt)
    assert(outer.contains("InMemoryTableScan"), plan)
    assert(!outer.contains("Generate"), outer)

    // ...and its plan info, nested cached plans included, still shows the
    // pack/keep-best windows and the aggregates beneath them
    val tag = s"curate-write-${System.nanoTime}"
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description == tag =>
          execs.add(s.executionId)
          planInfoNames(s.sparkPlanInfo).foreach(seen.add)
        case u: SparkListenerSQLAdaptiveExecutionUpdate
            if execs.contains(u.executionId) =>
          planInfoNames(u.sparkPlanInfo).foreach(seen.add)
        case _ =>
      }
    }
    val out = java.nio.file.Files.createTempDirectory("graft-curate")
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobDescription(tag)
      res.chunks.write.mode("overwrite").parquet(s"$out/chunks")
      sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline &&
          !(seen.contains("Window") && seen.contains("HashAggregate")))
        Thread.sleep(100)
    } finally sc.removeSparkListener(l)
    assert(seen.contains("Window") && seen.contains("HashAggregate"), seen)
    val written = spark.read.parquet(s"$out/chunks")
    assert(written.count() === res.stats.toMap.apply("chunks"))

    res.release()
    assert(cacheIsEmpty, "release() must leave no cache entry or pinned RDD")

    // the old formulation: one count() per stage over unpinned frames
    val gated = docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.35 &&
      col("lang") === "en")
    val exact = Dedup.exactDedup(gated, "text", "doc_id")
    val comp = Graph.componentsWithSize(
      Dedup.minhashNearDups(exact, "text", "doc_id", threshold = 0.3),
      "id_a", "id_b")
    val losers = comp
      .join(exact.select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(col("text")).as("q")), Seq("id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("q").desc, col("id").asc)))
      .filter(col("rn") > 1).select(col("id").as("doc_id"))
    val unique = exact.join(losers, Seq("doc_id"), "left_anti")
    val packed = TextAnalysis.tokenChunks(unique, "text", "doc_id", 64, 64)
      .join(unique.select(col("doc_id").as("id"), col("source")), Seq("id"))
      .withColumn("bin", floor((sum(col("n_tok")).over(
        Window.partitionBy("source").orderBy(col("id").asc, col("chunk_idx").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1) / 512))
    assert(res.stats === Seq(
      "input_docs" -> docs.count(),
      "quality_lang_kept" -> gated.count(),
      "after_exact_dedup" -> exact.count(),
      "after_neardup_dedup" -> unique.count(),
      "chunks" -> packed.count()))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "chunk_idx", "n_tok", "chunk_hash", "source", "bin")
        .orderBy("id", "chunk_idx").collect().toSeq
    assert(rows(written) === rows(packed))
    GraftSession.sweepCaches(spark)
    deleteTree(out)
  }

  test("Curate.run: three run/write/release rounds leave storage flat") {
    GraftSession.sweepCaches(spark)
    val sc = spark.sparkContext
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graft-curate")
    // storage memory in use: cached blocks plus broadcasts, which the
    // context cleaner drops once a GC finds their plans unreachable
    def used(): Long =
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    // the floor the suite's earlier broadcasts settle to: GC until a
    // reading repeats
    val base = Iterator.continually { System.gc(); Thread.sleep(250); used() }
      .sliding(2).take(40).find(w => w(0) == w(1)).map(_.head)
      .getOrElse(used())
    def settled(): Long = {
      val deadline = System.currentTimeMillis() + 20000
      var u = used()
      while (u > base && System.currentTimeMillis() < deadline) {
        System.gc(); Thread.sleep(250); u = used()
      }
      u
    }
    def round(i: Int): Unit = {
      val res = Curate.run(spark, docs)
      res.chunks.write.mode("overwrite").parquet(s"$out/r$i")
      assert(sc.getRDDStorageInfo.exists(_.memSize > 0),
        "the chunk table comes back pinned")
      res.release()
      assert(cacheIsEmpty, s"round $i left a cache entry or pinned RDD")
    }
    try {
      val after = (1 to 3).map { i => round(i); settled() }
      assert(after.forall(_ <= base), s"storage grew past $base B: $after")
    } finally deleteTree(out)
  }

  test("Graph.uncacheUnder: three resident rounds per pinning operator " +
    "leave only the caller's pinned input cached") {
    import graft.ext.{Dedup, Graph}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    GraftSession.sweepCaches(spark)
    assert(cacheIsEmpty)
    val sc = spark.sparkContext
    val classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cm = classicSpark.sharedState.cacheManager
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001").persist()
    docs.count()
    val docsRdds = sc.getPersistentRDDs.keySet.toSet
    assert(docsRdds.size === 1)
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ngramJaccardPairs" ->
        (d => Dedup.ngramJaccardPairs(d, "text", "doc_id", "source", 3, 0.02)),
      "jaccardPairsPrefix" ->
        (d => Dedup.jaccardPairsPrefix(d, "text", "doc_id", "source", 3, 0.5)),
      // rounded: the per-doc sum's addition order follows shuffle arrival
      "bm25" ->
        (d => TextAnalysis.bm25(d, "text", "doc_id", Seq("hash", "join", "filter"))
          .select(col("id"), round(col("bm25"), 9).as("bm25"))),
      "adaptiveQualityGate" -> (d => Curate.adaptiveQualityGate(d, "source")))
    try for ((name, op) <- ops) {
      val rounds = (1 to 3).map { i =>
        val consumed = op(docs)
        val rows = consumed.collect().map(_.toString).sorted.toSeq
        assert(sc.getPersistentRDDs.size > 1, s"$name pins nothing internally")
        val pins = consumed.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => r.cacheBuilder.logicalPlan
        }
        Graph.uncacheUnder(consumed, docs)
        assert(sc.getPersistentRDDs.keySet.toSet === docsRdds,
          s"$name round $i left a pinned RDD")
        val docsEntry = cm.lookupCachedData(
          docs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        assert(docsEntry.isDefined, s"$name round $i dropped the caller's docs pin")
        assert(pins.flatMap(cm.lookupCachedData(classicSpark, _))
            .forall(_ eq docsEntry.get), s"$name round $i left a cache entry")
        rows
      }
      assert(rounds.head.nonEmpty, name)
      rounds.tail.foreach(r => assert(r === rounds.head, name))
    } finally docs.unpersist(blocking = true)
    assert(cacheIsEmpty)
  }

  test("modelGated curation: gate, index dedup, and in-batch dedup each bite") {
    import graft.ext.Dedup
    import spark.implicits._
    val seed = Seq(
      (1L, "clean prose reads well tonight", 1),
      (2L, "clean prose flows well today", 1),
      (3L, "spam junk noise garbage spam", 0),
      (4L, "junk noise spam garbage junk", 0))
      .toDF("doc_id", "text", "label")
    val wts = TextAnalysis.nbTrainWeights(seed, "text", $"label" === 1,
      numBuckets = 64)
    val index = seed
      .select(TextAnalysis.fingerprint($"text").as("fingerprint")).distinct()
    val batch = Seq(
      (10L, "clean prose reads well", "A"),    // positive, fresh → survives
      (11L, "junk noise spam garbage", "A"),   // negative → model gate kills
      (12L, "clean prose reads well tonight", "A"), // exact seed copy → index kills
      (13L, "clean prose reads well", "A"))    // in-batch dup of 10 → window kills
      .toDF("doc_id", "text", "source")
    val r = Curate.modelGated(batch, index, wts, numBuckets = 64)
    val s = r.stats.toMap
    assert(s("input") === 4)
    assert(s("model_gate_kept") === 3) // only 11 fails the classifier
    assert(s("after_dedup") === 1)     // 12 via index, 13 via in-batch window
    assert(s("after_cap") === 1)
    assert(r.survivors.select("doc_id").as[Long].collect().toSeq === Seq(10L))
    // the fingerprint delta covers exactly the survivors
    assert(r.indexDelta.count() === 1)
    assert(Dedup.survivorFingerprints(
      batch.filter($"doc_id" === 10), "text").collect().toSeq ===
      r.indexDelta.collect().toSeq)
    r.release()
  }

  test("modelGated stats survive a batch the gate kills entirely") {
    // When the gate keeps ZERO rows, AQE's empty-relation propagation
    // replaces the downstream joins with empty relations and discards
    // the observe nodes riding their probe sides — the ObservationManager
    // then resolves those observations with an EMPTY row. The stats must
    // still be exact (metric falls back to counting the stage frames).
    import spark.implicits._
    val seed = Seq(
      (1L, "clean prose reads well tonight", 1),
      (3L, "spam junk noise garbage spam", 0))
      .toDF("doc_id", "text", "label")
    val wts = TextAnalysis.nbTrainWeights(seed, "text", $"label" === 1,
      numBuckets = 64)
    val index = seed
      .select(TextAnalysis.fingerprint($"text").as("fingerprint")).distinct()
    val batch = Seq(
      (10L, "junk noise spam garbage", "A"),
      (11L, "garbage spam junk noise junk", "B"))
      .toDF("doc_id", "text", "source")
    val r = Curate.modelGated(batch, index, wts, numBuckets = 64)
    val s = r.stats.toMap
    assert(s("input") === 2)
    assert(s("model_gate_kept") === 0)
    assert(s("after_dedup") === 0)
    assert(s("after_cap") === 0)
    assert(r.survivors.isEmpty)
    r.release()
  }

  test("incremental curation: monotone stages, exact index delta, cap binds") {
    import graft.ext.Dedup
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001")
    val index = Dedup.survivorFingerprints(
      docs.filter(col("doc_id") < 250), "text").distinct()
    val batch = docs.filter(col("doc_id") >= 250)
      .unionByName(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val r = Curate.incremental(batch, index, perSourceCap = 5)
    val s = r.stats.toMap
    assert(s("input") === batch.count())
    assert(s("quality_kept") <= s("input"))
    assert(s("after_dedup") <= s("quality_kept"))
    assert(s("after_cap") <= s("after_dedup"))
    // every re-keyed index dup must die in the dedup stage
    assert(r.survivors.filter(col("doc_id") >= 1000000L).count() === 0)
    // cap binds: no source keeps more than 5
    val maxPerSource = r.survivors.groupBy("source").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerSource <= 5)
    // the index delta is exactly the survivors' fingerprints
    assert(r.indexDelta.count() === s("after_cap"))
  }

  test("incrementalFull: each stage drops its own kind of document") {
    import graft.ext.{Dedup, TextAnalysis}
    import spark.implicits._
    def sentence(p: String) =
      s"the quick brown $p fox jumps over the lazy dog and the cat is in the house on the hill " * 3
    val hist = Seq((1L, "a", sentence("one")), (2L, "a", sentence("two")))
      .toDF("doc_id", "source", "text")
    val fpIndex = hist
      .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .distinct()
    val sigIndex = Dedup.minhashSigTable(hist, "text", "doc_id")
    val batch = Seq(
      (10L, "a", "x"),                                // junk → stage b
      (11L, "a", sentence("one")),                    // exact history copy → stage c
      (12L, "a", sentence("two") + " tail tok1 tok2"), // near-copy → stage d
      // genuinely fresh: shares no template with history (a doc built
      // from the SAME sentence template is, correctly, a near-dup)
      (13L, "a", "apples and oranges are sold at the market on every " +
        "sunday while the children play in the park near the river " * 3),
      (14L, "a", "apples and oranges are sold at the market on every " +
        "sunday while the children play in the park near the river " * 3)
      // 14 is an in-batch exact dup of 13 → stage c
    ).toDF("doc_id", "source", "text")
    val r = Curate.incrementalFull(batch, fpIndex, sigIndex,
      minQuality = 0.35, estThreshold = 0.5, perSourceCap = 15)
    assert(r.stats === Seq(
      "a_input" -> 5L, "b_quality" -> 4L, "c_exact_dedup" -> 2L,
      "d_neardup_dedup" -> 1L, "e_cap" -> 1L))
    assert(r.survivors.select("doc_id").as[Long].collect().toSeq === Seq(13L))
    // both deltas describe exactly the survivors
    assert(r.fpDelta.count() === 1L && r.sigDelta.count() === 1L)
    // the sig delta's values are the SAME signatures the banded join used
    // (a semi-join on the cached table), byte-identical to recomputing
    // them from the survivor's text
    val expected = graft.ext.Dedup
      .minhashSigTable(r.survivors, "text", "doc_id")
      .select("sig").as[Seq[Long]].head()
    assert(r.sigDelta.select("sig").as[Seq[Long]].head() === expected)
    r.release()
  }

  test("incremental/incrementalFull collect all stage counts on one action") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.ext.Dedup
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        names.add(funcName + ":" + qe.logical.nodeName)
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001")
    val index = Dedup.survivorFingerprints(
      docs.filter(col("doc_id") < 250), "text").distinct()
    val batch = docs.filter(col("doc_id") >= 250)
    // listener delivery is async — poll until the count stops moving
    def settled(): Int = {
      var last = -1
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline && actions.get() != last) {
        last = actions.get(); Thread.sleep(300)
      }
      actions.get()
    }
    spark.listenerManager.register(listener)
    try {
      val r = Curate.incremental(batch, index)
      assert(r.stats.map(_._1) ===
        Seq("input", "quality_kept", "after_dedup", "after_cap"))
      assert(r.stats.forall(_._2 > 0))
      assert(settled() === 1,
        "incremental's stage counts must ride the single materializing action")
      r.release()

      actions.set(0)
      val sigIndex = Dedup.minhashSigTable(
        docs.filter(col("doc_id") < 250), "text", "doc_id")
      val rf = Curate.incrementalFull(batch, index, sigIndex)
      assert(rf.stats.map(_._1) ===
        Seq("a_input", "b_quality", "c_exact_dedup", "d_neardup_dedup", "e_cap"))
      assert(settled() === 1,
        s"incrementalFull must run one action, saw: ${names.toArray.mkString(", ")}")
      // one shingle pass: with the batch signatures cached, the sig
      // delta's OUTER plan reads the in-memory table — no Generate
      // (shingle explode) above the cache boundary. (The InMemoryRelation
      // block prints the plan that BUILT the cache, which rightly contains
      // the one explode — cut the string there.)
      val deltaPlan = rf.sigDelta.queryExecution.executedPlan.toString
      val cacheAt = deltaPlan.indexOf("InMemoryRelation")
      assert(cacheAt >= 0, deltaPlan)
      val outer = deltaPlan.substring(0, cacheAt)
      assert(outer.contains("InMemoryTableScan"), deltaPlan)
      assert(!outer.contains("Generate"), outer)
      rf.release()
    } finally spark.listenerManager.unregister(listener)
  }

  test("gramPipeline: one gram pass feeds spans, novelty, and contamination") {
    import graft.ext.Dedup
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001")
    val isTest = col("doc_id") % 47 === 0
    val r = Curate.gramPipeline(docs, "text", "doc_id", isTest, k = 5)
    // identical results to the standalone operators (which each run
    // their own gram pass)
    assert(r.cleaned.orderBy("id").collect().toSeq ===
      Dedup.removeDuplicatedSpans(docs, "text", "doc_id", 5)
        .orderBy("id").collect().toSeq)
    assert(r.novelty.orderBy("id").collect().toSeq ===
      Dedup.gramNovelty(docs, "text", "doc_id", 5)
        .orderBy("id").collect().toSeq)
    // n_grams is long from the stream vs int from the array form —
    // align the types, then the values must match exactly
    assert(r.contamination
        .select(col("id"), col("n_grams").cast("long"), col("n_shared"),
          col("contamination"))
        .orderBy("id").collect().toSeq ===
      Dedup.ngramContamination(docs, "text", "doc_id", isTest, 5)
        .select(col("id"), col("n_grams").cast("long"), col("n_shared"),
          col("contamination"))
        .orderBy("id").collect().toSeq)
    // ONE tokenize+hash pass: every consumer's OUTER plan reads the
    // shared in-memory gram table — no Generate (the gram explode)
    // above the cache boundary. (The InMemoryRelation block prints the
    // plan that BUILT the cache, which rightly contains the one explode
    // — cut the string there, as in the incrementalFull test.)
    for (df <- Seq(r.cleaned, r.novelty, r.contamination)) {
      val plan = df.queryExecution.executedPlan.toString
      val cacheAt = plan.indexOf("InMemoryRelation")
      assert(cacheAt >= 0, plan)
      val outer = plan.substring(0, cacheAt)
      assert(outer.contains("InMemoryTableScan"), plan)
      assert(!outer.contains("Generate"), outer)
    }
    r.release()
  }

  test("clusterReport: ONE pair-gen + ONE CC reproduces every standalone " +
    "cluster-family output (split, keep-best, histogram, assignments)") {
    import graft.ext.{Curate, Dedup, Graph, Sampling}
    val docs = model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "source")
    val rep = Curate.clusterReport(docs)

    // standalone constructions, rebuilt per operator exactly like the
    // registry cells they mirror
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      "source", 3, 0.02)
    val comp = Graph.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    val assigned = docs.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))

    // assignments: every doc present, singletons self-labeled
    assert(rep.assignments.count() === docs.count())
    assert(rep.assignments.orderBy("doc_id").collect().toSeq ===
      assigned.select("doc_id", "cluster_id").orderBy("doc_id")
        .collect().toSeq)

    val split0 = assigned.withColumn("split",
        Sampling.deterministicSplit(col("cluster_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
    assert(rep.split.orderBy("split").collect().toSeq ===
      split0.orderBy("split").collect().toSeq)

    val kb0 = Curate.keepBestPerCluster(
        assigned.select(col("doc_id"), col("text"), col("cluster_id")),
        "cluster_id")
      .select("cluster_id", "doc_id", "quality")
    assert(rep.keepBest.orderBy("cluster_id").collect().toSeq ===
      kb0.orderBy("cluster_id").collect().toSeq)

    val hist0 = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"),
        sum("csize").cast("long").as("n_docs"))
    assert(rep.histogram.orderBy("csize").collect().toSeq ===
      hist0.orderBy("csize").collect().toSeq)
    rep.release()
  }
}
