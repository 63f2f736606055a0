package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale properties the engine promises must be
  * visible in the executed plan, not just hoped for. A regression that
  * adds a shuffle, drops a pushed filter, or de-broadcasts a dim join
  * fails here before it fails at 100 TB. */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("S2: filters and projection reach the parquet scan") {
    val p = plan(SparkEntry.queries("s2_scan_filter_project")(spark, dir))
    assert(p.contains("PushedFilters:"), "no pushed filters in scan")
    assert(p.contains("EqualTo(event_type,click)") || p.contains("IsNotNull(event_type)"),
      s"event_type filter not pushed:\n$p")
    // projection pruning: the scan must not read props/ts
    assert(!p.contains("props"), "scan reads unused column props")
  }

  test("s_agg_pushdown_stats: MIN/MAX/COUNT answered from parquet footers") {
    val p = plan(SparkEntry.queries("s_agg_pushdown_stats")(spark, dir))
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate not pushed to the scan:\n$p")
  }

  test("J3: dimension joins broadcast, no shuffled dim") {
    val p = plan(SparkEntry.queries("j3_star_join_revenue")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"customer join is not broadcast:\n$p")
  }

  test("silver chain: exactly two exchanges (dedup key + zscore key)") {
    val p = plan(Pipeline.silver(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 hash exchanges, found $exchanges:\n$p")
  }

  test("brute-force topk: corpus never shuffles, queries broadcast") {
    val emb = model.Tables.embeddings(spark, dir)
    val p = plan(ext.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10))
    assert(p.contains("BroadcastNestedLoopJoin"), s"query set not broadcast:\n$p")
  }

  test("A1 aggregation is partial+final hash aggregation over one shuffle") {
    val b = model.Tables.eventsAsReadings(model.Tables.events(spark, dir))
    val p = plan(gold.Gold.windowAgg(b, Seq("sensor_id"), "event_time", "value",
      "5 minutes", approxPercentiles = true))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, found $exchanges")
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate"))
  }

  test("range join: tiny band table broadcast, fact never shuffles pre-agg") {
    val p = plan(SparkEntry.queries("j_range_join_bands")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), s"band table not broadcast:\n$p")
  }

  test("Q3 top-k: broadcast dim, pushed date filters, TakeOrdered (no global sort)") {
    val p = plan(SparkEntry.queries("agg_tpch_q3_topk")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"customer join not broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("GreaterThan(l_shipdate"), s"shipdate filter not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ordered limit compiles to a global sort instead of top-k:\n$p")
  }

  test("top-k sort/limit compiles to TakeOrderedAndProject") {
    val p = plan(SparkEntry.queries("sort_topk_orders")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"global sort for a limit query:\n$p")
  }

  test("Q7: filtered order set broadcast — the fact never sort-merge joins") {
    val p = plan(SparkEntry.queries("j7_volume_bi_nation")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"filtered dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"lineitem shuffles into a sort-merge join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 hash exchange (final agg), found $exchanges:\n$p")
  }

  test("Q18: single fact pass — filtered HAVING aggregate broadcast to orders") {
    val p = plan(SparkEntry.queries("j18_large_orders")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"big-order set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"orders shuffles into a sort-merge join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"ordered limit became a global sort:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 3, s"expected <=3 scans (lineitem once, orders, customer), found $scans:\n$p")
  }

  test("Q10: selective star join broadcasts dims and compiles top-k") {
    val p = plan(SparkEntry.queries("j10_returned_top_customers")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"ordered limit became a global sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag)") ||
      p.contains("EqualTo(l_returnflag,R)"), s"returnflag filter not pushed:\n$p")
  }

  test("winsorize: percentile aggregate joins back as a broadcast") {
    val p = plan(SparkEntry.queries("p_winsorize_clip")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"per-type percentile table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"events shuffle for the clip join:\n$p")
  }

  test("SelfDotToNormSq rule: graft_dot(x,x) strength-reduces, results identical") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val emb = model.Tables.embeddings(spark, dir)
    val df = emb.select(col("vec_id"),
      functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("sq"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_norm_sq"), s"self-dot not rewritten:\n$opt")
    assert(!opt.toLowerCase.contains("graft_dot"), s"dot survived the rewrite:\n$opt")
    // bit-identical to the declarative left-to-right accumulation
    val viaNorm = df.as[(Long, Double)].collect().toMap
    val reference = emb.select(col("vec_id"),
      aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")).as("sq"))
      .as[(Long, Double)].collect().toMap
    assert(viaNorm === reference)
    // distinct columns must NOT rewrite
    val two = emb.select(functions.VectorFunctions.dot(col("embedding"),
      reverse(col("embedding"))).as("d"))
    assert(!two.queryExecution.optimizedPlan.toString.contains("graft_norm_sq"))
  }

  test("graft_dot registers for SQL and is codegen (no Filter/UDF fallback)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val out = spark.sql("SELECT graft_dot(a, b) AS d FROM vecs").as[Double].head()
    assert(out === 11.0)
  }

  test("graft_topk aggregate: bounded heap, partial merge, SQL registration") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = (1 to 100).map(i => ("g" + (i % 2), i.toDouble)).toDF("g", "v")
    // DataFrame API: largest 3 per group, descending, duplicates kept
    val out = df.groupBy("g")
      .agg(functions.TopKFunctions.topKDesc(col("v"), 3).as("top3"))
      .as[(String, Seq[Double])].collect().toMap
    assert(out("g0") === Seq(100.0, 98.0, 96.0))
    assert(out("g1") === Seq(99.0, 97.0, 95.0))
    // partial/final merge across many partitions must agree
    val repart = df.repartition(8).groupBy("g")
      .agg(functions.TopKFunctions.topKDesc(col("v"), 3).as("top3"))
      .as[(String, Seq[Double])].collect().toMap
    assert(repart === out)
    // SQL path
    df.createOrReplaceTempView("tk")
    val sql = spark.sql("SELECT g, graft_topk(v, 3) AS top3 FROM tk GROUP BY g")
      .as[(String, Seq[Double])].collect().toMap
    assert(sql === out)
    // groups smaller than k return what exists
    val small = Seq(("s", 1.0)).toDF("g", "v").groupBy("g")
      .agg(functions.TopKFunctions.topKDesc(col("v"), 3).as("t"))
      .as[(String, Seq[Double])].head()
    assert(small._2 === Seq(1.0))
  }

  test("Q21 shape: one fact pass — aggregate form, no semi/anti re-scans") {
    // r22: the EXISTS / NOT-EXISTS arms are computed as per-order
    // supplier counts over ONE lineitem ⋈ orders pass (the aggregate
    // form of Q21); the old decorrelated shape re-scanned and
    // re-shuffled the fact table twice as LeftSemi/LeftAnti joins
    val p = plan(SparkEntry.queries("j21_waiting_suppliers")(spark, dir))
    assert("FileScan parquet \\[l_".r.findAllIn(p).length === 1,
      s"fact table must be scanned exactly once:\n$p")
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      s"semi/anti re-scans crept back into Q21:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"orders/supplier sides should broadcast at this scale:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q21 plan:\n$p")
    // the per-order counts window partitions on l_orderkey — never a
    // single-partition global window
    assert(p.contains("Window"), s"per-order counts window missing:\n$p")
    assert(!p.contains("SinglePartition"),
      s"Q21 funnels rows through a single partition:\n$p")
  }

  test("Q8 shape: the fact table never shuffles before aggregation") {
    val p = plan(SparkEntry.queries("j8_market_share")(spark, dir))
    // every dim joins via broadcast; the only hash exchanges are the
    // aggregation and the final ordering
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"expected at most the aggregation exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
  }

  test("token-budget skew kernel (string ids): boundary/offset tables " +
    "broadcast, window partitioned (never a single-partition global sort)") {
    val p = plan(SparkEntry.queries("x_token_budget_select_skew_str")(spark, dir))
    // the frozen boundary array and the two-level offset table ride in
    // as broadcast joins — the r17 CASE-chain cliff and any future
    // SortMergeJoin regression both fail here
    assert(p.contains("BroadcastHashJoin"),
      s"boundary/offset tables not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"kernel join degraded to SortMergeJoin:\n$p")
    // the whole point of the two-level kernel: the running sum is a
    // window PARTITIONED by (quality bucket, id range) — a global-order
    // window would appear as an Exchange SinglePartition
    assert(p.contains("Window"), s"no window in kernel plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"kernel funnels rows through a single partition:\n$p")
  }

  test("contamination: test-gram set broadcasts, corpus grams filter map-side") {
    val p = plan(SparkEntry.queries("x_contamination")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"test grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus gram stream should never shuffle to the join:\n$p")
  }

  test("bucketized range joins plan as equi-joins, never nested-loop") {
    // the whole point of RangeJoin: a range-only predicate would be
    // BNLJ (|P|·|I| probes); bucketization must surface an equi-key the
    // planner hash/sort-merge joins on
    for (q <- Seq("j_range_point_in_interval", "j_range_interval_overlap")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q fell back to nested-loop:\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$q has no equi-join:\n$p")
    }
  }

  test("whole registry: no cartesian products; nested-loop joins only where documented") {
    // BroadcastNestedLoopJoin is legitimate ONLY for the documented
    // broadcast-scored similarity queries (tiny query/centroid side against
    // the corpus). Everything else must plan hash/sort joins.
    val nlAllowed = Set(
      "x_cosine_topk", "x_embedding_neardups", "x_ivf_topk",
      "x_ivf_lloyd_probe2", "x_ivf_recall_curve", "x_knn_classify",
      "x_semantic_dedup", "x_semdedup_calibration",
      "x_ivf_indexed_topk", "x_semantic_dedup_incremental", "x_ivf_pq_topk",
      "x_ivf_pq_residual_topk",
      "x_pq_codes", "x_minhash_est_vs_exact", "j_range_join_bands",
      "w_asof_prior_signup", "x_srp_lsh_neardups",
      // single-row aggregate / tiny-spine broadcasts (share-of-total,
      // type×hour gap-fill grids, NB training's scalar class totals,
      // the PQ recall arms' one-row hits/total × one-row avg_qerr
      // crossJoin) — bounded sides by construction
      "a_supplier_value_share", "a_missing_hours", "a_gapfill_ffill",
      "x_nb_quality_classifier", "x_classifier_curation",
      "x_pq_refined_recall",
      // the SRP arms inherit the exact-twin's broadcast score where they
      // deliberately run it (the recall calibration query); listed
      // EXPLICITLY — membership below is exact-name, never prefix, so a
      // future x_foo_variant can't silently inherit x_foo's exemption
      "x_profile_similarity_srp", "x_profile_similarity_srp_recall",
      // one signature row per SOURCE (a handful): the pairwise overlap
      // matrix is sources², broadcast by construction
      "x_source_overlap",
      // semantic decontamination: the eval/test side broadcasts by design
      // (the exact form crosses it against the streamed train corpus; the
      // blocked form broadcasts only the one-row reference/centroid spine)
      "x_semantic_contamination", "x_semantic_contamination_blocked",
      // profile similarity scores the users-sized PROFILE table all-pairs
      // (the corpus reduction already happened in the aggregation)
      "x_profile_similarity",
      // KN scoring crossJoins the ONE-ROW model-totals frame (tt, vv);
      // DSIR crossJoins its one-row corpus totals inside dsirWeights —
      // the per-feature weight join itself is an equi-join on bucket
      "x_kn_perplexity", "x_kn3_perplexity", "x_dsir_select",
      "x_model_curation_pipeline", // same one-row totals + one-row median
      "a_mad_robust_outliers", // types-sized median tables broadcast
      // NB training's one-row class-totals crossJoin (same as
      // x_nb_quality_classifier, already allowed above)
      "x_classifier_auc", "x_classifier_calibration",
      "q_rater_agreement_kappa",
      "q_benford_first_digit", // one-row digit-total crossJoin
      // broadcast-scored similarity: rrf crosses the ONE-ROW query
      // vector, hard-negative mining the 20-row query set, against the
      // corpus — same shape as x_knn_classify
      "x_rrf_hybrid", "x_hard_negatives",
      // retrieval-metric queries over the broadcast-scored top-k arms
      // (same constituent operators as x_ivf_recall_curve)
      "x_retrieval_eval", "x_rbo_rankings", "x_matryoshka_recall",
      // one-row min/total/quartile broadcasts over sources-sized frames
      "x_domain_reweight", "x_curriculum_order")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, dir).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (p.contains("BroadcastNestedLoopJoin") && !nlAllowed.contains(name))
          offenders += s"$name: BroadcastNestedLoopJoin"
      } catch {
        case e: Throwable => offenders += s"$name: plan build failed (${e.getClass.getSimpleName})"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("clusterReport consumers: assignment table broadcast back to the " +
    "docs scan (no SortMergeJoin), keep-best rank gets WindowGroupLimit") {
    // the r20 manual .explain audit of the one-pass report, made durable:
    // the expensive pair-gen/CC ran ONCE at construction; each consumer
    // must only re-join the pruned docs scan against the SMALL assignment
    // table — a de-broadcast here re-shuffles the 100 TB corpus per output
    val report = graft.ext.Curate.clusterReport(
      graft.model.Tables.documents(spark, dir))
    try {
      for ((label, df) <- Seq("split" -> report.split,
                              "keepBest" -> report.keepBest,
                              "histogram" -> report.histogram)) {
        val p = plan(df)
        assert(p.contains("BroadcastHashJoin"),
          s"$label: assignment join not broadcast:\n$p")
        assert(!p.contains("SortMergeJoin"),
          s"$label: docs shuffle into a sort-merge join:\n$p")
      }
      assert(plan(report.keepBest).contains("WindowGroupLimit"),
        "keepBest: per-cluster rank-1 filter did not push WindowGroupLimit")
    } finally report.release()
  }

  test("Par.fanOut: no Exchange on a pre-partitioned input, repartition when starved") {
    val par = spark.sparkContext.defaultParallelism
    // already at/above parallelism → must return the SAME plan (no shuffle):
    // at 100 TB the scan layout provides the parallelism and a blanket
    // repartition would be a full-corpus shuffle.
    val wide = spark.range(0, 1000, 1, par * 2).toDF("id")
    val keptSame = graft.ext.Par.fanOut(wide, par)
    assert(keptSame eq wide, "fanOut must be identity on a well-partitioned input")
    assert(!plan(keptSame.select(col("id") * 2)).contains("Exchange"),
      "fanOut added an Exchange to a pre-partitioned input")
    // single-partition input (the one-row-group testdata case) → fans out
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    assert(graft.ext.Par.fanOut(narrow, par).rdd.getNumPartitions === par)
  }

  test("Par.fanOut starts no job over a parquet scan or a materialized " +
    "persisted frame; over an unmaterialized exchange it does") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    val docs = graft.model.Tables.documents(spark, dir)
    val agg = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val pinned = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    // jobs started while `body` runs, tagged by job group; the bus
    // delivers in order, so once the sentinel job's end arrives every
    // job `body` started has been seen
    def jobsOf(body: => Unit): Int = {
      val group = s"fanout-jobs-${System.nanoTime}"
      val sentinel = s"$group-sentinel"
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val sentinelDone = new java.util.concurrent.CountDownLatch(1)
      val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
            .orNull
          if (g == group) jobs.incrementAndGet()
          if (g == sentinel) sentinelJobs.add(e.jobId)
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (sentinelJobs.contains(e.jobId)) sentinelDone.countDown()
      }
      sc.addSparkListener(l)
      try {
        sc.setJobGroup(group, "fanOut")
        body
        sc.setJobGroup(sentinel, "drain")
        sc.parallelize(Seq(1), 1).count()
        assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(l)
      }
      jobs.get()
    }
    try {
      assert(jobsOf { graft.ext.Par.fanOut(docs, 1); () } === 0)
      assert(jobsOf { graft.ext.Par.fanOut(pinned, 1); () } === 0)
      // the documented cost: AQE runs the aggregate's shuffle stage to
      // build the final RDD whose partitions fanOut counts
      assert(jobsOf { graft.ext.Par.fanOut(agg, 1); () } >= 1)
    } finally { pinned.unpersist(); () }
  }

  test("whole registry: the timed noop write keeps every cell's plan nodes") {
    // Every cell runs through bench.Measure, the bench's one timed
    // action. The write's optimized logical plan (before AQE, so input
    // size cannot change it) must keep the Window, Aggregate, Generate
    // and Join nodes of the cell's own optimized plan. count() fails
    // this: Catalyst prunes unreferenced columns and the nodes computing
    // them; the cells that lose nodes that way are reported, not asserted.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    def shape(p: LogicalPlan): Map[String, Int] =
      p.collectWithSubqueries {
        case _: Window => "Window"
        case _: Aggregate => "Aggregate"
        case _: Generate => "Generate"
        case _: Join => "Join"
      }.groupMapReduce(identity)(_ => 1)(_ + _)
    val written =
      new java.util.concurrent.atomic.AtomicReference[LogicalPlan](null)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.optimizedPlan match {
          case w: V2WriteCommand => written.set(w.query)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val mismatched = scala.collection.mutable.ListBuffer.empty[String]
    val lostUnderCount = scala.collection.mutable.ListBuffer.empty[String]
    spark.listenerManager.register(listener)
    try SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      written.set(null)
      val df = SparkEntry.queries(name)(spark, dir)
      val own = shape(df.queryExecution.optimizedPlan)
      // count() plans groupBy().count(): its own Aggregate is the +1
      val counted = shape(df.groupBy().count().queryExecution.optimizedPlan)
        .updatedWith("Aggregate")(_.map(_ - 1).filter(_ > 0))
      if (counted != own) lostUnderCount += name
      bench.Measure.seconds(df)
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 30000
      while (written.get() == null && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val got = Option(written.get()).map(shape)
      if (!got.contains(own)) mismatched += s"$name: own $own, written $got"
      GraftSession.sweepCaches(spark)
    } finally spark.listenerManager.unregister(listener)
    info(s"${lostUnderCount.size} of ${SparkEntry.queries.size} cells lose " +
      s"nodes under count(): ${lostUnderCount.mkString(", ")}")
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
  }
}
