package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed graph primitives for dedup pipelines. The one that matters
  * for training data: collapsing pairwise near-duplicate edges into
  * clusters so each cluster keeps exactly one representative document.
  *
  * Scale notes (100 TB): near-dup graphs are sparse (LSH emits O(n)
  * candidate edges) with small diameter (duplicate clusters are near-
  * cliques), which is exactly the regime where HashMin label propagation
  * converges in a handful of rounds. Each round is one join + one
  * hash-aggregation — all shuffles keyed on node id, no driver-side data
  * beyond a convergence counter. Below `smallGraphNodes` the operator
  * instead ships the edge list to the driver and runs union-find — the
  * same small-side adaptivity as a broadcast join, because a distributed
  * round's scheduling overhead dwarfs a few MB of ids. For adversarial
  * long-chain graphs swap in large-star/small-star (Kiveris et al.) which
  * contracts paths logarithmically; near-dup workloads don't need it.
  */
object Graph {

  /** Frees the block-manager storage behind localCheckpoint generations
    * reachable from `df`'s plan. `spark.catalog.clearCache()` does NOT touch
    * these (they're RDD-level persistence, not catalog cache), so an
    * iterative operator that checkpoints per round must release superseded
    * generations itself or they linger until a driver GC — measured as a
    * 10x tail degradation across a long single-JVM run. Only call on
    * generations that will never be read again: a localCheckpoint has no
    * lineage to recompute from. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }

  /** The one release contract for operators that pin internally.
    *
    * An operator that persists an intermediate (`Dedup.ngramJaccardPairs`,
    * `Dedup.jaccardPairsPrefix`, `Dedup.minhashNearDups`,
    * `TextAnalysis.bm25`, `Curate.adaptiveQualityGate`, ...) returns a
    * lazy frame and keeps its pins: releasing them inside the operator
    * would drop the cache before the consumer runs. Harness contexts
    * (Bench, Verify) rely on `GraftSession.sweepCaches` between queries.
    * A resident caller consumes the output (collect, write, an eager
    * count), then calls `uncacheUnder(consumed, ownPins*)` on the frame it
    * consumed, so the pins do not accumulate one generation per call.
    *
    * Mechanism: uncaches every catalog-cached frame `df`'s plan reads
    * (each `InMemoryRelation` under its `withCachedData`) except those
    * backing `keep`. It goes through the `CacheManager`, so the cache entry
    * and the physical plan it holds go too, not just the blocks.
    *
    * Every pin under `df` is dropped unless it is listed in `keep` — that
    * includes a pinned INPUT the caller passed into the operator (a cached
    * `docs`), which must be listed to survive. Only call when `df` will
    * never be read again. */
  def uncacheUnder(df: DataFrame, keep: DataFrame*): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cm = ds.sparkSession.sharedState.cacheManager
    val kept = keep.flatMap(k => cm.lookupCachedData(
        k.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]))
      .map(_.cachedRepresentation.cacheBuilder)
    ds.queryExecution.withCachedData.foreach {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if !kept.exists(_ eq r.cacheBuilder) =>
        cm.uncacheQuery(ds.sparkSession, r.cacheBuilder.logicalPlan,
          cascade = false)
      case _ => ()
    }
  }

  /** The (id, cluster_id) assignment [[connectedComponents]] and
    * [[incrementalConnectedComponents]] return: both columns are the
    * edge endpoints cast to long. */
  val AssignmentSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("cluster_id", LongType)))

  /** Connected components by HashMin label propagation: every node starts
    * labeled with its own id; each round every node takes the minimum label
    * in its closed neighborhood; converged when no label changes. Returns
    * (id, cluster_id) where cluster_id is the minimum node id in the
    * component — deterministic for any edge order.
    *
    * `edges` is an undirected edge list (each pair once, either direction).
    * Isolated nodes don't appear (callers union them in if needed —
    * near-dup clustering only cares about nodes with at least one edge).
    *
    * Per-iteration lineage is truncated with localCheckpoint: an iterative
    * plan otherwise doubles in depth every round and the optimizer
    * re-analyzes the whole history each action. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20,
                          smallGraphNodes: Long = 1L << 20): DataFrame = {
    // Persist the directed input once BEFORE symmetrizing: the union's two
    // branches otherwise each recompute the (possibly expensive) edge
    // pipeline when sym first materializes.
    val e = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    // Adaptive small-graph fast path — the same adaptivity argument as a
    // broadcast join: below ~1M nodes the (id,id) edge list is a few MB,
    // and the distributed loop's per-round scheduling overhead (measured
    // ~8 s warm for 5 rounds on a 2k-node graph) costs far more than
    // shipping the edges once. Union-find with path compression, always
    // hanging the LARGER root under the smaller, reproduces the
    // distributed fixpoint's min-id labels exactly (spec-pinned).
    // Gate ORDER (r21): edge count first, then ONE collect, with the
    // node set derived on the driver from the collected endpoints —
    // the old shape built a checkpointed distinct-label table and
    // counted it before the gate, which cost 3 extra jobs (distinct
    // exchange + checkpoint write, count, second collect) on every
    // small-graph call; the label table is exactly the endpoint set of
    // `e`, so nothing but the edge rows ever needs to leave the
    // executors. Node count bounds the edge list only loosely (a dense
    // block can be quadratic), so the collect is gated on an ABSOLUTE
    // edge cap (4M pairs ≈ tens of MB of rows on the driver), not just
    // the caller's node threshold; a graph that passes the edge cap but
    // exceeds `smallGraphNodes` endpoints (possible only below 8M
    // edges: vast disjoint-pair graphs) falls through to the
    // distributed loop — one bounded, wasted collect in a regime the
    // loop handles anyway.
    if (smallGraphNodes > 0 &&
        e.count() <= math.min(8L * smallGraphNodes, 4000000L)) {
      import scala.collection.mutable
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val rows = e.collect()
      val nodes = mutable.LongMap.empty[Unit]
      rows.foreach { row =>
        nodes(row.getLong(0)) = (); nodes(row.getLong(1)) = ()
      }
      if (nodes.size <= smallGraphNodes) {
        rows.foreach { row =>
          val ra = find(row.getLong(0)); val rb = find(row.getLong(1))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val out = nodes.keysIterator.map(id => (id, find(id))).toSeq.sorted
        e.unpersist()
        System.err.println(
          s"[graft.cc] nodes=${nodes.size} driver-uf (threshold=$smallGraphNodes)")
        import spark.implicits._
        return out.toDF("id", "cluster_id")
      }
    }
    var labels = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // The loop's tables are |nodes| rows; size its shuffles — and the
    // cached edge table's layout — to the graph (~2M labels per partition)
    // instead of the session default: on a small graph the default
    // partition count turns every round into pure task-scheduling
    // overhead (each step re-shuffles the edge cache), at 100 TB
    // nodes/2M partitions is the same rule. Restored after the loop.
    val nNodes = labels.count()
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val loopParts = math.max(1L, math.min(nNodes / 2000000L,
      spark.sparkContext.defaultParallelism.toLong * 4)).toString
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .coalesce(loopParts.toInt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Convergence probe: labels only ever decrease, so the label sum is a
    // strictly decreasing potential until fixpoint — one tiny aggregate on
    // the already-checkpointed table per round instead of a join+filter
    // against the previous generation (halves the per-iteration job count).
    def labelSum(df: DataFrame): Long =
      df.agg(sum("label")).head().getLong(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    spark.conf.set("spark.sql.shuffle.partitions", loopParts)
    // AQE's stage-at-a-time re-optimization adds a scheduling barrier per
    // shuffle — on the loop's tiny right-sized tables that latency is the
    // whole cost, and the partition count is already chosen above.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // Pointer-jumping: label ← label's label. Plain HashMin needs diameter
    // rounds (a k-chain takes k iterations — measured 8+ s on a 2k-node
    // near-dup graph); the jump contracts label chains. The self-join reuses
    // stepped's aggregation exchange via ReuseExchange. (The closed-
    // neighborhood min is a left join + least, NOT a union + groupBy: one
    // shuffle less, and self-joining a union-rooted plan trips Catalyst's
    // union constraint rewrite.)
    def jump(df: DataFrame): DataFrame = df.as("s")
      .join(df.select(col("id").as("_lid"), col("label").as("_llabel")).as("t"),
        col("s.label") === col("_lid"))
      .select(col("s.id").as("id"), col("_llabel").as("label"))
    // min label over the closed neighborhood: own label vs neighbors'.
    def step(ls: DataFrame): DataFrame = {
      val nmin = sym.join(ls, sym("a") === ls("id"))
        .groupBy(sym("b").as("id")).agg(min("label").as("nmin"))
      ls.join(nmin.withColumnRenamed("id", "_nid"),
          col("id") === col("_nid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    }
    try while (!converged && iter < maxIter) {
      // Two step+jump compositions per materialized round: the label
      // tables are small relative to the cluster, so per-round cost is
      // action/scheduling overhead — halving the checkpoint count halves
      // the loop's wall clock without changing the fixpoint. (Three per
      // round measured SLOWER on the sf0.1 near-dup graph: 14 s vs 8 s
      // warm — the extra per-round stages cost more than the round they
      // save.)
      val next = jump(step(jump(step(labels)))).localCheckpoint(true)
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      // `next` is materialized (eager checkpoint), so the previous
      // generation's blocks can never be read again — free them now
      // instead of leaving one orphaned block set per round.
      freeCheckpoint(labels)
      labels = next
      iter += 1
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    System.err.println(s"[graft.cc] nodes=$nNodes rounds=$iter (maxIter=$maxIter)")
    sym.unpersist()
    e.unpersist()
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Components plus per-cluster sizes — the direct input to "keep one doc
    * per cluster" retention policies. */
  /** Incremental connected components — the cluster-layer twin of the
    * incremental dedup family: fold a batch of NEW near-dup edges into
    * a stored (id, cluster_id) assignment without re-running CC over
    * the full historical edge set. The stored assignment IS a
    * spanning-star compression of history (every member connects to
    * its min-id root, reproducing exactly the historical
    * connectivity), so CC over {star edges of AFFECTED components}
    * ∪ {the new edges} yields the same min-id labels a full recompute
    * would — and only components actually touched by a new edge move;
    * every other assignment row passes through untouched (spec-pinned
    * equivalence, including cluster-merging and new-min-id batches).
    *
    * Shape at scale: "affected" is two semi-joins — new-edge endpoints
    * → their roots (keyed on id), then roots → members (keyed on
    * cluster_id; store the assignment bucketed on cluster_id and this
    * member pull reads in place). A daily near-dup batch touches a
    * vanishing fraction of a multi-billion-doc cluster table, so the
    * CC loop runs over (touched members + batch endpoints) — days of
    * growth, not history. New nodes introduced by the batch need no
    * special casing: they enter through the edge list like any node. */
  def incrementalConnectedComponents(assignments: DataFrame,
                                     newEdges: DataFrame, srcCol: String,
                                     dstCol: String, maxIter: Int = 20,
                                     smallGraphNodes: Long = 1L << 20): DataFrame = {
    val e = newEdges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    val ends = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
    val touchedRoots = assignments.join(ends, Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    // the touched-root set is batch-endpoint-bounded — broadcast both
    // the member pull and the pass-through anti join
    val affected = assignments
      .join(broadcast(touchedRoots), Seq("cluster_id"), "left_semi")
    val sub = affected
      .select(col("id").as("a"), col("cluster_id").as("b"))
      .union(e)
    val relabeled = connectedComponents(sub, "a", "b", maxIter,
      smallGraphNodes)
    assignments
      .join(broadcast(touchedRoots), Seq("cluster_id"), "left_anti")
      .select("id", "cluster_id")
      .union(relabeled.select("id", "cluster_id"))
  }

  def componentsWithSize(edges: DataFrame, srcCol: String, dstCol: String,
                         maxIter: Int = 20,
                         smallGraphNodes: Long = 1L << 20): DataFrame = {
    val comp = connectedComponents(edges, srcCol, dstCol, maxIter,
      smallGraphNodes)
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "cluster_id")
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }

  /** Weighted PageRank over a (src, dst, w) edge list — the classic
    * simplified power iteration: r_{t+1}(v) = (1−d)/N + d·Σ_{u→v}
    * r_t(u)·p(u,v) with p = w/out-weight, run for a FIXED `iters` rounds.
    *
    * By default sinks leak mass, exactly like the canonical example
    * implementations. With `redistributeDangling = true` each round also
    * computes the dangling mass m = Σ r_t(sink) and adds d·m/N to every
    * node — the strict probability interpretation where ranks stay a
    * distribution (sum to 1 within rounding).
    *
    * Determinism: transition probabilities and every per-round rank
    * (and, when enabled, the per-round dangling mass) are rounded to
    * `roundTo` decimals, so the whole trajectory is engine-reproducible
    * (the DuckDB oracle unrolls the identical rounds) — the same
    * convention as [[Similarity.lloydRefine]]. Returns (node, r).
    *
    * Shape at scale: each round is one join keyed on src + one hash
    * aggregation keyed on dst — shuffles carry (node, double) pairs,
    * never adjacency; the dangling mass falls out of mass conservation
    * (m = Σ r_prev − Σ contrib: every non-sink node forwards its whole
    * rank through its probability rows, so whatever the contribution
    * aggregate did NOT carry is exactly the sink mass) — two one-row
    * aggregates over tables the round already materializes, joined back
    * by broadcast, instead of a per-round sink-filtered join; lineage is
    * truncated per round (localCheckpoint) like the CC loop, keeping
    * plan depth constant.
    *
    * Small-graph fast path: below `smallGraphNodes` nodes (and an
    * absolute 4M-edge cap) the rounded transition table ships to the
    * driver once and the fixed `iters` rounds run as array arithmetic —
    * the same adaptivity gate as [[connectedComponents]]: a 5-round
    * distributed loop on a few-hundred-node graph is pure scheduling
    * overhead. The driver replays the IDENTICAL rounding sequence
    * (per-round HALF_UP rounds of contribution, dangling mass, and
    * rank), so the trajectory matches the distributed loop and the
    * unrolled DuckDB oracle (spec-pinned equal). */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               roundTo: Int = 10,
               redistributeDangling: Boolean = false,
               smallGraphNodes: Long = 1L << 20): DataFrame = {
    val ew = edges.select(col("src"), col("dst"),
      col("w").cast("double").as("w"))
    val outw = ew.groupBy("src").agg(sum("w").as("ow"))
    val trans = ew.join(outw, "src")
      .select(col("src"), col("dst"),
        round(col("w") / col("ow"), roundTo).as("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small-graph gate, r21 shape (same reorder as
    // [[connectedComponents]]): count the transition table first, then
    // ONE collect, with the node set derived on the driver — `trans`
    // preserves ew's exact (src, dst) edge set (the out-weight join
    // drops nothing: every src has an out-weight row), so its endpoints
    // ARE the node set and the old distinct-nodes frame cost a persist,
    // a count and a collect for information the collected rows already
    // carry. The driver-side set only works when src and dst share a
    // type (one `node` column must hold both); mixed-type edge lists
    // take the distributed path's union coercion as before.
    val sameType = trans.schema("src").dataType == trans.schema("dst").dataType
    if (smallGraphNodes > 0 && sameType &&
        trans.count() <= math.min(8L * smallGraphNodes, 4000000L)) {
      val rows = trans.collect()
      val nodeSet = new java.util.LinkedHashSet[Any]()
      rows.foreach { r => nodeSet.add(r.get(0)); nodeSet.add(r.get(1)) }
      if (nodeSet.size <= smallGraphNodes) {
        val out = pageRankDriver(rows, nodeSet,
          trans.schema("src").dataType, iters, damping, roundTo,
          redistributeDangling, trans.sparkSession)
        trans.unpersist()
        return out
      }
    }
    val nodes = ew.select(col("src").as("node"))
      .union(ew.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count().toDouble
    var ranks = nodes.select(col("node"),
      round(lit(1.0 / n), roundTo).as("r"))
    for (_ <- 0 until iters) {
      val prev = ranks
      val contrib0 = trans
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("r") * col("p")).as("c"))
      // In dangling mode contrib has two consumers this round (the
      // per-node join AND the mass aggregate); persist it for the round
      // so the rank join + aggregation runs once, not twice.
      val contrib =
        if (redistributeDangling)
          contrib0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else contrib0
      val base = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
      ranks = (if (!redistributeDangling) {
        base.select(col("node"),
          round(lit((1 - damping) / n)
            + lit(damping) * coalesce(col("c"), lit(0.0)), roundTo).as("r"))
      } else {
        // m = Σ r_prev − Σ contrib (mass conservation): the sink mass
        // without touching the sink set — ranks is checkpointed and
        // contrib persisted, so both aggregates are narrow cached scans.
        val m = ranks.agg(sum("r").as("_tr"))
          .crossJoin(contrib.agg(coalesce(sum("c"), lit(0.0)).as("_tc")))
          .select(round(col("_tr") - col("_tc"), roundTo).as("m"))
        base.crossJoin(broadcast(m))
          .select(col("node"),
            round(lit((1 - damping) / n) + lit(damping)
              * (coalesce(col("c"), lit(0.0)) + col("m") / n), roundTo).as("r"))
      }).localCheckpoint()
      freeCheckpoint(prev)
      if (redistributeDangling) contrib.unpersist(blocking = false)
    }
    trans.unpersist(); nodes.unpersist()
    ranks
  }

  /** Driver arm of [[pageRank]]'s small-graph gate: the already-collected
    * rounded transition rows, then `iters` rounds of array arithmetic
    * replaying the distributed loop's exact rounding sequence (HALF_UP at
    * `roundTo`, the semantics of Spark's `round`). Node values keep the
    * edge list's column type — the caller guarantees src and dst share
    * it. `nodeSet` is the insertion-ordered endpoint set of `rows`. */
  private def pageRankDriver(rows: Array[org.apache.spark.sql.Row],
                             nodeSet: java.util.LinkedHashSet[Any],
                             nodeType: org.apache.spark.sql.types.DataType,
                             iters: Int, damping: Double, roundTo: Int,
                             redistributeDangling: Boolean,
                             spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    def rd(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()
    val n = nodeSet.size.toDouble
    val nodeVals = new Array[Any](nodeSet.size)
    val idx = new java.util.HashMap[Any, Int](nodeSet.size * 2)
    val it = nodeSet.iterator()
    var i = 0
    while (it.hasNext) { val v = it.next(); nodeVals(i) = v; idx.put(v, i); i += 1 }
    val edges = rows.map { r =>
      (idx.get(r.get(0)), idx.get(r.get(1)), r.getDouble(2))
    }
    var r = Array.fill(nodeVals.length)(rd(1.0 / n))
    for (_ <- 0 until iters) {
      val c = new Array[Double](nodeVals.length)
      edges.foreach { case (s, d, p) => c(d) += r(s) * p }
      r = if (!redistributeDangling)
        Array.tabulate(nodeVals.length)(i =>
          rd((1 - damping) / n + damping * c(i)))
      else {
        val m = rd(r.sum - c.sum)
        Array.tabulate(nodeVals.length)(i =>
          rd((1 - damping) / n + damping * (c(i) + m / n)))
      }
    }
    System.err.println(
      s"[graft.pagerank] nodes=${nodeVals.length} edges=${edges.length} driver arm")
    val out = nodeVals.zip(r).map { case (v, rank) =>
      org.apache.spark.sql.Row(v, rank)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.DoubleType))))
  }
}
