package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so every entry point (Verify, Bench, tests,
  * user code) runs with the same scale-aware configuration.
  *
  * Design notes for cluster scale (the library itself never assumes local
  * mode — `master` is injectable and all operators are expressed as
  * declarative plans that Catalyst distributes):
  *  - AQE on: runtime coalescing of post-shuffle partitions, skew-join
  *    splitting, and dynamic join-strategy switching are the first line of
  *    defense at 100 TB where static `shuffle.partitions` is always wrong
  *    for at least one stage.
  *  - `shuffle.partitions` defaults to the local core count here; on a real
  *    cluster the caller passes ~2-3x total executor cores and AQE coalesces
  *    down.
  *  - Timestamps: session timezone pinned to UTC and parquet NTZ inference
  *    disabled so naive timestamps written by arbitrary producers compare
  *    identically across engines (see SURVEY §5.3 determinism rules).
  */
object GraftSession {
  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(master: String = s"local[$defaultParallelism]",
              shufflePartitions: Int = defaultParallelism): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // graft_dot / graft_topk / graft_norm_sq SQL functions + the
      // SelfDotToNormSq optimizer rule ship with every engine session.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // InferFiltersFromGenerate rewrites explode(e) into
      // Filter(size(e)>0 AND isnotnull(e)) + explode(e); predicate
      // pushdown then substitutes e through the projection and pushes
      // the filter below any exchange — so when e is an EXPENSIVE
      // expression (tokenize→shingle→distinct, the shape of every text
      // operator here) the whole pipeline is re-evaluated 2-3x per input
      // row, often below the fan-out repartition (i.e. on the scan's
      // 1-2 tasks). The filter only saves iterating rows whose array is
      // empty — which GenerateExec skips in O(1) anyway — so it is pure
      // loss at any scale (measured r21: the exploded shingle-index
      // materialization dropped 1.94 s → 0.31 s at sf0.1; plan audit in
      // `git show 1852456:plans/r21/`). Results are unchanged by
      // construction: the rule only ever removed rows that generate no
      // output.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // answer filterless MIN/MAX/COUNT over parquet from footer
      // statistics (PushedAggregation in the scan) — at 100 TB that
      // converts a full-corpus scan into a metadata read; off by
      // default upstream only for ecosystem-compat caution. The conf is
      // V2-source-only, so it is inert on the V1 default path (an A/B
      // read no difference; SCALE.md §3).
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // The testdata events table carries TIMESTAMP(NANOS) parquet, which
      // Spark has no native type for: read as long nanos and normalize to
      // micros in Tables.events (same floor-to-micros DuckDB applies).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.schemaInference", "false")
      // TypedImperativeAggregates (graft_topk_pairs, quantile/CMS/moment
      // sketches) run through ObjectHashAggregateExec, whose hash map
      // falls back to SORT-based aggregation after a mere 128 distinct
      // groups by default — at 150k groups the top-k rank cut then sorts
      // every candidate row anyway, forfeiting the aggregate's whole
      // advantage (measured 2.1x on the 150k-user profiles probe: 24.3s
      // -> 11.7s with the raised threshold). 2^18 bounds the map at
      // ~262k buffers per task; graft's group-heavy object aggregates
      // carry small bounded buffers (k-entry heaps), while the heavier
      // GK-summary buffers only aggregate over low-cardinality keys
      // (event types, days). High-cardinality quantileSketch callers
      // should lower this per-session.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 18).toString)
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The between-queries cache discipline shared by Verify, Bench, and the
    * scale probes: drop the catalog cache AND the RDD-level persistence
    * that survives it (localCheckpoint generations, operator persists), so
    * one query's cached blocks never tax the next one's timing or memory. */
  def sweepCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
