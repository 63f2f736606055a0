package graft.monitoring

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection: Population Stability Index between a
  * reference and a current slice of the same table — the standard "has
  * the data shifted since the model/job was validated?" monitor
  * (rule-of-thumb read: <0.1 stable, 0.1–0.25 moderate shift, >0.25
  * investigate).
  *
  * Fixed value buckets (not data-dependent quantiles) keep the measure
  * deterministic and engine-portable; Laplace smoothing (+0.5 per bucket,
  * nominal bucket count in the denominator) keeps empty buckets finite.
  * Buckets absent from BOTH slices contribute nothing and are simply not
  * materialized. All variants funnel through ONE shared smoothing/PSI
  * tail, so batch, categorical, and stored-reference scores stay
  * comparable by construction.
  *
  * Distributed shape: one conditional-count aggregation pass over the
  * table — only (group, bucket) counts cross the wire; the windows and
  * the PSI reduce run over the groups×buckets aggregate. */
object Drift {

  /** Fixed-width bucket of [lo, hi) × `buckets`; out-of-range values
    * clamp to the edge buckets. */
  private def bucketCol(valueCol: String, lo: Double, hi: Double,
                        buckets: Int): Column = {
    require(buckets >= 2 && hi > lo, s"bad bucket spec [$lo,$hi)x$buckets")
    val width = (hi - lo) / buckets
    least(greatest(floor((col(valueCol) - lo) / width).cast("int"), lit(0)),
      lit(buckets - 1))
  }

  /** The shared tail: (group..., bucket, c_ref, c_cur) counts → one
    * (group..., n_ref, n_cur, psi) row per group. `k` is the smoothing
    * term (0.5 × nominal bucket count) — a literal for fixed buckets, a
    * per-group window count for categorical. */
  private def psiFromCounts(counts: DataFrame, groupCols: Seq[String],
                            k: Column): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
    val p = (col("c_ref") + 0.5) / (col("n_ref") + col("_k"))
    val q = (col("c_cur") + 0.5) / (col("n_cur") + col("_k"))
    counts
      .withColumn("n_ref", sum("c_ref").over(w))
      .withColumn("n_cur", sum("c_cur").over(w))
      .withColumn("_k", k)
      .withColumn("_term", (p - q) * log(p / q))
      .groupBy(groupCols.map(col): _*)
      .agg(max("n_ref").as("n_ref"), max("n_cur").as("n_cur"),
        sum("_term").as("psi"))
  }

  /** PSI of `valueCol` distributions (rows where `isRef` vs the rest) per
    * `groupCols`, over `buckets` fixed-width buckets of [lo, hi]. Returns
    * one row per group: (group..., n_ref, n_cur, psi). */
  def psi(df: DataFrame, groupCols: Seq[String], valueCol: String,
          isRef: Column, lo: Double, hi: Double, buckets: Int): DataFrame = {
    val counts = df
      .groupBy(groupCols.map(col) :+
        bucketCol(valueCol, lo, hi, buckets).as("bucket"): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("c_ref"),
        sum(when(isRef, 0L).otherwise(1L)).as("c_cur"))
    psiFromCounts(counts, groupCols, lit(0.5 * buckets))
  }

  /** Categorical PSI: same measure with the category itself as the bucket
    * — the "has the event/source/language MIX shifted?" monitor. Nominal
    * bucket count for smoothing = distinct categories observed in either
    * slice (a window count over the same aggregate, no extra pass). */
  def categoricalPsi(df: DataFrame, groupCols: Seq[String], catCol: String,
                     isRef: Column): DataFrame = {
    val counts = df
      .groupBy(groupCols.map(col) :+ col(catCol).as("bucket"): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("c_ref"),
        sum(when(isRef, 0L).otherwise(1L)).as("c_cur"))
    psiFromCounts(counts, groupCols,
      count(lit(1)).over(Window.partitionBy(groupCols.map(col): _*)) * 0.5)
  }

  /** Reference histogram for [[streamingPsi]]: (group..., bucket, c_ref)
    * counts over the validation slice, computed once and stored. */
  /** Two-sample Kolmogorov–Smirnov statistic per group — the binning-free
    * companion to [[psi]]: D = max over observed x of
    * |ECDF_ref(x) − ECDF_cur(x)|, computed exactly as one aggregation to
    * distinct values plus one sorted cumulative-window pass per group (the
    * ECDF only steps at observed values, so the max lives there). PSI
    * needs bucket edges chosen in advance and can miss drift that stays
    * within a bucket; KS needs no parameters and bounds the worst-case
    * CDF gap. Groups with an empty side yield NULL (the statistic is
    * undefined there, and a silent 0 or 1 would mask the absence).
    *
    * Scale shape: the shuffle carries (group, value) distinct pairs, the
    * window sorts within groups — fine for per-slice monitoring columns.
    * For a 100 TB single-group column, feed a deterministic sample or the
    * binned [[psi]] path instead; an exact global ECDF sort at that size
    * buys no additional decision value. */
  def ksStatistic(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  isRef: Column): DataFrame = {
    val gcols = groupCols.map(col)
    // NULLs have no place in an ECDF — and engines disagree on where
    // they sort (Spark nulls-first, DuckDB nulls-last), so excluding
    // them is both the right semantics and the portable one
    val perV = df
      .filter(col(valueCol).isNotNull)
      .groupBy(gcols :+ col(valueCol).as("v"): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("c_ref"),
        sum(when(isRef, 0L).otherwise(1L)).as("c_cur"))
    val wCum = Window.partitionBy(gcols: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gcols: _*)
    perV
      .withColumn("cum_ref", sum("c_ref").over(wCum))
      .withColumn("cum_cur", sum("c_cur").over(wCum))
      .withColumn("n_ref", sum("c_ref").over(wAll))
      .withColumn("n_cur", sum("c_cur").over(wAll))
      .groupBy(gcols: _*)
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        max(when(col("n_ref") > 0 && col("n_cur") > 0,
          abs(col("cum_ref").cast("double") / col("n_ref")
            - col("cum_cur").cast("double") / col("n_cur")))).as("ks"))
  }

  def referenceHistogram(df: DataFrame, groupCols: Seq[String],
                         valueCol: String, lo: Double, hi: Double,
                         buckets: Int): DataFrame =
    df.groupBy(groupCols.map(col) :+
        bucketCol(valueCol, lo, hi, buckets).as("bucket"): _*)
      .agg(count(lit(1)).as("c_ref"))

  /** PSI of `cur` against a stored [[referenceHistogram]] — the
    * continuous-monitoring form: the reference is bucket COUNTS (tiny,
    * broadcastable), so each micro-batch pays one aggregation over its
    * own rows plus a join on the groups×buckets table, never a rescan of
    * the validation data. Same smoothing and sparse-bucket convention as
    * [[psi]] — shared code, not a mirrored copy. */
  def streamingPsi(cur: DataFrame, reference: DataFrame,
                   groupCols: Seq[String], valueCol: String,
                   lo: Double, hi: Double, buckets: Int): DataFrame = {
    val curHist = referenceHistogram(cur, groupCols, valueCol, lo, hi, buckets)
      .withColumnRenamed("c_ref", "c_cur")
    val counts = reference.join(curHist, groupCols :+ "bucket", "full_outer")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    psiFromCounts(counts, groupCols, lit(0.5 * buckets))
  }

  /** One-row (cv: array<double>, n) centroid of a vector column — the
    * stored reference for continuous embedding-drift monitoring
    * ([[graft.streaming.StreamingPipeline.embeddingDriftMonitorBatch]]):
    * computed once at validation time, broadcast-sized forever after.
    * Same narrow shape as [[embeddingDrift]]: posexplode to (dim, x)
    * rows, one hash aggregate to per-dim means, reassembly over
    * dim-sized data. */
  def referenceCentroid(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("dim").agg(avg("x").as("c"), count(lit(1)).as("nd"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cv"), max("nd").as("n"))

  /** Cosine between two double-array columns; 0.0 on a zero norm. */
  private[graft] def cosineCol(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, p) => acc + p)
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Adapt a drift score frame (one row per window) to the long-format
    * metric series [[Alerts.evaluate]] consumes — the bridge that puts
    * drift monitors on the same pending→firing lifecycle as every other
    * rule. Group the drift computation by a window column (e.g.
    * [[streamingPsi]] with `groupCols = Seq("window_start")`, or
    * [[embeddingDrift]] per period), then name the score column here
    * with the metric name an [[Alerts.driftRules]] rule watches. */
  def asMetricSeries(scores: DataFrame, windowCol: String, valueCol: String,
                     metric: String): DataFrame =
    scores.select(col(windowCol).cast("timestamp").as("window_start"),
      lit(metric).as("metric"), col(valueCol).cast("double").as("value"))

  /** Embedding-space drift: per group, the cosine between the reference
    * period's centroid and the current period's centroid. 1.0 = the
    * corpus direction is unchanged; falling cosine = the embedding
    * distribution is moving (new topics, encoder change, upstream
    * corruption) — the vector-column analogue of [[psi]] on scalars.
    * Returns (groupCols..., n_ref, n_cur, centroid_cosine); groups
    * missing either side produce no row (no centroid to compare).
    *
    * Shape at scale: one posexplode to (keys, side, dim, x) narrow rows
    * — n×dim of them, never full vectors through the aggregation — one
    * hash aggregate down to (groups × 2 × dim) means, and centroid
    * reassembly/cosine over group-sized data. Nothing quadratic,
    * nothing driver-side. */
  def embeddingDrift(df: DataFrame, groupCols: Seq[String],
                     vecCol: String, isRef: Column): DataFrame = {
    val kcols = groupCols.map(col)
    val tagged = df.select(kcols :+ isRef.as("is_ref")
      :+ col(vecCol).as("v"): _*)
    val byDim = tagged
      .select(kcols :+ col("is_ref")
        :+ posexplode(col("v")).as(Seq("dim", "x")): _*)
      .groupBy(kcols :+ col("is_ref") :+ col("dim"): _*)
      .agg(avg(col("x")).as("c"))
    val cents = byDim
      .groupBy(kcols :+ col("is_ref"): _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cv"))
    val counts = tagged.groupBy(kcols: _*)
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, p) => acc + p)
    val r = cents.filter(col("is_ref"))
      .select(kcols :+ col("cv").as("rc"): _*)
    val c = cents.filter(!col("is_ref"))
      .select(kcols :+ col("cv").as("cc"): _*)
    r.join(c, groupCols).join(counts, groupCols)
      .select(kcols :+ col("n_ref") :+ col("n_cur") :+
        (dot(col("rc"), col("cc"))
          / (sqrt(dot(col("rc"), col("rc")))
            * sqrt(dot(col("cc"), col("cc"))))).as("centroid_cosine"): _*)
  }
}
