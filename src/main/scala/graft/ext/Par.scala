package graft.ext

import org.apache.spark.sql.DataFrame

/** Fan-out helper for narrow CPU-heavy stages (tokenization, shingling,
  * signature hashing). Two regimes:
  *
  *  - Small/test inputs often arrive as a single row group → ONE input
  *    partition, which serializes the whole narrow stage; a repartition
  *    up to the cluster's parallelism fixes that.
  *  - At 100 TB the scan layout itself provides the parallelism, and a
  *    blanket repartition would be a full-corpus shuffle moving every
  *    document body for nothing.
  *
  * So: repartition only when the input is genuinely under-partitioned.
  * The partition count is read off `queryExecution.toRdd`. Over a scan
  * or an already-materialized persisted frame that starts no job. Over
  * an adaptive plan with exchanges it does: AQE builds the final RDD
  * only after running every upstream shuffle stage, so those stages run
  * once here and again in the consumer's action — as jobs without a SQL
  * execution id, which no SQL listener sees. Pin and materialize such an
  * input before fanning it out.
  */
object Par {
  def fanOut(df: DataFrame, target: Int): DataFrame =
    // toRdd, not .rdd: same partition count, but no extra tracked
    // QueryExecution (Dataset.rdd plans a DeserializeToObject query and
    // posts it to every QueryExecutionListener as a separate "action")
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target)

  /** Fan out to the session's default parallelism. */
  def fanOut(df: DataFrame): DataFrame =
    fanOut(df, df.sparkSession.sparkContext.defaultParallelism)
}
