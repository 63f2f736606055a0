package graft.bench

import org.apache.spark.sql.DataFrame

/** The ONE timed action of [[graft.Bench]] and [[graft.ScaleProbe]]:
  * a full materialization of the frame into Spark's `noop` sink. Every
  * output column is computed, so Catalyst cannot prune the frame's
  * Window, Aggregate, Generate or Join nodes the way it does under
  * `count()` (PlanSpec checks all registry cells for this). */
object Measure {

  /** Seconds to build `df` and write it to the noop sink. `df` is by-name,
    * so the timer also covers any eager work done while building it. */
  def seconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
