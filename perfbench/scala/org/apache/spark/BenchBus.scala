package org.apache.spark

/** Lets the benchmark wait until every listener has seen every event
  * posted so far, so per-layer counts and plan checks read complete
  * data. (`listenerBus` is private to the spark package.) */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
