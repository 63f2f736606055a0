package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** The streaming-ingest measurement of [[graft.Bench]]: events parquet
  * staged into a private dir → file stream → watermarked 5-minute
  * windowed aggregation → noop sink, timed over a full replay from a
  * fresh checkpoint. */
object StreamIngest {

  // One STATIC shutdown hook draining a shared queue of staged dirs
  // (ADVICE r19): a hook per buildAgg call would accumulate hooks and
  // events-sized /tmp copies in a long-lived process until exit.
  private val staged =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = staged.poll()
      while (p != null) { deleteRecursively(p); p = staged.poll() }
    }))

  /** Stage `sfDir`'s events table into a fresh temp dir and build the
    * windowed-aggregation streaming frame over it. Returns (agg frame,
    * source row count, release). The staging copy exists so the streaming
    * source dir contains exactly one immutable file regardless of what
    * else lives in sfDir. The frame reads the staged dir LAZILY: call
    * release() after the last replay to delete the copy (and drop it from
    * the exit-time sweep, which still reclaims it if the caller fails
    * before releasing). */
  def buildAgg(spark: SparkSession, sfDir: String)
      : (DataFrame, Long, () => Unit) = {
    import java.nio.file.{Files, Path}
    val streamDir = Files.createTempDirectory("graft-bench-stream")
    staged.add(streamDir)
    hookInstalled
    Files.copy(Path.of(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val raw = spark.read.parquet(streamDir.toString)
    val rows = raw.count()
    val src0 = spark.readStream.schema(raw.schema).parquet(streamDir.toString)
    // events.parquet carries TIMESTAMP(NANOS) read as long under
    // nanosAsLong — rebuild a micros timestamp exactly like Tables.events
    val src =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        src0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else src0
    val agg = graft.streaming.StreamingPipeline.windowedAgg(
      src, "ts", Seq("event_type"), "value", "5 minutes", "10 minutes")
    (agg, rows, () => { staged.remove(streamDir); deleteRecursively(streamDir) })
  }

  /** One timed replay of the full source through `agg` to a noop sink
    * from a FRESH checkpoint (a reused one would mark every file
    * already-processed and measure an empty batch). Returns seconds. */
  def runOnce(agg: DataFrame): Double = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-ckpt")
    // each rep deliberately discards its checkpoint (a reused one would
    // measure an empty batch) — reclaim it on BOTH paths (a failing rep
    // would otherwise leak exactly the dir this cleanup exists to drain;
    // Bench catches the Throwable and keeps the session going). The
    // outer finally runs AFTER the timing expression, so the deletion
    // never lands inside the measured window.
    try {
      val t0 = System.nanoTime()
      val q = agg.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      (System.nanoTime() - t0) / 1e9
    } finally deleteRecursively(ckpt)
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case e: Exception =>
      System.err.println(s"[bench] temp cleanup of $root failed: $e")
    }
}
