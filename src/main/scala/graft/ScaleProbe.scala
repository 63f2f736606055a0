package graft

import org.apache.spark.sql.functions._

/** Dev-only probes, each in a FRESH JVM (not part of the driver
  * contract). Two modes, both timed through [[bench.Measure]]:
  *
  *  - `ScaleProbe [rows] [dir]` — the chain sweep: generate an N-row
  *    events table with the deterministic [[bench.EventGenerator]], land
  *    it as parquet, and push it through the SAME silver→gold stage
  *    functions the bench's medallion chain times ([[Pipeline.silverOf]]
  *    / [[Pipeline.gold5MinOf]]) — direct evidence of whether chain
  *    throughput holds at 10-1000× the sf0.1 bench table (SCALE.md);
  *  - `ScaleProbe cellprobe <name[,name...]> [sfDir] [reps]` — one or
  *    more registry cells timed under the bench's cold procedure.
  *
  * An unknown first argument exits non-zero with [[Usage]] before any
  * SparkSession is built. Physical plans come from [[graft.Explain]]. */
object ScaleProbe {
  val CellProbe = "cellprobe"

  val Usage: String = "usage: ScaleProbe [rows] [dir] | " +
    s"$CellProbe <name[,name...]> [sfDir] [reps]"

  /** The probe `args` selects, or the usage error for an unknown mode.
    * Resolving a mode builds nothing; the returned thunk does the work. */
  def select(args: Array[String]): Either[String, () => Unit] =
    args.headOption match {
      case Some(CellProbe) => Right(() => cellProbe(args))
      case Some(a) if a.toLongOption.isEmpty =>
        Left(s"unknown ScaleProbe mode '$a'\n$Usage")
      case _ => Right(() => chainSweep(args)) // a row count, or no argument
    }

  def main(args: Array[String]): Unit = select(args) match {
    case Right(run) => run()
    case Left(usage) => System.err.println(usage); sys.exit(2)
  }

  private def chainSweep(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale_events"
    val cpus = GraftSession.defaultParallelism
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nSensors = 500
    bench.EventGenerator.events(spark, nSensors, rows / nSensors)
      .withColumn("event_id",
        format_string("ev-%d", monotonically_increasing_id()))
      .repartition(cpus * 2)
      .write.mode("overwrite").parquet(out)
    val df = spark.read.parquet(out)
    val n = df.count()
    // the generated frame IS reading-shaped, so the chain starts at
    // silver: no events-table adapter in front of it
    (1 to 3).foreach { i =>
      System.gc()
      val sec = bench.Measure.seconds(Pipeline.gold5MinOf(Pipeline.silverOf(df)))
      println(f"[scale] run$i rows=$n sec=$sec%.2f rows_per_sec=${n / sec}%.0f")
    }
    spark.stop()
  }

  /** Generic per-cell fresh-JVM adjudication (the SCALE.md protocol as a
    * command instead of a one-off probe):
    * `ScaleProbe cellprobe <name[,name...]> [sfDir] [reps]` — for each
    * named registry cell, one DISCARDED warm-up rep (absorbs codegen /
    * classloading / page-cache), then `reps` (default 4) replays of the
    * bench's exact COLD per-cell procedure: two timed runs with a
    * cache sweep BETWEEN them (run 2 can never reuse run 1's persisted
    * stage boundaries), then min; cache sweep + full GC between reps.
    * Per-rep run1/run2 and their ratio print as diagnostics: under the
    * cold procedure a high ratio means FIRST-RUN overhead (codegen/JIT/
    * input page-cache) — NOT persist-reuse, which the inter-run sweep
    * eliminates — i.e. the committed min (run 2's mode) is the
    * right comparison baseline for the cell. */
  private def cellProbe(args: Array[String]): Unit = {
    require(args.length > 1 && args(1).nonEmpty,
      "usage: ScaleProbe cellprobe <name[,name...]> [sfDir] [reps]")
    val names = args(1).split(",").toSeq
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val reps = if (args.length > 3) args(3).toInt else 4
    val cpus = GraftSession.defaultParallelism
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown registry cell: $name"))
      bench.Measure.seconds(fn(spark, sfDir)) // warm-up, discarded
      GraftSession.sweepCaches(spark); System.gc()
      val mins = (1 to reps).map { rep =>
        val r1 = bench.Measure.seconds(fn(spark, sfDir))
        // sweep between the runs — the bench's cold methodology: run 2
        // must not reuse run 1's persisted stage boundaries, so the
        // probe's min measures the same (data-cold) mode the bench
        // commits, and run1/run2 is first-run overhead, not persist-reuse
        GraftSession.sweepCaches(spark)
        val r2 = bench.Measure.seconds(fn(spark, sfDir))
        println(f"[scale] cellprobe $name rep$rep run1=$r1%.2f run2=$r2%.2f " +
          f"min=${math.min(r1, r2)}%.2f ratio=${r1 / r2}%.2f")
        GraftSession.sweepCaches(spark); System.gc()
        math.min(r1, r2)
      }
      println(f"[scale] cellprobe $name summary reps=$reps " +
        f"min=${mins.min}%.2f median=${mins.sorted.apply(reps / 2)}%.2f " +
        f"max=${mins.max}%.2f")
    }
    spark.stop()
  }
}
