package graft

import graft.bench.{BenchGuard, Measure}

/** Benchmark main: times every SparkEntry query plus the medallion chain
  * and the streaming ingest on SPARK_GRAFT_SF_DIR, printing ONE JSON line
  * ([[BenchGuard.artifactLine]]) and writing it to SPARK_GRAFT_BENCH_OUT.
  * Every timed action is [[Measure.seconds]], a full noop-sink
  * materialization.
  *
  * A warm-up pass (session init + one scan per input table) runs before
  * any timer so the first measured query doesn't absorb JVM/classloader/
  * page-cache costs. */
object Bench {

  def main(args: Array[String]): Unit = {
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadAtStart = osBean.getSystemLoadAverage
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultParallelism
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up: session, codegen, input footprint. Failures are loud (stderr)
    // — a missing table would otherwise just shift its cost into the first
    // measured query.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.model.Tables.all.foreach { t =>
      try graft.model.Tables.load(spark, sfDir, t).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up scan failed for table $t: $e")
      }
    }

    // Prior figures for the churn guard. A prior from another scale
    // factor, methodology, local[N], or an env_ok:false session would flag
    // every cell (or none) for reasons unrelated to the code under test:
    // parsePrior returns empty for all of these, so the first run after a
    // methodology change re-baselines.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
      "BENCH_full.json")
    val prior: Map[String, Double] = try {
      val p = BenchGuard.parsePrior(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(priorPath)), "UTF-8"), sfDir, cpus)
      if (p.isEmpty)
        System.err.println(s"[bench] prior ($priorPath) is malformed or " +
          "has different sf/methodology/parallelism, env_ok:false, or no " +
          "queries — churn guard inactive this run")
      p
    } catch { case e: Exception =>
      System.err.println(s"[bench] no prior bench figures ($priorPath): $e" +
        " — churn guard inactive this run")
      Map.empty
    }

    /** One timed run of a registry cell; None (and stderr) when it throws,
      * so a failure can't masquerade as a near-zero-time speedup. */
    def timeCell(name: String, what: String): Option[Double] =
      try Some(Measure.seconds(SparkEntry.queries(name)(spark, sfDir)))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $what of $name failed: $e")
        None
      }

    /** One decontaminated re-timing: a cell measured right after a heavy
      * neighbor (big broadcasts, many actions) can read 2-4x its steady
      * latency purely from ContextCleaner backlog, which frees broadcasts
      * and shuffles only after a driver GC finds them unreachable. Sweep
      * caches, GC, give the cleaner time to drain, then time; sweep again
      * after so the cell's own persisted intermediates tax no later cell. */
    def retime(name: String, what: String): Option[Double] = {
      GraftSession.sweepCaches(spark)
      System.gc()
      Thread.sleep(1500)
      System.gc()
      try timeCell(name, what) finally GraftSession.sweepCaches(spark)
    }

    // min of 2 COLD runs per query: caches are swept BETWEEN the two reps
    // (CacheManager matches by canonicalized plan, so a fresh fn() WOULD
    // silently hit rep 1's cache). Run 1 still absorbs codegen/JIT; run 2
    // is codegen-warm but data-cold, so the min is a unimodal cold-state
    // figure. A query that throws records the -1 sentinel.
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    var sinceGc = 0
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val first = timeCell(name, "query")
      GraftSession.sweepCaches(spark)
      val min2 = first.flatMap(a => timeCell(name, "query").map(math.min(a, _)))
      GraftSession.sweepCaches(spark)
      // ContextCleaner frees broadcasts/shuffles only after a DRIVER gc;
      // across the suite the accumulation degrades late queries 10-40x
      // (measured). A periodic gc keeps cleanup paced.
      sinceGc += 1
      if (sinceGc >= 8) { System.gc(); sinceGc = 0 }
      if (min2.isEmpty) errors += name
      name -> min2.getOrElse(-1.0)
    }

    // Re-time every slow cell once through `retime` and keep the min: a
    // genuinely slow query stays slow, a contaminated one snaps back to its
    // steady state. Cheap cells can't be wrong by more than the threshold.
    val reprobed = results.map { case (name, t) =>
      if (t < 0.75) name -> t
      else name -> retime(name, "re-probe").fold(t) { rt =>
        if (rt < t / 1.5)
          System.err.println(f"[bench] $name: sweep $t%.2fs -> clean $rt%.2fs (contaminated cell)")
        math.min(t, rt)
      }
    }

    // Churn guard: a cell above its composite guard vs the prior
    // (BenchGuard.guardCell) gets up to two more `retime` attempts, keeping
    // the min. A genuine regression stays slow through every attempt and
    // still surfaces; a noise spike snaps back to steady state.
    val guarded = reprobed.map { case (name, t) =>
      val p = prior.getOrElse(name, -1.0)
      val best = BenchGuard.guardCell(t, p, () => retime(name, "churn-guard re-run"))
      if (best < t)
        System.err.println(
          f"[bench] $name: churn guard $t%.2fs -> $best%.2fs (prior $p%.2fs)")
      name -> best
    }

    // Medallion chain: events -> silver flags -> gold 5-min aggs.
    // Decontaminate before the clock: after the registry sweep the JVM
    // carries dead broadcasts/shuffles that drag this reading 2-3x.
    // Best-of-3 with a GC between runs.
    GraftSession.sweepCaches(spark)
    System.gc()
    val chainRows = graft.model.Tables.events(spark, sfDir).count()
    val chainSec = (1 to 3).map { _ =>
      val s = Measure.seconds(Pipeline.gold5Min(spark, sfDir))
      System.gc()
      s
    }.min

    // Streaming ingest throughput: the events table streamed through the
    // watermarked in-stream windowed aggregation to a noop sink (the
    // reference's headline metric is ingest events/sec). Same
    // decontamination as the chain, plus time for the cleaner to drain.
    GraftSession.sweepCaches(spark)
    System.gc()
    Thread.sleep(2000)
    System.gc()
    // listener captures per-batch durations for the latency-percentile
    // row (the reference's SLO is a p95 latency; on this historical-replay
    // source the event-AGE percentile is meaningless — years — so the row
    // reports batch-duration p95, the processing component of latency)
    val latencyListener = new graft.streaming.StreamingPipeline.MetricsListener
    spark.streams.addListener(latencyListener)
    val streamRps = try {
      val (agg, rows, releaseStaged) =
        graft.bench.StreamIngest.buildAgg(spark, sfDir)
      try {
        // Best-of-3; each run replays the whole source dir from a FRESH
        // checkpoint (a reused one would measure an empty batch).
        val sec = (1 to 3).map { _ =>
          val s = graft.bench.StreamIngest.runOnce(agg)
          System.gc()
          s
        }.min
        if (sec > 0) rows / sec else 0.0
      } finally releaseStaged()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming-ingest measurement failed: $e")
      errors += "stream_events_per_sec"
      0.0
    } finally spark.streams.removeListener(latencyListener)
    val batchP95Ms = graft.monitoring.Alerts
      .latencyPercentiles(latencyListener.history)
      .getOrElse("batch_duration_ms_p95", -1.0)

    val env = BenchGuard.Env(Runtime.getRuntime.availableProcessors(), cpus,
      Runtime.getRuntime.maxMemory() / (1024 * 1024), loadAtStart,
      osBean.getSystemLoadAverage, System.getProperty("java.version"))
    if (!BenchGuard.envOk(env.loadAvgStart, env.heapMaxMb))
      System.err.println(f"[bench] ENV OUT OF BOUNDS: load_avg_start=" +
        f"${env.loadAvgStart}%.1f (max ${BenchGuard.LoadAvgStartMax})," +
        f" heap_max_mb=${env.heapMaxMb} (band ${BenchGuard.HeapBandMb})" +
        " — artifact annotated env_ok:false; figures not comparable to" +
        " an in-bounds session")
    val json = BenchGuard.artifactLine(sfDir, env, guarded, errors.toSeq,
      chainRows, chainSec, streamRps, batchP95Ms)
    println(json)
    // stdout gets truncated by callers that keep only a tail; also land
    // the complete per-query JSON as an artifact. Default lands in the
    // launch cwd; override with SPARK_GRAFT_BENCH_OUT.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_full.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(benchOut),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $benchOut: $e")
    }
    spark.stop()
  }
}
