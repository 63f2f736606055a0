package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query plus the medallion chain
  * on SPARK_GRAFT_SF_DIR, printing ONE JSON line for the driver.
  *
  * A warm-up pass (session init + one scan per input table) runs before
  * any timer so the first measured query doesn't absorb JVM/classloader/
  * page-cache costs. */
object Bench {

  /** The current JVM's launch args (module opens, -D props, heap).
    * getInputArguments splits a single argument containing spaces into
    * multiple entries (its own javadoc caveat) — the non-"-" fragments
    * would be parsed by a re-exec'd child as its main class, so keep
    * only entries that still look like JVM flags. */
  private def inputJvmArgs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filter(_.startsWith("-"))
  }

  private def javaBin: String =
    java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString

  /** One launch recipe for every child JVM this main spawns (the heap
    * re-exec and the headline probes) so the two cannot drift apart. */
  private def childJvmCmd(jvmArgs: Seq[String], mainClass: String,
                          args: Seq[String]): Seq[String] =
    (Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args)

  /** Make the declared heap band unviolable (VERDICT r19 #5): build.sbt
    * pins -Xmx16g only as a DEFAULT, and the round driver's launch path
    * overrides it (the r19 re-run shipped a 91 GiB JVM past it, tripping
    * env_ok on exactly the bound this exists to hold). When the bench
    * JVM starts outside the band, re-exec the same main in a child JVM
    * with the heap pinned and exit with its code — so `env_ok` can only
    * be falsified by machine load, which is annotation-only by design.
    * The marker env var stops recursion if the pin itself ever failed. */
  private def reExecIfHeapOutOfBand(args: Array[String]): Unit = {
    if (sys.env.contains("GRAFT_BENCH_HEAP_PINNED")) return
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    graft.bench.BenchGuard.relaunchJvmArgs(inputJvmArgs, heapMb).foreach {
      jvmArgs =>
        System.err.println(s"[bench] heap_max_mb=$heapMb outside declared " +
          s"band ${graft.bench.BenchGuard.HeapBandMb} — re-exec with " +
          "pinned -Xmx16g")
        val cmd = childJvmCmd(jvmArgs, "graft.Bench", args.toSeq)
        val pb = new ProcessBuilder(cmd: _*).inheritIO()
        pb.environment().put("GRAFT_BENCH_HEAP_PINNED", "1")
        val code = pb.start().waitFor()
        sys.exit(code)
    }
  }

  def main(args: Array[String]): Unit = {
    reExecIfHeapOutOfBand(args)
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
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

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // Parse the churn-guard inputs BEFORE the measurement loop: the
    // envelope file's fail-loudly policy (BenchGuard.parseEnvelopes)
    // must reject a malformed file at zero measurement cost — throwing
    // AFTER the ~200 s suite would discard every figure and leave the
    // round with no artifact, the outcome the env_ok design exists to
    // avoid.
    //
    // Prior figures: a prior from a different scale factor OR a
    // different measurement methodology would flag every cell (or none)
    // for reasons unrelated to the code under test — parsePrior returns
    // empty (guard inactive) for both, so the first run after a
    // methodology change re-baselines instead of burning 2 futile
    // re-runs per cell.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
      "BENCH_full.json")
    val priorTxt: Option[String] = try {
      Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(priorPath)), "UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] no prior bench figures ($priorPath): $e" +
        " — churn guard inactive this run")
      None
    }
    val prior: Map[String, Double] = priorTxt.map { txt =>
      val p = graft.bench.BenchGuard.parsePrior(txt, sfDir, cpus)
      if (p.isEmpty)
        System.err.println(s"[bench] prior ($priorPath) is malformed or " +
          "has different sf/methodology/parallelism, env_ok:false, or no " +
          "queries — churn guard inactive this run")
      p
    }.getOrElse(Map.empty)
    // Declared variance envelopes (DATA, not code — bench_envelopes.json
    // fed from SCALE.md adjudications): `cells` widen the per-cell churn
    // guard past the 1.4x default for cells with a PROBED structural
    // cause (a regression BEYOND a declared envelope still flags);
    // `headline` rows are declared bands for the whole-run figures,
    // carried into the artifact so round-over-round readers compare
    // against the declared band, not whichever session was committed
    // last. A MISSING file means empty envelopes (every cell keeps the
    // 1.4x default); a present-but-malformed file fails the run loudly —
    // BenchGuard documents why a silent fallback would be worse.
    val envelopePath = sys.env.getOrElse("SPARK_GRAFT_ENVELOPES",
      "bench_envelopes.json")
    val parsedEnv: graft.bench.BenchGuard.Envelopes = {
      val path = java.nio.file.Paths.get(envelopePath)
      if (!java.nio.file.Files.exists(path)) {
        System.err.println(s"[bench] no envelope file ($envelopePath) " +
          "— every cell keeps the default 1.4x churn guard")
        graft.bench.BenchGuard.Envelopes(Map.empty, Map.empty)
      } else graft.bench.BenchGuard.parseEnvelopes(
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
    }
    val envelope = parsedEnv.cells
    val headlineEnv = parsedEnv.headline

    // min of 2 COLD runs per query (r19): caches are swept BETWEEN the
    // two reps, so run 2 can never reuse run 1's persisted stage
    // boundaries — the very mechanism that made r13-r18 minima bimodal
    // (cached vs cold mode, 34 recorded signatures in the r18 artifact)
    // and forced a growing per-cell envelope table. Run 1 still absorbs
    // codegen/JIT; run 2 is codegen-warm but data-cold, so the min is a
    // clean, unimodal cold-state figure. A query that throws records
    // the -1 sentinel (and the exception on stderr) so a regression
    // can't masquerade as a near-zero-time speedup.
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // Bimodal-signature capture (r18, semantics updated r19): with the
    // inter-rep sweep a >=1.8x run1/run2 ratio can no longer mean
    // persist-reuse — what remains is first-run overhead (codegen/JIT/
    // page-cache of this cell's inputs). Kept as diagnostic data: a
    // populated entry on a flagged cell says its FIRST run is the
    // expensive one, so a prior committed under this methodology (the
    // min, i.e. run 2's mode) is the right comparison baseline.
    // Detection only — the churn guard's threshold never widens from
    // this; envelopes stay DECLARED data.
    val bimodal = scala.collection.mutable.Map.empty[String, Double]
    var sinceGc = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var failed = false
      val times = (1 to 2).map { rep =>
        val t = time {
          try { fn(spark, sfDir).count(); () }
          catch { case e: Throwable =>
            failed = true
            System.err.println(s"[bench] query $name failed: $e")
          }
        }
        // the r19 methodology point: kill this cell's own persisted
        // intermediates before rep 2 so both reps measure the cold
        // steady state (CacheManager matches by canonicalized plan, so
        // a fresh fn() invocation WOULD silently hit rep 1's cache)
        if (rep == 1) GraftSession.sweepCaches(spark)
        t
      }
      if (!failed && times.min > 0.3 && times.head / times.last >= 1.8)
        bimodal(name) =
          math.round(times.head / times.last * 100.0) / 100.0
      // operators may persist intermediates; drop them (catalog cache AND
      // the RDD-level persistence that survives clearCache) so later
      // queries aren't taxed by accumulated cache + GC pressure
      GraftSession.sweepCaches(spark)
      // ContextCleaner frees broadcasts/shuffles only after a DRIVER gc
      // detects them unreachable; across 70+ queries the accumulation
      // degrades late queries 10-40x (measured). Force a periodic gc so
      // cleanup keeps pace; amortized cost is a few hundred ms per batch.
      sinceGc += 1
      if (sinceGc >= 8) { System.gc(); sinceGc = 0 }
      if (failed) errors += name
      name -> (if (failed) -1.0 else times.min)
    }

    // Decontaminated re-probe: a cell measured right after a heavy
    // neighbor (10+ actions, big broadcasts) can read 2-4x its warm
    // latency purely from ContextCleaner backlog — the sweep's periodic
    // GC bounds but doesn't eliminate this. Re-time every slow cell in a
    // freshly swept JVM (clearCache + RDD sweep + full GC immediately
    // before each) and keep the min: a genuinely slow query stays slow,
    // a contaminated one snaps back to its steady state. Cheap cells
    // can't be wrong by more than the threshold, so skip them.
    val reprobed = results.map { case (name, t) =>
      if (t < 0.75) name -> t
      else {
        GraftSession.sweepCaches(spark)
        System.gc()
        val fn = SparkEntry.queries(name)
        var reFailed = false
        val rtRaw = time {
          try { fn(spark, sfDir).count(); () }
          catch { case e: Throwable =>
            reFailed = true
            System.err.println(s"[bench] re-probe of $name failed: $e")
          }
        }
        // a failed re-probe must not masquerade as a speedup: keep the
        // sweep measurement (which already applied the -1.0 sentinel
        // discipline) rather than adopting the failed attempt's elapsed
        val rt = if (reFailed) Double.MaxValue else rtRaw
        if (rt < t / 1.5)
          System.err.println(f"[bench] $name: sweep $t%.2fs -> clean $rt%.2fs (contaminated cell)")
        GraftSession.sweepCaches(spark)
        name -> math.min(t, rt)
      }
    }

    // Churn guard: three consecutive rounds showed 5-11 cells regressing
    // >=1.5x round-over-round with NO code change on their paths, then
    // recovering the next round — shared-JVM noise (ContextCleaner
    // backlog, GC pacing, page-cache state), not real slowdowns. The
    // min-of-2 and the 0.75s re-probe bound but don't eliminate it. So:
    // give any cell above its COMPOSITE guard vs the prior figures
    // parsed above (ratio 1.4x/declared envelope AND >0.5 s absolute
    // excess — BenchGuard.guardCell) up to two extra decontaminated
    // attempts (cache sweep + GC + cleaner-drain sleep before each),
    // keeping the min. A genuine regression stays slow through every
    // attempt and still surfaces; a noise spike snaps back to steady
    // state instead of burning a round of adjudication.
    val guarded = reprobed.map { case (name, t) =>
      val p = prior.getOrElse(name, -1.0)
      val ratio = envelope.getOrElse(name, 1.4)
      // set by the rerun closure — the post-guard sweep must fire
      // exactly when a re-run actually happened (a hand-copied second
      // copy of guardCell's engage predicate drifted once already)
      var reran = false
      val best = graft.bench.BenchGuard.guardCell(t, p, ratio, () => {
        reran = true
        GraftSession.sweepCaches(spark)
        System.gc()
        // the guard pass runs at END-OF-SUITE JVM state (234 cells +
        // re-probe pass behind it), where ContextCleaner backlog alone
        // degrades readings 1.4-2.4x — the r19c closing run flagged 10
        // cells, ALL late-alphabet, that a fresh JVM reproduces at their
        // prior figures. Give the cleaner time to drain before the
        // re-run clock, exactly the discipline the stream measurement
        // has used since r3 (where it was worth 3.4k -> 38k ev/s).
        Thread.sleep(1500)
        System.gc()
        var reFailed = false
        val rt = time {
          try { SparkEntry.queries(name)(spark, sfDir).count(); () }
          catch { case e: Throwable =>
            reFailed = true
            System.err.println(s"[bench] churn-guard re-run of $name failed: $e")
          }
        }
        if (reFailed) None else Some(rt)
      })
      if (best < t)
        System.err.println(
          f"[bench] $name: churn guard $t%.2fs -> $best%.2fs (prior $p%.2fs)")
      // a guard re-run leaves this cell's persisted intermediates behind
      // regardless of whether it improved the figure — drop them so the
      // next guarded cell isn't taxed by them
      if (reran) GraftSession.sweepCaches(spark)
      name -> best
    }

    // Medallion chain throughput: events -> silver flags -> gold 5-min aggs.
    // Decontaminate before the clock (same rationale as the streaming
    // measurement below): after the 140-query sweep the JVM carries dead
    // broadcasts/shuffles that drag this reading 2-3x run-to-run.
    // Best-of-3 with a GC between runs tightens the 55k-190k rows/s
    // spread observed on back-to-back invocations.
    GraftSession.sweepCaches(spark)
    System.gc()
    // the measurement itself lives in bench.ChainMeasure — ONE definition
    // shared with the ScaleProbe chainheadline adjudication probe, same
    // single-definition discipline as StreamIngest below
    val chainRows = graft.bench.ChainMeasure.rows(spark, sfDir)
    val chainSec = (1 to 3).map { _ =>
      val s = graft.bench.ChainMeasure.runOnce(spark, sfDir)
      System.gc()
      s
    }.min
    val chainRps = if (chainSec > 0) chainRows / chainSec else 0.0

    // Streaming ingest throughput: the events table streamed through the
    // watermarked in-stream windowed aggregation to a noop sink (the
    // reference's headline metric is ingest events/sec).
    //
    // Decontaminate first: after the 100+-query sweep the JVM carries
    // dead broadcasts/shuffles that ContextCleaner only frees post-GC —
    // in r3 this dragged the measurement from a clean-run 12-38k ev/s
    // down to 3.4k. Sweep caches, force a GC, and give the cleaner a
    // moment to drain before starting the clock.
    GraftSession.sweepCaches(spark)
    System.gc()
    Thread.sleep(2000)
    System.gc()
    // listener captures per-batch durations for the latency-percentile
    // row (the reference's SLO is a p95 latency, alert_rules.yml:37-46;
    // on this historical-replay source the event-AGE percentile is
    // meaningless — years — so the row reports batch-duration p95, the
    // processing component of end-to-end latency)
    val latencyListener = new graft.streaming.StreamingPipeline.MetricsListener
    spark.streams.addListener(latencyListener)
    val streamRps = try {
      // the measurement itself lives in bench.StreamIngest — ONE
      // definition shared with the ScaleProbe streamheadline
      // adjudication probe, so probe and bench cannot diverge when the
      // window width / watermark / ts conversion next changes
      val (agg, rows, releaseStaged) =
        graft.bench.StreamIngest.buildAggReleasable(spark, sfDir)
      try {
        // Best-of-3, same discipline as the chain: the single-shot reading
        // swung ±15% round-to-round on identical code. Each run replays the
        // whole source dir from a FRESH checkpoint (a reused one would mark
        // every file already-processed and measure an empty batch).
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

    // Fresh-JVM probe medians for the two headline rates (VERDICT r19
    // #1): the declared in-suite bands are ~1.5-2x wide — honest about
    // end-of-suite session spread, but too wide to detect a real 30-40%
    // regression on the medallion path, which has no per-cell guard
    // covering it end to end. The probes (ScaleProbe chainheadline /
    // streamheadline — the SAME ChainMeasure/StreamIngest definitions
    // the bench times above) run in a CHILD JVM with no 234-cell suite
    // behind them, where the median of >=5 post-warmup reps carries
    // ~±15% spread (SCALE.md quiet-machine probes). Guarded against the
    // prior artifact's probe medians: a >1.25x rate drop gets ONE
    // re-probe (keep max) — a genuine regression stays low and flags.
    // Rate-guard anchors (r22, VERDICT r21 #10): prefer the MEDIAN of
    // the last k comparable sessions from the append-only probe history
    // — one noisy env_ok session can no longer move the anchor — and
    // fall back to the prior artifact's own medians until the history
    // holds enough comparable entries (BenchGuard.probeHistoryAnchors).
    val probeHistoryPath = sys.env.getOrElse("SPARK_GRAFT_PROBE_HISTORY",
      "bench_probe_history.jsonl")
    val historyAnchors: Map[String, Double] = try {
      graft.bench.BenchGuard.probeHistoryAnchors(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(probeHistoryPath)), "UTF-8"), sfDir, cpus)
    } catch { case _: Exception => Map.empty }
    val artifactPrior = priorTxt
      .map(t => graft.bench.BenchGuard.parsePriorProbeMedians(t, sfDir, cpus))
      .getOrElse(Map.empty)
    val probePrior = artifactPrior ++ historyAnchors
    val probeReps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5")
    def runProbe(kind: String): Double = {
      val jvmArgs = graft.bench.BenchGuard.relaunchJvmArgs(inputJvmArgs, 0L)
        .getOrElse(Seq.empty) // 0 is always out of band → always Some
      val cmd = childJvmCmd(jvmArgs, "graft.ScaleProbe",
        Seq(kind, sfDir, probeReps))
      try {
        val pb = new ProcessBuilder(cmd: _*)
          .redirectErrorStream(false)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        // waitFor BEFORE reading: a hung child would block readAllBytes
        // forever and defeat the timeout. The probe's stdout is a dozen
        // [scale] lines (stderr is inherited, not piped), far under the
        // pipe buffer, so the child never blocks on a full pipe either.
        val done = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { proc.destroyForcibly(); proc.waitFor() }
        val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
        val m = s"\\[scale\\] $kind median=(\\d+)".r.findFirstMatchIn(out)
        m.map(_.group(1).toDouble).getOrElse {
          System.err.println(s"[bench] $kind probe produced no median " +
            s"(exit=${if (done) proc.exitValue() else "timeout"}) — " +
            "probe_medians carries the -1 sentinel")
          -1.0
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] $kind probe failed to launch: $e")
        -1.0
      }
    }
    def guardedProbe(kind: String, key: String): Double = {
      // A transient launch failure (fork failure, child OOM at startup)
      // gets ONE retry before committing the -1 sentinel: a sentinel
      // never anchors the NEXT run's rate guard, so accepting it on the
      // first flake would silently disable regression detection for a
      // whole round (symmetric with the rate-drop re-probe below).
      val first = runProbe(kind)
      val measured =
        if (first > 0) first
        else {
          System.err.println(s"[bench] $kind probe failed — one retry " +
            "before committing the -1 sentinel")
          runProbe(kind)
        }
      val p = probePrior.getOrElse(key, -1.0)
      val best = graft.bench.BenchGuard.guardRate(measured, p, 1.25, () => {
        System.err.println(f"[bench] $key probe median $measured%.0f " +
          f"dropped >1.25x below prior $p%.0f — one re-probe")
        Some(runProbe(kind))
      })
      if (best > 0 && p > 0 && best * 1.25 < p)
        System.err.println(f"[bench] $key probe median REGRESSION: " +
          f"$best%.0f vs prior $p%.0f persists through the re-probe")
      best
    }
    // Load at PROBE time, recorded beside the medians: the probes run
    // after the full suite has pushed load well past load_avg_start
    // (the committed r19 artifact ends at ~16), and the 1.25x guard is
    // calibrated on quiet-machine ±15% spread — a reader adjudicating a
    // probe flag needs the like-for-like context. env_ok (BenchGuard.envOk)
    // gates load at START and heap; this reading travels on the probe-
    // history line, where only a load beyond the run's own local[N] keeps
    // it out of the anchor pool (BenchGuard.probeHistoryAnchors).
    val loadAtProbes = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val probeMedians: Seq[(String, Double)] =
      if (sys.env.get("SPARK_GRAFT_HEADLINE_PROBES").contains("0")) {
        System.err.println("[bench] headline probes disabled via " +
          "SPARK_GRAFT_HEADLINE_PROBES=0 — probe_medians carry the -1 " +
          "sentinel (a sentinel never anchors the next run's rate guard)")
        Seq("chain_rows_per_sec" -> -1.0, "stream_events_per_sec" -> -1.0)
      } else Seq(
        "chain_rows_per_sec" ->
          guardedProbe(ScaleProbe.ChainHeadline, "chain_rows_per_sec"),
        "stream_events_per_sec" ->
          guardedProbe(ScaleProbe.StreamHeadline, "stream_events_per_sec"))
    val probeJson = probeMedians
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // append this run's medians to the history so FUTURE runs anchor on
    // a median of sessions (append-only; a sentinel-only run is skipped
    // — the parser would drop its values anyway). env_ok and the
    // probe-time load travel on the line so an out-of-bounds or
    // oversubscribed session never joins the anchor pool.
    if (probeMedians.exists(_._2 > 0)) {
      val envOkNow = graft.bench.BenchGuard.envOk(loadAtStart,
        Runtime.getRuntime.maxMemory() / (1024 * 1024))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(probeHistoryPath),
        (graft.bench.BenchGuard.probeHistoryLine(sfDir, envOkNow,
          loadAtProbes, cpus, probeMedians) + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Exception =>
        System.err.println(s"[bench] could not append $probeHistoryPath: $e")
      }
    }

    val qs = guarded.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = guarded.map(_._2).filter(_ >= 0).sum
    val errsJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // environment fingerprint: totals shift ±15-20% across SESSIONS with
    // identical code (r15 adjudication, SCALE.md) — a bench artifact
    // must carry enough context to tell "code regressed" from "session
    // differs" without a post-hoc probe hunt
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    // env_ok: declared comparability bounds (BenchGuard, BASELINE.md) —
    // a run outside them still produces an artifact, but the flag
    // travels with the figures so no future reader compares a loaded /
    // differently-sized session against a clean one without noticing
    val envOk = graft.bench.BenchGuard.envOk(loadAtStart, heapMb)
    if (!envOk)
      System.err.println(f"[bench] ENV OUT OF BOUNDS: load_avg_start=" +
        f"$loadAtStart%.1f (max ${graft.bench.BenchGuard.LoadAvgStartMax})," +
        f" heap_max_mb=$heapMb (band ${graft.bench.BenchGuard.HeapBandMb})" +
        " — artifact annotated env_ok:false; figures not comparable to" +
        " an in-bounds session")
    // cpus = host cores; parallelism = the local[N] this run used
    val env = s""""env":{"cpus":${Runtime.getRuntime.availableProcessors()},""" +
      s""""parallelism":$cpus,""" +
      s""""heap_max_mb":$heapMb,""" +
      s""""load_avg_start":$loadAtStart,""" +
      s""""load_avg_end":${osBean.getSystemLoadAverage},""" +
      s""""java":"${System.getProperty("java.version")}"},""" +
      s""""env_ok":$envOk,""" +
      s""""env_bounds":{"load_avg_start_max":${graft.bench.BenchGuard.LoadAvgStartMax},""" +
      s""""heap_max_mb_band":[${graft.bench.BenchGuard.HeapBandMb._1},${graft.bench.BenchGuard.HeapBandMb._2}]}"""
    // declared envelopes travel in the artifact so a round-over-round
    // reader sees the claimed variance band next to the figures
    val envJson = envelope.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // observed first-run-overhead signatures this run (run1/run2 ≥ 1.8
    // inside one COLD min-of-2 — with the r19 inter-rep sweep this can
    // no longer mean persist-reuse; it records cells whose first run
    // carries heavy codegen/JIT/page-cache cost, i.e. the committed min
    // is run 2's mode) — adjudication DATA for future flags, not a guard
    val bimodalJson = bimodal.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val headlineJson = headlineEnv.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","methodology":"${graft.bench.BenchGuard.Methodology}",$env,"queries":$qs,"errors":$errsJson,"variance_envelopes":$envJson,"bimodal_cells":$bimodalJson,"headline_envelopes":$headlineJson,"probe_medians":$probeJson,"load_avg_at_probes":$loadAtProbes,"sf":"$sfDir","chain_rows":$chainRows,"chain_sec":$chainSec,"chain_rows_per_sec":$chainRps,"stream_events_per_sec":$streamRps,"stream_batch_duration_p95_ms":$batchP95Ms}"""
    println(json)
    // stdout gets truncated by callers that keep only a tail; also land
    // the complete per-query JSON as an artifact so round-over-round
    // comparison covers every cell. Default lands in the launch cwd
    // (the repo root when run per the harness contract); override with
    // SPARK_GRAFT_BENCH_OUT when launching from elsewhere. The errors
    // field travels in the JSON, so a partial run is self-describing.
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
