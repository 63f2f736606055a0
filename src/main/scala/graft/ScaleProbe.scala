package graft

import org.apache.spark.sql.functions._

/** Dev-only probes, each in a FRESH JVM (not part of the driver
  * contract). Four modes:
  *
  *  - `ScaleProbe [rows] [dir]` — the chain sweep: generate an N-row
  *    events table with the deterministic [[bench.EventGenerator]], land
  *    it as parquet, and push it through the SAME silver→gold stage
  *    functions the bench's medallion chain times ([[Pipeline.silverOf]]
  *    / [[Pipeline.gold5MinOf]]) — direct evidence of whether chain
  *    throughput holds at 10-1000× the sf0.1 bench table (SCALE.md);
  *  - `ScaleProbe cellprobe <name[,name...]> [sfDir] [reps]` — one or
  *    more registry cells timed under the bench's cold procedure;
  *  - `ScaleProbe chainheadline [sfDir] [reps]` and
  *    `ScaleProbe streamheadline [sfDir] [reps]` — the bench's headline
  *    measurements, which [[graft.Bench]] spawns as child JVMs.
  *
  * An unknown first argument exits non-zero with [[Usage]] before any
  * SparkSession is built. Physical plans come from [[graft.Explain]]. */
object ScaleProbe {
  val CellProbe = "cellprobe"
  val ChainHeadline = "chainheadline"
  val StreamHeadline = "streamheadline"

  val Usage: String = "usage: ScaleProbe [rows] [dir] | " +
    s"$CellProbe <name[,name...]> [sfDir] [reps] | " +
    s"$ChainHeadline [sfDir] [reps] | $StreamHeadline [sfDir] [reps]"

  /** The probe `args` selects, or the usage error for an unknown mode.
    * Resolving a mode builds nothing; the returned thunk does the work. */
  def select(args: Array[String]): Either[String, () => Unit] =
    args.headOption match {
      case Some(CellProbe) => Right(() => cellProbe(args))
      case Some(ChainHeadline) => Right(() => chainHeadlineProbe(args))
      case Some(StreamHeadline) => Right(() => streamHeadlineProbe(args))
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
      val t0 = System.nanoTime()
      val g = Pipeline.gold5MinOf(Pipeline.silverOf(df)).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] run$i rows=$n gold_groups=$g sec=$sec%.2f " +
        f"rows_per_sec=${n / sec}%.0f")
    }
    spark.stop()
  }

  /** Generic per-cell fresh-JVM adjudication (the SCALE.md protocol as a
    * command instead of a one-off probe):
    * `ScaleProbe cellprobe <name[,name...]> [sfDir] [reps]` — for each
    * named registry cell, one DISCARDED warm-up rep (absorbs codegen /
    * classloading / page-cache), then `reps` (default 4) replays of the
    * bench's exact r19 COLD per-cell procedure: two timed counts with a
    * cache sweep BETWEEN them (run 2 can never reuse run 1's persisted
    * stage boundaries), then min; cache sweep + full GC between reps.
    * Per-rep run1/run2 and their ratio print as diagnostics: under the
    * cold procedure a high ratio means FIRST-RUN overhead (codegen/JIT/
    * input page-cache) — NOT persist-reuse, which the inter-run sweep
    * eliminated in r19 — i.e. the committed min (run 2's mode) is the
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
      fn(spark, sfDir).count() // warm-up, discarded
      GraftSession.sweepCaches(spark); System.gc()
      val mins = (1 to reps).map { rep =>
        val t0 = System.nanoTime(); fn(spark, sfDir).count()
        val r1 = (System.nanoTime() - t0) / 1e9
        // sweep between the runs — the bench's r19 cold methodology:
        // run 2 must not reuse run 1's persisted stage boundaries, so
        // the probe's min measures the same (data-cold) mode the bench
        // commits, and run1/run2 is first-run overhead, not persist-reuse
        GraftSession.sweepCaches(spark)
        val t1 = System.nanoTime(); fn(spark, sfDir).count()
        val r2 = (System.nanoTime() - t1) / 1e9
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

  /** Streaming-headline adjudication:
    * `ScaleProbe streamheadline [sfDir] [reps]` — the bench's EXACT
    * ingest-throughput measurement (events parquet → watermarked 5-min
    * windowed agg → noop sink, fresh checkpoint per rep) in a FRESH JVM
    * with NO 234-cell registry sweep beforehand. Separates the two
    * candidate causes of a committed-headline level shift: if the quiet
    * probe recovers the old figure, the cause is suite-accumulated JVM
    * state (cleaner backlog, GC profile of the larger suite); if it
    * reproduces the bench reading, the shift is environmental and the
    * headline gets re-baselined with a declared envelope instead of
    * drifting silently. */
  private def streamHeadlineProbe(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 6
    require(reps >= 1,
      s"streamheadline needs >= 1 post-warmup rep for a median, got $reps")
    val cpus = GraftSession.defaultParallelism
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the SAME buildAgg/runOnce the bench calls — not a copy, so this
    // probe measures exactly what the bench measures by construction
    val (agg, nRows) = bench.StreamIngest.buildAgg(spark, sfDir)
    // the first reps of a FRESH JVM measure classloading/codegen/page
    // cache, not engine capability (r19 measured 5.7k -> 22.5k over 4
    // cold reps vs a 33-39k steady state) — discard a fixed warm-up
    // prefix so a short probe run can't read as a below-band
    // "regression" that is really JVM warm-up
    val warmups = 2
    val rates = (1 to warmups + reps).map { rep =>
      System.gc()
      val sec = bench.StreamIngest.runOnce(agg)
      val rate = nRows / sec
      val tag = if (rep <= warmups) " (warm-up, discarded)" else ""
      println(f"[scale] streamheadline rep$rep rows=$nRows sec=$sec%.2f " +
        f"events_per_sec=$rate%.0f$tag")
      rate
    }.drop(warmups)
    val median = rates.sorted.apply(rates.size / 2)
    val band = declaredBand("stream_events_per_sec")
    println(f"[scale] streamheadline median=$median%.0f " +
      f"(post-warmup reps=$reps)" + band.map { b =>
        s" declared_band=$b"
      }.getOrElse(" (no declared band found)"))
    spark.stop()
  }

  /** Declared headline band from bench_envelopes.json, for the probes'
    * printed verdicts — so the below-band protocol (SCALE.md r18) is a
    * printed answer, not a hand comparison. File MISSING → quietly no
    * band; file PRESENT but malformed → loud stderr warning (the same
    * policy the bench enforces — "no declared band found" must never
    * mean "the file is broken", or the below-band protocol gets skipped
    * for the wrong reason). */
  private def declaredBand(key: String): Option[String] = {
    val bandPath = java.nio.file.Paths.get("bench_envelopes.json")
    if (!java.nio.file.Files.exists(bandPath)) None
    else try {
      bench.BenchGuard.parseEnvelopes(new String(
          java.nio.file.Files.readAllBytes(bandPath), "UTF-8"))
        .headline.get(key)
    } catch { case e: Exception =>
      System.err.println(
        s"[scale] bench_envelopes.json present but UNPARSEABLE: $e — " +
          "fix the file; the bench will refuse to run with it")
      None
    }
  }

  /** Medallion-chain headline adjudication:
    * `ScaleProbe chainheadline [sfDir] [reps]` — the bench's EXACT chain
    * measurement (bench.ChainMeasure: events → silver flags → gold 5-min
    * aggs, one materialization per rep) in a FRESH JVM with no 234-cell
    * registry sweep beforehand. The committed in-suite chain figure
    * carries a declared ~2x session band (end-of-suite JVM state); this
    * probe's post-warmup median carries ~±15%, so it is the reading with
    * the discriminating power to catch a real 30-40% chain regression
    * (VERDICT r19 #1). [[graft.Bench]] spawns this per closing run and
    * embeds the median in the artifact's `probe_medians`. */
  private def chainHeadlineProbe(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    require(reps >= 1,
      s"chainheadline needs >= 1 post-warmup rep for a median, got $reps")
    val cpus = GraftSession.defaultParallelism
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nRows = bench.ChainMeasure.rows(spark, sfDir)
    // same warm-up discipline as streamheadline: a fresh JVM's first
    // reps measure classloading/codegen/page cache, not engine capability
    val warmups = 2
    val rates = (1 to warmups + reps).map { rep =>
      System.gc()
      val sec = bench.ChainMeasure.runOnce(spark, sfDir)
      val rate = nRows / sec
      val tag = if (rep <= warmups) " (warm-up, discarded)" else ""
      println(f"[scale] chainheadline rep$rep rows=$nRows sec=$sec%.2f " +
        f"rows_per_sec=$rate%.0f$tag")
      rate
    }.drop(warmups)
    val median = rates.sorted.apply(rates.size / 2)
    val band = declaredBand("chain_rows_per_sec")
    println(f"[scale] chainheadline median=$median%.0f " +
      f"(post-warmup reps=$reps)" + band.map { b =>
        s" declared_band=$b"
      }.getOrElse(" (no declared band found)"))
    spark.stop()
  }
}
