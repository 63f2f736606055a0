package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One measured pass of a workload. `walls` are the timed durations
  * (one per job for the closed loops, the catch-up drain for the stream);
  * `latencies` are (ms, weight) samples. */
final case class Pass(walls: Seq[Double], rows: Long,
                      latencies: Seq[(Double, Long)], attempted: Int, failed: Int)

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: stages seeded inputs, runs passes through graft's public
  * layer functions, and checks its outputs against the generator's ground
  * truth. */
trait Workload {
  /** Generate and stage inputs under `dir` (untimed by the pass). */
  def stage(b: Bench, dir: String): Unit
  /** Stagings timed for `setup_s` (their median is reported). */
  def setupRepeats: Int = 3
  /** Use the inputs staged under `dir` from now on. */
  def use(dir: String): Unit
  /** One untimed run so that JIT, codegen and lazy set-up are done. */
  def warmup(b: Bench): Unit
  /** Measure. `full`: the batch loop repeats its job (see
    * [[BatchLoop.pass]]); the stream drains its backlog several times,
    * then runs the live phase for `seconds` (see [[StreamOpenLoop.pass]]).
    * Otherwise one job, or one drain alone. */
  def pass(b: Bench, seconds: Int, full: Boolean): Pass
  /** The pass the traced run traces. */
  def tracedPass(b: Bench, seconds: Int): Pass = pass(b, seconds, full = false)
  def checks(b: Bench): Seq[Check]
  /** Layer metrics after a traced pass, beyond the span and task counts. */
  def layerMetrics(b: Bench): Map[String, Double]
}

/** Harness state shared by the workloads: the session (restartable at a
  * different parallelism), the plan guard, and tracing when it is on. */
final class Bench(val root: String, val work: String, val seed: Long) {
  var spark: SparkSession = _
  var cores: Int = 0
  val guard = new PlanGuard
  @volatile var tracer: Option[Tracer] = None
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)

  def start(n: Int): Unit = {
    cores = n
    val tmp = s"$work/tmp"
    spark = GraftSession.builder(s"local[$n]", n)
      .appName("perfbench")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep Spark's own job/stage/SQL bookkeeping small and bounded, so
      // retained_heap_mb measures the pipeline, not how many jobs ran
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(guard)
  }

  def stop(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def sc = spark.sparkContext

  /** A fresh, empty directory under the work dir. */
  def freshDir(tag: String): String = {
    val d = new File(s"$work/$tag-${dirs.incrementAndGet()}")
    d.mkdirs()
    d.getPath
  }

  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))

  def spanDurations(name: String): Seq[Double] = tracer.fold(Seq.empty[Double])(_.durations(name))

  /** Run `action` as one plan-guarded call (see [[PlanGuard]]). A count()
    * plans an Aggregate of its own, so a guarded count() must expect a
    * Window, which it cannot add. */
  def guarded[T](name: String, expect: String*)(action: => T): T =
    guard(sc, name, expect.toSet)(action)

  def drain(): Unit = BenchBus.drain(sc)
}

object Files {
  /** (data files, bytes) under a directory tree, skipping hidden and
    * marker files. */
  def parquetStats(dir: String): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(dir)).filter { f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_")
    }
    (files.size.toLong, files.map(_.length).sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Weighted nearest-rank percentile. */
  def percentile(samples: Seq[(Double, Long)], p: Double): Double = {
    val s = samples.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return Double.NaN
    val rank = math.ceil(p * total).toLong.max(1L)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= rank }.get._1
  }

  /** The highest of p95/p90/p75/p50 with at least ten samples beyond it
    * (a sample is one entry, whatever its weight). */
  def tailPercentile(samples: Seq[(Double, Long)]): (Double, Double) = {
    val n = samples.size
    val p = Seq(0.95, 0.9, 0.75, 0.5).find(q => (1 - q) * n >= 10).getOrElse(0.5)
    (p, percentile(samples, p))
  }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "batch_pipelines" -> (() => new BatchLoop(new Medallion, new CurateText)),
    "stream_open_loop" -> (() => new StreamOpenLoop))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val b = new Bench(a("root"), a("work"), a("seed").toLong)
    val w = Workloads(name)()
    // one core stays free for the main thread, JIT, GC and the stream
    // generator, so the executor threads are not oversubscribed
    b.start((Runtime.getRuntime.availableProcessors() - 1).max(1))
    val out =
      try if (traced) tracedRun(b, w, name, seconds) else measuredRun(b, w, seconds)
      finally b.stop()
    java.nio.file.Files.writeString(new File(a("result")).toPath, out)
  }

  private def setupSeconds(b: Bench, w: Workload): Seq[Double] =
    (1 to w.setupRepeats).map { _ =>
      val dir = b.freshDir("input")
      val t0 = System.nanoTime()
      w.stage(b, dir)
      w.use(dir)
      (System.nanoTime() - t0) / 1e9
    }

  /** Heap in use after full GCs; the pauses between them let Spark's
    * ContextCleaner drop the blocks of objects the first GC freed. */
  private def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def workloadChecks(b: Bench, w: Workload): Seq[Check] =
    try w.checks(b) catch {
      case e: Exception => Seq(Check("checks", ok = false, e.toString))
    }

  /** The plan guard over every guarded action so far. */
  private def guardCheck(b: Bench): Check = {
    b.drain()
    val (calls, fails) = b.guard.verdict
    Check("plan_guard", calls > 0 && fails.isEmpty,
      s"$calls guarded actions" + (if (fails.isEmpty) "" else ": " + fails.mkString("; ")))
  }

  private def report(checks: Seq[Check]): Unit =
    checks.foreach(c => println(f"check ${if (c.ok) "ok  " else "FAIL"} ${c.name}%-28s ${c.detail}"))

  private def measuredRun(b: Bench, w: Workload, seconds: Int): String = {
    // the first staging and the warm-up job absorb the JVM's first-run
    // costs (class loading, codegen, JIT); set-up is timed after them
    val t0 = System.nanoTime()
    val first = b.freshDir("input")
    w.stage(b, first)
    w.use(first)
    w.warmup(b)
    val t1 = System.nanoTime()
    val setups = setupSeconds(b, w)
    val setup = Stats.median(setups)
    val t2 = System.nanoTime()
    val p = w.pass(b, seconds, full = true)
    val t3 = System.nanoTime()
    val heap = heapAfterGcMb()
    val checks = workloadChecks(b, w) :+ guardCheck(b)
    report(checks)
    println(f"note phases: first staging + warm-up ${(t1 - t0) / 1e9}%.1f s, " +
      f"set-up ${(t2 - t1) / 1e9}%.1f s (${setups.map(x => f"$x%.2f").mkString(", ")}), " +
      f"timed ${(t3 - t2) / 1e9}%.1f s, " +
      f"checks ${(System.nanoTime() - t3) / 1e9}%.1f s; timed passes ${p.walls.map(x => f"$x%.2f").mkString(", ")}")
    val failedChecks = checks.count(!_.ok)
    val attempted = p.attempted + checks.size
    val failed = p.failed + failedChecks
    val wall = Stats.median(p.walls)
    val (tailP, tail) = Stats.tailPercentile(p.latencies)
    val nLat = p.latencies.size
    val metrics = Seq(
      ("setup_s", setup, "s"),
      ("wall_s", wall, "s"),
      ("rows_per_s", p.rows / wall, "rows/s"),
      ("latency_p50_ms", Stats.percentile(p.latencies, 0.5), "ms"),
      ("latency_p95_ms", tail, "ms"),
      ("retained_heap_mb", heap, "MB"))
    metrics.foreach { case (n, v, u) => println(f"metric $n%-18s $v%14.4f $u") }
    println(f"metric error_rate         ${failed.toDouble / attempted}%14.4f ratio")
    println(s"note latency tail reported at p${(tailP * 100).round} over $nLat samples")
    result(failed == 0, attempted, failed, metrics)
  }

  /** Names of every per-layer metric; each traced run prints all of them
    * (0 where the workload leaves that layer idle). */
  val SparkLayers = Seq("ingest", "streaming", "silver", "gold", "quality", "warehouse", "ext")
  val LayerMetricNames: Seq[(String, String)] = Seq(
    "gen.rows_offered" -> "count", "gen.late_p95_ms" -> "ms",
    "gen.malformed_planted" -> "count", "gen.dups_planted" -> "count",
    "ingest.self_s" -> "s", "ingest.rows_valid" -> "count",
    "ingest.rows_dead_letter" -> "count", "ingest.valid_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.batch_ms_p95" -> "ms", "streaming.queue_wait_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.gold_merge_ms_p50" -> "ms", "streaming.gold_merge_ms_p95" -> "ms",
    "streaming.gold_state_rows" -> "count", "streaming.backlog_files_max" -> "count",
    "silver.self_s" -> "s", "silver.rows_in" -> "count", "silver.rows_out" -> "count",
    "silver.dups_removed" -> "count", "silver.anomalies_flagged" -> "count",
    "gold.self_s" -> "s", "gold.rows_out" -> "count",
    "quality.self_s" -> "s", "quality.checks" -> "count",
    "quality.checks_failed" -> "count", "quality.pass_rate" -> "ratio",
    "warehouse.self_s" -> "s", "warehouse.files_written" -> "count",
    "warehouse.bytes_written_mb" -> "MB", "warehouse.bytes_per_row" -> "bytes",
    "ext.gate_self_s" -> "s", "ext.exact_self_s" -> "s", "ext.cluster_self_s" -> "s",
    "ext.keep_best_self_s" -> "s", "ext.chunk_self_s" -> "s", "ext.write_self_s" -> "s",
    "ext.near_dup_pairs" -> "count",
    "ext.near_dup_recall" -> "ratio", "ext.exact_dups_removed" -> "count",
    "ext.chunks" -> "count") ++
    SparkLayers.flatMap(l => Seq(s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.cpu_s" -> "s", s"$l.gc_s" -> "s", s"$l.shuffle_write_mb" -> "MB",
      s"$l.spill_mb" -> "MB", s"$l.fixed_overhead_s" -> "s")) ++ Seq(
    "pinned_peak_mb" -> "MB", "pinned_after_mb" -> "MB",
    "parallel_speedup" -> "ratio", "wall_untraced_s" -> "s", "wall_traced_s" -> "s",
    "trace_overhead_pct" -> "%")

  /** Traced pass (spans + per-layer Spark counts) between two untraced
    * passes, whose mean cancels the drift of a warming JVM out of the
    * tracing overhead; then the untraced pass at local[1] for the
    * single-threaded baseline. */
  private def tracedRun(b: Bench, w: Workload, name: String, seconds: Int): String = {
    val dir = b.freshDir("input")
    w.stage(b, dir)
    w.use(dir)
    w.warmup(b)
    val before = w.pass(b, seconds, full = false)
    b.drain()
    val tr = new Tracer(b.sc, s"$name-${b.seed}")
    val layers = new LayerListener
    b.sc.addSparkListener(layers)
    b.tracer = Some(tr)
    val traced = w.tracedPass(b, seconds)
    b.drain()
    b.sc.removeSparkListener(layers)
    val own = w.layerMetrics(b)
    val ownChecks = workloadChecks(b, w)
    b.tracer = None
    val after = w.pass(b, seconds, full = false)
    tr.writeJson(s"${b.work}/spans.json")
    val self = tr.selfSeconds
    val m = mutable.LinkedHashMap[String, Double]()
    LayerMetricNames.foreach { case (n, _) => m(n) = 0.0 }
    Seq("ingest", "silver", "gold", "quality", "warehouse").foreach { l =>
      m(s"$l.self_s") = self.getOrElse(l, 0.0)
    }
    SparkLayers.foreach { l =>
      layers.byGroup.get(l).foreach { c =>
        m(s"$l.jobs") = c.jobs.toDouble
        m(s"$l.tasks") = c.tasks.toDouble
        m(s"$l.cpu_s") = c.cpuNs / 1e9
        m(s"$l.gc_s") = c.gcMs / 1e3
        m(s"$l.shuffle_write_mb") = c.shuffleWrite / 1048576.0
        m(s"$l.spill_mb") = c.spill / 1048576.0
        m(s"$l.fixed_overhead_s") = self.getOrElse(l, 0.0) - c.runMs / 1e3 / b.cores
      }
    }
    own.foreach { case (k, v) => m(k) = v }
    val wallU = Stats.median(before.walls ++ after.walls)
    val wallT = Stats.median(traced.walls.take(1))
    b.stop()
    b.start(1)
    val single = w.pass(b, seconds, full = false)
    val checks = ownChecks :+ guardCheck(b)
    report(checks)
    m("parallel_speedup") = Stats.median(single.walls) / wallU
    m("wall_untraced_s") = wallU
    m("wall_traced_s") = wallT
    m("trace_overhead_pct") = (wallT / wallU - 1) * 100
    val units = LayerMetricNames.toMap
    val metrics = m.toSeq.map { case (k, v) => (k, v, units(k)) }
    metrics.foreach { case (n, v, u) => println(f"layer $n%-30s $v%14.4f $u") }
    val passes = Seq(before, traced, after, single)
    val failed = checks.count(!_.ok) + passes.map(_.failed).sum
    val attempted = checks.size + passes.map(_.attempted).sum
    result(failed == 0, attempted, failed, metrics)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def result(correct: Boolean, attempted: Int, failed: Int,
                     metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
