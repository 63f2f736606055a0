package graft.bench

import com.fasterxml.jackson.databind.ObjectMapper

/** The bench artifact contract and its churn guard, factored out of
  * [[graft.Bench]] so both are unit-testable: [[artifactLine]] writes the
  * one JSON line, [[parsePrior]] reads it back, and [[guardCell]] keeps a
  * GENUINE regression slow through every decontaminated re-run while a
  * noise spike snaps back (BenchGuardSpec seeds both cases).
  */
object BenchGuard {

  /** Methodology tag carried in every bench artifact. The churn guard
    * only compares against a prior recorded under the SAME tag: a cell
    * figure is the min of two cache-swept cold runs of a full noop-sink
    * materialization ([[Measure]]). Figures timed under `count()`, which
    * prunes unreferenced columns and the nodes that compute them, mean
    * something else and re-baseline instead of flagging.
    */
  val Methodology = "noop-write min2cold+reprobe+prior-churn-guard"

  /** Declared bench-environment bounds: two artifacts are comparable only
    * when both ran inside these. `env_ok` in the artifact is an
    * annotation — the bench still RUNS outside the bounds, but every
    * downstream reader sees the flag next to the figures. Bounds are
    * documented in BASELINE.md; build.sbt's run fork pins -Xmx16g.
    */
  val LoadAvgStartMax = 8.0
  val HeapBandMb: (Long, Long) = (12288L, 24576L)

  def envOk(loadAvgStart: Double, heapMaxMb: Long): Boolean =
    loadAvgStart <= LoadAvgStartMax &&
      heapMaxMb >= HeapBandMb._1 && heapMaxMb <= HeapBandMb._2

  /** The run's environment fingerprint: `cpus` is the host core count,
    * `parallelism` the `local[N]` the run used. */
  final case class Env(cpus: Int, parallelism: Int, heapMaxMb: Long,
                       loadAvgStart: Double, loadAvgEnd: Double,
                       java: String)

  /** The one JSON line [[graft.Bench]] prints and writes to its artifact.
    * `queries` holds each cell's seconds (-1 = failed); `value` is the
    * total over the cells that ran. */
  def artifactLine(sfDir: String, env: Env, queries: Seq[(String, Double)],
                   errors: Seq[String], chainRows: Long, chainSec: Double,
                   streamEventsPerSec: Double,
                   streamBatchP95Ms: Double): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("metric", "total")
    root.put("value", queries.map(_._2).filter(_ >= 0).sum)
    root.put("unit", "sec")
    root.put("methodology", Methodology)
    val e = root.putObject("env")
    e.put("cpus", env.cpus)
    e.put("parallelism", env.parallelism)
    e.put("heap_max_mb", env.heapMaxMb)
    e.put("load_avg_start", env.loadAvgStart)
    e.put("load_avg_end", env.loadAvgEnd)
    e.put("java", env.java)
    root.put("env_ok", envOk(env.loadAvgStart, env.heapMaxMb))
    val b = root.putObject("env_bounds")
    b.put("load_avg_start_max", LoadAvgStartMax)
    b.putArray("heap_max_mb_band").add(HeapBandMb._1).add(HeapBandMb._2)
    val q = root.putObject("queries")
    queries.foreach { case (k, v) => q.put(k, v) }
    val errs = root.putArray("errors")
    errors.foreach(e => errs.add(e))
    root.put("sf", sfDir)
    root.put("chain_rows", chainRows)
    root.put("chain_sec", chainSec)
    root.put("chain_rows_per_sec", if (chainSec > 0) chainRows / chainSec else 0.0)
    root.put("stream_events_per_sec", streamEventsPerSec)
    root.put("stream_batch_duration_p95_ms", streamBatchP95Ms)
    m.writeValueAsString(root)
  }

  /** Parse a prior BENCH_full.json into per-cell figures, returning
    * empty (guard inactive) when the prior was measured on a different
    * scale factor, under a different methodology tag, OUTSIDE the
    * declared environment bounds (`env_ok: false`), or at another
    * `local[N]` than `parallelism` — any of these would flag every cell
    * (or none) for reasons that have nothing to do with the code under
    * test. A malformed prior (e.g. a bench killed mid-write) is also
    * empty rather than an error. Non-numeric query values are skipped.
    */
  def parsePrior(txt: String, sfDir: String,
                 parallelism: Int): Map[String, Double] = {
    val root = try Option(new ObjectMapper().readTree(txt)).filter(_.isObject)
      catch { case _: Exception => None }
    root.filter(priorComparable(_, sfDir, parallelism))
      .flatMap(r => Option(r.get("queries")))
      .map { node =>
        val b = Map.newBuilder[String, Double]
        node.fields().forEachRemaining { e =>
          if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }.getOrElse(Map.empty)
  }

  /** `parallelism` must equal the prior's recorded `env.parallelism`: an
    * 8-slot run must never anchor a 32-slot one. A prior that predates
    * the field cannot show it matches, so it is incomparable. */
  private def priorComparable(root: com.fasterxml.jackson.databind.JsonNode,
                              sfDir: String,
                              parallelism: Int): Boolean = {
    val priorSf = Option(root.get("sf")).map(_.asText()).getOrElse("")
    val priorMeth =
      Option(root.get("methodology")).map(_.asText()).getOrElse("")
    // an explicit false is the loud incomparability mark
    val priorEnvOk =
      Option(root.get("env_ok")).forall(n => !n.isBoolean || n.asBoolean())
    val priorPar = Option(root.get("env"))
      .flatMap(e => Option(e.get("parallelism")))
      .filter(_.isInt).map(_.asInt())
    priorSf == sfDir && priorMeth == Methodology && priorEnvOk &&
      priorPar.contains(parallelism)
  }

  /** The churn guard engages on a cell only when it exceeds its prior by
    * [[Ratio]] AND by [[MinDeltaSec]] seconds, and reads at least
    * [[NoiseFloorSec]]; it then spends up to [[MaxAttempts]] re-runs. */
  val Ratio = 1.4
  val NoiseFloorSec = 0.3
  val MinDeltaSec = 0.5
  val MaxAttempts = 2

  /** The churn-guard decision loop for one cell. `measured` is this
    * run's figure, `prior` the same cell's figure from the prior
    * committed artifact (<=0 = no prior). A cell above the guard gets up
    * to [[MaxAttempts]] decontaminated re-runs (the caller's `rerun`
    * sweeps caches + GCs before timing; None = the re-run attempt failed
    * and must not masquerade as a speedup), keeping the min. Sentinel
    * failures (<0), no-prior, and sub-noise-floor cells pass through.
    * A genuine regression stays slow through every attempt and the
    * returned figure stays above the guard — it still flags downstream.
    *
    * Why the composite test: a cold min-of-2 is an extreme-value
    * statistic, and on sub-second cells its session-to-session spread is
    * ±40-60%, so a pure ratio test keeps flagging cells whose combined
    * movement is a few seconds of a multi-minute total. A regression that
    * can matter to the total must ADD seconds, and one that adds more
    * than [[MinDeltaSec]] on a small cell still trips the ratio test by
    * construction.
    */
  def guardCell(measured: Double, prior: Double,
                rerun: () => Option[Double]): Double = {
    def above(t: Double) = t > prior * Ratio && t - prior > MinDeltaSec
    if (measured < 0 || prior <= 0 || measured < NoiseFloorSec ||
        !above(measured)) measured
    else {
      var best = measured
      var attempt = 0
      while (attempt < MaxAttempts && above(best)) {
        rerun().foreach(rt => best = math.min(best, rt))
        attempt += 1
      }
      best
    }
  }
}
