package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bench.BenchGuard

/** The churn guard's contract and the bench artifact's round trip,
  * pinned independently of the bench main loop: a genuinely regressed
  * cell must still flag, and an artifact the bench writes must activate
  * the guard of the next comparable run. */
class BenchGuardSpec extends AnyFunSuite {

  // ---- guardCell -----------------------------------------------------

  test("seeded GENUINE regression stays slow through every re-run " +
    "attempt and still flags") {
    var calls = 0
    // prior 1.0s, envelope default 1.4x, measured 3.0s, and the cell is
    // REALLY slow now: every decontaminated re-run reads ~3s too
    val out = BenchGuard.guardCell(3.0, 1.0, () => {
      calls += 1; Some(3.0 + 0.05 * calls)
    })
    assert(calls === 2, "guard must spend both re-run attempts")
    assert(out === 3.0, "a genuine regression keeps its slow figure")
    assert(out > 1.0 * 1.4, "…and stays above the guard so it flags")
  }

  test("seeded noise spike snaps back to steady state on re-run") {
    var calls = 0
    val out = BenchGuard.guardCell(3.0, 1.0, () => {
      calls += 1; Some(1.05)
    })
    assert(calls === 1, "guard stops once the cell is back under guard")
    assert(out === 1.05)
  }

  test("failed re-run attempts never masquerade as a speedup") {
    var calls = 0
    val out = BenchGuard.guardCell(3.0, 1.0, () => {
      calls += 1; None
    })
    assert(calls === 2)
    assert(out === 3.0, "None re-runs keep the measured figure")
  }

  test("pass-through cases never invoke a re-run: sentinel, no prior, " +
    "sub-noise-floor, within-guard, within-declared-envelope, " +
    "sub-delta-floor") {
    def noRerun(): Option[Double] =
      fail("guard must not re-run a pass-through cell")
    assert(BenchGuard.guardCell(-1.0, 1.0, noRerun) === -1.0)
    assert(BenchGuard.guardCell(3.0, -1.0, noRerun) === 3.0)
    assert(BenchGuard.guardCell(0.25, 0.1, noRerun) === 0.25)
    assert(BenchGuard.guardCell(1.3, 1.0, noRerun) === 1.3)
    // exactly at the declared 1.4x ratio is still inside the guard
    assert(BenchGuard.guardCell(2.8, 2.0, noRerun) === 2.8)
    // 0.44 -> 0.90 is 2x on the ratio test but adds only 0.46 s, under
    // the 0.5 s delta floor — a sub-second cold cell's session spread
    // (nine such flags once summed ~3 s against a 200 s suite) must not
    // burn guard re-runs
    assert(BenchGuard.guardCell(0.9, 0.44, noRerun) === 0.9,
      "2x on a sub-second cell with delta <= 0.5s passes under the guard")
  }

  test("a small cell with a LARGE absolute regression still flags: the " +
    "delta floor never hides a regression that adds real seconds") {
    var calls = 0
    val out = BenchGuard.guardCell(5.0, 0.5, () => {
      calls += 1; Some(5.1)
    })
    assert(calls === 2, "0.5s -> 5.0s clears ratio AND delta floors")
    assert(out === 5.0)
  }

  test("a regression BEYOND a declared envelope still re-runs") {
    // a 1.5x slowdown planted in one cell: past the declared 1.4x ratio
    // and +1.0 s over the prior, so the guard spends both re-runs and the
    // cell, slow through each, still reads above the guard
    var calls = 0
    val out = BenchGuard.guardCell(3.0, 2.0, () => {
      calls += 1; Some(2.95)
    })
    assert(calls === 2, "3.0 > 2.0*1.4 and +1.0 s → guard engages")
    assert(out === 2.95)
    assert(out > 2.0 * BenchGuard.Ratio && out - 2.0 > BenchGuard.MinDeltaSec)
  }

  // ---- parsePrior (sf + methodology gating) --------------------------

  // the local[N] every fixture below was recorded at
  private val Par = 8

  private def priorJson(sf: String, meth: String) =
    s"""{"metric":"total","methodology":"$meth","sf":"$sf",
       |"env":{"parallelism":$Par},"queries":{"q1":1.5,"q2":0.4}}""".stripMargin

  test("parsePrior: same sf + same methodology activates the guard") {
    val p = BenchGuard.parsePrior(
      priorJson("/d/sf0.1", BenchGuard.Methodology), "/d/sf0.1", Par)
    assert(p === Map("q1" -> 1.5, "q2" -> 0.4))
  }

  test("parsePrior: different sf OR different methodology deactivates " +
    "the guard (a cross-methodology compare would flag every formerly-" +
    "bimodal cell on the r19 transition)") {
    assert(BenchGuard.parsePrior(
      priorJson("/d/sf0.01", BenchGuard.Methodology), "/d/sf0.1", Par)
      .isEmpty)
    assert(BenchGuard.parsePrior(
      priorJson("/d/sf0.1", "min2cold+reprobe+prior-churn-guard (r19+)"),
      "/d/sf0.1", Par).isEmpty)
  }

  test("parsePrior: non-numeric query values are skipped, not parsed " +
    "to 0.0") {
    val p = BenchGuard.parsePrior(
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"/d",
         |"env":{"parallelism":$Par},"queries":{"good":2.0,"bad":"x"}}""".stripMargin,
      "/d", Par)
    assert(p === Map("good" -> 2.0))
  }

  test("parsePrior: env_ok:false prior deactivates the guard (ADVICE " +
    "r19: an out-of-bounds prior would flag cells against incomparable " +
    "figures — the committed r19 driver re-run is exactly such a prior)") {
    val bad =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"/d",
         |"env_ok":false,"env":{"parallelism":$Par},"queries":{"q1":1.5}}""".stripMargin
    assert(BenchGuard.parsePrior(bad, "/d", Par).isEmpty)
    // explicit true and absent env_ok both remain comparable
    val ok =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"/d",
         |"env_ok":true,"env":{"parallelism":$Par},"queries":{"q1":1.5}}""".stripMargin
    assert(BenchGuard.parsePrior(ok, "/d", Par) === Map("q1" -> 1.5))
  }

  test("parsePrior: a MALFORMED prior is fail-soft (guard inactive)") {
    // a bench killed mid-write must not crash the next run after warm-up
    // with no artifact
    for (bad <- Seq("{\"methodology\":\"truncated", "not json at all",
                    "[1,2,3]", ""))
      assert(BenchGuard.parsePrior(bad, "/d", Par).isEmpty)
  }

  test("parallelism gate: a prior recorded at another local[N], or with " +
    "no recorded parallelism, is incomparable") {
    val sf = "/d"
    def artifact(par: Option[Int]) =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"$sf",""" +
        s""""env_ok":true,"env":{"cpus":32""" +
        par.fold("")(n => s""","parallelism":$n""") +
        s"""},"queries":{"q1":1.5}}"""
    assert(BenchGuard.parsePrior(artifact(Some(8)), sf, 8) ===
      Map("q1" -> 1.5))
    assert(BenchGuard.parsePrior(artifact(Some(8)), sf, 32).isEmpty)
    assert(BenchGuard.parsePrior(artifact(None), sf, 8).isEmpty)
  }

  // ---- artifactLine (the one writer of the line parsePrior reads) ----

  private def env(par: Int, loadAvgStart: Double = 1.0) =
    BenchGuard.Env(cpus = 4, parallelism = par, heapMaxMb = 16384L,
      loadAvgStart = loadAvgStart, loadAvgEnd = 2.0, java = "17")

  private def line(e: BenchGuard.Env, queries: Seq[(String, Double)]) =
    BenchGuard.artifactLine("/d/sf0.1", e, queries, Seq.empty,
      chainRows = 100000L, chainSec = 0.5, streamEventsPerSec = 40000.0,
      streamBatchP95Ms = 2000.0)

  test("artifactLine: an env_ok:true artifact is a prior at its own sf " +
    "and local[N] only") {
    val txt = line(env(4), Seq("q1" -> 1.5, "q2" -> 0.4))
    assert(txt.contains("\"env_ok\":true"), txt)
    assert(BenchGuard.parsePrior(txt, "/d/sf0.1", 4) ===
      Map("q1" -> 1.5, "q2" -> 0.4))
    // the same artifact read by a run at another local[N] — how a guard
    // goes silently inactive — or at another sf is no prior
    assert(BenchGuard.parsePrior(txt, "/d/sf0.1", 8).isEmpty)
    assert(BenchGuard.parsePrior(txt, "/d/sf0.01", 4).isEmpty)
    // a loaded session writes env_ok:false and anchors nothing
    assert(BenchGuard.parsePrior(line(env(4, loadAvgStart = 12.0),
      Seq("q1" -> 1.5)), "/d/sf0.1", 4).isEmpty)
  }

  test("artifactLine: the driver-contract keys, and only those") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      line(env(4), Seq("q1" -> 1.5, "bad" -> -1.0, "q2" -> 0.5)))
    val keys = Seq.newBuilder[String]
    root.fieldNames().forEachRemaining(k => keys += k)
    assert(keys.result() === Seq("metric", "value", "unit", "methodology",
      "env", "env_ok", "env_bounds", "queries", "errors", "sf", "chain_rows",
      "chain_sec", "chain_rows_per_sec", "stream_events_per_sec",
      "stream_batch_duration_p95_ms"))
    assert(root.get("value").asDouble() === 2.0, "total skips the -1 sentinel")
    assert(root.get("env").get("parallelism").asInt() === 4)
    assert(root.get("chain_rows_per_sec").asDouble() === 200000.0)
  }

  // ---- env bounds ----------------------------------------------------

  test("envOk: declared load + heap bounds") {
    assert(BenchGuard.envOk(2.0, 16384L))
    assert(!BenchGuard.envOk(13.0, 16384L), "r18 driver session load")
    assert(!BenchGuard.envOk(2.0, 91136L), "r18 driver session heap")
    assert(!BenchGuard.envOk(2.0, 8192L), "undersized heap")
  }
}
