package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bench.BenchGuard

/** The churn guard's contract, pinned independently of the bench main
  * loop (VERDICT r18 #1: "genuinely regressed cells must still flag —
  * keep one seeded-regression test of the guard"). */
class BenchGuardSpec extends AnyFunSuite {

  // ---- guardCell -----------------------------------------------------

  test("seeded GENUINE regression stays slow through every re-run " +
    "attempt and still flags") {
    var calls = 0
    // prior 1.0s, envelope default 1.4x, measured 3.0s, and the cell is
    // REALLY slow now: every decontaminated re-run reads ~3s too
    val out = BenchGuard.guardCell(3.0, 1.0, 1.4, () => {
      calls += 1; Some(3.0 + 0.05 * calls)
    })
    assert(calls === 2, "guard must spend both re-run attempts")
    assert(out === 3.0, "a genuine regression keeps its slow figure")
    assert(out > 1.0 * 1.4, "…and stays above the guard so it flags")
  }

  test("seeded noise spike snaps back to steady state on re-run") {
    var calls = 0
    val out = BenchGuard.guardCell(3.0, 1.0, 1.4, () => {
      calls += 1; Some(1.05)
    })
    assert(calls === 1, "guard stops once the cell is back under guard")
    assert(out === 1.05)
  }

  test("failed re-run attempts never masquerade as a speedup") {
    var calls = 0
    val out = BenchGuard.guardCell(3.0, 1.0, 1.4, () => {
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
    assert(BenchGuard.guardCell(-1.0, 1.0, 1.4, noRerun) === -1.0)
    assert(BenchGuard.guardCell(3.0, -1.0, 1.4, noRerun) === 3.0)
    assert(BenchGuard.guardCell(0.25, 0.1, 1.4, noRerun) === 0.25)
    assert(BenchGuard.guardCell(1.3, 1.0, 1.4, noRerun) === 1.3)
    // declared 2.8x envelope widens the guard past a 2.5x reading
    assert(BenchGuard.guardCell(2.5, 1.0, 2.8, noRerun) === 2.5)
    // 0.44 -> 0.90 is 2x on the ratio test but adds only 0.46 s, under
    // the 0.5 s delta floor — a sub-second cold cell's session spread
    // (r19: nine such flags summed ~3 s against a 200 s suite) must not
    // burn guard re-runs
    assert(BenchGuard.guardCell(0.9, 0.44, 1.4, noRerun) === 0.9,
      "2x on a sub-second cell with delta <= 0.5s passes under the guard")
  }

  test("a small cell with a LARGE absolute regression still flags: the " +
    "delta floor never hides a regression that adds real seconds") {
    var calls = 0
    val out = BenchGuard.guardCell(5.0, 0.5, 1.4, () => {
      calls += 1; Some(5.1)
    })
    assert(calls === 2, "0.5s -> 5.0s clears ratio AND delta floors")
    assert(out === 5.0)
  }

  test("a regression BEYOND a declared envelope still re-runs") {
    var calls = 0
    val out = BenchGuard.guardCell(3.0, 1.0, 2.8, () => {
      calls += 1; Some(2.9)
    })
    assert(calls === 2, "3.0 > 1.0*2.8 → guard engages despite envelope")
    assert(out === 2.9)
  }

  // ---- parseEnvelopes (ADVICE r18: no silent 0.0 / silent fallback) --

  test("parseEnvelopes: valid file round-trips cells and headline") {
    val env = BenchGuard.parseEnvelopes(
      """{"cells":{"a":1.8,"b":2.5},
        |"headline":{"h":{"baseline":41000,"band":[32000,49000]}}}"""
        .stripMargin)
    assert(env.cells === Map("a" -> 1.8, "b" -> 2.5))
    assert(env.headline.keySet === Set("h"))
    assert(env.headline("h").contains("41000"))
  }

  test("parseEnvelopes: non-numeric cell value fails loudly instead of " +
    "parsing to 0.0 (which would flag the cell as permanently regressed)") {
    val e = intercept[IllegalArgumentException] {
      BenchGuard.parseEnvelopes("""{"cells":{"a":"oops"}}""")
    }
    assert(e.getMessage.contains("non-numeric"))
  }

  test("parseEnvelopes: sub-1.0 envelope rejected (it would TIGHTEN the " +
    "guard, which is not what an envelope means)") {
    intercept[IllegalArgumentException] {
      BenchGuard.parseEnvelopes("""{"cells":{"a":0.5}}""")
    }
  }

  test("parseEnvelopes: malformed JSON throws (present file must parse)") {
    intercept[Exception] { BenchGuard.parseEnvelopes("not json at all {") }
    intercept[IllegalArgumentException] { BenchGuard.parseEnvelopes("42") }
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
      priorJson("/d/sf0.1", "min2+reprobe+prior-churn-guard (r13+)"),
      "/d/sf0.1", Par).isEmpty)
  }

  test("parsePrior: non-numeric query values are skipped, not parsed " +
    "to 0.0") {
    val p = BenchGuard.parsePrior(
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"/d",
         |"parallelism":$Par,"queries":{"good":2.0,"bad":"x"}}""".stripMargin,
      "/d", Par)
    assert(p === Map("good" -> 2.0))
  }

  test("parsePrior: env_ok:false prior deactivates the guard (ADVICE " +
    "r19: an out-of-bounds prior would flag cells against incomparable " +
    "figures — the committed r19 driver re-run is exactly such a prior)") {
    val bad =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"/d",
         |"env_ok":false,"parallelism":$Par,"queries":{"q1":1.5}}""".stripMargin
    assert(BenchGuard.parsePrior(bad, "/d", Par).isEmpty)
    // explicit true and absent env_ok both remain comparable
    val ok =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"/d",
         |"env_ok":true,"parallelism":$Par,"queries":{"q1":1.5}}""".stripMargin
    assert(BenchGuard.parsePrior(ok, "/d", Par) === Map("q1" -> 1.5))
  }

  test("parsePrior/parsePriorProbeMedians: a MALFORMED prior is " +
    "fail-soft (guard inactive), unlike the fail-loud envelope file — " +
    "a bench killed mid-write must not crash the next run after " +
    "warm-up with no artifact") {
    for (bad <- Seq("{\"methodology\":\"truncated", "not json at all",
                    "[1,2,3]", "")) {
      assert(BenchGuard.parsePrior(bad, "/d", Par).isEmpty)
      assert(BenchGuard.parsePriorProbeMedians(bad, "/d", Par).isEmpty)
    }
  }

  // ---- probe medians + rate guard (VERDICT r19 #1) --------------------

  test("parsePriorProbeMedians: gated like parsePrior, skips the -1 " +
    "probe-failed sentinel") {
    val txt =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"/d","env_ok":true,
         |"parallelism":$Par,"probe_medians":{"chain_rows_per_sec":150000.0,
         |"stream_events_per_sec":-1.0}}""".stripMargin
    assert(BenchGuard.parsePriorProbeMedians(txt, "/d", Par) ===
      Map("chain_rows_per_sec" -> 150000.0))
    assert(BenchGuard.parsePriorProbeMedians(txt, "/other", Par).isEmpty)
    assert(BenchGuard.parsePriorProbeMedians(
      txt.replace("\"env_ok\":true", "\"env_ok\":false"), "/d", Par)
      .isEmpty)
  }

  test("guardRate: a seeded GENUINE rate regression stays low through " +
    "the re-probe and still flags (the chain headline's missing " +
    "discriminating power)") {
    var calls = 0
    // prior 150k rows/s, measured 90k — a 40% drop the declared in-suite
    // band [100k, 200k] would MISS but the 1.25x probe guard catches
    val out = BenchGuard.guardRate(90000.0, 150000.0, 1.25, () => {
      calls += 1; Some(92000.0)
    })
    assert(calls === 1)
    assert(out === 92000.0)
    assert(out * 1.25 < 150000.0, "…still below guard, so it flags")
  }

  test("guardRate: a noisy probe snaps back on re-probe; pass-throughs " +
    "never re-probe") {
    var calls = 0
    val out = BenchGuard.guardRate(90000.0, 150000.0, 1.25, () => {
      calls += 1; Some(148000.0)
    })
    assert(calls === 1)
    assert(out === 148000.0)
    def noRerun(): Option[Double] = fail("must not re-probe")
    assert(BenchGuard.guardRate(-1.0, 150000.0, 1.25, noRerun) === -1.0,
      "failed-probe sentinel passes through")
    assert(BenchGuard.guardRate(140000.0, -1.0, 1.25, noRerun) === 140000.0,
      "no prior passes through")
    assert(BenchGuard.guardRate(130000.0, 150000.0, 1.25, noRerun)
      === 130000.0, "within-guard drop passes through")
  }

  test("relaunchJvmArgs: out-of-band heap strips ambient sizing and " +
    "pins the band's -Xmx; in-band heap never relaunches (VERDICT r19 " +
    "#5 — the driver's 91 GiB launch must still produce an in-band " +
    "bench JVM)") {
    val ambient = Seq("--add-opens", "java.base/java.lang=ALL-UNNAMED",
      "-Xms4g", "-Xmx91g", "-Dspark.ui.enabled=false")
    val pinned = BenchGuard.relaunchJvmArgs(ambient, 91136L)
    assert(pinned === Some(Seq("--add-opens",
      "java.base/java.lang=ALL-UNNAMED", "-Dspark.ui.enabled=false",
      "-Xmx16g")))
    assert(BenchGuard.relaunchJvmArgs(ambient, 16384L).isEmpty)
    assert(BenchGuard.relaunchJvmArgs(ambient, 8192L).isDefined,
      "undersized heap also relaunches")
  }

  // ---- probe history anchors ------------------------------------------

  test("probeHistoryAnchors: one outlier session cannot move the anchor; " +
    "incomparable and sentinel lines are skipped; below minEntries -> " +
    "empty (fall back to the prior artifact)") {
    val sf = "/root/testdata/sf0.1"
    def line(envOk: Boolean, chain: Double,
             sfd: String = sf, meth: String = BenchGuard.Methodology) =
      s"""{"sf":"$sfd","methodology":"$meth","env_ok":$envOk,""" +
        s""""parallelism":$Par,"probe_medians":{"chain_rows_per_sec":$chain}}"""
    // five comparable sessions, one a 3x-low outlier: the MEDIAN anchor
    // ignores it — under the old single-prior anchoring the outlier
    // session's artifact WOULD have become the whole anchor
    val hist = Seq(line(true, 131000), line(true, 128000),
      line(true, 40000), line(true, 135000), line(true, 130000))
      .mkString("\n")
    val a = BenchGuard.probeHistoryAnchors(hist, sf, Par)
    assert(a("chain_rows_per_sec") === 130000.0, s"median anchor: $a")
    // env_ok:false, wrong-sf, wrong-methodology and sentinel lines never
    // join the pool
    val dirty = Seq(line(false, 10), line(true, 131000, sfd = "/other"),
      line(true, 20, meth = "old"), line(true, -1),
      line(true, 128000), line(true, 130000), "not json at all",
      line(true, 132000)).mkString("\n")
    val d = BenchGuard.probeHistoryAnchors(dirty, sf, Par)
    assert(d("chain_rows_per_sec") === 130000.0, s"dirty pool: $d")
    // two comparable entries < minEntries: no anchor (a 2-median is the
    // outlier problem again)
    val thin = Seq(line(true, 131000), line(true, 40000)).mkString("\n")
    assert(BenchGuard.probeHistoryAnchors(thin, sf, Par).isEmpty)
    // only the LAST k entries count: an ancient fast regime ages out
    val aged = (Seq.fill(4)(line(true, 200000)) ++
      Seq.fill(5)(line(true, 130000))).mkString("\n")
    assert(BenchGuard.probeHistoryAnchors(aged, sf, Par)("chain_rows_per_sec")
      === 130000.0, "window is the last k entries")
    // round-trip: the writer's line parses back under the same gate
    val rt = BenchGuard.probeHistoryLine(sf, envOk = true,
      loadAtProbes = 1.0, Par,
      Seq("chain_rows_per_sec" -> 129000.0))
    assert(BenchGuard.probeHistoryAnchors(
      Seq(rt, rt, rt).mkString("\n"), sf, Par)("chain_rows_per_sec")
      === 129000.0)
  }

  test("parallelism gate: a prior recorded at another local[N], or with " +
    "no recorded parallelism, is incomparable") {
    val sf = "/d"
    def artifact(par: Option[Int]) =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"$sf",""" +
        s""""env_ok":true,"env":{"cpus":32""" +
        par.fold("")(n => s""","parallelism":$n""") +
        s"""},"queries":{"q1":1.5},"probe_medians":{"chain_rows_per_sec":9.0}}"""
    assert(BenchGuard.parsePrior(artifact(Some(8)), sf, 8) ===
      Map("q1" -> 1.5))
    assert(BenchGuard.parsePrior(artifact(Some(8)), sf, 32).isEmpty)
    assert(BenchGuard.parsePrior(artifact(None), sf, 8).isEmpty)
    assert(BenchGuard.parsePriorProbeMedians(artifact(Some(8)), sf, 32)
      .isEmpty)
    val line8 = BenchGuard.probeHistoryLine(sf, envOk = true,
      loadAtProbes = 1.0, 8,
      Seq("chain_rows_per_sec" -> 100.0))
    val line32 = BenchGuard.probeHistoryLine(sf, envOk = true,
      loadAtProbes = 1.0, 32,
      Seq("chain_rows_per_sec" -> 400.0))
    val hist = (Seq.fill(3)(line8) ++ Seq.fill(2)(line32)).mkString("\n")
    assert(BenchGuard.probeHistoryAnchors(hist, sf, 8) ===
      Map("chain_rows_per_sec" -> 100.0))
    assert(BenchGuard.probeHistoryAnchors(hist, sf, 32).isEmpty,
      "two comparable lines are below minEntries")
  }

  test("probe-time load gate: only a load beyond the run's own local[N] " +
    "keeps a line out; the recorded 32-core readings still anchor") {
    val sf = "/d"
    def line(load: Double, par: Int, chain: Double) =
      BenchGuard.probeHistoryLine(sf, envOk = true, loadAtProbes = load, par,
        Seq("chain_rows_per_sec" -> chain))
    assert(line(16.8, 32, 1.0).contains("\"load_avg_at_probes\":16.8"))
    // shaped like the committed r21 (16.8) / r22 (11.8) / first history
    // line (10.39) at local[32]: the suite's own load, not contention
    val r21 = Seq(line(16.8, 32, 131409.0), line(11.8, 32, 115156.0),
      line(10.39, 32, 120360.0)).mkString("\n")
    assert(BenchGuard.probeHistoryAnchors(r21, sf, 32) ===
      Map("chain_rows_per_sec" -> 120360.0))
    // the same 10.39 at local[8] is more runnable work than the run's
    // eight slots: never anchors
    val loaded = Seq.fill(5)(line(10.39, 8, 29183.0)).mkString("\n")
    assert(BenchGuard.probeHistoryAnchors(loaded, sf, 8).isEmpty)
    // loaded lines take no slot: the sessions within N alone anchor
    val mixed = (Seq(line(2.0, 8, 120000.0), line(3.0, 8, 118000.0),
      line(8.0, 8, 122000.0)) ++ Seq.fill(3)(line(10.39, 8, 29183.0)))
      .mkString("\n")
    assert(BenchGuard.probeHistoryAnchors(mixed, sf, 8) ===
      Map("chain_rows_per_sec" -> 120000.0))
    // the artifact fallback applies the same gate to its probe medians
    def artifact(load: Double, par: Int) =
      s"""{"methodology":"${BenchGuard.Methodology}","sf":"$sf",""" +
        s""""env_ok":true,"env":{"parallelism":$par},""" +
        s""""load_avg_at_probes":$load,""" +
        s""""probe_medians":{"chain_rows_per_sec":9.0}}"""
    assert(BenchGuard.parsePriorProbeMedians(artifact(10.39, 8), sf, 8)
      .isEmpty)
    assert(BenchGuard.parsePriorProbeMedians(artifact(16.8, 32), sf, 32) ===
      Map("chain_rows_per_sec" -> 9.0))
  }

  test("anchor window counts valid values per key within the last 2k " +
    "lines: recent sentinels push none out, stale values age out") {
    val sf = "/d"
    def line(chain: Double, stream: Double) =
      BenchGuard.probeHistoryLine(sf, envOk = true, loadAtProbes = 1.0, Par,
        Seq("chain_rows_per_sec" -> chain,
          "stream_events_per_sec" -> stream))
    // three valid sessions, then three whose stream probe failed (-1)
    val hist = (Seq(line(100.0, 30000.0), line(110.0, 32000.0),
      line(120.0, 34000.0)) ++ Seq.fill(3)(line(130.0, -1.0)))
      .mkString("\n")
    val a = BenchGuard.probeHistoryAnchors(hist, sf, Par, k = 5)
    // a whole-line window (the last 5 lines) would hold only two valid
    // stream values, below minEntries, and drop the stream anchor
    assert(a("stream_events_per_sec") === 32000.0, s"anchors: $a")
    // chain: its last 5 valid values are 110, 120, 130, 130, 130
    assert(a("chain_rows_per_sec") === 130.0, s"anchors: $a")
    // the valid values come only from the last 2k comparable lines: an
    // old fast stream regime followed by 2k lines of failed stream probes
    // ages out instead of anchoring forever
    val stale = (Seq.fill(3)(line(100.0, 90000.0)) ++
      Seq.fill(10)(line(100.0, -1.0))).mkString("\n")
    val st = BenchGuard.probeHistoryAnchors(stale, sf, Par, k = 5)
    assert(!st.contains("stream_events_per_sec"), s"anchors: $st")
    assert(st("chain_rows_per_sec") === 100.0, s"anchors: $st")
    // after seven failed lines the three old values still sit inside
    // the 2k window
    val recent = (Seq.fill(3)(line(100.0, 90000.0)) ++
      Seq.fill(7)(line(100.0, -1.0))).mkString("\n")
    assert(BenchGuard.probeHistoryAnchors(recent, sf, Par, k = 5)(
      "stream_events_per_sec") === 90000.0)
  }

  // ---- env bounds ----------------------------------------------------

  test("envOk: declared load + heap bounds") {
    assert(BenchGuard.envOk(2.0, 16384L))
    assert(!BenchGuard.envOk(13.0, 16384L), "r18 driver session load")
    assert(!BenchGuard.envOk(2.0, 91136L), "r18 driver session heap")
    assert(!BenchGuard.envOk(2.0, 8192L), "undersized heap")
  }
}
