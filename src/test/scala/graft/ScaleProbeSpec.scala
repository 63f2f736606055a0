package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mode dispatch of the dev probes, without building a SparkSession:
  * resolving a mode only returns the thunk that would run it. */
class ScaleProbeSpec extends AnyFunSuite {

  test("an unknown or retired mode is rejected with the usage line") {
    Seq("nosuchmode", "bpebatch", "profiles", "chain", "chainheadline",
      "streamheadline").foreach { mode =>
      ScaleProbe.select(Array(mode, "/d", "1")) match {
        case Left(msg) =>
          assert(msg.contains(s"'$mode'"), msg)
          assert(msg.contains(ScaleProbe.Usage), msg)
        case Right(_) => fail(s"$mode must not dispatch")
      }
    }
    assert(ScaleProbe.Usage.contains(ScaleProbe.CellProbe))
  }

  test("the kept modes, a row count, and no argument all dispatch") {
    Seq(Array(ScaleProbe.CellProbe, "w1_dedup_latest"),
      Array("1000000", "/tmp/out"), Array.empty[String]).foreach { args =>
      assert(ScaleProbe.select(args).isRight, args.mkString(" "))
    }
  }
}
