package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.RangeJoin

/** Bucketized range joins must emit exactly the pairs the naive
  * range-predicate join emits — same rows, no duplicates from
  * multi-bucket replication, half-open boundary semantics — across
  * bucket widths, including widths far smaller than the intervals. */
class RangeJoinSpec extends SparkTestBase {
  import spark.implicits._

  // axis values include negatives (floor-division bucket arithmetic) and
  // exact bucket-boundary hits
  private def intervals: DataFrame = Seq(
    (1L, 0L, 10L),    // spans buckets
    (2L, 5L, 6L),     // single point-wide
    (3L, -12L, -2L),  // negative axis
    (4L, 7L, 7L),     // empty: matches nothing
    (5L, 9L, 3L),     // inverted: matches nothing
    (6L, -3L, 4L),    // crosses zero
    (7L, 0L, 100L)    // covers many buckets at small widths
  ).toDF("iv_id", "s", "e")

  private def points: DataFrame =
    Seq(-12L, -5L, -3L, -1L, 0L, 3L, 5L, 6L, 7L, 9L, 10L, 42L, 99L, 100L)
      .toDF("t").withColumn("pt_id", col("t"))

  private def naivePoint: Set[(Long, Long)] =
    points.join(intervals, col("t") >= col("s") && col("t") < col("e"))
      .select("pt_id", "iv_id").as[(Long, Long)].collect().toSet

  test("pointInInterval equals the naive range join at several widths") {
    val expected = naivePoint
    assert(expected.contains((0L, 1L)) && !expected.contains((10L, 1L)),
      "fixture must exercise half-open bounds")
    for (w <- Seq(1L, 3L, 8L, 64L)) {
      val got = RangeJoin.pointInInterval(points, intervals, "t", "s", "e", w)
        .select("pt_id", "iv_id").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"duplicate pairs at width $w")
      assert(got.toSet === expected, s"pair set mismatch at width $w")
    }
  }

  test("intervalOverlapJoin equals the naive overlap join, each pair once") {
    val right = Seq(
      (10L, -4L, 1L),
      (11L, 5L, 15L),   // shares many buckets with iv 1 and 7 at w=1
      (12L, 10L, 11L),  // touches iv 1 at its end: NOT an overlap
      (13L, -20L, 200L) // covers everything
    ).toDF("r_id", "rs", "re")
    // exact nonempty-intersection predicate: max(starts) < min(ends).
    // (The weaker `s < re && rs < e` admits EMPTY intervals as
    // "overlapping" — [7,7) intersects nothing.)
    val expected = intervals.join(right,
        greatest(col("s"), col("rs")) < least(col("e"), col("re")))
      .select("iv_id", "r_id").as[(Long, Long)].collect().toSet
    assert(!expected.contains((1L, 12L)), "touching intervals must not match")
    assert(expected.contains((1L, 11L)) && expected.contains((7L, 13L)))
    for (w <- Seq(1L, 3L, 16L, 256L)) {
      val got = RangeJoin.intervalOverlapJoin(intervals, right,
          "s", "e", "rs", "re", w)
        .select("iv_id", "r_id").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"duplicate pairs at width $w")
      assert(got.toSet === expected, s"pair set mismatch at width $w")
    }
  }

  test("bound-name collisions with the other side's schema fail loudly " +
    "instead of emitting duplicate column names") {
    // the shared-base-table scenario: points carries its own payload
    // column named like a bound — the rename-back would otherwise emit
    // two identically named columns and every downstream col(name)
    // would throw ambiguity
    val pWithS = points.withColumn("s", lit(1L))
    val ex = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pWithS, intervals, "t", "s", "e", 5L)
    }
    assert(ex.getMessage.contains("identically named"))
    val iWithT = intervals.withColumn("t", lit(1L))
    val ex2 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, iWithT, "t", "s", "e", 5L)
    }
    assert(ex2.getMessage.contains("identically named"))
    val rightIv = intervals.toDF("r_id", "rs", "re").withColumn("s", lit(0L))
    val ex3 = intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlapJoin(intervals, rightIv,
        "s", "e", "rs", "re", 5L)
    }
    assert(ex3.getMessage.contains("identically named"))
    // and the documented contract still admits non-bound shared names
    // (ordinary Spark join duplicate semantics, caller's concern): the
    // operators must not reject those
    val pShared = points.withColumn("note", lit("x"))
    val iShared = intervals.withColumn("note", lit("y"))
    assert(RangeJoin.pointInInterval(pShared, iShared, "t", "s", "e", 5L)
      .count() > 0)
  }

  test("pointInInterval composes with a stream (stream-static enrichment)") {
    // the operator is stateless (narrow bucket projection + equi-join
    // against the static side), so it must run unchanged inside a
    // streaming plan — the maintenance-window / campaign-period
    // enrichment shape at ingest time
    val inDir = tempRoot("graft-rj-in")
    val ckpt = tempRoot("graft-rj-ck")
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "b0.json"),
      Seq(-12L, 0L, 3L, 9L, 10L, 42L, 100L)
        .map(t => s"""{"t":$t}""").mkString("", "\n", "\n"))
    val src = spark.readStream.schema("t LONG").json(inDir)
    val enriched = RangeJoin.pointInInterval(src, intervals, "t", "s", "e", 8L)
    val q = enriched.writeStream.format("memory")
      .queryName("rj_stream").option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("rj_stream").select("t", "iv_id")
      .as[(Long, Long)].collect().toSet
    val expected = points.filter(col("t").isin(-12L, 0L, 3L, 9L, 10L, 42L, 100L))
      .join(intervals, col("t") >= col("s") && col("t") < col("e"))
      .select("t", "iv_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.contains((42L, 7L)))
  }

  test("both sides sharing non-bound column names resolve unambiguously") {
    // the common production shape: points and intervals both derive from
    // one base table, so they share column names beyond the bound
    // columns ("tag" here). The internal-rename discipline must keep the
    // range predicates resolvable — before it, col(startCol) was
    // ambiguous the moment the other side carried a same-named column.
    val pts = Seq((0L, "p"), (5L, "p"), (42L, "p")).toDF("t", "tag")
    val ivs = Seq((1L, 0L, 10L, "i"), (7L, 0L, 100L, "i"))
      .toDF("iv_id", "s", "e", "tag")
    val got = RangeJoin.pointInInterval(pts, ivs, "t", "s", "e", 8L)
      .select("t", "iv_id").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L), (5L, 1L), (0L, 7L), (5L, 7L), (42L, 7L)))
    // same for the overlap join: both interval tables carry "tag", and
    // the bound columns of one side exist as PAYLOAD columns on the other
    val l = Seq((1L, 0L, 10L, "x")).toDF("l_id", "ls", "le", "tag")
    val r = Seq((2L, 5L, 15L, "y"), (3L, 20L, 30L, "y"))
      .toDF("r_id", "rs", "re", "tag")
    val ov = RangeJoin.intervalOverlapJoin(l, r, "ls", "le", "rs", "re", 4L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(ov === Set((1L, 2L)))
  }

  test("property: both joins equal their naive forms on random inputs and widths") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    // axis values span negatives and bucket boundaries; interval gens
    // produce empty (e == s) and inverted (e < s) rows on purpose
    val ptGen = Gen.listOfN(12, Gen.choose(-30L, 30L))
    val ivGen = Gen.listOfN(8,
      Gen.zip(Gen.choose(-30L, 30L), Gen.choose(-10L, 25L)))
    val wGen = Gen.oneOf(1L, 2L, 5L, 17L)
    val prop = forAll(ptGen, ivGen, wGen) { (ts, ivs, w) =>
      val pts = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("pt_id", "t")
      val iv = ivs.zipWithIndex.map { case ((s, len), i) =>
        (100L + i, s, s + len) }.toDF("iv_id", "s", "e")
      val gotP = RangeJoin.pointInInterval(pts, iv, "t", "s", "e", w)
        .select("pt_id", "iv_id").as[(Long, Long)].collect()
      val expP = pts.join(iv, col("t") >= col("s") && col("t") < col("e"))
        .select("pt_id", "iv_id").as[(Long, Long)].collect().toSet
      val iv2 = ivs.zipWithIndex.map { case ((s, len), i) =>
        (200L + i, s - 3, s - 3 + (len min 12)) }.toDF("r_id", "rs", "re")
      val gotO = RangeJoin.intervalOverlapJoin(iv, iv2, "s", "e", "rs", "re", w)
        .select("iv_id", "r_id").as[(Long, Long)].collect()
      val expO = iv.join(iv2,
          greatest(col("s"), col("rs")) < least(col("e"), col("re")))
        .select("iv_id", "r_id").as[(Long, Long)].collect().toSet
      gotP.length == gotP.toSet.size && gotP.toSet == expP &&
        gotO.length == gotO.toSet.size && gotO.toSet == expO
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("invalid arguments fail loudly") {
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, intervals, "t", "s", "e", 0L)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, intervals, "t", "s", "s", 5L)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlapJoin(intervals, intervals, "s", "e", "s", "e", 5L)
    }
  }
}
