package graft


import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.BloomPrune
import graft.warehouse.Layout

/** Bloom semi-join reduction + Z-order layout: the two round-5 scan/shuffle
  * reducers. Both are execution details — results must be bit-identical to
  * the naive plan; the specs additionally pin the reduction itself
  * (probe-row cut, per-file clustering). */
class LayoutBloomSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("bloom prefiltered join ≡ plain join, and actually prunes the probe") {
    val li = Tables.lineitem(spark, sf)
    val pr = Tables.part(spark, sf).filter(col("p_size") <= 3)

    val plain = li.join(pr, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pruned = BloomPrune.prefilteredJoin(li, pr, "l_partkey", "p_partkey",
        expectedItems = 10000L, numBits = 1L << 20)
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pruned === plain)

    // the prefilter must cut probe rows roughly to the build side's key
    // coverage: with p_size<=3 only a small fraction of parts survive, so
    // most lineitem rows never reach the join shuffle
    val bloom = BloomPrune.keyBloom(pr, col("p_partkey"), 10000L, 1L << 20)
    val total = li.count()
    val kept = li.filter(BloomPrune.mightContain(bloom, col("l_partkey"))).count()
    val trueMatches = li.join(pr.select("p_partkey").distinct(),
      col("l_partkey") === col("p_partkey"), "left_semi").count()
    assert(kept >= trueMatches, "bloom must never drop a matching row")
    assert(kept <= trueMatches + (total - trueMatches) / 10,
      s"false-positive rate too high: kept=$kept true=$trueMatches total=$total")
  }

  test("bloom prefilter sits below the join in the physical plan") {
    val li = Tables.lineitem(spark, sf)
    val pr = Tables.part(spark, sf).filter(col("p_size") <= 3)
    val p = BloomPrune.prefilteredJoin(li, pr, "l_partkey", "p_partkey",
        expectedItems = 10000L, numBits = 1L << 20)
      .queryExecution.executedPlan.toString
    val probeIdx = p.indexOf("might_contain")
    val joinIdx = math.max(p.indexOf("Join"), p.indexOf("join"))
    assert(probeIdx >= 0, s"no might_contain in plan:\n$p")
    // executedPlan prints top-down, so the probe filter (a child of the
    // join) must appear AFTER the join operator line — i.e. below it
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe not below the join:\n$p")
  }

  test("bloom probe on a disjoint key set keeps almost nothing") {
    val li = Tables.lineitem(spark, sf)
    // keys shifted far outside the part key range — only bloom false
    // positives survive
    val fake = spark.range(10_000_000L, 10_001_000L).toDF("k")
    val bloom = BloomPrune.keyBloom(fake, col("k"), 1000L, 1L << 16)
    val kept = li.filter(BloomPrune.mightContain(bloom, col("l_partkey"))).count()
    assert(kept <= li.count() / 20, s"disjoint bloom kept $kept rows")
  }

  test("zValue2 interleaves bits (known values) and matches its SQL form") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L))
      .toDF("x", "y")
    val got = df.select(Layout.zValue2(col("x"), col("y"), 8).as("z"))
      .as[Long].collect().toSeq
    // bit i of x → 2i+1, bit i of y → 2i
    assert(got === Seq(0L, 2L, 1L, 0x1BL, 0xFFFFL))
    // SQL mirror produces the identical curve on real data
    val ev = Tables.events(spark, sf).limit(500)
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("vb"))
    ev.createOrReplaceTempView("zin")
    val viaSql = spark.sql(
      s"""SELECT event_id,
         | CAST(${Layout.zValue2Sql("user_id", "vb", 8)} AS BIGINT) AS z
         | FROM zin""".stripMargin)
    val viaCol = ev.select(col("event_id"),
      Layout.zValue2(col("user_id"), col("vb"), 8).as("z"))
    assert(viaSql.except(viaCol).isEmpty && viaCol.except(viaSql).isEmpty)
  }

  test("zValueN generalizes zValue2 and interleaves 3 columns correctly") {
    import spark.implicits._
    val df = Seq((3L, 5L, 1L)).toDF("x", "y", "w")
    // 2-col N-form must equal the specialized form on real data
    val ev = Tables.events(spark, sf).limit(300)
      .select(col("user_id").as("a"), floor(col("value")).cast("long").as("b"))
    val mismatch = ev.select(
      Layout.zValue2(col("a"), col("b"), 8).as("z2"),
      Layout.zValueN(Seq(col("a"), col("b")), 8).as("zn"))
      .filter(col("z2") =!= col("zn")).count()
    assert(mismatch === 0L)
    // 3-col known value: x=3 (011), y=5 (101), w=1 (001), bits=3
    // round i emits [x_i y_i w_i] at positions 3i+2,3i+1,3i:
    // i=0: x0=1,y0=1,w0=1 → 111b<<0 = 7
    // i=1: x1=1,y1=0,w1=0 → 100b<<3 = 32
    // i=2: x2=0,y2=1,w2=0 → 010b<<6 = 128
    val z3 = df.select(Layout.zValueN(Seq(col("x"), col("y"), col("w")), 3))
      .as[Long].head()
    assert(z3 === (7L | 32L | 128L))
  }

  test("zorderWrite yields non-overlapping per-file z-ranges") {
    val dir = tempRoot("graft-zorder")
    val ev = Tables.events(spark, sf)
    Layout.zorderWrite(ev, col("user_id"), floor(col("value")).cast("long"),
      bits = 8, numFiles = 8, path = dir)

    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size > 1, "expected multiple z-range files")
    val ranges = files.map { f =>
      spark.read.parquet(f)
        .select(min(Layout.zValue2(col("user_id"),
          floor(col("value")).cast("long"), 8)).as("lo"),
          max(Layout.zValue2(col("user_id"),
            floor(col("value")).cast("long"), 8)).as("hi"))
        .head()
    }.filter(r => !r.isNullAt(0))
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(lo2 >= hi1, s"file z-ranges overlap: hi=$hi1 lo=$lo2")
      case _ =>
    }
    // round trip: clustering must not lose or duplicate rows
    assert(spark.read.parquet(dir).count() === ev.count())
  }

  test("z-order skipping: a 2-D range predicate reads fewer row-groups than the naive layout") {
    import scala.jdk.CollectionConverters._
    // 16k points on a 128x128 grid, written as 32 files under each layout:
    // z-clustered vs the best single-dimension alternative (sorted by y)
    val df = spark.range(1 << 14).select(
      (col("id") % 128).as("x"),
      floor(col("id") / 128).cast("long").as("y"),
      col("id").as("payload"))
    val zdir = tempRoot("graft-zskip") + "/t"
    Layout.zorderWrite(df, col("x"), col("y"), bits = 7, numFiles = 32, zdir)
    val ndir = tempRoot("graft-nskip") + "/t"
    df.repartitionByRange(32, col("y")).sortWithinPartitions("y")
      .write.mode("overwrite").parquet(ndir)

    // Count the row-groups a pushed (x<=15 AND y<=15) predicate must
    // read, straight from the parquet footers' min/max stats — the same
    // test parquet-mr applies at scan time, without depending on reader
    // internals. (x, y >= 0 everywhere, so only the upper bounds bind.)
    def rowGroupsHit(dir: String): (Int, Int) = {
      val conf = new org.apache.hadoop.conf.Configuration()
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      var hit = 0; var total = 0
      files.foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try rd.getFooter.getBlocks.asScala.foreach { b =>
          total += 1
          def minOf(name: String): Long = b.getColumns.asScala
            .find(_.getPath.toDotString == name).get
            .getStatistics.genericGetMin.asInstanceOf[Number].longValue
          if (minOf("x") <= 15 && minOf("y") <= 15) hit += 1
        } finally rd.close()
      }
      (hit, total)
    }
    val (hitZ, totalZ) = rowGroupsHit(zdir)
    val (hitN, totalN) = rowGroupsHit(ndir)
    assert(totalZ >= 32 && totalN >= 32, s"expected 32+ row-groups: $totalZ/$totalN")
    // naive skips on y alone (the sort column) but every file spans all
    // x; the z-layout bounds BOTH dimensions per file, so the corner
    // rectangle touches strictly fewer row-groups
    assert(hitZ < hitN, s"z-order should skip more: z=$hitZ naive=$hitN")
    // and both layouts return the identical answer for the probe query
    def answer(dir: String): (Long, Long) = {
      val r = spark.read.parquet(dir)
        .filter(col("x") <= 15 && col("y") <= 15)
        .agg(count(lit(1)), sum("payload")).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(answer(zdir) === answer(ndir))
    assert(answer(zdir)._1 === 256L) // 16x16 corner
  }
}
