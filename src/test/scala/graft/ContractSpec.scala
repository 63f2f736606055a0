package graft

import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.silver.Silver

/** Driver-contract self-checks + the property-based invariants from
  * SURVEY §5.3. */
class ContractSpec extends SparkTestBase {
  import spark.implicits._

  test("every oracleSql key has a matching query; names are unique") {
    val qNames = SparkEntry.queries.keySet
    val oNames = SparkEntry.oracleSql.keySet
    assert(oNames.subsetOf(qNames),
      s"oracle without query: ${oNames -- qNames}")
    assert(qNames.nonEmpty)
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private val rowsGen: Gen[List[(Int, Int, Double)]] =
    Gen.listOfN(60, for {
      key <- Gen.choose(0, 5)
      seq <- Gen.choose(0, 20)
      v <- Gen.choose(0.0, 100.0)
    } yield (key, seq, v))

  test("property: dedup is idempotent and keeps one row per key") {
    val prop = forAll(rowsGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("key", "seq", "v")
        val once = Silver.dedupLatest(df, Seq("key"),
          Seq(col("seq").desc, col("v").desc))
        val twice = Silver.dedupLatest(once, Seq("key"),
          Seq(col("seq").desc, col("v").desc))
        val keys = rows.map(_._1).distinct.size
        once.count() == keys && twice.collect().toSet == once.collect().toSet
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: late-merge is order-insensitive (union commutes)") {
    val prop = forAll(rowsGen, rowsGen) { (xs, ys) =>
      (xs.isEmpty && ys.isEmpty) || {
        val a = xs.toDF("key", "seq", "v")
        val b = ys.toDF("key", "seq", "v")
        val order = Seq(col("seq").desc, col("v").desc)
        val ab = Silver.mergeLateData(a, b, Seq("key"), order).collect().toSet
        val ba = Silver.mergeLateData(b, a, Seq("key"), order).collect().toSet
        ab == ba
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: alert streaks match a sequential reference evaluation") {
    val seriesGen: Gen[List[Double]] = Gen.listOfN(24, Gen.choose(0.0, 20.0))
    val prop = forAll(seriesGen, Gen.choose(1, 4)) { (vals, fw) =>
      vals.isEmpty || {
        val rows = vals.zipWithIndex.map { case (v, i) =>
          (f"2024-01-01 ${i}%02d:00:00", "m", v)
        }
        val metrics = rows.toDF("window_start", "metric", "value")
          .select(to_timestamp(col("window_start")).as("window_start"),
            col("metric"), col("value"))
        val out = graft.monitoring.Alerts
          .evaluate(metrics, Seq(graft.monitoring.Alerts.Rule(
            "a", "w", "m", ">", 10.0, fw)))
          .select("window_start", "streak", "state")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toList
        // sequential reference: walk the series, count consecutive breaches
        var streak = 0L
        val ref = vals.zipWithIndex.flatMap { case (v, i) =>
          if (v > 10.0) {
            streak += 1
            Some((f"2024-01-01 ${i}%02d:00:00", streak,
              if (streak >= fw) "firing" else "pending"))
          } else { streak = 0; None }
        }
        out == ref
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: gold merged from any batch split equals the one-shot gold") {
    val evGen: Gen[List[(Int, Int, Double)]] = Gen.listOfN(40, for {
      minute <- Gen.choose(0, 59)
      key <- Gen.choose(0, 2)
      v <- Gen.choose(-50.0, 50.0)
    } yield (minute, key, v))
    val prop = forAll(evGen, Gen.choose(0, 39)) { (rows, cut) =>
      rows.isEmpty || {
        import graft.streaming.StreamingPipeline
        def df(rs: List[(Int, Int, Double)]) = rs
          .map { case (m, k, v) => (f"2024-06-15 10:$m%02d:00", s"k$k", v) }
          .toDF("t", "k", "v")
          .select(to_timestamp(col("t")).as("t"), col("k"), col("v"))
        val gold = tempRoot("graft-prop-gold") + "/g"
        val (b1, b2) = rows.splitAt(cut)
        if (b1.nonEmpty) StreamingPipeline.mergeGoldBatch(df(b1), gold, 0L,
          "t", Seq("k"), "v", "5 minutes")
        if (b2.nonEmpty) StreamingPipeline.mergeGoldBatch(df(b2), gold, 1L,
          "t", Seq("k"), "v", "5 minutes")
        val merged = spark.read.parquet(s"$gold/data")
          .select(date_format(col("window_start"), "HH:mm").as("w"),
            col("k"), col("n"), col("sum_v"), col("min_v"), col("max_v"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            math.round(r.getDouble(3) * 1e6), r.getDouble(4), r.getDouble(5)))
          .toSet
        val oneShot = df(rows)
          .groupBy(window(col("t"), "5 minutes").as("w"), col("k"))
          .agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
            min("v").as("min_v"), max("v").as("max_v"))
          .select(date_format(col("w.start"), "HH:mm").as("w"), col("k"),
            col("n"), col("sum_v"), col("min_v"), col("max_v"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            math.round(r.getDouble(3) * 1e6), r.getDouble(4), r.getDouble(5)))
          .toSet
        merged == oneShot
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  private val tsRowsGen: Gen[List[(Int, Long, Long)]] =
    Gen.listOfN(50, for {
      key <- Gen.choose(0, 3)
      sec <- Gen.choose(0L, 20000L)
      eid <- Gen.choose(0L, 1000000L)
    } yield (key, sec, eid))

  test("property: sessionization conserves events and never splits within the gap") {
    import graft.operators.Sessionize
    val prop = forAll(tsRowsGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("key", "sec", "eid")
          .withColumn("t", timestamp_seconds(col("sec")))
        val sessions = Sessionize.sessionAgg(df, Seq("key"), "t",
          Seq(col("t").asc, col("eid").asc), gapSeconds = 1800).collect()
        val conserved = sessions.map(_.getAs[Long]("n_events")).sum == rows.size
        // session durations can only be bounded by (count-1) * gap
        val bounded = sessions.forall { r =>
          r.getAs[Long]("duration_us") <= (r.getAs[Long]("n_events") - 1) * 1800L * 1000000L
        }
        conserved && bounded
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: deterministic split partitions the id space and is stable") {
    import graft.ext.Sampling
    val prop = forAll(Gen.listOfN(100, Gen.choose(0L, 1000000L))) { ids =>
      ids.isEmpty || {
        val df = ids.distinct.toDF("id")
        val cuts = Seq("train" -> 80, "valid" -> 90, "test" -> 100)
        val s1 = df.withColumn("s", Sampling.deterministicSplit(col("id"), cuts))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val s2 = df.repartition(7)
          .withColumn("s", Sampling.deterministicSplit(col("id"), cuts))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        // total partition of ids, stable under repartitioning
        s1.size == ids.distinct.size && s1 == s2 &&
          s1.values.forall(Set("train", "valid", "test"))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: PII redaction is idempotent and leaves no matches behind") {
    import graft.ext.TextAnalysis
    val textGen = Gen.listOfN(30, for {
      user <- Gen.alphaLowerStr.suchThat(_.nonEmpty)
      host <- Gen.oneOf("example.com", "mail.org", "x.io")
      a <- Gen.choose(0, 255); b <- Gen.choose(0, 255)
      pad <- Gen.alphaNumStr
    } yield s"hi $user@$host from 10.0.$a.$b $pad")
    val prop = forAll(textGen) { texts =>
      texts.isEmpty || {
        val df = texts.toDF("t")
        val once = df.select(TextAnalysis.redactPii(col("t")).as("r"))
        val out = once.select(
          TextAnalysis.emailCount(col("r")).as("e"),
          TextAnalysis.ipv4Count(col("r")).as("i"),
          TextAnalysis.redactPii(col("r")).as("rr"), col("r"))
          .collect()
        out.forall(r => r.getAs[Int]("e") == 0 && r.getAs[Int]("i") == 0 &&
          r.getAs[String]("rr") == r.getAs[String]("r"))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
