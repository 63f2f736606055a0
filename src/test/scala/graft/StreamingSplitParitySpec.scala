package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Prop.{forAllNoShrink, AnyOperators}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterEach
import graft.streaming.StreamingPipeline

/** Random-split batch-parity properties for every streaming twin that
  * claims "the maintained state equals the batch recomputation over the
  * full history": the claim must hold for ANY way the stream slices the
  * corpus into micro-batches — including empty micro-batches, which a
  * trigger with no new data produces routinely. One property per twin,
  * 30+ draws each, forAllNoShrink (shrinking replays a full Spark
  * pipeline per candidate and walks outside the generator domain — the
  * r15 lesson), labeled invariants so a failure names the broken twin.
  *
  * Sizing note: corpora are deliberately tiny (≤ ~30 rows) — split
  * parity is a MERGE-algebra claim, so collision pressure (duplicate
  * keys landing in the same or different batches) matters and volume
  * does not; tiny draws keep 30 draws × ~4 store folds per property
  * inside the suite budget. At these sizes the HLL coupon list, the
  * CMS registers (eps 1e-4 → 2e4 cells), and the GK summary
  * (relativeError 1e-3 → compression threshold ≫ n) are all EXACT, so
  * the sketch parities are equality assertions, not tolerance checks.
  */
class StreamingSplitParitySpec extends SparkTestBase with BeforeAndAfterEach {
  import spark.implicits._

  /** Every temp root a draw creates; each test deletes its own. */
  private val roots = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private def tempRoot(prefix: String): String = {
    val r = Files.createTempDirectory(prefix)
    roots += r
    r.toString
  }

  override def afterEach(): Unit =
    try { roots.foreach(deleteTree); roots.clear() }
    finally super.afterEach()

  private val scParams =
    SCTest.Parameters.default.withMinSuccessfulTests(30)

  private def check(p: Prop): Unit = {
    val res = SCTest.check(scParams, p)
    assert(res.passed, res.status.toString)
  }

  /** Slice xs into three (possibly empty) consecutive parts at the two
    * fractional cut points — the same harness as the sample/cap
    * property in IncrementalGoldSpec. */
  private def splitBy[A](xs: List[A], cuts: List[Double]): Seq[List[A]] = {
    val sorted = cuts.sorted.map(c => (c * xs.size).toInt)
    val (a, rest) = xs.splitAt(sorted.head)
    val (b, c) = rest.splitAt(math.max(0, sorted(1) - sorted.head))
    Seq(a, b, c)
  }

  private val cutsGen = Gen.listOfN(2, Gen.choose(0.0, 1.0))

  private def tmp(prefix: String): String = tempRoot(prefix) + "/s"

  // ---------------------------------------------------------------
  // mergeGoldBatch: windowed (n, sum, min, max) state
  // ---------------------------------------------------------------
  test("property: mergeGoldBatch window aggregates equal the batch recompute " +
    "under random splits") {
    val rowsGen = Gen.choose(4, 24).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c")
      m <- Gen.choose(0, 29)
      v <- Gen.choose(0, 9) // int-valued doubles: sums exact under any association
    } yield (k, m, v.toDouble)))
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      def df(part: List[(String, Int, Double)]): DataFrame =
        part.toDF("k", "m", "v").withColumn("t",
          to_timestamp(format_string("2024-06-15 10:%02d:00", col("m"))))
      val store = tmp("graft-pgold")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.mergeGoldBatch(df(p), store, i.toLong,
          "t", Seq("k"), "v", "5 minutes")
      }
      val got = spark.read.parquet(s"$store/data")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("k"), col("n"), col("sum_v"), col("min_v"), col("max_v"))
        .as[(String, String, Long, Double, Double, Double)]
        .collect().toSet
      val want = df(rows)
        .groupBy(window(col("t"), "5 minutes").as("w"), col("k"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"))
        .select(date_format(col("w.start"), "HH:mm"), col("k"),
          col("n"), col("s"), col("mn"), col("mx"))
        .as[(String, String, Long, Double, Double, Double)]
        .collect().toSet
      "gold parity" |: (got ?= want)
    })
  }

  // ---------------------------------------------------------------
  // ewmaGoldBatch: day-level (n, Σv) state (the EWMA view is a pure
  // deterministic read of this state, so state parity IS view parity)
  // ---------------------------------------------------------------
  test("property: ewmaGoldBatch day aggregates equal the batch recompute " +
    "under random splits") {
    val rowsGen = Gen.choose(4, 24).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b")
      d <- Gen.choose(1, 5)
      v <- Gen.choose(0, 9)
    } yield (k, d, v.toDouble)))
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      def df(part: List[(String, Int, Double)]): DataFrame =
        part.toDF("k", "d", "v").withColumn("t",
          to_timestamp(format_string("2024-06-%02d 09:00:00", col("d"))))
      val store = tmp("graft-pewma")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.ewmaGoldBatch(df(p), i.toLong, store,
          "t", Seq("k"), "v")
      }
      val got = spark.read.parquet(s"$store/data")
        .select(col("k"), col("day").cast("string"), col("n"), col("sum_v"))
        .as[(String, String, Long, Double)].collect().toSet
      val want = df(rows).withColumn("day", to_date(col("t")))
        .groupBy("k", "day")
        .agg(count(col("v")).as("n"), sum("v").as("sum_v"))
        .select(col("k"), col("day").cast("string"), col("n"), col("sum_v"))
        .as[(String, String, Long, Double)].collect().toSet
      "ewma day-state parity" |: (got ?= want)
    })
  }

  // ---------------------------------------------------------------
  // sketchDistinctBatch: HLL registers (coupon-exact at this size)
  // ---------------------------------------------------------------
  test("property: sketchDistinct estimates equal exact distinct counts " +
    "under random splits") {
    val rowsGen = Gen.choose(4, 24).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b")
      v <- Gen.choose(1L, 12L)
    } yield (k, v)))
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-phll")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.sketchDistinctBatch(p.toDF("k", "v"), i.toLong,
          Seq("k"), "v", store, lgK = 12)
      }
      val got = spark.read.parquet(s"$store/data")
        .select(col("k"),
          expr("CAST(ROUND(hll_sketch_estimate(sk)) AS LONG)").as("est"))
        .as[(String, Long)].collect().toMap
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        k -> rs.map(_._2).distinct.size.toLong
      }
      "hll distinct parity" |: (got ?= want)
    })
  }

  // ---------------------------------------------------------------
  // cmsFrequencyBatch: CMS registers (collision-free at this size)
  // ---------------------------------------------------------------
  test("property: cmsFrequency estimates equal exact item counts " +
    "under random splits") {
    val items = (1 to 6).map(i => s"i$i")
    val rowsGen = Gen.choose(4, 24).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b")
      it <- Gen.oneOf(items)
    } yield (k, it)))
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-pcms")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.cmsFrequencyBatch(p.toDF("k", "item"), i.toLong,
          Seq("k"), "item", store, 1e-4, 0.99, 42)
      }
      val probes = items :+ "never"
      val got = StreamingPipeline.cmsEstimates(
          spark.read.parquet(s"$store/data"), Seq("k"), probes)
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      val exact = rows.groupBy(identity).map { case ((k, it), rs) =>
        (k, it) -> rs.size.toLong
      }
      val want = (for {
        k <- rows.map(_._1).distinct
        p <- probes
      } yield (k, p) -> exact.getOrElse((k, p), 0L)).toMap
      "cms frequency parity" |: (got ?= want)
    })
  }

  // ---------------------------------------------------------------
  // quantileStateBatch: GK summary (uncompressed regime → exact), read
  // through the SAME view as production so merge-vs-one-shot parity is
  // the whole read path, not just the registers
  // ---------------------------------------------------------------
  test("property: quantileState reads equal the one-shot batch fold " +
    "under random splits") {
    val rowsGen = Gen.choose(4, 24).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b")
      v <- Gen.choose(1, 50)
    } yield (k, v.toDouble)))
    val pcts = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-pgk")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.quantileStateBatch(p.toDF("k", "v"), i.toLong,
          Seq("k"), "v", store, relativeError = 0.001)
      }
      val oneShot = tmp("graft-pgk1")
      StreamingPipeline.quantileStateBatch(rows.toDF("k", "v"), 0L,
        Seq("k"), "v", oneShot, relativeError = 0.001)
      def read(s: String): Map[String, Seq[Double]] =
        StreamingPipeline.quantileStateView(
            spark.read.parquet(s"$s/data"), Seq("k"), pcts)
          .as[(String, Seq[Double])].collect().toMap
      "gk quantile parity" |: (read(store) ?= read(oneShot))
    })
  }

  // ---------------------------------------------------------------
  // embeddingMomentsBatch: additive (n, Σx, Σxxᵀ) cells — includes the
  // empty-first-batch case (state seeded by a trigger with no data)
  // ---------------------------------------------------------------
  test("property: embeddingMoments fit equals the full-corpus moments " +
    "under random splits") {
    val rowsGen = Gen.choose(4, 16).flatMap(n => Gen.listOfN(n, for {
      x <- Gen.choose(0, 5)
      y <- Gen.choose(0, 5)
    } yield Array(x.toDouble, y.toDouble)))
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-pmom")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.embeddingMomentsBatch(p.toDF("v"), i.toLong,
          "v", store)
      }
      val (n, mean, cov) = StreamingPipeline.embeddingMomentsView(
        spark.read.parquet(s"$store/data"))
      val (nF, meanF, covF) = graft.ext.Whiten.moments(rows.toDF("v"), "v")
      val meanOk = mean.zip(meanF).forall { case (a, b) => math.abs(a - b) < 1e-9 }
      val covOk = (for (i <- 0 until 2; j <- 0 until 2)
        yield math.abs(cov(i, j) - covF(i, j)) < 1e-9).forall(identity)
      ("moment n parity" |: (n ?= nF)) &&
        ("moment mean parity" |: Prop(meanOk)) &&
        ("moment cov parity" |: Prop(covOk))
    })
  }

  // ---------------------------------------------------------------
  // ccIngestBatch: incremental connected components vs one-shot CC
  // ---------------------------------------------------------------
  test("property: ccIngest assignment equals batch connected components " +
    "under random edge splits") {
    val edgesGen = Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.choose(1L, 12L)
      b <- Gen.choose(1L, 12L)
    } yield (a, b)))
    check(forAllNoShrink(edgesGen, cutsGen) { (edges, cuts) =>
      val store = tmp("graft-pcc")
      splitBy(edges, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.ccIngestBatch(p.toDF("a", "b"), i.toLong,
          "a", "b", store)
      }
      val got = spark.read.parquet(s"$store/data")
        .as[(Long, Long)].collect().toMap
      val want = graft.ext.Graph
        .connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      "cc assignment parity" |: (got ?= want)
    })
  }

  // ---------------------------------------------------------------
  // dedupIngestBatch: first-seen-wins is split-DEPENDENT in which id
  // survives, but the surviving CONTENT set is split-invariant: exactly
  // one published doc per distinct text, covering every distinct text
  // ---------------------------------------------------------------
  test("property: dedupIngest publishes exactly one survivor per distinct " +
    "text under random splits") {
    val pool = (1 to 8).map(i => s"document text number $i")
    val rowsGen = Gen.choose(4, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)))
    check(forAllNoShrink(rowsGen, cutsGen) { (texts, cuts) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val root = tempRoot("graft-pdd")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.dedupIngestBatch(p.toDF("doc_id", "text"),
          i.toLong, "text", "doc_id", s"$root/out", s"$root/idx")
      }
      val survivors = spark.read.parquet(s"$root/out/data")
        .select("text").as[String].collect().toSeq
      val wantSet = texts.distinct.toSet
      ("survivor content set" |: (survivors.toSet ?= wantSet)) &&
        ("one survivor per text" |: (survivors.size ?= wantSet.size))
    })
  }

  // ---------------------------------------------------------------
  // cdcUpsertBatch: with unique (key, seq) pairs the final table is
  // split-invariant — (same-seq ties are documented arrival-order, so
  // the generator excludes them)
  // ---------------------------------------------------------------
  test("property: cdcUpsert final table equals the one-shot batch fold " +
    "under random splits (unique sequences)") {
    val pairsGen = Gen.choose(4, 20).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.oneOf("k1", "k2", "k3")
      s <- Gen.choose(1L, 15L)
    } yield (k, s))).map(_.distinct)
    check(forAllNoShrink(pairsGen, cutsGen) { (pairs, cuts) =>
      def df(part: List[(String, Long)]): DataFrame =
        part.map { case (k, s) =>
          (k, s, if (s % 3 == 0) "delete" else "upsert", s"$k-$s")
        }.toDF("k", "seq", "op", "payload")
      val store = tmp("graft-pcdc")
      splitBy(pairs, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.cdcUpsertBatch(df(p), i.toLong, Seq("k"),
          "seq", "op", store)
      }
      val oneShot = tmp("graft-pcdc1")
      StreamingPipeline.cdcUpsertBatch(df(pairs), 0L, Seq("k"),
        "seq", "op", oneShot)
      def read(s: String): Set[(String, Long, String, String)] =
        spark.read.parquet(s"$s/data")
          .select("k", "seq", "op", "payload")
          .as[(String, Long, String, String)].collect().toSet
      "cdc table parity" |: (read(store) ?= read(oneShot))
    })
  }

  // ---------------------------------------------------------------
  // dsirCountsBatch: additive (bucket, ct, cr) counts
  // ---------------------------------------------------------------
  test("property: dsirCounts bucket counts equal the batch recompute " +
    "under random splits") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val rowsGen = Gen.choose(4, 16).flatMap(n => Gen.listOfN(n, for {
      ws <- Gen.listOfN(3, Gen.oneOf(words))
      lbl <- Gen.oneOf(0, 1)
    } yield (ws.mkString(" "), lbl)))
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-pdsir")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.dsirCountsBatch(p.toDF("text", "label"),
          i.toLong, "text", col("label") === 1, 64, store)
      }
      val got = spark.read.parquet(s"$store/data")
        .as[(Long, Long, Long)].collect().toSet
      val want = rows.toDF("text", "label")
        .select((col("label") === 1).cast("long").as("t"),
          explode(graft.ext.Sampling.dsirFeatures(col("text"), 64))
            .as("bucket"))
        .groupBy("bucket").agg(sum("t").as("ct"), count(lit(1)).as("cr"))
        .as[(Long, Long, Long)].collect().toSet
      "dsir count parity" |: (got ?= want)
    })
  }

  // ---------------------------------------------------------------
  // curateFullIngestBatch: the gate → exact-dedup → near-dup → cap
  // capstone composition. Which doc_id survives is arrival-order (the
  // documented first-seen-wins), but with mutually non-near-dup
  // templates and a non-binding cap the published TEXT set is
  // split-invariant: exactly the distinct gate-passing texts, each once.
  // ---------------------------------------------------------------
  test("property: curateFullIngest publishes exactly the distinct " +
    "gate-passing texts under random splits") {
    // six templates with DISJOINT vocabularies (no cross-template
    // near-dup at estThreshold=0.5) + junk strings the quality gate cuts
    val good = Seq(
      "apples and oranges are sold at the market on every sunday while " +
        "the children play in the park near the river ",
      "engines and turbines convert thermal energy into rotation under " +
        "careful monitoring of pressure valves inside the plant ",
      "glaciers carve deep valleys across mountain ranges leaving " +
        "moraines boulders and striations behind them over millennia ",
      "violins cellos and clarinets tune quietly before the conductor " +
        "raises a baton toward the orchestra pit tonight ",
      "databases index tables with btrees partitioning queries across " +
        "shards replicas and caches for latency budgets ",
      "penguins huddle against antarctic winds rotating positions so " +
        "each bird shares warmth during the long polar night ")
      .map(_ * 3)
    val junk = Seq("x", "!!!", "aa aa aa aa")
    // self-validate the pool against the REAL gate once: the property's
    // expected set is built from this classification
    val gateScores = (good ++ junk).toDF("text")
      .select(col("text"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(String, Double)].collect().toMap
    good.foreach(t => assert(gateScores(t) >= 0.35,
      s"template must pass the gate, scored ${gateScores(t)}"))
    junk.foreach(t => assert(gateScores(t) < 0.35,
      s"junk must fail the gate, scored ${gateScores(t)}"))
    val pool = good ++ junk
    val rowsGen = Gen.choose(4, 16).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, pool.size - 1)))
    val prop = forAllNoShrink(rowsGen, cutsGen) { (idxs, cuts) =>
      val rows = idxs.zipWithIndex.map { case (ti, i) =>
        (i.toLong, if (ti % 2 == 0) "a" else "b", pool(ti))
      }
      val root = tempRoot("graft-pcur")
      val counts = new StreamingPipeline.CurateCounts
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.curateFullIngestBatch(
          p.toDF("doc_id", "source", "text"), i.toLong,
          s"$root/out", s"$root/fp", s"$root/sig",
          minQuality = 0.35, estThreshold = 0.5, perSourceCap = 10,
          counts = counts)
      }
      val published = spark.read.parquet(s"$root/out/data")
        .select("text").as[String].collect().toSeq
      val want = idxs.map(pool).filter(t => gateScores(t) >= 0.35)
        .distinct.toSet
      ("published text set" |: (published.toSet ?= want)) &&
        ("one row per text" |: (published.size ?= want.size))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------
  // keepBestBatch: per-cluster champion state — best-by-total-order is
  // associative, so parity with the batch operator is EXACT for any
  // split. Pool texts repeat, so equal-quality id tie-breaks and
  // incumbent-vs-challenger displacements both occur routinely.
  // ---------------------------------------------------------------
  test("property: keepBestIngest champions equal the batch keep-best " +
    "under random splits") {
    val pool = Vector("x", "w w", "the and of to in w",
      "the and of to in is a good doc here",
      "the and of to in is a better longer doc here today", "zz z")
    val rowsGen = Gen.choose(4, 24).flatMap(n => Gen.listOfN(n, for {
      c <- Gen.choose(1L, 4L)
      t <- Gen.choose(0, pool.size - 1)
    } yield (c, t)).map(_.zipWithIndex.map { case ((c, t), i) =>
      (i.toLong, c, pool(t)) }))
    val prop = forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-pkb")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.keepBestBatch(
          p.toDF("doc_id", "cluster_id", "text"), i.toLong,
          "cluster_id", "text", "doc_id", store)
      }
      val got = spark.read.parquet(s"$store/data")
        .select("cluster_id", "doc_id", "text", "quality")
        .as[(Long, Long, String, Double)].collect().toSet
      val want = graft.ext.Curate.keepBestPerCluster(
          rows.toDF("doc_id", "cluster_id", "text"),
          "cluster_id", "text", "doc_id")
        .select(col("cluster_id"), col("doc_id"), col("text"),
          col("quality"))
        .as[(Long, Long, String, Double)].collect().toSet
      "keep-best champion parity" |: (got ?= want)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------
  // tokenBudgetIngest: the stored scored index is a pure union fold, so
  // the read-time selection must equal the batch operator over the
  // concatenated corpus for ANY split — including the readmission cases
  // where a batch of low-quality tokens grows the budget and pulls a
  // previously-dropped doc back inside it
  // ---------------------------------------------------------------
  test("property: tokenBudgetIngest view equals the batch token-budget " +
    "selection under random splits") {
    val pool = Vector("x", "w w", "the and of to in w",
      "the and of to in is a good doc here",
      "the and of to in is a better longer doc here today",
      "z1! z2! z3! z4! z5! z6! z7! z8!")
    val rowsGen = Gen.choose(4, 24).flatMap(n => Gen.listOfN(n,
      Gen.choose(0, pool.size - 1)).map(_.zipWithIndex.map {
        case (t, i) => (i.toLong, pool(t)) }))
    val prop = forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-ptb")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.tokenBudgetIngestBatch(
          p.toDF("doc_id", "text"), i.toLong, "text", "doc_id", store)
      }
      val got = StreamingPipeline.tokenBudgetView(
          spark.read.parquet(s"$store/data"), "doc_id", budgetFrac = 0.6)
        .as[(Long, Long, Long)].collect().toSet
      val want = graft.ext.Sampling.tokenBudgetSelect(
          rows.toDF("doc_id", "text"), "text", "doc_id", budgetFrac = 0.6)
        .as[(Long, Long, Long)].collect().toSet
      spark.catalog.clearCache() // the selection kernel persists its
      // narrow projection per call (the session sweep reclaims it in
      // production); 20 draws × 2 selections would otherwise accumulate
      "token-budget selection parity" |: (got ?= want)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------
  // normalizedDedupIngestBatch: which id survives is arrival-order, but
  // the published set covers every distinct ROBUST fingerprint exactly
  // once — case/punct/digit/whitespace variants of any earlier survivor
  // never land, whichever batch they ride in
  // ---------------------------------------------------------------
  test("property: normalizedDedupIngest publishes exactly one survivor " +
    "per robust fingerprint under random splits") {
    val bases = (1 to 6).map(i => s"document number $i about topic $i")
    // mutation closure: identity, case, punctuation, digits, whitespace
    val variants = bases.flatMap(b => Seq(
      b, b.toUpperCase, s"  $b !!!", b.replace("1", "7"), b + "   9"))
    // fingerprint each pool text ONCE through the production expression
    val fpOf = variants.toDF("t")
      .select(col("t"),
        graft.ext.TextAnalysis.robustFingerprint(col("t")).as("fp"))
      .as[(String, String)].collect().toMap
    val rowsGen = Gen.choose(4, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(variants)))
    val prop = forAllNoShrink(rowsGen, cutsGen) { (texts, cuts) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val root = tempRoot("graft-pnd")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.normalizedDedupIngestBatch(
          p.toDF("doc_id", "text"), i.toLong, "text", "doc_id",
          s"$root/out", s"$root/idx")
      }
      val survivors = spark.read.parquet(s"$root/out/data")
        .select("text").as[String].collect().toSeq
      val wantFps = texts.map(fpOf).distinct.toSet
      ("survivor fingerprint set" |:
        (survivors.map(fpOf).toSet ?= wantFps)) &&
        ("one survivor per fingerprint" |: (survivors.size ?= wantFps.size))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------
  // shardManifestBatch: arrival-order-across-batches semantics — the
  // published manifest equals the per-batch md5-order fold with base
  // offsets carried across batches (computed here with no Spark in the
  // expected side beyond tokenization), and total tokens conserve
  // ---------------------------------------------------------------
  test("property: shardManifestIngest assignments equal the arrival-order " +
    "fold under random splits") {
    val rowsGen = Gen.choose(4, 20).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 9)).map(_.zipWithIndex.map { case (k, i) =>
        (i.toLong, ("tok " * k).trim) }))
    val prop = forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val root = tempRoot("graft-psm")
      val parts = splitBy(rows, cuts)
      parts.zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.shardManifestBatch(p.toDF("doc_id", "text"),
          i.toLong, "text", "doc_id", s"$root/out", s"$root/st",
          tokensPerShard = 10L)
      }
      val got = spark.read.parquet(s"$root/out")
        .select("doc_id", "tok_n", "shard_id")
        .as[(Long, Long, Long)].collect().toMap2
      // expected: concatenate the parts, each internally in
      // (md5-epoch-key, id) order, and assign shard = start div 10;
      // key and token count both come from the production expressions
      val meta = rows.toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.ext.Sampling.epochKey(col("doc_id"), 0).as("k"),
          graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n"))
        .as[(Long, String, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      var off = 0L
      val want = parts.flatMap { p =>
        p.sortBy { case (id, _) => (meta(id)._1, id) }.map { case (id, _) =>
          val n = meta(id)._2
          val s = off / 10L; off += n; id -> ((n, s))
        }
      }.toMap
      val total = spark.read.parquet(s"$root/st/data")
        .as[Long].head()
      ("shard assignment parity" |: (got ?= want)) &&
        ("token total conserved" |: (total ?= off))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------
  // adaptiveGateBatch: the gate's STATE contract is the offered-
  // distribution fold (kept AND dropped scores), so the quantile store
  // must equal the one-shot fold over the full scored corpus for any
  // split — the survivors-only ratchet this design explicitly avoids
  // would fail exactly this property
  // ---------------------------------------------------------------
  test("property: adaptiveGateIngest quantile state equals the full " +
    "offered-distribution fold under random splits") {
    val pool = Vector("x", "w w", "the and of to in w",
      "the and of to in is a good doc here",
      "the and of to in is a better longer doc here today")
    val rowsGen = Gen.choose(4, 20).flatMap(n => Gen.listOfN(n, for {
      s <- Gen.oneOf("a", "b")
      t <- Gen.choose(0, pool.size - 1)
    } yield (s, t)).map(_.zipWithIndex.map { case ((s, t), i) =>
      (i.toLong, s, pool(t)) }))
    val pcts = Seq(0.0, 0.25, 0.5, 1.0)
    val prop = forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val root = tempRoot("graft-pag")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.adaptiveGateBatch(
          p.toDF("doc_id", "source", "text"), i.toLong, "source", "text",
          s"$root/out", s"$root/st", pct = 0.25, relativeError = 0.001)
      }
      val oneShot = tmp("graft-pag1")
      val scoredAll = rows.toDF("doc_id", "source", "text")
        .withColumn("quality", round(
          graft.ext.TextAnalysis.qualityScore(col("text")) + lit(1e-9), 4))
      StreamingPipeline.quantileStateBatch(scoredAll, 0L, Seq("source"),
        "quality", oneShot, relativeError = 0.001)
      def read(s: String): Map[String, Seq[Double]] =
        StreamingPipeline.quantileStateView(
            spark.read.parquet(s"$s/data"), Seq("source"), pcts)
          .as[(String, Seq[Double])].collect().toMap
      "offered-distribution fold parity" |: (read(s"$root/st") ?= read(oneShot))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  private implicit class PairSeqOps(s: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] =
      s.map(t => t._1 -> ((t._2, t._3))).toMap
  }

  // ---------------------------------------------------------------
  // knCountsBatch: additive bigram/unigram type counts
  // ---------------------------------------------------------------
  test("property: knCounts n-gram counts equal the batch recompute " +
    "under random splits") {
    val words = Seq("the", "cat", "sat", "mat", "dog")
    val rowsGen = Gen.choose(4, 14).flatMap(n => Gen.listOfN(n,
      Gen.listOfN(4, Gen.oneOf(words)).map(_.mkString(" "))))
    check(forAllNoShrink(rowsGen, cutsGen) { (rows, cuts) =>
      val store = tmp("graft-pkn")
      splitBy(rows, cuts).zipWithIndex.foreach { case (p, i) =>
        StreamingPipeline.knCountsBatch(p.toDF("text"), i.toLong,
          "text", store)
      }
      val got = spark.read.parquet(s"$store/data")
        .select("k", "kind", "c")
        .as[(String, String, Long)].collect().toSet
      val toks = rows.toDF("text")
        .select(graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
      val bg = toks.select(explode(graft.ext.TextAnalysis
          .shinglesFromTokens(col("toks"), 2)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c")).withColumn("kind", lit("bg"))
      val uni = toks.select(explode(col("toks")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c")).withColumn("kind", lit("uni"))
      val want = bg.unionByName(uni).select("k", "kind", "c")
        .as[(String, String, Long)].collect().toSet
      "kn count parity" |: (got ?= want)
    })
  }
}
