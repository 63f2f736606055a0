package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Graph, Multimodal, Similarity, TextAnalysis}

/** LLM-data extension operators: text analysis, dedup family, similarity,
  * multimodal plumbing. */
class ExtSpec extends SparkTestBase {
  import spark.implicits._

  test("text analysis: tokens, ratios, fingerprint on crafted strings") {
    val df = Seq(
      (1L, "The quick  brown fox"),
      (2L, "the quick brown fox"), // same after normalization
      (3L, ""),
      (4L, "!!! ???")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.punctRatio(col("text")).as("pr"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("n") === 4)
    assert(out(3L).getAs[Int]("n") === 0)
    assert(out(1L).getAs[String]("fp") === out(2L).getAs[String]("fp"))
    assert(out(4L).getAs[Double]("pr") > 0.5)
  }

  test("prefix-filtered jaccard pairs equal the inverted-index join at every threshold") {
    // equality sweep over mixed thresholds (the float-overshoot guard is
    // exercised separately below with a τ·n pair that genuinely rounds up)
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val near = ((1 to 16).map(i => s"w$i") ++ (1 to 4).map(i => s"x$i")).mkString(" ")
    val far = (21 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base, "s1"), (2L, base, "s1"),   // identical pair
      (3L, near, "s1"),                     // high-overlap with 1,2
      (4L, far, "s1"),                      // overlaps nothing
      (5L, base, "s2")                      // other block: never pairs with s1
    ).toDF("doc_id", "text", "source")
    for (t <- Seq(0.1, 0.3, 0.5, 1.0)) {
      val expected = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 3, t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      val got = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", "source", 3, t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      assert(got === expected, s"threshold $t")
    }
    // the crafted corpus must actually exercise a sub-1.0 pair and a
    // threshold cut
    val at03 = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", "source", 3, 0.3)
    assert(at03.count() === 3L) // (1,2) at 1.0; (1,3) and (2,3) at ~0.64
    val at10 = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", "source", 3, 1.0)
    assert(at10.select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
      Set((1L, 2L)))
  }

  test("prefix jaccard: the ceil-overshoot guard is load-bearing at τ=0.28, n=25") {
    // 0.28·25 = 7.000000000000001 in IEEE doubles — an unguarded ceil
    // reads 8 and SHRINKS doc A's prefix from 19 to 18. The corpus is
    // built so that shrink drops a qualifying pair: A has 25 shingles of
    // which the 7 LAST-ranked (highest df, boosted by the two B copies)
    // are exactly B's whole shingle set, so A's 18-prefix misses every
    // shared shingle while the guarded 19-prefix keeps the rarest one —
    // which B's own 6-prefix also keeps. j(A,B) = 7/25 = 0.28 = τ.
    assert(math.ceil(0.28 * 25) == 8.0 &&
      math.ceil(0.28 * 25 - 1e-9) == 7.0, "the τ·n pair must overshoot")
    val aWords = (1 to 27).map(i => f"a$i%02d")
    val a = aWords.mkString(" ")              // 25 3-shingles
    val b = aWords.slice(18, 27).mkString(" ") // words a19..a27 → A's last 7 shingles
    val docs = Seq(
      (1L, a, "s1"), (2L, b, "s1"), (20L, b, "s1"), (21L, b, "s1")
    ).toDF("doc_id", "text", "source")
    val expected = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 3, 0.28)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", "source", 3, 0.28)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.contains(1L -> 2L), "fixture must produce the A-B pair")
    assert(got === expected)
  }

  test("property: prefix jaccard equals the inverted index on random corpora and thresholds") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    // tiny vocabulary → heavy shingle co-occurrence; doc lengths straddle
    // the <shingleN boundary (empty shingle sets); τ sweeps the float
    // edge cases the fixed-fixture tests can't enumerate
    val docGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("u", "v", "w", "x", "y")).map(_.mkString(" ")))
    val corpusGen = Gen.choose(4, 9).flatMap(k => Gen.listOfN(k, docGen))
    val tauGen = Gen.oneOf(0.05, 0.28, 1.0 / 3.0, 0.5, 0.7, 0.95, 1.0)
    val prop = forAll(corpusGen, tauGen) { (texts, tau) =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "blk") }
        .toDF("doc_id", "text", "source")
      val exp = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 2, tau)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      val got = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", "source", 2, tau)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      got == exp
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("language ID votes stopwords with fixed precedence") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is happy"),
      (2L, "der hund und die katze und das haus"),
      (3L, "xyzzy plugh")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "de")
    assert(out(3L) === "und")
  }

  test("exact dedup keeps lowest-id doc per normalized content") {
    val df = Seq(
      (10L, "Hello   World"), (5L, "hello world"), (7L, "something else")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id")
    assert(out.count() === 2)
    assert(out.filter($"text".contains("ello")).select("doc_id").as[Long].head() === 5L)
  }

  test("connected components: two chains and an isolated pair") {
    // 1-2-3 and 4-5 are separate components; labels converge to the min id.
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 4L)).toDF("src", "dst")
    val out = Graph.componentsWithSize(edges, "src", "dst")
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 2L), (5L, 4L, 2L)))
  }

  test("token chunking: stride windows cover every token, last chunk short") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ") // 100 tokens
    val df = Seq((1L, text), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenChunks(df, "text", "doc_id", chunkSize = 64, stride = 48)
      .select("id", "chunk_idx", "n_tok").as[(Long, Long, Int)].collect().toSet
    // doc 1: chunks at 1..64 and 49..100 (52 tokens); doc 2: one short
    // chunk; doc 3: no tokens, no chunks.
    assert(out === Set((1L, 0L, 64), (1L, 1L, 52), (2L, 0L, 2)))
  }

  test("duplicate fraction flags repeated n-grams") {
    val df = Seq(
      (1L, "spam spam spam spam"), // all words equal
      (2L, "all words here differ")
    ).toDF("doc_id", "text")
    val out = df
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), TextAnalysis.dupFraction(col("toks")).as("f"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) === 0.75)
    assert(out(2L) === 0.0)
  }

  test("minhash LSH finds a high-jaccard pair and skips unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("salted LSH buckets: same pairs as unsalted on a 100x-hot bucket, fewer max-task rows") {
    // 100 identical docs make every band bucket 100x hotter than the
    // singleton buckets around them — the pathological LSH corpus that
    // maxBucketSize would truncate (lossy). The salted path must emit
    // EXACTLY the unsalted pair set.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val hot = (1 to 100).map(i => (i.toLong, base))
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val others = (1 to 10).map(i =>
      (200L + i, (1 to 40).map(j => s"q${i}_$j").mkString(" ")))
    val df = (hot ++ Seq((150L, near)) ++ others).toDF("doc_id", "text")

    def mh(salts: Int) = Dedup.minhashNearDups(df, "text", "doc_id",
        threshold = 0.5, maxBucketSize = 10000, salts = salts)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mhUnsalted = mh(1)
    assert(mhUnsalted.size >= 100 * 99 / 2) // the hot clique survives whole
    assert(mh(8) === mhUnsalted)

    def sh(salts: Int) = Dedup.simhashNearDups(df, "text", "doc_id",
        maxHamming = 3, salts = salts)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh(4) === sh(1))

    // Task-spread, measured at the candidate join itself: one 400-doc
    // hot bucket next to 50 singletons. AQE's coalescing is disabled for
    // the measurement — it rebalances SMALL partitions and would blur
    // what the salt does to the hot one.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val items = ((1 to 400).map(i => (i.toLong, "hotbucket")) ++
        (1 to 50).map(i => (1000L + i, s"cold$i"))).toDF("id", "bh")
      val unsalted = items.as("a").join(items.as("b"),
          col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val salted = graft.operators.Skew.saltedPairs(items, Seq("bh"), "id", 8)
      assert(salted.select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
        unsalted.as[(Long, Long)].collect().toSet)
      def maxTaskRows(pairs: org.apache.spark.sql.DataFrame): Long = pairs
        .groupBy(spark_partition_id()).count()
        .agg(max("count")).as[Long].head()
      val (mu, ms) = (maxTaskRows(unsalted), maxTaskRows(salted))
      assert(ms < mu, s"salted max-task rows $ms should be < unsalted $mu")
    } finally spark.conf.set(coalesceKey, prev)
  }

  test("incremental near-dup dedup: drops signature matches vs history, keeps fresh and short docs") {
    val histDocs = Seq(
      (1L, (1 to 40).map(i => s"h$i").mkString(" ")),
      (2L, (100 to 140).map(i => s"g$i").mkString(" "))).toDF("doc_id", "text")
    val hist = Dedup.minhashSigTable(histDocs, "text", "doc_id")
    val batch = Seq(
      (10L, (1 to 38).map(i => s"h$i").mkString(" ")), // near-copy of doc 1
      (11L, (500 to 540).map(i => s"q$i").mkString(" ")), // genuinely new
      (12L, "one two")) // <3 tokens: no signature, must survive
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashDedup(batch, "text", "doc_id", hist,
        estThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(11L, 12L))
    // the derived band table matches the batch operator's band hashes:
    // running the near-dup pair finder over history + near-copy finds the
    // same relationship the incremental path acted on
    val pairs = Dedup.minhashNearDups(
      histDocs.unionByName(batch), "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 10L)))
  }

  test("simhash: docs with <3 tokens keep an all-zero signature (oracle-aligned)") {
    // The oracle's LEFT JOIN re-adds empty-shingle docs with 64 zero bits;
    // the Spark side must do the same via explode_outer — a doc dropped on
    // one side only would be a guaranteed row-count mismatch.
    val df = Seq((1L, "two tokens"), (2L, ""), (3L, "one two three four"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(df, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(sigs.keySet === Set(1L, 2L, 3L))
    assert(sigs(1L) === "0" * 64)
    assert(sigs(2L) === "0" * 64)
    assert(sigs(3L).length === 64 && sigs(3L).contains("1"))
  }

  test("simhash: identical docs share signatures; near-dups have small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 57).map(i => s"tok$i").mkString(" ") + " a b c"
    val far = (200 to 260).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(df, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(sigs(1L) === sigs(2L))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    assert(sigs(1L).length === 64)
  }

  test("cosine similarity: identity 1, orthogonal 0, zero-vector guard") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 0.0f)),
      (4L, Array(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(pairs((1L, 4L)) - 1.0) < 1e-12) // parallel vectors
    assert(pairs((1L, 2L)) === 0.0) // orthogonal
    assert(pairs((1L, 3L)) === 0.0) // zero vector guarded
  }

  test("semanticContamination: max cosine vs eval set, smallest-id tie-break, threshold flag") {
    // eval: 100 → x-axis, 101 → y-axis. train: 1 ∥ eval 100 (contaminated),
    // 2 at 45° (cos ≈ 0.707 to BOTH evals — tie broken toward id 100),
    // 3 ⊥ both axes in the z plane (max cosine 0, clean)
    val train = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val ev = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(train, ev, threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(1L)._1 === 100L && math.abs(out(1L)._2 - 1.0) < 1e-12 && out(1L)._3)
    assert(out(2L)._1 === 100L) // exact cosine tie → smallest eval id
    assert(math.abs(out(2L)._2 - math.sqrt(0.5)) < 1e-12 && !out(2L)._3)
    assert(out(3L) === ((100L, 0.0, false)))
  }

  test("semanticContaminationBlocked: flags within probed cells, agrees with exact on hot pairs") {
    // two well-separated clusters on the x/y axes; centroids from labels
    val train = Seq(
      (1L, 0, Array(1.0f, 0.05f)),  // cluster 0, near-copy of eval 100
      (2L, 0, Array(0.7f, -0.7f)),  // cluster 0, clean (45° off eval)
      (3L, 1, Array(0.05f, 1.0f))). // cluster 1 — no eval probes it at nProbe=1
      toDF("vec_id", "label", "embedding")
    val ev = Seq((100L, 0, Array(1.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    val cents = Similarity.centroids(
      train.unionByName(ev), "label", dim = 2)
    val exact = Similarity.semanticContamination(
        train.drop("label"), ev.drop("label"), threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    val blocked = Similarity.semanticContaminationBlocked(
        train.drop("label"), ev.drop("label"), cents, threshold = 0.99,
        nProbe = 1)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), r.getDouble(2), r.getBoolean(3))).toMap
    // every train row comes back; the shared-cell scores equal the exact
    // ones bit-for-bit (same cosine arithmetic, just fewer pairs)
    assert(blocked.keySet === Set(1L, 2L, 3L))
    assert(blocked(1L)._2 === exact(1L)._1 && blocked(1L)._3 === exact(1L)._2)
    assert(blocked(1L)._3, "near-copy in the probed cell must flag")
    assert(blocked(2L)._2 === exact(2L)._1 && !blocked(2L)._3)
    // cluster 1 is unprobed at nProbe=1: no evidence → 0.0, NULL id
    assert(blocked(3L) === ((None, 0.0, false)))
    // raising nProbe to cover all cells recovers the exact score for it
    val full = Similarity.semanticContaminationBlocked(
        train.drop("label"), ev.drop("label"), cents, threshold = 0.99,
        nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(full(3L) === exact(3L)._1)
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break and excludes self") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.1f)), (3L, Array(0.0f, 1.0f)),
      (4L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 1), 2)
    val rows = top.orderBy("rank").select("corpus_id").as[Long].collect()
    assert(rows.toSeq === Seq(4L, 2L)) // exact match first, then near
  }

  test("SRP-LSH finds parallel vectors and never reports sub-threshold pairs") {
    val near = (1 to 3).map(i => (i.toLong, Array.tabulate(64)(d => (d + 1).toFloat * (1.0f + i * 0.001f))))
    val far = (10 to 12).map(i => (i.toLong, Array.tabulate(64)(d => if (d % 2 == 0) i.toFloat else -i.toFloat)))
    val df = (near ++ far).toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDups(df, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) && pairs.contains((1L, 3L)))
    // vectors 10-12 are mutually parallel too, but near-orthogonal to 1-3:
    // no cross-group pair may pass the threshold
    assert(pairs.forall { case (a, b) => (a < 10) == (b < 10) })
  }

  test("srpTopK aggregate rank cut matches the window formulation exactly") {
    // 200 vectors in 4 loose directions so most ids have >k candidates
    // with close — and often EXACTLY tie-rounded — cosines (i%7 repeats
    // vectors): the regime where the bounded heap's (score desc,
    // payload asc) tie-break must reproduce the window's total order.
    val df = (1 to 200).map { i =>
      val d = i % 4
      (i.toLong, Array.tabulate(8)(j =>
        (if (j % 4 == d) 10.0f else 1.0f) + (i % 7) * 0.01f))
    }.toDF("vec_id", "embedding")
    val agg = Similarity.srpTopK(df, k = 3, numPlanes = 32, rowsPerBand = 8)
      .collect().map(_.toSeq).toSet
    val win = Similarity.srpTopKImpl(df, k = 3, numPlanes = 32,
        rowsPerBand = 8, idCol = "vec_id", vecCol = "embedding", seed = 42L,
        dim = -1, forceWindowRank = true)
      .collect().map(_.toSeq).toSet
    assert(agg.nonEmpty && agg === win)
  }

  test("IVF with per-label centroids returns neighbors from the probed cell") {
    val cluster1 = (1 to 5).map(i => (i.toLong, Array(1.0f + i * 0.01f, 0.0f), 1))
    val cluster2 = (6 to 10).map(i => (i.toLong, Array(0.0f, 1.0f + i * 0.01f), 2))
    val df = (cluster1 ++ cluster2).toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(df, "label", 2)
    val out = Similarity.ivfTopK(df, df.filter($"vec_id" === 1), cents, k = 3)
    val ids = out.select("corpus_id").as[Long].collect().toSet
    assert(ids.subsetOf(Set(2L, 3L, 4L, 5L))) // same-cell members only
    assert(ids.size === 3)
  }

  test("ivfTopKIndexed from the stored assignment table equals the direct recompute") {
    val cluster1 = (1 to 5).map(i => (i.toLong, Array(1.0f + i * 0.01f, 0.0f), "a"))
    val cluster2 = (6 to 10).map(i => (i.toLong, Array(0.0f, 1.0f + i * 0.01f), "b"))
    val df = (cluster1 ++ cluster2).toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(df, "label", 2)
    val index = Similarity.assignCells(df, cents)
    assert(index.count() === 10) // one stored row per vector
    val q = df.filter($"vec_id" === 1)
    val direct = Similarity.ivfTopK(df, q, cents, k = 3, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val indexed = Similarity.ivfTopKIndexed(index, q, cents, k = 3, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(indexed === direct)
  }

  test("pageRank: cycle stays uniform; star concentrates by hand-computed amounts") {
    // 3-cycle is stationary at uniform 1/3 through every rounded round
    val cyc = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val r1 = Graph.pageRank(cyc, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1.values.toSet === Set(0.3333333333))
    // star 1→2←3 after one round: center = (1−d)/3 + d·(2/3 of the mass)
    // = 0.6166666666; the leaves keep only the teleport term 0.05 (node 2
    // is a sink, so total mass leaks — the documented simplification)
    val star = Seq((1L, 2L, 1.0), (3L, 2L, 1.0)).toDF("src", "dst", "w")
    val r2 = Graph.pageRank(star, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r2(2L) === 0.6166666666)
    assert(r2(1L) === 0.05 && r2(3L) === 0.05)
  }

  test("pageRank redistributeDangling: hand-computed ranks, mass conserved") {
    // A→B with B a sink, d = 0.85, N = 2, r0 = (0.5, 0.5).
    // Round 1: m = r(B) = 0.5
    //   r(A) = 0.075 + 0.85·(0 + 0.5/2)      = 0.2875
    //   r(B) = 0.075 + 0.85·(0.5 + 0.5/2)    = 0.7125      (Σ = 1)
    // Round 2: m = 0.7125
    //   r(A) = 0.075 + 0.85·(0.7125/2)        = 0.3778125
    //   r(B) = 0.075 + 0.85·(0.2875 + 0.35625) = 0.6221875  (Σ = 1)
    val edge = Seq((1L, 2L, 1.0)).toDF("src", "dst", "w")
    val r = Graph.pageRank(edge, iters = 2, redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(1L) === 0.3778125)
    assert(r(2L) === 0.6221875)
    assert(r.values.sum === 1.0)
    // the leaky default on the same graph loses the sink's mass
    val leaky = Graph.pageRank(edge, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(leaky.values.sum < 1.0)
  }

  test("pageRank driver fast path reproduces the distributed loop exactly") {
    // weighted digraph with sinks, merges, and uneven out-degrees;
    // smallGraphNodes = 0 forces the distributed loop for the reference
    // trajectory — the driver arm must replay the identical rounding
    // sequence in both dangling modes
    val edges = (1 to 60)
      .map(i => ((i % 17).toLong, ((i * 7) % 23).toLong, 1.0 + i % 3))
      .toDF("src", "dst", "w")
    for (dang <- Seq(true, false)) {
      val fast = Graph.pageRank(edges, iters = 5,
          redistributeDangling = dang)
        .orderBy("node").collect().toSeq
      val dist = Graph.pageRank(edges, iters = 5,
          redistributeDangling = dang, smallGraphNodes = 0L)
        .orderBy("node").collect().toSeq
      assert(fast === dist, s"driver vs distributed diverged (dangling=$dang)")
    }
  }

  test("NB log-odds classifier separates classes learned from a labeled seed") {
    val docs = Seq(
      (1L, "clean prose reads well tonight", 1),
      (2L, "clean prose flows well today", 1),
      (3L, "spam junk noise garbage spam", 0),
      (4L, "junk noise spam garbage junk", 0),
      // held out: class-typical vocabulary, not in the seed
      (5L, "clean prose reads today", -1),
      (6L, "garbage noise junk", -1),
      (7L, "", -1)) // empty doc scores 0 with 0 tokens
      .toDF("doc_id", "text", "label")
    val w = TextAnalysis.nbTrainWeights(docs.filter($"label" >= 0), "text",
      $"label" === 1, numBuckets = 64)
    val scored = TextAnalysis.nbScore(docs, "doc_id", "text", w, numBuckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(scored(5L)._2 > 0, s"held-out positive must score > 0: $scored")
    assert(scored(6L)._2 < 0, s"held-out negative must score < 0: $scored")
    assert(scored(1L)._2 > 0 && scored(3L)._2 < 0)
    assert(scored(7L) === ((0L, 0.0)))
  }

  test("ANN index refresh rides the versioned publish: old gen serves until the flip") {
    import graft.warehouse.Versioned
    val root = tempRoot("graft-veridx")
    val cluster1 = (1 to 5).map(i => (i.toLong, Array(1.0f + i * 0.01f, 0.0f), 0))
    val cluster2 = (6 to 10).map(i => (i.toLong, Array(0.0f, 1.0f + i * 0.01f), 1))
    val df = (cluster1 ++ cluster2).toDF("vec_id", "embedding", "label")
    val q = df.filter($"vec_id" === 1)
    // generation 1: label-mean centroids
    val cents1 = Similarity.centroids(df, "label", 2)
    Versioned.publish(Similarity.assignCells(df, cents1), root)
    val r1 = Similarity.ivfTopKIndexed(Versioned.read(spark, root), q, cents1,
      k = 3, nProbe = 2).orderBy("rank").collect().toSeq
    assert(r1 === Similarity.ivfTopK(df, q, cents1, k = 3, nProbe = 2)
      .orderBy("rank").collect().toSeq)
    // offline rebuild: Lloyd-refined codebook re-encodes the corpus into
    // a NEW generation; the flip is atomic, old readers were never torn
    val cents2 = Similarity.lloydRefine(df, cents1, iters = 2)
    Versioned.publish(Similarity.assignCells(df, cents2), root)
    val r2 = Similarity.ivfTopKIndexed(Versioned.read(spark, root), q, cents2,
      k = 3, nProbe = 2).orderBy("rank").collect().toSeq
    assert(r2 === Similarity.ivfTopK(df, q, cents2, k = 3, nProbe = 2)
      .orderBy("rank").collect().toSeq)
    // rollback restores the old index-generation answer exactly
    Versioned.rollback(spark, root, 1L)
    assert(Similarity.ivfTopKIndexed(Versioned.read(spark, root), q, cents1,
      k = 3, nProbe = 2).orderBy("rank").collect().toSeq === r1)
  }

  test("partitioned IVF index: a probe's scan is dynamically pruned to its cells") {
    val dir = tempRoot("graft-ivfpart")
    val cluster1 = (1 to 5).map(i => (i.toLong, Array(1.0f + i * 0.01f, 0.0f), 0))
    val cluster2 = (6 to 10).map(i => (i.toLong, Array(0.0f, 1.0f + i * 0.01f), 1))
    val df = (cluster1 ++ cluster2).toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(df, "label", 2)
    Similarity.writeIvfIndexPartitioned(Similarity.assignCells(df, cents), dir)
    val index = spark.read.parquet(dir)
    val q = df.filter($"vec_id" === 1)
    val topk = Similarity.ivfTopKIndexed(index, q, cents, k = 3, nProbe = 1)
    // the index scan must carry a dynamic-pruning partition filter on cell
    // (probe side is broadcast, so DPP reuses it for free)
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the index scan:\n$plan")
    // and the pruned answer equals the direct recompute
    val direct = Similarity.ivfTopK(df, q, cents, k = 3, nProbe = 1)
      .orderBy("rank").collect().toSeq
    assert(topk.orderBy("rank").collect().toSeq === direct)
  }

  test("ivfPqTopK with a per-vector codebook reproduces exact cosine ranking") {
    // one codebook cell per vector and values exactly representable at 6
    // decimals → PQ reconstruction is lossless, so the ADC score must
    // bit-match exact cosine and the ranking must equal brute force
    val df = Seq(
      (1L, Array(1.0f, 0.25f)), (2L, Array(0.75f, 0.5f)),
      (3L, Array(0.25f, 1.0f)), (4L, Array(-0.5f, 0.75f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.centroids(
      df.withColumn("cellid", $"vec_id"), "cellid", 2)
    val idx = Similarity.pqIndex(df, cents, m = 1, dim = 2)
    assert(idx.count() === 4) // one (cell, code) row per vector
    val q = df.filter($"vec_id" === 1)
    val pq = Similarity.ivfPqTopK(idx, q, cents, k = 3, m = 1, dim = 2,
        nProbe = 4)
      .select($"corpus_id", round($"score_pq" + lit(1e-9), 4), $"rank")
      .orderBy("rank").collect().toSeq
    val exact = Similarity.bruteForceTopK(df, q, k = 3)
      .select($"corpus_id", round($"cosine" + lit(1e-9), 4), $"rank")
      .orderBy("rank").collect().toSeq
    assert(pq === exact)
  }

  test("residual IVF-PQ with a full codebook reproduces exact cosine ranking") {
    // codebook holds every vector's residual → reconstruction is exact →
    // ADC must bit-match exact cosine, including WITHIN-cell ranking
    // (the case the raw-vector PQ codebook cannot distinguish)
    val df = Seq(
      (1L, Array(1.0f, 0.25f), 0), (2L, Array(0.75f, 0.5f), 0),
      (3L, Array(0.25f, 1.0f), 1), (4L, Array(-0.5f, 0.75f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(df, "label", 2)
    val cb = Similarity.pqResidualCodebook(df, cents, entries = 4)
    val idx = Similarity.pqIndexResidual(df, cents, cb, m = 1, dim = 2)
    assert(idx.count() === 4)
    // stored rnorm is the true vector norm when reconstruction is exact
    val rn = idx.filter($"id" === 1).select("rnorm").as[Double].head()
    assert(math.abs(rn - math.sqrt(1.0 + 0.25 * 0.25)) < 1e-9)
    val q = df.filter($"vec_id" === 1)
    val pq = Similarity.ivfPqTopKResidual(idx, q, cents, cb, k = 3, m = 1,
        dim = 2, nProbe = 2)
      .select($"corpus_id", round($"score_pq" + lit(1e-9), 4), $"rank")
      .orderBy("rank").collect().toSeq
    val exact = Similarity.bruteForceTopK(df, q, k = 3)
      .select($"corpus_id", round($"cosine" + lit(1e-9), 4), $"rank")
      .orderBy("rank").collect().toSeq
    assert(pq === exact)
  }

  test("lloydRefineResidualCodebook: qerr non-increasing across iters, codebook never shrinks") {
    // deterministic pseudo-random corpus (no rand(): engine-reproducible)
    val df = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(d =>
        (((i * 31 + d * 17 + 7) % 19) - 9).toFloat / 9f), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(df, "label", 4)
    val seed = Similarity.pqResidualCodebook(df, cents, entries = 4)
    def qerr(cb: org.apache.spark.sql.DataFrame): Double =
      Similarity.pqQuantizationError(df, cents, cb, m = 2, dim = 4)
        .agg(avg("qerr")).as[Double].head()
    // the empty-cluster fallback keeps the PREVIOUS round's centroid:
    // with a seed-revert fallback a transiently empty code would discard
    // refinement and qerr could climb between rounds. roundTo=6 rounding
    // can perturb each step by O(1e-6); allow that slack only.
    val errs = qerr(seed) +: (1 to 3).map { it =>
      val cb = Similarity.lloydRefineResidualCodebook(df, cents, seed,
        m = 2, dim = 4, iters = it)
      assert(cb.count() === 4, s"codebook must keep all 4 codes at iters=$it")
      qerr(cb)
    }
    errs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-5, s"qerr must be non-increasing: $errs")
    }
  }

  test("PQ shortlist + exact rerank returns exact cosine order over the shortlist") {
    val df = Seq(
      (1L, Array(1.0f, 0.25f), 0), (2L, Array(0.75f, 0.5f), 0),
      (3L, Array(0.25f, 1.0f), 1), (4L, Array(-0.5f, 0.75f), 1),
      (5L, Array(0.9f, 0.3f), 0))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(df, "label", 2)
    val cb = Similarity.pqResidualCodebook(df, cents, entries = 5)
    val idx = Similarity.pqIndexResidual(df, cents, cb, m = 1, dim = 2)
    val q = df.filter($"vec_id" === 1)
    // shortlist covers every candidate → rerank must equal brute force
    // bit-for-bit (exact cosine, exact ordering — no rounding involved)
    val rr = Similarity.ivfPqRerankTopK(idx, df, q, cents, cb, k = 3,
        shortlist = 5, m = 1, dim = 2, nProbe = 2)
      .orderBy("rank").collect().toSeq
    val exact = Similarity.bruteForceTopK(df, q, k = 3)
      .orderBy("rank").collect().toSeq
    assert(rr === exact)
  }

  test("incrementalSemanticDedup drops cell-mates above threshold, keeps the rest") {
    val hist = Seq((1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.0f, 1.0f), "b"))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(hist, "label", 2)
    val index = Similarity.assignCells(hist, cents)
    val batch = Seq(
      (10L, Array(2.0f, 0.0f), "a"),  // scaled copy of history 1 → drop
      (11L, Array(1.0f, 0.9f), "a"),  // cos ~0.74 to history in its cell → keeps
      (12L, Array(0.0f, 0.0f), "a"))  // zero vector: cosine undefined → keeps
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.incrementalSemanticDedup(batch, index, cents, 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(out === Set(11L, 12L))
  }

  test("readMediaDir ingests binary files: glob + size pruning, stable ids, decode composes") {
    val dir = java.nio.file.Paths.get(tempRoot("graft-media"))
    java.nio.file.Files.write(dir.resolve("a.img"), "fake image payload A".getBytes)
    java.nio.file.Files.write(dir.resolve("b.img"), "payload B".getBytes)
    java.nio.file.Files.write(dir.resolve("big.img"), ("x" * 4096).getBytes)
    java.nio.file.Files.write(dir.resolve("notes.txt"), "not media".getBytes)
    val recs = Multimodal.readMediaDir(spark, dir.toString, "image",
      pathGlob = "*.img", maxBytes = 1024)
    // the size cap reaches the binaryFile scan as a pushed filter, so
    // oversized assets are skipped at the source, not post-read
    val plan = recs.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThanOrEqual(length"),
      s"expected length pushdown in the binaryFile scan:\n$plan")
    val got = recs.collect()
    assert(got.length === 2) // .txt glob-pruned, big.img size-pruned
    assert(got.forall(_.modality === "image"))
    assert(got.map(_.media_id).distinct.length === 2) // stable distinct keys
    // identity is the FULL 128-bit md5 of the path (hex string), not a
    // truncated prefix: recompute it locally and compare
    got.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(r.meta("path").getBytes("UTF-8"))
      val hex = md.map(b => f"$b%02x").mkString
      assert(r.media_id === hex && r.media_id.length === 32)
    }
    assert(got.forall(r => r.meta("path").endsWith(".img") &&
      r.meta("bytes").toLong === r.content.length.toLong))
    // duplicate-identity guard: clean ingest passes through…
    assert(Multimodal.requireUniqueIds(recs).count() === 2)
    // …and a corpus where two distinct assets share one id fails fast
    val collided = Seq(
      Multimodal.MediaRecord("deadbeef", "image", "A".getBytes,
        Map("path" -> "/m/a.img")),
      Multimodal.MediaRecord("deadbeef", "image", "B".getBytes,
        Map("path" -> "/m/b.img"))).toDS()
    val err = intercept[IllegalArgumentException] {
      Multimodal.requireUniqueIds(collided).count()
    }
    assert(err.getMessage.contains("deadbeef"))
    assert(err.getMessage.contains("/m/a.img") &&
      err.getMessage.contains("/m/b.img"))
    // the DataFrame on-ramp's meta carries 'src' (not 'path'): the
    // collision diagnostic falls back to it instead of an empty list
    val srcCollided = Multimodal.asMediaRecords(
      Seq((7L, "A"), (7L, "B")).toDF("doc_id", "payload"),
      "doc_id", "payload", "image")
    val err2 = intercept[IllegalArgumentException] {
      Multimodal.requireUniqueIds(srcCollided).count()
    }
    assert(err2.getMessage.contains("payload"))
    // ingestion composes with the decode pipeline unchanged
    val feats = Multimodal.decodeStub(recs, featureDim = 16).collect()
    assert(feats.length === 2 && feats.forall(_.features.length === 16))
    // ids are a pure path function: re-reading yields identical keys
    val again = Multimodal.readMediaDir(spark, dir.toString, "image",
      pathGlob = "*.img", maxBytes = 1024).collect()
    assert(again.map(_.media_id).sorted.toSeq === got.map(_.media_id).sorted.toSeq)
  }

  test("decodeImage: real PNG/JPEG decode — exact dims, channels, per-band stats") {
    import java.awt.image.BufferedImage
    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // 7×5 RGB gradient: red = 30x, green = 40y, blue = 128 (PNG is
    // lossless, so band statistics are hand-computable exactly)
    val rgb = new BufferedImage(7, 5, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7)
      rgb.setRGB(x, y, (x * 30 << 16) | (y * 40 << 8) | 128)
    // 4×3 single-band grayscale
    val gray = new BufferedImage(4, 3, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 3; x <- 0 until 4)
      gray.getRaster.setSample(x, y, 0, x * 10 + y)
    val recs = Seq(
      Multimodal.MediaRecord("rgb_png", "image", encode(rgb, "png"), Map()),
      Multimodal.MediaRecord("rgb_jpg", "image", encode(rgb, "jpg"), Map()),
      Multimodal.MediaRecord("gray_png", "image", encode(gray, "png"), Map()),
      Multimodal.MediaRecord("junk", "image", "not an image".getBytes, Map()))
      .toDS()
    val out = Multimodal.decodeImage(recs).collect().map(f => f.media_id -> f).toMap
    assert(out("rgb_png").width === 7 && out("rgb_png").height === 5 &&
      out("rgb_png").channels === 3)
    // JPEG is lossy but dimensions and channel count decode exactly
    assert(out("rgb_jpg").width === 7 && out("rgb_jpg").height === 5 &&
      out("rgb_jpg").channels === 3)
    assert(out("gray_png").width === 4 && out("gray_png").height === 3 &&
      out("gray_png").channels === 1)
    // undecodable bytes yield the channels=0 marker row, never a throw
    assert(out("junk").width === 0 && out("junk").height === 0 &&
      out("junk").channels === 0)
    assert(out("junk").features.forall(_ === 0.0f))
    // hand-computed band-0 (red) stats of the lossless PNG: values
    // 0,30,..,180 uniform across rows → mean 90, min 0, max 180
    val f = out("rgb_png").features
    assert(math.abs(f(0) - 90.0 / 255.0) < 1e-6)
    assert(f(2) === 0.0f)
    assert(math.abs(f(3) - 180.0 / 255.0) < 1e-6)
    // band 2 (blue) is constant 128 → stddev exactly 0
    assert(math.abs(f(8) - 128.0 / 255.0) < 1e-6 && f(9) === 0.0f)
    assert(f.length === 16)
  }

  test("decodeAudio: real WAV decode — exact rate/channels/frames, per-channel rms/peak") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // stereo 16-bit PCM, 8 kHz, 400 frames: channel 0 constant +8192
    // (quarter scale → rms = peak = 0.25), channel 1 a ±16384 square
    // wave (rms = peak = 0.5) — both closed-form
    val rate = 8000f; val frames = 400
    val pcm = new Array[Byte](frames * 4)
    for (i <- 0 until frames) {
      def put(o: Int, v: Int): Unit = {
        pcm(o) = (v & 0xff).toByte; pcm(o + 1) = ((v >> 8) & 0xff).toByte
      }
      put(i * 4, 8192)
      put(i * 4 + 2, if (i % 2 == 0) 16384 else -16384)
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      rate, 16, 2, 4, rate, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val recs = Seq(
      Multimodal.MediaRecord("wav", "audio", bos.toByteArray, Map()),
      Multimodal.MediaRecord("junk", "audio", "not audio".getBytes, Map()))
      .toDS()
    val out = Multimodal.decodeAudio(recs).collect().map(f => f.media_id -> f).toMap
    val w = out("wav")
    assert(w.sample_rate === 8000 && w.channels === 2)
    assert(w.n_frames === 400L && w.duration_ms === 50L)
    assert(math.abs(w.features(0) - 0.25f) < 1e-6) // ch0 rms
    assert(math.abs(w.features(1) - 0.25f) < 1e-6) // ch0 peak
    assert(math.abs(w.features(2) - 0.5f) < 1e-6)  // ch1 rms
    assert(math.abs(w.features(3) - 0.5f) < 1e-6)  // ch1 peak
    assert(w.features.drop(4).forall(_ === 0.0f))  // unused slots
    // undecodable bytes yield the channels=0 marker row, never a throw
    assert(out("junk").channels === 0 && out("junk").n_frames === 0L)
    assert(out("junk").features.forall(_ === 0.0f))
  }

  test("multimodal: decode stub is deterministic, batched, and keeps schema through resize") {
    val df = Seq((1L, "some fake image bytes"), (2L, "")).toDF("doc_id", "payload")
    val recs = Multimodal.asMediaRecords(df, "doc_id", "payload", "image")
    val feats = Multimodal.decodeStub(recs, featureDim = 8)
    val resized = Multimodal.resize(feats, 224, 224)
    val rows = resized.collect().map(f => f.media_id -> f).toMap
    assert(rows("1").features.length === 8)
    assert(rows("1").width === 224 && rows("1").height === 224)
    assert(rows("2").features.forall(_ === 0.0f)) // empty payload → zero features
    // determinism: run twice, same features
    val again = Multimodal.decodeStub(recs, featureDim = 8).collect()
      .map(f => f.media_id -> f.features.toSeq).toMap
    assert(again("1") === rows("1").features.toSeq)
  }

  test("metadataView never touches payload bytes in the plan output columns") {
    val df = Seq((1L, "abc")).toDF("doc_id", "payload")
    val out = Multimodal.metadataView(df, "doc_id", "payload")
    assert(out.columns.toSeq === Seq("doc_id", "n_bytes", "content_key"))
    assert(out.head().getAs[Int]("n_bytes") === 3)
  }

  test("winnowing: normalization-invariant, content-sensitive, short docs drop") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "  THE   quick BROWN fox jumps over the lazy DOG "), // same normalized
      (3L, "a completely different document body altogether"),
      (4L, "tiny")                                              // < k+w-1 chars
    ).toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(df, "text", "doc_id", k = 8, w = 4)
      .select("id", "n_fp", "fp_hash")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!out.contains(4L))                  // no complete window → dropped
    assert(out(1L) === out(2L))                // normalization-invariant
    assert(out(1L)._2 !== out(3L)._2)          // different content, different set
    assert(out(1L)._1 > 0)
  }

  test("jlProject: pairwise squared distances within the JL envelope") {
    // real 64-dim embeddings -> 16 components: per-pair squared-distance
    // ratio proj/orig has mean 1 and sd ~ sqrt(2/16) = 0.35; with the
    // deterministic seed the measured envelope is stable, so pin a band
    // that any correct 1/sqrt(k)-scaled Gaussian projection satisfies.
    val emb = model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 40)
      .select(col("vec_id"),
        Similarity.jlProject(col("embedding"), 16, 64).as("proj"),
        col("embedding"))
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"),
      col("proj").as("pa"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"),
      col("proj").as("pb"))
    def sq(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      Similarity.dot(x, x) - Similarity.dot(x, y) * 2.0 + Similarity.dot(y, y)
    val ratios = a.join(b, col("ia") < col("ib"))
      .select((sq(col("pa"), col("pb")) / sq(col("va"), col("vb"))).as("r"))
      .as[Double].collect()
    assert(ratios.length === 40 * 39 / 2)
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.15, s"mean distortion $mean")
    val inBand = ratios.count(r => r > 0.3 && r < 2.0).toDouble / ratios.length
    assert(inBand > 0.95, s"only $inBand of pairs inside [0.3, 2.0]")
  }

  test("sourceOverlapMatrix: identical sources 1.0, disjoint sources ~0") {
    val base = (1 to 30).map(i =>
      s"alpha bravo charlie delta echo foxtrot golf hotel token$i india")
    val other = (1 to 30).map(i =>
      s"zulu yankee xray whiskey victor uniform tango sierra item$i romeo")
    val docs = (base.zipWithIndex.map { case (t, i) => (i.toLong, "A", t) } ++
      base.zipWithIndex.map { case (t, i) => (100L + i, "B", t) } ++
      other.zipWithIndex.map { case (t, i) => (200L + i, "C", t) })
      .toDF("doc_id", "source", "text")
    val m = Dedup.sourceOverlapMatrix(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(m(("A", "B")) === 1.0)   // identical shingle sets: sigs equal
    assert(m(("A", "C")) < 0.2)     // disjoint vocabularies
    assert(m(("B", "C")) < 0.2)
  }

  test("winnowing guarantee: a long shared substring shares a fingerprint") {
    val shared = "zqxwvutsrqponml" // 15 chars >= k + w - 1 = 11
    val df = Seq(
      (1L, s"first document $shared ends here"),
      (2L, s"totally other beginning $shared different tail")
    ).toDF("doc_id", "text")
    // reconstruct the fingerprint SETS via gram hashes + manual winnow
    val hs = df.select(col("doc_id"),
        TextAnalysis.charGramHashes(col("text"), 8).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    def winnow(h: Seq[Long], w: Int): Set[Long] =
      h.sliding(w).map(_.min).toSet
    assert(winnow(hs(1L), 4).intersect(winnow(hs(2L), 4)).nonEmpty)
  }
}
