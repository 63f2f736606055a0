package graft

import org.apache.spark.sql.functions._
import graft.ext.{Lm, Sampling, Similarity}

/** Kneser–Ney scoring, DSIR importance resampling, and RRF hybrid
  * fusion — the model-based curation operators. */
class LmFusionSpec extends SparkTestBase {
  import spark.implicits._

  test("KN: every doc with a bigram gets a finite score, OOD scores worse") {
    val train = Seq(
      (0L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (4L, "the dog sat on the rug")
    ).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat on the mat"),  // in-domain
      (11L, "zx qv bn zx qv"),          // fully out-of-domain
      (12L, "the cat"),                 // one seen bigram
      (13L, "single")                   // no bigram: excluded
    ).toDF("doc_id", "text")
    val m = Lm.knBigramTrain(train, "text")
    val out = Lm.knScore(score, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet === Set(10L, 11L, 12L))
    assert(out.values.forall(v => !v.isNaN && !v.isInfinite),
      s"all scores finite: $out")
    // the MLE scorer would have NO row for 11; KN scores it, and worse
    // than the in-domain doc
    assert(out(11L) > out(10L),
      s"OOD doc must score higher nll: ${out(11L)} vs ${out(10L)}")
  }

  test("KN: seen-history probabilities sum to at most 1 over seen + unseen w2") {
    val train = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
    val m = Lm.knBigramTrain(train, "text")
    // score p(w2 | 'a') for both seen continuations and one unseen token:
    // interpolated KN with add-one <unk> continuation mass must keep the
    // total within the simplex (strictly below 1: the unseen-token tail
    // holds the rest)
    val probe = Seq((1L, "a b"), (2L, "a c"), (3L, "a zz"))
      .toDF("doc_id", "text")
    val p = Lm.knScore(probe, "doc_id", "text", m)
      .select(pow(lit(2.0), -col("avg_nll")).as("p"))
      .as[Double].collect()
    assert(p.forall(v => v > 0 && v < 1))
    assert(p.sum <= 1.0 + 1e-9, s"Σp over continuations = ${p.sum}")
  }

  test("KN3: backoff chain — unseen trigram history falls to the bigram level") {
    // 'a b c' is a REPEATED trigram (3×): a singleton would (correctly)
    // score below its own backoff — absolute discounting strips most of
    // a count-1 event's mass — so the seen<backoff ordering needs count>1
    val train = Seq(
      (0L, "a b c"), (2L, "a b c"), (4L, "a b c"),
      (6L, "a b d"), (8L, "x b c")
    ).toDF("doc_id", "text")
    val m = Lm.knTrigramTrain(train, "text")
    // 'q b c': history (q,b) unseen → p = p_kn2(c|b); 'q q q': everything
    // unseen → unigram continuation floor; 'a b c': fully seen
    val probe = Seq((1L, "a b c"), (2L, "q b c"), (3L, "q q q"))
      .toDF("doc_id", "text")
    val out = Lm.kn3Score(probe, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out.values.forall(v => !v.isNaN && !v.isInfinite))
    // seen < backoff < floor, strictly
    assert(out(1L) < out(2L) && out(2L) < out(3L), s"$out")
    // the backoff value IS the bigram continuation level: recompute
    // p_kn2(c|b) by hand. tri types {(a b c):3,(a b d):1,(x b c):1};
    // m2: (b,c) n1p=2 (a,x); (b,d) n1p=1. h2(b): tot2=3, fwd2=2. cont:
    // c:1, d:1. tt=2, vv=5 (a,b,c,d,x).
    // pc(c) = (1+1)/(2+5+1) = 0.25
    // p2(c|b) = max(2−.75,0)/3 + (.75·2/3)·0.25 = 0.41666... + 0.125
    val p2 = 1.25 / 3 + 0.5 * 0.25
    val expected = -math.log(p2) / math.log(2)
    assert(math.abs(out(2L) - expected) < 1e-9,
      s"backoff = bigram level: ${out(2L)} vs $expected")
    // and the seen trigram interpolates on TOP of that same p2:
    // h3(a,b): c12=4, fwd3=2 → p3 = (3−.75)/4 + (.75·2/4)·p2
    val expected3 = -math.log(2.25 / 4 + 0.375 * p2) / math.log(2)
    assert(math.abs(out(1L) - expected3) < 1e-9,
      s"seen trigram hand value: ${out(1L)} vs $expected3")
    // unigram floor: pc(q) = 1/8 per trigram position
    assert(math.abs(out(3L) - 3.0) < 1e-9, s"floor: ${out(3L)}")
  }

  test("DSIR: selection prefers target-like documents, deterministically") {
    val tgt = (0L until 30L).map(i => (i, "alpha beta gamma delta"))
    val mix = (100L until 130L).map(i => (i, "alpha beta gamma delta")) ++
      (200L until 260L).map(i => (i, "zork quux blarg frotz"))
    val raw = mix.toDF("doc_id", "text")
    val target = tgt.toDF("doc_id", "text")
    val w = Sampling.dsirWeights(raw, target, "text", numBuckets = 32)
    assert(w.count() === 32, "weight table covers every bucket")
    val sel = Sampling.dsirScore(raw, "doc_id", "text", w, 32)
      .orderBy(col("key").desc, col("id").asc).limit(30)
      .select("id").as[Long].collect().toSet
    // all 30 target-like raw docs outrank every off-target doc: the
    // log-ratio gap dwarfs the Gumbel noise
    assert(sel === (100L until 130L).toSet, s"selected $sel")
    val sel2 = Sampling.dsirScore(raw, "doc_id", "text", w, 32)
      .orderBy(col("key").desc, col("id").asc).limit(30)
      .select("id").as[Long].collect().toSet
    assert(sel2 === sel, "md5-derived Gumbel keys are run-stable")
  }

  test("DSIR: dsirWeightsWithin == dsirWeights over the filtered frame " +
    "(incl. null predicate rows)") {
    val rows = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta zork"),
      (3L, "de", "zork quux blarg frotz"),
      (4L, null.asInstanceOf[String], "alpha quux"), // null lang: filter
      (5L, "de", ""),                                //  drops, count_if 0
      (6L, "en", "gamma delta gamma delta epsilon"))
    val raw = rows.toDF("doc_id", "lang", "text")
    val expected = Sampling
      .dsirWeights(raw, raw.filter(col("lang") === "en"), "text", 32)
      .orderBy("bucket").collect().toSeq
    val fused = Sampling
      .dsirWeightsWithin(raw, col("lang") === "en", "text", 32)
      .orderBy("bucket").collect().toSeq
    assert(fused === expected,
      "single-pass conditional-count weights must be bit-identical to " +
        "the two-pass table")
  }

  test("DSIR: the shared feature-table seam reproduces dsirWeightsWithin " +
    "and dsirScore bit-exactly") {
    val rows = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta zork"),
      (3L, "de", "zork quux blarg frotz"),
      (4L, null.asInstanceOf[String], "alpha quux"),
      (5L, "de", ""),
      (6L, "en", "gamma delta gamma delta epsilon"))
    val raw = rows.toDF("doc_id", "lang", "text")
    val feats = Sampling.dsirFeatureTable(
        raw, "doc_id", col("lang") === "en", "text", 32)
      .persist()
    try {
      val wExpected = Sampling
        .dsirWeightsWithin(raw, col("lang") === "en", "text", 32)
        .orderBy("bucket").collect().toSeq
      val wShared = Sampling.dsirWeightsFromFeatures(feats, 32)
        .orderBy("bucket").collect().toSeq
      assert(wShared === wExpected,
        "weights from the shared feature table must be bit-identical")
      val w = Sampling.dsirWeightsWithin(raw, col("lang") === "en", "text", 32)
      val sExpected = Sampling.dsirScore(raw, "doc_id", "text", w, 32)
        .orderBy("id").collect().toSeq
      val sShared = Sampling.dsirScoreFromFeatures(feats, w)
        .orderBy("id").collect().toSeq
      assert(sShared === sExpected,
        "scores from the shared feature table must be bit-identical " +
          "(same rows, same n_feats/logw/key)")
    } finally { feats.unpersist(); () }
  }

  test("compression ratio: repetition compresses, noise doesn't, empty is neutral") {
    import graft.ext.TextAnalysis
    // high-entropy text from hash hex (incompressible), heavy stutter
    // (compresses hard), natural-ish prose in between
    val noise = (1 to 50).map(i =>
      java.util.UUID.nameUUIDFromBytes(Array(i.toByte)).toString).mkString(" ")
    val stutter = "click here to continue " * 50
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders off toward the river where it drinks quietly before dusk"
    val df = Seq((1L, stutter), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.compressionRatio(col("text")).as("cr"))
    val out = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) < 0.1, s"stutter must compress hard: ${out(1L)}")
    // the signal separates repetition from everything else; hex noise
    // still compresses somewhat (16-symbol alphabet), and SHORT prose
    // carries fixed deflate overhead — so only the stutter side of the
    // ordering is a stable invariant
    assert(out(1L) < out(2L) && out(1L) < out(3L), s"ordering: $out")
    assert(out(3L) > 0.4, s"noise must resist compression: ${out(3L)}")
    assert(out(4L) === 1.0, "empty text is neutral")
    // deterministic across evaluations
    val again = Seq((1L, stutter)).toDF("doc_id", "text")
      .select(TextAnalysis.compressionRatio(col("text"))).head().getDouble(0)
    assert(again === out(1L))
  }

  test("streaming DSIR counts: folded batches ≡ batch recompute; replay no-op") {
    import graft.streaming.StreamingPipeline
    val dir = tempRoot("dsirstate")
    val b1 = Seq((0L, "alpha beta gamma", "en"), (1L, "zork quux blarg", "de"))
      .toDF("doc_id", "text", "lang")
    val b2 = Seq((2L, "alpha gamma delta", "en"), (3L, "alpha beta zork", "de"))
      .toDF("doc_id", "text", "lang")
    val pred = col("lang") === "en"
    StreamingPipeline.dsirCountsBatch(b1, 0L, "text", pred, 32, dir)
    StreamingPipeline.dsirCountsBatch(b2, 1L, "text", pred, 32, dir)
    def view() = StreamingPipeline
      .dsirWeightsView(spark.read.parquet(s"$dir/data"), 32)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val streamed = view()
    val full = b1.unionByName(b2)
    val batch = Sampling.dsirWeights(full, full.filter(pred), "text", 32)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // counting is algebraic: the streamed view equals the full-corpus
    // recompute EXACTLY (identical long counts → identical IEEE logs)
    assert(streamed.toSeq === batch.toSeq)
    // replayed batch is a marker no-op
    StreamingPipeline.dsirCountsBatch(b2, 1L, "text", pred, 32, dir)
    assert(view().toSeq === streamed.toSeq)
  }

  test("streaming KN counts: model view over folded batches ≡ batch training, score-identical") {
    import graft.streaming.StreamingPipeline
    val dir = tempRoot("knstate")
    val b1 = Seq((0L, "the cat sat on the mat"), (1L, "the dog ran"))
      .toDF("doc_id", "text")
    val b2 = Seq((2L, "the cat ate the fish"), (3L, "a dog sat"))
      .toDF("doc_id", "text")
    StreamingPipeline.knCountsBatch(b1, 0L, "text", dir)
    // materialize a view of the batch-0 store BEFORE the next fold: a
    // view that cached its store read would pin the pre-swap contents
    // (plans match by path) and silently serve the batch-0 model to
    // every assertion below — the stale-view regression this test pins
    StreamingPipeline.knModelView(spark.read.parquet(s"$dir/data"))
      .bigrams.count()
    StreamingPipeline.knCountsBatch(b2, 1L, "text", dir)
    // replay: marker no-op
    StreamingPipeline.knCountsBatch(b2, 1L, "text", dir)
    val streamed = StreamingPipeline
      .knModelView(spark.read.parquet(s"$dir/data"))
    val batch = Lm.knBigramTrain(b1.unionByName(b2), "text")
    def tbl(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(tbl(streamed.bigrams) === tbl(batch.bigrams))
    assert(tbl(streamed.hist) === tbl(batch.hist))
    assert(tbl(streamed.cont) === tbl(batch.cont))
    assert(tbl(streamed.totals) === tbl(batch.totals))
    // and the filter itself agrees: identical scores under both models
    val probe = Seq((9L, "the cat ran"), (10L, "zz qq the"))
      .toDF("doc_id", "text")
    def scores(m: Lm.KnModel) = Lm.knScore(probe, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(streamed) === scores(batch))
    streamed.release(); batch.release()
  }

  test("streaming robust-outlier baseline: IQR view over folded sketches flags the plant") {
    import graft.streaming.StreamingPipeline
    val dir = tempRoot("rzstate")
    // history: type A tight around 10 (1..19 by 0.5 spread), folded in
    // two batches; uncompressed GK state = exact order statistics
    val b1 = (0 until 50).map(i => ("A", 9.0 + (i % 11) * 0.2)).toDF("k", "v")
    val b2 = (0 until 50).map(i => ("A", 9.2 + (i % 11) * 0.2)).toDF("k", "v")
    StreamingPipeline.quantileStateBatch(b1, 0L, Seq("k"), "v", dir, 0.001)
    StreamingPipeline.quantileStateBatch(b2, 1L, Seq("k"), "v", dir, 0.001)
    val baseline = StreamingPipeline
      .robustOutlierView(spark.read.parquet(s"$dir/data"), Seq("k"))
    val row = baseline.head()
    val med = row.getAs[Double]("med")
    assert(med >= 9.8 && med <= 10.4, s"median of the folded history: $med")
    assert(row.getAs[Double]("iqr") > 0.0)
    // a clean point passes, the planted spike flags, a key with NO
    // history must surface as an alert-on-unknown row (not vanish), and a
    // NULL measurement must flag too — not produce a null `outlier` that
    // neither alerts nor passes
    val batch = Seq(("A", Some(10.1)), ("A", Some(99.0)), ("NEW", Some(1.0)),
      ("A", Option.empty[Double])).toDF("k", "v")
    val out = StreamingPipeline.robustFlag(batch, baseline, Seq("k"), "v")
      .select("k", "v", "outlier", "has_baseline").collect()
      .map(r => (r.getString(0), Option(r.getAs[Any]("v"))) ->
        (r.getBoolean(2), r.getBoolean(3))).toMap
    assert(out(("A", Some(10.1))) === ((false, true)))
    assert(out(("A", Some(99.0))) === ((true, true)))
    assert(out(("NEW", Some(1.0))) === ((true, false)), s"$out")
    assert(out(("A", None)) === ((true, true)), s"null value must alert: $out")
  }

  test("RRF: both-list docs outrank single-list docs at equal ranks") {
    val a = Seq((1L, 10.0), (2L, 9.0), (3L, 8.0)).toDF("id", "score")
    val b = Seq((1L, 0.9), (4L, 0.8), (2L, 0.7)).toDF("id", "score")
    val out = Similarity.rrfFuse(Seq("a" -> a, "b" -> b))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Any]("rank_a"), r.getAs[Any]("rank_b"),
          r.getAs[Double]("rrf"))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L), "full outer over both lists")
    assert(out(1L)._1 === 1 && out(1L)._2 === 1)
    assert(out(3L)._2 === null, "missing list rank stays null")
    // doc 1 (rank 1 + rank 1) beats everything; doc 2 (2,3) beats
    // single-list docs 3 (3,-) and 4 (-,2)
    assert(out(1L)._3 > out(2L)._3)
    assert(out(2L)._3 > out(3L)._3 && out(2L)._3 > out(4L)._3)
    // a missing list contributes exactly 0: doc 3 = 1/(60+3)
    assert(math.abs(out(3L)._3 - 1.0 / 63) < 1e-12)
  }
}
