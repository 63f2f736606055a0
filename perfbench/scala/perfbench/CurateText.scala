package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.ext.{Curate, Dedup, Graph, TextAnalysis}

/** The text-curation pipeline of batch_pipelines: `Curate.run` over a seeded
  * synthetic corpus (quality + language gate → exact dedup → MinHash LSH
  * near-dup pairs → connected components → keep best per cluster → token
  * chunks + packing); the chunks are written as parquet. */
final class CurateText extends BatchJob {
  import CurateText._

  private var in: String = _
  private var out: String = _
  private var stats: Map[String, Long] = Map.empty
  private var pinnedPeak = 0.0
  /** The traced pass's near-dup pairs, counted after the pass. */
  private var nearPairs: DataFrame = _

  def stage(b: Bench, dir: String): Unit = {
    val c = Corpus.generate(b.seed)
    val spark = b.spark
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.docs.map(d => Row(d.id, d.source, d.lang, d.text)), 4), schema)
      .write.parquet(s"$dir/docs")
    import spark.implicits._
    c.docs.map(d => (d.id, d.tokens)).toDF("doc_id", "n_tokens").coalesce(1)
      .write.parquet(s"$dir/truth_tokens")
    c.nearPairs.toDF("id_a", "id_b").coalesce(1).write.parquet(s"$dir/truth_near_pairs")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/truth.txt"),
      s"${c.gateKept} ${c.exactDups} ${c.nearPairs.size}\n")
  }

  def use(dir: String): Unit = { in = dir }

  private def truth: (Long, Long, Long) = {
    val t = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$in/truth.txt"))
      .trim.split(" ").map(_.toLong)
    (t(0), t(1), t(2))
  }

  def rows(b: Bench): Long = Corpus.docCount

  def job(b: Bench): Unit = {
    val spark = b.spark
    GraftSession.sweepCaches(spark)
    out = s"${b.work}/curate_out"
    val docs = spark.read.parquet(s"$in/docs")
    val res =
      if (b.tracer.isDefined) stagedRun(b, docs)
      else b.guarded("curate_run", "Window") {
        Curate.run(spark, docs, MinQuality, Lang, JaccardThreshold, ChunkSize, Stride, BinTokens)
      }
    b.span("ext", "write") {
      b.guarded("curate_chunks", "Window", "Aggregate") {
        res.chunks.write.mode("overwrite").parquet(s"$out/chunks")
      }
    }
    stats = res.stats.toMap
  }

  private def pinnedMb(b: Bench): Double =
    b.sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** `Curate.run` with a span around each stage, for the traced pass. It
    * follows Curate.run step for step: the same parameters, the same two
    * persisted frames (kept, exact), the same count() actions, and kept
    * and exact released before it returns, so the chunk write recomputes
    * what it recomputes untraced. Curate.run never materializes the
    * near-dup pairs on their own: componentsWithSize's eager edge pass
    * computes them, so the "cluster" stage times LSH and connected
    * components together. */
  private def stagedRun(b: Bench, docs: DataFrame): Curate.Result = {
    val level = StorageLevel.MEMORY_AND_DISK
    def stage[T](name: String)(body: => T): T = {
      val r = b.span("ext", name)(body)
      pinnedPeak = pinnedPeak.max(pinnedMb(b))
      r
    }
    val (kept, total, nKept) = stage("gate") {
      val total = docs.count()
      val k = docs.filter(TextAnalysis.qualityScore(col("text")) >= MinQuality &&
        col("lang") === Lang).persist(level)
      (k, total, k.count())
    }
    val (exact, nExact) = stage("exact") {
      val e = Dedup.exactDedup(kept, "text", "doc_id").persist(level)
      (e, b.guarded("exact_dedup", "Window")(e.count()))
    }
    val comp = stage("cluster") {
      val pairs = Dedup.minhashNearDups(exact, "text", "doc_id", threshold = JaccardThreshold)
      nearPairs = pairs
      // the bucket-cap window is minhashNearDups' own; count() adds none
      b.guarded("minhash_cc", "Window")(Graph.componentsWithSize(pairs, "id_a", "id_b"))
    }
    val (unique, nUnique) = stage("keep_best") {
      val scored = comp.join(exact.select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(col("text")).as("q")), Seq("id"))
      val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("id").asc)
      val losers = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select(col("id").as("doc_id"))
      val u = exact.join(losers, Seq("doc_id"), "left_anti")
      (u, b.guarded("keep_best", "Window")(u.count()))
    }
    val (packed, nChunks) = stage("chunk") {
      val chunks = TextAnalysis.tokenChunks(unique, "text", "doc_id", ChunkSize, Stride)
        .join(unique.select(col("doc_id").as("id"), col("source")), Seq("id"))
      val wPack = Window.partitionBy("source").orderBy(col("id").asc, col("chunk_idx").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val p = chunks.withColumn("bin", floor((sum(col("n_tok")).over(wPack) - 1) / BinTokens))
      (p, b.guarded("pack", "Window")(p.count()))
    }
    kept.unpersist(); exact.unpersist()
    Curate.Result(packed, Seq("input_docs" -> total, "quality_lang_kept" -> nKept,
      "after_exact_dedup" -> nExact, "after_neardup_dedup" -> nUnique, "chunks" -> nChunks))
  }

  def checks(b: Bench): Seq[Check] = {
    val spark = b.spark
    val (gateKept, exactDups, nearDups) = truth
    val kept = stats("quality_lang_kept")
    val exactRemoved = kept - stats("after_exact_dedup")
    val nearRemoved = stats("after_exact_dedup") - stats("after_neardup_dedup")
    val recall = nearRemoved.toDouble / nearDups
    val chunks = spark.read.parquet(s"$out/chunks")
    val survivors = chunks.select("id").distinct()
    val nSurvivors = survivors.count()
    val chunkTokens = chunks.agg(sum("n_tok")).head().getLong(0)
    val docTokens = spark.read.parquet(s"$in/truth_tokens")
      .join(survivors.withColumnRenamed("id", "doc_id"), "doc_id")
      .agg(sum("n_tokens")).head().getLong(0)
    Seq(
      Check("gate_kept_eq_truth", kept == gateKept, s"$kept kept, $gateKept expected"),
      Check("exact_removed_eq_planted", exactRemoved == exactDups,
        s"$exactRemoved removed, $exactDups planted"),
      Check("near_dup_recall", recall >= RecallFloor && nearRemoved <= nearDups,
        f"$nearRemoved of $nearDups planted near-dups removed ($recall%.3f, floor $RecallFloor)"),
      Check("survivors_eq_stats", nSurvivors == stats("after_neardup_dedup"),
        s"$nSurvivors docs in chunks"),
      Check("chunk_tokens_eq_docs", chunkTokens == docTokens,
        s"$chunkTokens chunk tokens, $docTokens tokens in surviving docs"))
  }

  def layerMetrics(b: Bench): Map[String, Double] = {
    val self = b.tracer.map(_.selfByName("ext")).getOrElse(Map.empty)
    val (_, exactDups, nearDups) = truth
    // pinned sizes first: the counts below recompute the pairs
    val pinned = Map("pinned_peak_mb" -> pinnedPeak, "pinned_after_mb" -> pinnedMb(b))
    val found = b.spark.read.parquet(s"$in/truth_near_pairs")
      .join(nearPairs, Seq("id_a", "id_b")).count()
    pinned ++ StageNames.map(s => s"ext.${s}_self_s" -> self.getOrElse(s, 0.0)) ++ Map(
      "gen.rows_offered" -> Corpus.docCount.toDouble,
      "gen.dups_planted" -> (exactDups + nearDups).toDouble,
      "ext.near_dup_pairs" -> nearPairs.count().toDouble,
      "ext.near_dup_recall" -> found.toDouble / nearDups,
      "ext.exact_dups_removed" -> (stats("quality_lang_kept") - stats("after_exact_dedup")).toDouble,
      "ext.chunks" -> stats("chunks").toDouble)
  }
}

object CurateText {
  /** Curate.run's parameters, passed explicitly on both paths. */
  val MinQuality = 0.35
  val Lang = "en"
  val JaccardThreshold = 0.3
  val ChunkSize = 64
  val Stride = 64
  val BinTokens = 512

  /** The traced pass's spans, in pipeline order. */
  val StageNames = Seq("gate", "exact", "cluster", "keep_best", "chunk", "write")

  /** Share of planted near-duplicates (3% of tokens edited) the MinHash
    * LSH stage must find. It finds about 0.9 (16 permutations in 4 bands
    * of 4 catch a Jaccard-0.83 pair with p ~ 0.92); 0.7 lies 4 standard
    * deviations below that for 50 planted pairs. */
  val RecallFloor = 0.7
}

/** Seeded synthetic corpus with ground truth. Words follow a Zipf law
  * over a pseudo-word vocabulary whose top ranks are English stopwords;
  * docs are 50-300 tokens from several sources. Planted: low-quality
  * docs (punctuation soup), other-language docs, exact copies and
  * near copies (a few percent of tokens replaced) of good English docs. */
object Corpus {
  final case class Doc(id: Long, source: String, lang: String, text: String, tokens: Int)
  final case class Generated(docs: Seq[Doc], gateKept: Long, exactDups: Long,
                             nearPairs: Seq[(Long, Long)])

  val Originals = 350
  val ExactCopies = 50
  val NearCopies = 50
  def docCount: Int = Originals + ExactCopies + NearCopies

  val Sources = Seq("web", "books", "forum", "news", "wiki")
  val Vocab = 20000
  private val stop = Seq("the", "of", "and", "to", "in", "a", "is", "it", "that", "an")
  private val otherStop = Map(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"))

  private val words: Array[String] = Array.tabulate(Vocab) { i =>
    if (i < stop.size) stop(i)
    else {
      val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
      val sb = new StringBuilder
      var k = i
      do { sb += cons(k % cons.length); k /= cons.length; sb += vow(k % vow.length); k /= vow.length }
      while (k > 0)
      sb.append("x").toString
    }
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def word(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    (if (i >= 0) i else -i - 1).min(Vocab - 1)
  }

  def generate(seed: Long): Generated = {
    val r = new SplittableRandom(seed)
    val docs = Array.newBuilder[Doc]
    val good = Array.newBuilder[Int]
    val toks = new Array[Array[Int]](Originals)
    for (i <- 0 until Originals) {
      val n = 50 + r.nextInt(251)
      val kind = r.nextDouble()
      val ids = Array.fill(n)(word(r))
      toks(i) = ids
      val source = Sources(r.nextInt(Sources.size))
      val (lang, text) =
        if (kind < 0.08) ("en", ids.map(w => "##" + words(w.max(stop.size)) + "%%!!").mkString(" "))
        else if (kind < 0.15) {
          val l = if (kind < 0.115) "de" else "fr"
          val os = otherStop(l)
          (l, ids.map(w => if (w < stop.size) os(w % os.size) else words(w)).mkString(" "))
        } else { good += i; ("en", ids.map(words).mkString(" ")) }
      docs += Doc(i.toLong, source, lang, text, n)
    }
    val goodIdx = good.result()
    val originals = docs.result()
    // exact and near copies of distinct good originals
    val picked = new scala.util.Random(seed).shuffle(goodIdx.toSeq).take(ExactCopies + NearCopies)
    var next = Originals.toLong
    val near = Seq.newBuilder[(Long, Long)]
    picked.zipWithIndex.foreach { case (o, k) =>
      val orig = originals(o)
      if (k < ExactCopies) docs += orig.copy(id = next, source = Sources(r.nextInt(Sources.size)))
      else {
        val ids = toks(o).clone()
        val edits = math.max(1, math.round(ids.length * 0.03).toInt)
        // distinct positions: a second edit of one position could restore
        // the original word and turn the near copy into an exact one
        val positions = new scala.util.Random(r.nextLong()).shuffle((0 until ids.length).toList)
        positions.take(edits).foreach { p =>
          var w = word(r)
          while (w == ids(p)) w = word(r)
          ids(p) = w
        }
        docs += Doc(next, orig.source, "en", ids.map(words).mkString(" "), ids.length)
        near += ((orig.id, next))
      }
      next += 1
    }
    Generated(docs.result().toSeq, goodIdx.length.toLong + ExactCopies + NearCopies,
      ExactCopies, near.result())
  }
}
