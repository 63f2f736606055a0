package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: normalization,
  * tokenization, token counting, quality scoring, language ID and document
  * fingerprinting. All pure Column expressions (codegen'd, no UDFs) so a
  * full-corpus pass is a single narrow projection — embarrassingly
  * parallel, no shuffle at any scale.
  */
object TextAnalysis {

  /** Canonical text normalization: lowercase, collapse whitespace, trim.
    * The shared front-end for fingerprinting and exact dedup. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens over normalized text ([] for empty/blank input). */
  def tokens(text: Column): Column =
    when(length(normalize(text)) === 0, array().cast("array<string>"))
      .otherwise(split(normalize(text), " "))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alphanumeric runs and single punctuation marks
    * each count as one token (a cheap stand-in for a real BPE vocab; the
    * regex matches common tokenizer pre-split behavior). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Fraction of non-alphanumeric, non-whitespace characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0 || text.isNull, lit(0.0))
      .otherwise(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double")
        / length(text))

  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Fraction of tokens that are stopwords (proxy for natural-language
    * likelihood; word-salad and code score low). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = enStopwords): Column = {
    val toks = tokens(text)
    val hits = size(filter(toks, t => t.isin(stopwords: _*)))
    when(size(toks) === 0, lit(0.0)).otherwise(hits.cast("double") / size(toks))
  }

  /** Mean token length (very long "tokens" suggest binary/garbage). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0.0), (acc, t) => acc + length(t).cast("double"))
        / size(toks))
  }

  /** Composite document quality score in [0,1]: length band + stopword
    * presence + penalty for punctuation soup. Weights are heuristic; the
    * point is the shape (bounded, monotone in each signal, cheap). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(2.0), lit(1.0))
    greatest(lit(0.0),
      least(lit(1.0), lit(0.5) * lenScore + lit(0.5) * stopScore
        - lit(0.25) * punctPenalty))
  }

  /** Tiny per-language stopword tables for the heuristic language ID. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "es", "una", "que"))

  /** Heuristic language ID: count stopword hits per language over the
    * token stream, argmax with fixed precedence order, "und" (undetermined)
    * when nothing hits. Deterministic and SQL-expressible (n-gram models
    * would be a custom Aggregator — overkill for the reference corpus). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val counts = langStopwords.map { case (lang, sw) =>
      lang -> size(filter(toks, t => t.isin(sw: _*)))
    }
    val best = counts.tail.foldLeft(
      struct(counts.head._2.as("n"), lit(counts.head._1).as("lang"))) {
      case (acc, (lang, n)) =>
        when(n > acc.getField("n"), struct(n.as("n"), lit(lang).as("lang")))
          .otherwise(acc)
    }
    when(best.getField("n") <= 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Aggressive canonical form for robust near-exact dedup (the
    * CCNet/C4 normalization: case, punctuation, digit values, and
    * whitespace are all presentation noise): lowercase, every digit →
    * '0', every non-alphanumeric run → one space, trim. Two documents
    * differing only in casing, punctuation, spacing, or numeric values
    * normalize to the same string. One pass of stateless column
    * expressions — codegen'd, no shuffle, same cost shape as
    * [[normalize]]. */
  def normalizeAggressive(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[0-9]", "0"),
      "[^a-z0-9]+", " "))

  /** Robust content fingerprint: md5 of [[normalizeAggressive]] — the
    * dedup key that absorbs case/punctuation/digit/whitespace variants
    * of the same content, where [[fingerprint]] only absorbs
    * case/whitespace. */
  def robustFingerprint(text: Column): Column =
    md5(normalizeAggressive(text).cast("binary"))

  /** Content fingerprint: md5 of the normalized text. Stable across
    * engines (the oracle computes the identical md5), used as the exact
    * dedup key. */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Word n-gram shingles (n consecutive tokens joined by a space) — the
    * unit set for Jaccard/MinHash near-dup detection. Empty when the
    * document has fewer than n tokens.
    *
    * Built by zipping n row-level `slice`s of the token array rather than
    * indexing `toks` inside a per-element lambda: a lambda body that
    * references the tokenization expression re-evaluates normalize+split
    * PER SHINGLE (O(len^2) per document — measured 34 s for 5000 docs at
    * sf0.1; this form is ~100x cheaper). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Shingles over an already-materialized token column — use this form
    * when several n-gram sizes share one tokenization (each `shingles`
    * call otherwise re-embeds the normalize+split subtree). */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val m = size(toks) - (n - 1)
    val zipped = arrays_zip((1 to n).map(k => slice(toks, lit(k), m)): _*)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(zipped,
        x => concat_ws(" ", (0 until n).map(k => x.getField(k.toString)): _*)))
  }

  /** PII patterns shared with the oracle SQL — simple enough that Java
    * regex and RE2 (DuckDB) agree exactly: no backreferences, no
    * lookaround. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** Redact emails and IPv4 addresses — the standard pre-training
    * scrubbing pass. A narrow codegen'd projection: no shuffle, no UDF,
    * linear in corpus bytes. Email redaction runs first so an address's
    * host part can't be re-matched as a dotted quad. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      ipv4Pattern, "<IP>")

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))

  def ipv4Count(text: Column): Column =
    size(regexp_extract_all(text, lit(ipv4Pattern), lit(0)))

  /** Character k-gram hashes for winnowing: md5 of every k-char window of
    * the normalized text, reduced to a 40-bit long (same hex-parse family
    * as MinHash). Built by zipping k row-level `slice`s of the char array
    * — NOT by substring-ing inside a per-element lambda, which would
    * re-evaluate normalization per gram (see [[shingles]]). Empty when the
    * text has fewer than k characters. */
  def charGramHashes(text: Column, k: Int): Column = {
    val chars = split(normalize(text), "")
    val m = size(chars) - (k - 1)
    val zipped = arrays_zip((1 to k).map(j => slice(chars, lit(j), m)): _*)
    when(m <= 0, array().cast("array<bigint>"))
      .otherwise(transform(zipped, x => {
        val gram = concat((0 until k).map(j => x.getField(j.toString)): _*)
        conv(substring(md5(gram.cast("binary")), 1, 10), 16, 10).cast("long")
      }))
  }

  /** Winnowing document fingerprints (Schleimer et al., the MOSS
    * algorithm): hash every k-char gram, slide a window of `w` hashes,
    * keep each window's minimum — guaranteeing any shared substring of
    * length >= k + w - 1 between two documents shares a fingerprint.
    * Returns (id, n_grams, n_fp, fp_hash) where fp_hash is the md5 of the
    * sorted distinct fingerprint set (the per-document signature).
    *
    * Shape at scale: grams explode to (id, pos, hash) rows; the window
    * minimum is a per-key sort window (one shuffle on id), and the
    * fingerprint set aggregates back to one row per document — gram rows
    * shuffle once, documents never do. Documents shorter than k + w - 1
    * normalized chars produce no complete window and drop out (mirrored
    * exactly by the oracle). */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame, textCol: String,
                         idCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val g = Par.fanOut(docs, par).select(col(idCol).as("id"),
      posexplode(charGramHashes(col(textCol), k)).as(Seq("pos", "u")))
    val wWin = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("pos").asc).rowsBetween(0, w - 1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("id")
    g.withColumn("win", min(col("u")).over(wWin))
      .withColumn("n_grams", count(lit(1)).over(wAll))
      .filter(col("pos") <= col("n_grams") - w)
      .groupBy("id")
      .agg(max(col("n_grams")).as("n_grams"),
        countDistinct(col("win")).as("n_fp"),
        md5(array_join(transform(sort_array(collect_set(col("win"))),
          _.cast("string")), ",").cast("binary")).as("fp_hash"))
  }

  /** Fraction of tokens containing at least one ASCII letter (Gopher's
    * "80% of words contain an alphabetic character" rule). */
  def alphaTokenFrac(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double")
        / size(toks))
  }

  /** Absolute stopword hit count (Gopher uses >= 2 as a natural-language
    * signal; ratios already exist as [[stopwordRatio]]). */
  def stopwordCount(text: Column, stopwords: Seq[String] = enStopwords): Column =
    size(filter(tokens(text), t => t.isin(stopwords: _*)))

  /** Duplicate fraction of an n-gram list: (|all| - |distinct|) / |all|,
    * 0 for empty input — the C4/Gopher repetition signal. Pass a *column
    * reference* (materialized via withColumn), not the shingle expression
    * itself: the expression form would be inlined and re-evaluated once per
    * size/distinct reference. */
  def dupFraction(grams: Column): Column =
    when(size(grams) === 0, lit(0.0))
      .otherwise((size(grams) - size(array_distinct(grams))).cast("double")
        / size(grams))

  /** Fixed-size token-window chunking with overlap — the context-window
    * packing step of an LLM data pipeline. Chunk i covers tokens
    * [i·stride+1, i·stride+chunkSize]; the last chunk may be short; docs
    * with no tokens produce no chunks. Returns (id, chunk_idx, n_tok,
    * chunk_hash) — the hash standing in for the chunk payload so the
    * shuffle carries fixed-width rows, never the text.
    *
    * Shape at scale: one narrow projection per document (tokenize once),
    * then explode to chunk rows — no shuffle at all until a downstream
    * consumer groups. Chunk count per doc is ceil((n-size)/stride)+1. */
  def tokenChunks(docs: org.apache.spark.sql.DataFrame, textCol: String,
                  idCol: String, chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && chunkSize >= stride, "need 0 < stride <= chunkSize")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val base = Par.fanOut(docs, par)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
    val nChunks = when(col("n") <= chunkSize, lit(1L))
      .otherwise(floor((col("n") - chunkSize + stride - 1) / lit(stride.toDouble)) + 1L)
    base.withColumn("chunk_idx", explode(sequence(lit(0L), nChunks - 1)))
      .withColumn("chunk",
        slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"), lit(chunkSize)))
      .select(col("id"), col("chunk_idx"),
        size(col("chunk")).as("n_tok"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_hash"))
  }

  /** Per-document top-k terms by TF-IDF (idf = ln(N / df), raw counts for
    * tf). Returns (id, term, tf, tfidf, term_rank) with a total-order
    * tie-break (score desc, term asc).
    *
    * Shape at scale: tokenize+explode is a narrow map; tf is one hash
    * aggregation keyed (doc, term). df NEVER re-scans the tokens —
    * tf's rows are already distinct (doc, term) pairs, so document
    * frequency is a plain count over tf (no countDistinct expand). The
    * corpus size N is a parquet metadata count folded in as a literal,
    * and df joins back to tf on the term key. Nothing here is quadratic
    * and the heaviest shuffle carries (doc, term, count) triples, never
    * document bodies. */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val tok = Par.fanOut(docs, par)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    // tf feeds both the join's left side and the df derivation; persist it
    // (it is the smaller distinct (doc, term) table, not the raw tokens).
    val tf = tok.groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.count().toDouble // parquet metadata-only count
    // per-doc rank cut via the bounded top-k aggregate (string payload
    // variant): at most k (term, tf) entries per doc per map partition
    // cross the exchange — a rank window would shuffle and sort every
    // (doc, term, tfidf) triple in the corpus. Same (tfidf desc, term
    // asc) total order; terms are unique within a doc by construction.
    tf.join(df, "term")
      .withColumn("tfidf", col("tf") * log(lit(nDocs) / col("df")))
      .groupBy("id")
      .agg(graft.functions.TopKSelectFunctions.topKSelect(
        col("tfidf"), col("term"), Seq(col("tf")), k).as("_tk"))
      .select(col("id"), posexplode(col("_tk")).as(Seq("_pos", "_s")))
      .select(col("id"), col("_s.payload").as("term"), col("_s.c0").as("tf"),
        col("_s.score").as("tfidf"),
        (col("_pos") + 1).as("term_rank"))
  }

  /** BM25 relevance of every document for a fixed term set — the
    * classic retrieval ranking (Robertson–Spärck Jones idf with the
    * +1 floor variant, so common terms never score negative):
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * Distributed shape: the query terms filter the exploded tokens
    * MAP-SIDE (an isin over a literal set — a benchmark query is tiny
    * next to the corpus), so only (doc, query-term, tf) rows aggregate;
    * df and avgdl are aggregate-sized side inputs joined back by
    * broadcast. Docs matching no term are restored at score 0.
    *
    * Pins its per-doc length table (|docs| rows, read by the score join
    * AND the left base); release it with [[Graph.uncacheUnder]]. */
  def bm25(docs: org.apache.spark.sql.DataFrame, textCol: String,
           idCol: String, queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val lens = Par.fanOut(docs, par)
      .select(col(idCol).as("id"), tokenCount(col(textCol)).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE blocking action for both corpus stats (r21): lens is one row
    // per doc, so COUNT(dl-rows) == COUNT(docs) — the old shape paid a
    // separate full docs scan for nDocs plus a second job for avgdl.
    val st = lens.agg(count(lit(1)).as("n"), avg("dl").as("avgdl")).head()
    val nDocs = st.getLong(0).toDouble
    val avgdl = st.getDouble(1)
    val tf = Par.fanOut(docs, par)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(countDistinct("id").as("df"))
      .withColumn("idf",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    val scores = tf.join(broadcast(idf), "term")
      .join(lens, "id")
      .withColumn("_s", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
      .groupBy("id").agg(sum("_s").as("bm25"))
    // lens stays pinned: the result references it twice (scores join +
    // the left base) and is returned LAZY, so an unpersist here would
    // drop the cache before the consumer ever runs and recompute the
    // tokenization pass twice.
    lens.select("id").join(scores, Seq("id"), "left")
      .select(col("id"), coalesce(col("bm25"), lit(0.0)).as("bm25"))
  }

  /** Per-document unigram entropy in bits: H = -Σ p·log2(p) over the
    * document's OWN token distribution. Near-zero = templated/repetitive
    * text, high = diverse vocabulary — a standard cheap quality signal
    * complementing [[dupFraction]] (which sees n-gram structure, not
    * vocabulary concentration).
    *
    * Distributed shape: explode to (id, token) → two hash aggregations
    * keyed by id — the shuffle carries tokens and counts, never full
    * texts; docs with no tokens are restored by a left join against the
    * (already-tiny) id projection with entropy 0. */
  def tokenEntropy(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   idCol: String): org.apache.spark.sql.DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val counts = Par.fanOut(docs, par)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("c"))
    val ent = counts.groupBy("id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * log(2.0, col("c"))).as("_clgc"))
      // -Σ (c/n)·log2(c/n) = log2(n) − (Σ c·log2 c)/n : one pass, no
      // second join against the per-doc total
      .select(col("id"),
        col("n_tokens"),
        (log(2.0, col("n_tokens")) - col("_clgc") / col("n_tokens"))
          .as("entropy_bits"))
    docs.select(col(idCol).as("id")).join(ent, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("entropy_bits"), lit(0.0)).as("entropy_bits"))
  }

  /** Deflate-compression ratio of the UTF-8 text: compressed bytes /
    * raw bytes. Boilerplate, templates and stutter compress far below
    * natural prose — the C4/Gopher-family repetitiveness signal that
    * sees REDUNDANCY STRUCTURE (long-range repeats) where
    * [[dupFraction]] sees only fixed-n grams and [[tokenEntropy]] only
    * unigram concentration. Gate with `ratio < t` for templated text,
    * `ratio > t'` for high-entropy noise (base64 blobs, minified code).
    *
    * A Scala UDF is justified here: no Catalyst built-in exposes a
    * compressor, and the evaluation is a pure per-row narrow map — no
    * shuffle at any scale, deterministic (fixed Deflater level, raw
    * mode, single setInput). Empty/null text → 1.0 (no evidence). */
  def compressionRatio(text: Column): Column = {
    val f = udf { (s: String) =>
      if (s == null || s.isEmpty) 1.0
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(6, true)
        try {
          d.setInput(bytes)
          d.finish()
          val buf = new Array[Byte](8192)
          var total = 0L
          while (!d.finished()) total += d.deflate(buf)
          total.toDouble / bytes.length
        } finally d.end()
      }
    }
    f(text)
  }

  /** Hashed-token feature bucket: the low-collision 40-bit md5 prefix
    * (same engine-portable hash as [[charGramHashes]]) folded into
    * `numBuckets` — the "hashing trick" feature space of a linear text
    * classifier. */
  def tokenBucket(tok: Column, numBuckets: Int): Column =
    pmod(conv(substring(md5(tok.cast("binary")), 1, 10), 16, 10).cast("long"),
      lit(numBuckets.toLong))

  /** Train a closed-form Naive Bayes log-odds classifier over hashed
    * token buckets — the in-engine counterpart of the fastText-style
    * model-based quality filter LLM pipelines run (CCNet-shape: train on
    * a labeled seed, score the corpus, gate on the score). Training is
    * counting plus log arithmetic, so it is deterministic, single-pass,
    * and oracle-verifiable — no SGD, no external model artifact.
    *
    * Returns (bucket, w) with w = log((pos_b+α)/(pos+αB)) −
    * log((neg_b+α)/(neg+αB)) — the per-bucket evidence a multinomial NB
    * model assigns toward the positive class, Laplace-smoothed.
    *
    * Shape at scale: tokenize+explode is a narrow map, training is one
    * hash aggregation on bucket (B rows out); the scalar total rides a
    * documented broadcast. The weight table is B rows — broadcastable
    * below any realistic B. */
  def nbTrainWeights(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     positive: Column, numBuckets: Int,
                     alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(positive.cast("int").as("pos"),
        explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket", tokenBucket(col("tok"), numBuckets))
    val counts = toks.groupBy("bucket")
      .agg(sum(col("pos")).as("np"), sum(lit(1) - col("pos")).as("nn"))
    val totals = toks.groupBy()
      .agg(sum(col("pos")).as("tp"), sum(lit(1) - col("pos")).as("tn"))
    val b = lit(alpha * numBuckets)
    // scalar totals — broadcast of a 1-row frame
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("np") + alpha) / (col("tp") + b))
          - log((col("nn") + alpha) / (col("tn") + b))).as("w"))
  }

  /** Score every document under [[nbTrainWeights]] weights: mean
    * log-odds over its tokens (length-normalized so long documents don't
    * dominate), 0 for empty docs; tokens whose bucket never occurred in
    * training contribute 0 (neutral evidence). Returns (id, n_tokens,
    * nb_score). Gate with `nb_score > t` for the quality filter.
    *
    * Shape at scale: explode → broadcast-join the B-row weight table →
    * one hash aggregation per doc; texts never shuffle. */
  def nbScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, weights: org.apache.spark.sql.DataFrame,
              numBuckets: Int): org.apache.spark.sql.DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val agg = Par.fanOut(docs, par)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket", tokenBucket(col("tok"), numBuckets))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(coalesce(col("w"), lit(0.0))) / count(lit(1))).as("nb_score"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("nb_score"), lit(0.0)).as("nb_score"))
  }
}
