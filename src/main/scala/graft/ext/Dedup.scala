package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All engine-portable (md5-based hashing, no
  * engine-specific hash builtins) so results are reproducible across
  * runtimes and verifiable by an external oracle.
  *
  * Scale notes (100 TB):
  *  - Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle of
  *    (fingerprint, doc_id), never the document bodies.
  *  - MinHash+LSH: the candidate generation is a self-join on (band_id,
  *    band_hash) buckets — shuffle cost is O(#docs × #bands) small rows;
  *    the quadratic Jaccard verification only runs inside buckets, which is
  *    the whole point of LSH. Skewed buckets (boilerplate-heavy corpora)
  *    should be capped (`maxBucketSize`) — a bucket with B docs generates
  *    B² pairs.
  *  - SimHash: one 64-bit signature per doc; near-dup = small Hamming
  *    distance. Banding the 64 bits into k chunks gives the same
  *    bucket-join trick for distance ≤ k-1.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id document per normalized-content
    * fingerprint. Output keeps every column of the winning row. */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol).asc)
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Normalized (robust near-exact) dedup — [[exactDedup]] keyed on
    * [[TextAnalysis.robustFingerprint]] instead: case, punctuation,
    * digit-value, and whitespace variants of one document collapse to a
    * single survivor (the CCNet normalization-dedup stage; the web's
    * most common duplication mode is exactly these presentation-level
    * mutations of syndicated content). Returns the lowest-id survivor
    * per normalized form plus `n_dups`, the number of raw documents it
    * absorbed — the audit column a curation report needs. Shape at
    * scale: one fingerprint-keyed shuffle; document bodies ride it once
    * (same cost envelope as exactDedup). */
  def normalizedDedup(docs: DataFrame, textCol: String,
                      idCol: String): DataFrame = {
    val w = Window.partitionBy(col("_nfp")).orderBy(col(idCol).asc)
    docs.withColumn("_nfp", TextAnalysis.robustFingerprint(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(
        Window.partitionBy(col("_nfp"))))
      .filter(col("_rn") === 1)
      .drop("_rn", "_nfp")
  }

  /** Incremental normalized dedup — [[incrementalExactDedup]] keyed on
    * [[TextAnalysis.robustFingerprint]]: today's batch loses its
    * case/punct/digit/whitespace variants both within the batch
    * (keep-lowest-id) and against the historical robust-fingerprint
    * index, without rescanning history. Same two fingerprint-keyed
    * steps and the same index-delta contract
    * ([[survivorRobustFingerprints]]) as the exact form. */
  def incrementalNormalizedDedup(batch: DataFrame, textCol: String,
                                 idCol: String,
                                 index: DataFrame): DataFrame = {
    val inBatch = normalizedDedup(batch, textCol, idCol).drop("n_dups")
      .withColumn("_fp", TextAnalysis.robustFingerprint(col(textCol)))
    inBatch.join(index.select(col("fingerprint").as("_fp")), Seq("_fp"),
        "left_anti")
      .drop("_fp")
  }

  /** The index delta for [[incrementalNormalizedDedup]] survivors. */
  def survivorRobustFingerprints(survivors: DataFrame,
                                 textCol: String): DataFrame =
    survivors.select(
      TextAnalysis.robustFingerprint(col(textCol)).as("fingerprint"))

  /** Incremental exact dedup — the shape every production pipeline
    * actually runs: dedup TODAY'S batch against the historical
    * fingerprint index without rescanning history. Two steps, both
    * fingerprint-keyed (the shuffle never carries document bodies):
    * within-batch keep-lowest-id (same window as [[exactDedup]]), then a
    * LEFT ANTI join against `index` (one `fingerprint` column — millions
    * of 32-char rows per billion historical docs, usually
    * broadcast-able). Afterwards union the survivors' fingerprints into
    * the index for the next batch; `survivorFingerprints` builds exactly
    * that delta. */
  def incrementalExactDedup(batch: DataFrame, textCol: String,
                            idCol: String, index: DataFrame): DataFrame = {
    val inBatch = exactDedup(batch, textCol, idCol)
      .withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
    inBatch.join(index.select(col("fingerprint").as("_fp")), Seq("_fp"),
        "left_anti")
      .drop("_fp")
  }

  /** The index delta for [[incrementalExactDedup]] survivors. */
  def survivorFingerprints(survivors: DataFrame, textCol: String): DataFrame =
    survivors.select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))

  /** Bucketed-index variant of [[incrementalExactDedup]] — the production
    * lookup shape when the index dwarfs the batch: with the index stored
    * bucketed on `fingerprint` (`Warehouse.writeBucketed`), the anti join
    * reads the index IN PLACE and shuffles only today's batch into the
    * bucket partitioning. A billion-doc index never crosses the wire to
    * dedup a million-doc day. */
  def incrementalExactDedupBucketed(batch: DataFrame, textCol: String,
                                    idCol: String,
                                    indexTable: String): DataFrame =
    incrementalExactDedup(batch, textCol, idCol,
      batch.sparkSession.table(indexTable))

  /** The double-hashed MinHash family: one md5 per shingle, split into two
    * 40-bit halves (u, v), with permutation p's hash h_p = u + p·v
    * (Kirsch–Mitzenmacher double hashing — p pairwise-combined hashes from
    * one strong hash). One hash invocation per shingle instead of numPerms,
    * and the minima are NUMERIC, so the signature aggregation stays a
    * HashAggregate (min over var-length strings forces sort-based
    * aggregation). 40-bit halves keep u + 15·v < 2^44, safely inside a
    * 64-bit long on every engine. md5 keeps the family portable: the oracle
    * recomputes identical values in SQL. */
  private[graft] def uvHalves(shingle: Column): (Column, Column) = {
    val hx = md5(shingle.cast("binary"))
    (conv(substring(hx, 1, 10), 16, 10).cast("long"),
      conv(substring(hx, 11, 10), 16, 10).cast("long"))
  }

  /** MinHash signature as `numPerms` double-hashed minimums over the
    * document's distinct shingles. Returns array<bigint> of length numPerms
    * (empty-shingle docs get null entries). */
  def minhashSignature(shingleArr: Column, numPerms: Int): Column = {
    val uvs = transform(shingleArr, s => {
      val (u, v) = uvHalves(s)
      struct(u.as("u"), v.as("v"))
    })
    val perms = (0 until numPerms).map { p =>
      array_min(transform(uvs, x => x("u") + lit(p.toLong) * x("v")))
    }
    array(perms: _*)
  }

  /** Band hashes for LSH: split the signature into bands of `rowsPerBand`
    * and hash each band. Docs sharing ANY band hash are candidates. */
  def bandHashes(signature: Column, numPerms: Int, rowsPerBand: Int): Column = {
    val bands = (0 until numPerms / rowsPerBand).map { b =>
      md5(concat_ws("|",
        (lit(b.toString) +: (0 until rowsPerBand).map(r =>
          element_at(signature, b * rowsPerBand + r + 1).cast("string"))): _*)
        .cast("binary"))
    }
    array(bands: _*)
  }

  /** MinHash+LSH near-duplicate candidate pairs with exact Jaccard
    * verification. Returns (idA, idB, jaccard) with idA < idB and
    * jaccard >= threshold.
    *
    * Implementation shape (matters at scale): signatures come from ONE
    * explode + ONE hash aggregation of NUMERIC minima (see [[uvHalves]]) so
    * md5 runs once per shingle, not once per (shingle, perm) — and min(long)
    * stays a HashAggregate where min(string) would fall back to sort-based.
    * Expressing the signature as a nested array expression instead lets
    * CollapseProject inline it into every band reference and recompute the
    * hashing numPerms^2 times (measured 30x slower).
    * Candidate buckets carry only (id, band, hash) — never the shingle
    * arrays — and the quadratic verification joins shingles back by id
    * afterwards, only for deduplicated candidates.
    *
    * @param shingleN      word-shingle size
    * @param numPerms      minhash permutations (signature length)
    * @param rowsPerBand   LSH band height; bands = numPerms/rowsPerBand
    * @param maxBucketSize drop pathological buckets larger than this
    *                      (a bucket of B docs generates B^2 pairs)
    * @param salts         >1 spreads each bucket's pair generation across
    *                      this many reducers via [[graft.operators.Skew
    *                      .saltedPairs]] — the NON-LOSSY treatment for a
    *                      hot bucket (same pairs, bounded task size),
    *                      where `maxBucketSize` truncates
    */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      threshold: Double, shingleN: Int = 3, numPerms: Int = 16,
                      rowsPerBand: Int = 4,
                      maxBucketSize: Int = 1000, salts: Int = 1): DataFrame = {
    // The shingle table feeds three consumers (signature explode + both
    // sides of the candidate-verification join); persist it instead of
    // recomputing tokenization three times. MEMORY_AND_DISK: shingle sets
    // are ~the corpus size, which may exceed executor memory at 100 TB.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val pre = Par.fanOut(docs, par).select(
      col(idCol).as("id"),
      array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // All numPerms minima in ONE hash aggregation over the exploded
    // shingles: (u, v) are evaluated inside the partial (map-side)
    // aggregate, so the shuffle carries only |docs| x numPerms partial
    // numeric minima — no (id, shingle, perm) materialization.
    val (u, v) = uvHalves(col("s"))
    val mins = (0 until numPerms).map { p =>
      min(col("u") + lit(p.toLong) * col("v")).as(s"m$p")
    }
    val sig = pre.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), u.as("u"), v.as("v"))
      .groupBy("id")
      .agg(mins.head, mins.tail: _*)
    // Band hashes from the per-perm minima: md5("b|m1|m2|m3|m4").
    val bandCols = (0 until numPerms / rowsPerBand).map { b =>
      md5(concat_ws("|",
        lit(b.toString) +: (0 until rowsPerBand).map(r =>
          col(s"m${b * rowsPerBand + r}").cast("string")): _*)
        .cast("binary"))
    }
    val banded = sig
      .select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    // Cap pathological buckets before the quadratic self-join. A window
    // count over the bucket key does it in the same shuffle that the
    // self-join needs anyway (vs. a separate groupBy + join back, which
    // costs an extra aggregate exchange and a join stage).
    val wBucket = Window.partitionBy("band", "bh")
    // Persist the (id, band, hash) bucket table: both sides of the
    // candidate self-join consume it, and without the persist the whole
    // signature aggregation computes twice. It is tiny — |docs| x bands
    // narrow rows.
    val capped = banded
      .withColumn("_n", count(lit(1)).over(wBucket))
      .filter(col("_n") > 1 && col("_n") <= maxBucketSize)
      .drop("_n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = capped.as("a")
    val b = capped.as("b")
    val rawPairs =
      if (salts <= 1)
        a.join(b,
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      else graft.operators.Skew.saltedPairs(capped, Seq("band", "bh"), "id", salts)
    val pairs = rawPairs.dropDuplicates("id_a", "id_b")
    pairs
      .join(pre.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(pre.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-doc MinHash signature table (id, sig: array<long>) via the same
    * exploded numeric-min aggregation as [[minhashNearDups]] — the
    * STORABLE form of a near-dup index: 8·numPerms bytes per doc ever
    * ingested, no shingles, no text. Docs with no shingles (fewer than
    * `shingleN` tokens) produce no row — they have no signature and can
    * never near-dup-match, so incremental callers keep them. */
  def minhashSigTable(docs: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 3, numPerms: Int = 16): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val (u, v) = uvHalves(col("s"))
    val mins = (0 until numPerms).map(p =>
      min(col("u") + lit(p.toLong) * col("v")).as(s"m$p"))
    Par.fanOut(docs, par)
      .select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.shingles(col(textCol), shingleN)))
          .as("s"))
      .select(col("id"), u.as("u"), v.as("v"))
      .groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numPerms).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** LSH band table (id, band, bh) derived from stored signatures — a
    * narrow md5 expansion with no text access, producing the exact band
    * hashes [[minhashNearDups]] computes (md5("b|m..|m..")). In
    * production the HISTORY side of this table is materialized once and
    * stored bucketed on bh (Warehouse.writeBucketed), not re-derived per
    * batch; deriving it here keeps the API self-contained. */
  def sigBands(sigs: DataFrame, numPerms: Int = 16,
               rowsPerBand: Int = 4, carrySig: Boolean = false): DataFrame = {
    val bandStructs = (0 until numPerms / rowsPerBand).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          lit(b.toString) +: (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1).cast("string")): _*)
          .cast("binary")).as("bh"))
    }
    sigs.select(col("id"), col("sig"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("id") +: col("bb.band").as("band") +:
        col("bb.bh").as("bh") +:
        (if (carrySig) Seq(col("sig")) else Nil): _*)
  }

  /** Estimated Jaccard from two MinHash signatures: the fraction of
    * agreeing permutation minima (an unbiased estimator of the true
    * Jaccard). */
  def estJaccard(a: Column, b: Column, numPerms: Int): Column =
    size(filter(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      z => z === 1)).cast("double") / numPerms

  /** Per-SOURCE MinHash signature table (source, sig): permutation
    * minima over the UNION of every document's shingles in the source —
    * min is set-union-mergeable, so the whole-corpus signature of a
    * source is one hash aggregation keyed by source (map-side combine
    * reduces each partition to ≤ sources × numPerms longs before the
    * exchange; the shingle text itself never shuffles). The source-level
    * signature estimates the Jaccard of entire CORPORA — which sources
    * are near-copies or heavy subsets of each other — without any
    * doc-vs-doc comparison, the planning signal for cross-source dedup
    * at 100 TB (pairwise cost is sources², not docs²). */
  def sourceSignatures(docs: DataFrame, textCol: String, sourceCol: String,
                       shingleN: Int = 3, numPerms: Int = 16): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    sourceSignaturesFromShingles(
      Par.fanOut(docs, par)
        .select(col(sourceCol).as("source"),
          explode(array_distinct(TextAnalysis.shingles(col(textCol), shingleN)))
            .as("s")),
      numPerms)
  }

  /** [[sourceSignatures]] over an ALREADY-exploded (source, s) shingle
    * table — the sharing seam for callers that also need the shingle
    * rows for something else (exact overlap counts, shingle stats): one
    * corpus shingle pass feeds every consumer, the same discipline as
    * [[ngramJaccardPairsWithIndex]]. Duplicate (source, s) rows are fine
    * — the per-permutation MIN is duplicate-insensitive — so both the
    * raw exploded stream and a distinct'd table produce the identical
    * signature. */
  def sourceSignaturesFromShingles(ss: DataFrame,
                                   numPerms: Int = 16): DataFrame = {
    val (u, v) = uvHalves(col("s"))
    val mins = (0 until numPerms).map(p =>
      min(col("u") + lit(p.toLong) * col("v")).as(s"m$p"))
    ss.select(col("source"), u.as("u"), v.as("v"))
      .groupBy("source")
      .agg(mins.head, mins.tail: _*)
      .select(col("source"),
        array((0 until numPerms).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** Cross-source corpus-overlap matrix: estimated shingle-set Jaccard
    * for every source pair (source_a < source_b), from
    * [[sourceSignatures]]. The pairwise stage is sources² signature
    * comparisons — broadcast-joined, a handful of rows at any corpus
    * scale. */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String,
                          sourceCol: String, shingleN: Int = 3,
                          numPerms: Int = 16): DataFrame =
    sigOverlapPairs(
      sourceSignatures(docs, textCol, sourceCol, shingleN, numPerms),
      numPerms)

  /** [[sourceOverlapMatrix]] over an already-exploded (source, s)
    * shingle table — see [[sourceSignaturesFromShingles]]. */
  def sourceOverlapMatrixFromShingles(ss: DataFrame,
                                      numPerms: Int = 16): DataFrame =
    sigOverlapPairs(sourceSignaturesFromShingles(ss, numPerms), numPerms)

  private def sigOverlapPairs(sigs: DataFrame, numPerms: Int): DataFrame = {
    val a = sigs.select(col("source").as("source_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("source").as("source_b"), col("sig").as("sig_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        estJaccard(col("sig_a"), col("sig_b"), numPerms).as("est_jaccard"))
  }

  /** Incremental NEAR-dup dedup — the near-dup twin of
    * [[incrementalExactDedup]]: drop batch docs whose estimated Jaccard
    * against ANY history doc reaches `estThreshold`, where history is the
    * persistent signature index (`histSigs`: (id, sig) from
    * [[minhashSigTable]]) — never historical text or shingles.
    *
    * Shape at 100 TB: candidates come from a banded equi-join (batch
    * bands × history bands) that CARRIES both signatures, so estimated-
    * Jaccard verification happens inline on the joined rows and each
    * side's signature aggregation runs exactly once — no re-join back to
    * the signature tables, no second pass over the batch's shingles.
    * The band rows widen by 8·numPerms bytes; that is the entire cost,
    * and history text is never read. Within-batch near-dups are
    * deliberately out of scope (run [[minhashNearDups]]/[[exactDedup]]
    * on the batch first); this operator answers only "is it new vs
    * history". */
  def incrementalMinhashDedup(batch: DataFrame, textCol: String,
                              idCol: String, histSigs: DataFrame,
                              estThreshold: Double, shingleN: Int = 3,
                              numPerms: Int = 16,
                              rowsPerBand: Int = 4): DataFrame =
    incrementalMinhashDedupSigs(batch,
      minhashSigTable(batch, textCol, idCol, shingleN, numPerms),
      idCol, histSigs, estThreshold, numPerms, rowsPerBand)

  /** [[incrementalMinhashDedup]] with the batch's signature table already
    * computed — the one-shingle-pass form. Callers that also need the
    * batch's signatures downstream (the signature-index DELTA is exactly
    * the survivors' rows of this table) compute `batchSigs` once, persist
    * it, pass it here, and semi-join it on the surviving ids afterwards —
    * so each batch pays tokenization exactly once, not once for the dedup
    * and again for the delta. `batchSigs` must be
    * `minhashSigTable(batch, ...)` with the same `numPerms`. */
  def incrementalMinhashDedupSigs(batch: DataFrame, batchSigs: DataFrame,
                                  idCol: String, histSigs: DataFrame,
                                  estThreshold: Double,
                                  numPerms: Int = 16,
                                  rowsPerBand: Int = 4): DataFrame = {
    val dupIds = sigBands(batchSigs, numPerms, rowsPerBand, carrySig = true)
      .select(col("id").as("bid"), col("band"), col("bh"),
        col("sig").as("sig_b"))
      .join(sigBands(histSigs, numPerms, rowsPerBand, carrySig = true)
        .select(col("id").as("hid"), col("band"), col("bh"),
          col("sig").as("sig_h")),
        Seq("band", "bh"))
      .filter(estJaccard(col("sig_b"), col("sig_h"), numPerms)
        >= estThreshold)
      .select(col("bid").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** N-gram Jaccard pairs within an explicit blocking key (e.g. same
    * source), via a sparse inverted-index join: explode (id, shingle),
    * self-join on (block, shingle) to count intersections, then
    * |union| = |a| + |b| - |intersect|. Pairs sharing no shingle never
    * materialize (jaccard 0 — requires threshold > 0), so the cost is
    * proportional to actual shingle co-occurrence instead of |block|^2
    * array comparisons. At 100 TB never call without a blocking key.
    *
    * Pins its exploded shingle index for the self-join's two sides;
    * release it with [[Graph.uncacheUnder]]. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        blockCol: String, shingleN: Int,
                        threshold: Double): DataFrame =
    ngramJaccardPairsWithIndex(docs, textCol, idCol, blockCol, shingleN,
      threshold)._1

  /** [[ngramJaccardPairs]] plus the pinned exploded shingle
    * index itself (`id`, `blk`, `n`, `s` — one row per distinct shingle
    * per document). The index is the expensive artifact (normalize +
    * tokenize + shingle + distinct per document) and is ALREADY
    * persisted for the self-join's two sides, so a caller that needs
    * per-shingle rows for anything else — MinHash signatures, IDF
    * weights, shingle stats — consumes the same generation instead of
    * re-shingling the corpus (the r19 cold-bench audit caught
    * `x_minhash_est_vs_exact` paying the shingle pipeline twice this
    * way). The index is the pin: `unpersist()` it once, after all
    * consumers have run. */
  def ngramJaccardPairsWithIndex(docs: DataFrame, textCol: String,
                                 idCol: String, blockCol: String,
                                 shingleN: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    require(threshold > 0.0,
      "inverted-index jaccard never materializes zero-overlap pairs; threshold must be > 0")
    // Repartition before tokenization: a single-file corpus otherwise runs
    // the whole per-row pipeline on one task (one parquet row group = one
    // input partition).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val pre = Par.fanOut(docs, par).select(col(idCol).as("id"), col(blockCol).as("blk"),
      array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"))
    // Both sides of the self-join consume the exploded index; persist it
    // once (ReuseExchange does not fire across the aliased self-join).
    val ex = pre.select(col("id"), col("blk"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = ex.as("a")
    val b = ex.as("b")
    val inter = a.join(b,
        col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (out, ex)
  }

  /** Exact Jaccard pairs by PREFIX FILTERING (the AllPairs/PPJoin family):
    * identical output to [[ngramJaccardPairs]], fundamentally cheaper
    * candidate generation at high thresholds. Sort every document's
    * shingles by a global total order (document frequency asc, shingle
    * asc — rarest first) and keep only the PREFIX of length
    * |d| − ⌈τ·|d|⌉ + 1: any pair with jaccard ≥ τ must share at least
    * one prefix shingle (its intersection has ≥ ⌈τ·|d|⌉ elements, more
    * than fit in the skipped suffix), so joining prefixes loses nothing.
    * Candidates are then verified EXACTLY against the full shingle
    * arrays — the operator is exact, not approximate.
    *
    * Cost shape vs the inverted index: the self-join — the part that
    * blows up on co-occurrence-heavy corpora — consumes only prefix
    * rows (~(1−τ)·tokens instead of all tokens, e.g. ~20% at τ=0.8,
    * and rarest-first prefixes co-occur the least); the added cost is
    * one document-frequency aggregation and one per-doc ranking window.
    * Verification touches candidate pairs only. At 100 TB the same
    * blocking-key rule applies as for [[ngramJaccardPairs]].
    *
    * Pins TWO frames (the full shingle arrays for verification, the
    * prefix index for candidates); release them with
    * [[Graph.uncacheUnder]]. */
  def jaccardPairsPrefix(docs: DataFrame, textCol: String, idCol: String,
                         blockCol: String, shingleN: Int,
                         threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val pre = Par.fanOut(docs, par)
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = pre.select(col("id"), col("blk"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val rk = Window.partitionBy("id").orderBy(col("df").asc, col("s").asc)
    val prefix = ex.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(rk))
      // the 1e-9 guards float overshoot (0.3·20 = 6.000000000000001 →
      // ceil 7 would SHRINK the prefix and silently drop pairs); erring
      // down only lengthens the prefix — extra candidates, still exact
      .filter(col("rk") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select(col("id"), col("blk"), col("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(pre.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(pre.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash signatures, one 64-char bit-string per document: bit i of the
    * signature is the majority vote of bit i of md5(shingle) across the
    * document's distinct shingles (ties and empty docs → 0).
    *
    * Implemented as ONE explode + ONE hash aggregation with 64 conditional
    * sums — a single shuffle of (id, 64 ints), no quadratic work. The bit
    * string representation keeps the signature engine-portable (no
    * engine-specific 64-bit unsigned semantics). Bit extraction is
    * numeric — the 64 md5 bits are parsed once into two 32-bit halves and
    * each bit is a shift+mask — rather than 64 substrings over an
    * lpad'ed base-2 string: same bits (MSB-first, hex chars 1-8 are bits
    * 63..32, chars 9-16 are bits 31..0), far cheaper per exploded row. */
  def simhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val ex = Par.fanOut(docs, par).select(col(idCol).as("id"),
        explode_outer(array_distinct(TextAnalysis.shingles(col(textCol), shingleN)))
          .as("sh"))
      .withColumn("hx", md5(col("sh").cast("binary")))
      .withColumn("hi", conv(substring(col("hx"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("hx"), 9, 8), 16, 10).cast("long"))
    val bitSums = (1 to 64).map { i =>
      val bit =
        if (i <= 32) shiftright(col("hi"), 32 - i).bitwiseAND(lit(1L))
        else shiftright(col("lo"), 64 - i).bitwiseAND(lit(1L))
      sum(bit).as(s"b$i")
    }
    val aggs = count(col("sh")).as("n") +: bitSums
    ex.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        concat((1 to 64).map(i =>
          when(col(s"b$i") * 2 > col("n"), lit("1")).otherwise(lit("0"))): _*)
          .as("simhash"))
  }

  /** Hamming distance between two equal-length bit-string signatures —
    * computed numerically (parse 16-bit chunks, XOR, popcount) rather than
    * as 64 per-character comparisons: the verification runs once per
    * candidate pair, and candidate volume grows quadratically with bucket
    * size. `bits` must be a multiple of 16. */
  def hammingDist(a: Column, b: Column, bits: Int = 64): Column =
    (0 until bits / 16).map { i =>
      bit_count(conv(substring(a, i * 16 + 1, 16), 2, 10).cast("long")
        .bitwiseXOR(conv(substring(b, i * 16 + 1, 16), 2, 10).cast("long")))
    }.reduce(_ + _)

  /** SimHash near-dup pairs: band the bit string into `bands` chunks and
    * bucket-join on any equal chunk (guarantees recall for Hamming distance
    * <= bands-1), then verify the exact distance.
    *
    * Band sizing is the scale lever: chunk width 64/bands bounds the
    * bucket-key space at 2^width. The classic 64-bit setting is bands=4
    * (16-bit chunks, full recall for distance <= 3): 8-bit chunks have
    * only 256 bucket values per band, and candidate pairs grow
    * quadratically within buckets — measured 30x slower on a 5k-doc
    * corpus for the same output. */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int, shingleN: Int = 3,
                      bands: Int = 4, salts: Int = 1): DataFrame = {
    val sigs = simhashSignatures(docs, textCol, idCol, shingleN)
    val width = 64 / bands
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        substring(col("simhash"), b * width + 1, width)): _*)).as(Seq("band", "chunk")))
    val rawPairs =
      if (salts <= 1) {
        val a = banded.as("a")
        val b = banded.as("b")
        a.join(b, col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
            col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      } else
        // the non-lossy hot-bucket path: same pairs, spread over `salts`
        // reducers (see Skew.saltedPairs)
        graft.operators.Skew
          .saltedPairs(banded, Seq("band", "chunk"), "id", salts,
            payload = Seq("simhash"))
          .withColumnRenamed("simhash_a", "sig_a")
          .withColumnRenamed("simhash_b", "sig_b")
    rawPairs
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hammingDist(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Sub-document (chunk-level) cross-corpus dedup — the CCNet/RefinedWeb
    * paragraph-dedup signal, at token-chunk granularity since the corpus
    * has no paragraph breaks. Each document is cut into non-overlapping
    * `chunkSize`-token chunks; a chunk is *duplicated* when its hash occurs
    * more than once corpus-wide. Returns per-doc
    * (id, n_chunks, dup_chunks, dup_ratio, keep) where keep = dup_ratio <
    * maxDupRatio. Docs with no tokens produce no row (no chunks → no
    * signal), matching tokenChunks.
    *
    * Shape at scale: the shuffle carries (chunk_hash, id) fixed-width rows
    * — never chunk text. Occurrence counting and the count join are both
    * keyed on chunk_hash, so the join reuses the aggregation's
    * partitioning; the per-doc rollup is one more hash aggregate on id. */
  def chunkDupStats(docs: DataFrame, textCol: String, idCol: String,
                    chunkSize: Int, maxDupRatio: Double): DataFrame = {
    val chunks = TextAnalysis.tokenChunks(docs, textCol, idCol,
      chunkSize, chunkSize).select(col("id"), col("chunk_hash"))
    val occ = chunks.groupBy("chunk_hash").agg(count(lit(1)).as("n_occ"))
    chunks.join(occ, "chunk_hash")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("dup_ratio",
        col("dup_chunks").cast("double") / col("n_chunks"))
      .withColumn("keep", col("dup_ratio") < maxDupRatio)
  }

  /** Every length-`k` token window of every document, positioned and
    * hashed: (id, pos, h) with h = md5 of the space-joined window.
    * The gram stream behind [[duplicatedSpans]]. */
  private[graft] def tokenGramHashes(docs: DataFrame, textCol: String,
                                     idCol: String, k: Int): DataFrame =
    // fan out before the tokenize+hash pipeline (r22): a single-file
    // corpus arrives as ONE scan partition, serializing the gram fill
    // of the whole span/novelty family on one task — the documented
    // Par.fanOut regime (no-op when the scan is already parallel)
    Par.fanOut(docs, docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("toks")) - k),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(col("toks"), i + lit(1), lit(k))))
            .as("h")))).as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.h").as("h"))

  /** Cross-document duplicated token spans — the ExactSubstr dedup
    * shape (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"; the deduplicate-text-datasets tool):
    * every length-`k` token window is hashed, a window whose hash
    * occurs in MORE THAN ONE distinct document marks its token range,
    * and per document the overlapping marks merge into maximal
    * [span_start, span_end) spans (end exclusive, token offsets into
    * the normalized tokenization). Within-document self-repetition is
    * deliberately NOT flagged (that is `repetitionStats`' signal);
    * this operator finds boilerplate shared ACROSS documents —
    * licenses, headers, templated paragraphs — at exact-match
    * granularity finer than whole-doc or chunk dedup.
    *
    * Shape at scale: the gram stream is (id, pos, md5) — fixed-width
    * rows, ~tokens-per-doc of them, never text (same cost family as
    * TF-IDF and chunk stats). The duplicated-hash set is one
    * gram-keyed aggregation, the mark join keys on the same hash, and
    * span merging is a per-doc sort over only the DUPLICATED positions
    * — a small fraction of the corpus. The gram stream feeds BOTH the
    * aggregation and the join probe, so it is PERSISTED once
    * (MEMORY_AND_DISK — at 100 TB it spills, and the rows are
    * fixed-width) instead of re-evaluating the tokenize+hash subtree
    * per consumer; measured 5× on the 500 k-doc removal probe
    * (SCALE.md). */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
                      k: Int): DataFrame =
    duplicatedSpansGrams(
      tokenGramHashes(docs, textCol, idCol, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), k)

  /** [[duplicatedSpans]] over a precomputed (and ideally persisted)
    * gram table — the composition hot path: a curation pipeline that
    * also runs novelty scoring or contamination hands ONE gram table
    * to every consumer, paying tokenize+hash once per corpus. */
  private[graft] def duplicatedSpansGrams(grams: DataFrame,
                                          k: Int): DataFrame =
    mergeMarks(grams.join(dupHashes(grams), "h"), k)

  /** The duplicate criterion, shared by batch and incremental span
    * dedup: hashes carried by MORE THAN ONE distinct doc of `grams`. */
  private def dupHashes(grams: DataFrame): DataFrame =
    grams.groupBy("h")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") > 1).select("h")

  /** Island-merge of duplicate marks (id, pos) into maximal spans:
    * a mark starts a new span iff it begins past the furthest end seen
    * so far. Returns (id, span_start, span_end, span_tokens). */
  private def mergeMarks(hits: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy("pos")
    hits.select(col("id"), col("pos"), (col("pos") + k).as("e"))
      .withColumn("pme", max(col("e"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pme").isNull || col("pos") > col("pme"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy("id", "island")
      .agg(min("pos").as("s"), max("e").as("e"))
      .select(col("id"), col("s").cast("long").as("span_start"),
        col("e").cast("long").as("span_end"),
        (col("e") - col("s")).cast("long").as("span_tokens"))
  }

  /** Cut every [[duplicatedSpans]] span out of the text: tokens covered
    * by any span are dropped, survivors re-join on single spaces.
    * Returns (id, clean_text, n_tokens, n_removed) for EVERY input doc
    * (docs with no duplicated span pass through with n_removed = 0).
    *
    * Shape at scale: spans collapse to a per-doc array (a handful of
    * (start, end) pairs) broadcast back onto the token arrays by id —
    * the surgery itself is a narrow per-row map, no second text
    * shuffle. The detection's gram table is persisted (see
    * [[duplicatedSpans]]), so the surgery re-derives nothing: the
    * measured 500 k-doc removal cost is detection + one narrow map,
    * not a second tokenize+hash of the corpus. */
  def removeDuplicatedSpans(docs: DataFrame, textCol: String,
                            idCol: String, k: Int): DataFrame =
    removeDuplicatedSpansGrams(docs, textCol, idCol,
      tokenGramHashes(docs, textCol, idCol, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), k)

  /** [[removeDuplicatedSpans]] over a precomputed (and ideally
    * persisted) gram table — see [[duplicatedSpansGrams]]. */
  private[graft] def removeDuplicatedSpansGrams(docs: DataFrame,
      textCol: String, idCol: String, grams: DataFrame,
      k: Int): DataFrame =
    cutSpans(docs, textCol, idCol, duplicatedSpansGrams(grams, k))

  /** Token surgery shared by the batch and incremental span dedup:
    * drop every token of `docs` covered by a `spans` row, re-join
    * survivors on single spaces. */
  private def cutSpans(docs: DataFrame, textCol: String, idCol: String,
                       spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"),
        sum("span_tokens").as("n_removed"))
    val noSpans = array().cast(
      "array<struct<span_start:bigint,span_end:bigint>>")
    docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        concat_ws(" ", filter(col("toks"), (_, i) =>
          !exists(coalesce(col("spans"), noSpans),
            s => i >= s("span_start") && i < s("span_end"))))
          .as("clean_text"),
        coalesce(size(col("toks")), lit(0)).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** WITHIN-document repeated token spans — the self-repetition
    * complement of [[duplicatedSpans]]: the SECOND and later
    * occurrences of any length-`k` window that repeats inside the same
    * document mark their ranges; overlapping marks merge into maximal
    * spans. The first WINDOW of each repeat is never marked, but a
    * stutter whose repeat period is shorter than `k` produces later
    * marks that overlap into the first occurrence's tokens — "a a a a
    * a a" at k=5 trims to "a", not to one full 5-token copy (pinned in
    * spec). Cross-document sharing is NOT flagged here — that is
    * [[duplicatedSpans]]' contract; this one catches looping/
    * stuttering text and repeated in-document boilerplate at
    * exact-match granularity, where the Gopher-style repetition RATIOS
    * only gate whole documents.
    *
    * Shape at scale: embarrassingly per-document — the only shuffle
    * keys on (id, h) for the occurrence numbering, then on id for the
    * island merge; nothing is corpus-global. */
  def selfRepeatedSpans(docs: DataFrame, textCol: String, idCol: String,
                        k: Int): DataFrame = {
    val grams = tokenGramHashes(docs, textCol, idCol, k)
    val w = Window.partitionBy("id", "h").orderBy("pos")
    mergeMarks(grams.withColumn("occ", row_number().over(w))
      .filter(col("occ") > 1).select("id", "pos"), k)
  }

  /** Cut every [[selfRepeatedSpans]] span out of the text — same
    * surgery and output shape as [[removeDuplicatedSpans]]:
    * (id, clean_text, n_tokens, n_removed) for every input doc. */
  def trimSelfRepeats(docs: DataFrame, textCol: String, idCol: String,
                      k: Int): DataFrame =
    cutSpans(docs, textCol, idCol, selfRepeatedSpans(docs, textCol, idCol, k))

  /** Per-document n-gram novelty: the fraction of a doc's length-`k`
    * token windows that occur NOWHERE else in the corpus (other docs OR
    * elsewhere in the same doc) — the "prioritize novel content"
    * curation signal: 1.0 = fully novel, 0.0 = every window appears
    * somewhere else. Returns (id, n_grams, n_novel, novelty) for every
    * doc with at least `k` tokens; duplicatedSpans/selfRepeatedSpans
    * LOCATE the repeats, this SCORES docs by them for ranking and mix
    * decisions.
    *
    * Shape at scale: one gram-keyed count aggregation + a same-key
    * join + a per-doc rollup — fixed-width (id, pos, md5) rows
    * throughout, the TF-IDF cost family. The gram table feeds both the
    * aggregation and the join probe, so it is persisted once (same
    * discipline as [[duplicatedSpans]]). */
  def gramNovelty(docs: DataFrame, textCol: String, idCol: String,
                  k: Int): DataFrame =
    gramNoveltyGrams(
      tokenGramHashes(docs, textCol, idCol, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** [[gramNovelty]] over a precomputed gram table — see
    * [[duplicatedSpansGrams]] for why composition callers share one. */
  private[graft] def gramNoveltyGrams(grams: DataFrame): DataFrame = {
    val occ = grams.groupBy("h").agg(count(lit(1)).as("n_occ"))
    grams.join(occ, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_occ") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams"))
  }

  /** The distinct k-gram hashes of a corpus/batch — the gram-index
    * delta an incremental span-dedup appends after curating a batch. */
  def batchGramHashes(docs: DataFrame, textCol: String, idCol: String,
                      k: Int): DataFrame =
    tokenGramHashes(docs, textCol, idCol, k).select("h").distinct()

  /** Incremental [[removeDuplicatedSpans]] against a persistent gram
    * index: a k-gram window is duplicated when its hash occurs in more
    * than one distinct doc of THIS batch, or in ANY earlier batch (the
    * index, rows (h)). Earlier batches' published docs are immutable —
    * their copy of the boilerplate stays published; the current
    * batch's copies are cut. That is [[incrementalExactDedup]]'s
    * keep-first asymmetry pushed down to span granularity. Returns
    * (id, clean_text, n_tokens, n_removed) for every batch doc;
    * append [[batchGramHashes]] of the batch to the index afterwards.
    *
    * Shape at scale: the index is gram-hash-sized (one 32-hex md5 per
    * distinct k-gram ever seen) — big, but fixed-width and join-keyed;
    * at scale store it bucketed on h and use
    * [[incrementalDuplicatedSpansBucketed]], which probes the index in
    * place instead of shuffling it — exactly like the fingerprint
    * index's [[incrementalExactDedupBucketed]]. */
  def incrementalDuplicatedSpans(batch: DataFrame, textCol: String,
                                 idCol: String, index: DataFrame,
                                 k: Int): DataFrame =
    incrementalDuplicatedSpansGrams(batch, textCol, idCol,
      tokenGramHashes(batch, textCol, idCol, k), index, k)

  /** [[incrementalDuplicatedSpans]] over a precomputed (and ideally
    * persisted) gram table — the streaming hot path hands the SAME
    * grams to the span cut and to the index delta, so tokenize+hash
    * runs once per batch instead of once per consumer. */
  private[graft] def incrementalDuplicatedSpansGrams(
      batch: DataFrame, textCol: String, idCol: String,
      grams: DataFrame, index: DataFrame, k: Int): DataFrame = {
    val dup = dupHashes(grams).union(index.select(col("h"))).distinct()
    cutSpans(batch, textCol, idCol, mergeMarks(grams.join(dup, "h"), k))
  }

  /** Bucketed-index variant of [[incrementalDuplicatedSpans]] — the
    * production lookup shape when the gram index dwarfs the batch,
    * exactly like [[incrementalExactDedupBucketed]] for fingerprints:
    * with the index stored bucketed on `h` (`Warehouse.writeBucketed`),
    * the history probe reads the index IN PLACE — only the batch's
    * grams shuffle into the bucket partitioning, and the index (one md5
    * per distinct k-gram ever seen, the engine's LARGEST index) never
    * crosses the wire.
    *
    * The plan shape differs from the unbucketed form to make that
    * possible: instead of folding the index into the duplicate-hash set
    * (a union+distinct that would re-shuffle the index) and joining the
    * grams back against it, BOTH duplicate criteria evaluate in the
    * index's bucket partitioning in one pass — a LEFT join of the batch
    * grams against the bucketed table (history hit = matched), then a
    * window over `h` where `min(id) ≠ max(id)` decides "more than one
    * distinct batch doc" without a count-distinct aggregation. The
    * window reuses the join's output partitioning, so the batch grams
    * shuffle exactly once and the gram table needs no persist (it has
    * one consumer); identical surgery to the unbucketed path is
    * spec-pinned. */
  def incrementalDuplicatedSpansBucketed(batch: DataFrame, textCol: String,
                                         idCol: String, indexTable: String,
                                         k: Int): DataFrame = {
    val w = Window.partitionBy("h")
    val marks = tokenGramHashes(batch, textCol, idCol, k)
      .join(batch.sparkSession.table(indexTable)
        .select(col("h"), lit(true).as("_hist")), Seq("h"), "left")
      .withColumn("_dup",
        col("_hist").isNotNull ||
          min(col("id")).over(w) =!= max(col("id")).over(w))
      .filter(col("_dup")).select("id", "pos")
    cutSpans(batch, textCol, idCol, mergeMarks(marks, k))
  }

  // NOTE — a Bloom-fronted history probe for this index was built,
  // measured, and REJECTED (SCALE.md "Bloom front for the gram index:
  // measured and rejected"): the in-batch duplicate criterion forces
  // the batch grams through an h-keyed exchange regardless, so the
  // only cost a bloom could save is moving the index — which the
  // bucketed layout already eliminates outright — while a gram-index-
  // sized bloom (millions of entries) costs seconds per stage as a
  // plan-embedded literal. Spark's own runtime-filter caps (8 MB /
  // 4 M items) encode the same economics. Blooms stay where they
  // measurably win: the fact-to-dim prefilter ahead of a shuffle join
  // ([[graft.operators.BloomPrune]], `j_bloom_prefilter_join`).

  /** Benchmark decontamination: flag training documents sharing any
    * distinct word n-gram with a held-out test set. Returns one row per
    * contaminated train doc: (id, n_grams, n_shared, contamination) with
    * contamination = n_shared / n_grams over the doc's distinct grams.
    * Docs with fewer than n tokens have no grams and cannot be flagged.
    *
    * Shape at scale: the test set (a benchmark) is orders of magnitude
    * smaller than the corpus — its distinct gram set is broadcast, so the
    * corpus-side gram stream is filtered map-side with NO shuffle of train
    * grams; only the surviving (id, gram-hash) pairs aggregate. Grams join
    * on their md5, fixed width. */
  /** [[ngramContamination]] over a shared POSITIONED gram table (the
    * [[duplicatedSpansGrams]] family): per-doc distinct grams derive
    * from the stream, `docFlags` is (id, is_test). Gram hashes are
    * md5 of the space-joined window on both paths ([[tokenGramHashes]]
    * vs md5(shingle)), so results are identical at equal gram size —
    * this is what lets a composed curation pipeline pay tokenization
    * once across spans/novelty/contamination
    * ([[Curate.gramPipeline]]). */
  private[graft] def ngramContaminationGrams(grams: DataFrame,
                                             docFlags: DataFrame): DataFrame = {
    val dg = grams.select("id", "h").distinct().join(docFlags, "id")
    val testGrams = dg.filter(col("is_test")).select("h").distinct()
    // one LEFT broadcast join keeps every train gram map-side (hit or
    // not), so a single hash aggregation yields BOTH the per-doc total
    // and the shared count — no corpus-wide window shuffle ahead of the
    // test filter, preserving the operator family's documented "train
    // grams never shuffle before the broadcast probe" shape
    dg.filter(!col("is_test"))
      .join(broadcast(testGrams.withColumn("_hit", lit(true))), Seq("h"),
        "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .withColumn("contamination",
        col("n_shared").cast("double") / col("n_grams"))
      .select("id", "n_grams", "n_shared", "contamination")
  }

  def ngramContamination(docs: DataFrame, textCol: String, idCol: String,
                         isTest: Column, n: Int): DataFrame = {
    val grams = Par.fanOut(docs)
      .select(col(idCol).as("id"), isTest.as("is_test"),
        array_distinct(TextAnalysis.shingles(col(textCol), n)).as("grams"))
      .filter(size(col("grams")) > 0)
    val exploded = grams.select(col("id"), col("is_test"),
        size(col("grams")).as("n_grams"), explode(col("grams")).as("g"))
      .select(col("id"), col("is_test"), col("n_grams"),
        md5(col("g").cast("binary")).as("gh"))
    val testGrams = exploded.filter(col("is_test"))
      .select("gh").distinct()
    exploded.filter(!col("is_test"))
      .join(broadcast(testGrams), "gh")
      .groupBy("id", "n_grams")
      .agg(count(lit(1)).as("n_shared")) // grams are distinct per doc already
      .withColumn("contamination",
        col("n_shared").cast("double") / col("n_grams"))
      .select("id", "n_grams", "n_shared", "contamination")
  }
}
