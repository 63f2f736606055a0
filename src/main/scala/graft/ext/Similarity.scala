package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (array<float>).
  *
  * Scale notes (100 TB):
  *  - The dot-product inner loop is a custom codegen Catalyst expression
  *    ([[graft.functions.DotProduct]]) — the declarative
  *    `aggregate(zip_with(...))` form is evaluated interpreted and is the
  *    bottleneck of every cosine workload (it made all-pairs scoring ~50x
  *    slower at sf0.1).
  *  - Norms are computed ONCE per vector in a narrow projection before any
  *    join, so the quadratic stage does exactly one dot product per pair.
  *  - `bruteForceTopK` broadcasts the (small) query set against the corpus
  *    — a map-side cross product scored inside codegen, then a per-query
  *    bounded top-k AGGREGATE (at most k rows per query per map partition
  *    cross the exchange; a rank window would shuffle and sort every
  *    scored pair). Cost O(|corpus| x |queries| x dim), embarrassingly
  *    parallel, no corpus shuffle. Right answer for <= thousands of queries.
  *  - `ivfTopK` is the scale path: corpus is pre-assigned to centroid
  *    cells (one pass), queries probe only their nearest `nProbe` cells —
  *    a bucket equi-join instead of a cross product. Cells should hold
  *    10^3-10^5 vectors at scale.
  *  - All accumulation is double, left-to-right, so scores are
  *    reproducible across engines.
  */
object Similarity {

  /** Dot product of two array<float|double> columns (codegen'd). */
  def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. Prefer the
    * precomputed-norm overload inside joins. */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(a, b, l2Norm(a), l2Norm(b))

  /** Cosine from precomputed norms — one dot product per evaluation. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))

  /** Brute-force cosine top-k: for every query vector, the k most similar
    * corpus vectors (self-matches excluded when ids collide). Deterministic
    * ordering: score desc, then corpus id asc. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c = Par.fanOut(corpus, par)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineWithNorms(col("cvec"), col("qvec"), col("cnorm"), col("qnorm")))
    rankCutTopK(scored, "query_id", "corpus_id", "cosine", k)
  }

  /** Per-group top-k rank cut — the shared tail of every ANN query
    * operator: keep the k best `scoreCol` rows per `groupCol`, ties
    * toward the smallest `payloadCol`, rank 1..k, returned as
    * (group, payload, score, rank). For integral payloads this is the
    * bounded [[graft.functions.TopKPairsDesc]] aggregate: a k-entry
    * heap per group that partial-merges MAP-SIDE, so at most k rows
    * per (group, map partition) cross the exchange and nothing sorts.
    * A rank WINDOW cannot partial-aggregate — it shuffles and sorts
    * EVERY scored candidate row (|corpus|×|queries| of them in the
    * brute-force operator), which is the difference between "top-k"
    * and "materialize the cross product" at 100 TB. Non-integral
    * payloads fall back to the window form (the heap keys payloads as
    * longs); same keep-set and order either way. */
  private def rankCutTopK(scored: DataFrame, groupCol: String,
                          payloadCol: String, scoreCol: String,
                          k: Int): DataFrame = {
    val pType = scored.schema(payloadCol).dataType
    val integral = pType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (integral) {
      scored.groupBy(groupCol)
        .agg(graft.functions.TopKPairsFunctions.topKPairsDesc(
          col(scoreCol), col(payloadCol), col(scoreCol), k).as("_tk"))
        .select(col(groupCol), posexplode(col("_tk")).as(Seq("_pos", "_s")))
        .select(col(groupCol),
          col("_s.payload").cast(pType).as(payloadCol),
          col("_s.carry").as(scoreCol), (col("_pos") + 1).as("rank"))
    } else {
      val w = Window.partitionBy(groupCol)
        .orderBy(col(scoreCol).desc, col(payloadCol).asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(groupCol), col(payloadCol), col(scoreCol), col("rank"))
    }
  }

  /** Near-duplicate vector pairs: all (a,b) with cosine >= threshold and
    * idA < idB, within an optional blocking column (at scale always block —
    * e.g. by LSH bucket or IVF cell — the unblocked variant is a broadcast
    * cross join, only viable while one copy of the corpus fits in an
    * executor).
    *
    * Without a block column this must NOT be an equi-join on a constant
    * key: a constant join key hashes every row to ONE shuffle partition —
    * a single task does all |V|^2 work regardless of cluster size. */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         blockCol: Option[String] = None): DataFrame = {
    val par = vectors.sparkSession.sparkContext.defaultParallelism
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
        blockCol.map(col).getOrElse(lit(0)).as("blk"))
      .withColumn("nrm", l2Norm(col("vec")))
    val a = Par.fanOut(base, par).as("a")
    val b = base.as("b")
    val joined = blockCol match {
      case Some(_) =>
        a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      case None =>
        a.crossJoin(broadcast(b)).filter(col("a.id") < col("b.id"))
    }
    joined
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineWithNorms(col("a.vec"), col("b.vec"), col("a.nrm"), col("b.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Semantic decontamination: for every training vector, the maximum
    * cosine to ANY eval/test vector plus a contaminated flag at
    * `threshold` — the embedding-space companion of
    * [[Dedup.ngramContamination]]: n-gram overlap catches verbatim test
    * leakage, this catches paraphrased or re-worded test material that
    * shares no surface n-grams. Returns
    * (id, nearest_eval_id, max_cosine, contaminated) for every training
    * vector; `nearest_eval_id` breaks cosine ties toward the smallest
    * eval id so the answer is deterministic.
    *
    * Scale shape: eval sets are small (10³–10⁵ rows), so the eval side
    * broadcasts with precomputed norms and the training corpus streams
    * through one codegen'd dot-product pass per eval vector — a
    * map-side max, no shuffle of the training side beyond the per-id
    * aggregate. An eval set too big to broadcast gets blocked by IVF
    * cell first (assignCells on both sides), same max within cells. */
  def semanticContamination(train: DataFrame, evalSet: DataFrame,
                            threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val par = train.sparkSession.sparkContext.defaultParallelism
    val t = Par.fanOut(train, par)
      .select(col(idCol).as("id"), col(vecCol).as("tv"))
      .withColumn("tn", l2Norm(col("tv")))
    val e = evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("ev"))
      .withColumn("en", l2Norm(col("ev")))
    t.crossJoin(broadcast(e))
      .withColumn("c",
        cosineWithNorms(col("tv"), col("ev"), col("tn"), col("en")))
      .groupBy("id")
      .agg(max(struct(col("c").as("mc"), (-col("eval_id")).as("nid"))).as("m"))
      .select(col("id"), (-col("m.nid")).as("nearest_eval_id"),
        col("m.mc").as("max_cosine"))
      .withColumn("contaminated", col("max_cosine") >= threshold)
  }

  /** The cell-blocked scale path of [[semanticContamination]], for eval
    * sets too big to broadcast: train vectors are assigned to their
    * nearest centroid cell, eval vectors probe their `nProbe` nearest
    * cells, and the max-cosine runs only within shared cells — a cell
    * equi-join instead of a broadcast cross join. Approximate in exactly
    * the IVF sense: a contaminating eval vector is by definition NEAR
    * the train vector, so it lands in the same or an adjacent probed
    * cell; raise `nProbe` to trade cost for recall. Train vectors in
    * cells no eval probes come back with max_cosine 0 and a NULL
    * nearest_eval_id (no contamination evidence near them), so the
    * output still covers every train row like the exact form. */
  def semanticContaminationBlocked(train: DataFrame, evalSet: DataFrame,
                                   cents: DataFrame, threshold: Double,
                                   nProbe: Int = 2,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding"): DataFrame = {
    val t = assignCells(train, cents, idCol, vecCol)
    val e = nearestCells(
        evalSet.select(col(idCol).as("eval_id"),
          col(vecCol).cast("array<double>").as("ev")),
        cents, "eval_id", "ev", nProbe)
      .withColumn("en", l2Norm(col("ev")))
    val scored = t.join(e, Seq("cell"))
      .withColumn("c",
        cosineWithNorms(col("v"), col("ev"), col("nrm"), col("en")))
      .groupBy("id")
      .agg(max(struct(col("c").as("mc"), (-col("eval_id")).as("nid"))).as("m"))
      .select(col("id"), (-col("m.nid")).as("nearest_eval_id"),
        col("m.mc").as("max_cosine"))
    t.select("id").join(scored, Seq("id"), "left")
      .select(col("id"), col("nearest_eval_id"),
        coalesce(col("max_cosine"), lit(0.0)).as("max_cosine"))
      .withColumn("contaminated", col("max_cosine") >= threshold)
  }

  /** Deterministic signed-random-projection hyperplanes (GAUSSIAN
    * components, fixed seed) — shared by the Spark operator and any
    * external oracle so LSH bucketing is engine-reproducible (embed the
    * same literals; Double.toString is shortest-round-trip so the values
    * parse back bit-identical).
    *
    * Gaussian, NOT Rademacher (±1): with ±1 entries there are only 2^dim
    * possible planes, and at low dim (e.g. 24-component activity
    * profiles) independently drawn planes are often near-collinear, so
    * signature bits are strongly CORRELATED — an r-bit band then matches
    * with probability far above the (1-θ/π)^r independence model and the
    * banded join blows up (measured on the 50k-user profiles probe:
    * 26.5M candidate pairs vs the ~bands·n=200k the sizing rule
    * predicts, with a 3314-member hot bucket). Gaussian entries make
    * each plane a uniformly random direction, giving independent bits
    * given the pair angle, which restores candidates ≈ bands·n. */
  def srpPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  /** SRP-LSH signature: bit j = sign(v . plane_j), as a bit string. */
  def srpSignature(vec: Column, planes: Array[Array[Double]]): Column =
    concat(planes.toIndexedSeq.map(p =>
      when(dot(vec, typedlit(p.toSeq)) >= 0.0, lit("1")).otherwise(lit("0"))): _*)

  /** Per-vector mean-centering for SIGNATURE computation only. Sign bits
    * discriminate only when the data straddles the hyperplanes: a
    * non-negative corpus (activity profiles, counts, TF vectors) lives in
    * one orthant, where ±1 hyperplanes with any entry imbalance give the
    * SAME bit to almost every vector — bands then collide en masse and
    * candidate generation degenerates toward all-pairs (measured: the
    * 15k-user profiles probe went super-linear before this fix).
    * Subtracting each vector's own component mean re-centers every row at
    * zero deterministically and per-row (no corpus statistics, so both
    * engines compute it bit-identically); exact scoring still uses the RAW
    * vectors. Sign-LSH then approximates the centered angle — the
    * Pearson-correlation geometry — which preserves near-identical pairs
    * (near-identical raw ⇒ near-identical centered) and is recall-oracled
    * (`x_profile_similarity_srp_recall`). Pass the mean as its own column
    * (via [[vecMean]]) so it is computed once per row, not once per
    * element inside the transform lambda. */
  def centerVec(vec: Column, mean: Column): Column =
    transform(vec, x => x.cast("double") - mean)

  /** Arithmetic mean of a vector's components — the in-order left-fold
    * sum divided by length, matching DuckDB's `list_avg` bit-for-bit so
    * centered signatures agree across engines. */
  def vecMean(vec: Column): Column =
    aggregate(vec, lit(0.0), (a, b) => a + b.cast("double")) / size(vec)

  /** Johnson–Lindenstrauss random projection: maps a `dim`-component
    * embedding to `outDim` components, component j = v · plane_j /
    * sqrt(outDim), with the same deterministic seeded Gaussian plane
    * family as [[srpPlanes]] — so an external oracle embedding the same
    * literals reproduces the projection bit-for-bit. The 1/sqrt(outDim)
    * scale makes expected pairwise SQUARED DISTANCE equal to the
    * original (JL lemma); relative distortion concentrates at
    * ~sqrt(8/outDim) (spec-pinned on real embeddings).
    *
    * Shape at scale: a narrow per-row map — no shuffle, no UDF, each
    * component one codegen'd [[dot]]. Project once, persist the narrow
    * columns, and every downstream shuffle (ANN candidate generation,
    * semantic-dedup scoring, drift centroids) moves outDim/dim of the
    * bytes. Use where approximate geometry suffices; exact reranking
    * still reads the original vectors by id. */
  def jlProject(vec: Column, outDim: Int, dim: Int,
                seed: Long = 42L): Column =
    array(jlProjectCols(vec, outDim, dim, seed): _*)

  /** [[jlProject]] as one Column PER COMPONENT — for emitting the
    * projection as scalar columns. Project the components directly
    * rather than `element_at(jlProject(...), j)`: ElementAt over a
    * CreateArray is NOT simplified by Catalyst (no
    * SimplifyExtractValueOps rewrite), so the extract form re-evaluates
    * the whole outDim-dot array per component — outDim² dots per row
    * (measured 256 vs 16 in the projection query's plan). */
  def jlProjectCols(vec: Column, outDim: Int, dim: Int,
                    seed: Long = 42L): Seq[Column] = {
    val planes = srpPlanes(outDim, dim, seed)
    val s = math.sqrt(outDim.toDouble)
    planes.toIndexedSeq.map(p => dot(vec, typedlit(p.toSeq)) / s)
  }

  /** The scale path for cosine near-duplicate pairs: SRP-LSH banding.
    * Vectors sharing ANY band of their sign signature become candidates
    * (shuffle of (id, band, chunk) tuples only), then exact cosine
    * verifies. Approximate by construction — recall is
    * 1-(1-p^rowsPerBand)^bands with p = 1 - theta/pi — but candidate
    * generation is linear in |V|, not quadratic. */
  def srpNearDups(vectors: DataFrame, threshold: Double,
                  numPlanes: Int = 16, rowsPerBand: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  seed: Long = 42L, dim: Int = -1): DataFrame =
    srpScoredCandidates(vectors, numPlanes, rowsPerBand, idCol, vecCol,
        seed, dim)
      .filter(col("cosine") >= threshold)

  /** SRP-LSH banded candidate pairs scored with EXACT cosine:
    * (id_a, id_b, cosine) with id_a < id_b, one row per pair sharing any
    * band. The shared core of [[srpNearDups]] (threshold filter) and
    * [[srpTopK]] (per-id rank cut). Pass `dim` when the vector width is
    * statically known — it skips a `first()` probe of the input, which
    * matters when `vectors` is itself a derived (aggregated) frame. */
  private def srpScoredCandidates(vectors: DataFrame, numPlanes: Int,
                                  rowsPerBand: Int, idCol: String,
                                  vecCol: String, seed: Long,
                                  dim: Int = -1): DataFrame = {
    val par = vectors.sparkSession.sparkContext.defaultParallelism
    val d =
      if (dim > 0) dim
      else vectors.select(size(col(vecCol))).first().getInt(0)
    val planes = srpPlanes(numPlanes, d, seed)
    val base = Par.fanOut(vectors, par)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
      // signatures over per-vector CENTERED components (see [[centerVec]]:
      // one-orthant corpora otherwise give near-constant sign bits and
      // candidate generation degenerates toward all-pairs); scoring below
      // stays exact cosine over the raw vectors
      .withColumn("vmean", vecMean(col("vec")))
      .withColumn("sig",
        srpSignature(centerVec(col("vec"), col("vmean")), planes))
      .drop("vmean")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sig rides along (16 chars — negligible shuffle weight) so the
    // self-join can emit each pair from its FIRST shared band only: the
    // standard LSH dedup trick, replacing a dropDuplicates exchange over
    // the candidate set with a constant-width filter in the join stage
    val banded = base.select(col("id"), col("sig"),
      posexplode(array((0 until numPlanes / rowsPerBand).map(b =>
        substring(col("sig"), b * rowsPerBand + 1, rowsPerBand)): _*))
        .as(Seq("band", "chunk")))
    val a = banded.as("a")
    val b = banded.as("b")
    // true iff some band EARLIER than the joined one also matches — then
    // this (pair, band) row is a duplicate emission and is dropped
    val earlierBandMatches = (0 until numPlanes / rowsPerBand).map(j =>
      lit(j) < col("a.band") &&
        substring(col("a.sig"), j * rowsPerBand + 1, rowsPerBand) ===
          substring(col("b.sig"), j * rowsPerBand + 1, rowsPerBand))
      .reduce(_ || _)
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .filter(!earlierBandMatches)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    pairs
      .join(base.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cosine", cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Approximate per-vector top-k neighbors via SRP-LSH banding — the
    * SCALE replacement for any all-pairs "top-k most similar" query
    * (e.g. user-profile similarity): candidate generation is one banded
    * signature join, scoring touches candidate pairs only, and the rank
    * cut runs per source id. Returns (id, rank, other_id, cosine), rank
    * 1..k among SRP candidates — vectors whose true neighbors share no
    * band get fewer than k rows (the recall trade). Ordering is pinned
    * by ROUND(cosine, 6) desc + other_id asc so results are
    * engine-reproducible.
    *
    * SIZING RULE (what makes this linear): each band has 2^rowsPerBand
    * buckets and the bucket self-join costs Σ bucket², so candidates ≈
    * bands · n²/2^rowsPerBand. Linearity in n requires 2^rowsPerBand ≳ n
    * — set rowsPerBand ≈ log₂(n) (and numPlanes = bands·rowsPerBand) so
    * per-bucket occupancy stays O(1) and candidates ≈ bands·n. At small
    * n the binding constraint is recall instead: more, shorter bands
    * (e.g. 8×4 at a few hundred vectors). SCALE.md "Profile-similarity
    * crossover" measures it vs the exact all-pairs arm under this rule. */
  def srpTopK(vectors: DataFrame, k: Int,
              numPlanes: Int = 16, rowsPerBand: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L, dim: Int = -1): DataFrame =
    srpTopKImpl(vectors, k, numPlanes, rowsPerBand, idCol, vecCol, seed,
      dim, forceWindowRank = false)

  /** [[srpTopK]] body; `forceWindowRank` exists so the spec can pin the
    * aggregate rank cut against the window formulation on identical
    * input (identical id type and therefore identical tie-break order). */
  private[graft] def srpTopKImpl(vectors: DataFrame, k: Int,
              numPlanes: Int, rowsPerBand: Int,
              idCol: String, vecCol: String,
              seed: Long, dim: Int, forceWindowRank: Boolean): DataFrame = {
    val sc = srpScoredCandidates(vectors, numPlanes, rowsPerBand, idCol,
      vecCol, seed, dim)
    // candidates are undirected (id_a < id_b); the per-id view needs both
    // directions. Explode each scored row into its two directions in ONE
    // pass — a union of two projections of `sc` would compute the whole
    // banding+scoring pipeline twice (the plan is duplicated, not reused)
    val sym = sc
      .select(explode(array(
        struct(col("id_a").as("id"), col("id_b").as("other_id"), col("cosine")),
        struct(col("id_b").as("id"), col("id_a").as("other_id"), col("cosine"))))
        .as("s"))
      .select(col("s.id").as("id"), col("s.other_id").as("other_id"),
        col("s.cosine").as("cosine"))
    val ord = round(col("cosine") + lit(1e-9), 6)
    val idType = vectors.schema(idCol).dataType
    val integralId = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (integralId && !forceWindowRank) {
      // rank cut via the bounded top-k aggregate, NOT a rank window: a
      // window cannot partial-aggregate, so all 2×candidates rows cross
      // the exchange and sort per partition; the aggregate's heap merges
      // map-side (≤ k rows per id per map partition on the wire, no
      // sort). Keep-set and order are bit-identical to the window form —
      // same (rounded-cosine desc, other_id asc) total order, and
      // other_id is unique within each id group by construction.
      sym.groupBy("id")
        .agg(graft.functions.TopKPairsFunctions.topKPairsDesc(
          ord, col("other_id"), col("cosine"), k).as("tk"))
        .select(col("id"), posexplode(col("tk")).as(Seq("pos", "s")))
        .select(col("id"), (col("pos") + 1).as("rank"),
          col("s.payload").cast(idType).as("other_id"),
          col("s.carry").as("cosine"))
    } else {
      // non-integral ids: the aggregate's heap keys payloads as longs,
      // so fall back to the window formulation (same result, full-width
      // shuffle — acceptable only off the scale path)
      val w = Window.partitionBy("id").orderBy(ord.desc, col("other_id").asc)
      sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("id"), col("rank"), col("other_id"), col("cosine"))
    }
  }

  /** Mean vector per group — cheap centroids for IVF (e.g. per label or
    * per LSH bucket). One explode + one hash agg; centroid components are
    * rounded so downstream scoring is engine-reproducible. */
  def centroids(vectors: DataFrame, groupCol: String, dim: Int,
                vecCol: String = "embedding", roundTo: Int = 6): DataFrame =
    meanByCell(vectors.select(col(groupCol).as("cell"), col(vecCol).as("v")),
      roundTo)

  /** Mean vector per `cell` over a (cell, v) frame. */
  private def meanByCell(df: DataFrame, roundTo: Int): DataFrame =
    df.select(col("cell"), posexplode(col("v")).as(Seq("pos", "comp")))
      .groupBy("cell", "pos").agg(avg(col("comp").cast("double")).as("m"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), round(col("m"), roundTo).as("m")))),
        s => s.getField("m")).as("centroid"))

  /** The `n` nearest centroid cells for every vector in `df`
    * (deterministic tie-break: cosine desc, then cell id asc). Shared
    * by IVF assignment, probing, and Lloyd.
    *
    * ZERO-shuffle formulation: the centroid table is tiny (cells ×
    * dim), so it collapses to ONE array row that broadcasts onto `df`,
    * and each vector picks its n best cells inside a per-row
    * `array_sort` — the scored candidates never leave the row. The
    * previous crossJoin + rank-window form shuffled |df| × |cells|
    * scored rows through the window exchange; at assignment time
    * (every corpus vector × every cell) that was the single widest
    * shuffle in the IVF build. Centroid norms are precomputed once in
    * the collapsed array and the vector norm once per row, so each
    * (row, cell) costs exactly one dot product. `outId` is unused but
    * kept so call sites document which id the output is keyed by. */
  private def nearestCells(df: DataFrame, cents: DataFrame, outId: String,
                           vec: String, n: Int): DataFrame = {
    val centsArr = cents.agg(collect_list(
      struct(col("cell"), col("centroid"),
        l2Norm(col("centroid")).as("cnrm"))).as("_cents"))
    // the n-cut is posexplode + a `_pos < n` FILTER (not `slice`) on
    // purpose: a probe plan whose only predicates are join conditions
    // never triggers dynamic partition pruning on a stored index —
    // PartitionPruning requires a selective Filter node on the
    // filtering side, which the rank filter of the old window form
    // provided and this filter preserves (ExtSpec pins the DPP
    // subquery). Cost is generating |cells| rows per vector before
    // the cut — row-local, nothing shuffles either way.
    df.crossJoin(broadcast(centsArr))
      .withColumn("_vnrm", l2Norm(col(vec)))
      .withColumn("_sc", array_sort(
        transform(col("_cents"), c =>
          struct(cosineWithNorms(col(vec), c.getField("centroid"),
              col("_vnrm"), c.getField("cnrm")).as("csim"),
            c.getField("cell").as("cell"))),
        (a, b) =>
          when(a.getField("csim") > b.getField("csim"), -1)
            .when(a.getField("csim") < b.getField("csim"), 1)
            .when(a.getField("cell") < b.getField("cell"), -1)
            .when(a.getField("cell") > b.getField("cell"), 1)
            .otherwise(0)))
      .select(col("*"), posexplode(col("_sc")).as(Seq("_pos", "_c")))
      .filter(col("_pos") < n)
      .withColumn("cell", col("_c").getField("cell"))
      .drop("_cents", "_vnrm", "_sc", "_pos", "_c")
  }

  /** Lloyd refinement of IVF centroids: `iters` rounds of
    * (assign-to-nearest-cell, recompute cell means). Seed centroids (e.g.
    * label means) converge toward true k-means cells, which tightens cell
    * boundaries and lifts probe recall. Each round is one broadcast-scored
    * assignment plus one hash aggregation — linear in |vectors|, no
    * pairwise work; the centroid table itself stays tiny (k x dim).
    * Components are rounded per round so the trajectory is
    * engine-reproducible (the DuckDB oracle mirrors the same rounds).
    * Cells that lose every member disappear (standard Lloyd behavior). */
  def lloydRefine(vectors: DataFrame, seed: DataFrame, iters: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  roundTo: Int = 6): DataFrame = {
    var cents = seed
    for (_ <- 0 until iters) {
      val assigned = nearestCells(
        vectors.select(col(idCol).as("id"), col(vecCol).as("v")),
        cents, "id", "v", 1)
      cents = meanByCell(assigned.select(col("cell"), col("v")), roundTo)
    }
    cents
  }

  /** SemDeDup-style semantic deduplication: assign every vector to its
    * nearest centroid cell, then compare pairs ONLY within a cell and
    * flag the higher-id member of every pair with cosine >= threshold.
    * Returns one row per dropped vector: (vec_id, cell, dup_of = lowest
    * duplicate partner id, n_dups, max_cos).
    *
    * Shape at scale: this is the published SemDeDup trick — clustering
    * bounds the quadratic stage to within-cell pairs, so with k cells of
    * ~n/k members the pair count drops k-fold; cells should be sized
    * (via k) so a cell's pairs fit one task. Assignment is a broadcast
    * join; the pair join is an equi-join on cell id. */
  def semanticDedup(vectors: DataFrame, cents: DataFrame, threshold: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val assigned = nearestCells(
      vectors.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
      cents, "id", "v", 1)
      .withColumn("nrm", l2Norm(col("v")))
      .filter(col("nrm") > 0.0)
    val a = assigned.select(col("cell"), col("id").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("ia") < col("ib"))
      .withColumn("c", cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("c") >= threshold)
      .groupBy(col("ib").as("vec_id"), col("cell"))
      .agg(min(col("ia")).as("dup_of"), count(lit(1)).as("n_dups"),
        max(col("c")).as("max_cos"))
  }

  /** IVF-style ANN: assign every corpus vector to its nearest centroid cell
    * (one scored broadcast join against the tiny centroid table), then for
    * each query probe the `nProbe` nearest cells and rank only vectors in
    * those cells. Returns (query_id, corpus_id, cosine, rank<=k). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
              k: Int, nProbe: Int = 1, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val assigned = nearestCells(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec")),
      cents, "corpus_id", "cvec", 1)
      .withColumn("cnorm", l2Norm(col("cvec")))
    val probed = nearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")),
      cents, "query_id", "qvec", nProbe)
      .withColumn("qnorm", l2Norm(col("qvec")))
    // probe side is |queries| x nProbe rows — always broadcastable by
    // design; the hint is explicit because the probe plan's explode
    // leaves its size estimate unknown (auto-broadcast would skip it,
    // degrading to a sort-merge join and losing DPP on a stored index)
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineWithNorms(col("cvec"), col("qvec"), col("cnorm"), col("qnorm")))
    rankCutTopK(scored, "query_id", "corpus_id", "cosine", k)
  }

  /** Assign every vector to its nearest centroid cell — the STORABLE form
    * of an IVF index: (id, cell, v: array<double>, nrm) rows, one per
    * vector. This is what a persistent ANN index holds: at 100 TB the
    * table is written partitioned on `cell`
    * ([[writeIvfIndexPartitioned]]) so a probe's scan dynamically prunes
    * to the probed cells' directories; the streaming ingest
    * ([[graft.streaming.StreamingPipeline.ivfIngestBatch]]) appends one delta
    * of these rows per micro-batch. Assignment is stateless per vector,
    * so incrementally-built and batch-built indexes are row-identical. */
  def assignCells(vectors: DataFrame, cents: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    nearestCells(
      vectors.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")),
      cents, "id", "v", 1)
      .withColumn("nrm", l2Norm(col("v")))
      .select(col("id"), col("cell"), col("v"), col("nrm"))

  /** [[ivfTopK]] answered from a PRE-BUILT index (the stored
    * [[assignCells]] table) — the history side is never rescanned or
    * re-assigned: queries probe their `nProbe` nearest cells and the
    * probe equi-joins the index on `cell`. With the index bucketed on
    * cell, the join prunes to the probed cells' buckets. */
  def ivfTopKIndexed(index: DataFrame, queries: DataFrame, cents: DataFrame,
                     k: Int, nProbe: Int = 1, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val probed = nearestCells(
      queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec")),
      cents, "query_id", "qvec", nProbe)
      .withColumn("qnorm", l2Norm(col("qvec")))
    val scored = index
      .select(col("id").as("corpus_id"), col("cell"), col("v").as("cvec"),
        col("nrm").as("cnorm"))
      // explicit broadcast: |queries| x nProbe rows, and DPP on the
      // stored index's cell partitions reuses the broadcast for free
      .join(broadcast(probed), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineWithNorms(col("cvec"), col("qvec"), col("cnorm"), col("qnorm")))
    rankCutTopK(scored, "query_id", "corpus_id", "cosine", k)
  }

  /** Persist a stored index ([[assignCells]] or [[pqIndex]]) hive-
    * partitioned on `cell` — the 100 TB read path: a probe joins the
    * index on its PARTITION column against the (tiny, broadcast) probe
    * set, so Spark's dynamic partition pruning turns the scan into
    * "read only the probed cells' directories". With k cells sized
    * 10^3-10^5 vectors, an nProbe-cell query touches nProbe/k of the
    * index regardless of corpus size. ExtSpec pins the pruning
    * subquery's presence in the physical plan. */
  def writeIvfIndexPartitioned(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Build the storable IVF-PQ index: (id, cell, code0..code{m-1}) — the
    * coarse IVF cell from [[assignCells]] plus the vector's product-
    * quantization codes ([[Quantize.pqCodes]], same centroid table sliced
    * per subspace as the sub-codebook). This is the billion-scale ANN
    * index shape: dim floats per vector become one cell id + m small
    * ints (~dim/8 bytes at m = dim/8), so the whole index fits a
    * fraction of the corpus footprint and [[ivfPqTopK]] never touches
    * raw vectors at query time. */
  def pqIndex(vectors: DataFrame, cents: DataFrame, m: Int, dim: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignCells(vectors, cents, idCol, vecCol)
      .select(col("id"), col("cell"))
      .join(Quantize.pqCodes(vectors, cents, m, dim, idCol, vecCol)
        .drop("recon_mse"), Seq("id"))

  /** IVF-PQ top-k with asymmetric distance computation (ADC): queries
    * probe their `nProbe` nearest cells, candidates come from the stored
    * [[pqIndex]] rows of those cells, and each candidate is scored purely
    * from its codes — approx cosine = Σ_j ⟨q_j, cb[code_j]⟩ / (|q| ·
    * √Σ_j |cb[code_j]|²), i.e. cosine of the query against the candidate's
    * PQ reconstruction, without ever reading the candidate's vector.
    *
    * Shape at scale: the per-query ADC lookup tables (m × k sub-dots) are
    * tiny and broadcast; each subspace lookup is one broadcast hash join
    * on (query_id, code_j), so scoring is map-side over the probed cells'
    * index rows — no shuffle before the final per-query top-k window.
    * Both engines accumulate the per-subspace terms in fixed j order, so
    * scores are bit-reproducible and the rank cut uses the RAW score
    * with an id tie-break (rounding the cut would collapse dense
    * neighborhoods into id-ordered ties). */
  def ivfPqTopK(pqIdx: DataFrame, queries: DataFrame, cents: DataFrame,
                k: Int, m: Int, dim: Int, nProbe: Int = 1,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec"))
    // qnorm rides the (tiny) probe table so the ADC table below stays
    // column-identical across the m joins — the precondition for the
    // single-build exchange reuse
    val probed = nearestCells(q, cents, "query_id", "qvec", nProbe)
      .select(col("query_id"), col("cell"), l2Norm(col("qvec")).as("qnorm"))
    // ADC lookup tables: per (query, subspace, codebook cell) the partial
    // dot ⟨q_j, cb_j⟩ and the sub-centroid's squared norm. Q x m x k rows.
    val subc = cents
      .select(col("cell").as("code"),
        col("centroid").cast("array<double>").as("cv"))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("scv", slice(col("cv"), col("j") * sub + 1, lit(sub)))
      .select(col("j"), col("code"), col("scv"),
        VectorFunctions.dot(col("scv"), col("scv")).as("cn2"))
    val qparts = q
      .crossJoin(broadcast(subc))
      .withColumn("qdot", VectorFunctions.dot(
        slice(col("qvec"), col("j") * sub + 1, lit(sub)), col("scv")))
      .select(col("query_id"), col("j"), col("code"),
        col("qdot"), col("cn2"))
    // ONE ADC build for all m subspace joins (r22): the per-j filtered
    // broadcasts each re-executed the qparts lineage and built their own
    // BroadcastExchange (m builds per query run); keying the full table
    // on the composite kj = j·2^32 + code makes the m build subplans
    // canonically identical — Spark materializes ONE exchange and the
    // remaining m−1 joins consume a ReusedExchange. Join semantics are
    // unchanged: (query_id, code_j) matched exactly the (j, code) slice
    // before, and kj encodes (j, code) injectively (codes are ints).
    val adc = qparts.select(col("query_id"),
      (col("j").cast("long") * lit(4294967296L) +
        col("code").cast("long")).as("kj"),
      col("qdot"), col("cn2"))
    var cand = pqIdx.join(broadcast(probed), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
    for (j <- 0 until m) {
      val t = adc.select(col("query_id").as(s"_q$j"),
        col("kj").as(s"_kj$j"),
        col("qdot").as(s"qdot$j"), col("cn2").as(s"cn2$j"))
      cand = cand.join(broadcast(t),
        cand("query_id") === col(s"_q$j") &&
          (lit(j.toLong * 4294967296L) + col(s"code$j").cast("long"))
            === col(s"_kj$j"))
        .drop(s"_q$j", s"_kj$j")
    }
    // fixed-order accumulation (j = 0..m-1) — reproducible across engines
    val ip = (0 until m).map(j => col(s"qdot$j")).reduce(_ + _)
    val rn2 = (0 until m).map(j => col(s"cn2$j")).reduce(_ + _)
    val scored = cand.withColumn("score_pq",
      when(col("qnorm") === 0.0 || rn2 <= 0.0, lit(0.0))
        .otherwise(ip / (col("qnorm") * sqrt(rn2))))
    rankCutTopK(scored, "query_id", "id", "score_pq", k)
      .select(col("query_id"), col("id").as("corpus_id"),
        col("score_pq"), col("rank"))
  }

  /** Every vector with its coarse cell, centroid and residual
    * (v − centroid): the encode-side front half of residual IVF-PQ. */
  private def withResiduals(vectors: DataFrame, cents: DataFrame,
                            idCol: String, vecCol: String): DataFrame =
    assignCells(vectors, cents, idCol, vecCol)
      .join(broadcast(cents.select(col("cell"),
        col("centroid").cast("array<double>").as("cv"))), Seq("cell"))
      .withColumn("rv", zip_with(col("v"), col("cv"), (a, b) => a - b))

  /** The shared encode-side residual frame (id, cell, rv, …) — the
    * artifact every residual-PQ stage starts from. A cell composing
    * several of them (codebook sampling, Lloyd refinement, index
    * encode, quantization error) computes and PERSISTS this once and
    * feeds [[residualSlices]] / [[pqResidualCodebookFromResiduals]]:
    * the assignment inside (one nearest-cell scan of the corpus) is the
    * expensive part and was re-executed once per consumer before this
    * seam (r22; same one-pass discipline as
    * [[Dedup.ngramJaccardPairsWithIndex]]). */
  def residuals(vectors: DataFrame, cents: DataFrame,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    withResiduals(vectors, cents, idCol, vecCol)

  /** Per-subspace slices (id, cell, j, sv) of a [[residuals]] frame —
    * the shared input of [[pqIndexResidualFromSlices]],
    * [[pqQuantizationErrorFromSlices]] and
    * [[lloydRefineResidualCodebookFromSlices]]. */
  def residualSlices(res: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    res.withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .select(col("id"), col("cell"), col("j"),
        slice(col("rv"), col("j") * sub + 1, lit(sub)).as("sv"))
  }

  /** [[pqResidualCodebook]] over a precomputed [[residuals]] frame. */
  def pqResidualCodebookFromResiduals(res: DataFrame,
                                      entries: Int): DataFrame =
    res.orderBy("id").limit(entries)
      .select(col("id").cast("int").as("code"), col("rv").as("ev"))

  /** Per-subspace (j, code, scv) slices of a residual codebook. */
  private def codebookSlices(codebook: DataFrame, m: Int, sub: Int): DataFrame =
    codebook.select(col("code"), col("ev").cast("array<double>").as("ev"))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("scv", slice(col("ev"), col("j") * sub + 1, lit(sub)))
      .select(col("j"), col("code"), col("scv"))

  /** Sampled residual codebook for [[pqIndexResidual]]: the residuals of
    * the `entries` lowest-id vectors, coded by their own id (codes must
    * fit an int). Returns (code, ev). Sampling by id is deterministic and
    * engine-reproducible; production recall improves by Lloyd-refining
    * these entries — [[lloydRefineResidualCodebook]] does exactly that at
    * the same code budget, and the index/query protocol is unchanged. */
  def pqResidualCodebook(vectors: DataFrame, cents: DataFrame, entries: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    pqResidualCodebookFromResiduals(
      withResiduals(vectors, cents, idCol, vecCol), entries)

  /** Lloyd refinement of a residual PQ codebook at FIXED code budget —
    * standard PQ training (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): independent k-means per SUBSPACE over the
    * corpus residual slices, seeded by `seed`'s slices. The refined
    * per-subspace centroids are reassembled into full-dim (code, ev) rows
    * — the [[pqResidualCodebook]] schema — so [[pqIndexResidual]] /
    * [[ivfPqTopKResidual]] consume it unchanged. A code that loses every
    * member in some subspace keeps its latest centroid there (the
    * previous round's slice — round 0's being the seed), so the codebook
    * never shrinks, code ids stay stable, and earlier refinement is
    * never discarded by a transiently empty cluster.
    *
    * Each round is one broadcast-scored assignment over the |V|·m
    * residual slices plus one hash aggregation — linear in the corpus, no
    * pairwise work; the codebook itself stays tiny (entries × dim).
    * Assignment minimizes squared Euclidean distance and the update step
    * takes member means, so total quantization error is non-increasing
    * per round (up to the per-round `roundTo` rounding, which both
    * engines apply identically for reproducibility). */
  def lloydRefineResidualCodebook(vectors: DataFrame, cents: DataFrame,
                                  seed: DataFrame, m: Int, dim: Int,
                                  iters: Int = 1,
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding",
                                  roundTo: Int = 6): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    lloydRefineResidualCodebookFromSlices(
      residualSlices(withResiduals(vectors, cents, idCol, vecCol), m, dim),
      seed, m, dim, iters, roundTo)
  }

  /** [[lloydRefineResidualCodebook]] over precomputed (ideally
    * persisted) [[residualSlices]] — the refinement itself is
    * unchanged; only the residual/slice derivation is shared. */
  def lloydRefineResidualCodebookFromSlices(slices: DataFrame,
                                            seed: DataFrame, m: Int,
                                            dim: Int, iters: Int = 1,
                                            roundTo: Int = 6): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val sliced = slices.select("id", "j", "sv")
    val seedSlices = codebookSlices(seed, m, sub)
    var cbs = seedSlices
    for (_ <- 0 until iters) {
      val scored = sliced.join(broadcast(cbs), Seq("j"))
        .withColumn("d2", dot(col("sv"), col("sv"))
          - lit(2.0) * dot(col("sv"), col("scv"))
          + dot(col("scv"), col("scv")))
      // deterministic struct-min argmin (d2, code) — same discipline as
      // the index encode; no arrays ride in the aggregation buffer
      val best = scored.groupBy("id", "j")
        .agg(min(struct(col("d2"), col("code"))).as("b"))
        .select(col("id"), col("j"), col("b.code").as("code"))
      val means = best.join(sliced, Seq("id", "j"))
        .select(col("j"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "comp")))
        .groupBy("j", "code", "pos")
        .agg(avg(col("comp")).as("mc"))
        .groupBy("j", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
            round(col("mc"), roundTo).as("mc")))),
          x => x.getField("mc")).as("scv"))
      // empty-cluster fallback keeps the PREVIOUS round's centroid (cbs),
      // not the round-0 seed slice: a code that goes empty in round k
      // must retain its latest refinement, not revert and discard it
      cbs = cbs
        .select(col("j"), col("code"), col("scv").as("prev_scv"))
        .join(means, Seq("j", "code"), "left")
        .select(col("j"), col("code"),
          coalesce(col("scv"), col("prev_scv")).as("scv"))
    }
    cbs.groupBy("code")
      .agg(flatten(transform(array_sort(collect_list(struct(col("j"),
          col("scv")))), x => x.getField("scv"))).as("ev"))
  }

  /** Per-vector residual quantization error against a codebook: the sum
    * over subspaces of the squared distance to the nearest codebook
    * slice — the quantity Lloyd refinement provably lowers at fixed code
    * budget. Returns (id, qerr). */
  def pqQuantizationError(vectors: DataFrame, cents: DataFrame,
                          codebook: DataFrame, m: Int, dim: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    pqQuantizationErrorFromSlices(
      residualSlices(withResiduals(vectors, cents, idCol, vecCol), m, dim),
      codebook, m, dim)

  /** [[pqQuantizationError]] over precomputed [[residualSlices]]. */
  def pqQuantizationErrorFromSlices(slices: DataFrame, codebook: DataFrame,
                                    m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val cbs = codebookSlices(codebook, m, sub)
    slices.select("id", "j", "sv")
      .join(broadcast(cbs), Seq("j"))
      .withColumn("d2", dot(col("sv"), col("sv"))
        - lit(2.0) * dot(col("sv"), col("scv"))
        + dot(col("scv"), col("scv")))
      .groupBy("id", "j").agg(min(col("d2")).as("md2"))
      .groupBy("id").agg(sum("md2").as("qerr"))
  }

  /** Residual IVF-PQ encode — the FAISS IVF-PQ index shape: each vector
    * stores its coarse cell, the per-subspace codes of its RESIDUAL
    * (v − centroid) against `codebook`, and the norm of its
    * reconstruction (centroid + decoded residual), computed once at
    * encode time. Encoding the residual rather than the raw vector is
    * what preserves within-cell ranking: cell-mates share a centroid but
    * differ in residual codes, so ADC can still order them. Returns
    * (id, cell, code0..code{m-1}, rnorm).
    *
    * Shape at scale: one broadcast-scored narrow pipeline (slice →
    * score → struct-min argmin → wide pivot); |recon|² = Σ_j (⟨c_j,c_j⟩
    * + 2⟨c_j,r̂_j⟩ + ⟨r̂_j,r̂_j⟩) is accumulated from the argmin rows in
    * fixed subspace order, so no reconstruction array is ever built. */
  def pqIndexResidual(vectors: DataFrame, cents: DataFrame,
                      codebook: DataFrame, m: Int, dim: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    pqIndexResidualFromSlices(
      residualSlices(withResiduals(vectors, cents, idCol, vecCol), m, dim),
      cents, codebook, m, dim)

  /** [[pqIndexResidual]] over precomputed (ideally persisted)
    * [[residualSlices]] — encode logic unchanged. */
  def pqIndexResidualFromSlices(slices: DataFrame, cents: DataFrame,
                                codebook: DataFrame, m: Int,
                                dim: Int): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val cbs = codebookSlices(codebook, m, sub)
    val sliced = slices.select("id", "cell", "j", "sv")
    val scored = sliced.join(broadcast(cbs), Seq("j"))
      .withColumn("d2", dot(col("sv"), col("sv"))
        - lit(2.0) * dot(col("sv"), col("scv"))
        + dot(col("scv"), col("scv")))
    // lexicographic struct-min argmin (d2, code) — deterministic, a
    // fixed-width sort-based aggregate over the |V|·m·entries scored
    // rows with map-side partials (no arrays in the aggregation buffer
    // — moving the slice payloads out of here was a measured 9x on the
    // build; cell rides as a group key since it is functionally
    // dependent on id)
    val best = scored.groupBy("id", "cell", "j")
      .agg(min(struct(col("d2"), col("code"))).as("b"))
      .select(col("id"), col("cell"), col("j"), col("b.code").as("code"))
    // per-(cell, code, j) reconstruction-norm term ⟨c_j,c_j⟩ + 2⟨c_j,r̂_j⟩
    // + ⟨r̂_j,r̂_j⟩ — a cells × entries × m cross table built from two tiny
    // sides and broadcast back onto the argmin rows. Size bound: the
    // table is k·entries·m rows (256 cells × 256 entries × 8 = 524k —
    // comfortably broadcastable); if a deployment pushes k·entries·m
    // past ~10^7, drop the broadcast() hint and let this become a
    // shuffle join — the protocol is unchanged
    val cslices = cents
      .select(col("cell"), col("centroid").cast("array<double>").as("cv"))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .select(col("cell"), col("j"),
        slice(col("cv"), col("j") * sub + 1, lit(sub)).as("cvj"))
    val termTable = cslices.join(cbs, Seq("j"))
      .select(col("cell"), col("j"), col("code"),
        (dot(col("cvj"), col("cvj"))
          + lit(2.0) * dot(col("cvj"), col("scv"))
          + dot(col("scv"), col("scv"))).as("term"))
    val withTerms = best.join(broadcast(termTable), Seq("cell", "j", "code"))
    val codeCols = (0 until m).map(j =>
      max(when(col("j") === j, col("code"))).cast("int").as(s"code$j"))
    val termCols = (0 until m).map(j =>
      max(when(col("j") === j, col("term"))).as(s"_t$j"))
    val wide = withTerms.groupBy("id")
      .agg(max(col("cell")).as("cell"), (codeCols ++ termCols): _*)
    val rn2 = (0 until m).map(j => col(s"_t$j")).reduce(_ + _)
    wide.select(Seq(col("id"), col("cell")) ++
      (0 until m).map(j => col(s"code$j")) :+
      sqrt(greatest(rn2, lit(0.0))).as("rnorm"): _*)
  }

  /** [[ivfPqTopK]] over a RESIDUAL index ([[pqIndexResidual]]): approx
    * cosine = (⟨q, c_cell⟩ + Σ_j ⟨q_j, r̂_j⟩) / (|q| · rnorm) — the
    * centroid term comes from the probe table, the residual terms from
    * per-subspace broadcast ADC lookups, and rnorm was stored at encode
    * time, so scoring reads nothing but the candidate's index row. Same
    * map-side join shape and raw-score rank cut as [[ivfPqTopK]]. */
  def ivfPqTopKResidual(index: DataFrame, queries: DataFrame,
                        cents: DataFrame, codebook: DataFrame, k: Int,
                        m: Int, dim: Int, nProbe: Int = 1,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec"))
    val probed = nearestCells(q, cents, "query_id", "qvec", nProbe)
      .join(broadcast(cents.select(col("cell"),
        col("centroid").cast("array<double>").as("cv"))), Seq("cell"))
      .withColumn("qcdot", dot(col("qvec"), col("cv")))
      .withColumn("qnorm", l2Norm(col("qvec")))
      .select(col("query_id"), col("cell"), col("qcdot"), col("qnorm"))
    val qr = q.crossJoin(broadcast(codebookSlices(codebook, m, sub)))
      .withColumn("qrdot", dot(
        slice(col("qvec"), col("j") * sub + 1, lit(sub)), col("scv")))
      .select(col("query_id"), col("j"), col("code"), col("qrdot"))
    // single composite-keyed ADC build shared by the m subspace joins —
    // see [[ivfPqTopK]]'s adc note (1 BroadcastExchange + m−1 reuses
    // instead of m independent builds of the qr lineage)
    val adc = qr.select(col("query_id"),
      (col("j").cast("long") * lit(4294967296L) +
        col("code").cast("long")).as("kj"),
      col("qrdot"))
    var cand = index.join(broadcast(probed), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
    for (j <- 0 until m)
      cand = cand.join(broadcast(adc.select(col("query_id").as(s"_q$j"),
        col("kj").as(s"_kj$j"), col("qrdot").as(s"_qr$j"))),
        cand("query_id") === col(s"_q$j") &&
          (lit(j.toLong * 4294967296L) + col(s"code$j").cast("long"))
            === col(s"_kj$j"))
        .drop(s"_q$j", s"_kj$j")
    val ip = col("qcdot") +
      (0 until m).map(j => col(s"_qr$j")).reduce(_ + _)
    val scored = cand.withColumn("score_pq",
      when(col("qnorm") === 0.0 || col("rnorm") <= 0.0, lit(0.0))
        .otherwise(ip / (col("qnorm") * col("rnorm"))))
    rankCutTopK(scored, "query_id", "id", "score_pq", k)
      .select(col("query_id"), col("id").as("corpus_id"),
        col("score_pq"), col("rank"))
  }

  /** Two-stage retrieve-and-rerank — the production IVF-PQ query shape:
    * ADC over the code index shortlists `shortlist` candidates per query
    * ([[ivfPqTopKResidual]]), then ONLY those candidates' raw vectors are
    * fetched and exactly cosine-reranked to the final top-k. Recall@k of
    * the pair equals ADC recall@shortlist, which converges to 1 far
    * faster than ADC recall@k — codes only need to be good enough to not
    * drop true neighbors from a 10-50× longer list. The rerank join
    * touches |queries| · shortlist corpus rows by id (a broadcast semi
    * join against the corpus), never the corpus at large. */
  def ivfPqRerankTopK(index: DataFrame, corpus: DataFrame,
                      queries: DataFrame, cents: DataFrame,
                      codebook: DataFrame, k: Int, shortlist: Int,
                      m: Int, dim: Int, nProbe: Int = 1,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val sl = ivfPqTopKResidual(index, queries, cents, codebook,
        k = shortlist, m = m, dim = dim, nProbe = nProbe, idCol = idCol,
        vecCol = vecCol)
      .select(col("query_id"), col("corpus_id"))
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
    val scored = c.join(broadcast(sl), Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        cosineWithNorms(col("cvec"), col("qvec"), col("cnorm"), col("qnorm")))
    rankCutTopK(scored, "query_id", "corpus_id", "cosine", k)
  }

  /** Incremental SemDeDup — the embedding twin of
    * `Dedup.incrementalMinhashDedup`: drop batch vectors whose cosine
    * against ANY history vector in the SAME centroid cell reaches
    * `threshold`, where history is the stored [[assignCells]] index —
    * historical raw embeddings never rescan; the quadratic stage is
    * bounded to (batch rows × history rows) within each cell, exactly
    * the SemDeDup cell trick applied across batches. Zero-norm vectors
    * on either side never match (cosine undefined → kept). Within-batch
    * duplicates are out of scope: run [[semanticDedup]] on the batch
    * first. */
  def incrementalSemanticDedup(batch: DataFrame, histIndex: DataFrame,
                               cents: DataFrame, threshold: Double,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val assigned = assignCells(batch, cents, idCol, vecCol)
      .filter(col("nrm") > 0.0)
    val dupIds = assigned
      .join(histIndex.filter(col("nrm") > 0.0)
        .select(col("cell"), col("v").as("hv"), col("nrm").as("hn")),
        Seq("cell"))
      .filter(cosineWithNorms(col("v"), col("hv"), col("nrm"), col("hn"))
        >= threshold)
      .select(col("id").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): combine
    * ranked lists from heterogeneous scorers — here typically a lexical
    * ranking (BM25) and an embedding ranking (cosine) — without score
    * calibration: rrf(d) = Σ_lists 1/(k + rank_list(d)). The industry
    * "hybrid search" default; k=60 per the paper.
    *
    * Input: (name, df(id, score)) per list, higher score = better;
    * ranks are dense per list with id as the deterministic tie-break. A
    * document missing from a list contributes nothing for it (the
    * paper's convention). Returns (id, rrf, rank_<name>... ) for every
    * id in any list.
    *
    * Shape at scale: ranking a full corpus would be a global sort, so
    * rank within each list's TOP-N cut only — candidate generation
    * (bruteForceTopK / ivfTopK / a BM25 TakeOrdered head) happens
    * before fusion, which then runs on lists-sized frames: a
    * window-rank per list plus one outer join keyed by id. */
  def rrfFuse(lists: Seq[(String, DataFrame)], k: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val ranked = lists.map { case (name, df) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id").asc)
      df.select(col("id"), col("score"))
        .withColumn(s"rank_$name", row_number().over(w))
        .drop("score")
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val rrf = lists.map { case (name, _) =>
      when(col(s"rank_$name").isNotNull,
        lit(1.0) / (lit(k) + col(s"rank_$name"))).otherwise(lit(0.0))
    }.reduce(_ + _)
    joined.withColumn("rrf", rrf)
  }
}
