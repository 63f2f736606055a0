package graft.quality

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DirSwap

/** Differential-privacy budget ledger: ε accounting that makes repeated
  * releases honest.
  *
  * A single seeded-Laplace release (`q_dp_release_counts`) is fine on its
  * own, but privacy loss COMPOSES: every release over the same dataset
  * spends ε, and a pipeline that re-runs its "anonymized" export nightly
  * silently burns through any budget. The ledger records each release
  * (dataset, release_id, query_key, epsilon) in a tiny parquet table and
  * fail-fasts a release that would push the dataset's sequential-
  * composition total Σε over its budget — the gate that turns "we add
  * noise" into an enforceable guarantee.
  *
  * Exactly-once discipline (same stance as a streaming store's batch
  * ledger):
  * a release is identified by `releaseId`. Replaying a recorded release
  * does NOT spend again and returns byte-identical output, because the
  * noise is a deterministic function of (dataset, releaseId, secretSalt,
  * group key) — re-publishing the same numbers reveals nothing new, so it
  * costs no new ε. The free-replay contract is CONDITIONAL on the caller
  * replaying the same data: the ledger records no data fingerprint, so a
  * "replay" against changed data publishes new group counts under the
  * old spend — same-data is the caller's invariant here, exactly as it
  * is for a replayed streaming batch. The ledger row is written BEFORE
  * the noised frame is handed back: a crash between the two leaves ε
  * spent but unreleased — the safe direction for privacy (never the
  * reverse).
  *
  * WHAT THE LEDGER DOES AND DOES NOT GUARANTEE: the ledger makes the ε
  * ACCOUNTING enforceable (no release beyond budget, no double-spend on
  * replay, no releaseId reuse for a different query). The privacy of the
  * released numbers themselves additionally requires BOTH of:
  *  - a non-empty `secretSalt` mixed into the noise seed. With the
  *    default empty salt the seed is a pure function of public metadata
  *    (dataset:releaseId:group), so anyone can recompute the noise and
  *    recover the exact values — that mode exists ONLY so cross-engine
  *    parity tests (the DuckDB oracle) can reproduce the draw, and is
  *    not a release path.
  *  - publishing [[publicView]] of the returned frame, not the frame
  *    itself: the full frame deliberately carries the exact `n` (and
  *    `sum_clipped`) next to the noised value as the PRIVATE-side audit
  *    record; handing that to a consumer releases the exact values and
  *    makes the noise decoration.
  *
  * Scale: the ledger is releases-sized (rows = audit events, not data),
  * so the read-check-rewrite cycle is a metadata operation at any corpus
  * size; the noised aggregate itself is groups-sized. Writes go through
  * the same stage-and-swap rename used by the streaming state tables
  * ([[graft.DirSwap]]) so a crash never leaves a half-written ledger.
  */
object DpLedger {

  /** Version tag of the noise-seed construction, recorded with every
    * spend. The NUL-separator multi-key scheme ([[keySeed]]) changed the
    * seed for multi-key and null-key groups relative to the historical
    * separator-less form — so a release RECORDED under the old scheme
    * and replayed under the new one would be treated as free (the ledger
    * row matches) yet publish a second, INDEPENDENT noise draw of the
    * same statistic without spending ε, weakening the guarantee by
    * averaging. Recording the scheme makes that replay detectable:
    * [[spendOrReplay]] rejects a replay whose recorded scheme differs
    * from the current one, UNLESS the seeds are provably byte-identical
    * under both schemes (single key column, no null key values — the
    * form [[keySeed]] leaves untouched), where the replay reproduces
    * the published numbers exactly and stays the contract's free no-op.
    * Rows from ledgers that predate the column read as "pre-v2";
    * multi-key or null-key pre-v2 releases never replay under this
    * build — re-release them under a NEW release id (a fresh spend). */
  private[graft] val SeedScheme = "nul-v2"

  /** Rows currently in the ledger for `dataset` (empty frame if the
    * ledger doesn't exist yet): dataset, release_id, query_key, epsilon,
    * seed_scheme (ledgers written before the column read as "pre-v2").
    *
    * Every READ restores a swap that crashed mid-way first: a read in
    * that window would otherwise see an empty ledger, report spent = 0,
    * and wave through a release the real ledger forbids. */
  def ledger(spark: SparkSession, ledgerPath: String): DataFrame = {
    val dataDir = new Path(s"$ledgerPath/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (DirSwap.restore(fs, dataDir, new Path(s"$ledgerPath/_prestate"))) {
      val raw = spark.read.parquet(dataDir.toString)
      if (raw.columns.contains("seed_scheme")) raw
      else raw.withColumn("seed_scheme", lit("pre-v2"))
    } else {
      import spark.implicits._
      Seq.empty[(String, String, String, Double, String)]
        .toDF("dataset", "release_id", "query_key", "epsilon",
          "seed_scheme")
    }
  }

  /** Total ε already spent against `dataset` (sequential composition). */
  def spent(spark: SparkSession, ledgerPath: String, dataset: String): Double =
    ledger(spark, ledgerPath)
      .filter(col("dataset") === dataset)
      .agg(coalesce(sum("epsilon"), lit(0.0))).collect()(0).getDouble(0)

  /** Null-safe, boundary-safe group-key segment of the noise seed:
    * values join on NUL (U+0000 — absent from real text keys, unlike
    * the empty separator, under which ("ab","c") and ("a","bc") get the
    * SAME seed and the same noise draw) and NULL maps to the U+0001
    * sentinel so (null) and ("") draw differently too. Single-key seeds
    * are byte-identical to the historical separator-less form (no join
    * point; non-null values pass through coalesce unchanged), which is
    * what keeps the cross-engine oracle stable. */
  private def keySeed(keys: Seq[String]): org.apache.spark.sql.Column =
    concat_ws("\u0000",
      keys.map(k => coalesce(col(k).cast("string"), lit("\u0001"))): _*)

  private def saltSeg(secretSalt: String): String =
    if (secretSalt.isEmpty) "" else s"$secretSalt:"

  /** Budget-gated ε-DP count release: `df.groupBy(keys).count()` plus
    * Laplace(1/ε) noise (sensitivity-1 counts), recorded in the ledger.
    *
    *  - (dataset, releaseId) already recorded → idempotent replay: no new
    *    spend, identical output (deterministic seeded noise).
    *  - Σε(dataset) + ε > totalBudget → IllegalStateException BEFORE any
    *    spend or output; the ledger is untouched.
    *  - otherwise the ledger row lands first (stage-and-swap), then the
    *    noised frame is returned: (keys..., n, n_dp) — the PRIVATE-side
    *    audit frame. Publish [[publicView]] of it, and pass a non-empty
    *    `secretSalt`, for any real release (see the class doc).
    */
  def gatedLaplaceCounts(df: DataFrame, keys: Seq[String],
                         ledgerPath: String, dataset: String,
                         releaseId: String, epsilon: Double,
                         totalBudget: Double,
                         secretSalt: String = ""): DataFrame = {
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    require(keys.nonEmpty, "at least one grouping key")
    val spark = df.sparkSession
    spendOrReplay(spark, ledgerPath, dataset, releaseId,
      s"count by ${keys.mkString(",")}", epsilon, totalBudget,
      preV2SeedIdentical = () => keys.size == 1 &&
        df.filter(col(keys.head).isNull).isEmpty)
    // seed covers dataset + release + salt + group key: a replay
    // reproduces the published numbers exactly; a NEW release id (or a
    // different salt) draws fresh noise
    val seedKey = concat(
      lit(s"$dataset:$releaseId:" + saltSeg(secretSalt)), keySeed(keys))
    val u = graft.ext.Sampling.md5Uniform(seedKey)
    val b = 1.0 / epsilon
    val lap = when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
      lit(b) * -log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(keys.map(col) :+ col("n") :+
        round(col("n") + lap + lit(1e-9), 4).as("n_dp"): _*)
  }

  /** Budget-gated ε-DP SUM release: per-group sums of `valueCol` with
    * each row's contribution CLIPPED to [0, clip] — the clipping is what
    * bounds the sensitivity (one row can move the sum by at most `clip`),
    * so the Laplace scale is clip/ε. Without it a single outlier row
    * makes the "DP" sum meaningless — the classic mistake this API makes
    * unrepresentable by requiring `clip` up front. Same ledger contract
    * as [[gatedLaplaceCounts]]; the noise seed carries a `sum:` tag so a
    * count and a sum released under one releaseId never share a draw.
    * Returns (keys..., n, sum_clipped, sum_dp). */
  def gatedLaplaceSums(df: DataFrame, keys: Seq[String], valueCol: String,
                       clip: Double, ledgerPath: String, dataset: String,
                       releaseId: String, epsilon: Double,
                       totalBudget: Double,
                       secretSalt: String = ""): DataFrame = {
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    require(clip > 0, s"clip must be > 0, got $clip")
    require(keys.nonEmpty, "at least one grouping key")
    val spark = df.sparkSession
    spendOrReplay(spark, ledgerPath, dataset, releaseId,
      s"sum($valueCol clip=$clip) by ${keys.mkString(",")}", epsilon,
      totalBudget,
      preV2SeedIdentical = () => keys.size == 1 &&
        df.filter(col(keys.head).isNull).isEmpty)
    val seedKey = concat(
      lit(s"$dataset:$releaseId:" + saltSeg(secretSalt) + "sum:"),
      keySeed(keys))
    val u = graft.ext.Sampling.md5Uniform(seedKey)
    val b = clip / epsilon
    val lap = when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
      lit(b) * -log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(least(greatest(col(valueCol).cast("double"), lit(0.0)),
          lit(clip))).as("sum_clipped"))
      .select(keys.map(col) :+ col("n") :+
        round(col("sum_clipped") + lit(1e-9), 4).as("sum_clipped") :+
        round(col("sum_clipped") + lap + lit(1e-9), 4).as("sum_dp"): _*)
  }

  /** The consumer-facing projection of a gated release: the noised
    * columns only. The frames returned by [[gatedLaplaceCounts]] /
    * [[gatedLaplaceSums]] carry the exact `n` (and `sum_clipped`)
    * beside the noised value as the private-side audit record;
    * publishing THOSE columns releases the exact values and reduces the
    * noise to decoration. Every real release publishes this view. */
  def publicView(released: DataFrame): DataFrame =
    released.drop("n", "sum_clipped")

  /** The shared gate: replay of the identical (dataset, releaseId,
    * queryKey) is free; a releaseId REUSED for a different query throws
    * (a silent replay there would publish new numbers without spending —
    * the exact hole an ε ledger exists to close); otherwise check the
    * budget and record the spend BEFORE any output is produced. */
  private def spendOrReplay(spark: SparkSession, ledgerPath: String,
                            dataset: String, releaseId: String,
                            queryKey: String, epsilon: Double,
                            totalBudget: Double,
                            preV2SeedIdentical: () => Boolean =
                              () => false): Unit = {
    val prior = ledger(spark, ledgerPath)
      .filter(col("dataset") === dataset && col("release_id") === releaseId)
      .select("query_key", "epsilon", "seed_scheme").collect().headOption
    prior match {
      case Some(r) =>
        if (r.getString(0) != queryKey || math.abs(r.getDouble(1) - epsilon) > 1e-12)
          throw new IllegalStateException(
            s"DP release id '$releaseId' on dataset '$dataset' is already " +
              s"recorded for a DIFFERENT query ('${r.getString(0)}' at " +
              s"ε=${r.getDouble(1)}); replay must be byte-identical — " +
              "pick a new release id")
        // a pre-v2 replay is REJECTED unless the caller can prove the
        // seeds are byte-identical under both schemes (single key
        // column, no null key values — see [[keySeed]]): for those
        // releases the replay reproduces the published numbers exactly,
        // and rejecting it would break the guaranteed free-replay
        // idempotence (e.g. a checkpoint-lost streaming batch replay)
        // that the averaging-attack rationale never required closing.
        // The thunk runs only when a pre-v2 row is actually hit, so the
        // common path pays nothing.
        //
        // Scope of the proof: the null-key check runs on the REPLAY-time
        // dataframe — the ledger stores no data fingerprint, so it
        // cannot verify that the ORIGINALLY released data was also
        // null-free. A pre-v2 release whose published groups included a
        // null key, replayed later against data that no longer contains
        // one, passes this gate and draws under the new scheme. That is
        // the same conditional-on-same-data contract every free replay
        // here already has (nul-v2 replays never verify data identity
        // either — see the class doc): the gate proves seed-SCHEME
        // equivalence given the replay df, not data identity.
        if (r.getString(2) != SeedScheme &&
            !(r.getString(2) == "pre-v2" && preV2SeedIdentical()))
          throw new IllegalStateException(
            s"DP release id '$releaseId' on dataset '$dataset' was " +
              s"recorded under seed scheme '${r.getString(2)}' but this " +
              s"build seeds with '$SeedScheme' and the seeds are not " +
              "provably identical under both (multi-key release, or " +
              "null key values): a free replay would publish a second, " +
              "independent noise draw of the same statistic without " +
              "spending ε (averaging attack). Re-release under a NEW " +
              "release id (spends ε) instead")
      case None =>
        val used = spent(spark, ledgerPath, dataset)
        if (used + epsilon > totalBudget + 1e-12)
          throw new IllegalStateException(
            f"DP budget exhausted for dataset '$dataset': spent $used%.4f " +
              f"+ requested $epsilon%.4f > budget $totalBudget%.4f " +
              s"(ledger: $ledgerPath)")
        import spark.implicits._
        appendSwap(spark, ledgerPath,
          Seq((dataset, releaseId, queryKey, epsilon, SeedScheme))
            .toDF("dataset", "release_id", "query_key", "epsilon",
              "seed_scheme"))
    }
  }

  /** Append `rows` to the ledger via stage-and-swap (read current, union,
    * write staged, rename-aside swap) — a crash leaves either the old or
    * the new complete ledger, never a torn one. Single-driver semantics,
    * like every state table in this engine. */
  private def appendSwap(spark: SparkSession, ledgerPath: String,
                         rows: DataFrame): Unit = {
    val dataDir = new Path(s"$ledgerPath/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // merge through ledger() so a pre-seed_scheme table widens to the
    // current schema ("pre-v2" rows) instead of failing unionByName
    val merged = ledger(spark, ledgerPath).unionByName(rows)
    val tmp = new Path(s"$ledgerPath/_stage")
    merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    DirSwap.swapIn(fs, tmp, dataDir, new Path(s"$ledgerPath/_prestate"))
  }
}
