package graft

import org.scalatest.funsuite.AnyFunSuite

/** Streaming-twin completeness meta-test (VERDICT r18 stretch): the
  * engine's exactly-once guarantee is only as good as its COVERAGE, and
  * coverage rots silently — a new `*Batch` body or `*View` can ship
  * without a parity property and nothing fails. This spec enumerates
  * that surface of [[graft.streaming.StreamingPipeline]] by reflection
  * and fails unless every method either (a) has a named
  * random-split parity property in StreamingSplitParitySpec, or (b)
  * carries an explicit exemption naming the suite+test that DOES
  * exercise it and the reason a split-parity property is not the right
  * shape for it. Each claimed test name is cross-checked against the
  * live suite's `testNames`, so a renamed or deleted covering test
  * fails here too — the map cannot point at tests that no longer exist.
  */
class TwinCoverageSpec extends AnyFunSuite {

  /** A twin covered by a random-split parity property. */
  private case class Parity(testPrefix: String)

  /** A twin exempt from the split-parity shape, with the suite+test
    * that exercises it instead and the REASON parity is not the right
    * contract for it. */
  private case class Exempt(suite: String, testPrefix: String,
                            reason: String)

  private val parity: Map[String, Parity] = Map(
    "mergeGoldBatch" -> Parity(
      "property: mergeGoldBatch window aggregates equal the batch recompute"),
    "sketchDistinctBatch" -> Parity(
      "property: sketchDistinct estimates equal exact distinct counts"),
    "cmsFrequencyBatch" -> Parity(
      "property: cmsFrequency estimates equal exact item counts"),
    "quantileStateBatch" -> Parity(
      "property: quantileState reads equal the one-shot batch fold"),
    "embeddingMomentsBatch" -> Parity(
      "property: embeddingMoments fit equals the full-corpus moments"),
    "cdcUpsertBatch" -> Parity(
      "property: cdcUpsert final table equals the one-shot batch fold"),
    "dsirCountsBatch" -> Parity(
      "property: dsirCounts bucket counts equal the batch recompute"),
    "knCountsBatch" -> Parity(
      "property: knCounts n-gram counts equal the batch recompute"),
    "shardManifestBatch" -> Parity(
      "property: shardManifestIngest assignments equal the arrival-order"),
    "adaptiveGateBatch" -> Parity(
      "property: adaptiveGateIngest quantile state equals the full"),
    "embeddingMomentsView" -> Parity(
      "property: embeddingMoments fit equals the full-corpus moments"),
    "ccIngestBatch" -> Parity(
      "property: ccIngest assignment equals batch connected components"),
    "keepBestBatch" -> Parity(
      "property: keepBestIngest champions equal the batch keep-best"),
    "tokenBudgetIngestBatch" -> Parity(
      "property: tokenBudgetIngest view equals the batch token-budget"),
    "tokenBudgetView" -> Parity(
      "property: tokenBudgetIngest view equals the batch token-budget"),
    "quantileStateView" -> Parity(
      "property: quantileState reads equal the one-shot batch fold"),
    "ewmaGoldBatch" -> Parity(
      "property: ewmaGoldBatch day aggregates equal the batch recompute"),
    "dedupIngestBatch" -> Parity(
      "property: dedupIngest publishes exactly one survivor per distinct"),
    "normalizedDedupIngestBatch" -> Parity(
      "property: normalizedDedupIngest publishes exactly one survivor"),
    "curateFullIngestBatch" -> Parity(
      "property: curateFullIngest publishes exactly the distinct"),
    "dsirWeightsView" -> Parity(
      "property: dsirCounts bucket counts equal the batch recompute"),
    "knModelView" -> Parity(
      "property: knCounts n-gram counts equal the batch recompute"),
  )

  private val exempt: Map[String, Exempt] = Map(
    "sampleBatch" -> Exempt("IncrementalGoldSpec",
      "sampleBatch maintains the deterministic k-sample",
      "parity IS tested, as the per-batch body vs the batch recompute — " +
        "the fold is a pure function of the row-identity SET (global " +
        "top-k by md5), so batch splits cannot change the result beyond " +
        "the dedup-union case the example test seeds"),
    "sourceCapBatch" -> Exempt("IncrementalGoldSpec",
      "sourceCapBatch enforces per-source budgets",
      "arrival-order semantics BY DESIGN (scaladoc: a stream cannot " +
        "honor the batch sampler's global md5 order without buffering " +
        "the corpus), so split-parity with the batch operator is " +
        "semantically impossible; cross-batch budget exactness + replay " +
        "no-op is the contract and is what the test pins"),
    "ewmaDailyView" -> Exempt("IncrementalGoldSpec",
      "incremental EWMA/seasonal gold: parity with batch recompute",
      "read path of ewmaGoldBatch state; parity with the batch " +
        "recompute is tested example-based alongside the ingest, and " +
        "the underlying day-fold parity is property-tested via " +
        "ewmaGoldBatch"),
    "seasonalBaselineBatch" -> Exempt("IncrementalGoldSpec",
      "incremental EWMA/seasonal gold: parity with batch recompute",
      "moment sums are associative/commutative — the additive-fold " +
        "parity shape is already property-tested for embeddingMoments; " +
        "this twin's example test pins the same fold plus replay no-op"),
    "seasonalBaselineView" -> Exempt("IncrementalGoldSpec",
      "incremental EWMA/seasonal gold: parity with batch recompute",
      "read path of seasonalBaselineBatch (mean/stddev from stored " +
        "moments); tested with its ingest"),
    "driftMonitorBatch" -> Exempt("IngestStreamingSpec",
      "driftMonitorIngest: per-batch PSI series",
      "produces a per-batch time SERIES by design — there is no batch " +
        "recompute it could be parity-equal to (the batch PSI is one " +
        "point of the series); the end-to-end alert lifecycle is tested"),
    "embeddingDriftMonitorBatch" -> Exempt("IngestStreamingSpec",
      "embeddingDriftMonitorIngest: centroid-cosine series",
      "same series-valued shape as driftMonitorBatch"),
    "driftSeriesView" -> Exempt("IngestStreamingSpec",
      "driftMonitorIngest: per-batch PSI series",
      "read path of the drift monitors' series store; tested with them " +
        "and covered by the store-view conf guard test"),
    "robustOutlierView" -> Exempt("LmFusionSpec",
      "streaming robust-outlier baseline: IQR view over folded sketches",
      "IQR flag arithmetic over quantileState sketches whose fold " +
        "parity is property-tested; the view's own read is tested " +
        "example-based"),
    "spanDedupIngestBatch" -> Exempt("IngestStreamingSpec",
      "spanDedupIngest cuts cross-batch boilerplate",
      "span survivorship is arrival-order (earlier batch wins) by " +
        "design; cross-batch cut + replay no-op is the contract tested"),
    "curateIngestBatch" -> Exempt("IngestStreamingSpec",
      "curateIngest: quality gate, cross-batch dedup, and source caps",
      "composition of stages whose folds are individually " +
        "parity-tested (dedup property, adaptive gate property, source " +
        "caps); the composition is pinned example-based against the " +
        "batch curation counts"),
    "modelGatedIngestBatch" -> Exempt("IngestStreamingSpec",
      "modelGatedIngest: classifier gates the stream",
      "same composition argument as curateIngest with the NB gate in " +
        "front (the gate is a pure per-row function)"),
    "nearDupIngestBatch" -> Exempt("IngestStreamingSpec",
      "nearDupIngest: cross-batch near-copies never land",
      "near-dup survivorship is arrival-order BY DESIGN (first-seen " +
        "wins among near-copies; the batch operator elects a canonical " +
        "champion instead), so split parity is semantically impossible"),
    "versionedStatsBatch" -> Exempt("IngestStreamingSpec",
      "versionedStatsIngest: atomic snapshots",
      "a snapshot-versioning protocol, not a fold — there is no batch " +
        "operator to be parity-equal to; atomicity/replay/orphan " +
        "invariants are the contract tested"),
    "ivfIngestBatch" -> Exempt("IngestStreamingSpec",
      "ivfIngest: the stored ANN index answers top-k",
      "assignment against FROZEN centroids is a pure per-row function " +
        "(split-invariant by construction); the index read + replay " +
        "no-op is what needs testing and is tested"),
    "pqIngestBatch" -> Exempt("IngestStreamingSpec",
      "pqIngest: incrementally stored codes equal the batch build",
      "parity with the batch build IS tested, example-based — codes " +
        "against a frozen codebook are per-row pure, so random splits " +
        "cannot vary the result"),
    "semanticDedupIngestBatch" -> Exempt("IngestStreamingSpec",
      "semanticDedupIngest: semantic dups never land across batches",
      "arrival-order survivorship among mutual near-neighbors, same " +
        "stance as nearDupIngestBatch"),
  )

  private def twinSurface: Set[String] =
    graft.streaming.StreamingPipeline.getClass.getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName)
      .filter(n => !n.contains("$") &&
        (n.endsWith("Batch") || n.endsWith("View")))
      .toSet

  test("every StreamingPipeline *Ingest/*View twin has a parity property " +
    "or a documented exemption (reflection-enumerated — a new twin " +
    "cannot ship uncovered)") {
    val surface = twinSurface
    assert(surface.nonEmpty, "reflection found no twins — enumeration broke")
    val mapped = parity.keySet ++ exempt.keySet
    val uncovered = surface -- mapped
    assert(uncovered.isEmpty,
      s"new twin(s) without parity property or documented exemption: " +
        s"${uncovered.toSeq.sorted.mkString(", ")} — add a " +
        "StreamingSplitParitySpec property (preferred) or an explicit " +
        "Exempt entry with the covering test and the reason")
    val stale = mapped -- surface
    assert(stale.isEmpty,
      s"coverage map lists twins that no longer exist: " +
        s"${stale.toSeq.sorted.mkString(", ")}")
    val doubly = parity.keySet intersect exempt.keySet
    assert(doubly.isEmpty, s"twins both parity-covered and exempt: $doubly")
    // callers run a body with Spark's own writeStream...foreachBatch; the
    // one query-starting method is the bronze ingest
    val queries = graft.streaming.StreamingPipeline.getClass
      .getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[org.apache.spark.sql.streaming.StreamingQuery])
      .map(_.getName).toSet
    assert(queries === Set("start"))
  }

  test("every claimed parity property exists in StreamingSplitParitySpec " +
    "(a renamed/deleted property fails here, not silently)") {
    val names = (new StreamingSplitParitySpec).testNames
    parity.foreach { case (m, Parity(prefix)) =>
      assert(names.exists(_.startsWith(prefix)),
        s"twin $m claims parity property '$prefix…' but " +
          "StreamingSplitParitySpec has no such test")
    }
  }

  test("every exemption's covering test exists in its named suite") {
    val suites: Map[String, () => AnyFunSuite] = Map(
      "IncrementalGoldSpec" -> (() => new IncrementalGoldSpec),
      "IngestStreamingSpec" -> (() => new IngestStreamingSpec),
      "LmFusionSpec" -> (() => new LmFusionSpec),
    )
    val names: Map[String, Set[String]] =
      exempt.values.map(_.suite).toSet[String].map { s =>
        s -> suites.getOrElse(s,
          fail(s"exemption names unknown suite $s")).apply().testNames.toSet
      }.toMap
    exempt.foreach { case (m, Exempt(suite, prefix, reason)) =>
      assert(reason.length > 40,
        s"twin $m: an exemption must carry a substantive reason")
      assert(names(suite).exists(_.startsWith(prefix)),
        s"twin $m claims coverage by $suite test '$prefix…' but that " +
          "suite has no such test")
    }
  }
}
