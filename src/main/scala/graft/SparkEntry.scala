package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{Schemas, Tables}
import graft.silver.Silver
import graft.gold.Gold
import graft.quality.Quality
import graft.warehouse.{Layout, Warehouse}
import graft.ext.{Dedup, Multimodal, Quantize, Similarity, TextAnalysis}
import graft.operators.{AsOf, BloomPrune, RangeJoin, Sessionize}
import graft.monitoring.Alerts

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-data extension operators), each with equivalent
  * DuckDB SQL for the oracle harness.
  *
  * Determinism rules (SURVEY §5.3): every query ends in a total-order
  * `ORDER BY`; timestamps are emitted as formatted strings; double-valued
  * aggregates are rounded to 4 decimals on BOTH sides; large SUMs run in
  * DECIMAL (exact) because double summation order differs across engines;
  * ranking windows carry unique tie-break keys.
  */
object SparkEntry {

  // ---- shared helpers -----------------------------------------------------

  /** Per-JVM invocation counter for s_orc_roundtrip's staging dir: two
    * concurrent evaluations of the query inside one JVM must not race on
    * an overwrite-while-read of a shared path. */
  private[graft] val orcStagingCounter =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Round doubles to 4 decimals for cross-engine comparison. The +1e-9
    * epsilon (applied identically in the oracle SQL) shifts values off
    * exact .00005 halfway points, where Spark (HALF_UP on the shortest
    * decimal repr) and other engines (binary-based rounding) disagree —
    * clean-decimal inputs hit those halfway points systematically. */
  private def R(c: Column): Column = round(c + lit(1e-9), 4)
  private def fts(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
  private def ftsU(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Static range-anomaly condition as SQL — mirrors Silver.rangeFlag
    * exactly (same per-type OR structure). */
  private def rangeCondSqlFor(ranges: Map[String, (Double, Double)]): String =
    ranges.toSeq.sortBy(_._1).map { case (t, (lo, hi)) =>
      s"(event_type = '$t' AND (value < $lo OR value > $hi))"
    }.mkString(" OR ")

  private val rangeCondSql: String = rangeCondSqlFor(Schemas.eventValueRanges)

  private val statsSelectSql =
    """ROUND(AVG(value) + 1e-9, 4) AS avg_value, MIN(value) AS min_value,
      | MAX(value) AS max_value, COUNT(*) AS reading_count,
      | ROUND(STDDEV_SAMP(value) + 1e-9, 4) AS stddev_value,
      | ROUND(quantile_cont(value, 0.5) + 1e-9, 4) AS p50_value,
      | ROUND(quantile_cont(value, 0.95) + 1e-9, 4) AS p95_value,
      | ROUND(quantile_cont(value, 0.99) + 1e-9, 4) AS p99_value""".stripMargin

  private def statsSelectCols: Seq[Column] = Seq(
    R(col("avg_value")).as("avg_value"), col("min_value"), col("max_value"),
    col("reading_count"), R(col("stddev_value")).as("stddev_value"),
    R(col("p50_value")).as("p50_value"), R(col("p95_value")).as("p95_value"),
    R(col("p99_value")).as("p99_value"))

  private val zoneSql =
    "CONCAT('zone-', COALESCE(CAST(CAST(json_extract_string(props, '$.k') AS INT) % 4 AS VARCHAR), 'na'))"

  private case class Q(name: String, sql: Option[String],
                       fn: (SparkSession, String) => DataFrame)

  // ---- oracle SQL builders for the extension operators --------------------
  // (document text ops share one normalization/tokenization front-end; the
  // SQL mirrors graft.ext.TextAnalysis exactly)

  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val toksSql =
    s"CASE WHEN len($normSql) = 0 THEN []::VARCHAR[] ELSE string_split($normSql, ' ') END"

  /** All n-word shingles (with duplicates), as SQL over a `toks` column —
    * mirrors TextAnalysis.shinglesFromTokens. */
  private def gramsSql(n: Int): String = {
    val parts = (0 until n).map(j => s"toks[i+$j]").mkString(", ")
    s"""CASE WHEN len(toks) < $n THEN []::VARCHAR[]
       |   ELSE list_transform(range(1, len(toks) - ${n - 2}),
       |        i -> concat_ws(' ', $parts)) END""".stripMargin
  }

  /** 3-word shingle list (distinct), as SQL over a `toks` column. */
  private val shinglesSql =
    """list_distinct(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
      |   ELSE list_transform(range(1, len(toks) - 1),
      |        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END)""".stripMargin

  private val preShinglesSql =
    s"""SELECT doc_id, source, $shinglesSql AS sh
       | FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)""".stripMargin

  /** CTE chain for the BPE oracle: w0 = the corpus word-frequency table
    * with per-character symbol lists, then per round r: pair counts
    * (parallel unnest of the two symbol slices), the argmax merge
    * (freq desc, l, r — the engine's total order), and the greedy
    * left-to-right rewrite as a list_reduce string fold with chr(31) as
    * the element separator (appending the right symbol WITHOUT the
    * separator fuses it onto the trailing left symbol — identical to
    * graft.ext.Bpe.applyMergeOnce). */
  private def bpeCtes(rounds: Int): String = {
    val words =
      s"""wt AS (SELECT unnest(toks) AS word FROM (SELECT $toksSql AS toks FROM documents)),
         |w0 AS (SELECT word, COUNT(*) AS freq,
         |        list_transform(range(1, len(word)+1), i -> word[i]) AS syms
         |        FROM wt GROUP BY word)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""p$r AS (SELECT l, r, SUM(freq) AS c FROM (
         |      SELECT freq, unnest(syms[1:len(syms)-1]) AS l,
         |             unnest(syms[2:len(syms)]) AS r
         |      FROM w${r - 1} WHERE len(syms) > 1) GROUP BY l, r),
         |m$r AS (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),
         |w$r AS (SELECT word, freq,
         |        CASE WHEN m.l IS NULL THEN syms ELSE string_split(list_reduce(syms,
         |        (x, y) -> CASE WHEN (x = m.l OR ends_with(x, chr(31) || m.l)) AND y = m.r
         |                  THEN x || y ELSE x || chr(31) || y END), chr(31)) END AS syms
         |        FROM w${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    }
    (words +: rs).mkString(",\n")
  }

  private def jaccardSql(a: String, b: String): String =
    s"""CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0
       | ELSE len(list_intersect($a, $b))::DOUBLE
       |      / len(list_distinct(list_concat($a, $b))) END""".stripMargin

  /** Shared oracle CTE chain for the cluster family (requires WITH
    * RECURSIVE): shingles → same-source Jaccard pairs at the 0.02
    * threshold → undirected edges → recursive reachability → connected
    * components as `comp`(id, cluster_id). Seven cells (x_cluster_split,
    * x_cluster_keep_best, x_dup_cluster_histogram, x_dedup_clusters,
    * x_cluster_report, x_cc_incremental, x_dedup_keep_best) consume it —
    * ONE definition, so a threshold or shingle-width change cannot
    * silently diverge a single oracle. */
  private lazy val clusterCompSql: String =
    s"""pre AS MATERIALIZED ($preShinglesSql),
       |pj AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |       FROM pre a JOIN pre b
       |         ON a.source = b.source AND a.doc_id < b.doc_id
       |       WHERE (${jaccardSql("a.sh", "b.sh")}) >= 0.02),
       |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pj
       |          UNION ALL SELECT id_b, id_a FROM pj),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS MATERIALIZED (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** CTE chain producing (doc_id, simhash) — the 64-bit majority-vote
    * signature as a bit string, shared by the signature and near-dup
    * oracles. The LEFT JOIN from pre keeps docs with <3 tokens (empty
    * shingle set): their bit sums are NULL, `bN * 2 > n` is NULL, and
    * every CASE falls through to '0' — the same all-zero signature the
    * Spark side emits via explode_outer. */
  private lazy val simhashSigCtes: String = {
    val bitSums = (1 to 64).map { i =>
      val d = (i - 1) / 4 + 1
      val p = 1 << (3 - ((i - 1) % 4))
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, $d, 1)) - 1) // $p) % 2 = 1 THEN 1 ELSE 0 END) AS b$i"
    }.mkString(", ")
    val bitsConcat = (1 to 64)
      .map(i => s"CASE WHEN b$i * 2 > n THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    s"""pre AS MATERIALIZED ($preShinglesSql),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM pre),
       |h AS (SELECT doc_id, md5(s) AS hx FROM ex),
       |agg AS (SELECT doc_id, COUNT(*) AS n, $bitSums FROM h GROUP BY doc_id),
       |sig AS (SELECT p.doc_id, $bitsConcat AS simhash
       |        FROM pre p LEFT JOIN agg a ON p.doc_id = a.doc_id)""".stripMargin
  }

  private def cosSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a)) = 0 OR sqrt(list_dot_product($b, $b)) = 0
       | THEN 0.0
       | ELSE list_dot_product($a, $b)
       |      / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END""".stripMargin

  /** CTE chain producing `prof`(user_id, p): each user's 24-dim hourly
    * activity profile (mean value per hour-of-day, missing hours 0) —
    * shared by the exact, SRP, and recall profile-similarity oracles. */
  private val profileCtes =
    """hours AS (SELECT unnest(range(24)) AS h),
      |grid AS (SELECT u.user_id, hours.h
      |         FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN hours),
      |upr AS (SELECT user_id, CAST(hour(ts) AS INT) AS h, AVG(value) AS m
      |       FROM events GROUP BY 1, 2),
      |prof AS MATERIALIZED (SELECT g.user_id, list(COALESCE(upr.m, 0.0) ORDER BY g.h) AS p
      |         FROM grid g LEFT JOIN upr ON g.user_id = upr.user_id AND g.h = upr.h
      |         GROUP BY g.user_id)""".stripMargin

  /** 24-dim hourly activity profile per user — the Spark twin of
    * [[profileCtes]]: one hash aggregation over events, then a map-based
    * gap-fill to a fixed-width array. NULL ts rows are dropped (a NULL
    * map key throws under ANSI; the oracle's hour-grid join never
    * matches a NULL-hour group either).
    *
    * PERSISTED (r21): every consumer references the profile table at
    * least twice (both sides of the all-pairs join; the SRP arm's
    * signature pass + exact rescoring; the recall cell runs both arms),
    * and without the cache each reference re-aggregated the full events
    * table — the profile table itself is |users| rows, the oracle's
    * MATERIALIZED prof CTE, and the bench/Verify harness sweeps pinned
    * state between queries (the registry-wide persist discipline of
    * ngramJaccardPairsWithIndex). */
  private def userProfiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("ts").isNotNull)
      .groupBy(col("user_id"), hour(col("ts")).as("h"))
      .agg(avg("value").as("m"))
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("h"), col("m"))))
        .as("mm"))
      .select(col("user_id"),
        transform(sequence(lit(0), lit(23)),
          h => coalesce(element_at(col("mm"), h), lit(0.0))).as("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact all-pairs top-3 profile neighbors: (user_id, rnk, other_id, c).
    * Norms are PRE-computed once per profile, not once per pair — the
    * pair loop is |users|² cosines and would otherwise redo each side's
    * norm |users| times. Ground truth for the SRP recall diagnostic;
    * quadratic BY DESIGN (the production path is srpTopK). */
  private def profileExactTop3(prof: DataFrame): DataFrame = {
    val a = prof.select(col("user_id"), col("p").as("pa"),
      sqrt(Similarity.dot(col("p"), col("p"))).as("na"))
    val b = prof.select(col("user_id").as("other_id"), col("p").as("pb"),
      sqrt(Similarity.dot(col("p"), col("p"))).as("nb"))
    val dotAB = Similarity.dot(col("pa"), col("pb"))
    // zero-norm guard BEFORE the division: ANSI mode makes x/0.0 throw,
    // and the oracle's NULLIF+COALESCE yields 0.0 there
    val denom = col("na") * col("nb")
    val c = when(denom === 0.0, lit(0.0)).otherwise(dotAB / denom)
    val w = Window.partitionBy("user_id")
      .orderBy(round(col("c") + 1e-9, 6).desc, col("other_id").asc)
    a.join(broadcast(b), col("user_id") =!= col("other_id"))
      .withColumn("c", c)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  private def listFilterSql(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Shared IVF oracle plumbing (label-seeded centroids + 2 Lloyd rounds
    * + assignment + exact top-5 ground truth), with the query-side probe
    * list widened to `probeMax` cells. Mirrors Similarity.lloydRefine /
    * ivfTopK round-for-round with per-round centroid rounding so cell
    * assignments are hash-exact across engines. */
  private def ivfCtes(probeMax: Int): String =
    s"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |d0 AS (SELECT label AS cell, i, AVG(v[i]) AS m FROM el, range(1, 65) r(i) GROUP BY cell, i),
       |c0 AS MATERIALIZED (SELECT cell, list(ROUND(m, 6) ORDER BY i) AS cv FROM d0 GROUP BY cell),
       |a1 AS MATERIALIZED (SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
       |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
       |d1 AS (SELECT cell, i, AVG(v[i]) AS m FROM a1, range(1, 65) r(i) GROUP BY cell, i),
       |c1 AS MATERIALIZED (SELECT cell, list(ROUND(m, 6) ORDER BY i) AS cv FROM d1 GROUP BY cell),
       |a2 AS MATERIALIZED (SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
       |    FROM e CROSS JOIN c1 c) WHERE rn = 1),
       |d2 AS (SELECT cell, i, AVG(v[i]) AS m FROM a2, range(1, 65) r(i) GROUP BY cell, i),
       |c2 AS MATERIALIZED (SELECT cell, list(ROUND(m, 6) ORDER BY i) AS cv FROM d2 GROUP BY cell),
       |assign AS MATERIALIZED (SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
       |    FROM e CROSS JOIN c2 c) WHERE rn = 1),
       |q AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |probes AS MATERIALIZED (SELECT qid, qv, cell, crn FROM (
       |    SELECT q.vec_id AS qid, q.v AS qv, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY (${cosSql("q.v", "c.cv")}) DESC, c.cell) AS crn
       |    FROM q CROSS JOIN c2 c) WHERE crn <= $probeMax),
       |exact AS (SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, t.vec_id AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY (${cosSql("t.v", "q.v")}) DESC, t.vec_id) AS rn
       |    FROM q JOIN e t ON t.vec_id <> q.vec_id) WHERE rn <= 5)""".stripMargin

  /** IVF top-5 candidates probing the `n` nearest cells, as a CTE named
    * `ivf$n` over the [[ivfCtes]] prefix. */
  private def ivfCandSql(n: Int): String =
    s"""ivf$n AS (SELECT qid, cid FROM (
       |    SELECT p.qid, a.vec_id AS cid,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY (${cosSql("a.v", "p.qv")}) DESC, a.vec_id) AS rn
       |    FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid AND p.crn <= $n) WHERE rn <= 5)""".stripMargin

  // Quality-score components over a frame with (text, toks) columns —
  // shared by x_text_stats and the x_llm_pipeline composition so both
  // oracles compute the identical score.
  private val stopRatioSql = {
    val stop = TextAnalysis.enStopwords.map(w => s"'$w'").mkString(", ")
    s"CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> t IN ($stop)))::DOUBLE / len(toks) END"
  }
  private val punctRatioSql =
    "CASE WHEN text IS NULL OR len(text) = 0 THEN 0.0 ELSE len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / len(text) END"
  private val qualityScoreSql =
    s"""GREATEST(0.0, LEAST(1.0,
       |   0.5 * LEAST(len(toks) / 50.0, 1.0)
       |   + 0.5 * LEAST(($stopRatioSql) * 4.0, 1.0)
       |   - 0.25 * LEAST(($punctRatioSql) * 2.0, 1.0)))""".stripMargin

  // Shared oracle CTE blocks for the NB-classifier family (train on
  // doc_id < 250, hashed 1024-bucket features) and its held-out scoring
  // — x_nb_quality_classifier, x_classifier_auc,
  // x_classifier_calibration and q_rater_agreement_kappa all replay the
  // IDENTICAL model; one definition keeps their oracles from drifting.
  private val nbModelCtes =
    s"""t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
       |bk AS (SELECT doc_id, lang,
       |         CAST(concat('0x', substr(md5(tok), 1, 10)) AS BIGINT) % 1024 AS bucket
       |       FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM t)),
       |tr AS (SELECT bucket, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |       FROM bk WHERE doc_id < 250),
       |cnt AS (SELECT bucket, SUM(pos) AS np, SUM(1 - pos) AS nn FROM tr GROUP BY bucket),
       |tot AS (SELECT SUM(pos) AS tp, SUM(1 - pos) AS tn FROM tr),
       |wt AS (SELECT bucket,
       |         LN((np + 1.0) / (tp + 1024.0)) - LN((nn + 1.0) / (tn + 1024.0)) AS w
       |       FROM cnt, tot)""".stripMargin

  /** Held-out (doc_id ≥ 250) mean-log-odds score + rounded-score frame
    * with the true label; appended after [[nbModelCtes]]. */
  private val nbHeldCtes =
    """sc AS (SELECT b.doc_id, SUM(COALESCE(wt.w, 0.0)) / COUNT(*) AS s
      |       FROM bk b LEFT JOIN wt ON b.bucket = wt.bucket
      |       WHERE b.doc_id >= 250 GROUP BY b.doc_id),
      |held AS (SELECT d.doc_id, (d.lang = 'en') AS pos,
      |           ROUND(COALESCE(sc.s, 0.0) + 1e-9, 4) AS s_r
      |         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      |         WHERE d.doc_id >= 250)""".stripMargin

  // Shared oracle CTE block for the interpolated-KN bigram model
  // (trained on the even half) scored over every document:
  // x_kn_perplexity and x_model_curation_pipeline replay the identical
  // model; ends at `sc` = one smoothed probability per document bigram.
  private val knBigramCtes =
    s"""t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
       |tb AS (SELECT unnest(${gramsSql(2)}) AS bg FROM t WHERE doc_id % 2 = 0),
       |c2 AS (SELECT string_split(bg, ' ')[1] AS w1,
       |              string_split(bg, ' ')[2] AS w2, COUNT(*) AS c2
       |       FROM tb GROUP BY 1, 2),
       |hist AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1p_fwd FROM c2 GROUP BY 1),
       |cont AS (SELECT w2, COUNT(*) AS n1p_bwd FROM c2 GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM c2) AS tt,
       |               (SELECT COUNT(DISTINCT w)
       |                FROM (SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0)) AS vv),
       |db AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1,
       |              string_split(bg, ' ')[2] AS w2
       |       FROM (SELECT doc_id, unnest(${gramsSql(2)}) AS bg FROM t)),
       |sc AS (SELECT db.doc_id,
       |         CASE WHEN h.c1 IS NOT NULL THEN
       |           GREATEST(COALESCE(b.c2, 0) - 0.75, 0.0) / h.c1
       |           + (0.75 * h.n1p_fwd / h.c1)
       |             * ((COALESCE(ct.n1p_bwd, 0) + 1.0) / (tot.tt + tot.vv + 1.0))
       |         ELSE (COALESCE(ct.n1p_bwd, 0) + 1.0) / (tot.tt + tot.vv + 1.0)
       |         END AS p
       |       FROM db LEFT JOIN c2 b ON db.w1 = b.w1 AND db.w2 = b.w2
       |         LEFT JOIN hist h ON db.w1 = h.w1
       |         LEFT JOIN cont ct ON db.w2 = ct.w2
       |         CROSS JOIN tot)""".stripMargin

  /** RBO per-pair contribution coefficient (p = 0.9, depth 5): a pair
    * first co-present at m = max(rank_a, rank_b) adds Σ_{d=m..5}
    * p^(d−1)/d (the (1−p) factor applied at the end). Written as
    * explicit 0.9 products — the identical literal arithmetic parses on
    * BOTH engines, so no pow/libm last-ulp divergence exists. */
  private val rboCoefSql: String = (1 to 5).map { m =>
    val terms = (m to 5)
      .map(d => (Seq.fill(d - 1)("0.9") :+ "1.0").mkString("*") + s" / $d")
      .mkString(" + ")
    s"WHEN $m THEN $terms"
  }.mkString("CASE m ", " ", " ELSE 0.0 END")

  /** Register every TPC-H-ish table as a temp view for the SQL-front-end
    * queries. */
  private def tpchViews(s: SparkSession, dir: String): Unit = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.region(s, dir).createOrReplaceTempView("region")
  }

  // ---- the inventory ------------------------------------------------------

  private lazy val registry: Seq[Q] = Seq(

    // S2/P1: parquet scan with filter + projection pushdown.
    Q("s2_scan_filter_project",
      Some("""SELECT event_id, user_id, value FROM events
             | WHERE event_type = 'click' AND value > 100.0
             | ORDER BY event_id""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .filter(col("event_type") === "click" && col("value") > 100.0)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")),

    // P2: JSON field extraction against a fixed schema.
    Q("p2_json_extract",
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),

    // P10: static per-type range anomaly flag, aggregated per type.
    Q("p10_range_anomaly",
      Some(s"""SELECT event_type,
              | CAST(SUM(CASE WHEN $rangeCondSql THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count,
              | COUNT(*) AS total
              | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .withColumn("f", Silver.rangeFlag(col("event_type"), col("value"),
          Schemas.eventValueRanges))
        .groupBy("event_type")
        .agg(sum(when(col("f"), 1L).otherwise(0L)).as("anomaly_count"),
          count(lit(1)).as("total"))
        .orderBy("event_type")),

    // W1: keep-latest dedup via ranking window with total-order tie-break.
    Q("w1_dedup_latest",
      Some("""SELECT user_id, event_type, event_id, value,
             | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
             | FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             |                                    ORDER BY ts DESC, event_id DESC) AS rn
             |       FROM events)
             | WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),
      (s, dir) => Silver.dedupLatest(Tables.events(s, dir),
          Seq("user_id", "event_type"), Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"),
          ftsU(col("ts")).as("ts_str"))
        .orderBy("user_id", "event_type")),

    // W2/W3: rolling mean/stddev frame + z-score anomaly merge.
    Q("w2_w3_zscore_anomaly",
      Some(s"""WITH w AS (
              |  SELECT event_id, value, $rangeCondSql AS range_anom,
              |         AVG(value) OVER win AS ravg,
              |         STDDEV_SAMP(value) OVER win AS rstd
              |  FROM events
              |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
              |                 ROWS BETWEEN 100 PRECEDING AND CURRENT ROW))
              |SELECT event_id, ROUND(ravg + 1e-9, 4) AS rolling_avg,
              | ROUND((CASE WHEN rstd IS NULL OR rstd <= 0 THEN 0.0
              |            ELSE ABS((value - ravg) / rstd) END) + 1e-9, 4) AS zscore,
              | CASE WHEN range_anom OR
              |      (CASE WHEN rstd IS NULL OR rstd <= 0 THEN 0.0
              |            ELSE ABS((value - ravg) / rstd) END) > 3.0
              |      THEN TRUE ELSE FALSE END AS is_anomaly
              |FROM w ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val flagged = Silver.zscoreFlags(
          Tables.events(s, dir).withColumn("is_anomaly",
            Silver.rangeFlag(col("event_type"), col("value"), Schemas.eventValueRanges)),
          Seq("user_id"), Seq(col("ts").asc, col("event_id").asc), "value")
        flagged.select(col("event_id"),
          R(col("rolling_avg")).as("rolling_avg"),
          R(col("zscore")).as("zscore"),
          col("is_anomaly"))
          .orderBy("event_id")
      }),

    // A1: tumbling 5-minute per-sensor aggregation with exact percentiles.
    Q("a1_window_5min",
      Some(s"""SELECT CAST(user_id AS VARCHAR) AS sensor_id, event_type AS sensor_type,
              | strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
              | strftime(time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
              | $statsSelectSql
              | FROM events
              | GROUP BY 1, 2, time_bucket(INTERVAL '5 minutes', ts)
              | ORDER BY 1, 2, 3""".stripMargin),
      (s, dir) => {
        val b = Tables.eventsAsReadings(Tables.events(s, dir))
        Gold.windowAgg(b, Seq("sensor_id", "sensor_type"), "event_time", "value",
            "5 minutes")
          .select(Seq(col("sensor_id"), col("sensor_type"),
            fts(col("window_start")).as("window_start"),
            fts(col("window_end")).as("window_end")) ++ statsSelectCols: _*)
          .orderBy("sensor_id", "sensor_type", "window_start")
      }),

    // A1-ext: sliding (hopping) windows — 10-minute windows every 5
    // minutes, so each event lands in exactly two. The oracle expands each
    // row to its two covering window starts; Spark's window(slide) emits
    // the same assignment natively.
    Q("a_sliding_window",
      Some("""WITH e AS (SELECT ts, value, time_bucket(INTERVAL '5 minutes', ts) AS b FROM events),
             |w AS (SELECT ts, value, unnest([b, b - INTERVAL '5 minutes']) AS ws FROM e)
             |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
             |  strftime(ws + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
             |  COUNT(*) AS n, ROUND(AVG(value) + 1e-9, 4) AS avg_value,
             |  MIN(value) AS min_value, MAX(value) AS max_value
             |FROM w GROUP BY ws ORDER BY ws""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"), R(avg(col("value"))).as("avg_value"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .select(fts(col("w.start")).as("window_start"),
          fts(col("w.end")).as("window_end"),
          col("n"), col("avg_value"), col("min_value"), col("max_value"))
        .orderBy("window_start")),

    // A2: derived post-agg health percentage.
    Q("a2_health_pct",
      Some("""SELECT CAST(user_id AS VARCHAR) AS sensor_id, event_type AS sensor_type,
             | strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             | COUNT(*) AS reading_count,
             | ROUND(COUNT(*) * 100.0 / 300 + 1e-9, 4) AS sensor_health_pct
             | FROM events GROUP BY 1, 2, time_bucket(INTERVAL '5 minutes', ts)
             | ORDER BY 1, 2, 3""".stripMargin),
      (s, dir) => {
        val b = Tables.eventsAsReadings(Tables.events(s, dir))
        Gold.withHealthPct(
            Gold.windowAgg(b, Seq("sensor_id", "sensor_type"), "event_time",
              "value", "5 minutes"))
          .select(col("sensor_id"), col("sensor_type"),
            fts(col("window_start")).as("window_start"),
            col("reading_count"),
            R(col("sensor_health_pct")).as("sensor_health_pct"))
          .orderBy("sensor_id", "sensor_type", "window_start")
      }),

    // A3: hourly per-location aggregation + countDistinct.
    Q("a3_hourly_location",
      Some(s"""SELECT $zoneSql AS location, event_type AS sensor_type,
              | strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
              | strftime(date_trunc('hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS hour_end,
              | $statsSelectSql,
              | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_sensor_count
              | FROM events
              | GROUP BY 1, 2, date_trunc('hour', ts)
              | ORDER BY 1, 2, 3""".stripMargin),
      (s, dir) => {
        val b = Tables.eventsAsReadings(Tables.events(s, dir))
        Gold.locationHourly(b, "location", "sensor_type", "event_time", "value",
            "sensor_id")
          .select(Seq(col("location"), col("sensor_type"),
            fts(col("hour_start")).as("hour_start"),
            fts(col("hour_end")).as("hour_end")) ++ statsSelectCols :+
            col("unique_sensor_count"): _*)
          .orderBy("location", "sensor_type", "hour_start")
      }),

    // A4: daily summary with conditional anomaly count.
    Q("a4_daily_summary",
      Some(s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date_str,
              | event_type AS sensor_type,
              | ROUND(AVG(value) + 1e-9, 4) AS avg_value, MIN(value) AS min_value,
              | MAX(value) AS max_value, COUNT(*) AS total_readings,
              | ROUND(STDDEV_SAMP(value) + 1e-9, 4) AS stddev_value,
              | CAST(SUM(CASE WHEN $rangeCondSql THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count,
              | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_sensor_count
              | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val b = Silver.rangeAnomaly(
          Tables.eventsAsReadings(Tables.events(s, dir)).withColumnRenamed("sensor_type", "event_type"),
          "event_type", "value", Schemas.eventValueRanges)
        Gold.dailySummary(b, "event_type", "event_time", "value", "sensor_id")
          .select(col("date_str"), col("event_type").as("sensor_type"),
            R(col("avg_value")).as("avg_value"), col("min_value"), col("max_value"),
            col("total_readings"), R(col("stddev_value")).as("stddev_value"),
            col("anomaly_count"), col("unique_sensor_count"))
          .orderBy("date_str", "sensor_type")
      }),

    // U1: late-data merge (union-by-name + keep-latest re-dedup).
    Q("u1_late_merge",
      Some("""WITH late AS (
             |  SELECT user_id, ts, value + 1000 AS value, event_id + 10000000 AS event_id
             |  FROM events WHERE event_type = 'error'),
             |all_rows AS (
             |  SELECT user_id, ts, value, event_id FROM events
             |  UNION ALL SELECT user_id, ts, value, event_id FROM late),
             |d AS (SELECT *, row_number() OVER (PARTITION BY user_id, ts
             |                                   ORDER BY event_id DESC) AS rn
             |      FROM all_rows)
             |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
             |       event_id, value
             |FROM d WHERE rn = 1 ORDER BY user_id, ts_str""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir).select("user_id", "ts", "value", "event_id")
        val late = Tables.events(s, dir).filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), (col("value") + 1000).as("value"),
            (col("event_id") + 10000000L).as("event_id"))
        Silver.mergeLateData(ev, late, Seq("user_id", "ts"), Seq(col("event_id").desc))
          .select(col("user_id"), ftsU(col("ts")).as("ts_str"), col("event_id"),
            col("value"))
          .orderBy("user_id", "ts_str")
      }),

    // A-family on TPC-H: classic pricing-summary aggregation (decimal-exact
    // sums; rounded double averages).
    Q("agg_tpch_q1_pricing",
      // Decimal sums are emitted as canonical strings: DECIMAL(38,6) values
      // fail the driver's hash canonicalization even when bit-identical, and
      // the plain scale-6 string form ("1.500000") is identical in Spark
      // (BigDecimal.toString) and DuckDB (decimal→varchar).
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_qty,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_base_price,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_disc_price,
             | ROUND(AVG(l_quantity) + 1e-9, 4) AS avg_qty,
             | ROUND(AVG(l_extendedprice) + 1e-9, 4) AS avg_price,
             | ROUND(AVG(l_discount) + 1e-9, 4) AS avg_disc,
             | COUNT(*) AS count_order
             | FROM lineitem
             | WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             | GROUP BY l_returnflag, l_linestatus
             | ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,6)")
            .cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(38,6)")
            .cast("string").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(38,6)").cast("string").as("sum_disc_price"),
          R(avg(col("l_quantity"))).as("avg_qty"),
          R(avg(col("l_extendedprice"))).as("avg_price"),
          R(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // J3: star join (fact ⋈ dims, broadcast dims) + aggregation.
    Q("j3_star_join_revenue",
      Some("""SELECT c_mktsegment,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
             | CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS order_count,
             | COUNT(*) AS line_count
             | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |               JOIN customer ON o_custkey = c_custkey
             | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(38,6)").cast("string").as("revenue"),
          countDistinct(col("o_orderkey")).as("order_count"),
          count(lit(1)).as("line_count"))
        .orderBy("c_mktsegment")),

    // J-semi: EXISTS.
    Q("j_semi_customers_with_orders",
      Some("""SELECT c_custkey, c_name FROM customer
             | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             | ORDER BY c_custkey""".stripMargin),
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // J-anti: NOT EXISTS.
    Q("j_anti_customers_without_orders",
      Some("""SELECT c_custkey, c_name FROM customer
             | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             | ORDER BY c_custkey""".stripMargin),
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // J-left: left outer join + per-key aggregation.
    Q("j_left_order_counts",
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS order_count,
             | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS total_spend
             | FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             | GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("order_count"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,6)")
            .cast("string").as("total_spend"))
        .orderBy("c_custkey")),

    // Sort/limit: deterministic top-k.
    Q("sort_topk_orders",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             | ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
      (s, dir) => Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_totalprice")),

    // Set ops (beyond the reference's union: intersect/except coverage).
    Q("set_intersect_nations",
      Some("""SELECT c_nationkey AS nationkey FROM customer
             | INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin),
      (s, dir) => Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    Q("set_except_nations",
      Some("""SELECT n_nationkey AS nationkey FROM nation
             | EXCEPT SELECT c_nationkey FROM customer ORDER BY nationkey""".stripMargin),
      (s, dir) => Tables.nation(s, dir).select(col("n_nationkey").as("nationkey"))
        .except(Tables.customer(s, dir).select(col("c_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    // L3: calendar dimension seed, generated distributed.
    Q("l3_dim_time_seed",
      Some("""SELECT i + 1 AS time_key,
             | strftime(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS ts_str,
             | CAST(EXTRACT(hour FROM TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 hour') AS INT) AS hour,
             | CAST(EXTRACT(day FROM TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 hour') AS INT) AS day,
             | CAST(EXTRACT(month FROM TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 hour') AS INT) AS month,
             | CAST(EXTRACT(year FROM TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 hour') AS INT) AS year,
             | CAST(dayofweek(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 hour') + 1 AS INT) AS day_of_week,
             | dayofweek(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 hour') IN (0, 6) AS is_weekend
             | FROM range(0, 26280) t(i) ORDER BY time_key""".stripMargin),
      (s, dir) => Warehouse.dimTime(s, "2024-01-01 00:00:00", 26280)
        .select(col("time_key"), fts(col("full_timestamp")).as("ts_str"),
          col("hour"), col("day"), col("month"), col("year"), col("day_of_week"),
          col("is_weekend"))
        .orderBy("time_key")),

    // W-diff: row-level reconciliation of a table vs its snapshot — the
    // backfill/CDC validation primitive. The snapshot is synthesized
    // deterministically from customer: keys ≡3 (mod 17) dropped (→
    // 'added'), segment rewritten for ≡5 (mod 13) (→ 'changed'), ghost
    // keys +1e8 for ≡11 (mod 23) (→ 'removed'). One key-shuffle
    // full-outer join; identical rows never leave the join.
    Q("w_table_diff",
      Some("""WITH cur AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
             |snap AS (
             |  SELECT c_custkey, c_name,
             |    CASE WHEN c_custkey % 13 = 5 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment,
             |    c_acctbal
             |  FROM customer WHERE c_custkey % 17 <> 3
             |  UNION ALL
             |  SELECT c_custkey + 100000000, c_name, c_mktsegment, c_acctbal
             |  FROM customer WHERE c_custkey % 23 = 11),
             |j AS (SELECT COALESCE(cur.c_custkey, snap.c_custkey) AS c_custkey,
             |        CASE WHEN snap.c_custkey IS NULL THEN 'added'
             |             WHEN cur.c_custkey IS NULL THEN 'removed'
             |             WHEN NOT (cur.c_name IS NOT DISTINCT FROM snap.c_name)
             |               OR NOT (cur.c_mktsegment IS NOT DISTINCT FROM snap.c_mktsegment)
             |               OR NOT (cur.c_acctbal IS NOT DISTINCT FROM snap.c_acctbal)
             |             THEN 'changed' END AS change_type
             |      FROM cur FULL OUTER JOIN snap ON cur.c_custkey = snap.c_custkey)
             |SELECT c_custkey, change_type FROM j
             |WHERE change_type IS NOT NULL ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        val snapshot = cust.filter(col("c_custkey") % 17 =!= 3)
          .withColumn("c_mktsegment",
            when(col("c_custkey") % 13 === 5, lit("CHANGED"))
              .otherwise(col("c_mktsegment")))
          .unionByName(cust.filter(col("c_custkey") % 23 === 11)
            .withColumn("c_custkey", col("c_custkey") + 100000000L))
        Warehouse.tableDiff(cust, snapshot, "c_custkey",
            Seq("c_name", "c_mktsegment", "c_acctbal"))
          .orderBy("c_custkey")
      }),

    // J1/L2: idempotent dimension upsert via full-outer join.
    Q("j1_dim_upsert",
      Some(s"""WITH dim AS (
              |  SELECT CAST(user_id AS VARCHAR) AS sensor_id, MAX(event_type) AS sensor_type,
              |         MAX($zoneSql) AS location, MIN(ts) AS first_seen, MAX(ts) AS last_seen
              |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
              |staging AS (
              |  SELECT CAST(user_id AS VARCHAR) AS sensor_id, MAX(event_type) AS sensor_type,
              |         MAX($zoneSql) AS location, MIN(ts) AS first_seen, MAX(ts) AS last_seen
              |  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1)
              |SELECT COALESCE(s.sensor_id, d.sensor_id) AS sensor_id,
              |       COALESCE(s.sensor_type, d.sensor_type) AS sensor_type,
              |       COALESCE(s.location, d.location) AS location,
              |       strftime(COALESCE(d.first_seen, s.first_seen), '%Y-%m-%d %H:%M:%S.%f') AS first_seen,
              |       strftime(CASE WHEN s.last_seen IS NULL THEN d.last_seen
              |                     WHEN d.last_seen IS NULL THEN s.last_seen
              |                     ELSE GREATEST(d.last_seen, s.last_seen) END, '%Y-%m-%d %H:%M:%S.%f') AS last_seen
              |FROM dim d FULL OUTER JOIN staging s ON d.sensor_id = s.sensor_id
              |ORDER BY sensor_id""".stripMargin),
      (s, dir) => {
        val readings = Tables.eventsAsReadings(Tables.events(s, dir))
        def half(pred: Column): DataFrame = readings.filter(pred)
          .groupBy("sensor_id")
          .agg(max(col("sensor_type")).as("sensor_type"),
            max(col("location")).as("location"),
            min(col("event_time")).as("first_seen"),
            max(col("event_time")).as("last_seen"))
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val dim = half(col("event_time") < cut)
        val staging = half(col("event_time") >= cut)
        Warehouse.upsertDim(dim, staging, "sensor_id",
            stagingWins = Seq("sensor_type", "location"),
            dimWins = Seq("first_seen"), maxMergeCols = Seq("last_seen"))
          .select(col("sensor_id"), col("sensor_type"), col("location"),
            ftsU(col("first_seen")).as("first_seen"),
            ftsU(col("last_seen")).as("last_seen"))
          .orderBy("sensor_id")
      }),

    // Q1-Q9: the whole quality suite as one single-pass aggregate.
    Q("quality_suite_events",
      Some(s"""SELECT COUNT(*) AS _total,
              | CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_user_id,
              | CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_ts,
              | CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_value,
              | CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase','signup','error')
              |                 OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS domain_event_type,
              | CAST(SUM(CASE WHEN ${rangeCondSqlFor(Schemas.eventPhysicalRanges)} THEN 1 ELSE 0 END) AS BIGINT) AS physical_range,
              | CAST(SUM(CASE WHEN props IS NULL OR NOT regexp_matches(props, '^\\{"k": \\d+\\}$$')
              |               THEN 1 ELSE 0 END) AS BIGINT) AS regex_props,
              | CAST(CASE WHEN AVG(CASE WHEN value IS NULL THEN 1 ELSE 0 END) > 0.01
              |           THEN 1 ELSE 0 END AS BIGINT) AS null_rate_value
              | FROM events""".stripMargin),
      (s, dir) => Quality.suiteDf(Tables.events(s, dir),
        Quality.notNull(Seq("user_id", "ts", "value")) ++ Seq(
          Quality.inSet("event_type", Seq("click", "view", "purchase", "signup", "error")),
          Quality.perTypeRange("event_type", "value", Schemas.eventPhysicalRanges),
          Quality.regexMatch("props", "^\\{\"k\": \\d+\\}$")) ++
          Quality.nullRate(Seq("value"), 0.01))),

    // Q-profile: schema-generic one-pass data profiling (deequ-style) —
    // per-column null/distinct counts, numeric min/max/avg, string length
    // stats, emitted long-format. The Spark side derives the aggregate
    // list from the schema; the oracle spells the same metrics out.
    Q("q_profile_events",
      Some("""WITH s AS (SELECT
             |  count(*)::DOUBLE AS t_rows,
             |  sum((event_id IS NULL)::INT)::DOUBLE AS ei_nn, count(DISTINCT event_id)::DOUBLE AS ei_nd,
             |  min(event_id)::DOUBLE AS ei_min, max(event_id)::DOUBLE AS ei_max,
             |  ROUND(avg(event_id) + 1e-9, 4) AS ei_avg,
             |  sum((ts IS NULL)::INT)::DOUBLE AS ts_nn, count(DISTINCT ts)::DOUBLE AS ts_nd,
             |  sum((user_id IS NULL)::INT)::DOUBLE AS ui_nn, count(DISTINCT user_id)::DOUBLE AS ui_nd,
             |  min(user_id)::DOUBLE AS ui_min, max(user_id)::DOUBLE AS ui_max,
             |  ROUND(avg(user_id) + 1e-9, 4) AS ui_avg,
             |  sum((event_type IS NULL)::INT)::DOUBLE AS et_nn, count(DISTINCT event_type)::DOUBLE AS et_nd,
             |  min(len(event_type))::DOUBLE AS et_minl, max(len(event_type))::DOUBLE AS et_maxl,
             |  ROUND(avg(len(event_type)) + 1e-9, 4) AS et_avgl,
             |  sum((value IS NULL)::INT)::DOUBLE AS v_nn, count(DISTINCT value)::DOUBLE AS v_nd,
             |  min(value)::DOUBLE AS v_min, max(value)::DOUBLE AS v_max,
             |  ROUND(avg(value) + 1e-9, 4) AS v_avg,
             |  sum((props IS NULL)::INT)::DOUBLE AS p_nn, count(DISTINCT props)::DOUBLE AS p_nd,
             |  min(len(props))::DOUBLE AS p_minl, max(len(props))::DOUBLE AS p_maxl,
             |  ROUND(avg(len(props)) + 1e-9, 4) AS p_avgl
             |  FROM events)
             |SELECT * FROM (
             |  SELECT '_table' AS column_name, 'n_rows' AS metric, t_rows AS value FROM s
             |  UNION ALL SELECT 'event_id', 'n_null', ei_nn FROM s
             |  UNION ALL SELECT 'event_id', 'n_distinct', ei_nd FROM s
             |  UNION ALL SELECT 'event_id', 'min', ei_min FROM s
             |  UNION ALL SELECT 'event_id', 'max', ei_max FROM s
             |  UNION ALL SELECT 'event_id', 'avg', ei_avg FROM s
             |  UNION ALL SELECT 'ts', 'n_null', ts_nn FROM s
             |  UNION ALL SELECT 'ts', 'n_distinct', ts_nd FROM s
             |  UNION ALL SELECT 'user_id', 'n_null', ui_nn FROM s
             |  UNION ALL SELECT 'user_id', 'n_distinct', ui_nd FROM s
             |  UNION ALL SELECT 'user_id', 'min', ui_min FROM s
             |  UNION ALL SELECT 'user_id', 'max', ui_max FROM s
             |  UNION ALL SELECT 'user_id', 'avg', ui_avg FROM s
             |  UNION ALL SELECT 'event_type', 'n_null', et_nn FROM s
             |  UNION ALL SELECT 'event_type', 'n_distinct', et_nd FROM s
             |  UNION ALL SELECT 'event_type', 'min_len', et_minl FROM s
             |  UNION ALL SELECT 'event_type', 'max_len', et_maxl FROM s
             |  UNION ALL SELECT 'event_type', 'avg_len', et_avgl FROM s
             |  UNION ALL SELECT 'value', 'n_null', v_nn FROM s
             |  UNION ALL SELECT 'value', 'n_distinct', v_nd FROM s
             |  UNION ALL SELECT 'value', 'min', v_min FROM s
             |  UNION ALL SELECT 'value', 'max', v_max FROM s
             |  UNION ALL SELECT 'value', 'avg', v_avg FROM s
             |  UNION ALL SELECT 'props', 'n_null', p_nn FROM s
             |  UNION ALL SELECT 'props', 'n_distinct', p_nd FROM s
             |  UNION ALL SELECT 'props', 'min_len', p_minl FROM s
             |  UNION ALL SELECT 'props', 'max_len', p_maxl FROM s
             |  UNION ALL SELECT 'props', 'avg_len', p_avgl FROM s)
             |ORDER BY column_name, metric""".stripMargin),
      (s, dir) => graft.quality.Profile.profile(Tables.events(s, dir))),

    // Monitoring: declarative alert thresholds with Prometheus-style
    // pending→firing lifecycle over a gap-filled hourly metric series
    // (reference: monitoring/prometheus/alert_rules.yml).
    Q("m_alert_eval",
      Some("""WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
             |                       date_trunc('hour', max(ts)) AS h1 FROM events),
             | hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS window_start FROM bounds),
             | agg AS (SELECT date_trunc('hour', ts) AS window_start,
             |                count(*)::DOUBLE AS events_total,
             |                avg(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END) AS error_rate,
             |                avg(value) AS avg_value
             |         FROM events GROUP BY 1),
             | base AS (SELECT h.window_start,
             |                 COALESCE(a.events_total, 0.0) AS events_total,
             |                 COALESCE(a.error_rate, 0.0) AS error_rate,
             |                 COALESCE(a.avg_value, 0.0) AS avg_value
             |          FROM hours h LEFT JOIN agg a USING (window_start)),
             | m AS (SELECT window_start, 'events_total' AS metric, events_total AS value FROM base
             |       UNION ALL SELECT window_start, 'error_rate', error_rate FROM base
             |       UNION ALL SELECT window_start, 'avg_value', avg_value FROM base),
             | rules(alert, severity, metric, op, threshold, fw) AS (VALUES
             |   ('high_volume', 'warning', 'events_total', '>', 20.0, 2),
             |   ('error_rate_spike', 'critical', 'error_rate', '>', 0.3, 1),
             |   ('producer_down', 'critical', 'events_total', '<=', 0.0, 1),
             |   ('value_drift', 'warning', 'avg_value', '>', 75.0, 1)),
             | br AS (SELECT r.alert, r.severity, m.window_start, m.value, r.fw,
             |               CAST(epoch_us(m.window_start) // 3600000000 AS BIGINT) AS h
             |        FROM m JOIN rules r ON m.metric = r.metric
             |        WHERE (r.op = '>' AND m.value > r.threshold)
             |           OR (r.op = '>=' AND m.value >= r.threshold)
             |           OR (r.op = '<' AND m.value < r.threshold)
             |           OR (r.op = '<=' AND m.value <= r.threshold)),
             | isl AS (SELECT *, h - row_number() OVER (PARTITION BY alert ORDER BY window_start) AS island FROM br),
             | st AS (SELECT alert, severity, window_start, value, fw,
             |               CAST(row_number() OVER (PARTITION BY alert, island ORDER BY window_start) AS BIGINT) AS streak
             |        FROM isl)
             | SELECT alert, severity,
             |        strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
             |        ROUND(value + 1e-9, 4) AS value, streak,
             |        CASE WHEN streak >= fw THEN 'firing' ELSE 'pending' END AS state
             | FROM st ORDER BY alert, window_start""".stripMargin),
      (s, dir) => Alerts.evaluate(
        Alerts.hourlyEventMetrics(Tables.events(s, dir)), Alerts.defaultRules)),

    // Scalar-function surface: date/time extraction, CASE bands, math.
    Q("p_scalar_datetime_math",
      Some("""SELECT event_id,
             | CAST(EXTRACT(hour FROM ts) AS INT) AS h,
             | CAST(EXTRACT(day FROM ts) AS INT) AS d,
             | CAST(EXTRACT(month FROM ts) AS INT) AS mo,
             | CAST(EXTRACT(year FROM ts) AS INT) AS y,
             | CAST(dayofweek(ts) + 1 AS INT) AS dow,
             | ABS(value - 50.0) AS dist50,
             | CASE WHEN value > 100.0 THEN 'high' WHEN value > 50.0 THEN 'mid' ELSE 'low' END AS band,
             | CAST(FLOOR(value) AS BIGINT) AS vfloor,
             | GREATEST(value, 50.0) AS vmax50, LEAST(value, 50.0) AS vmin50,
             | UPPER(event_type) AS type_upper, SUBSTRING(event_type, 1, 3) AS type3,
             | CONCAT(event_type, '-', CAST(user_id AS VARCHAR)) AS type_user
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => Tables.events(s, dir).select(
        col("event_id"),
        hour(col("ts")).as("h"),
        dayofmonth(col("ts")).as("d"),
        month(col("ts")).as("mo"),
        year(col("ts")).as("y"),
        dayofweek(col("ts")).as("dow"),
        abs(col("value") - 50.0).as("dist50"),
        when(col("value") > 100.0, "high").when(col("value") > 50.0, "mid")
          .otherwise("low").as("band"),
        floor(col("value")).as("vfloor"),
        greatest(col("value"), lit(50.0)).as("vmax50"),
        least(col("value"), lit(50.0)).as("vmin50"),
        upper(col("event_type")).as("type_upper"),
        substring(col("event_type"), 1, 3).as("type3"),
        concat(col("event_type"), lit("-"), col("user_id").cast("string")).as("type_user"))
        .orderBy("event_id")),

    // ---- LLM-data extension operators (documents / embeddings) ----------

    // X-text: token counting (whitespace + BPE-ish), punctuation/stopword
    // ratios, mean token length, composite quality score.
    Q("x_text_stats",
      Some {
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
           |SELECT doc_id,
           | CAST(len(toks) AS INT) AS n_tokens,
           | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish,
           | ROUND($punctRatioSql + 1e-9, 4) AS punct_ratio,
           | ROUND($stopRatioSql + 1e-9, 4) AS stopword_ratio,
           | ROUND((CASE WHEN len(toks) = 0 THEN 0.0 ELSE list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks) END) + 1e-9, 4) AS mean_token_len,
           | ROUND(($qualityScoreSql) + 1e-9, 4) AS quality_score
           |FROM t ORDER BY doc_id""".stripMargin
      },
      (s, dir) => Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        R(TextAnalysis.punctRatio(col("text"))).as("punct_ratio"),
        R(TextAnalysis.stopwordRatio(col("text"))).as("stopword_ratio"),
        R(TextAnalysis.meanTokenLen(col("text"))).as("mean_token_len"),
        R(TextAnalysis.qualityScore(col("text"))).as("quality_score"))
        .orderBy("doc_id")),

    // X-lang: heuristic stopword-vote language ID.
    Q("x_lang_id",
      Some {
        val cs = TextAnalysis.langStopwords.map { case (l, sw) =>
          s"${listFilterSql(sw)} AS c_$l"
        }.mkString(",\n  ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |c AS (SELECT doc_id,
           |  $cs
           | FROM t)
           |SELECT doc_id, CASE WHEN GREATEST(c_en, c_de, c_fr, c_es) <= 0 THEN 'und'
           |  WHEN c_es > GREATEST(c_en, c_de, c_fr) THEN 'es'
           |  WHEN c_fr > GREATEST(c_en, c_de) THEN 'fr'
           |  WHEN c_de > c_en THEN 'de' ELSE 'en' END AS lang
           |FROM c ORDER BY doc_id""".stripMargin
      },
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
        .orderBy("doc_id")),

    // X-dedup-exact: md5-fingerprint groups (hash-groupBy dedup).
    Q("x_fingerprint_dedup",
      Some(s"""SELECT md5($normSql) AS fingerprint, MIN(doc_id) AS keep_id,
              | COUNT(*) AS n_dups
              | FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("fingerprint")),

    // Normalized (robust near-exact) dedup — the CCNet normalization
    // stage: case, punctuation, digit values, and whitespace are
    // presentation noise, so variants differing only in those collapse
    // to one survivor. Demonstrated against a deterministic perturbed
    // copy of the corpus (uppercased, punctuation-injected, re-spaced):
    // every perturbed doc must be absorbed by its original.
    Q("x_normalized_dedup",
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |pert AS (SELECT doc_id + 10000 AS doc_id,
             |           '  ' || upper(text) || ' !!!' AS text FROM base),
             |a AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
             |n AS (SELECT doc_id, md5(trim(regexp_replace(
             |        regexp_replace(lower(text), '[0-9]', '0', 'g'),
             |        '[^a-z0-9]+', ' ', 'g'))) AS fp FROM a),
             |g AS (SELECT fp, min(doc_id) AS doc_id, count(*) AS n_dups
             |      FROM n GROUP BY 1)
             |SELECT doc_id, n_dups FROM g ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val base = Tables.documents(s, dir).select("doc_id", "text")
        val pert = base.select((col("doc_id") + lit(10000L)).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !!!")).as("text"))
        graft.ext.Dedup
          .normalizedDedup(base.unionByName(pert), "text", "doc_id")
          .select("doc_id", "n_dups").orderBy("doc_id")
      }),

    // Per-source ADAPTIVE quality gate: each source cut at its OWN p25
    // quality quantile instead of one global threshold — the cutoff
    // table is sources-sized and broadcasts back; the corpus never
    // re-shuffles by source.
    Q("x_adaptive_quality_gate",
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks, text
              |           FROM documents),
              |q AS (SELECT doc_id, source,
              |        ROUND(($qualityScoreSql) + 1e-9, 4) AS rq FROM t),
              |c AS (SELECT source,
              |        ROUND(quantile_cont(rq, 0.25) + 1e-9, 4) AS cutoff
              |      FROM q GROUP BY 1),
              |k AS (SELECT q.source, q.rq, c.cutoff
              |      FROM q JOIN c USING (source) WHERE q.rq >= c.cutoff)
              |SELECT source, cutoff, COUNT(*) AS n_kept,
              |       ROUND(AVG(rq) + 1e-9, 4) AS avg_q
              |FROM k GROUP BY 1, 2 ORDER BY source""".stripMargin),
      (s, dir) => graft.ext.Curate
        .adaptiveQualityGate(Tables.documents(s, dir), "source", "text",
          pct = 0.25)
        .groupBy("source", "cutoff")
        .agg(count(lit(1)).as("n_kept"),
          round(avg("quality") + lit(1e-9), 4).as("avg_q"))
        .orderBy("source")),

    // Token-budget corpus selection: the best documents by quality until
    // 25% of the corpus's tokens are spent — rank + prefix-sum WITHOUT a
    // global sort (exact-4dp-quality tie blocks, fat blocks range-split
    // on frozen id boundaries, one broadcast two-level offset table; see
    // Sampling.tokenBudgetSelect — task size bounded under ANY quality
    // distribution).
    Q("x_token_budget_select",
      Some(s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks, text
              |            FROM documents),
              |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tok_n,
              |        ROUND(($qualityScoreSql) + 1e-9, 4) AS rq FROM t0),
              |b AS (SELECT CAST(FLOOR(0.25 * SUM(tok_n)) AS BIGINT)
              |        AS budget FROM t),
              |c AS (SELECT doc_id, tok_n,
              |        CAST(SUM(tok_n) OVER (ORDER BY rq DESC, doc_id)
              |          AS BIGINT) AS cum_tokens FROM t)
              |SELECT c.doc_id, c.tok_n, c.cum_tokens
              |FROM c, b WHERE c.cum_tokens <= b.budget
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => graft.ext.Sampling
        .tokenBudgetSelect(Tables.documents(s, dir), "text", "doc_id",
          budgetFrac = 0.25)
        .orderBy("doc_id")),

    // The same selection FORCED through the fat-block path: a tiny
    // maxBucketRows makes every populated 4-dp quality tie block split
    // into frozen id ranges, so the two-level composition is gated
    // hash-exact against the identical global-order oracle on real data
    // (the default-path cell above never exercises the split at test
    // scale). Identical results from a different execution shape IS the
    // de-skew claim under test.
    Q("x_token_budget_select_skew",
      Some(s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks, text
              |            FROM documents),
              |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tok_n,
              |        ROUND(($qualityScoreSql) + 1e-9, 4) AS rq FROM t0),
              |b AS (SELECT CAST(FLOOR(0.25 * SUM(tok_n)) AS BIGINT)
              |        AS budget FROM t),
              |c AS (SELECT doc_id, tok_n,
              |        CAST(SUM(tok_n) OVER (ORDER BY rq DESC, doc_id)
              |          AS BIGINT) AS cum_tokens FROM t)
              |SELECT c.doc_id, c.tok_n, c.cum_tokens
              |FROM c, b WHERE c.cum_tokens <= b.budget
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => graft.ext.Sampling
        .tokenBudgetSelect(Tables.documents(s, dir), "text", "doc_id",
          budgetFrac = 0.25, maxBucketRows = 8L)
        .orderBy("doc_id")),

    // The skew-forced selection on STRING ids — the realistic corpus-id
    // shape (URLs, hex hashes). Casting doc_id to string makes the
    // contract order LEXICOGRAPHIC ("10" < "2"), deliberately disagreeing
    // with numeric order, and the tiny maxBucketRows forces every tie
    // block through the frozen STRING-boundary range split (engine-sorted
    // md5-sampled boundaries, string `>` composition) — hash-exactness
    // against the string-ordered global oracle IS the r18 de-skew claim
    // for string keys. budgetFrac = 0.3984375 (= 51/128), NOT 0.25:
    // measured at both sf0.01 and sf0.1 (r19 DuckDB scan of dyadic
    // fractions), it lands the budget boundary INSIDE a quality tie
    // block (the numeric- and string-ordered selections differ by 2-9
    // documents there), so this gate actually distinguishes the
    // composition orders — at 0.25 the boundary falls on a tie-block
    // edge and any within-block order would pass. Binary-exact matters:
    // DuckDB computes FLOOR(frac*SUM) in exact decimal while Spark
    // floors a double product; 51/128 times an integer total is exact
    // in double (51*total < 2^53), so the two budgets agree for ANY
    // corpus — the r18 0.40 constant could differ by one token when
    // 0.4*total landed on an integer.
    Q("x_token_budget_select_skew_str",
      Some(s"""WITH t0 AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              |              $toksSql AS toks, text
              |            FROM documents),
              |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tok_n,
              |        ROUND(($qualityScoreSql) + 1e-9, 4) AS rq FROM t0),
              |b AS (SELECT CAST(FLOOR(0.3984375 * SUM(tok_n)) AS BIGINT)
              |        AS budget FROM t),
              |c AS (SELECT doc_id, tok_n,
              |        CAST(SUM(tok_n) OVER (ORDER BY rq DESC, doc_id)
              |          AS BIGINT) AS cum_tokens FROM t)
              |SELECT c.doc_id, c.tok_n, c.cum_tokens
              |FROM c, b WHERE c.cum_tokens <= b.budget
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => graft.ext.Sampling
        .tokenBudgetSelect(
          Tables.documents(s, dir)
            .withColumn("doc_id", col("doc_id").cast("string")),
          "text", "doc_id", budgetFrac = 0.3984375, maxBucketRows = 8L)
        .orderBy("doc_id")),

    // Distribution drift (PSI) per event type between the month's halves:
    // fixed [0,500)x10 buckets, Laplace-smoothed, sparse-bucket
    // convention mirrored exactly in the oracle.
    Q("m_drift_psi",
      Some("""WITH b AS (SELECT event_type,
             |   LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INT), 0), 9) AS bucket,
             |   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
             | FROM events),
             |c AS (SELECT event_type, bucket, SUM(is_ref) AS c_ref,
             |        SUM(1 - is_ref) AS c_cur FROM b GROUP BY 1, 2),
             |t AS (SELECT event_type, c_ref, c_cur,
             |        SUM(c_ref) OVER (PARTITION BY event_type) AS n_ref,
             |        SUM(c_cur) OVER (PARTITION BY event_type) AS n_cur FROM c)
             |SELECT event_type,
             | CAST(MAX(n_ref) AS BIGINT) AS n_ref, CAST(MAX(n_cur) AS BIGINT) AS n_cur,
             | ROUND(SUM(((c_ref + 0.5) / (n_ref + 5.0) - (c_cur + 0.5) / (n_cur + 5.0))
             |   * LN(((c_ref + 0.5) / (n_ref + 5.0)) / ((c_cur + 0.5) / (n_cur + 5.0)))) + 1e-9, 4) AS psi
             |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => graft.monitoring.Drift.psi(
          Tables.events(s, dir), Seq("event_type"), "value",
          isRef = col("ts") < lit("2024-01-16").cast("timestamp"),
          lo = 0.0, hi = 500.0, buckets = 10)
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          round(col("psi") + lit(1e-9), 4).as("psi"))
        .orderBy("event_type")),

    // Two-sample KS drift — the binning-free companion to the PSI
    // monitor on the same period split: exact max ECDF gap per event
    // type, one distinct-value aggregation + one sorted cumulative
    // window. Catches drift PSI's fixed buckets can absorb.
    Q("m_drift_ks",
      Some("""WITH b AS (SELECT event_type, value AS v,
             |   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
             | FROM events),
             |c AS (SELECT event_type, v, SUM(is_ref) AS c_ref,
             |        SUM(1 - is_ref) AS c_cur FROM b GROUP BY 1, 2),
             |t AS (SELECT event_type,
             |        SUM(c_ref) OVER (PARTITION BY event_type ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
             |        SUM(c_cur) OVER (PARTITION BY event_type ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
             |        SUM(c_ref) OVER (PARTITION BY event_type) AS n_ref,
             |        SUM(c_cur) OVER (PARTITION BY event_type) AS n_cur FROM c)
             |SELECT event_type,
             | CAST(MAX(n_ref) AS BIGINT) AS n_ref, CAST(MAX(n_cur) AS BIGINT) AS n_cur,
             | ROUND(MAX(CASE WHEN n_ref > 0 AND n_cur > 0 THEN
             |     ABS(CAST(cum_ref AS DOUBLE) / n_ref - CAST(cum_cur AS DOUBLE) / n_cur)
             |   END) + 1e-9, 4) AS ks
             |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => graft.monitoring.Drift.ksStatistic(
          Tables.events(s, dir), Seq("event_type"), "value",
          isRef = col("ts") < lit("2024-01-16").cast("timestamp"))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          R(col("ks")).as("ks"))
        .orderBy("event_type")),

    // Robust outlier counts via MAD (median absolute deviation): unlike
    // the z-score path, one corrupted heavy tail can't inflate the scale
    // estimate and mask its own outliers. Exact medians on both engines
    // (Spark `percentile`, DuckDB `median`, both linearly interpolated);
    // modified z = 0.6745·|x−med|/MAD, flag at the standard 3.5.
    Q("m_mad_outliers",
      Some("""WITH m AS (SELECT event_type, MEDIAN(value) AS med
             |  FROM events GROUP BY 1),
             |d AS (SELECT e.event_type, e.value, m.med,
             |    ABS(e.value - m.med) AS adev
             |  FROM events e JOIN m ON e.event_type = m.event_type),
             |s AS (SELECT event_type, MEDIAN(adev) AS mad FROM d GROUP BY 1)
             |SELECT d.event_type,
             | ROUND(MAX(d.med) + 1e-9, 4) AS med,
             | ROUND(MAX(s.mad) + 1e-9, 4) AS mad,
             | CAST(SUM(CASE WHEN s.mad > 0
             |   AND 0.6745 * ABS(d.value - d.med) / s.mad > 3.5
             |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             | COUNT(*) AS n
             |FROM d JOIN s ON d.event_type = s.event_type
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val med = ev.groupBy("event_type")
          .agg(expr("percentile(value, 0.5)").as("med"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("adev", abs(col("value") - col("med")))
        val mad = dev.groupBy("event_type")
          .agg(expr("percentile(adev, 0.5)").as("mad"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(round(max("med") + lit(1e-9), 4).as("med"),
            round(max("mad") + lit(1e-9), 4).as("mad"),
            sum(when(col("mad") > 0 &&
                lit(0.6745) * col("adev") / col("mad") > 3.5, 1L)
              .otherwise(0L)).as("n_outliers"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      }),

    // Categorical drift: has the event-type MIX shifted between the
    // month's halves? Categories are the buckets; smoothing k = observed
    // category count (window inside the same aggregate).
    Q("m_drift_mix",
      Some("""WITH c AS (SELECT event_type AS bucket,
             |   SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS c_ref,
             |   SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS c_cur
             | FROM events GROUP BY 1),
             |t AS (SELECT c_ref, c_cur,
             |   SUM(c_ref) OVER () AS n_ref, SUM(c_cur) OVER () AS n_cur,
             |   COUNT(*) OVER () * 0.5 AS k FROM c)
             |SELECT CAST(MAX(n_ref) AS BIGINT) AS n_ref,
             | CAST(MAX(n_cur) AS BIGINT) AS n_cur,
             | ROUND(SUM(((c_ref + 0.5) / (n_ref + k) - (c_cur + 0.5) / (n_cur + k))
             |   * LN(((c_ref + 0.5) / (n_ref + k)) / ((c_cur + 0.5) / (n_cur + k)))) + 1e-9, 4) AS psi
             |FROM t""".stripMargin),
      (s, dir) => graft.monitoring.Drift.categoricalPsi(
          Tables.events(s, dir), Seq.empty, "event_type",
          isRef = col("ts") < lit("2024-01-16").cast("timestamp"))
        .select(col("n_ref"), col("n_cur"),
          round(col("psi") + lit(1e-9), 4).as("psi"))),

    // M-drift (embeddings): centroid-shift cosine per label — the
    // vector-column analogue of PSI: 1.0 = direction unchanged, falling
    // cosine = the embedding distribution is moving (new topics, encoder
    // change, upstream corruption). Even/odd vec_id stands in for the
    // reference/current periods.
    Q("m_embedding_drift",
      Some("""WITH e AS (SELECT vec_id, label, embedding,
             |        vec_id % 2 = 0 AS is_ref FROM embeddings),
             |x AS (SELECT label, is_ref, t.i AS dim,
             |        AVG(embedding[t.i + 1]) AS c
             |      FROM e, (SELECT unnest(range(0, 64)) AS i) t
             |      GROUP BY 1, 2, 3),
             |v AS (SELECT label, is_ref, list(c ORDER BY dim) AS cv
             |      FROM x GROUP BY 1, 2),
             |j AS (SELECT r.label, r.cv AS rc, c.cv AS cc
             |      FROM v r JOIN v c ON r.label = c.label
             |        AND r.is_ref AND NOT c.is_ref),
             |n AS (SELECT label,
             |        COUNT(*) FILTER (is_ref) AS n_ref,
             |        COUNT(*) FILTER (NOT is_ref) AS n_cur
             |      FROM e GROUP BY 1)
             |SELECT j.label, n.n_ref, n.n_cur,
             |  ROUND(list_dot_product(rc, cc)
             |    / (sqrt(list_dot_product(rc, rc))
             |       * sqrt(list_dot_product(cc, cc))) + 1e-9, 4) AS centroid_cosine
             |FROM j JOIN n USING (label) ORDER BY label""".stripMargin),
      (s, dir) => graft.monitoring.Drift.embeddingDrift(
          Tables.embeddings(s, dir), Seq("label"), "embedding",
          isRef = col("vec_id") % 2 === 0)
        .select(col("label"), col("n_ref"), col("n_cur"),
          round(col("centroid_cosine") + lit(1e-9), 4).as("centroid_cosine"))
        .orderBy("label")),

    // Content fingerprint: one (count, xor-of-row-hashes) row replaces a
    // full table diff for re-run/replica/engine-port equality checks —
    // the oracle recomputing the identical value IS the cross-engine
    // demonstration.
    Q("q_content_fingerprint",
      Some("""SELECT COUNT(*) AS row_count,
             | BIT_XOR(CAST(CONCAT('0x',
             |   SUBSTRING(md5(CONCAT_WS('|',
             |     md5(COALESCE(event_id::VARCHAR, '<NULL>')),
             |     md5(COALESCE(user_id::VARCHAR, '<NULL>')),
             |     md5(COALESCE(event_type, '<NULL>')))), 1, 15)) AS BIGINT)) AS content_hash
             | FROM events""".stripMargin),
      (s, dir) => Quality.contentFingerprint(
        Tables.events(s, dir), Seq("event_id", "user_id", "event_type"))),

    // Q-freshness: per-type newest event and its lag behind an explicit
    // as-of instant, flagged stale above 24h — the engine-side form of
    // the reference's Bronze-staleness probe (the DAG fails above 30 min
    // of S3 last-modified age). as-of is a parameter, never now():
    // freshness checks must themselves be reproducible.
    // Q-profile: per-column table profile in one aggregation job —
    // rows/nulls/exact distinct + typed min/max bounds per column, the
    // first-look and drift-baseline primitive. The oracle recomputes
    // each column's row from independent aggregates.
    Q("q_profile_customer",
      Some {
        def num(c: String) =
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             | COUNT(*) - COUNT($c) AS n_nulls,
             | COUNT(DISTINCT $c) AS n_distinct,
             | ROUND(MIN($c)::DOUBLE + 1e-9, 4) AS min_num,
             | ROUND(MAX($c)::DOUBLE + 1e-9, 4) AS max_num,
             | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
             | FROM customer""".stripMargin
        def str(c: String) =
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             | COUNT(*) - COUNT($c) AS n_nulls,
             | COUNT(DISTINCT $c) AS n_distinct,
             | CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
             | MIN($c) AS min_str, MAX($c) AS max_str
             | FROM customer""".stripMargin
        (Seq("c_custkey", "c_nationkey", "c_acctbal").map(num) ++
          Seq("c_name", "c_mktsegment").map(str))
          .mkString("", "\n UNION ALL\n", "\n ORDER BY col_name")
      },
      (s, dir) => {
        Quality.profile(Tables.customer(s, dir),
            Seq("c_custkey", "c_nationkey", "c_acctbal"),
            Seq("c_name", "c_mktsegment"))
          .select(col("column").as("col_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), R(col("min_num")).as("min_num"),
            R(col("max_num")).as("max_num"), col("min_str"), col("max_str"))
          .orderBy("col_name")
      }),

    Q("q_freshness",
      Some("""SELECT event_type,
             | strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS latest,
             | CAST(date_diff('second', MAX(ts), TIMESTAMP '2024-02-01 00:00:00') AS BIGINT) AS lag_seconds,
             | date_diff('second', MAX(ts), TIMESTAMP '2024-02-01 00:00:00') > 86400 AS stale
             | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => Quality.freshness(Tables.events(s, dir), "ts",
          Seq("event_type"),
          java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
          maxLagSeconds = 86400L)
        .select(col("event_type"), ftsU(col("latest")).as("latest"),
          col("lag_seconds"), col("stale"))
        .orderBy("event_type")),

    // Fuzzy name matching (entity resolution): dedupe to DISTINCT values
    // first (the standard move — row-level matching squares row counts
    // when values repeat: 38 s at sf0.1 row-level vs sub-second
    // value-level), block on the first token, verify levenshtein ≤ 3
    // inside blocks, then multiply row multiplicities back.
    Q("x_fuzzy_name_pairs",
      Some("""WITH n AS (SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1),
             |b AS (SELECT p_name, n_parts,
             |    string_split(p_name, ' ')[1] AS blk FROM n)
             |SELECT a.p_name AS name_a, c.p_name AS name_b,
             |  levenshtein(a.p_name, c.p_name) AS dist,
             |  a.n_parts * c.n_parts AS n_pairs
             |FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
             |WHERE levenshtein(a.p_name, c.p_name) <= 3
             |ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val names = Tables.part(s, dir)
          .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
        val pairs = graft.operators.FuzzyJoin.fuzzySelfPairs(
            names, "p_name", "p_name", maxDist = 3)
          .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
            col("dist"))
        pairs
          .join(names.select(col("p_name").as("name_a"),
            col("n_parts").as("_na")), "name_a")
          .join(names.select(col("p_name").as("name_b"),
            col("n_parts").as("_nb")), "name_b")
          .select(col("name_a"), col("name_b"), col("dist"),
            (col("_na") * col("_nb")).as("n_pairs"))
          .orderBy("name_a", "name_b")
      }),

    // BM25 relevance for a fixed query ('hash join filter') — map-side
    // term filter, broadcast idf/avgdl side inputs, zero-match docs
    // restored at 0.
    Q("x_bm25_scores",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |lens AS (SELECT doc_id, len(toks) AS dl FROM t),
              |stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM lens),
              |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
              |       FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
              |       WHERE tok IN ('hash', 'join', 'filter') GROUP BY 1, 2),
              |idf AS (SELECT term, LN((s.n - df + 0.5) / (df + 0.5) + 1.0) AS idf
              |        FROM (SELECT term, COUNT(DISTINCT doc_id) AS df
              |              FROM tf GROUP BY 1), stats s),
              |sc AS (SELECT tf.doc_id,
              |         SUM(idf.idf * (tf.tf * 2.2)
              |             / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / s.avgdl))) AS bm25
              |       FROM tf JOIN idf USING (term) JOIN lens USING (doc_id),
              |            stats s GROUP BY 1)
              |SELECT l.doc_id AS doc_id, ROUND(COALESCE(sc.bm25, 0.0) + 1e-9, 4) AS bm25
              |FROM lens l LEFT JOIN sc ON l.doc_id = sc.doc_id
              |ORDER BY l.doc_id""".stripMargin),
      (s, dir) => TextAnalysis.bm25(Tables.documents(s, dir), "text",
          "doc_id", Seq("hash", "join", "filter"))
        .select(col("id").as("doc_id"),
          round(col("bm25") + lit(1e-9), 4).as("bm25"))
        .orderBy("doc_id")),

    // Unigram entropy quality signal: vocabulary concentration per doc
    // (log2(n) − Σc·log2(c)/n — one aggregation pass, no join against the
    // per-doc total). Empty docs restored with entropy 0.
    Q("x_token_entropy",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |c AS (SELECT doc_id, tok, COUNT(*) AS c
              |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
              |e AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
              |        LOG2(CAST(SUM(c) AS DOUBLE))
              |          - SUM(c * LOG2(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE) AS h
              |      FROM c GROUP BY doc_id)
              |SELECT d.doc_id, COALESCE(e.n_tokens, 0) AS n_tokens,
              | ROUND(COALESCE(e.h, 0.0) + 1e-9, 4) AS entropy_bits
              |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
              |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => TextAnalysis.tokenEntropy(
          Tables.documents(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("entropy_bits") + lit(1e-9), 4).as("entropy_bits"))
        .orderBy("doc_id")),

    // X-nb-classifier: model-based quality filtering, trained in-engine —
    // the CCNet/fastText-style step of an LLM pipeline: fit a closed-form
    // Naive Bayes log-odds model over hashed token buckets on a labeled
    // seed (doc_id < 250, positive = English), then score EVERY document
    // as mean log-odds per token. Deterministic (counting + log), so the
    // oracle retrains the identical model; the gate (pred_en) cuts on the
    // rounded score in both engines.
    Q("x_nb_quality_classifier",
      Some(s"WITH $nbModelCtes,\n" +
        """sc AS (SELECT b.doc_id, COUNT(*) AS n_tokens,
          |         SUM(COALESCE(wt.w, 0.0)) / COUNT(*) AS s
          |       FROM bk b LEFT JOIN wt ON b.bucket = wt.bucket GROUP BY b.doc_id)
          |SELECT d.doc_id, CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
          | ROUND(COALESCE(sc.s, 0.0) + 1e-9, 4) AS nb_score,
          | (ROUND(COALESCE(sc.s, 0.0) + 1e-9, 4) > 0) AS pred_en
          |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
          |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val w = TextAnalysis.nbTrainWeights(docs.filter(col("doc_id") < 250),
          "text", col("lang") === "en", numBuckets = 1024)
        TextAnalysis.nbScore(docs, "doc_id", "text", w, numBuckets = 1024)
          .select(col("id").as("doc_id"), col("n_tokens"),
            R(col("nb_score")).as("nb_score"),
            (R(col("nb_score")) > 0).as("pred_en"))
          .orderBy("doc_id")
      }),

    // X-eval-auc: in-engine model evaluation — held-out ROC AUC of the
    // NB quality classifier via the Mann–Whitney rank identity:
    // AUC = (Σ ranks of positives − P(P+1)/2) / (P·N), average ranks
    // for ties. Ranks are computed over the DISTINCT-rounded-score
    // table (a groups-sized frame: one running-sum window over distinct
    // scores, never a corpus sort), so the evaluation is exact, engine-
    // stable, and O(distinct scores) past the scoring pass itself.
    Q("x_classifier_auc",
      Some(s"WITH $nbModelCtes,\n$nbHeldCtes,\n" +
        s"""grp AS (SELECT s_r, COUNT(*) AS c FROM held GROUP BY 1),
              |ark AS (SELECT s_r, SUM(c) OVER (ORDER BY s_r) - (c - 1) / 2.0 AS avg_rank
              |        FROM grp),
              |agg AS (SELECT SUM(CASE WHEN pos THEN ar.avg_rank END) AS prs,
              |               SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
              |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS n
              |        FROM held JOIN ark ar USING (s_r))
              |SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
              |       ROUND((prs - p * (p + 1) / 2.0) / (p * n) + 1e-9, 4) AS auc
              |FROM agg""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val wts = TextAnalysis.nbTrainWeights(docs.filter(col("doc_id") < 250),
          "text", col("lang") === "en", numBuckets = 1024)
        val held = TextAnalysis
          .nbScore(docs.filter(col("doc_id") >= 250), "doc_id", "text", wts,
            numBuckets = 1024)
          .join(docs.select(col("doc_id").as("id"),
            (col("lang") === "en").as("pos")), Seq("id"))
          .select(col("id"), col("pos"), R(col("nb_score")).as("s_r"))
        val grp = held.groupBy("s_r").agg(count(lit(1)).as("c"))
        // running sum over the DISTINCT-score table only (groups-sized)
        val wRun = Window.orderBy("s_r")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ark = grp.withColumn("avg_rank",
          sum("c").over(wRun) - (col("c") - 1) / 2.0)
        held.join(ark, "s_r")
          .agg(sum(when(col("pos"), col("avg_rank"))).as("prs"),
            sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
            sum(when(col("pos"), 0L).otherwise(1L)).as("n"))
          .select(col("p").as("n_pos"), col("n").as("n_neg"),
            R((col("prs") - col("p") * (col("p") + 1) / 2.0)
              / (col("p") * col("n"))).as("auc"))
      }),

    // X-eval-calibration: reliability diagram of the same classifier —
    // held-out scores cut into deciles (ntile over rounded score with
    // id tie-break: identical assignment in both engines), per-decile
    // mean score vs observed positive fraction. A well-calibrated
    // ranking shows frac_pos rising monotonically with the decile.
    Q("x_classifier_calibration",
      Some(s"WITH $nbModelCtes,\n$nbHeldCtes,\n" +
        s"""ntl AS (SELECT pos, s_r,
              |          CAST(ntile(10) OVER (ORDER BY s_r, doc_id) AS INT) AS decile
              |        FROM held)
              |SELECT decile, COUNT(*) AS n,
              |       ROUND(AVG(s_r) + 1e-9, 4) AS avg_score,
              |       ROUND(AVG(CASE WHEN pos THEN 1.0 ELSE 0.0 END) + 1e-9, 4) AS frac_pos
              |FROM ntl GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val wts = TextAnalysis.nbTrainWeights(docs.filter(col("doc_id") < 250),
          "text", col("lang") === "en", numBuckets = 1024)
        val held = TextAnalysis
          .nbScore(docs.filter(col("doc_id") >= 250), "doc_id", "text", wts,
            numBuckets = 1024)
          .join(docs.select(col("doc_id").as("id"),
            (col("lang") === "en").as("pos")), Seq("id"))
          .select(col("id"), col("pos"), R(col("nb_score")).as("s_r"))
        val w = Window.orderBy(col("s_r").asc, col("id").asc)
        held.withColumn("decile", ntile(10).over(w))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"), R(avg(col("s_r"))).as("avg_score"),
            R(avg(when(col("pos"), 1.0).otherwise(0.0))).as("frac_pos"))
          .orderBy("decile")
      }),

    // Incremental exact dedup: today's batch (doc_id >= 250) deduped
    // within itself and against the historical index (fingerprints of
    // doc_id < 250) — an anti join on the 128-bit fingerprint, never the
    // bodies. The production daily-ingest shape: history is never
    // rescanned.
    // The synthetic corpus has no exact dups, so the batch is spiked with
    // re-keyed copies: +1M ids duplicate INDEX docs (killed by the anti
    // join), +2M ids duplicate other BATCH docs (killed by the
    // within-batch window, lower id wins). Survivors = the originals.
    Q("x_incremental_dedup",
      Some(s"""WITH fp AS (SELECT doc_id, source, md5($normSql) AS f FROM documents),
              |idx AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250),
              |batch AS (
              |  SELECT doc_id, source, f FROM fp WHERE doc_id >= 250
              |  UNION ALL SELECT doc_id + 1000000, source, f FROM fp WHERE doc_id < 50
              |  UNION ALL SELECT doc_id + 2000000, source, f FROM fp WHERE doc_id >= 250 AND doc_id < 260),
              |kept AS (SELECT f, MIN(doc_id) AS doc_id FROM batch GROUP BY f)
              |SELECT k.doc_id, b.source FROM kept k
              | JOIN batch b ON b.doc_id = k.doc_id AND b.f = k.f
              | WHERE k.f NOT IN (SELECT f FROM idx)
              | ORDER BY k.doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val index = docs.filter(col("doc_id") < 250)
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
          .distinct()
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + 1000000L))
          .unionByName(docs.filter(col("doc_id") >= 250 && col("doc_id") < 260)
            .withColumn("doc_id", col("doc_id") + 2000000L))
        Dedup.incrementalExactDedup(batch, "text", "doc_id", index)
          .select("doc_id", "source")
          .orderBy("doc_id")
      }),

    // X-curate-full: the whole production day in one operator — quality
    // gate, exact dedup vs the fingerprint index, NEAR-dup dedup vs the
    // signature index, per-source cap — with per-stage counts. History
    // participates only as the two slim indices; batch includes
    // synthetic near-copies so the near-dup stage provably bites.
    Q("x_curate_full_incremental",
      Some(s"""WITH corpus AS (SELECT doc_id, source, text FROM documents
              |  UNION ALL SELECT doc_id + 1000000, source, text || ' zz1 zz2 zz3'
              |    FROM documents WHERE doc_id < 50
              |  UNION ALL SELECT doc_id + 2000000, source, text
              |    FROM documents WHERE doc_id >= 250 AND doc_id < 260),
              |tk AS (SELECT doc_id, source, text, $toksSql AS toks FROM corpus),
              |batch AS (SELECT doc_id, source, text, toks FROM tk WHERE doc_id >= 250),
              |kept AS (SELECT doc_id, source, text, toks FROM batch
              |         WHERE ($qualityScoreSql) >= 0.35),
              |fpb AS (SELECT doc_id, source, text, md5($normSql) AS f FROM kept),
              |idx AS (SELECT DISTINCT md5($normSql) AS f FROM tk WHERE doc_id < 250),
              |d2 AS (SELECT doc_id, source, text, f FROM (
              |    SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fpb)
              |  WHERE rn = 1 AND f NOT IN (SELECT f FROM idx)),
              |pre AS MATERIALIZED (SELECT doc_id, $shinglesSql AS sh FROM tk),
              |tok AS (SELECT doc_id, unnest(sh) AS s FROM pre),
              |uv AS (SELECT doc_id,
              |         CAST(concat('0x', substr(md5(s), 1, 10)) AS BIGINT) AS u,
              |         CAST(concat('0x', substr(md5(s), 11, 10)) AS BIGINT) AS v
              |       FROM tok),
              |mh AS (SELECT doc_id, p, MIN(u + p * v) AS m
              |       FROM uv CROSS JOIN range(0, 16) r(p) GROUP BY doc_id, p),
              |sigl AS MATERIALIZED (SELECT doc_id, list(m ORDER BY p) AS sig FROM mh GROUP BY doc_id),
              |bands AS MATERIALIZED (SELECT doc_id, p // 4 AS b,
              |    md5(CAST(p // 4 AS VARCHAR) || '|' || string_agg(CAST(m AS VARCHAR), '|' ORDER BY p)) AS bh
              |  FROM mh GROUP BY doc_id, p // 4),
              |cand AS (SELECT DISTINCT b2.doc_id AS bid, h.doc_id AS hid
              |         FROM bands b2 JOIN bands h ON b2.b = h.b AND b2.bh = h.bh
              |         WHERE b2.doc_id IN (SELECT doc_id FROM d2) AND h.doc_id < 250),
              |dropped AS (SELECT DISTINCT c.bid FROM cand c
              |            JOIN sigl sa ON sa.doc_id = c.bid
              |            JOIN sigl sb ON sb.doc_id = c.hid
              |            WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.5),
              |d3 AS (SELECT doc_id, source FROM d2
              |       WHERE doc_id NOT IN (SELECT bid FROM dropped)),
              |cap AS (SELECT doc_id FROM (SELECT doc_id,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS crn FROM d3)
              |  WHERE crn <= 15)
              |SELECT 'a_input' AS stage, COUNT(*) AS n FROM batch
              |UNION ALL SELECT 'b_quality', COUNT(*) FROM kept
              |UNION ALL SELECT 'c_exact_dedup', COUNT(*) FROM d2
              |UNION ALL SELECT 'd_neardup_dedup', COUNT(*) FROM d3
              |UNION ALL SELECT 'e_cap', COUNT(*) FROM cap
              |ORDER BY stage""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + lit(1000000L))
            .withColumn("text", concat(col("text"), lit(" zz1 zz2 zz3"))))
          .unionByName(docs.filter(col("doc_id") >= 250 && col("doc_id") < 260)
            .withColumn("doc_id", col("doc_id") + lit(2000000L)))
        val hist = docs.filter(col("doc_id") < 250)
        val fpIndex = hist
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
          .distinct()
        val sigIndex = Dedup.minhashSigTable(hist, "text", "doc_id")
        val r = graft.ext.Curate.incrementalFull(batch, fpIndex, sigIndex)
        r.release()
        r.stats.toDF("stage", "n").orderBy("stage")
      }),

    // X-dedup-incremental-neardup: the NEAR-dup twin of the incremental
    // path — today's batch vs a persistent SIGNATURE index (8 bytes x 16
    // perms per historical doc, no text): banded candidate join, then
    // estimated-Jaccard verification on signatures alone. The batch
    // includes near-copies of history docs (original text + 3 extra
    // tokens) so the drop path provably fires on both engines.
    Q("x_incremental_neardup_dedup",
      Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id + 1000000, text || ' zz1 zz2 zz3'
              |    FROM documents WHERE doc_id < 50),
              |pre AS MATERIALIZED (SELECT doc_id, $shinglesSql AS sh
              |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)),
              |tok AS (SELECT doc_id, unnest(sh) AS s FROM pre),
              |uv AS (SELECT doc_id,
              |         CAST(concat('0x', substr(md5(s), 1, 10)) AS BIGINT) AS u,
              |         CAST(concat('0x', substr(md5(s), 11, 10)) AS BIGINT) AS v
              |       FROM tok),
              |mh AS (SELECT doc_id, p, MIN(u + p * v) AS m
              |       FROM uv CROSS JOIN range(0, 16) r(p) GROUP BY doc_id, p),
              |sigl AS MATERIALIZED (SELECT doc_id, list(m ORDER BY p) AS sig FROM mh GROUP BY doc_id),
              |bands AS MATERIALIZED (SELECT doc_id, p // 4 AS b,
              |    md5(CAST(p // 4 AS VARCHAR) || '|' || string_agg(CAST(m AS VARCHAR), '|' ORDER BY p)) AS bh
              |  FROM mh GROUP BY doc_id, p // 4),
              |cand AS (SELECT DISTINCT b2.doc_id AS bid, h.doc_id AS hid
              |         FROM bands b2 JOIN bands h ON b2.b = h.b AND b2.bh = h.bh
              |         WHERE b2.doc_id >= 250 AND h.doc_id < 250),
              |dropped AS (SELECT DISTINCT c.bid FROM cand c
              |            JOIN sigl sa ON sa.doc_id = c.bid
              |            JOIN sigl sb ON sb.doc_id = c.hid
              |            WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.5)
              |SELECT doc_id FROM corpus
              |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT bid FROM dropped)
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + lit(1000000L))
            .withColumn("text", concat(col("text"), lit(" zz1 zz2 zz3"))))
        val histSigs = Dedup.minhashSigTable(
          docs.filter(col("doc_id") < 250), "text", "doc_id")
        Dedup.incrementalMinhashDedup(batch, "text", "doc_id", histSigs,
            estThreshold = 0.5)
          .select("doc_id")
          .orderBy("doc_id")
      }),

    // X-dedup-jaccard: blocked all-pairs 3-shingle Jaccard (quadratic
    // baseline; blocking key = source).
    Q("x_jaccard_pairs",
      Some(s"""WITH pre AS MATERIALIZED ($preShinglesSql),
              |pj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |         (${jaccardSql("a.sh", "b.sh")}) AS j
              |       FROM pre a JOIN pre b ON a.source = b.source AND a.doc_id < b.doc_id)
              |SELECT id_a, id_b, ROUND(j + 1e-9, 4) AS jaccard
              |FROM pj WHERE j >= 0.02
              |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text",
          "doc_id", "source", 3, 0.02)
        .select(col("id_a"), col("id_b"), R(col("jaccard")).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // X-jaccard-prefix: EXACT Jaccard pairs via prefix filtering
    // (AllPairs/PPJoin) — the self-join consumes only rarest-first
    // shingle prefixes of length |d|−⌈τ|d|⌉+1, yet the result is
    // pinned identical to the plain all-pairs oracle (the prefix-share
    // lemma guarantees no candidate is lost; verification is exact).
    Q("x_jaccard_pairs_prefix",
      Some(s"""WITH pre AS MATERIALIZED ($preShinglesSql),
              |pj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |         (${jaccardSql("a.sh", "b.sh")}) AS j
              |       FROM pre a JOIN pre b ON a.source = b.source AND a.doc_id < b.doc_id)
              |SELECT id_a, id_b, ROUND(j + 1e-9, 4) AS jaccard
              |FROM pj WHERE j >= 0.5
              |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.jaccardPairsPrefix(Tables.documents(s, dir), "text",
          "doc_id", "source", 3, 0.5)
        .select(col("id_a"), col("id_b"), R(col("jaccard")).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // X-dedup-minhash: MinHash(16 perms) + LSH(4 bands) candidate pairs,
    // verified with exact Jaccard >= 0.3.
    Q("x_minhash_lsh_neardups",
      // Double-hashed MinHash family (mirrors Dedup.uvHalves): u/v are the
      // two 40-bit halves of one md5 per shingle; permutation p's hash is
      // u + p*v, min'd numerically.
      Some(s"""WITH pre AS MATERIALIZED ($preShinglesSql),
              |tok AS (SELECT doc_id, unnest(sh) AS s FROM pre),
              |uv AS (SELECT doc_id,
              |         CAST(concat('0x', substr(md5(s), 1, 10)) AS BIGINT) AS u,
              |         CAST(concat('0x', substr(md5(s), 11, 10)) AS BIGINT) AS v
              |       FROM tok),
              |mh AS (SELECT doc_id, p, MIN(u + p * v) AS m
              |       FROM uv CROSS JOIN range(0, 16) r(p) GROUP BY doc_id, p),
              |bands AS MATERIALIZED (SELECT doc_id, p // 4 AS b,
              |            md5(CAST(p // 4 AS VARCHAR) || '|' || string_agg(CAST(m AS VARCHAR), '|' ORDER BY p)) AS bh
              |          FROM mh GROUP BY doc_id, p // 4),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |           ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |j AS (SELECT c.id_a, c.id_b, (${jaccardSql("pa.sh", "pb.sh")}) AS jaccard
              |      FROM cand c JOIN pre pa ON pa.doc_id = c.id_a
              |                  JOIN pre pb ON pb.doc_id = c.id_b)
              |SELECT id_a, id_b, ROUND(jaccard + 1e-9, 4) AS jaccard
              |FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.minhashNearDups(Tables.documents(s, dir), "text",
          "doc_id", threshold = 0.3, shingleN = 3, numPerms = 16,
          rowsPerBand = 4, maxBucketSize = 1000000)
        .select(col("id_a"), col("id_b"), R(col("jaccard")).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // X-dedup-simhash: 64-bit majority-vote signatures as bit strings.
    Q("x_simhash_signatures",
      Some(s"""WITH $simhashSigCtes
              |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.simhashSignatures(Tables.documents(s, dir), "text",
          "doc_id", shingleN = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // X-dedup-simhash-pairs: banded bucket join over the bit strings —
    // the classic 64-bit setting: 4 bands × 16 bits, guaranteed recall for
    // Hamming distance <= 3, then exact Hamming verification.
    Q("x_simhash_neardups",
      Some(s"""WITH $simhashSigCtes,
              |bands AS MATERIALIZED (SELECT doc_id, b, substr(simhash, b * 16 + 1, 16) AS chunk
              |          FROM sig CROSS JOIN range(0, 4) r(b)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
              |         FROM bands a JOIN bands b2
              |           ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id),
              |hx AS (SELECT c.id_a, c.id_b,
              |         CAST(len(list_filter(range(1, 65),
              |           i -> substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1))) AS INT) AS hamming
              |       FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
              |                   JOIN sig sb ON sb.doc_id = c.id_b)
              |SELECT id_a, id_b, hamming FROM hx
              |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.simhashNearDups(Tables.documents(s, dir), "text",
          "doc_id", maxHamming = 3, shingleN = 3, bands = 4)
        .orderBy("id_a", "id_b")),

    // X-dedup-simhash-salted: the SAME oracle as x_simhash_neardups run
    // through the non-lossy hot-bucket salting path (Skew.saltedPairs,
    // salts=4) — salting is an execution detail, so the pair set must
    // hash-match the unsalted oracle bit-for-bit. The ExtSpec variant
    // additionally measures the task spread; this pins semantics.
    Q("x_simhash_neardups_salted",
      Some(s"""WITH $simhashSigCtes,
              |bands AS MATERIALIZED (SELECT doc_id, b, substr(simhash, b * 16 + 1, 16) AS chunk
              |          FROM sig CROSS JOIN range(0, 4) r(b)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
              |         FROM bands a JOIN bands b2
              |           ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id),
              |hx AS (SELECT c.id_a, c.id_b,
              |         CAST(len(list_filter(range(1, 65),
              |           i -> substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1))) AS INT) AS hamming
              |       FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
              |                   JOIN sig sb ON sb.doc_id = c.id_b)
              |SELECT id_a, id_b, hamming FROM hx
              |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.simhashNearDups(Tables.documents(s, dir), "text",
          "doc_id", maxHamming = 3, shingleN = 3, bands = 4, salts = 4)
        .orderBy("id_a", "id_b")),

    // X-sim-topk: brute-force cosine top-k (broadcast query set).
    Q("x_cosine_topk",
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
              |s AS (SELECT q.qid, e.vec_id AS cid, (${cosSql("e.v", "q.qv")}) AS cosine
              |      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid)
              |SELECT qid AS query_id, cid AS corpus_id,
              |       ROUND(cosine + 1e-9, 4) AS cosine, CAST(rn AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |                                   ORDER BY cosine DESC, cid) AS rn FROM s)
              |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
          .select(col("query_id"), col("corpus_id"), R(col("cosine")).as("cosine"),
            col("rank"))
          .orderBy("query_id", "rank")
      }),

    // X-sim-neardup: all-pairs cosine near-duplicate vectors.
    Q("x_embedding_neardups",
      Some(s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |sc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |         (${cosSql("a.v", "b.v")}) AS c
              |       FROM e a JOIN e b ON a.vec_id < b.vec_id)
              |SELECT id_a, id_b, ROUND(c + 1e-9, 4) AS cosine
              |FROM sc WHERE c >= 0.4
              |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), 0.4)
        .select(col("id_a"), col("id_b"), R(col("cosine")).as("cosine"))
        .orderBy("id_a", "id_b")),

    // X-sim-lsh: signed-random-projection LSH — the linear-time candidate
    // path for cosine near-dups. The hyperplane matrix is deterministic
    // (seeded) and embedded in BOTH the Spark operator and this SQL.
    // Signature bits are computed over per-vector MEAN-CENTERED
    // components (list_avg subtraction — the Spark side's
    // Similarity.centerVec twin): a one-orthant corpus otherwise gives
    // near-constant sign bits and the banded join degenerates to
    // all-pairs. Scoring stays exact cosine over the RAW vectors.
    Q("x_srp_lsh_neardups",
      Some {
        val planes = Similarity.srpPlanes(16, 64)
        val sigSql = planes.map { p =>
          val arr = p.map(_.toString).mkString("[", ",", "]")
          s"CASE WHEN list_dot_product(cv, $arr::DOUBLE[]) >= 0 THEN '1' ELSE '0' END"
        }.mkString("concat(", ",\n ", ")")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |ctr AS (SELECT vec_id, v,
           |          list_transform(v, x -> x - list_avg(v)) AS cv FROM e),
           |sig AS MATERIALIZED (SELECT vec_id, v, $sigSql AS s FROM ctr),
           |bands AS MATERIALIZED (SELECT vec_id, b, substr(s, b*4 + 1, 4) AS chunk
           |          FROM sig CROSS JOIN range(0, 4) r(b)),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |         FROM bands a JOIN bands b
           |           ON a.b = b.b AND a.chunk = b.chunk AND a.vec_id < b.vec_id),
           |j AS (SELECT c.id_a, c.id_b, (${cosSql("ea.v", "eb.v")}) AS cosine
           |      FROM cand c JOIN e ea ON ea.vec_id = c.id_a
           |                  JOIN e eb ON eb.vec_id = c.id_b)
           |SELECT id_a, id_b, ROUND(cosine + 1e-9, 4) AS cosine
           |FROM j WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin
      },
      (s, dir) => Similarity.srpNearDups(Tables.embeddings(s, dir), 0.4)
        .select(col("id_a"), col("id_b"), R(col("cosine")).as("cosine"))
        .orderBy("id_a", "id_b")),

    // X-sim-ivf: IVF-style ANN — label-mean centroids, nearest-cell
    // assignment, probe 1 cell, rank top-5 within it.
    Q("x_ivf_topk",
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m
              |         FROM e, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv
              |         FROM dims GROUP BY label),
              |assign AS (
              |  SELECT vec_id, v, cell FROM (
              |    SELECT e.vec_id, e.v, c.cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM e CROSS JOIN cent c) WHERE rn = 1),
              |probe AS (SELECT vec_id AS qid, v AS qv, cell FROM assign WHERE vec_id < 5),
              |scored AS (SELECT p.qid, a.vec_id AS cid, (${cosSql("a.v", "p.qv")}) AS cosine
              |           FROM assign a JOIN probe p ON a.cell = p.cell AND a.vec_id <> p.qid)
              |SELECT qid AS query_id, cid AS corpus_id,
              |       ROUND(cosine + 1e-9, 4) AS cosine, CAST(rn AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |                                   ORDER BY cosine DESC, cid) AS rn FROM scored)
              |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.centroids(emb, "label", 64)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), cents, k = 5,
            nProbe = 1)
          .select(col("query_id"), col("corpus_id"), R(col("cosine")).as("cosine"),
            col("rank"))
          .orderBy("query_id", "rank")
      }),

    // X-sim-ivf-lloyd: IVF with 2 Lloyd refinement rounds over the label
    // seed and a multi-cell probe — recall vs brute-force ground truth per
    // query, probing 1 vs 2 cells. The oracle mirrors every round (same
    // per-round rounding) so hits are hash-exact; recall_monotone pins
    // that widening the probe never loses a true neighbor.
    Q("x_ivf_lloyd_probe2",
      Some(s"""WITH ${ivfCtes(probeMax = 2)},
              |${ivfCandSql(1)},
              |${ivfCandSql(2)}
              |SELECT ex.qid AS query_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(SUM(CASE WHEN i1.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_probe1,
              |  CAST(SUM(CASE WHEN i2.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_probe2,
              |  SUM(CASE WHEN i2.cid IS NOT NULL THEN 1 ELSE 0 END)
              |    >= SUM(CASE WHEN i1.cid IS NOT NULL THEN 1 ELSE 0 END) AS recall_monotone
              |FROM exact ex
              |LEFT JOIN ivf1 i1 ON ex.qid = i1.qid AND ex.cid = i1.cid
              |LEFT JOIN ivf2 i2 ON ex.qid = i2.qid AND ex.cid = i2.cid
              |GROUP BY ex.qid ORDER BY query_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.lloydRefine(emb,
          Similarity.centroids(emb, "label", 64), iters = 2)
        val queries = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
          .select(col("query_id"), col("corpus_id"))
        val ivf1 = Similarity.ivfTopK(emb, queries, cents, k = 5, nProbe = 1)
          .select(col("query_id"), col("corpus_id"), lit(1L).as("h1"))
        val ivf2 = Similarity.ivfTopK(emb, queries, cents, k = 5, nProbe = 2)
          .select(col("query_id"), col("corpus_id"), lit(1L).as("h2"))
        exact.join(ivf1, Seq("query_id", "corpus_id"), "left")
          .join(ivf2, Seq("query_id", "corpus_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("h1"), lit(0L))).as("hits_probe1"),
            sum(coalesce(col("h2"), lit(0L))).as("hits_probe2"))
          .withColumn("recall_monotone", col("hits_probe2") >= col("hits_probe1"))
          .orderBy("query_id")
      }),

    // X-ivf-recall-curve: the standard ANN acceptance gate — recall@5
    // vs exact brute force at nProbe ∈ {1, 2, 4}, one row per probe
    // width, with a lag-window monotonicity flag: widening the probe may
    // only add candidate cells, so recall must be non-decreasing. Three
    // aggregate rows; all the heavy lifting reuses the shared IVF CTEs /
    // ivfTopK paths already verified by x_ivf_lloyd_probe2.
    Q("x_ivf_recall_curve",
      Some {
        def arm(n: Int) =
          s"""SELECT $n AS n_probe,
             |  CAST(SUM(CASE WHEN i.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             |  CAST(COUNT(*) AS BIGINT) AS total
             |FROM exact ex LEFT JOIN ivf$n i ON ex.qid = i.qid AND ex.cid = i.cid""".stripMargin
        s"""WITH ${ivfCtes(probeMax = 4)},
           |${ivfCandSql(1)},
           |${ivfCandSql(2)},
           |${ivfCandSql(4)},
           |curve AS (${arm(1)} UNION ALL ${arm(2)} UNION ALL ${arm(4)}),
           |r AS (SELECT n_probe, hits, total,
           |        ROUND(hits * 1.0 / total + 1e-9, 4) AS recall FROM curve)
           |SELECT n_probe, hits, total, recall,
           |  COALESCE(recall >= lag(recall) OVER (ORDER BY n_probe), TRUE) AS monotone
           |FROM r ORDER BY n_probe""".stripMargin
      },
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.lloydRefine(emb,
          Similarity.centroids(emb, "label", 64), iters = 2)
        val queries = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
          .select(col("query_id"), col("corpus_id"))
        val curve = Seq(1, 2, 4).map { np =>
          val ivf = Similarity.ivfTopK(emb, queries, cents, k = 5, nProbe = np)
            .select(col("query_id"), col("corpus_id"), lit(1L).as("h"))
          exact.join(ivf, Seq("query_id", "corpus_id"), "left")
            .agg(sum(coalesce(col("h"), lit(0L))).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(np).as("n_probe"), col("hits"), col("total"))
        }.reduce(_.unionByName(_))
        // 3 rows total: the unpartitioned lag window is trivially fine
        val wCurve = Window.orderBy("n_probe")
        curve
          .withColumn("recall", R(col("hits") * lit(1.0) / col("total")))
          .withColumn("monotone",
            coalesce(col("recall") >= lag(col("recall"), 1).over(wCurve),
              lit(true)))
          .orderBy("n_probe")
      }),

    // X-retrieval-eval: the standard IR metric suite — recall@5, MRR,
    // binary-gain nDCG@5 — for the IVF(nProbe=2) system ranking against
    // the exact brute-force top-5 as graded gold. Recall says WHETHER the
    // ANN index finds the true neighbors; MRR/nDCG say WHERE it puts
    // them — the rank-position signal recall can't see, and the number a
    // retrieval pipeline actually tunes nProbe against. Shape: the two
    // audited top-k operators + a queries-sized metric aggregation
    // (5 rows); scales exactly as its constituent operators do.
    Q("x_retrieval_eval",
      Some(s"""WITH ${ivfCtes(probeMax = 2)},
              |sys AS (SELECT qid, cid, rn FROM (
              |    SELECT p.qid, a.vec_id AS cid,
              |      row_number() OVER (PARTITION BY p.qid ORDER BY (${cosSql("a.v", "p.qv")}) DESC, a.vec_id) AS rn
              |    FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid) WHERE rn <= 5),
              |rel AS (SELECT s.qid, s.rn,
              |          CASE WHEN ex.cid IS NOT NULL THEN 1 ELSE 0 END AS rel
              |        FROM sys s LEFT JOIN exact ex ON ex.qid = s.qid AND ex.cid = s.cid),
              |idcg AS (SELECT SUM(1.0 / log2(i + 1)) AS v FROM range(1, 6) r(i))
              |SELECT qid AS query_id,
              |       ROUND(SUM(rel) / 5.0 + 1e-9, 4) AS recall_at_5,
              |       ROUND(COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rn END), 0.0) + 1e-9, 4) AS mrr,
              |       ROUND(SUM(CASE WHEN rel = 1 THEN 1.0 / log2(rn + 1) ELSE 0.0 END) / idcg.v + 1e-9, 4) AS ndcg_at_5
              |FROM rel, idcg GROUP BY qid, idcg.v ORDER BY query_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.lloydRefine(emb,
          Similarity.centroids(emb, "label", 64), iters = 2)
        val queries = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(emb, queries, 5)
          .select(col("query_id"), col("corpus_id"), lit(1).as("rel"))
        val sys = Similarity.ivfTopK(emb, queries, cents, k = 5, nProbe = 2)
          .select(col("query_id"), col("corpus_id"), col("rank"))
        // binary gains with all 5 gold items relevant → IDCG is the
        // k=5 constant Σ 1/log2(i+1)
        val idcg = (1 to 5).map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum
        sys.join(exact, Seq("query_id", "corpus_id"), "left")
          .na.fill(0, Seq("rel"))
          .groupBy("query_id")
          .agg(
            R(sum("rel") / lit(5.0)).as("recall_at_5"),
            R(coalesce(lit(1.0) / min(when(col("rel") === 1, col("rank"))),
              lit(0.0))).as("mrr"),
            R(sum(when(col("rel") === 1,
              lit(1.0) / log2(col("rank") + lit(1))).otherwise(lit(0.0)))
              / lit(idcg)).as("ndcg_at_5"))
          .orderBy("query_id")
      }),

    // X-rbo: rank-biased overlap (Webber et al. 2010) between the exact
    // cosine top-5 and the IVF(nProbe=1) top-5, per query — the
    // top-weighted ranking-similarity number that says not just WHETHER
    // the ANN arm finds the right items (recall) but whether it puts
    // them in the same ORDER, discounting depth geometrically (p=0.9).
    // Identity used on both engines: a pair first co-present at depth
    // m = max(rank_a, rank_b) contributes (1−p)·Σ_{d=m..5} p^(d−1)/d —
    // the coefficient CASE below is the SAME literal-arithmetic string
    // on both sides (explicit 0.9 products, no pow), so no libm
    // divergence can enter. Shape: the two audited top-k operators +
    // an equi-join + a queries-sized aggregation.
    Q("x_rbo_rankings",
      Some {
        s"""WITH ${ivfCtes(probeMax = 1)},
           |exr AS (SELECT qid, cid, rn AS ra FROM (
           |    SELECT q.vec_id AS qid, t.vec_id AS cid,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY (${cosSql("t.v", "q.v")}) DESC, t.vec_id) AS rn
           |    FROM q JOIN e t ON t.vec_id <> q.vec_id) WHERE rn <= 5),
           |sysr AS (SELECT qid, cid, rn AS rb FROM (
           |    SELECT p.qid, a.vec_id AS cid,
           |      row_number() OVER (PARTITION BY p.qid ORDER BY (${cosSql("a.v", "p.qv")}) DESC, a.vec_id) AS rn
           |    FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid) WHERE rn <= 5),
           |pairs AS (SELECT x.qid, GREATEST(x.ra, s.rb) AS m
           |          FROM exr x JOIN sysr s ON x.qid = s.qid AND x.cid = s.cid),
           |contrib AS (SELECT qid, ($rboCoefSql) AS c FROM pairs),
           |per AS (SELECT qid, SUM(c) AS sc2 FROM contrib GROUP BY qid)
           |SELECT q.vec_id AS query_id,
           |       ROUND(0.1 * COALESCE(per.sc2, 0.0) + 1e-9, 4) AS rbo
           |FROM q LEFT JOIN per ON q.vec_id = per.qid
           |ORDER BY query_id""".stripMargin
      },
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.lloydRefine(emb,
          Similarity.centroids(emb, "label", 64), iters = 2)
        val queries = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(emb, queries, 5)
          .select(col("query_id"), col("corpus_id"), col("rank").as("ra"))
        val sys = Similarity.ivfTopK(emb, queries, cents, k = 5, nProbe = 1)
          .select(col("query_id"), col("corpus_id"), col("rank").as("rb"))
        val per = exact.join(sys, Seq("query_id", "corpus_id"))
          .withColumn("m", greatest(col("ra"), col("rb")))
          .withColumn("c", expr(rboCoefSql))
          .groupBy("query_id").agg(sum(col("c")).as("sc2"))
        queries.select(col("vec_id").as("query_id"))
          .join(per, Seq("query_id"), "left")
          .select(col("query_id"),
            R(lit(0.1) * coalesce(col("sc2"), lit(0.0))).as("rbo"))
          .orderBy("query_id")
      }),

    // X-matryoshka: truncated-dimension retrieval quality — recall@5 of
    // brute-force cosine over the FIRST d dims (d = 8/16/32/64) against
    // the full-dim exact top-5. The storage/quality knob of
    // Matryoshka-style embeddings: every halving of d halves the index
    // bytes and the dot-product cost, and this curve says what it costs
    // in recall. Shape: four truncated broadcast-scored top-k arms +
    // the audited full-dim arm; the slice happens BEFORE the score, so
    // a d-dim arm SHIPS and scores only d dims past the projection. (The
    // scan itself still reads the full array — parquet prunes columns,
    // not array elements; the storage saving at scale comes from WRITING
    // the truncated index, which is one `slice` away.)
    Q("x_matryoshka_recall",
      Some {
        def armCte(d: Int) =
          s"""arm$d AS (SELECT qid, cid FROM (
             |    SELECT q.qid, t.vec_id AS cid,
             |      row_number() OVER (PARTITION BY q.qid
             |        ORDER BY (${cosSql("t.v[1:" + d + "]", "q.qv[1:" + d + "]")}) DESC, t.vec_id) AS rn
             |    FROM q JOIN e t ON t.vec_id <> q.qid) WHERE rn <= 5)""".stripMargin
        def armSel(d: Int) =
          s"""SELECT $d AS dims,
             |  CAST(SUM(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             |  CAST(COUNT(*) AS BIGINT) AS total
             |FROM exact ex LEFT JOIN arm$d a ON ex.qid = a.qid AND ex.cid = a.cid""".stripMargin
        s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
           |exact AS (SELECT qid, cid FROM (
           |    SELECT q.qid, t.vec_id AS cid,
           |      row_number() OVER (PARTITION BY q.qid ORDER BY (${cosSql("t.v", "q.qv")}) DESC, t.vec_id) AS rn
           |    FROM q JOIN e t ON t.vec_id <> q.qid) WHERE rn <= 5),
           |${Seq(8, 16, 32, 64).map(armCte).mkString(",\n")},
           |curve AS (${Seq(8, 16, 32, 64).map(armSel).mkString("\n UNION ALL ")})
           |SELECT dims, hits, total, ROUND(hits * 1.0 / total + 1e-9, 4) AS recall
           |FROM curve ORDER BY dims""".stripMargin
      },
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
        val gold = Similarity.bruteForceTopK(emb, queries, 5)
          .select(col("query_id"), col("corpus_id"), lit(1L).as("h"))
        val curve = Seq(8, 16, 32, 64).map { d =>
          def trunc(df: DataFrame) = df.select(col("vec_id"),
            slice(col("embedding"), 1, d).as("embedding"))
          val arm = Similarity.bruteForceTopK(trunc(emb), trunc(queries), 5)
            .select(col("query_id"), col("corpus_id"))
          gold.join(arm.withColumn("hit", lit(1L)),
              Seq("query_id", "corpus_id"), "left")
            .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(d).as("dims"), col("hits"), col("total"))
        }.reduce(_.unionByName(_))
        curve.withColumn("recall", R(col("hits") * lit(1.0) / col("total")))
          .orderBy("dims")
      }),

    // X-semdedup: semantic deduplication — nearest-centroid clustering
    // bounds the quadratic cosine stage to within-cell pairs; the
    // higher-id member of every pair above threshold is flagged with its
    // lowest duplicate partner. Threshold 0.4 sits just under the corpus
    // max within-cell cosine (~0.47) so the flag set is small but real.
    Q("x_semantic_dedup",
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m FROM el, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv FROM dims GROUP BY label),
              |assign AS (SELECT vec_id, v, cell FROM (
              |    SELECT e.vec_id, e.v, c.cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM e CROSS JOIN cent c) WHERE rn = 1),
              |n AS (SELECT vec_id, v, cell, sqrt(list_dot_product(v, v)) AS nrm
              |      FROM assign WHERE sqrt(list_dot_product(v, v)) > 0),
              |p AS (SELECT a.cell, a.vec_id AS ia, b.vec_id AS ib,
              |        list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS c
              |      FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |SELECT ib AS vec_id, cell, MIN(ia) AS dup_of,
              |  CAST(COUNT(*) AS BIGINT) AS n_dups,
              |  ROUND(MAX(c) + 1e-9, 4) AS max_cos
              |FROM p WHERE c >= 0.4 GROUP BY ib, cell ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.semanticDedup(emb, Similarity.centroids(emb, "label", 64),
            threshold = 0.4)
          .select(col("vec_id"), col("cell"), col("dup_of"), col("n_dups"),
            R(col("max_cos")).as("max_cos"))
          .orderBy("vec_id")
      }),

    // X-semdedup-calibration: the dedup-rate curve a user reads BEFORE
    // picking the SemDeDup threshold — for each candidate threshold, how
    // many docs would be flagged (docs whose max within-cell cosine to a
    // lower-id neighbor reaches it). Runs semanticDedup unthresholded
    // (threshold = -1 keeps every within-cell pair) and sweeps the
    // candidates over the ROUNDED per-doc maximum, so the count can't
    // flip on a last-ulp dot-product boundary.
    Q("x_semdedup_calibration",
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m FROM el, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv FROM dims GROUP BY label),
              |assign AS (SELECT vec_id, v, cell FROM (
              |    SELECT e.vec_id, e.v, c.cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM e CROSS JOIN cent c) WHERE rn = 1),
              |n AS (SELECT vec_id, v, cell, sqrt(list_dot_product(v, v)) AS nrm
              |      FROM assign WHERE sqrt(list_dot_product(v, v)) > 0),
              |p AS (SELECT a.cell, a.vec_id AS ia, b.vec_id AS ib,
              |        list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS c
              |      FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id),
              |m AS (SELECT ib AS vec_id, ROUND(MAX(c) + 1e-9, 4) AS mx
              |      FROM p GROUP BY ib)
              |SELECT thr, CAST(COUNT(*) AS BIGINT) AS candidates,
              |  CAST(SUM(CASE WHEN mx >= thr THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs
              |FROM m CROSS JOIN (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7]) AS thr)
              |GROUP BY thr ORDER BY thr""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val m = Similarity.semanticDedup(emb,
            Similarity.centroids(emb, "label", 64), threshold = -1.0)
          .select(col("vec_id"), R(col("max_cos")).as("mx"))
        // tiny literal threshold spine — a documented broadcast
        m.crossJoin(broadcast(Seq(0.3, 0.4, 0.5, 0.6, 0.7).toDF("thr")))
          .groupBy("thr")
          .agg(count(lit(1)).as("candidates"),
            sum(when(col("mx") >= col("thr"), 1L).otherwise(0L))
              .as("flagged_docs"))
          .orderBy("thr")
      }),

    // X-ivf-indexed: IVF top-k answered from the STORED index table
    // (Similarity.assignCells — the persistent ANN index the streaming
    // ivfIngest maintains) instead of re-assigning the corpus: queries
    // probe their 2 nearest cells, the probe equi-joins the index on
    // cell. Assignment is stateless, so the indexed answer must equal
    // the direct ivfTopK recompute (SimilaritySpec pins that parity;
    // this oracle pins correctness of the indexed path itself).
    Q("x_ivf_indexed_topk",
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m
              |         FROM e, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv
              |         FROM dims GROUP BY label),
              |idx AS (SELECT vec_id, v, cell FROM (
              |    SELECT e.vec_id, e.v, c.cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM e CROSS JOIN cent c) WHERE rn = 1),
              |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
              |probes AS (SELECT qid, qv, cell FROM (
              |    SELECT q.vec_id AS qid, q.v AS qv, c.cell,
              |      row_number() OVER (PARTITION BY q.vec_id
              |                         ORDER BY (${cosSql("q.v", "c.cv")}) DESC, c.cell) AS crn
              |    FROM q CROSS JOIN cent c) WHERE crn <= 2),
              |scored AS (SELECT p.qid, a.vec_id AS cid, (${cosSql("a.v", "p.qv")}) AS cosine
              |           FROM idx a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid)
              |SELECT qid AS query_id, cid AS corpus_id,
              |       ROUND(cosine + 1e-9, 4) AS cosine, CAST(rn AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |                                   ORDER BY cosine DESC, cid) AS rn FROM scored)
              |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.centroids(emb, "label", 64)
        val index = Similarity.assignCells(emb, cents)
        Similarity.ivfTopKIndexed(index, emb.filter(col("vec_id") < 5),
            cents, k = 5, nProbe = 2)
          .select(col("query_id"), col("corpus_id"),
            R(col("cosine")).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      }),

    // X-semdedup-incremental: the embedding twin of the incremental
    // near-dup path — today's batch of embeddings vs the persistent
    // (id, cell, v, nrm) index built from history. The batch includes
    // 2x-scaled copies of history vectors (cosine exactly 1 vs their
    // originals, same cell by construction) so the cross-batch drop
    // provably fires on both engines; fresh vectors survive.
    Q("x_semantic_dedup_incremental",
      Some(s"""WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |hist AS (SELECT * FROM el WHERE vec_id < 300),
              |batch AS (SELECT vec_id, v FROM el WHERE vec_id >= 300
              |          UNION ALL
              |          SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
              |          FROM el WHERE vec_id < 10),
              |dims AS (SELECT label, i, AVG(v[i]) AS m
              |         FROM hist, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv
              |         FROM dims GROUP BY label),
              |hidx AS (SELECT vec_id, v, cell FROM (
              |    SELECT h.vec_id, h.v, c.cell,
              |      row_number() OVER (PARTITION BY h.vec_id
              |                         ORDER BY (${cosSql("h.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM hist h CROSS JOIN cent c) WHERE rn = 1),
              |hn AS (SELECT vec_id, v, cell, sqrt(list_dot_product(v, v)) AS nrm
              |       FROM hidx WHERE sqrt(list_dot_product(v, v)) > 0),
              |bidx AS (SELECT vec_id, v, cell FROM (
              |    SELECT b.vec_id, b.v, c.cell,
              |      row_number() OVER (PARTITION BY b.vec_id
              |                         ORDER BY (${cosSql("b.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM batch b CROSS JOIN cent c) WHERE rn = 1),
              |bn AS (SELECT vec_id, v, cell, sqrt(list_dot_product(v, v)) AS nrm
              |       FROM bidx WHERE sqrt(list_dot_product(v, v)) > 0),
              |dups AS (SELECT DISTINCT b.vec_id FROM bn b JOIN hn h ON b.cell = h.cell
              |         WHERE list_dot_product(b.v, h.v) / (b.nrm * h.nrm) >= 0.95)
              |SELECT vec_id FROM batch
              |WHERE vec_id NOT IN (SELECT vec_id FROM dups) ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val hist = emb.filter(col("vec_id") < 300)
        val batch = emb.filter(col("vec_id") >= 300)
          .unionByName(emb.filter(col("vec_id") < 10)
            .withColumn("vec_id", col("vec_id") + lit(1000000L))
            .withColumn("embedding",
              transform(col("embedding").cast("array<double>"),
                x => x * lit(2.0))))
        val cents = Similarity.centroids(hist, "label", 64)
        val index = Similarity.assignCells(hist, cents)
        Similarity.incrementalSemanticDedup(batch, index, cents,
            threshold = 0.95)
          .select(col("vec_id")).orderBy("vec_id")
      }),

    // X-multimodal: opaque-binary column metadata view (byte length +
    // content key), no decode — proves column pruning drops payloads.
    Q("x_multimodal_meta",
      Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
             | md5(text) AS content_key
             | FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => Multimodal.metadataView(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // P-extension: NULL-handling surface — nullif/coalesce round trips,
    // null-generating CASE, null-safe equality.
    Q("p_null_functions",
      Some("""SELECT event_id,
             | COALESCE(NULLIF(event_type, 'error'), 'was_error') AS type_or_flag,
             | CASE WHEN value > 250.0 THEN NULL ELSE value END AS capped,
             | COALESCE(CASE WHEN value > 250.0 THEN NULL ELSE value END, -1.0) AS capped_filled,
             | (CASE WHEN value > 250.0 THEN NULL ELSE value END IS NOT DISTINCT FROM NULL) AS is_capped
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val capped = when(col("value") > 250.0, lit(null)).otherwise(col("value"))
        Tables.events(s, dir).select(
          col("event_id"),
          coalesce(nullif(col("event_type"), lit("error")), lit("was_error"))
            .as("type_or_flag"),
          capped.as("capped"),
          coalesce(capped, lit(-1.0)).as("capped_filled"),
          (capped <=> lit(null)).as("is_capped"))
          .orderBy("event_id")
      }),

    // X-media: the multimodal decode pipeline end-to-end — documents as
    // opaque "image" payloads through the typed mapPartitions decode stub;
    // the oracle recomputes the stub's deterministic feature math
    // (per-16-stride byte sums) from the payload bytes. (Corpus is ASCII,
    // so character positions == byte offsets on both engines.)
    Q("x_media_decode",
      Some("""WITH t AS (SELECT doc_id, text, len(text) AS L FROM documents),
             |f AS (SELECT doc_id, L,
             |        list_sum(list_transform(range(0, 16), i ->
             |          COALESCE(list_sum(list_transform(range(1 + i, L + 1, 16),
             |                    p -> ascii(substr(text, p, 1)))), 0) % 1000)) AS checksum
             |      FROM t)
             |SELECT doc_id,
             |  CAST(CASE WHEN L = 0 THEN 0 ELSE 64 + L % 64 END AS INT) AS width,
             |  CAST(checksum AS BIGINT) AS feat_checksum
             |FROM f ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val recs = Multimodal.asMediaRecords(Tables.documents(s, dir), "doc_id",
          "text", "image")
        Multimodal.decodeStub(recs, featureDim = 16).toDF()
          .select(col("media_id").cast("long").as("doc_id"), col("width"),
            aggregate(
              transform(col("features"),
                f => round(f.cast("double") * 1000).cast("long")),
              lit(0L), (a, x) => a + x).as("feat_checksum"))
          .orderBy("doc_id")
      }),

    // X-media-dedup: perceptual dedup over the media pipeline — decode
    // stub features (the CLIP-embedding stand-in), block by extracted
    // dimensions, exact cosine within a block. The composition that
    // turns "decode media" into "dedup media"; swap decodeStub for a
    // real embedding model and nothing else changes. Features rebuilt as
    // exact thousandths so both engines score identical doubles.
    Q("x_media_dedup",
      Some("""WITH t AS (SELECT doc_id, text, len(text) AS L FROM documents),
             |f AS (SELECT doc_id,
             |        CAST(CASE WHEN L = 0 THEN 0 ELSE 64 + L % 64 END AS INT) AS width,
             |        list_transform(range(0, 16), i ->
             |          COALESCE(list_sum(list_transform(range(1 + i, L + 1, 16),
             |                    p -> ascii(substr(text, p, 1)))), 0) % 1000 / 1000.0) AS fv
             |      FROM t),
             |n AS (SELECT doc_id, width, fv, sqrt(list_dot_product(fv, fv)) AS nm
             |      FROM f WHERE sqrt(list_dot_product(fv, fv)) > 0),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |        list_dot_product(a.fv, b.fv) / (a.nm * b.nm) AS c
             |      FROM n a JOIN n b ON a.width = b.width AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, ROUND(c + 1e-9, 4) AS cosine
             |FROM p WHERE c >= 0.99 ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) => {
        val recs = Multimodal.asMediaRecords(Tables.documents(s, dir),
          "doc_id", "text", "image")
        val feat = Multimodal.decodeStub(recs, featureDim = 16).toDF()
          .select(col("media_id").cast("long").as("vec_id"), col("width"),
            transform(col("features"),
              f => round(f.cast("double") * 1000) / lit(1000.0)).as("embedding"))
        Similarity.cosineNearDupPairs(feat, threshold = 0.99,
            blockCol = Some("width"))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            R(col("cosine")).as("cosine"))
          .orderBy("doc_a", "doc_b")
      }),

    // S7: CSV serialization round trip — producer-shaped to_csv lines
    // parsed back with from_csv against a declared schema (the offline
    // stand-in for the CSV-replay source).
    Q("s7_csv_roundtrip",
      Some("""SELECT event_id,
             | concat_ws(',', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), event_type) AS line,
             | user_id AS uid_rt, event_type AS etype_rt
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val csvSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("eid", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("uid", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("etype", org.apache.spark.sql.types.StringType)))
        Tables.events(s, dir)
          .withColumn("line",
            to_csv(struct(col("event_id"), col("user_id"), col("event_type"))))
          .withColumn("parsed", from_csv(col("line"), csvSchema, Map.empty[String, String]))
          .select(col("event_id"), col("line"),
            col("parsed.uid").as("uid_rt"), col("parsed.etype").as("etype_rt"))
          .orderBy("event_id")
      }),

    // ORC file round-trip: the columnar sibling of the parquet scans —
    // write a projection to ORC (Spark-native, no extra dependency),
    // read it back, and hash-match the parquet-derived oracle. Pins that
    // the engine's source surface is format-plural: a warehouse whose
    // neighbors emit ORC plugs in with a one-word reader change.
    Q("s_orc_roundtrip",
      Some("""SELECT event_id, user_id, event_type, value
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => {
        // per-invocation path: the pid guards against cross-process races
        // (a test suite vs a Verify run), the counter against two
        // evaluations inside the same JVM overwriting a staging dir the
        // other is mid-read on. Stale dirs whose owning process is DEAD
        // are swept (live pids may still be mid-read — leave theirs) so
        // /tmp doesn't accumulate one dir per past run.
        val inv = SparkEntry.orcStagingCounter.incrementAndGet()
        val stale = Option(new java.io.File("/tmp")
          .listFiles((_, n) => n.startsWith("graft_orc_roundtrip_")))
          .getOrElse(Array.empty)
        stale.foreach { d =>
          // /tmp is world-writable: a foreign dir whose digits overflow
          // Long must be skipped, not crash the sweep
          val pid = scala.util.Try(d.getName
            .stripPrefix("graft_orc_roundtrip_")
            .takeWhile(_.isDigit).toLong).toOption
          val dead = pid.exists(p =>
            ProcessHandle.of(p).map[Boolean](!_.isAlive).orElse(true))
          if (dead) org.apache.commons.io.FileUtils.deleteQuietly(d)
        }
        val path =
          s"/tmp/graft_orc_roundtrip_${ProcessHandle.current().pid()}_$inv"
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "value")
          .write.mode("overwrite").orc(path)
        s.read.orc(path).orderBy("event_id")
      }),

    // X-minhash-accuracy: sketch estimate vs ground truth — the fraction of
    // matching MinHash components against exact Jaccard for every verified
    // near-dup pair (the query that tells you whether 16 permutations is
    // enough for your threshold).
    // DIAGNOSTIC — exact all-pairs BY DESIGN: this is the accuracy probe
    // for the sketch, not a production path (the scale path is
    // x_minhash_lsh_neardups). Its bench time is expected to dominate; do
    // not "fix" it by blocking.
    Q("x_minhash_est_vs_exact",
      Some(s"""WITH pre AS MATERIALIZED ($preShinglesSql),
              |tok AS (SELECT doc_id, unnest(sh) AS s FROM pre),
              |uv AS (SELECT doc_id,
              |         CAST(concat('0x', substr(md5(s), 1, 10)) AS BIGINT) AS u,
              |         CAST(concat('0x', substr(md5(s), 11, 10)) AS BIGINT) AS v
              |       FROM tok),
              |mh AS (SELECT doc_id, p, MIN(u + p * v) AS m
              |       FROM uv CROSS JOIN range(0, 16) r(p) GROUP BY doc_id, p),
              |sigl AS MATERIALIZED (SELECT doc_id, list(m ORDER BY p) AS sig FROM mh GROUP BY doc_id),
              |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |            (${jaccardSql("a.sh", "b.sh")}) AS jac
              |          FROM pre a JOIN pre b
              |            ON a.source = b.source AND a.doc_id < b.doc_id
              |          WHERE (${jaccardSql("a.sh", "b.sh")}) >= 0.02)
              |SELECT p.id_a, p.id_b,
              |  ROUND(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 + 1e-9, 4) AS est_jaccard,
              |  ROUND(p.jac + 1e-9, 4) AS exact_jaccard
              |FROM pairs p JOIN sigl sa ON sa.doc_id = p.id_a
              |             JOIN sigl sb ON sb.doc_id = p.id_b
              |ORDER BY p.id_a, p.id_b""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // ONE shingle pipeline for both arms (r19 cold-bench audit): the
        // pair generator already pins its exploded (id, s) index for the
        // self-join's two sides — the signature aggregation consumes the
        // SAME generation instead of re-shingling the corpus, which the
        // old warm min-of-2 masked (cross-rep persist reuse hid the
        // second shingle pass's cost entirely).
        // The index pin is DELIBERATELY left in place (ADVICE r19): a
        // registry cell returns a lazy frame, so there is no
        // post-consumption hook to release from — this cell (like every
        // cell built on the persisting pair/CC operators) relies on the
        // harness sweep between queries (GraftSession.sweepCaches in
        // Bench/Verify). A RESIDENT pipeline consumes the result and then
        // calls Graph.uncacheUnder on it (the contract on that method).
        val (pairs, ex) = Dedup.ngramJaccardPairsWithIndex(
          docs, "text", "doc_id", "source", 3, 0.02)
        // Signatures via the exploded numeric-min aggregation (one md5 per
        // shingle), same shape as minhashNearDups — not the per-row array
        // expression, which re-hashes once per permutation.
        val (u, v) = Dedup.uvHalves(col("s"))
        val mins = (0 until 16).map(p => min(col("u") + lit(p.toLong) * col("v")).as(s"m$p"))
        val sig = ex.select(col("id"), u.as("u"), v.as("v"))
          .groupBy("id").agg(mins.head, mins.tail: _*)
          .select(col("id"), array((0 until 16).map(p => col(s"m$p")): _*).as("sig"))
        pairs
          .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
          .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            R(size(filter(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)), z => z === 1))
              .cast("double") / 16.0).as("est_jaccard"),
            R(col("jaccard")).as("exact_jaccard"))
          .orderBy("id_a", "id_b")
      }),

    // X-source-overlap: cross-source corpus-overlap matrix — estimated
    // shingle-set Jaccard for every source PAIR from per-source MinHash
    // signatures (min is union-mergeable, so a source's whole-corpus
    // signature is one hash aggregation; pairwise cost is sources², not
    // docs²) — the planning signal for cross-source dedup. exact_jaccard
    // is the ground-truth twin computed by both engines; at corpus scale
    // only the estimate runs (the exact arm is the diagnostic).
    Q("x_source_overlap",
      Some(s"""WITH pre AS MATERIALIZED ($preShinglesSql),
              |tok AS (SELECT source, unnest(sh) AS s FROM pre),
              |ss AS MATERIALIZED (SELECT DISTINCT source, s FROM tok),
              |uv AS (SELECT source,
              |         CAST(concat('0x', substr(md5(s), 1, 10)) AS BIGINT) AS u,
              |         CAST(concat('0x', substr(md5(s), 11, 10)) AS BIGINT) AS v
              |       FROM ss),
              |mh AS (SELECT source, p, MIN(u + p * v) AS m
              |       FROM uv CROSS JOIN range(0, 16) r(p) GROUP BY source, p),
              |sigl AS (SELECT source, list(m ORDER BY p) AS sig FROM mh GROUP BY source),
              |sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
              |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS ni
              |          FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
              |          GROUP BY 1, 2)
              |SELECT a.source AS source_a, b.source AS source_b,
              |  ROUND(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) / 16.0 + 1e-9, 4) AS est_jaccard,
              |  ROUND(COALESCE(i.ni::DOUBLE / (za.n + zb.n - i.ni), 0.0) + 1e-9, 4) AS exact_jaccard
              |FROM sigl a JOIN sigl b ON a.source < b.source
              |LEFT JOIN inter i ON i.sa = a.source AND i.sb = b.source
              |JOIN sz za ON za.source = a.source
              |JOIN sz zb ON zb.source = b.source
              |ORDER BY source_a, source_b""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // ONE corpus shingle pass feeds BOTH arms (r21): the distinct
        // (source, s) table drives the exact counts AND the signature
        // aggregation (per-perm MIN is duplicate-insensitive, so the
        // distinct'd table yields the identical signature the raw
        // exploded stream did — the oracle's uv CTE reads from ss too).
        // The old shape shingled the corpus twice, once per arm.
        val ss = graft.ext.Par.fanOut(docs)
          .select(col("source"),
            explode(array_distinct(TextAnalysis.shingles(col("text"), 3)))
              .as("s"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val est = Dedup.sourceOverlapMatrixFromShingles(ss)
        val sz = ss.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = ss.select(col("source").as("sa"), col("s"))
          .join(ss.select(col("source").as("sb"), col("s")), Seq("s"))
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("ni"))
        est
          .join(inter, col("source_a") === col("sa") &&
            col("source_b") === col("sb"), "left")
          .join(broadcast(sz.select(col("source").as("source_a"),
            col("n").as("na"))), Seq("source_a"))
          .join(broadcast(sz.select(col("source").as("source_b"),
            col("n").as("nb"))), Seq("source_b"))
          .select(col("source_a"), col("source_b"),
            R(col("est_jaccard")).as("est_jaccard"),
            R(coalesce(col("ni").cast("double") /
              (col("na") + col("nb") - col("ni")), lit(0.0)))
              .as("exact_jaccard"))
          .orderBy("source_a", "source_b")
      }),

    // X-jl-project: Johnson–Lindenstrauss random projection of the
    // 64-dim embeddings to 16 components via the deterministic seeded
    // Gaussian plane family (the SRP planes), scaled 1/sqrt(16) — the
    // dimensionality-reduction front for ANN/semantic-dedup at scale
    // (downstream shuffles move 16/64 of the bytes). Both engines embed
    // the identical plane literals; components hash-exact at 4 decimals.
    Q("x_jl_project",
      Some {
        val planes = Similarity.srpPlanes(16, 64)
        val comps = planes.zipWithIndex.map { case (p, j) =>
          val arr = p.map(_.toString).mkString("[", ",", "]")
          f"ROUND(list_dot_product(v, $arr::DOUBLE[]) / 4.0 + 1e-9, 4) AS p$j%02d"
        }.mkString(",\n ")
        s"""SELECT vec_id, $comps
           |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
           |ORDER BY vec_id""".stripMargin
      },
      (s, dir) => {
        val comps = Similarity.jlProjectCols(col("embedding"), 16, 64)
        Tables.embeddings(s, dir)
          .select(col("vec_id") +: comps.zipWithIndex.map { case (c, j) =>
            R(c).as(f"p$j%02d") }: _*)
          .orderBy("vec_id")
      }),

    // X-bpe: BPE tokenizer induction learned in-engine — 8 merge rounds
    // over the corpus word-frequency table (the corpus text is read
    // once; every round is vocab-sized). The oracle unrolls the
    // identical rounds: same greedy left-to-right rewrite (a string fold
    // with a U+001F element separator), same (freq desc, l, r)
    // tie-break, so the merge table is hash-exact across engines.
    Q("x_bpe_merges",
      Some {
        val sel = (1 to 8).map(r =>
          s"SELECT $r AS merge_rank, l AS lhs, r AS rhs, l||r AS merged, CAST(c AS BIGINT) AS pair_freq FROM m$r")
          .mkString("\n UNION ALL ")
        s"""WITH ${bpeCtes(8)}
           |$sel ORDER BY merge_rank""".stripMargin
      },
      (s, dir) => {
        val model = graft.ext.Bpe.learn(Tables.documents(s, dir), "text", 8)
        // merges is already a numMerges-bounded LOCAL frame; release the
        // final vocab checkpoint (unused here) before returning
        model.release()
        model.merges.orderBy("merge_rank")
      }),

    // X-bpe-batched: the BATCHED distributed learner over the same
    // corpus and budget (batch=4, symbol-disjoint selections under the
    // cut rule — the arm for word tables beyond learnLocal's driver
    // gate; SCALE.md "Round-17: batched distributed BPE" measured 1.87x
    // fewer round-trip costs at 200 merges on the conflict-dense worst
    // case). On this corpus the rounds are creation-dominated, so the
    // table is merge-for-merge EQUAL to strict BPE and shares the strict
    // oracle unroll —
    // a divergence (skip-jump is impossible by the cut rule; only a
    // created pair outranking a batch member could) fails the hash
    // gate loudly instead of passing silently.
    Q("x_bpe_merges_batched",
      Some {
        val sel = (1 to 8).map(r =>
          s"SELECT $r AS merge_rank, l AS lhs, r AS rhs, l||r AS merged, CAST(c AS BIGINT) AS pair_freq FROM m$r")
          .mkString("\n UNION ALL ")
        s"""WITH ${bpeCtes(8)}
           |$sel ORDER BY merge_rank""".stripMargin
      },
      (s, dir) => {
        val model = graft.ext.Bpe.learnBatched(Tables.documents(s, dir),
          "text", 8, batch = 4)
        model.release()
        model.merges.orderBy("merge_rank")
      }),

    // X-bpe-encode: the corpus vocabulary encoded with the learned merge
    // table — per word, its subword segmentation after the 8 merges
    // (replayed as literal folds; the driver-side learn arm's merge list
    // is spec-pinned identical to the distributed arm's).
    Q("x_bpe_encode",
      Some(s"""WITH ${bpeCtes(8)}
              |SELECT word, array_to_string(syms, ' ') AS encoded,
              |       CAST(len(syms) AS INT) AS n_sym,
              |       CAST(freq AS BIGINT) AS freq
              |FROM w8 ORDER BY word""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val (merges, _) = graft.ext.Bpe.learnLocal(docs, "text", 8)
        graft.ext.Bpe.encodedVocab(docs, "text",
            merges.map { case (_, l, r, _) => (l, r) })
          .select(col("word"), concat_ws(" ", col("syms")).as("encoded"),
            size(col("syms")).cast("int").as("n_sym"), col("freq"))
          .orderBy("word")
      }),

    // X-bpe-tokens: the positional per-document subword stream — the
    // deterministic token sequence a packing stage consumes, keyed by
    // (doc, word_pos, sym_pos) so no ordering survives-the-shuffle
    // assumption is needed. 2% doc sample keeps the dump bounded.
    Q("x_bpe_tokens",
      Some(s"""WITH ${bpeCtes(8)},
              |tok AS (SELECT doc_id, $toksSql AS toks FROM documents
              |        WHERE doc_id % 50 = 0),
              |words AS (SELECT doc_id,
              |          unnest(range(1, len(toks)+1)) AS word_pos,
              |          unnest(toks) AS word FROM tok),
              |enc AS (SELECT doc_id, word_pos,
              |        unnest(range(1, len(syms)+1)) AS sym_pos,
              |        unnest(syms) AS subword
              |        FROM words JOIN w8 USING (word))
              |SELECT doc_id, CAST(word_pos AS INT) AS word_pos,
              |       CAST(sym_pos AS INT) AS sym_pos, subword
              |FROM enc ORDER BY doc_id, word_pos, sym_pos""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val (merges, _) = graft.ext.Bpe.learnLocal(docs, "text", 8)
        graft.ext.Bpe.encode(docs.filter(col("doc_id") % 50 === 0),
            "text", "doc_id", merges.map { case (_, l, r, _) => (l, r) })
          .select(col("id").as("doc_id"), col("word_pos"), col("sym_pos"),
            col("subword"))
          .orderBy("doc_id", "word_pos", "sym_pos")
      }),

    // X-bpe-pack: tokenizer-aware sequence packing — the pipeline a
    // pretraining data stage actually runs: learn the merge table on the
    // corpus, encode every doc with it, then contiguous-fill per-source
    // bins of 128 SUBWORDS (not whitespace tokens — bin budgets are
    // model-context budgets, so they must count the model's units).
    // Composes Bpe.learnLocal + encode with the x_pack_chunks window.
    Q("x_bpe_pack",
      Some(s"""WITH ${bpeCtes(8)},
              |tok AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
              |words AS (SELECT doc_id, source, unnest(toks) AS word FROM tok),
              |pd AS (SELECT doc_id, source, SUM(len(syms)) AS n_sub
              |       FROM words JOIN w8 USING (word) GROUP BY doc_id, source),
              |o AS (SELECT source, n_sub,
              |        SUM(n_sub) OVER (PARTITION BY source ORDER BY doc_id
              |                         ROWS UNBOUNDED PRECEDING) AS cum
              |      FROM pd)
              |SELECT source, CAST((cum - 1) // 128 AS BIGINT) AS bin,
              |       COUNT(*) AS n_docs, CAST(SUM(n_sub) AS BIGINT) AS n_subwords
              |FROM o GROUP BY source, bin ORDER BY source, bin""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val (merges, _) = graft.ext.Bpe.learnLocal(docs, "text", 8)
        // packing only needs per-doc subword COUNTS: fold the merge
        // table once per VOCABULARY word (encodedVocab) and equi-join
        // the exploded doc words against it — the oracle's own shape —
        // instead of re-evaluating the 8-merge fold at every token
        // occurrence in the corpus (Bpe.encode's per-occurrence stream,
        // which the positional x_bpe_tokens query exists to exercise)
        val enc = graft.ext.Bpe.encodedVocab(docs, "text",
            merges.map { case (_, l, r, _) => (l, r) })
          .select(col("word"), size(col("syms")).as("n_word_sub"))
        val perDoc = docs.select(col("doc_id"), col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("word"))
          .join(enc, "word")
          .groupBy("doc_id", "source")
          .agg(sum("n_word_sub").cast("long").as("n_sub"))
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perDoc.withColumn("cum", sum(col("n_sub")).over(w))
          .withColumn("bin", floor((col("cum") - 1) / 128))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_sub")).cast("long").as("n_subwords"))
          .orderBy("source", "bin")
      }),

    // X-bpe-fertility: tokenizer fertility per language — subwords/word
    // and chars/subword under the learned 8-merge table. THE comparison
    // number for tokenizer choice: a vocabulary whose fertility is 30%
    // higher on one language inflates that language's token bill (and
    // shrinks its effective context) by the same 30%. Shape: the
    // vocabulary-sized encodedVocab join + one aggregation.
    Q("x_bpe_fertility",
      Some(s"""WITH ${bpeCtes(8)},
              |tok AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
              |words AS (SELECT doc_id, lang, unnest(toks) AS word FROM tok),
              |j AS (SELECT lang, len(syms) AS n_sub, len(word) AS n_chars
              |      FROM words JOIN w8 USING (word))
              |SELECT lang, COUNT(*) AS n_words,
              |       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
              |       ROUND(SUM(n_sub) * 1.0 / COUNT(*) + 1e-9, 4) AS fertility,
              |       ROUND(SUM(n_chars) * 1.0 / SUM(n_sub) + 1e-9, 4) AS chars_per_subword
              |FROM j GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val (merges, _) = graft.ext.Bpe.learnLocal(docs, "text", 8)
        val enc = graft.ext.Bpe.encodedVocab(docs, "text",
            merges.map { case (_, l, r, _) => (l, r) })
          .select(col("word"), size(col("syms")).as("n_sub"),
            length(col("word")).as("n_chars"))
        docs.select(col("lang"),
            explode(TextAnalysis.tokens(col("text"))).as("word"))
          .join(enc, "word")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum("n_sub").cast("long").as("n_subwords"),
            R(sum("n_sub") * lit(1.0) / count(lit(1))).as("fertility"),
            R(sum("n_chars") * lit(1.0) / sum("n_sub")).as("chars_per_subword"))
          .orderBy("lang")
      }),

    // ---- dashboard-family aggregations (A6) + producer/serialization ----

    // A6: pivot table — avg value per sensor pivoted by type.
    Q("a6_pivot_avg_by_type",
      Some {
        val cases = Seq("click", "view", "purchase", "signup", "error").map(t =>
          s"ROUND(AVG(CASE WHEN event_type = '$t' THEN value END) + 1e-9, 4) AS $t")
          .mkString(",\n ")
        s"""SELECT user_id,
           | $cases
           | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
      },
      (s, dir) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        Tables.events(s, dir).groupBy("user_id")
          .pivot("event_type", types)
          .agg(avg(col("value")))
          .select(col("user_id") +: types.map(t => R(col(t)).as(t)): _*)
          .orderBy("user_id")
      }),

    // A6: histogram via fixed-width value bucketing.
    Q("a6_value_histogram",
      Some("""SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket, COUNT(*) AS n
             | FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .groupBy(floor(col("value") / 50.0).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // A6: global single-row stats (dashboard headline tiles).
    Q("a6_global_stats",
      Some("""SELECT COUNT(*) AS n_events,
             | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             | ROUND(AVG(value) + 1e-9, 4) AS avg_value,
             | MIN(value) AS min_value, MAX(value) AS max_value,
             | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_value
             | FROM events""".stripMargin),
      (s, dir) => Tables.events(s, dir).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        R(avg(col("value"))).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,6)")
          .cast("string").as("sum_value"))),

    // P9: date-partition predicate (pushed to the scan).
    Q("p9_date_filter",
      Some("""SELECT event_type, COUNT(*) AS n FROM events
             | WHERE CAST(ts AS DATE) = DATE '2024-01-15'
             | GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .filter(to_date(col("ts")) === lit("2024-01-15").cast("date"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // S8: Kafka-producer-shaped serialization — key = sensor id, value =
    // JSON of the event struct.
    Q("s8_kafka_json_serialize",
      Some("""SELECT event_id, CAST(user_id AS VARCHAR) AS key,
             | to_json(struct_pack(user_id := user_id, event_type := event_type,
             |                     value := value))::VARCHAR AS value
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => Tables.events(s, dir).select(
        col("event_id"),
        col("user_id").cast("string").as("key"),
        to_json(struct(col("user_id"), col("event_type"), col("value"))).as("value"))
        .orderBy("event_id")),

    // As-of self-lookup: most recent prior signup event per user.
    Q("w_asof_prior_signup",
      Some("""SELECT event_id,
             | last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
             |   OVER (PARTITION BY user_id ORDER BY ts, event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_signup_id
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => AsOf.asofSelf(Tables.events(s, dir), Seq("user_id"),
          Seq(col("ts").asc, col("event_id").asc),
          col("event_id"), col("event_type") === "signup", "prior_signup_id")
        .select(col("event_id"), col("prior_signup_id"))
        .orderBy("event_id")),

    // Sketch-based scale path: approximate percentiles (KLL-style sketch,
    // fixed-size state) + HLL distinct counts — the variants the engine
    // swaps in when groups are unbounded. Sketch values can't hash-match a
    // SQL oracle directly, so the query emits deterministic BOUNDS checks
    // instead: group keys + exact row count, plus booleans asserting each
    // approx percentile lies within the group's exact [min, max] and the
    // HLL count is within 15% (≥3 sketch-rsd at the default 0.05) of the
    // exact distinct count. The oracle emits literal TRUEs — any sketch
    // excursion flips a boolean and fails the hash.
    // Scale-sketch: DataSketches HLL distinct counting with MERGEABILITY
    // pinned — per-day sketches union-merged must agree with one direct
    // sketch to well inside the sketch's own error (union is
    // max-per-register, but DataSketches' sparse→dense mode transitions
    // make the agreement near-exact rather than bit-exact at higher
    // cardinalities). This is the 100 TB pattern: sketch per
    // partition/day once, answer any date-range distinct query by merging
    // sketches instead of rescanning events. Accuracy vs exact is
    // bound-checked (lgK=12 → ~1.6% rel. error; 5% budget).
    Q("x_hll_mergeable",
      Some("""SELECT event_type,
             | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
             | TRUE AS merge_consistent, TRUE AS within_5pct
             | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val perDay = ev
          .groupBy(to_date(col("ts")).as("d"), col("event_type"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        val merged = perDay.groupBy("event_type")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_merged"))
        val direct = ev.groupBy("event_type")
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est_direct"),
            countDistinct("user_id").as("exact_distinct"))
        direct.join(merged, "event_type")
          .select(col("event_type"), col("exact_distinct"),
            (abs(col("est_merged") - col("est_direct"))
              / col("est_direct") <= 0.02).as("merge_consistent"),
            (abs(col("est_direct") - col("exact_distinct"))
              / col("exact_distinct") <= 0.05).as("within_5pct"))
          .orderBy("event_type")
      }),

    // Scale-sketch: count-min heavy hitters — one distributed
    // count_min_sketch aggregate (eps 1e-4, fixed seed → deterministic),
    // probed for each key and bound-checked against exact counts: CMS
    // never undercounts, and overshoot is bounded by eps·N. The probe
    // reads ONE aggregated binary on the driver (a scalar result, like
    // any agg collect) — the events themselves never leave executors.
    Q("x_cms_heavy_hitters",
      Some("""SELECT event_type, COUNT(*) AS exact_n,
             | TRUE AS never_under, TRUE AS within_eps
             | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val skBytes = ev
          .agg(expr("count_min_sketch(event_type, 0.0001d, 0.99d, 42)").as("sk"))
          .head().getAs[Array[Byte]]("sk")
        val cms = org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(skBytes))
        val bound = math.ceil(1e-4 * cms.totalCount()).toLong
        val exact = ev.groupBy("event_type").agg(count(lit(1)).as("exact_n"))
        import s.implicits._
        val types = exact.select("event_type").as[String].collect().toSeq
        val est = types.map(t => (t, cms.estimateCount(t))).toDF("event_type", "est_n")
        exact.join(broadcast(est), "event_type")
          .select(col("event_type"), col("exact_n"),
            (col("est_n") >= col("exact_n")).as("never_under"),
            (col("est_n") <= col("exact_n") + lit(bound)).as("within_eps"))
          .orderBy("event_type")
      }),

    // Scale-sketch: mergeable GK quantile state — the distribution member
    // of the sketch triad (HLL distinct / CMS frequency / GK quantiles).
    // Per-day partial sketches union-merged through the engine's own
    // graft_quantile_merge (Spark ships percentile_approx but no SQL merge
    // of STORED summaries) must answer like one direct sketch; both are
    // rank-bound-checked against exact counts. The direct sketch's
    // φ-quantile must carry a rank within ±ε·n of φ·n. The ~30-way day
    // fold accumulates TRUE rank error past the naive 2ε (measured
    // ~3.2ε·n here — Spark's GK merge keeps (g+delta) bookkeeping only
    // approximately, so the summary's self-reported max(g+delta)/2 can
    // under-report after a deep fold), so the merged QUERY gets a
    // documented 5·ε·n + 2 allowance. The self-reported bound itself,
    // however, measures ≤ 1.0·ε·n at every fan-in tried (2/10/32/100-way
    // folds at n=10⁴ and 10⁶, and the per-day fold here at sf0.001/0.01/
    // 0.1 — ratios 0.95-1.01): absolute (g+delta) headroom is additive
    // under merge, so relative stays ≤ ε. A separate boolean pins it at
    // ε·n + 1 (the +1 absorbs the ½-sample discretization floor of tiny
    // partials) so the stored state never silently degenerates. The estimates join back to events as ONE
    // broadcast row per group — the events never move twice.
    Q("x_quantile_sketch",
      Some("""SELECT event_type, COUNT(value) AS n_vals,
             | TRUE AS p50_rank_ok, TRUE AS p99_rank_ok,
             | TRUE AS merged_p50_ok, TRUE AS merged_bound_tight
             | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        import graft.functions.QuantileFunctions._
        val eps = 0.001
        val ev = Tables.events(s, dir)
        val perDay = ev
          .groupBy(to_date(col("ts")).as("d"), col("event_type"))
          .agg(quantileSketch(col("value"), eps).as("sk"))
        val merged = perDay.groupBy("event_type")
          .agg(quantileSketchMerge(col("sk")).as("msk"))
          .select(col("event_type"),
            quantileSketchQuery(col("msk"), Seq(0.5)).as("qm"),
            quantileSketchBound(col("msk")).as("mbound"))
        val direct = ev.groupBy("event_type")
          .agg(quantileSketchQuery(quantileSketch(col("value"), eps),
            Seq(0.5, 0.99)).as("qd"),
            count(col("value")).as("n_vals"))
        val est = direct.join(merged, Seq("event_type"))
        def rankOk(le: Column, lt: Column, phi: Double, bound: Column): Column =
          // the estimate's rank interval [lt+1, le] must intersect
          // [φ·n − bound, φ·n + bound] (±1 for floor/ceil conventions)
          le >= col("n_vals") * phi - bound - 1 &&
            lt + 1 <= col("n_vals") * phi + bound + 1
        ev.select("event_type", "value").join(broadcast(est), Seq("event_type"))
          .groupBy(col("event_type"), col("n_vals"), col("mbound"))
          .agg(
            sum(when(col("value") <= element_at(col("qd"), 1), 1L)
              .otherwise(0L)).as("le50"),
            sum(when(col("value") < element_at(col("qd"), 1), 1L)
              .otherwise(0L)).as("lt50"),
            sum(when(col("value") <= element_at(col("qd"), 2), 1L)
              .otherwise(0L)).as("le99"),
            sum(when(col("value") < element_at(col("qd"), 2), 1L)
              .otherwise(0L)).as("lt99"),
            sum(when(col("value") <= element_at(col("qm"), 1), 1L)
              .otherwise(0L)).as("mle50"),
            sum(when(col("value") < element_at(col("qm"), 1), 1L)
              .otherwise(0L)).as("mlt50"))
          .select(col("event_type"), col("n_vals"),
            rankOk(col("le50"), col("lt50"), 0.5,
              col("n_vals") * eps).as("p50_rank_ok"),
            rankOk(col("le99"), col("lt99"), 0.99,
              col("n_vals") * eps).as("p99_rank_ok"),
            rankOk(col("mle50"), col("mlt50"), 0.5,
              col("n_vals") * eps * 5 + 2).as("merged_p50_ok"),
            (col("mbound") <= col("n_vals") * eps + 1)
              .as("merged_bound_tight"))
          .orderBy("event_type")
      }),

    Q("scale_approx_window_stats",
      Some("""SELECT event_type AS sensor_type,
             | strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             | COUNT(*) AS n_rows,
             | TRUE AS p50_in_range, TRUE AS p95_in_range, TRUE AS p99_in_range,
             | TRUE AS distinct_ok
             | FROM events
             | GROUP BY 1, time_bucket(INTERVAL '1 hour', ts)
             | ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val b = Tables.eventsAsReadings(Tables.events(s, dir))
        def inRange(c: String): Column =
          col(c) >= col("min_value") && col(c) <= col("max_value")
        Gold.windowAgg(b, Seq("sensor_type"), "event_time", "value", "1 hour",
            approxPercentiles = true,
            extraAggs = Seq(
              // rsd 0.01 (vs the 0.05 default): at the default precision
              // the estimate missed hour-sized cardinalities (~26) by >15%
              // on two sf0.1 windows — the tighter sketch stays exact in
              // sparse mode at these scales and the bound documents it
              approx_count_distinct(col("sensor_id"), 0.01).as("approx_sensor_count"),
              countDistinct(col("sensor_id")).as("exact_sensor_count")))
          .select(col("sensor_type"),
            fts(col("window_start")).as("window_start"),
            col("reading_count").as("n_rows"),
            inRange("p50_value").as("p50_in_range"),
            inRange("p95_value").as("p95_in_range"),
            inRange("p99_value").as("p99_in_range"),
            (abs(col("approx_sensor_count") - col("exact_sensor_count")) <=
              greatest(lit(2L), (col("exact_sensor_count") * 0.15).cast("long")))
              .as("distinct_ok"))
          .orderBy("sensor_type", "window_start")
      }),

    // As-of join: purchases enriched with the signup "rate" in effect.
    Q("j_asof_enrichment",
      Some("""WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, ts, value AS rate FROM events WHERE event_type = 'signup')
             |SELECT l.event_id, r.rate AS rate_asof
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
             |ORDER BY l.event_id""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val right = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("value").as("rate"))
        AsOf.asofJoin(left, right, "user_id", "ts", "ts", Seq("rate"))
          .select(col("event_id"), col("rate_asof"))
          .orderBy("event_id")
      }),

    // Range join (point-in-interval): shipments landing inside sampled
    // order "fulfilment windows" [orderdate, orderdate + (key%7)+1 days).
    // The bucketized operator turns the no-equi-key range predicate into
    // an equi-join on day buckets (PlanSpec pins no BNLJ/cartesian); the
    // oracle runs the plain range join — same pairs, different plan.
    Q("j_range_point_in_interval",
      Some("""WITH iv AS (SELECT o_orderkey,
             |              datediff('day', DATE '1970-01-01', o_orderdate) AS s,
             |              datediff('day', DATE '1970-01-01', o_orderdate)
             |                + (o_orderkey % 7) + 1 AS e
             |            FROM orders WHERE o_orderkey % 101 = 0)
             |SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_ship,
             |       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
             |FROM iv JOIN lineitem
             |  ON datediff('day', DATE '1970-01-01', l_shipdate) >= s
             | AND datediff('day', DATE '1970-01-01', l_shipdate) < e
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),
      (s, dir) => {
        val days = (c: Column) => datediff(c, lit("1970-01-01")).cast("long")
        val iv = Tables.orders(s, dir).filter(col("o_orderkey") % 101 === 0)
          .select(col("o_orderkey"), days(col("o_orderdate")).as("s"),
            (days(col("o_orderdate")) + col("o_orderkey") % 7 + 1).as("e"))
        val pts = Tables.lineitem(s, dir)
          .select(col("l_quantity"), days(col("l_shipdate")).as("d"))
        // width 8 > max interval length 7: each interval copies to <= 2
        // buckets
        RangeJoin.pointInInterval(pts, iv, "d", "s", "e", bucketWidth = 8)
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_ship"),
            sum("l_quantity").cast("long").as("sum_qty"))
          .orderBy("o_orderkey")
      }),

    // Range join (interval overlap): two independently sampled order
    // window sets, one row per overlapping pair — emitted exactly once
    // even when a pair shares several buckets (the max(start) bucket owns
    // the pair). Overlap length cross-checks pair identity exactly.
    Q("j_range_interval_overlap",
      Some("""WITH l AS (SELECT o_orderkey AS l_key,
             |             datediff('day', DATE '1970-01-01', o_orderdate) AS ls,
             |             datediff('day', DATE '1970-01-01', o_orderdate)
             |               + (o_orderkey % 7) + 1 AS le
             |           FROM orders WHERE o_orderkey % 101 = 0),
             |r AS (SELECT o_orderkey AS r_key,
             |        datediff('day', DATE '1970-01-01', o_orderdate) AS rs,
             |        datediff('day', DATE '1970-01-01', o_orderdate)
             |          + (o_orderkey % 11) + 2 AS re
             |      FROM orders WHERE o_orderkey % 103 = 0)
             |SELECT l_key, CAST(COUNT(*) AS BIGINT) AS n_overlap,
             |       CAST(SUM(LEAST(le, re) - GREATEST(ls, rs)) AS BIGINT)
             |         AS overlap_days
             |FROM l JOIN r ON ls < re AND rs < le
             |GROUP BY l_key ORDER BY l_key""".stripMargin),
      (s, dir) => {
        val days = (c: Column) => datediff(c, lit("1970-01-01")).cast("long")
        val l = Tables.orders(s, dir).filter(col("o_orderkey") % 101 === 0)
          .select(col("o_orderkey").as("l_key"),
            days(col("o_orderdate")).as("ls"),
            (days(col("o_orderdate")) + col("o_orderkey") % 7 + 1).as("le"))
        val r = Tables.orders(s, dir).filter(col("o_orderkey") % 103 === 0)
          .select(col("o_orderkey").as("r_key"),
            days(col("o_orderdate")).as("rs"),
            (days(col("o_orderdate")) + col("o_orderkey") % 11 + 2).as("re"))
        RangeJoin.intervalOverlapJoin(l, r, "ls", "le", "rs", "re",
            bucketWidth = 16)
          .groupBy("l_key")
          .agg(count(lit(1)).as("n_overlap"),
            sum(least(col("le"), col("re")) - greatest(col("ls"), col("rs")))
              .cast("long").as("overlap_days"))
          .orderBy("l_key")
      }),

    // W-extension: lag/lead/rank/dense_rank/ntile — the full ranking-window
    // surface over a totally-ordered per-user stream.
    // W-ext: distribution ranking — ntile quartiles (ties broken by
    // event_id so bucket assignment is deterministic), percent_rank and
    // cume_dist (tie-aware, so ordering by value alone is already
    // deterministic), rolled up per quartile.
    Q("w_ntile_dist",
      Some("""WITH w AS (SELECT event_type, value,
             |  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q,
             |  percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr,
             |  cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
             |  FROM events)
             |SELECT event_type, CAST(q AS INT) AS quartile, COUNT(*) AS n,
             |  MIN(value) AS lo, MAX(value) AS hi,
             |  ROUND(MAX(pr) + 1e-9, 4) AS max_pr,
             |  ROUND(MAX(cd) + 1e-9, 4) AS max_cd
             |FROM w GROUP BY event_type, q ORDER BY event_type, quartile""".stripMargin),
      (s, dir) => {
        val wOrd = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        val wVal = Window.partitionBy("event_type").orderBy("value")
        Tables.events(s, dir)
          .select(col("event_type"), col("value"),
            ntile(4).over(wOrd).as("quartile"),
            percent_rank().over(wVal).as("pr"),
            cume_dist().over(wVal).as("cd"))
          .groupBy("event_type", "quartile")
          .agg(count(lit(1)).as("n"), min("value").as("lo"),
            max("value").as("hi"), R(max(col("pr"))).as("max_pr"),
            R(max(col("cd"))).as("max_cd"))
          .orderBy("event_type", "quartile")
      }),

    Q("w_lag_lead_rank",
      Some("""SELECT event_id,
             | lag(value) OVER w AS prev_value,
             | lead(value) OVER w AS next_value,
             | ROUND(value - COALESCE(lag(value) OVER w, value) + 1e-9, 4) AS delta,
             | CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank,
             | CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS BIGINT) AS type_rank,
             | CAST(ntile(4) OVER w AS INT) AS quartile
             | FROM events
             | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             | ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val wRank = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
        val wType = Window.partitionBy("user_id").orderBy(col("event_type").asc)
        Tables.events(s, dir).select(
          col("event_id"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          R(col("value") - coalesce(lag(col("value"), 1).over(w), col("value"))).as("delta"),
          rank().over(wRank).cast("long").as("value_rank"),
          dense_rank().over(wType).cast("long").as("type_rank"),
          ntile(4).over(w).as("quartile"))
          .orderBy("event_id")
      }),

    // W-extension: share-of-total + distribution ranks (percent_rank,
    // cume_dist) — partition-relative analytics.
    Q("w_share_of_total",
      Some("""SELECT event_id,
             | ROUND(value * 100.0 / SUM(value) OVER (PARTITION BY event_type) + 1e-9, 4) AS share_pct,
             | ROUND(percent_rank() OVER wo + 1e-9, 4) AS pct_rank,
             | ROUND(cume_dist() OVER wo + 1e-9, 4) AS cume
             | FROM events
             | WINDOW wo AS (PARTITION BY event_type ORDER BY value, event_id)
             | ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val wp = Window.partitionBy("event_type")
        val wo = Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
        Tables.events(s, dir).select(
          col("event_id"),
          R(col("value") * 100.0 / sum(col("value")).over(wp)).as("share_pct"),
          R(percent_rank().over(wo)).as("pct_rank"),
          R(cume_dist().over(wo)).as("cume"))
          .orderBy("event_id")
      }),

    // W-extension: correlated-subquery shape via a partition window —
    // customers above their nation's average balance.
    Q("w_above_nation_avg",
      Some("""SELECT c_custkey, ROUND(c_acctbal - avg_bal + 1e-9, 4) AS above_by
             | FROM (SELECT c_custkey, c_acctbal,
             |         AVG(c_acctbal) OVER (PARTITION BY c_nationkey) AS avg_bal
             |       FROM customer)
             | WHERE c_acctbal > avg_bal ORDER BY c_custkey""".stripMargin),
      (s, dir) => Tables.customer(s, dir)
        .withColumn("avg_bal",
          avg(col("c_acctbal")).over(Window.partitionBy("c_nationkey")))
        .filter(col("c_acctbal") > col("avg_bal"))
        .select(col("c_custkey"), R(col("c_acctbal") - col("avg_bal")).as("above_by"))
        .orderBy("c_custkey")),

    // A-extension: ROLLUP hierarchy totals (nation → segment → grand
    // total). Group keys are coalesced to 'ALL' so no NULL sort-order
    // divergence between engines.
    Q("a_rollup_nation_segment",
      Some("""SELECT COALESCE(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
             | COALESCE(c_mktsegment, 'ALL') AS segment,
             | COUNT(*) AS n_orders,
             | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS total_price,
             | ROUND(AVG(o_totalprice) + 1e-9, 4) AS avg_price
             | FROM customer JOIN orders ON o_custkey = c_custkey
             | GROUP BY ROLLUP(c_nationkey, c_mktsegment)
             | ORDER BY nation, segment""".stripMargin),
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .rollup(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,6)")
            .cast("string").as("total_price"),
          R(avg(col("o_totalprice"))).as("avg_price"))
        .select(coalesce(col("c_nationkey").cast("string"), lit("ALL")).as("nation"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n_orders"), col("total_price"), col("avg_price"))
        .orderBy("nation", "segment")),

    // A-extension: CUBE over (event_type, day-of-week) — all four grouping
    // combinations in one pass.
    Q("a_cube_type_dow",
      Some("""WITH e AS (SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow, value
             |           FROM events)
             |SELECT COALESCE(event_type, 'ALL') AS etype,
             | COALESCE(CAST(dow AS VARCHAR), 'ALL') AS dow_s,
             | COUNT(*) AS n, ROUND(AVG(value) + 1e-9, 4) AS avg_value
             |FROM e GROUP BY CUBE(event_type, dow) ORDER BY etype, dow_s""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"), col("value"))
        .cube(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), R(avg(col("value"))).as("avg_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("dow").cast("string"), lit("ALL")).as("dow_s"),
          col("n"), col("avg_value"))
        .orderBy("etype", "dow_s")),

    // J-extension: range (band) join — a tiny bounds table broadcast
    // against the fact, joined on an interval predicate. The right plan at
    // any scale: BroadcastNestedLoopJoin with a handful of bands evaluates
    // the predicate map-side with zero fact shuffle.
    Q("j_range_join_bands",
      Some {
        val values = (0 until 10)
          .map(i => s"(${i * 50}.0, ${(i + 1) * 50}.0, 'b$i')").mkString(", ")
        s"""SELECT b.band, COUNT(*) AS n, ROUND(AVG(e.value) + 1e-9, 4) AS avg_value
           | FROM events e JOIN (VALUES $values) b(lo, hi, band)
           |   ON e.value >= b.lo AND e.value < b.hi
           | GROUP BY b.band ORDER BY b.band""".stripMargin
      },
      (s, dir) => {
        val bands = s.createDataFrame(
          (0 until 10).map(i => (i * 50.0, (i + 1) * 50.0, s"b$i")))
          .toDF("lo", "hi", "band")
        Tables.events(s, dir)
          .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), R(avg(col("value"))).as("avg_value"))
          .orderBy("band")
      }),

    // X-sessionize: gaps-and-islands sessionization (30-min inactivity
    // gap) with per-session rollup.
    Q("x_sessionize",
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
             |  FROM x)
             |SELECT user_id, session_idx, COUNT(*) AS n_events,
             |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
             |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
             |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
             |FROM s GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin),
      (s, dir) => Sessionize.sessionAgg(Tables.events(s, dir), Seq("user_id"),
          "ts", Seq(col("ts").asc, col("event_id").asc), gapSeconds = 1800)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          ftsU(col("session_start")).as("session_start"),
          ftsU(col("session_end")).as("session_end"),
          col("duration_us"))
        .orderBy("user_id", "session_idx")),

    // X-array: higher-order array functions over embeddings (filter,
    // transform+aggregate, codegen dot product, element extrema).
    Q("x_array_hof",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
             |SELECT vec_id,
             | CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
             | ROUND(list_sum(list_transform(v, x -> abs(x))) + 1e-9, 4) AS l1_norm,
             | ROUND(sqrt(list_dot_product(v, v)) + 1e-9, 4) AS l2_norm,
             | ROUND(list_max(v) + 1e-9, 4) AS vmax,
             | ROUND(list_min(v) + 1e-9, 4) AS vmin
             |FROM e ORDER BY vec_id""".stripMargin),
      (s, dir) => Tables.embeddings(s, dir).select(
        col("vec_id"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        R(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + abs(x.cast("double")))).as("l1_norm"),
        R(sqrt(Similarity.dot(col("embedding"), col("embedding")))).as("l2_norm"),
        R(array_max(col("embedding")).cast("double")).as("vmax"),
        R(array_min(col("embedding")).cast("double")).as("vmin"))
        .orderBy("vec_id")),

    // X-profile-similarity: time-series similarity search (the EDBT'19
    // streaming-similarity shape) — each user's 24-hour activity profile
    // (hourly mean value, missing hours 0) is a vector; top-3 most
    // similar other users by cosine. The corpus reduction happens in the
    // AGGREGATION (events → one 24-dim row per user); the all-pairs
    // scoring runs over the users-sized profile table only — at larger
    // user counts x_profile_similarity_srp (below) IS the replacement:
    // same profiles, SRP-LSH banded candidates instead of users² pairs.
    // Ordering is pinned by ROUND(cos, 6) + id tie-break on both engines.
    Q("x_profile_similarity",
      Some(s"""WITH $profileCtes,
             |pairs AS (SELECT a.user_id, b.user_id AS other_id,
             |            COALESCE(list_dot_product(a.p, b.p)
             |              / NULLIF(sqrt(list_dot_product(a.p, a.p))
             |                * sqrt(list_dot_product(b.p, b.p)), 0), 0.0) AS c
             |          FROM prof a JOIN prof b ON a.user_id <> b.user_id),
             |rk AS (SELECT user_id, other_id, c,
             |         row_number() OVER (PARTITION BY user_id
             |           ORDER BY ROUND(c + 1e-9, 6) DESC, other_id) AS rnk
             |       FROM pairs)
             |SELECT user_id, CAST(rnk AS BIGINT) AS rnk, other_id,
             |  ROUND(c + 1e-9, 4) AS cosine
             |FROM rk WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin),
      (s, dir) =>
        profileExactTop3(userProfiles(s, dir))
          .select(col("user_id"), col("rnk").cast("long").as("rnk"),
            col("other_id"), R(col("c")).as("cosine"))
          .orderBy("user_id", "rnk")),

    // X-profile-similarity-srp: the SCALE path for the query above — the
    // same 24-dim profiles fed through SRP-LSH banding (srpTopK): banded
    // signature join generates candidates linear in |users|, exact cosine
    // scores candidates only, rank cut per user. At 100× users this is
    // the shape that survives (the all-pairs twin is 10⁴× pairs). The
    // hyperplanes are deterministic (seeded ±1) and embedded in BOTH
    // engines, and signatures are computed over per-vector MEAN-CENTERED
    // profiles in both (activity profiles are non-negative; uncentered
    // sign bits would be near-constant — see Similarity.centerVec), so
    // the candidate sets — and therefore results — are hash-exact, not
    // just statistically close.
    Q("x_profile_similarity_srp",
      Some {
        // 16 bands × 4 bits: at this corpus size recall is the binding
        // constraint, not bucket occupancy — at production scale the
        // caller raises rowsPerBand with log2(n) instead (see srpTopK)
        val planes = Similarity.srpPlanes(64, 24)
        val sigSql = planes.map { p =>
          val arr = p.map(_.toString).mkString("[", ",", "]")
          s"CASE WHEN list_dot_product(cp, $arr::DOUBLE[]) >= 0 THEN '1' ELSE '0' END"
        }.mkString("concat(", ",\n ", ")")
        s"""WITH $profileCtes,
           |ctr AS (SELECT user_id, p,
           |          list_transform(p, x -> x - list_avg(p)) AS cp FROM prof),
           |sig AS MATERIALIZED (SELECT user_id, p, $sigSql AS sg FROM ctr),
           |bands AS MATERIALIZED (SELECT user_id, b, substr(sg, b*4 + 1, 4) AS chunk
           |          FROM sig CROSS JOIN range(0, 16) r(b)),
           |cand AS (SELECT DISTINCT a.user_id AS ua, b2.user_id AS ub
           |         FROM bands a JOIN bands b2
           |           ON a.b = b2.b AND a.chunk = b2.chunk AND a.user_id < b2.user_id),
           |sym AS (SELECT ua AS user_id, ub AS other_id FROM cand
           |        UNION ALL SELECT ub, ua FROM cand),
           |scd AS (SELECT y.user_id, y.other_id,
           |          COALESCE(list_dot_product(pa.p, pb.p)
           |            / NULLIF(sqrt(list_dot_product(pa.p, pa.p))
           |              * sqrt(list_dot_product(pb.p, pb.p)), 0), 0.0) AS c
           |        FROM sym y JOIN prof pa ON pa.user_id = y.user_id
           |                   JOIN prof pb ON pb.user_id = y.other_id),
           |rk AS (SELECT user_id, other_id, c,
           |         row_number() OVER (PARTITION BY user_id
           |           ORDER BY ROUND(c + 1e-9, 6) DESC, other_id) AS rnk
           |       FROM scd)
           |SELECT user_id, CAST(rnk AS BIGINT) AS rnk, other_id,
           |  ROUND(c + 1e-9, 4) AS cosine
           |FROM rk WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin
      },
      (s, dir) =>
        Similarity.srpTopK(userProfiles(s, dir), k = 3, numPlanes = 64,
            idCol = "user_id", vecCol = "p", dim = 24)
          .select(col("id").as("user_id"), col("rank").cast("long").as("rnk"),
            col("other_id"), R(col("cosine")).as("cosine"))
          .orderBy("user_id", "rnk")),

    // X-profile-similarity-srp-recall: the diagnostic that licenses the
    // swap — recall of the SRP path's top-3 against the exact all-pairs
    // top-3 (exact-twin/blocked-twin discipline, same as the semantic
    // decontamination pair). One row: hits, total, recall. The exact arm
    // is users² BY DESIGN (it is the ground truth being measured, run at
    // calibration time on a sample, never on the full corpus).
    Q("x_profile_similarity_srp_recall",
      Some {
        val planes = Similarity.srpPlanes(64, 24)
        val sigSql = planes.map { p =>
          val arr = p.map(_.toString).mkString("[", ",", "]")
          s"CASE WHEN list_dot_product(cp, $arr::DOUBLE[]) >= 0 THEN '1' ELSE '0' END"
        }.mkString("concat(", ",\n ", ")")
        s"""WITH $profileCtes,
           |pairs AS (SELECT a.user_id, b.user_id AS other_id,
           |            COALESCE(list_dot_product(a.p, b.p)
           |              / NULLIF(sqrt(list_dot_product(a.p, a.p))
           |                * sqrt(list_dot_product(b.p, b.p)), 0), 0.0) AS c
           |          FROM prof a JOIN prof b ON a.user_id <> b.user_id),
           |exrk AS (SELECT user_id, other_id,
           |           row_number() OVER (PARTITION BY user_id
           |             ORDER BY ROUND(c + 1e-9, 6) DESC, other_id) AS rnk
           |         FROM pairs),
           |ex AS (SELECT user_id, other_id FROM exrk WHERE rnk <= 3),
           |ctr AS (SELECT user_id, p,
           |          list_transform(p, x -> x - list_avg(p)) AS cp FROM prof),
           |sig AS MATERIALIZED (SELECT user_id, p, $sigSql AS sg FROM ctr),
           |bands AS MATERIALIZED (SELECT user_id, b, substr(sg, b*4 + 1, 4) AS chunk
           |          FROM sig CROSS JOIN range(0, 16) r(b)),
           |cand AS (SELECT DISTINCT a.user_id AS ua, b2.user_id AS ub
           |         FROM bands a JOIN bands b2
           |           ON a.b = b2.b AND a.chunk = b2.chunk AND a.user_id < b2.user_id),
           |sym AS (SELECT ua AS user_id, ub AS other_id FROM cand
           |        UNION ALL SELECT ub, ua FROM cand),
           |scd AS (SELECT y.user_id, y.other_id,
           |          COALESCE(list_dot_product(pa.p, pb.p)
           |            / NULLIF(sqrt(list_dot_product(pa.p, pa.p))
           |              * sqrt(list_dot_product(pb.p, pb.p)), 0), 0.0) AS c
           |        FROM sym y JOIN prof pa ON pa.user_id = y.user_id
           |                   JOIN prof pb ON pb.user_id = y.other_id),
           |srprk AS (SELECT user_id, other_id,
           |            row_number() OVER (PARTITION BY user_id
           |              ORDER BY ROUND(c + 1e-9, 6) DESC, other_id) AS rnk
           |          FROM scd),
           |srp AS (SELECT user_id, other_id FROM srprk WHERE rnk <= 3)
           |SELECT CAST(SUM(CASE WHEN s.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(COUNT(*) AS BIGINT) AS total,
           |  ROUND(SUM(CASE WHEN s.user_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
           |        / COUNT(*) + 1e-9, 4) AS recall
           |FROM ex LEFT JOIN srp s
           |  ON ex.user_id = s.user_id AND ex.other_id = s.other_id""".stripMargin
      },
      (s, dir) => {
        val prof = userProfiles(s, dir)
        val exact = profileExactTop3(prof).select(col("user_id"), col("other_id"))
        val srp = Similarity.srpTopK(prof, k = 3, numPlanes = 64,
            idCol = "user_id", vecCol = "p", dim = 24)
          .select(col("id").as("user_id"), col("other_id"), lit(1L).as("h"))
        exact.join(srp, Seq("user_id", "other_id"), "left")
          .agg(sum(coalesce(col("h"), lit(0L))).as("hits"),
            count(lit(1)).as("total"))
          .select(col("hits"), col("total"),
            R(col("hits") * lit(1.0) / col("total")).as("recall"))
      }),

    // X-whiten: ZCA embedding whitening — the decorrelation step ahead
    // of cosine dedup/retrieval. The eigendecomposition's output can't
    // be recomputed by a SQL oracle, so the check pins the DEFINING
    // invariants instead, exactly (not approximately): whitening a
    // corpus against its own (1/n) moments makes every whitened
    // dimension mean 0 and variance 1 and every off-diagonal covariance
    // 0, up to float→double noise and the 1e-9 eigenvalue
    // regularization. Per-dim booleans at 1e-4; oracle emits literal
    // TRUEs over range(dim). The corpus-side job is one dim²-bounded
    // aggregation + a narrow projection — nothing quadratic in rows.
    Q("x_whiten_invariants",
      Some("""SELECT CAST(range AS BIGINT) AS dim, TRUE AS mean_ok, TRUE AS var_ok,
             | TRUE AS offdiag_ok
             |FROM range(64) ORDER BY dim""".stripMargin),
      (s, dir) => {
        val wh = graft.ext.Whiten
          .whitened(Tables.embeddings(s, dir), "embedding", "wv")
        // neighbor off-diagonal: cov(k, (k+1) mod 64) — one
        // representative zero per dim keeps the check dim-sized
        wh.select(col("wv"), posexplode(col("wv")).as(Seq("dim", "x")))
          .select(col("dim").cast("long").as("dim"), col("x"),
            element_at(col("wv"),
              (((col("dim") + 1) % 64) + 1).cast("int")).as("xn"))
          .groupBy("dim")
          .agg(avg(col("x")).as("m"), avg(col("x") * col("x")).as("v"),
            avg(col("x") * col("xn")).as("od"))
          .select(col("dim"),
            (abs(col("m")) < 1e-4).as("mean_ok"),
            (abs(col("v") - 1.0) < 1e-4).as("var_ok"),
            (abs(col("od")) < 1e-4).as("offdiag_ok"))
          .orderBy("dim")
      }),

    // X-mahalanobis: covariance-aware embedding outlier scores. The
    // trace identity E[(x−μ)ᵀΣ⁻¹(x−μ)] = dim holds EXACTLY when scoring
    // the same corpus the moments came from — a closed-form oracle for
    // the whole whiten→normSq pipeline; plus every score nonnegative
    // and the count intact.
    Q("x_mahalanobis_trace",
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             | TRUE AS trace_ok, TRUE AS all_nonneg
             |FROM embeddings""".stripMargin),
      (s, dir) => graft.ext.Whiten
        .mahalanobisSq(Tables.embeddings(s, dir), "embedding", "m2")
        .agg(count(lit(1)).as("n_vecs"),
          (abs(avg(col("m2")) - 64.0) < 1e-3).as("trace_ok"),
          (min(col("m2")) >= 0.0).as("all_nonneg"))),

    // X-quantize: symmetric int8 scalar quantization of embeddings — the
    // storage/bandwidth path for ANN at scale (oracle checks scale +
    // quantized-array aggregates).
    Q("x_embedding_quantize",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
             |sc AS (SELECT vec_id, v,
             |         CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM m),
             |qq AS (SELECT vec_id, scale,
             |         list_transform(v, x ->
             |           LEAST(GREATEST(CAST(round(x * scale + 1e-9) AS INT), -127), 127)) AS qa
             |       FROM sc)
             |SELECT vec_id, ROUND(scale + 1e-9, 4) AS scale_r,
             | CAST(list_sum(qa) AS BIGINT) AS sum_q,
             | CAST(list_min(qa) AS INT) AS min_q,
             | CAST(list_max(qa) AS INT) AS max_q,
             | CAST(len(list_filter(qa, x -> abs(x) = 127)) AS INT) AS n_sat
             |FROM qq ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val qa = Quantize.int8Quantize(col("embedding"))
        Tables.embeddings(s, dir).select(
          col("vec_id"),
          R(Quantize.int8Scale(col("embedding"))).as("scale_r"),
          aggregate(qa, lit(0L), (acc, x) => acc + x.cast("long")).as("sum_q"),
          array_min(qa).as("min_q"),
          array_max(qa).as("max_q"),
          size(filter(qa, x => abs(x) === 127)).as("n_sat"))
          .orderBy("vec_id")
      }),

    // X-pq: product quantization — 64-dim vectors → 4 codes from the
    // label-mean codebook sliced per 16-dim subspace (the IVF-PQ encode
    // step; argmin by L2, tie-break lowest cell).
    Q("x_pq_codes",
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m FROM el, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv FROM dims GROUP BY label),
              |sub AS (SELECT vec_id, j, v[(j*16+1):(j*16+16)] AS sv FROM e CROSS JOIN range(0, 4) r(j)),
              |subc AS (SELECT cell, j, cv[(j*16+1):(j*16+16)] AS scv FROM cent CROSS JOIN range(0, 4) r(j)),
              |scored AS (SELECT s.vec_id, s.j, c.cell,
              |    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.scv)
              |      + list_dot_product(c.scv, c.scv) AS d2
              |  FROM sub s JOIN subc c ON s.j = c.j),
              |best AS (SELECT vec_id, j, cell, d2 FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cell) AS rn
              |    FROM scored) WHERE rn = 1)
              |SELECT vec_id,
              |  CAST(MAX(CASE WHEN j = 0 THEN cell END) AS INT) AS code0,
              |  CAST(MAX(CASE WHEN j = 1 THEN cell END) AS INT) AS code1,
              |  CAST(MAX(CASE WHEN j = 2 THEN cell END) AS INT) AS code2,
              |  CAST(MAX(CASE WHEN j = 3 THEN cell END) AS INT) AS code3,
              |  ROUND(SUM(d2) / 64 + 1e-9, 4) AS recon_mse
              |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Quantize.pqCodes(emb, Similarity.centroids(emb, "label", 64),
            m = 4, dim = 64)
          .select(col("id").as("vec_id"), col("code0"), col("code1"),
            col("code2"), col("code3"), R(col("recon_mse")).as("recon_mse"))
          .orderBy("vec_id")
      }),

    // X-ivf-pq: IVF-PQ top-k with asymmetric distance computation — the
    // billion-scale ANN query shape: candidates come from the probed
    // cells of the stored (id, cell, code0..3) index and are scored
    // purely from codes (cosine of the query vs the candidate's PQ
    // reconstruction), never touching corpus vectors. The oracle pivots
    // the per-subspace partial dots wide so both engines accumulate
    // j = 0..3 in the same order — scores are bit-identical, so the
    // rank cut safely uses the raw score + id tie-break.
    Q("x_ivf_pq_topk",
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m
              |         FROM e, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv
              |         FROM dims GROUP BY label),
              |idx AS (SELECT vec_id, cell FROM (
              |    SELECT e.vec_id, c.cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM e CROSS JOIN cent c) WHERE rn = 1),
              |sub AS (SELECT vec_id, j, v[(j*16+1):(j*16+16)] AS sv FROM e CROSS JOIN range(0, 4) r(j)),
              |subc AS (SELECT cell, j, cv[(j*16+1):(j*16+16)] AS scv FROM cent CROSS JOIN range(0, 4) r(j)),
              |scored0 AS (SELECT s.vec_id, s.j, c.cell,
              |    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.scv)
              |      + list_dot_product(c.scv, c.scv) AS d2
              |  FROM sub s JOIN subc c ON s.j = c.j),
              |codes AS (SELECT vec_id, j, cell AS code FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cell) AS rn
              |    FROM scored0) WHERE rn = 1),
              |q AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 5),
              |probes AS (SELECT qid, cell FROM (
              |    SELECT q.vec_id AS qid, c.cell,
              |      row_number() OVER (PARTITION BY q.vec_id
              |                         ORDER BY (${cosSql("q.v", "c.cv")}) DESC, c.cell) AS crn
              |    FROM q CROSS JOIN cent c) WHERE crn <= 2),
              |cand AS (SELECT p.qid, i.vec_id AS cid
              |         FROM idx i JOIN probes p ON i.cell = p.cell AND i.vec_id <> p.qid),
              |parts AS (SELECT cd.qid, cd.cid, co.j,
              |    list_dot_product(q.v[(co.j*16+1):(co.j*16+16)], sc.scv) AS qdot,
              |    list_dot_product(sc.scv, sc.scv) AS cn2
              |  FROM cand cd JOIN codes co ON co.vec_id = cd.cid
              |    JOIN subc sc ON sc.j = co.j AND sc.cell = co.code
              |    JOIN q ON q.vec_id = cd.qid),
              |wide AS (SELECT qid, cid,
              |    MAX(CASE WHEN j = 0 THEN qdot END) AS q0, MAX(CASE WHEN j = 1 THEN qdot END) AS q1,
              |    MAX(CASE WHEN j = 2 THEN qdot END) AS q2, MAX(CASE WHEN j = 3 THEN qdot END) AS q3,
              |    MAX(CASE WHEN j = 0 THEN cn2 END) AS n0, MAX(CASE WHEN j = 1 THEN cn2 END) AS n1,
              |    MAX(CASE WHEN j = 2 THEN cn2 END) AS n2, MAX(CASE WHEN j = 3 THEN cn2 END) AS n3
              |  FROM parts GROUP BY qid, cid),
              |adc AS (SELECT w.qid, w.cid,
              |    CASE WHEN q.qn = 0 OR (((n0 + n1) + n2) + n3) <= 0 THEN 0.0
              |         ELSE (((q0 + q1) + q2) + q3)
              |              / (q.qn * sqrt(((n0 + n1) + n2) + n3)) END AS score
              |  FROM wide w JOIN q ON q.vec_id = w.qid)
              |SELECT qid AS query_id, cid AS corpus_id,
              |       ROUND(score + 1e-9, 4) AS score_pq, CAST(rn AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |                                   ORDER BY score DESC, cid) AS rn
              |      FROM adc)
              |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.centroids(emb, "label", 64)
        val index = Similarity.pqIndex(emb, cents, m = 4, dim = 64)
        Similarity.ivfPqTopK(index, emb.filter(col("vec_id") < 5), cents,
            k = 5, m = 4, dim = 64, nProbe = 2)
          .select(col("query_id"), col("corpus_id"),
            R(col("score_pq")).as("score_pq"), col("rank"))
          .orderBy("query_id", "rank")
      }),

    // X-ivf-pq-residual: the FAISS-shaped residual IVF-PQ — codes encode
    // v − centroid against a sampled residual codebook (residuals of the
    // 64 lowest-id vectors), and the index stores the reconstruction
    // norm, so cell-mates stay distinguishable (raw-vector PQ against
    // the coarse codebook collapses a cell to one reconstruction).
    // score = (⟨q,c⟩ + Σ_j⟨q_j,r̂_j⟩)/(|q|·rnorm); both engines pivot the
    // per-subspace terms wide and accumulate j = 0..3 in fixed order.
    Q("x_ivf_pq_residual_topk",
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m
              |         FROM e, range(1, 65) r(i) GROUP BY label, i),
              |cent AS (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv
              |         FROM dims GROUP BY label),
              |asg AS (SELECT vec_id, v, cell, cv FROM (
              |    SELECT e.vec_id, e.v, c.cell, c.cv,
              |      row_number() OVER (PARTITION BY e.vec_id
              |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM e CROSS JOIN cent c) WHERE rn = 1),
              |rcomp AS (SELECT vec_id, i, v[i] - cv[i] AS rc FROM asg, range(1, 65) r(i)),
              |rlist AS (SELECT vec_id, list(rc ORDER BY i) AS rv FROM rcomp GROUP BY vec_id),
              |cb AS (SELECT vec_id AS code, rv AS ev FROM rlist WHERE vec_id < 64),
              |subv AS (SELECT vec_id, j, rv[(j*16+1):(j*16+16)] AS sv
              |         FROM rlist CROSS JOIN range(0, 4) r(j)),
              |subcb AS (SELECT code, j, ev[(j*16+1):(j*16+16)] AS scv
              |          FROM cb CROSS JOIN range(0, 4) r(j)),
              |sc0 AS (SELECT s.vec_id, s.j, c.code,
              |    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.scv)
              |      + list_dot_product(c.scv, c.scv) AS d2
              |  FROM subv s JOIN subcb c ON s.j = c.j),
              |codes AS (SELECT vec_id, j, code FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
              |    FROM sc0) WHERE rn = 1),
              |cvsub AS (SELECT vec_id, cell, j, cv[(j*16+1):(j*16+16)] AS cvj
              |          FROM asg CROSS JOIN range(0, 4) r(j)),
              |tms AS (SELECT co.vec_id, co.j,
              |    list_dot_product(cs.cvj, cs.cvj) + 2 * list_dot_product(cs.cvj, sc.scv)
              |      + list_dot_product(sc.scv, sc.scv) AS term
              |  FROM codes co JOIN cvsub cs ON cs.vec_id = co.vec_id AND cs.j = co.j
              |    JOIN subcb sc ON sc.j = co.j AND sc.code = co.code),
              |rnorms AS (SELECT vec_id, sqrt(GREATEST(((t0 + t1) + t2) + t3, 0.0)) AS rnorm
              |  FROM (SELECT vec_id,
              |      MAX(CASE WHEN j = 0 THEN term END) AS t0, MAX(CASE WHEN j = 1 THEN term END) AS t1,
              |      MAX(CASE WHEN j = 2 THEN term END) AS t2, MAX(CASE WHEN j = 3 THEN term END) AS t3
              |    FROM tms GROUP BY vec_id)),
              |q AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 5),
              |probes AS (SELECT qid, cell, list_dot_product(qv, cv) AS qcdot FROM (
              |    SELECT q.vec_id AS qid, q.v AS qv, c.cell, c.cv,
              |      row_number() OVER (PARTITION BY q.vec_id
              |                         ORDER BY (${cosSql("q.v", "c.cv")}) DESC, c.cell) AS crn
              |    FROM q CROSS JOIN cent c) WHERE crn <= 2),
              |cand AS (SELECT p.qid, a.vec_id AS cid, p.qcdot
              |         FROM asg a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid),
              |parts AS (SELECT cd.qid, cd.cid, co.j,
              |    list_dot_product(q.v[(co.j*16+1):(co.j*16+16)], sc.scv) AS qrdot
              |  FROM cand cd JOIN codes co ON co.vec_id = cd.cid
              |    JOIN subcb sc ON sc.j = co.j AND sc.code = co.code
              |    JOIN q ON q.vec_id = cd.qid),
              |wide AS (SELECT qid, cid,
              |    MAX(CASE WHEN j = 0 THEN qrdot END) AS q0, MAX(CASE WHEN j = 1 THEN qrdot END) AS q1,
              |    MAX(CASE WHEN j = 2 THEN qrdot END) AS q2, MAX(CASE WHEN j = 3 THEN qrdot END) AS q3
              |  FROM parts GROUP BY qid, cid),
              |adc AS (SELECT w.qid, w.cid,
              |    CASE WHEN q.qn = 0 OR r.rnorm <= 0 THEN 0.0
              |         ELSE (c.qcdot + (((q0 + q1) + q2) + q3)) / (q.qn * r.rnorm) END AS score
              |  FROM wide w JOIN q ON q.vec_id = w.qid
              |    JOIN rnorms r ON r.vec_id = w.cid
              |    JOIN (SELECT DISTINCT qid, cid, qcdot FROM cand) c
              |      ON c.qid = w.qid AND c.cid = w.cid)
              |SELECT qid AS query_id, cid AS corpus_id,
              |       ROUND(score + 1e-9, 4) AS score_pq, CAST(rn AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |                                   ORDER BY score DESC, cid) AS rn
              |      FROM adc)
              |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.centroids(emb, "label", 64)
        // NOT shared (r22): persisting the wide residual frame for just
        // two consumers — one of them a limit-64 codebook sample —
        // measured WORSE than recomputing (3.1 → 3.4 s); the 6-consumer
        // sharing that pays lives in x_pq_refined_recall
        val cb = Similarity.pqResidualCodebook(emb, cents, entries = 64)
        val idx = Similarity.pqIndexResidual(emb, cents, cb, m = 4, dim = 64)
        Similarity.ivfPqTopKResidual(idx, emb.filter(col("vec_id") < 5),
            cents, cb, k = 5, m = 4, dim = 64, nProbe = 2)
          .select(col("query_id"), col("corpus_id"),
            R(col("score_pq")).as("score_pq"), col("rank"))
          .orderBy("query_id", "rank")
      }),

    // X-pq-refined: Lloyd refinement of the residual codebook at FIXED
    // code budget — the standard PQ training step. One k-means round per
    // subspace over the corpus residual slices (seeded by the sampled
    // codebook) provably lowers quantization error; the query reports
    // recall@5 vs exact brute force AND mean quantization error for both
    // codebooks, so the fixed-budget gain is a read-off. Both engines
    // mirror the refinement round-for-round (same 6-decimal mean
    // rounding), so codes, scores, and the rank cut are hash-exact.
    Q("x_pq_refined_recall",
      Some {
        // per-codebook scoring arm over the shared residual/probe CTEs:
        // X = arm suffix, subcb = that arm's per-subspace codebook CTE
        def pqArm(x: String, name: String) =
          s"""codes_$x AS (SELECT vec_id, j, code FROM (
             |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
             |    FROM sc_$x) WHERE rn = 1),
             |qerr_$x AS (SELECT AVG(sq) AS aq FROM (
             |    SELECT vec_id, SUM(md2) AS sq FROM (
             |      SELECT vec_id, j, MIN(d2) AS md2 FROM sc_$x GROUP BY vec_id, j)
             |    GROUP BY vec_id)),
             |tms_$x AS (SELECT co.vec_id, co.j,
             |    list_dot_product(cs.cvj, cs.cvj) + 2 * list_dot_product(cs.cvj, sc.scv)
             |      + list_dot_product(sc.scv, sc.scv) AS term
             |  FROM codes_$x co JOIN cvsub cs ON cs.vec_id = co.vec_id AND cs.j = co.j
             |    JOIN sub_$x sc ON sc.j = co.j AND sc.code = co.code),
             |rnorms_$x AS (SELECT vec_id, sqrt(GREATEST(((t0 + t1) + t2) + t3, 0.0)) AS rnorm
             |  FROM (SELECT vec_id,
             |      MAX(CASE WHEN j = 0 THEN term END) AS t0, MAX(CASE WHEN j = 1 THEN term END) AS t1,
             |      MAX(CASE WHEN j = 2 THEN term END) AS t2, MAX(CASE WHEN j = 3 THEN term END) AS t3
             |    FROM tms_$x GROUP BY vec_id)),
             |parts_$x AS (SELECT cd.qid, cd.cid, co.j,
             |    list_dot_product(q.v[(co.j*16+1):(co.j*16+16)], sc.scv) AS qrdot
             |  FROM cand cd JOIN codes_$x co ON co.vec_id = cd.cid
             |    JOIN sub_$x sc ON sc.j = co.j AND sc.code = co.code
             |    JOIN q ON q.vec_id = cd.qid),
             |wide_$x AS (SELECT qid, cid,
             |    MAX(CASE WHEN j = 0 THEN qrdot END) AS q0, MAX(CASE WHEN j = 1 THEN qrdot END) AS q1,
             |    MAX(CASE WHEN j = 2 THEN qrdot END) AS q2, MAX(CASE WHEN j = 3 THEN qrdot END) AS q3
             |  FROM parts_$x GROUP BY qid, cid),
             |top_$x AS (SELECT qid, cid FROM (
             |  SELECT w.qid, w.cid,
             |    row_number() OVER (PARTITION BY w.qid ORDER BY
             |      CASE WHEN q.qn = 0 OR r.rnorm <= 0 THEN 0.0
             |           ELSE (c.qcdot + (((q0 + q1) + q2) + q3)) / (q.qn * r.rnorm) END DESC,
             |      w.cid) AS rn
             |  FROM wide_$x w JOIN q ON q.vec_id = w.qid
             |    JOIN rnorms_$x r ON r.vec_id = w.cid
             |    JOIN (SELECT DISTINCT qid, cid, qcdot FROM cand) c
             |      ON c.qid = w.qid AND c.cid = w.cid) WHERE rn <= 5),
             |arm_$x AS (SELECT '$name' AS codebook,
             |    CAST(SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             |    CAST(COUNT(*) AS BIGINT) AS total
             |  FROM exact ex LEFT JOIN top_$x t ON ex.qid = t.qid AND ex.cid = t.cid)""".stripMargin
        s"""WITH e AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |dims AS (SELECT label, i, AVG(v[i]) AS m FROM e, range(1, 65) r(i) GROUP BY label, i),
           |cent AS MATERIALIZED (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv
           |                      FROM dims GROUP BY label),
           |asg AS MATERIALIZED (SELECT vec_id, v, cell, cv FROM (
           |    SELECT e.vec_id, e.v, c.cell, c.cv,
           |      row_number() OVER (PARTITION BY e.vec_id
           |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
           |    FROM e CROSS JOIN cent c) WHERE rn = 1),
           |rcomp AS (SELECT vec_id, i, v[i] - cv[i] AS rc FROM asg, range(1, 65) r(i)),
           |rlist AS MATERIALIZED (SELECT vec_id, list(rc ORDER BY i) AS rv FROM rcomp GROUP BY vec_id),
           |subv AS MATERIALIZED (SELECT vec_id, j, rv[(j*16+1):(j*16+16)] AS sv
           |                      FROM rlist CROSS JOIN range(0, 4) r(j)),
           |cbseed AS (SELECT vec_id AS code, rv AS ev FROM rlist WHERE vec_id < 64),
           |sub_s AS MATERIALIZED (SELECT code, j, ev[(j*16+1):(j*16+16)] AS scv
           |                       FROM cbseed CROSS JOIN range(0, 4) r(j)),
           |sc_s AS MATERIALIZED (SELECT s.vec_id, s.j, c.code,
           |    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.scv)
           |      + list_dot_product(c.scv, c.scv) AS d2
           |  FROM subv s JOIN sub_s c ON s.j = c.j),
           |asg_l AS (SELECT vec_id, j, code FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
           |    FROM sc_s) WHERE rn = 1),
           |mdim AS (SELECT a.j, a.code, i, ROUND(AVG(s.sv[i]), 6) AS mc
           |  FROM asg_l a JOIN subv s ON s.vec_id = a.vec_id AND s.j = a.j, range(1, 17) r2(i)
           |  GROUP BY a.j, a.code, i),
           |ml AS (SELECT j, code, list(mc ORDER BY i) AS scv FROM mdim GROUP BY j, code),
           |sub_r AS MATERIALIZED (SELECT s0.j, s0.code, COALESCE(m.scv, s0.scv) AS scv
           |  FROM sub_s s0 LEFT JOIN ml m ON m.j = s0.j AND m.code = s0.code),
           |sc_r AS MATERIALIZED (SELECT s.vec_id, s.j, c.code,
           |    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.scv)
           |      + list_dot_product(c.scv, c.scv) AS d2
           |  FROM subv s JOIN sub_r c ON s.j = c.j),
           |q AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS qn
           |                   FROM e WHERE vec_id < 5),
           |probes AS MATERIALIZED (SELECT qid, cell, qcdot FROM (
           |    SELECT q.vec_id AS qid, c.cell, list_dot_product(q.v, c.cv) AS qcdot,
           |      row_number() OVER (PARTITION BY q.vec_id
           |                         ORDER BY (${cosSql("q.v", "c.cv")}) DESC, c.cell) AS crn
           |    FROM q CROSS JOIN cent c) WHERE crn <= 2),
           |cand AS MATERIALIZED (SELECT p.qid, a.vec_id AS cid, p.qcdot
           |         FROM asg a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid),
           |cvsub AS MATERIALIZED (SELECT vec_id, j, cv[(j*16+1):(j*16+16)] AS cvj
           |                       FROM asg CROSS JOIN range(0, 4) r(j)),
           |exact AS MATERIALIZED (SELECT qid, cid FROM (
           |    SELECT q.vec_id AS qid, t.vec_id AS cid,
           |      row_number() OVER (PARTITION BY q.vec_id
           |                         ORDER BY (${cosSql("t.v", "q.v")}) DESC, t.vec_id) AS rn
           |    FROM q JOIN e t ON t.vec_id <> q.vec_id) WHERE rn <= 5),
           |${pqArm("s", "sampled")},
           |${pqArm("r", "refined")}
           |SELECT codebook, hits, total,
           |  ROUND(hits * 1.0 / total + 1e-9, 4) AS recall,
           |  ROUND(aq + 1e-9, 4) AS avg_qerr
           |FROM (SELECT a.*, e.aq FROM arm_s a CROSS JOIN qerr_s e
           |      UNION ALL
           |      SELECT a.*, e.aq FROM arm_r a CROSS JOIN qerr_r e)
           |ORDER BY codebook""".stripMargin
      },
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.centroids(emb, "label", 64)
        // shared residual artifacts (r22): the per-vector nearest-cell
        // assignment + residual slicing behind the codebook sample, the
        // Lloyd refinement, BOTH arms' index encodes and BOTH arms'
        // quantization errors ran SIX times as independent lineages;
        // now the residual frame and its subspace slices compute once
        // (persisted) and every stage reads them
        val res = Similarity.residuals(emb, cents)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val seedCb = Similarity.pqResidualCodebookFromResiduals(res, 64)
        val sliced = Similarity.residualSlices(res, m = 4, dim = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val refCb = Similarity.lloydRefineResidualCodebookFromSlices(
          sliced, seedCb, m = 4, dim = 64, iters = 1)
        val queries = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
          .select(col("query_id"), col("corpus_id"))
        def arm(name: String, cb: DataFrame) = {
          val idx = Similarity.pqIndexResidualFromSlices(sliced, cents, cb,
            m = 4, dim = 64)
          val topk = Similarity.ivfPqTopKResidual(idx, queries, cents, cb,
              k = 5, m = 4, dim = 64, nProbe = 2)
            .select(col("query_id"), col("corpus_id"), lit(1L).as("h"))
          val rec = exact.join(topk, Seq("query_id", "corpus_id"), "left")
            .agg(sum(coalesce(col("h"), lit(0L))).as("hits"),
              count(lit(1)).as("total"))
          val qe = Similarity.pqQuantizationErrorFromSlices(sliced, cb,
              m = 4, dim = 64)
            .agg(avg("qerr").as("aq"))
          rec.crossJoin(qe).select(lit(name).as("codebook"),
            col("hits"), col("total"),
            R(col("hits") * lit(1.0) / col("total")).as("recall"),
            R(col("aq")).as("avg_qerr"))
        }
        arm("sampled", seedCb).unionByName(arm("refined", refCb))
          .orderBy("codebook")
      }),

    // P-extension: string-function surface (regex strip, pad, reverse,
    // repeat, find, edit distance, translate).
    Q("p_string_suite",
      Some("""SELECT doc_id,
             | CAST(len(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS n_novowel,
             | lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_pad,
             | reverse(source) AS src_rev,
             | repeat(upper(lang), 2) AS lang2,
             | CAST(strpos(lower(text), 'the') AS INT) AS pos_the,
             | CAST(levenshtein(source, lang) AS INT) AS lev_src_lang,
             | translate(source, 'aeiou', '01234') AS src_translated
             | FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables.documents(s, dir).select(
        col("doc_id"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("n_novowel"),
        lpad(col("doc_id").cast("string"), 8, "0").as("id_pad"),
        reverse(col("source")).as("src_rev"),
        repeat(upper(col("lang")), 2).as("lang2"),
        instr(lower(col("text")), "the").as("pos_the"),
        levenshtein(col("source"), col("lang")).as("lev_src_lang"),
        translate(col("source"), "aeiou", "01234").as("src_translated"))
        .orderBy("doc_id")),

    // Agg/join: TPC-H Q3-shaped shipping-priority top-k (selective dim
    // filter → broadcast, two-stage join, decimal revenue, ordered limit).
    Q("agg_tpch_q3_topk",
      Some("""SELECT l_orderkey,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
             | strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
             | FROM customer JOIN orders ON o_custkey = c_custkey
             |               JOIN lineitem ON l_orderkey = o_orderkey
             | WHERE c_mktsegment = 'BUILDING'
             |   AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |   AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
             | GROUP BY l_orderkey, o_orderdate, o_orderpriority
             | ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) DESC, l_orderkey
             | LIMIT 10""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(38,6)").as("rev_dec"))
        .orderBy(col("rev_dec").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"), col("rev_dec").cast("string").as("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))),

    // X-vocab: corpus vocabulary statistics — explode tokens, top-20 terms
    // by frequency with a total-order tie-break.
    Q("x_token_freq",
      Some(s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
              |tok AS (SELECT unnest(toks) AS term FROM t)
              |SELECT term, COUNT(*) AS n FROM tok
              |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(20)),

    // X-split: deterministic hash-based train/valid/test split — engine-
    // portable (md5 of the id), stable under repartitioning, never rand().
    Q("x_deterministic_split",
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
             |  FROM documents)
             |SELECT CASE WHEN bucket < 80 THEN 'train'
             |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
             | COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .withColumn("split", graft.ext.Sampling.deterministicSplit(col("doc_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("split")),

    // X-cluster-split: leakage-guarded train/valid/test split — the
    // split key is the near-dup CLUSTER id, not the doc id, so a
    // document and its near-copies land in the SAME split by
    // construction (a doc-keyed split leaks paraphrases of training
    // docs into test). Composition: near-dup pairs → connected
    // components → singleton fallback to own id → md5 split on the
    // cluster id. The oracle recomputes the identical clusters
    // (recursive CTE) and the identical md5 buckets.
    // Candidate arm: ngramJaccardPairs (inverted index), DELIBERATELY
    // not jaccardPairsPrefix — at this τ=0.02 the prefix lemma's cut is
    // bounded by ~1/(1−τ)² ≈ 1.04× while its df-ranking pass costs ~7×
    // the whole join (measured, SCALE.md "Cluster-split candidate arm").
    Q("x_cluster_split",
      Some(s"""WITH RECURSIVE $clusterCompSql,
              |d AS (SELECT doc_id, COALESCE(comp.cluster_id, doc_id) AS cluster_id
              |      FROM documents LEFT JOIN comp ON comp.id = documents.doc_id),
              |b AS (SELECT doc_id, cluster_id,
              |       CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
              |      FROM d)
              |SELECT CASE WHEN bucket < 80 THEN 'train'
              |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
              | COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters
              |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          "source", 3, 0.02)
        val comp = graft.ext.Graph.connectedComponents(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        docs.select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("split", graft.ext.Sampling.deterministicSplit(
            col("cluster_id"), Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"))
          .orderBy("split")
      }),

    // Keep-BEST-per-cluster dedup: the same near-dup clusters as
    // x_cluster_split, but instead of a split each cluster retains its
    // highest-quality member (doc-id tie-break) — the FineWeb-style
    // alternative to keep-first dedup. One rank window per cluster.
    Q("x_cluster_keep_best",
      Some(s"""WITH RECURSIVE $clusterCompSql,
              |d AS (SELECT documents.doc_id, text,
              |        COALESCE(comp.cluster_id, documents.doc_id) AS cluster_id
              |      FROM documents LEFT JOIN comp ON comp.id = documents.doc_id),
              |q AS (SELECT doc_id, cluster_id,
              |        ROUND(($qualityScoreSql) + 1e-9, 4) AS quality
              |      FROM (SELECT doc_id, cluster_id, text, $toksSql AS toks
              |            FROM d)),
              |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
              |        ORDER BY quality DESC, doc_id) AS rn FROM q)
              |SELECT cluster_id, doc_id, quality FROM r WHERE rn = 1
              |ORDER BY cluster_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          "source", 3, 0.02)
        val comp = graft.ext.Graph.connectedComponents(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        val clustered = docs.select("doc_id", "text")
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        graft.ext.Curate.keepBestPerCluster(clustered, "cluster_id")
          .select("cluster_id", "doc_id", "quality")
          .orderBy("cluster_id")
      }),

    // Deterministic fractional upsampling: repeat src0 2.5x and run
    // src1 at 0.25x in the training mix — copy counts are a pure
    // function of row identity (floor(f) + md5-uniform fractional
    // draw), identical on any engine or partitioning. The oracle
    // replays the exact draw.
    Q("x_upsample_factors",
      Some("""WITH f AS (SELECT doc_id, source,
             |    CASE source WHEN 'src0' THEN 2.5
             |                WHEN 'src1' THEN 0.25 ELSE 1.0 END AS f,
             |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT) + 0.5)
             |      / 1099511627776.0 AS u
             |  FROM documents),
             |n AS (SELECT doc_id,
             |        CAST(FLOOR(f) + CASE WHEN u < f - FLOOR(f)
             |          THEN 1 ELSE 0 END AS INT) AS n FROM f)
             |SELECT doc_id,
             |       CAST(unnest(generate_series(0, n - 1)) AS BIGINT)
             |         AS copy_idx
             |FROM n WHERE n > 0 ORDER BY doc_id, copy_idx""".stripMargin),
      (s, dir) => graft.ext.Sampling
        .upsampleByFactor(Tables.documents(s, dir), "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 0.25), defaultFactor = 1.0)
        .select("doc_id", "copy_idx")
        .orderBy("doc_id", "copy_idx")),

    // Duplicate-cluster size histogram — the standard curation report
    // ("how duplicated is this corpus"): near-dup cluster sizes →
    // (size, #clusters, #docs). Shares the cluster construction with
    // x_cluster_split / x_cluster_keep_best.
    Q("x_dup_cluster_histogram",
      Some(s"""WITH RECURSIVE $clusterCompSql,
              |d AS (SELECT documents.doc_id,
              |        COALESCE(comp.cluster_id, documents.doc_id) AS cluster_id
              |      FROM documents LEFT JOIN comp ON comp.id = documents.doc_id),
              |s AS (SELECT cluster_id, COUNT(*) AS csize FROM d GROUP BY 1)
              |SELECT csize, COUNT(*) AS n_clusters,
              |       CAST(SUM(csize) AS BIGINT) AS n_docs
              |FROM s GROUP BY 1 ORDER BY csize""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          "source", 3, 0.02)
        val comp = graft.ext.Graph.connectedComponents(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        docs.select("doc_id")
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
          .groupBy("csize").agg(count(lit(1)).as("n_clusters"),
            sum("csize").cast("long").as("n_docs"))
          .orderBy("csize")
      }),

    // One-pass cluster report (VERDICT r19 #2): split + keep-best +
    // histogram all consuming ONE shingle→pairs→CC artifact
    // (Curate.clusterReport) instead of rebuilding it per operator the
    // way the standalone cells above do. The oracle reuses the family's
    // recursive-CTE cluster construction and derives all three sections
    // from the same comp table, so a drift in ANY section (split
    // bucketing, quality ranking, size accounting) breaks the hash.
    // quality_sum is a ~500-value 4-dp sum — double + epsilon-round is
    // the repo rule for small sums (DECIMAL is for row-count-scale ones).
    Q("x_cluster_report",
      Some(s"""WITH RECURSIVE $clusterCompSql,
              |d AS MATERIALIZED (SELECT documents.doc_id, text,
              |        COALESCE(comp.cluster_id, documents.doc_id) AS cluster_id
              |      FROM documents LEFT JOIN comp ON comp.id = documents.doc_id),
              |b AS (SELECT doc_id, cluster_id,
              |       CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
              |      FROM d),
              |s1 AS (SELECT 'split' AS section,
              |        CASE WHEN bucket < 80 THEN 'train'
              |             WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS k,
              |        COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters,
              |        CAST(NULL AS DOUBLE) AS quality_sum
              |      FROM b GROUP BY 1, 2),
              |sz AS (SELECT cluster_id, COUNT(*) AS csize FROM d GROUP BY 1),
              |s2 AS (SELECT 'histogram' AS section, CAST(csize AS VARCHAR) AS k,
              |        CAST(SUM(csize) AS BIGINT) AS n_docs, COUNT(*) AS n_clusters,
              |        CAST(NULL AS DOUBLE) AS quality_sum
              |      FROM sz GROUP BY 2),
              |q AS (SELECT doc_id, cluster_id,
              |        ROUND(($qualityScoreSql) + 1e-9, 4) AS quality
              |      FROM (SELECT doc_id, cluster_id, text, $toksSql AS toks
              |            FROM d)),
              |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
              |        ORDER BY quality DESC, doc_id) AS rn FROM q),
              |s3 AS (SELECT 'keep_best' AS section, 'all' AS k,
              |        COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters,
              |        ROUND(SUM(quality) + 1e-9, 4) AS quality_sum
              |      FROM r WHERE rn = 1)
              |SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
              |ORDER BY section, k""".stripMargin),
      (s, dir) => {
        val rep = graft.ext.Curate.clusterReport(
          Tables.documents(s, dir).select("doc_id", "text", "source"))
        val splitRows = rep.split.select(lit("split").as("section"),
          col("split").as("k"), col("n_docs"), col("n_clusters"),
          lit(null).cast("double").as("quality_sum"))
        val histRows = rep.histogram.select(lit("histogram").as("section"),
          col("csize").cast("string").as("k"), col("n_docs"),
          col("n_clusters"), lit(null).cast("double").as("quality_sum"))
        val kbRows = rep.keepBest
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            R(sum(col("quality"))).as("quality_sum"))
          .select(lit("keep_best").as("section"), lit("all").as("k"),
            col("n_docs"), col("n_clusters"), col("quality_sum"))
        splitRows.unionByName(histRows).unionByName(kbRows)
          .orderBy("section", "k")
      }),

    // Training-shard manifest: every doc assigned to an ≈1000-token
    // output shard in epoch-shuffle order (shard = floor(start_offset /
    // budget); a straddling doc belongs to the shard where it STARTS).
    // The oracle computes the running total with a plain global-order
    // window; the engine uses the 256-way first-byte-bucketed prefix
    // sum — identical output IS the scale claim under test.
    Q("x_shard_manifest",
      Some(s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tok_n,
              |        md5(concat('1', '|', CAST(doc_id AS VARCHAR))) AS k
              |      FROM t0),
              |c AS (SELECT doc_id, tok_n,
              |        CAST(SUM(tok_n) OVER (ORDER BY k, doc_id) AS BIGINT)
              |          AS cum FROM t)
              |SELECT doc_id, tok_n,
              |       CAST((cum - tok_n) // 1000 AS BIGINT) AS shard_id
              |FROM c ORDER BY doc_id""".stripMargin),
      (s, dir) => graft.ext.Sampling
        .shardManifest(Tables.documents(s, dir), "text", "doc_id",
          epoch = 1, tokensPerShard = 1000L)
        .orderBy("doc_id")),

    // Deterministic epoch shuffle: the oracle recomputes the ENTIRE
    // permutation (shard assignment + within-shard position) from the
    // same md5("epoch|id") key — hash-exact, row for row. One shuffle
    // keyed on shard + per-shard sort; no global sort at any scale.
    Q("x_epoch_shuffle",
      Some("""WITH k AS (
             |  SELECT doc_id, md5(concat('1', '|', CAST(doc_id AS VARCHAR))) AS sk
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, sk,
             |    CAST(concat('0x', substr(sk, 1, 6)) AS BIGINT) % 8 AS epoch_shard
             |  FROM k)
             |SELECT doc_id, epoch_shard,
             |  row_number() OVER (PARTITION BY epoch_shard ORDER BY sk, doc_id) AS epoch_pos
             |FROM s ORDER BY epoch_shard, epoch_pos""".stripMargin),
      (s, dir) => graft.ext.Sampling
        .epochShuffle(Tables.documents(s, dir), "doc_id", epoch = 1,
          shards = 8)
        .select(col("doc_id"), col("epoch_shard"),
          col("epoch_pos").cast("long").as("epoch_pos"))
        .orderBy("epoch_shard", "epoch_pos")),

    // Deterministic mixture interleaving: stride = (src_rank − ½)/q puts
    // sources into every prefix at ≈q proportion. The oracle computes the
    // within-source rank with a plain per-source sort; the engine uses
    // the first-byte-bucketed two-pass rank (256 parallel partial sorts
    // + a broadcast offset table) — identical output is exactly the
    // scale claim under test.
    Q("x_mixture_order",
      Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
             |          FROM documents GROUP BY source),
             |p AS (SELECT source, n / SUM(n) OVER () AS p FROM c),
             |q AS (SELECT source, POWER(p, 0.5) / SUM(POWER(p, 0.5)) OVER () AS q FROM p),
             |k AS (SELECT doc_id, source,
             |        md5(concat('1', '|', CAST(doc_id AS VARCHAR))) AS mk
             |      FROM documents),
             |r AS (SELECT doc_id, source,
             |        row_number() OVER (PARTITION BY source ORDER BY mk, doc_id) AS src_rank
             |      FROM k)
             |SELECT r.doc_id, r.source, r.src_rank,
             |  ROUND((r.src_rank - 0.5) / q.q + 1e-9, 6) AS mix_stride
             |FROM r JOIN q USING (source)
             |ORDER BY mix_stride, r.source, r.doc_id""".stripMargin),
      (s, dir) => graft.ext.Sampling
        .mixtureOrder(Tables.documents(s, dir), "source", "doc_id",
          alpha = 0.5, epoch = 1)
        .select(col("doc_id"), col("source"),
          col("src_rank").cast("long").as("src_rank"), col("mix_stride"))
        .orderBy("mix_stride", "source", "doc_id")),

    // X-tfidf: per-document top-3 terms by TF-IDF (idf = ln(N/df)).
    Q("x_tfidf",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
              |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
              |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents),
              |sc AS (SELECT tf.doc_id, tf.term, tf.tf, tf.tf * ln(n.n_docs / df.df) AS tfidf
              |       FROM tf JOIN df USING (term) CROSS JOIN n),
              |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              |                                   ORDER BY tfidf DESC, term) AS term_rank
              |      FROM sc)
              |SELECT doc_id, term, tf, ROUND(tfidf + 1e-9, 4) AS tfidf_r,
              |  CAST(term_rank AS INT) AS term_rank
              |FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin),
      (s, dir) => TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "text",
          "doc_id", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          R(col("tfidf")).as("tfidf_r"), col("term_rank"))
        .orderBy("doc_id", "term_rank")),

    // A-extension: unpivot (melt) — the inverse reshape of the pivot,
    // wide per-type averages back to long (user, type, value) rows.
    // Nulls are filtered on both sides (DuckDB UNPIVOT drops them by
    // default; Spark unpivot keeps them).
    Q("a_unpivot_melt",
      Some {
        val cases = Seq("click", "view", "purchase", "signup", "error").map(t =>
          s"AVG(CASE WHEN event_type = '$t' THEN value END) AS $t").mkString(",\n ")
        s"""WITH p AS (SELECT user_id, $cases FROM events GROUP BY user_id)
           |SELECT user_id, etype, ROUND(v + 1e-9, 4) AS avg_value
           |FROM p UNPIVOT (v FOR etype IN (click, view, purchase, signup, error))
           |ORDER BY user_id, etype""".stripMargin
      },
      (s, dir) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        val p = Tables.events(s, dir).groupBy("user_id")
          .pivot("event_type", types).agg(avg(col("value")))
        p.unpivot(Array(col("user_id")), types.map(col).toArray, "etype", "v")
          .filter(col("v").isNotNull)
          .select(col("user_id"), col("etype"), R(col("v")).as("avg_value"))
          .orderBy("user_id", "etype")
      }),

    // A-extension: higher statistical moments + correlation. DuckDB's
    // skewness/kurtosis are bias-corrected sample statistics (G1/G2);
    // Spark's are population moments (g1/g2) — the oracle converts
    // G1→g1 and G2→g2 so both sides express the population definition.
    Q("a_stats_moments",
      Some("""SELECT event_type,
             | ROUND(corr(value, epoch_us(ts) / 86400000000.0) + 1e-9, 4) AS corr_vt,
             | ROUND(covar_samp(value, epoch_us(ts) / 86400000000.0) + 1e-9, 4) AS covar_vt,
             | ROUND(var_samp(value) + 1e-9, 4) AS var_v,
             | ROUND(skewness(value) * (COUNT(*) - 2) / sqrt(COUNT(*) * (COUNT(*) - 1.0)) + 1e-9, 4) AS skew_v,
             | ROUND(kurtosis(value) * ((COUNT(*) - 2.0) * (COUNT(*) - 3.0)) / ((COUNT(*) + 1.0) * (COUNT(*) - 1.0))
             |       - 6.0 / (COUNT(*) + 1.0) + 1e-9, 4) AS kurt_v
             | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val tday = unix_micros(col("ts")) / 8.64e10
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(R(corr(col("value"), tday)).as("corr_vt"),
            R(covar_samp(col("value"), tday)).as("covar_vt"),
            R(var_samp(col("value"))).as("var_v"),
            R(skewness(col("value"))).as("skew_v"),
            R(kurtosis(col("value"))).as("kurt_v"))
          .orderBy("event_type")
      }),

    // W-extension: first_value / last_value / nth_value over full-partition
    // frames.
    Q("w_first_last_nth",
      Some("""SELECT event_id,
             | first_value(value) OVER w AS first_v,
             | last_value(value) OVER wf AS last_v,
             | nth_value(value, 2) OVER wf AS second_v
             | FROM events
             | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             |        wf AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             | ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, dir).select(
          col("event_id"),
          first(col("value")).over(w).as("first_v"),
          last(col("value")).over(wf).as("last_v"),
          nth_value(col("value"), 2).over(wf).as("second_v"))
          .orderBy("event_id")
      }),

    // A-extension: deterministic string aggregation — collect_set +
    // array_sort + array_join (order-independent, unlike bare
    // collect_list whose order is partition-dependent).
    Q("a_string_agg",
      Some("""SELECT user_id,
             | array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
             | CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
             | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id")),

    // P-extension: date arithmetic — day diffs, month truncation, interval
    // addition, end-of-month, month offsets (same clamping rules on both
    // engines).
    Q("p_date_arith",
      Some("""SELECT event_id,
             | CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS days_since,
             | strftime(date_trunc('month', ts), '%Y-%m-%d') AS month_start,
             | strftime(ts + INTERVAL 3 DAY, '%Y-%m-%d %H:%M:%S.%f') AS ts_plus3d,
             | strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
             | strftime(CAST(ts AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2mo
             | FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => Tables.events(s, dir).select(
        col("event_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_since"),
        date_format(date_trunc("month", col("ts")), "yyyy-MM-dd").as("month_start"),
        ftsU(col("ts") + expr("INTERVAL 3 DAYS")).as("ts_plus3d"),
        date_format(last_day(to_date(col("ts"))), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(to_date(col("ts")), 2), "yyyy-MM-dd").as("plus2mo"))
        .orderBy("event_id")),

    // X-pipeline: the full LLM-data curation chain as ONE composed query —
    // quality-score filter → language filter → exact dedup (keep lowest id
    // per content fingerprint) → deterministic train/valid/test split →
    // per-split counts. Every stage is an operator verified on its own
    // elsewhere; this checks the composition end-to-end.
    Q("x_llm_pipeline",
      Some(s"""WITH t AS (SELECT doc_id, text, lang, $toksSql AS toks FROM documents),
              |kept AS (SELECT doc_id, text FROM t
              |         WHERE ($qualityScoreSql) >= 0.35 AND lang = 'en'),
              |f AS (SELECT doc_id, md5($normSql) AS fingerprint FROM kept),
              |d AS (SELECT doc_id, row_number() OVER (PARTITION BY fingerprint
              |                                        ORDER BY doc_id) AS rn FROM f),
              |b AS (SELECT doc_id,
              |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
              |      FROM d WHERE rn = 1),
              |s AS (SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
              |                          WHEN bucket < 90 THEN 'valid'
              |                          ELSE 'test' END AS split FROM b)
              |SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
              |       MAX(doc_id) AS max_id
              |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val kept = Tables.documents(s, dir)
          .filter(TextAnalysis.qualityScore(col("text")) >= 0.35 &&
            col("lang") === "en")
        Dedup.exactDedup(kept, "text", "doc_id")
          .withColumn("split", graft.ext.Sampling.deterministicSplit(col("doc_id"),
            Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("split")
      }),

    // X-audit: per-document curation lineage — for EVERY input doc, the
    // first gate of the x_llm_pipeline chain that dropped it (quality →
    // language → dedup) or the split it survived into. The "why was my
    // document excluded" debugging read every curation pipeline owes its
    // users; at 100 TB it's the same one pass + keep-set left join the
    // pipeline itself runs, so the audit costs what the pipeline costs.
    Q("x_curation_audit",
      Some(s"""WITH t AS (SELECT doc_id, text, lang, $toksSql AS toks FROM documents),
              |g AS (SELECT doc_id, lang, text,
              |        (($qualityScoreSql) >= 0.35) AS q_ok FROM t),
              |k AS (SELECT doc_id, text FROM g WHERE q_ok AND lang = 'en'),
              |f AS (SELECT doc_id, md5($normSql) AS fingerprint FROM k),
              |d AS (SELECT doc_id, row_number() OVER (PARTITION BY fingerprint
              |                                        ORDER BY doc_id) AS rn FROM f),
              |b AS (SELECT doc_id,
              |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
              |      FROM d WHERE rn = 1)
              |SELECT g.doc_id,
              |  CASE WHEN NOT g.q_ok THEN 'drop_quality'
              |       WHEN g.lang <> 'en' THEN 'drop_lang'
              |       WHEN b.doc_id IS NULL THEN 'drop_duplicate'
              |       WHEN b.bucket < 80 THEN 'kept_train'
              |       WHEN b.bucket < 90 THEN 'kept_valid'
              |       ELSE 'kept_test' END AS verdict
              |FROM g LEFT JOIN b ON g.doc_id = b.doc_id
              |ORDER BY g.doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val g = docs.select(col("doc_id"), col("lang"), col("text"),
          (TextAnalysis.qualityScore(col("text")) >= 0.35).as("q_ok"))
        val kept = g.filter(col("q_ok") && col("lang") === "en")
        val surv = Dedup.exactDedup(kept, "text", "doc_id")
          .withColumn("split", graft.ext.Sampling.deterministicSplit(
            col("doc_id"), Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
          .select(col("doc_id"), col("split"))
        g.join(surv, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(!col("q_ok"), lit("drop_quality"))
              .when(col("lang") =!= "en", lit("drop_lang"))
              .when(col("split").isNull, lit("drop_duplicate"))
              .otherwise(concat(lit("kept_"), col("split"))).as("verdict"))
          .orderBy("doc_id")
      }),

    // Incremental curation: the daily shape — quality gate → dedup vs the
    // historical fingerprint index → per-source cap — with per-stage
    // counts. Batch spiked with re-keyed index dups (as in
    // x_incremental_dedup) so the index kill path provably fires.
    Q("x_curate_incremental",
      Some(s"""WITH fpb AS (SELECT doc_id, source, text FROM documents WHERE doc_id >= 250
              |  UNION ALL SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id < 50),
              |t AS (SELECT doc_id, source, text, $toksSql AS toks FROM fpb),
              |kept AS (SELECT doc_id, source, text FROM t WHERE ($qualityScoreSql) >= 0.35),
              |idx AS (SELECT DISTINCT md5($normSql) AS f FROM documents WHERE doc_id < 250),
              |fp AS (SELECT doc_id, source, md5($normSql) AS f FROM kept),
              |d1 AS (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp),
              |d2 AS (SELECT doc_id, source FROM d1
              |       WHERE rn = 1 AND f NOT IN (SELECT f FROM idx)),
              |cap AS (SELECT doc_id FROM (SELECT doc_id,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS crn FROM d2)
              |  WHERE crn <= 15)
              |SELECT 'a_input' AS stage, COUNT(*) AS n FROM fpb
              |UNION ALL SELECT 'b_quality', COUNT(*) FROM kept
              |UNION ALL SELECT 'c_dedup', COUNT(*) FROM d2
              |UNION ALL SELECT 'd_cap', COUNT(*) FROM cap
              |ORDER BY stage""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        val index = docs.filter(col("doc_id") < 250)
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
          .distinct()
        val r = graft.ext.Curate.incremental(batch, index)
        // stats are already-materialized Longs; release the survivors
        // cache so a 143-query sweep doesn't accumulate persisted blocks
        r.release()
        val named = Seq("a_input", "b_quality", "c_dedup", "d_cap")
          .zip(r.stats.map(_._2))
        named.toDF("stage", "n").orderBy("stage")
      }),

    // Classifier-gated curation: the CCNet-shape daily increment — the
    // NB model (trained in-engine on the seed, x_nb_quality_classifier)
    // replaces the hand-rule quality gate; confident positives proceed
    // to within-batch + against-index dedup and the per-source cap.
    // Batch spiked with re-keyed copies of index docs so the index kill
    // path provably fires behind the model gate.
    Q("x_classifier_curation",
      Some(s"""WITH fpb AS (SELECT doc_id, source, text FROM documents WHERE doc_id >= 250
              |  UNION ALL SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id < 50),
              |seedt AS (SELECT lang, $toksSql AS toks FROM documents WHERE doc_id < 250),
              |trbk AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
              |    CAST(concat('0x', substr(md5(tok), 1, 10)) AS BIGINT) % 1024 AS bucket
              |  FROM (SELECT lang, unnest(toks) AS tok FROM seedt)),
              |cnt AS (SELECT bucket, SUM(pos) AS np, SUM(1 - pos) AS nn FROM trbk GROUP BY bucket),
              |tot AS (SELECT SUM(pos) AS tp, SUM(1 - pos) AS tn FROM trbk),
              |wt AS (SELECT bucket,
              |    LN((np + 1.0) / (tp + 1024.0)) - LN((nn + 1.0) / (tn + 1024.0)) AS w
              |  FROM cnt, tot),
              |bt AS (SELECT doc_id, source, text, $toksSql AS toks FROM fpb),
              |bbk AS (SELECT doc_id,
              |    CAST(concat('0x', substr(md5(tok), 1, 10)) AS BIGINT) % 1024 AS bucket
              |  FROM (SELECT doc_id, unnest(toks) AS tok FROM bt)),
              |sc AS (SELECT b.doc_id, SUM(COALESCE(wt.w, 0.0)) / COUNT(*) AS s
              |  FROM bbk b LEFT JOIN wt ON b.bucket = wt.bucket GROUP BY b.doc_id),
              |gate AS (SELECT bt.doc_id, bt.source, bt.text FROM bt JOIN sc USING (doc_id)
              |  WHERE ROUND(sc.s + 1e-9, 4) > 0.0),
              |idx AS (SELECT DISTINCT md5($normSql) AS f FROM documents WHERE doc_id < 250),
              |fp AS (SELECT doc_id, source, md5($normSql) AS f FROM gate),
              |d1 AS (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp),
              |d2 AS (SELECT doc_id, source FROM d1
              |       WHERE rn = 1 AND f NOT IN (SELECT f FROM idx)),
              |cap AS (SELECT doc_id FROM (SELECT doc_id,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS crn FROM d2)
              |  WHERE crn <= 15)
              |SELECT 'a_input' AS stage, COUNT(*) AS n FROM fpb
              |UNION ALL SELECT 'b_model_gate', COUNT(*) FROM gate
              |UNION ALL SELECT 'c_dedup', COUNT(*) FROM d2
              |UNION ALL SELECT 'd_cap', COUNT(*) FROM cap
              |ORDER BY stage""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        val index = docs.filter(col("doc_id") < 250)
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
          .distinct()
        val wts = TextAnalysis.nbTrainWeights(docs.filter(col("doc_id") < 250),
          "text", col("lang") === "en", numBuckets = 1024)
        val r = graft.ext.Curate.modelGated(batch, index, wts,
          numBuckets = 1024)
        r.release()
        Seq("a_input", "b_model_gate", "c_dedup", "d_cap")
          .zip(r.stats.map(_._2))
          .toDF("stage", "n").orderBy("stage")
      }),

    // L2-extension: SCD Type-2 attribute history (gaps-and-islands over
    // location changes per sensor) — versioned valid_from/valid_to rows,
    // 'current' for the open-ended latest version.
    Q("w_scd2_location_history",
      Some(s"""WITH r AS (SELECT CAST(user_id AS VARCHAR) AS sensor_id,
              |                 $zoneSql AS location, ts, event_id FROM events),
              |c AS (SELECT *, CASE WHEN lag(location) OVER w IS NULL
              |                       OR lag(location) OVER w <> location
              |                     THEN 1 ELSE 0 END AS chg
              |      FROM r WINDOW w AS (PARTITION BY sensor_id ORDER BY ts, event_id)),
              |v AS (SELECT *, CAST(SUM(chg) OVER (PARTITION BY sensor_id ORDER BY ts, event_id
              |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
              |      FROM c),
              |h AS (SELECT sensor_id, version, location, MIN(ts) AS valid_from,
              |             COUNT(*) AS n_events
              |      FROM v GROUP BY 1, 2, 3)
              |SELECT sensor_id, version, location,
              |  strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
              |  COALESCE(strftime(lead(valid_from) OVER (PARTITION BY sensor_id ORDER BY version),
              |                    '%Y-%m-%d %H:%M:%S.%f'), 'current') AS valid_to,
              |  n_events
              |FROM h ORDER BY sensor_id, version""".stripMargin),
      (s, dir) => {
        val readings = Tables.eventsAsReadings(Tables.events(s, dir))
        Warehouse.scd2History(readings, "sensor_id", "location", "event_time",
            Seq(col("event_time").asc, col("event_id").asc))
          .select(col("sensor_id"), col("version"), col("location"),
            ftsU(col("valid_from")).as("valid_from"),
            coalesce(ftsU(col("valid_to")), lit("current")).as("valid_to"),
            col("n_events"))
          .orderBy("sensor_id", "version")
      }),

    // TPC-H Q6 shape: selective predicate stack fully pushed to the scan,
    // single global decimal sum — the pure scan-throughput probe.
    Q("agg_tpch_q6_forecast",
      Some("""SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
             | COUNT(*) AS n_lines
             | FROM lineitem
             | WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |   AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |   AND l_discount >= 0.05 AND l_discount <= 0.07
             |   AND l_quantity < 24""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)"))
          .cast("decimal(38,6)").cast("string").as("revenue"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q14 shape: promo-revenue share — fact ⋈ part dim with a
    // conditional decimal numerator over the same join (the only query
    // family touching the `part` table).
    Q("j14_promo_revenue_share",
      Some("""SELECT
             | CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
             |            THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
             |                 (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             |            ELSE CAST(0 AS DECIMAL(36,4)) END) AS DECIMAL(38,6)) AS VARCHAR) AS promo_revenue,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS total_revenue,
             | COUNT(*) AS n_lines
             | FROM lineitem JOIN part ON l_partkey = p_partkey
             | WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
             |   AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin),
      (s, dir) => {
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
          .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast("decimal(36,4)")))
              .cast("decimal(38,6)").cast("string").as("promo_revenue"),
            sum(rev).cast("decimal(38,6)").cast("string").as("total_revenue"),
            count(lit(1)).as("n_lines"))
      }),

    // TPC-H Q5 shape: six-table snowflake join — Catalyst's join reorder +
    // broadcast selection working over region→nation→customer/supplier
    // co-location.
    Q("j5_tpch_q5_local_supplier",
      Some("""SELECT n_name,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue
             | FROM customer, orders, lineitem, supplier, nation, region
             | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |   AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |   AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |   AND r_name = 'ASIA'
             |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             | GROUP BY n_name ORDER BY n_name""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(38,6)").cast("string").as("revenue"))
        .orderBy("n_name")),

    // X-winnow: winnowing document fingerprints (MOSS rolling k-gram
    // window minima, k=8 chars, w=4) — guarantees any shared substring of
    // length >= k+w-1 shares a fingerprint. fp_hash is the md5 of the
    // sorted distinct fingerprint set.
    Q("x_winnow_fingerprints",
      Some(s"""WITH t AS (SELECT doc_id, $normSql AS norm FROM documents),
              |g0 AS (SELECT doc_id, norm, len(norm) AS L FROM t),
              |g1 AS (SELECT doc_id, L - 7 AS n_grams,
              |         unnest(list_transform(range(1, greatest(L - 6, 1)),
              |           i -> {'pos': i - 1,
              |                 'u': CAST(concat('0x', substr(md5(substr(norm, i, 8)), 1, 10)) AS BIGINT)})) AS s
              |       FROM g0 WHERE L >= 8),
              |g AS (SELECT doc_id, n_grams, s.pos AS pos, s.u AS u FROM g1),
              |wm AS (SELECT doc_id, n_grams, pos,
              |         MIN(u) OVER (PARTITION BY doc_id ORDER BY pos
              |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win
              |       FROM g),
              |f AS (SELECT doc_id, n_grams, win FROM wm WHERE pos <= n_grams - 4)
              |SELECT doc_id, CAST(MAX(n_grams) AS BIGINT) AS n_grams,
              |  CAST(COUNT(DISTINCT win) AS BIGINT) AS n_fp,
              |  md5(array_to_string(list_sort(list(DISTINCT win)), ',')) AS fp_hash
              |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => TextAnalysis.winnowFingerprints(Tables.documents(s, dir),
          "text", "doc_id", k = 8, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // X-stratified: per-stratum deterministic sampling — the
    // class-balancing knob for training mixes (keep 10% of clicks, 50% of
    // purchases, all errors).
    Q("x_stratified_sample",
      Some("""WITH b AS (
             |  SELECT event_id, event_type,
             |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
             |  FROM events)
             |SELECT event_type, COUNT(*) AS n FROM b
             |WHERE bucket < CASE event_type WHEN 'click' THEN 10
             |                               WHEN 'purchase' THEN 50
             |                               WHEN 'error' THEN 100 ELSE 0 END
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .filter(graft.ext.Sampling.stratifiedPct(col("event_id"), col("event_type"),
          Map("click" -> 10, "purchase" -> 50, "error" -> 100)))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // X-sample-uniform: deterministic fixed-size uniform sample — order by
    // a content-independent hash of the id and take k. The distributed
    // equivalent of reservoir sampling with none of its order-dependence:
    // same k docs on any engine, any partitioning (TakeOrdered, no global
    // sort materialization).
    Q("x_uniform_sample_k",
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
             |  FROM documents ORDER BY h LIMIT 50)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .orderBy("h")
        .limit(50)
        .select("doc_id")
        .orderBy("doc_id")),

    // X-sample-weighted: Efraimidis–Spirakis weighted sample — top-50 by
    // ln(u)/w with hash-derived u, weight = document length, so longer
    // docs are proportionally likelier. The training-mix knob ("sample by
    // quality/length") with reservoir semantics, no reservoir state.
    // Determinism contract (r5's one red cell, fixed here): the top-50
    // cut is taken on a ROUNDED key with a doc_id tie-break on BOTH
    // engines — DuckDB's and the JVM's ln/division can differ in the
    // last ulp, and a cut on the raw binary64 key lets that noise flip a
    // rank-50 boundary pair. Two further traps: (1) the raw key is
    // ln(u)/n_chars, tiny — at 4 decimals nearly everything collapses to
    // ±0.0, so the key is scaled ×1000 BEFORE rounding (quantum 1e-7 in
    // key space, ~7 orders above cross-libm ulp noise, yet still
    // discriminating); (2) Spark's round goes through BigDecimal and
    // never emits -0.0, while a nearbyint-style ROUND preserves the sign
    // of zero — the oracle adds `+ 0.0` to normalize -0.0 to +0.0.
    Q("x_weighted_sample",
      Some("""WITH k AS (
             |  SELECT doc_id, n_chars,
             |    ROUND(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT) + 0.5)
             |       / 1099511627776.0) / n_chars * 1000 + 1e-9, 4) + 0.0 AS es_key_k
             |  FROM documents WHERE n_chars > 0)
             |SELECT doc_id, n_chars, es_key_k
             |FROM (SELECT * FROM k ORDER BY es_key_k DESC, doc_id LIMIT 50)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .withColumn("es_key_k",
          R(graft.ext.Sampling.esKey(col("doc_id"), col("n_chars")) * lit(1000)))
        .orderBy(col("es_key_k").desc, col("doc_id").asc)
        .limit(50)
        .select(col("doc_id"), col("n_chars"), col("es_key_k"))
        .orderBy("doc_id")),

    // X-sample-weighted-stratified: the per-source form of the ES sample
    // — top-10 by the rounded ES key WITHIN each source, i.e. a
    // length-weighted quota per corpus shard (the training-mix shape:
    // weights inside a stratum, caps across strata). Same ulp-proof
    // contract as x_weighted_sample: the cut orders by the ROUNDED
    // scaled key with a doc_id tie-break on both engines.
    Q("x_weighted_sample_stratified",
      Some("""WITH k AS (
             |  SELECT doc_id, source,
             |    ROUND(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT) + 0.5)
             |       / 1099511627776.0) / n_chars * 1000 + 1e-9, 4) + 0.0 AS es_key_k
             |  FROM documents WHERE n_chars > 0),
             |r AS (SELECT doc_id, source, es_key_k,
             |        row_number() OVER (PARTITION BY source
             |          ORDER BY es_key_k DESC, doc_id) AS rn FROM k)
             |SELECT source, doc_id, es_key_k FROM r WHERE rn <= 10
             |ORDER BY source, doc_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("source")
          .orderBy(col("es_key_k").desc, col("doc_id").asc)
        Tables.documents(s, dir)
          .filter(col("n_chars") > 0)
          .withColumn("es_key_k",
            R(graft.ext.Sampling.esKey(col("doc_id"), col("n_chars")) * lit(1000)))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("source"), col("doc_id"), col("es_key_k"))
          .orderBy("source", "doc_id")
      }),

    // X-redact: PII scrubbing (emails, IPv4) — the input synthesizes
    // PII-bearing text from the corpus so the redaction provably fires.
    Q("x_redact_pii",
      Some {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
        s"""WITH raw AS (
           |  SELECT doc_id,
           |    concat('contact ', source, CAST(doc_id AS VARCHAR), '@example.com',
           |           ' or 192.168.', CAST(doc_id % 256 AS VARCHAR), '.1 ', text) AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS n_ips,
           |  regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
           |                 '$ip', '<IP>', 'g') AS redacted
           |FROM raw ORDER BY doc_id""".stripMargin
      },
      (s, dir) => {
        val t = concat(lit("contact "), col("source"), col("doc_id").cast("string"),
          lit("@example.com or 192.168."), (col("doc_id") % 256).cast("string"),
          lit(".1 "), col("text"))
        Tables.documents(s, dir)
          .withColumn("t", t)
          .select(col("doc_id"),
            TextAnalysis.emailCount(col("t")).as("n_emails"),
            TextAnalysis.ipv4Count(col("t")).as("n_ips"),
            TextAnalysis.redactPii(col("t")).as("redacted"))
          .orderBy("doc_id")
      }),

    // A-extension: equi-depth histogram — ntile buckets carry equal row
    // counts with data-dependent boundaries (the complement of the
    // fixed-width a6_value_histogram).
    Q("a_equidepth_histogram",
      Some("""SELECT bucket, MIN(value) AS lo, MAX(value) AS hi, COUNT(*) AS n
             | FROM (SELECT value, CAST(ntile(10) OVER (ORDER BY value, event_id) AS INT) AS bucket
             |       FROM events)
             | GROUP BY bucket ORDER BY bucket""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .withColumn("bucket",
          ntile(10).over(Window.orderBy(col("value").asc, col("event_id").asc)))
        .groupBy("bucket")
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
          count(lit(1)).as("n"))
        .orderBy("bucket")),

    // A-extension: modal (most frequent) value per group with a total-order
    // tie-break.
    Q("a_mode_per_user",
      Some("""SELECT user_id, event_type AS modal_type, n FROM (
             |  SELECT user_id, event_type, COUNT(*) AS n,
             |    row_number() OVER (PARTITION BY user_id
             |                       ORDER BY COUNT(*) DESC, event_type) AS rn
             |  FROM events GROUP BY user_id, event_type)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin),
      (s, dir) => {
        val counts = Tables.events(s, dir)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("n").desc, col("event_type").asc)
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("modal_type"), col("n"))
          .orderBy("user_id")
      }),

    // A-extension: funnel conversion — users reaching each ordered step
    // (signup → click after signup → purchase after that click).
    Q("a_funnel_conversion",
      Some("""WITH u1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
             |            WHERE event_type = 'signup' GROUP BY user_id),
             |u2 AS (SELECT u1.user_id, u1.t1,
             |         MIN(CASE WHEN e.ts > u1.t1 THEN e.ts END) AS t2
             |       FROM u1 LEFT JOIN events e
             |         ON e.user_id = u1.user_id AND e.event_type = 'click'
             |       GROUP BY u1.user_id, u1.t1),
             |u3 AS (SELECT u2.user_id, u2.t1, u2.t2,
             |         MIN(CASE WHEN e.ts > u2.t2 THEN e.ts END) AS t3
             |       FROM u2 LEFT JOIN events e
             |         ON e.user_id = u2.user_id AND e.event_type = 'purchase'
             |       GROUP BY u2.user_id, u2.t1, u2.t2)
             |SELECT COUNT(t1) AS n_signup, COUNT(t2) AS n_click,
             |       COUNT(t3) AS n_purchase
             |FROM u3""".stripMargin),
      (s, dir) => graft.operators.Funnel.conversionCounts(Tables.events(s, dir),
        "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))),

    // A-extension: cohort retention — first-seen-week cohorts × week
    // offset × distinct active users.
    Q("a_cohort_retention",
      Some("""WITH fs AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
             |            FROM events GROUP BY user_id),
             |aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
             |       FROM events),
             |j AS (SELECT fs.user_id, fs.cohort_week,
             |        CAST(date_diff('day', CAST(fs.cohort_week AS DATE),
             |                       CAST(aw.active_week AS DATE)) // 7 AS INT) AS week_offset
             |      FROM fs JOIN aw USING (user_id))
             |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week_s, week_offset,
             |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
             |FROM j GROUP BY cohort_week, week_offset
             |ORDER BY cohort_week_s, week_offset""".stripMargin),
      (s, dir) => graft.operators.Funnel.cohortRetention(Tables.events(s, dir),
          "user_id", "ts")
        .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week_s"),
          col("week_offset"), col("n_active"))
        .orderBy("cohort_week_s", "week_offset")),

    // A-extension: custom TypedImperativeAggregate — bounded-heap top-k
    // per group (O(k) state instead of a full per-group sort window).
    // Emitted as k scalar columns, not an array: the driver's comparator
    // canonicalizes scalars only (array cells are unhashable downstream).
    Q("a_custom_topk_agg",
      Some {
        val tops = (1 to 5).map(i => s"l[$i] AS top$i").mkString(", ")
        s"""SELECT event_type, $tops FROM (
           |  SELECT event_type, list_sort(list(value), 'DESC') AS l
           |  FROM events GROUP BY event_type)
           |ORDER BY event_type""".stripMargin
      },
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(graft.functions.TopKFunctions.topKDesc(col("value"), 5).as("top5"))
        .select(col("event_type") +:
          (1 to 5).map(i => try_element_at(col("top5"), lit(i)).as(s"top$i")): _*)
        .orderBy("event_type")),

    // X-pagerank: weighted PageRank over the per-user k-state transition
    // graph (consecutive events' props.k values) — the classic simplified
    // power iteration at 5 fixed rounds, transition probabilities and
    // per-round ranks rounded to 10 decimals so the whole trajectory is
    // engine-reproducible (the oracle unrolls the identical rounds).
    Q("x_pagerank_transitions",
      Some {
        val iterSql = (1 to 5).map(k =>
          s"""r$k AS (SELECT n.node, ROUND((1 - 0.85) / c.n + 0.85 * COALESCE(s.s, 0.0), 10) AS r
             |  FROM nodes n CROSS JOIN cnt c
             |  LEFT JOIN (SELECT t.dst, SUM(r.r * t.p) AS s
             |             FROM t JOIN r${k - 1} r ON r.node = t.src GROUP BY t.dst) s
             |    ON s.dst = n.node)""".stripMargin).mkString(",\n")
        s"""WITH ev AS (SELECT user_id, ts, event_id,
           |        CAST(json_extract_string(props, '$$.k') AS INT) AS k FROM events),
           |tr AS (SELECT k, LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk FROM ev),
           |ed AS (SELECT pk AS src, k AS dst, CAST(COUNT(*) AS DOUBLE) AS w
           |       FROM tr WHERE pk IS NOT NULL AND pk <> k GROUP BY 1, 2),
           |ow AS (SELECT src, SUM(w) AS ow FROM ed GROUP BY src),
           |t AS (SELECT ed.src, ed.dst, ROUND(ed.w / ow.ow, 10) AS p FROM ed JOIN ow USING (src)),
           |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
           |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
           |r0 AS (SELECT node, ROUND(1.0 / c.n, 10) AS r FROM nodes, cnt c),
           |$iterSql
           |SELECT node AS k_state, ROUND(r + 1e-9, 6) AS pagerank
           |FROM r5 ORDER BY node""".stripMargin
      },
      (s, dir) => {
        val wl = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        val ev = Tables.events(s, dir).select(col("user_id"), col("ts"),
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        val edges = ev.withColumn("pk", lag(col("k"), 1).over(wl))
          .filter(col("pk").isNotNull && col("pk") =!= col("k"))
          .groupBy(col("pk").as("src"), col("k").as("dst"))
          .agg(count(lit(1)).cast("double").as("w"))
        graft.ext.Graph.pageRank(edges, iters = 5)
          .select(col("node").as("k_state"),
            round(col("r") + lit(1e-9), 6).as("pagerank"))
          .orderBy("k_state")
      }),

    // X-pagerank-dangling: the strict-probability PageRank mode — the
    // edge set keeps only ASCENDING k transitions (a DAG, so the top
    // states are guaranteed sinks) and the per-round dangling mass is
    // redistributed as d·m/N to every node. Ranks therefore remain a
    // probability distribution: total_mass pins the sum at 1.0, which
    // the leaky default cannot produce on a graph with sinks. The mass
    // falls out of conservation — m = Σ r_prev − Σ contrib — mirroring
    // the engine (Graph.pageRank), which never touches the sink set.
    Q("x_pagerank_dangling",
      Some {
        // Every per-iteration CTE is MATERIALIZED (VERDICT r19 #3):
        // r{k-1} is referenced three times per iteration (c_k, m_k's
        // conservation difference, and r_k itself), and DuckDB inlines
        // non-materialized CTEs at each reference — the expression tree
        // grows 3^iters copies of the whole base chain and the sf0.1
        // oracle OOMs during planning. Materialized, each level is one
        // O(nodes) table and the sf0.1 oracle completes in ~1 s
        // (value-identical at sf0.01, verified both forms).
        val iterSql = (1 to 5).map(k =>
          s"""c$k AS MATERIALIZED (SELECT t.dst, SUM(r.r * t.p) AS s
             |  FROM t JOIN r${k - 1} r ON r.node = t.src GROUP BY t.dst),
             |m$k AS MATERIALIZED (SELECT ROUND((SELECT SUM(r) FROM r${k - 1})
             |    - COALESCE((SELECT SUM(s) FROM c$k), 0.0), 10) AS m),
             |r$k AS MATERIALIZED (SELECT n.node,
             |    ROUND((1 - 0.85) / c.n + 0.85 * (COALESCE(cc.s, 0.0) + m.m / c.n), 10) AS r
             |  FROM nodes n CROSS JOIN cnt c CROSS JOIN m$k m
             |  LEFT JOIN c$k cc ON cc.dst = n.node)""".stripMargin).mkString(",\n")
        s"""WITH ev AS (SELECT user_id, ts, event_id,
           |        CAST(json_extract_string(props, '$$.k') AS INT) AS k FROM events),
           |tr AS (SELECT k, LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk FROM ev),
           |ed AS (SELECT pk AS src, k AS dst, CAST(COUNT(*) AS DOUBLE) AS w
           |       FROM tr WHERE pk IS NOT NULL AND pk < k GROUP BY 1, 2),
           |ow AS (SELECT src, SUM(w) AS ow FROM ed GROUP BY src),
           |t AS (SELECT ed.src, ed.dst, ROUND(ed.w / ow.ow, 10) AS p FROM ed JOIN ow USING (src)),
           |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
           |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
           |r0 AS (SELECT node, ROUND(1.0 / c.n, 10) AS r FROM nodes, cnt c),
           |$iterSql
           |SELECT node AS k_state, ROUND(r + 1e-9, 6) AS pagerank,
           |  ROUND(SUM(ROUND(r + 1e-9, 6)) OVER (), 4) AS total_mass
           |FROM r5 ORDER BY node""".stripMargin
      },
      (s, dir) => {
        val wl = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        val ev = Tables.events(s, dir).select(col("user_id"), col("ts"),
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        val edges = ev.withColumn("pk", lag(col("k"), 1).over(wl))
          .filter(col("pk").isNotNull && col("pk") < col("k"))
          .groupBy(col("pk").as("src"), col("k").as("dst"))
          .agg(count(lit(1)).cast("double").as("w"))
        graft.ext.Graph.pageRank(edges, iters = 5,
            redistributeDangling = true)
          .select(col("node").as("k_state"),
            round(col("r") + lit(1e-9), 6).as("pagerank"))
          .withColumn("total_mass",
            round(sum(col("pagerank")).over(Window.partitionBy()), 4))
          .orderBy("k_state")
      }),

    // X-cluster: near-duplicate clustering — pairwise Jaccard edges
    // collapsed into connected components (HashMin label propagation), the
    // step that turns pair detection into "keep one doc per cluster".
    Q("x_dedup_clusters",
      Some(s"""WITH RECURSIVE $clusterCompSql,
              |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
              |SELECT comp.id AS doc_id, comp.cluster_id, sz.cluster_size
              |FROM comp JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text",
          "doc_id", "source", 3, 0.02)
        graft.ext.Graph.componentsWithSize(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
          .orderBy("doc_id")
      }),

    // X-cluster-incremental: fold HALF the near-dup edges into the CC
    // assignment built from the other half — the stored (id, cluster_id)
    // star compression plus the batch edges must relabel to EXACTLY the
    // full-graph recompute (the oracle runs one recursive CTE over ALL
    // edges; the engine touches only affected components). Pins
    // cluster-merging, extension, and min-id-change batches on real data.
    Q("x_cc_incremental",
      Some(s"""WITH RECURSIVE $clusterCompSql
              |SELECT id, cluster_id FROM comp ORDER BY id""".stripMargin),
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text",
            "doc_id", "source", 3, 0.02)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hist = pairs.filter((col("id_a") + col("id_b")) % 2 === 0)
        val batch = pairs.filter((col("id_a") + col("id_b")) % 2 =!= 0)
        val assignments = graft.ext.Graph
          .connectedComponents(hist, "id_a", "id_b")
        graft.ext.Graph
          .incrementalConnectedComponents(assignments, batch, "id_a", "id_b")
          .orderBy("id")
      }),

    // A-extension: boolean aggregates + conditional count (bool_and /
    // bool_or / count_if).
    Q("a_bool_aggs",
      Some("""SELECT user_id,
             | bool_and(value < 400.0) AS all_below,
             | bool_or(event_type = 'error') AS any_error,
             | CAST(SUM(CASE WHEN value > 250.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
             | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(bool_and(col("value") < 400.0).as("all_below"),
          bool_or(col("event_type") === "error").as("any_error"),
          count_if(col("value") > 250.0).as("n_high"))
        .orderBy("user_id")),

    // X-links: link density — URL extraction over synthesized link-bearing
    // text (the C4 boilerplate signal: pages that are mostly links are
    // navigation, not prose).
    Q("x_link_density",
      Some {
        val url = "https?://[^\\s]+"
        s"""WITH raw AS (
           |  SELECT doc_id,
           |    concat('see https://', source, '/', CAST(doc_id AS VARCHAR),
           |           ' and http://example.com/a?b=1 ', text) AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$url')) AS INT) AS n_links,
           |  CAST(list_sum(list_transform(regexp_extract_all(t, '$url'), u -> len(u))) AS BIGINT) AS link_chars,
           |  ROUND(list_sum(list_transform(regexp_extract_all(t, '$url'), u -> len(u)))::DOUBLE / len(t) + 1e-9, 4) AS link_density
           |FROM raw ORDER BY doc_id""".stripMargin
      },
      (s, dir) => {
        val url = "https?://[^\\s]+"
        val t = concat(lit("see https://"), col("source"), lit("/"),
          col("doc_id").cast("string"), lit(" and http://example.com/a?b=1 "),
          col("text"))
        Tables.documents(s, dir)
          .withColumn("t", t)
          .withColumn("links", regexp_extract_all(col("t"), lit(url), lit(0)))
          .select(col("doc_id"),
            size(col("links")).as("n_links"),
            aggregate(col("links"), lit(0L),
              (a, u) => a + length(u).cast("long")).as("link_chars"),
            R(aggregate(col("links"), lit(0L),
              (a, u) => a + length(u).cast("long")).cast("double")
              / length(col("t"))).as("link_density"))
          .orderBy("doc_id")
      }),

    // X-retention: the full near-dup retention policy end-to-end — cluster
    // the pairwise edges, then keep the highest-quality document per
    // cluster (ties to the lowest id). This is the operator a curation
    // pipeline actually runs; pairs and clusters are its intermediates.
    Q("x_dedup_keep_best",
      Some(s"""WITH RECURSIVE $clusterCompSql,
              |scored AS (SELECT comp.id, comp.cluster_id,
              |             ($qualityScoreSql) AS q
              |           FROM comp JOIN (SELECT doc_id, text, $toksSql AS toks
              |                           FROM documents) d ON d.doc_id = comp.id),
              |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
              |                                    ORDER BY q DESC, id) AS rn,
              |              COUNT(*) OVER (PARTITION BY cluster_id) AS sz
              |       FROM scored)
              |SELECT cluster_id, id AS keep_id, ROUND(q + 1e-9, 4) AS best_quality,
              |       CAST(sz AS BIGINT) AS cluster_size,
              |       CAST(sz - 1 AS BIGINT) AS n_dropped
              |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 3, 0.02)
        val comp = graft.ext.Graph.componentsWithSize(pairs, "id_a", "id_b")
        val scored = comp.join(
          docs.select(col("doc_id").as("id"),
            TextAnalysis.qualityScore(col("text")).as("q")), Seq("id"))
        val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("id").asc)
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cluster_id"), col("id").as("keep_id"),
            R(col("q")).as("best_quality"),
            col("cluster_size"),
            (col("cluster_size") - 1).as("n_dropped"))
          .orderBy("cluster_id")
      }),

    // X-repetition: C4/Gopher-style repetition signals — duplicate word /
    // 2-gram / 3-gram fractions per document (high values mark boilerplate
    // and templated spam).
    Q("x_repetition_stats",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |g AS (SELECT doc_id, toks, ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3 FROM t)
              |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
              | ROUND((CASE WHEN len(toks) = 0 THEN 0.0
              |        ELSE (len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks) END) + 1e-9, 4) AS dup_word_frac,
              | ROUND((CASE WHEN len(g2) = 0 THEN 0.0
              |        ELSE (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2) END) + 1e-9, 4) AS dup_2gram_frac,
              | ROUND((CASE WHEN len(g3) = 0 THEN 0.0
              |        ELSE (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END) + 1e-9, 4) AS dup_3gram_frac
              |FROM g ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .withColumn("toks", TextAnalysis.tokens(col("text")))
        .withColumn("g2", TextAnalysis.shinglesFromTokens(col("toks"), 2))
        .withColumn("g3", TextAnalysis.shinglesFromTokens(col("toks"), 3))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          R(TextAnalysis.dupFraction(col("toks"))).as("dup_word_frac"),
          R(TextAnalysis.dupFraction(col("g2"))).as("dup_2gram_frac"),
          R(TextAnalysis.dupFraction(col("g3"))).as("dup_3gram_frac"))
        .orderBy("doc_id")),

    // X-gopher: the Gopher quality-rule battery as boolean flags + overall
    // pass — word count, mean word length, alphabetic-word fraction,
    // stopword presence, symbol ratio.
    Q("x_gopher_quality",
      Some {
        val stop = TextAnalysis.enStopwords.map(w => s"'$w'").mkString(", ")
        val mwl = "CASE WHEN len(toks) = 0 THEN 0.0 ELSE list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks) END"
        val alpha = "CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE / len(toks) END"
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
           |f AS (SELECT doc_id,
           |  CAST(len(toks) AS INT) AS n_tokens,
           |  len(toks) BETWEEN 50 AND 100000 AS wc_ok,
           |  ($mwl) BETWEEN 3.0 AND 10.0 AS mwl_ok,
           |  ($alpha) >= 0.8 AS alpha_ok,
           |  len(list_filter(toks, t -> t IN ($stop))) >= 2 AS stop_ok,
           |  ($punctRatioSql) <= 0.1 AS symbol_ok
           | FROM t)
           |SELECT doc_id, n_tokens, wc_ok, mwl_ok, alpha_ok, stop_ok, symbol_ok,
           |  wc_ok AND mwl_ok AND alpha_ok AND stop_ok AND symbol_ok AS pass
           |FROM f ORDER BY doc_id""".stripMargin
      },
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.tokenCount(col("text")).between(50, 100000).as("wc_ok"),
          TextAnalysis.meanTokenLen(col("text")).between(3.0, 10.0).as("mwl_ok"),
          (TextAnalysis.alphaTokenFrac(col("text")) >= 0.8).as("alpha_ok"),
          (TextAnalysis.stopwordCount(col("text")) >= 2).as("stop_ok"),
          (TextAnalysis.punctRatio(col("text")) <= 0.1).as("symbol_ok"))
        .withColumn("pass", col("wc_ok") && col("mwl_ok") && col("alpha_ok") &&
          col("stop_ok") && col("symbol_ok"))
        .orderBy("doc_id")),

    // X-chunks: token-window chunking with overlap (64-token windows,
    // stride 48) — context packing for LLM training; the chunk hash stands
    // in for the payload.
    Q("x_doc_chunks",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
              |c AS (SELECT doc_id, toks,
              |        unnest(range(0, CASE WHEN n <= 64 THEN 1
              |                             ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_idx
              |      FROM b),
              |sl AS (SELECT doc_id, chunk_idx,
              |         toks[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)] AS chunk
              |       FROM c)
              |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS n_tok,
              |  md5(array_to_string(chunk, ' ')) AS chunk_hash
              |FROM sl ORDER BY doc_id, chunk_idx""".stripMargin),
      (s, dir) => TextAnalysis.tokenChunks(Tables.documents(s, dir), "text",
          "doc_id", chunkSize = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("n_tok"),
          col("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")),

    // X-chunk-dedup: CCNet/RefinedWeb-style sub-document dedup — per-doc
    // fraction of token chunks whose hash repeats corpus-wide. chunkSize=4
    // because the synthetic vocab is ~30 words: real corpora dedup at
    // paragraph granularity, the tiny chunk makes collisions observable at
    // test SFs while exercising the identical plan shape.
    Q("x_chunk_dedup",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
              |c AS (SELECT doc_id, toks,
              |        unnest(range(0, CASE WHEN n <= 4 THEN 1
              |                             ELSE (n - 4 + 3) // 4 + 1 END)) AS chunk_idx
              |      FROM b),
              |sl AS (SELECT doc_id,
              |         md5(array_to_string(toks[(chunk_idx * 4 + 1):(chunk_idx * 4 + 4)], ' ')) AS chunk_hash
              |       FROM c),
              |occ AS (SELECT chunk_hash, COUNT(*) AS n_occ FROM sl GROUP BY 1),
              |d AS (SELECT sl.doc_id, COUNT(*) AS n_chunks,
              |        CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
              |      FROM sl JOIN occ USING (chunk_hash) GROUP BY 1)
              |SELECT doc_id, n_chunks, dup_chunks,
              |  ROUND(dup_chunks::DOUBLE / n_chunks + 1e-9, 4) AS dup_ratio,
              |  dup_chunks::DOUBLE / n_chunks < 0.5 AS keep
              |FROM d ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.chunkDupStats(Tables.documents(s, dir), "text",
          "doc_id", chunkSize = 4, maxDupRatio = 0.5)
        .select(col("id").as("doc_id"), col("n_chunks"), col("dup_chunks"),
          R(col("dup_ratio")).as("dup_ratio"), col("keep"))
        .orderBy("doc_id")),

    // X-dup-spans: cross-document duplicated token spans (the ExactSubstr
    // dedup shape): every 5-token window hashed, windows shared by >1
    // distinct doc mark their ranges, overlapping marks merge into
    // maximal [start, end) spans — sub-document boilerplate detection at
    // exact-match granularity (finer than whole-doc or chunk dedup).
    Q("x_dup_spans",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
              |g0 AS (SELECT doc_id,
              |        unnest(list_transform(range(0, n - 4),
              |          i -> {'pos': i, 'h': md5(array_to_string(toks[(i + 1):(i + 5)], ' '))})) AS s
              |       FROM b WHERE n >= 5),
              |g AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM g0),
              |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
              |hits AS (SELECT doc_id, pos, pos + 5 AS e FROM g JOIN dup USING (h)),
              |isl AS (SELECT doc_id, pos, e,
              |         MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
              |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
              |        FROM hits),
              |i2 AS (SELECT doc_id, pos, e,
              |        SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
              |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
              |       FROM isl)
              |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
              |  CAST(MAX(e) AS BIGINT) AS span_end,
              |  CAST(MAX(e) - MIN(pos) AS BIGINT) AS span_tokens
              |FROM i2 GROUP BY doc_id, island
              |ORDER BY doc_id, span_start""".stripMargin),
      (s, dir) => Dedup.duplicatedSpans(Tables.documents(s, dir), "text",
          "doc_id", k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")),

    // X-dup-span-removal: the surgery over x_dup_spans — tokens covered
    // by any duplicated span are cut out, survivors re-join on single
    // spaces; docs without spans pass through untouched. The whole
    // corpus comes back (one row per doc) ready to feed the downstream
    // curation chain.
    Q("x_dup_span_removal",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
              |g0 AS (SELECT doc_id,
              |        unnest(list_transform(range(0, n - 4),
              |          i -> {'pos': i, 'h': md5(array_to_string(toks[(i + 1):(i + 5)], ' '))})) AS s
              |       FROM b WHERE n >= 5),
              |g AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM g0),
              |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
              |hits AS (SELECT doc_id, pos, pos + 5 AS e FROM g JOIN dup USING (h)),
              |isl AS (SELECT doc_id, pos, e,
              |         MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
              |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
              |        FROM hits),
              |i2 AS (SELECT doc_id, pos, e,
              |        SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
              |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
              |       FROM isl),
              |sp AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
              |       FROM i2 GROUP BY doc_id, island),
              |agg AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans,
              |          SUM(e - s) AS rem FROM sp GROUP BY doc_id)
              |SELECT b.doc_id,
              |  COALESCE(array_to_string(list_transform(
              |    list_filter(range(0, b.n), i ->
              |      len(list_filter(COALESCE(a.spans, []::STRUCT(s BIGINT, e BIGINT)[]),
              |            sp2 -> i >= sp2.s AND i < sp2.e)) = 0),
              |    i -> b.toks[i + 1]), ' '), '') AS clean_text,
              |  CAST(COALESCE(b.n, 0) AS BIGINT) AS n_tokens,
              |  CAST(COALESCE(a.rem, 0) AS BIGINT) AS n_removed
              |FROM b LEFT JOIN agg a USING (doc_id)
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.removeDuplicatedSpans(Tables.documents(s, dir),
          "text", "doc_id", k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // X-self-repeat: within-document repetition surgery — second and
    // later occurrences of any 5-token window repeating INSIDE one doc
    // are cut (first kept); looping/stuttered text trimmed exactly,
    // where the Gopher repetition ratios only gate whole docs.
    Q("x_self_repeat_trim",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
              |g0 AS (SELECT doc_id,
              |        unnest(list_transform(range(0, n - 4),
              |          i -> {'pos': i, 'h': md5(array_to_string(toks[(i + 1):(i + 5)], ' '))})) AS s
              |       FROM b WHERE n >= 5),
              |g AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM g0),
              |hits AS (SELECT doc_id, pos, pos + 5 AS e
              |         FROM (SELECT doc_id, pos, ROW_NUMBER() OVER
              |                 (PARTITION BY doc_id, h ORDER BY pos) AS occ
              |               FROM g) WHERE occ > 1),
              |isl AS (SELECT doc_id, pos, e,
              |         MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
              |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
              |        FROM hits),
              |i2 AS (SELECT doc_id, pos, e,
              |        SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
              |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
              |       FROM isl),
              |sp AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
              |       FROM i2 GROUP BY doc_id, island),
              |agg AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans,
              |          SUM(e - s) AS rem FROM sp GROUP BY doc_id)
              |SELECT b.doc_id,
              |  COALESCE(array_to_string(list_transform(
              |    list_filter(range(0, b.n), i ->
              |      len(list_filter(COALESCE(a.spans, []::STRUCT(s BIGINT, e BIGINT)[]),
              |            sp2 -> i >= sp2.s AND i < sp2.e)) = 0),
              |    i -> b.toks[i + 1]), ' '), '') AS clean_text,
              |  CAST(COALESCE(b.n, 0) AS BIGINT) AS n_tokens,
              |  CAST(COALESCE(a.rem, 0) AS BIGINT) AS n_removed
              |FROM b LEFT JOIN agg a USING (doc_id)
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.trimSelfRepeats(Tables.documents(s, dir),
          "text", "doc_id", k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // X-novelty: per-doc n-gram novelty — the fraction of a doc's
    // 5-token windows occurring nowhere else (other docs or elsewhere in
    // the same doc). The ranking signal that prioritizes novel content
    // in mix/curation decisions; the span operators locate repeats, this
    // scores docs by them.
    Q("x_gram_novelty",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
              |g0 AS (SELECT doc_id,
              |        unnest(list_transform(range(0, n - 4),
              |          i -> md5(array_to_string(toks[(i + 1):(i + 5)], ' ')))) AS h
              |       FROM b WHERE n >= 5),
              |occ AS (SELECT h, COUNT(*) AS n_occ FROM g0 GROUP BY 1)
              |SELECT doc_id, COUNT(*) AS n_grams,
              |  CAST(SUM(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              |  ROUND(SUM(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END)::DOUBLE
              |    / COUNT(*) + 1e-9, 4) AS novelty
              |FROM g0 JOIN occ USING (h) GROUP BY doc_id
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.gramNovelty(Tables.documents(s, dir), "text",
          "doc_id", k = 5)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"),
          R(col("novelty")).as("novelty"))
        .orderBy("doc_id")),

    // X-decontam: benchmark decontamination — train docs sharing any
    // distinct 3-gram with the held-out set (doc_id % 47 = 0 stands in for
    // the benchmark). n=3 for the ~30-word synthetic vocab; real pipelines
    // use 8-13-gram overlap, same plan: broadcast the test-gram set,
    // map-side filter the corpus gram stream.
    Q("x_contamination",
      Some(s"""WITH pre AS MATERIALIZED (
              |  SELECT doc_id, doc_id % 47 = 0 AS is_test, $shinglesSql AS sh
              |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
              |g AS (SELECT doc_id, is_test, len(sh) AS n_grams, md5(unnest(sh)) AS gh
              |      FROM pre WHERE len(sh) > 0),
              |tg AS (SELECT DISTINCT gh FROM g WHERE is_test),
              |j AS (SELECT doc_id, n_grams, COUNT(*) AS n_shared
              |      FROM g JOIN tg USING (gh) WHERE NOT is_test GROUP BY 1, 2)
              |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
              |  CAST(n_shared AS BIGINT) AS n_shared,
              |  ROUND(n_shared::DOUBLE / n_grams + 1e-9, 4) AS contamination
              |FROM j ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.ngramContamination(Tables.documents(s, dir), "text",
          "doc_id", col("doc_id") % 47 === 0, n = 3)
        .select(col("id").as("doc_id"), col("n_grams").cast("long").as("n_grams"),
          col("n_shared"), R(col("contamination")).as("contamination"))
        .orderBy("doc_id")),

    // X-semantic-contamination: embedding-space decontamination — the
    // paraphrase companion of x_contamination: per training vector, the
    // max cosine to any held-out eval vector (vec_id % 20 = 0 stands in
    // for the benchmark) and a flag at 0.4. Eval side broadcast with
    // precomputed norms; training side streams through one codegen'd
    // dot pass — no shuffle beyond the per-id max.
    Q("x_semantic_contamination",
      Some(s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |ev AS (SELECT vec_id AS eval_id, v AS evv FROM e WHERE vec_id % 20 = 0),
              |tr AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
              |sc AS (SELECT tr.vec_id, ev.eval_id, (${cosSql("tr.v", "ev.evv")}) AS c
              |       FROM tr CROSS JOIN ev),
              |m AS (SELECT vec_id, c AS mc, eval_id AS nid,
              |        row_number() OVER (PARTITION BY vec_id
              |                           ORDER BY c DESC, eval_id) AS rn
              |      FROM sc)
              |SELECT vec_id, CAST(nid AS BIGINT) AS nearest_eval_id,
              |  ROUND(mc + 1e-9, 4) AS max_cosine, mc >= 0.4 AS contaminated
              |FROM m WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.semanticContamination(
            emb.filter(col("vec_id") % 20 =!= 0),
            emb.filter(col("vec_id") % 20 === 0), threshold = 0.4)
          .select(col("id").as("vec_id"), col("nearest_eval_id"),
            R(col("max_cosine")).as("max_cosine"), col("contaminated"))
          .orderBy("vec_id")
      }),

    // X-semantic-contamination-blocked: the cell-blocked scale path —
    // train vectors in their nearest label-seeded cell, eval vectors
    // probing their 2 nearest cells, max-cosine only within shared
    // cells (a cell equi-join, not a broadcast cross join). The oracle
    // mirrors the assignment round-for-round (same centroid rounding
    // and cell tie-break as the x_ivf family) so the blocked evidence
    // set — and therefore every score — is hash-exact across engines.
    Q("x_semantic_contamination_blocked",
      Some(s"""WITH e AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT label, i, AVG(v[i]) AS m FROM e, range(1, 65) r(i) GROUP BY label, i),
              |cent AS MATERIALIZED (SELECT label AS cell, list(ROUND(m, 6) ORDER BY i) AS cv FROM dims GROUP BY label),
              |assign AS MATERIALIZED (SELECT vec_id, v, cell FROM (
              |    SELECT e.vec_id, e.v, c.cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |                         ORDER BY (${cosSql("e.v", "c.cv")}) DESC, c.cell) AS rn
              |    FROM e CROSS JOIN cent c) WHERE rn = 1),
              |tr AS (SELECT vec_id, v, cell FROM assign WHERE vec_id % 20 <> 0),
              |ep AS (SELECT eval_id, ev, cell FROM (
              |    SELECT a.vec_id AS eval_id, a.v AS ev, c.cell,
              |      row_number() OVER (PARTITION BY a.vec_id
              |                         ORDER BY (${cosSql("a.v", "c.cv")}) DESC, c.cell) AS crn
              |    FROM (SELECT * FROM e WHERE vec_id % 20 = 0) a CROSS JOIN cent c)
              |   WHERE crn <= 2),
              |sc AS (SELECT tr.vec_id, ep.eval_id, (${cosSql("tr.v", "ep.ev")}) AS c
              |       FROM tr JOIN ep ON tr.cell = ep.cell),
              |m1 AS (SELECT vec_id, mc, nid FROM (
              |    SELECT vec_id, c AS mc, eval_id AS nid,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, eval_id) AS rn
              |    FROM sc) WHERE rn = 1)
              |SELECT t.vec_id, CAST(m1.nid AS BIGINT) AS nearest_eval_id,
              |  ROUND(COALESCE(m1.mc, 0.0) + 1e-9, 4) AS max_cosine,
              |  COALESCE(m1.mc, 0.0) >= 0.4 AS contaminated
              |FROM tr t LEFT JOIN m1 ON t.vec_id = m1.vec_id
              |ORDER BY t.vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.centroids(emb, "label", 64)
        Similarity.semanticContaminationBlocked(
            emb.filter(col("vec_id") % 20 =!= 0),
            emb.filter(col("vec_id") % 20 === 0), cents, threshold = 0.4,
            nProbe = 2)
          .select(col("id").as("vec_id"), col("nearest_eval_id"),
            R(col("max_cosine")).as("max_cosine"), col("contaminated"))
          .orderBy("vec_id")
      }),

    // X-gram-curate: the composed one-gram-pass curation surface — span
    // surgery, novelty scoring, and decontamination (all at k=5, test
    // set doc_id % 47 = 0) reading ONE shared gram table
    // (Curate.gramPipeline), so the corpus tokenizes once, not once per
    // operator. The oracle reuses a single gram CTE the same way.
    Q("x_gram_curate",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
              |g0 AS (SELECT doc_id,
              |        unnest(list_transform(range(0, n - 4),
              |          i -> {'pos': i, 'h': md5(array_to_string(toks[(i + 1):(i + 5)], ' '))})) AS s
              |       FROM b WHERE n >= 5),
              |g AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM g0),
              |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
              |hits AS (SELECT doc_id, pos, pos + 5 AS e FROM g JOIN dup USING (h)),
              |isl AS (SELECT doc_id, pos, e,
              |         MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
              |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
              |        FROM hits),
              |i2 AS (SELECT doc_id, pos, e,
              |        SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
              |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
              |       FROM isl),
              |sp AS (SELECT doc_id, MIN(pos) AS st, MAX(e) AS e
              |       FROM i2 GROUP BY doc_id, island),
              |rem AS (SELECT doc_id, SUM(e - st) AS rem FROM sp GROUP BY doc_id),
              |occ AS (SELECT h, COUNT(*) AS n_occ FROM g GROUP BY 1),
              |nov AS (SELECT doc_id, COUNT(*) AS n_grams,
              |          SUM(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS n_novel
              |        FROM g JOIN occ USING (h) GROUP BY doc_id),
              |tg AS (SELECT DISTINCT h FROM g WHERE doc_id % 47 = 0),
              |dg AS (SELECT DISTINCT doc_id, h FROM g WHERE doc_id % 47 <> 0),
              |con AS (SELECT doc_id, COUNT(*) AS n_shared
              |        FROM dg JOIN tg USING (h) GROUP BY 1)
              |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
              |  CAST(COALESCE(r.rem, 0) AS BIGINT) AS n_removed,
              |  ROUND(nv.n_novel::DOUBLE / nv.n_grams + 1e-9, 4) AS novelty,
              |  COALESCE(c.n_shared, 0) > 0 AS contaminated
              |FROM b LEFT JOIN rem r USING (doc_id)
              |  LEFT JOIN nov nv USING (doc_id)
              |  LEFT JOIN con c USING (doc_id)
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val r = graft.ext.Curate.gramPipeline(Tables.documents(s, dir),
          "text", "doc_id", col("doc_id") % 47 === 0, k = 5)
        r.cleaned.select(col("id").as("doc_id"), col("n_tokens"),
            col("n_removed"))
          .join(r.novelty.select(col("id").as("doc_id"),
            R(col("novelty")).as("novelty")), Seq("doc_id"), "left")
          .join(r.contamination.select(col("id").as("doc_id"),
            (col("n_shared") > 0).as("_c")), Seq("doc_id"), "left")
          .withColumn("contaminated", coalesce(col("_c"), lit(false)))
          .drop("_c")
          .orderBy("doc_id")
      }),

    // X-lm: corpus bigram language model — top-20 bigrams with conditional
    // probability p(w2 | w1) from unigram/bigram count join.
    Q("x_bigram_lm",
      Some(s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
              |uni AS (SELECT w, COUNT(*) AS c1
              |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
              |big AS (SELECT bg, COUNT(*) AS c2
              |        FROM (SELECT unnest(${gramsSql(2)}) AS bg FROM t) GROUP BY bg),
              |sp AS (SELECT bg, c2, string_split(bg, ' ')[1] AS w1,
              |              string_split(bg, ' ')[2] AS w2 FROM big)
              |SELECT w1, w2, c2 AS n, ROUND(c2::DOUBLE / c1 + 1e-9, 4) AS cond_p
              |FROM sp JOIN uni ON uni.w = sp.w1
              |ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
        val uni = docs.select(explode(col("toks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val big = docs
          .select(explode(TextAnalysis.shinglesFromTokens(col("toks"), 2)).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("n"))
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .withColumn("w2", split(col("bg"), " ").getItem(1))
        big.join(uni, col("w1") === col("w"))
          .select(col("w1"), col("w2"), col("n"),
            R(col("n").cast("double") / col("c1")).as("cond_p"))
          .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
          .limit(20)
      }),

    // X-lm-score: per-document average bigram negative log-likelihood under
    // the corpus bigram model (leave-in estimate) — the model-based quality
    // signal that flags out-of-distribution or garbled documents. Docs with
    // fewer than 2 tokens have no bigrams and drop out on both sides.
    Q("x_doc_perplexity",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |uni AS (SELECT w, COUNT(*) AS c1
              |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
              |bgc AS (SELECT bg, COUNT(*) AS c2
              |        FROM (SELECT unnest(${gramsSql(2)}) AS bg FROM t) GROUP BY bg),
              |db AS (SELECT doc_id, unnest(${gramsSql(2)}) AS bg FROM t),
              |sc AS (SELECT db.doc_id, -log2(bgc.c2::DOUBLE / uni.c1) AS nll
              |       FROM db JOIN bgc USING (bg)
              |       JOIN uni ON uni.w = string_split(db.bg, ' ')[1])
              |SELECT doc_id, COUNT(*) AS n_bigrams,
              |       ROUND(AVG(nll) + 1e-9, 4) AS avg_nll
              |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // ONE tokenize+explode pass (r22): the instance-level gram table
        // (unigrams + bigrams per doc) is persisted and feeds the
        // unigram counts, the bigram counts AND the scoring probe — the
        // old shape re-ran the tokenizer for each of the three
        // (fixed-width (long, string) rows; harness sweeps the pin)
        val toks = TextAnalysis.tokens(col("text"))
        val par = s.sparkContext.defaultParallelism
        val g = graft.ext.Par.fanOut(docs, par)
          .select(col("doc_id"), explode(concat(toks,
            TextAnalysis.shinglesFromTokens(toks, 2))).as("g"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val isBg = col("g").contains(" ")
        val uni = g.filter(!isBg)
          .select(col("g").as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val db = g.filter(isBg).select(col("doc_id"), col("g").as("bg"))
        val bgc = db.groupBy("bg").agg(count(lit(1)).as("c2"))
        db.join(bgc, Seq("bg"))
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .join(uni, col("w1") === col("w"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            R(avg(-log2(col("c2").cast("double") / col("c1")))).as("avg_nll"))
          .orderBy("doc_id")
      }),

    // X-lm-kn: interpolated Kneser–Ney scoring (the CCNet-style filter
    // done right): train the smoothed bigram model on the EVEN half,
    // score EVERY document — including ones whose bigrams never appear
    // in training, which the MLE scorer above silently drops. Both
    // engines build the identical model (counting + fixed-order float
    // arithmetic); discount 0.75, add-one <unk> continuation mass.
    Q("x_kn_perplexity",
      Some(s"WITH $knBigramCtes\n" +
        """SELECT doc_id, COUNT(*) AS n_bigrams,
          |       ROUND(AVG(-log2(p)) + 1e-9, 4) AS avg_nll
          |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = graft.ext.Lm.knBigramTrain(
          docs.filter(col("doc_id") % 2 === 0), "text")
        graft.ext.Lm.knScore(docs, "doc_id", "text", model)
          .select(col("id").as("doc_id"), col("n_bigrams"),
            R(col("avg_nll")).as("avg_nll"))
          .orderBy("doc_id")
      }),

    // X-doremi: excess-loss domain reweighting (the DoReMi idea,
    // arXiv:2305.10429, in its deterministic one-shot form): domains
    // whose mean LM loss exceeds the easiest domain's get upweighted
    // exponentially — train the mixture where the model is still losing.
    // Per-doc nll comes from the audited KN scorer (rounded 4 dp so both
    // engines aggregate identical values); the softmax runs over the
    // SOURCES-sized frame (one-row min/total crossJoins, broadcast).
    Q("x_domain_reweight",
      Some(s"WITH $knBigramCtes,\n" +
        """nll AS (SELECT doc_id, ROUND(AVG(-log2(p)) + 1e-9, 4) AS nll_r
          |        FROM sc GROUP BY doc_id),
          |sn AS (SELECT d.source, COUNT(*) AS n_docs,
          |         ROUND(AVG(nll.nll_r) + 1e-9, 4) AS mean_nll
          |       FROM documents d JOIN nll ON d.doc_id = nll.doc_id GROUP BY 1),
          |mn AS (SELECT MIN(mean_nll) AS m FROM sn),
          |e AS (SELECT source, n_docs, mean_nll,
          |        exp(mean_nll - mn.m) AS ew FROM sn, mn),
          |t2 AS (SELECT SUM(ew) AS s FROM e)
          |SELECT source, n_docs, mean_nll,
          |       ROUND(ew / t2.s + 1e-9, 4) AS weight
          |FROM e, t2 ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = graft.ext.Lm.knBigramTrain(
          docs.filter(col("doc_id") % 2 === 0), "text")
        val nll = graft.ext.Lm.knScore(docs, "doc_id", "text", model)
          .select(col("id").as("doc_id"), R(col("avg_nll")).as("nll_r"))
        val sn = docs.join(nll, "doc_id").groupBy("source")
          .agg(count(lit(1)).as("n_docs"), R(avg(col("nll_r"))).as("mean_nll"))
        val e = sn.crossJoin(broadcast(sn.agg(min(col("mean_nll")).as("m"))))
          .withColumn("ew", exp(col("mean_nll") - col("m")))
        e.crossJoin(broadcast(e.agg(sum(col("ew")).as("s"))))
          .select(col("source"), col("n_docs"), col("mean_nll"),
            R(col("ew") / col("s")).as("weight"))
          .orderBy("source")
      }),

    // X-curriculum: difficulty-ordered training curriculum — quartile
    // buckets of KN nll (easy → hard), deterministic md5 shuffle WITHIN
    // each bucket. Bucket assignment is threshold-based (one-row exact
    // quartiles broadcast, then a map-side CASE) rather than a global
    // NTILE — a single-partition ranking window over the corpus is
    // exactly the scale cliff this engine bans; the only window here is
    // the per-bucket position, partitioned on bucket.
    Q("x_curriculum_order",
      Some(s"WITH $knBigramCtes,\n" +
        """nll AS (SELECT doc_id, ROUND(AVG(-log2(p)) + 1e-9, 4) AS nll_r
          |        FROM sc GROUP BY doc_id),
          |q AS (SELECT ROUND(quantile_cont(nll_r, 0.25) + 1e-9, 4) AS q1,
          |             ROUND(quantile_cont(nll_r, 0.50) + 1e-9, 4) AS q2,
          |             ROUND(quantile_cont(nll_r, 0.75) + 1e-9, 4) AS q3 FROM nll),
          |b AS (SELECT doc_id, nll_r,
          |        1 + CAST(nll_r > q.q1 AS INT) + CAST(nll_r > q.q2 AS INT)
          |          + CAST(nll_r > q.q3 AS INT) AS bucket
          |      FROM nll, q)
          |SELECT doc_id, bucket, nll_r,
          |       CAST(row_number() OVER (PARTITION BY bucket
          |         ORDER BY md5('17|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
          |FROM b ORDER BY bucket, pos""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = graft.ext.Lm.knBigramTrain(
          docs.filter(col("doc_id") % 2 === 0), "text")
        val nll = graft.ext.Lm.knScore(docs, "doc_id", "text", model)
          .select(col("id").as("doc_id"), R(col("avg_nll")).as("nll_r"))
        val qs = nll.agg(
          R(expr("percentile(nll_r, 0.25d)")).as("q1"),
          R(expr("percentile(nll_r, 0.5d)")).as("q2"),
          R(expr("percentile(nll_r, 0.75d)")).as("q3"))
        val b = nll.crossJoin(broadcast(qs))
          .withColumn("bucket", lit(1) +
            (col("nll_r") > col("q1")).cast("int") +
            (col("nll_r") > col("q2")).cast("int") +
            (col("nll_r") > col("q3")).cast("int"))
        val w = Window.partitionBy("bucket").orderBy(
          md5(concat(lit("17|"), col("doc_id").cast("string"))), col("doc_id"))
        b.withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("bucket"), col("nll_r"), col("pos"))
          .orderBy("bucket", "pos")
      }),

    // X-lm-kn3: trigram interpolated KN — the full recursion
    // trigram → continuation-bigram → smoothed unigram. The bigram
    // level uses CONTINUATION counts (distinct left-contexts), the
    // defining Kneser–Ney move; unseen (w1,w2) histories back off a
    // level instead of dropping out. Same even-half training split.
    Q("x_kn3_perplexity",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |tg AS (SELECT unnest(${gramsSql(3)}) AS g FROM t WHERE doc_id % 2 = 0),
              |tri AS (SELECT string_split(g, ' ')[1] AS w1,
              |               string_split(g, ' ')[2] AS w2,
              |               string_split(g, ' ')[3] AS w3, COUNT(*) AS c3
              |        FROM tg GROUP BY 1, 2, 3),
              |h3 AS (SELECT w1, w2, SUM(c3) AS c12, COUNT(*) AS fwd3 FROM tri GROUP BY 1, 2),
              |m2 AS (SELECT w2, w3, COUNT(DISTINCT w1) AS n1p FROM tri GROUP BY 1, 2),
              |h2 AS (SELECT w2, SUM(n1p) AS tot2, COUNT(*) AS fwd2 FROM m2 GROUP BY 1),
              |cont AS (SELECT w3, COUNT(*) AS n1p_bwd FROM m2 GROUP BY 1),
              |tot AS (SELECT (SELECT COUNT(*) FROM m2) AS tt,
              |               (SELECT COUNT(DISTINCT w)
              |                FROM (SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0)) AS vv),
              |db AS (SELECT doc_id, string_split(g, ' ')[1] AS w1,
              |              string_split(g, ' ')[2] AS w2,
              |              string_split(g, ' ')[3] AS w3
              |       FROM (SELECT doc_id, unnest(${gramsSql(3)}) AS g FROM t)),
              |j AS (SELECT db.doc_id, tri.c3, h3.c12, h3.fwd3, m2.n1p,
              |             h2.tot2, h2.fwd2, ct.n1p_bwd, tot.tt, tot.vv
              |      FROM db LEFT JOIN tri ON db.w1 = tri.w1 AND db.w2 = tri.w2 AND db.w3 = tri.w3
              |        LEFT JOIN h3 ON db.w1 = h3.w1 AND db.w2 = h3.w2
              |        LEFT JOIN m2 ON db.w2 = m2.w2 AND db.w3 = m2.w3
              |        LEFT JOIN h2 ON db.w2 = h2.w2
              |        LEFT JOIN cont ct ON db.w3 = ct.w3
              |        CROSS JOIN tot),
              |p2t AS (SELECT doc_id, c3, c12, fwd3,
              |          CASE WHEN tot2 IS NOT NULL THEN
              |            GREATEST(COALESCE(n1p, 0) - 0.75, 0.0) / tot2
              |            + (0.75 * fwd2 / tot2)
              |              * ((COALESCE(n1p_bwd, 0) + 1.0) / (tt + vv + 1.0))
              |          ELSE (COALESCE(n1p_bwd, 0) + 1.0) / (tt + vv + 1.0)
              |          END AS p2
              |        FROM j),
              |p3t AS (SELECT doc_id,
              |          CASE WHEN c12 IS NOT NULL THEN
              |            GREATEST(COALESCE(c3, 0) - 0.75, 0.0) / c12
              |            + (0.75 * fwd3 / c12) * p2
              |          ELSE p2 END AS p
              |        FROM p2t)
              |SELECT doc_id, COUNT(*) AS n_trigrams,
              |       ROUND(AVG(-log2(p)) + 1e-9, 4) AS avg_nll
              |FROM p3t GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = graft.ext.Lm.knTrigramTrain(
          docs.filter(col("doc_id") % 2 === 0), "text")
        graft.ext.Lm.kn3Score(docs, "doc_id", "text", model)
          .select(col("id").as("doc_id"), col("n_trigrams"),
            R(col("avg_nll")).as("avg_nll"))
          .orderBy("doc_id")
      }),

    // X-dsir: Data Selection via Importance Resampling (Xie et al. 2023)
    // — fit hashed-ngram multinomials to the 'en' target slice and the
    // full raw corpus, weight every document by its target/raw
    // log-likelihood ratio, select 100 by Gumbel-perturbed top-k
    // (sampling without replacement ∝ importance weight). The Gumbel
    // uniform is md5-derived, so both engines select the identical set;
    // the cut ranks on the 6-decimal-rounded key (id tie-break) so a
    // last-ulp summation difference can never flip the boundary.
    Q("x_dsir_select",
      Some(s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
              |f AS (SELECT doc_id, lang,
              |        CAST(concat('0x', substr(md5(g), 1, 10)) AS BIGINT) % 64 AS bucket
              |      FROM (SELECT doc_id, lang,
              |              unnest(list_concat(toks, ${gramsSql(2)})) AS g FROM t)),
              |tc AS (SELECT bucket, COUNT(*) AS c FROM f WHERE lang = 'en' GROUP BY 1),
              |rc AS (SELECT bucket, COUNT(*) AS c FROM f GROUP BY 1),
              |tt AS (SELECT SUM(c) AS tot FROM tc),
              |rt AS (SELECT SUM(c) AS tot FROM rc),
              |w AS (SELECT b.bucket,
              |        LN((COALESCE(tc.c, 0) + 1.0) / (tt.tot + 64.0))
              |        - LN((COALESCE(rc.c, 0) + 1.0) / (rt.tot + 64.0)) AS lw
              |      FROM (SELECT unnest(range(0, 64)) AS bucket) b
              |        LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt, rt),
              |sc AS (SELECT f.doc_id, COUNT(*) AS n_feats, SUM(w.lw) AS logw
              |       FROM f JOIN w USING (bucket) GROUP BY 1),
              |g AS (SELECT doc_id, n_feats, logw, logw + (-LN(-LN(
              |        (CAST(concat('0x', substr(md5('41:' || CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
              |         + 0.5) / 1099511627776.0))) AS key
              |      FROM sc),
              |r AS (SELECT *, row_number() OVER (
              |        ORDER BY ROUND(key + 1e-9, 6) DESC, doc_id) AS rn FROM g)
              |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
              |       ROUND(logw + 1e-9, 4) AS logw_r
              |FROM r WHERE rn <= 100 ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // ONE corpus featurization (r22): the shared (id, _t, bucket)
        // feature table feeds BOTH the weight counts and the per-doc
        // score — the weights arm is the r21 fused single-pass form
        // (LmFusionSpec pins bit-parity of both seams), and the score
        // arm reads the persisted table instead of re-exploding the
        // corpus. Mirrors the oracle exactly: its `f` CTE feeds tc, rc
        // AND ds.
        val feats = graft.ext.Sampling.dsirFeatureTable(
            docs, "doc_id", col("lang") === "en", "text", 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val w = graft.ext.Sampling.dsirWeightsFromFeatures(feats, 64)
        graft.ext.Sampling.dsirScoreFromFeatures(feats, w, seed = 41)
          .orderBy(round(col("key") + lit(1e-9), 6).desc, col("id").asc)
          .limit(100)
          .select(col("id").as("doc_id"), col("n_feats"),
            R(col("logw")).as("logw_r"))
          .orderBy("doc_id")
      }),

    // X-rrf: reciprocal-rank fusion hybrid retrieval — fuse the BM25
    // lexical top-50 with the embedding-cosine top-50 (query = vector 0,
    // vec_id aligns with doc_id) without score calibration. Both lists
    // rank on the 4-decimal-rounded score with id tie-break, so the cut
    // and the ranks are engine-stable; rrf = Σ 1/(60 + rank).
    Q("x_rrf_hybrid",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |lens AS (SELECT doc_id, len(toks) AS dl FROM t),
              |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
              |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
              |       FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
              |       WHERE tok IN ('hash', 'join', 'filter') GROUP BY 1, 2),
              |idf AS (SELECT term, LN((s.n - df + 0.5) / (df + 0.5) + 1.0) AS idf
              |        FROM (SELECT term, COUNT(DISTINCT doc_id) AS df
              |              FROM tf GROUP BY 1), stats s),
              |bs AS (SELECT tf.doc_id,
              |         SUM(idf.idf * (tf.tf * 2.2)
              |             / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / s.avgdl))) AS bm25
              |       FROM tf JOIN idf USING (term) JOIN lens USING (doc_id),
              |            stats s GROUP BY 1),
              |ball AS (SELECT l.doc_id AS id, ROUND(COALESCE(bs.bm25, 0.0) + 1e-9, 4) AS score
              |         FROM lens l LEFT JOIN bs ON l.doc_id = bs.doc_id),
              |brk AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank_bm25
              |        FROM ball QUALIFY rank_bm25 <= 50),
              |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              |cs AS (SELECT vec_id AS id,
              |         ROUND((${cosSql("v", "qv")}) + 1e-9, 4) AS score
              |       FROM e, q WHERE vec_id > 0),
              |crk AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank_cos
              |        FROM cs QUALIFY rank_cos <= 50)
              |SELECT COALESCE(b.id, c.id) AS doc_id,
              |       CAST(b.rank_bm25 AS INT) AS rank_bm25,
              |       CAST(c.rank_cos AS INT) AS rank_cos,
              |       ROUND(COALESCE(1.0 / (60 + b.rank_bm25), 0.0)
              |             + COALESCE(1.0 / (60 + c.rank_cos), 0.0) + 1e-9, 4) AS rrf_r
              |FROM brk b FULL OUTER JOIN crk c ON b.id = c.id
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val lex = TextAnalysis.bm25(docs, "text", "doc_id",
            Seq("hash", "join", "filter"))
          .select(col("id"), R(col("bm25")).as("score"))
          .orderBy(col("score").desc, col("id").asc).limit(50)
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        val sem = emb.filter(col("vec_id") > 0).crossJoin(broadcast(qv))
          .select(col("vec_id").as("id"),
            R(Similarity.cosine(col("embedding"), col("qv"))).as("score"))
          .orderBy(col("score").desc, col("id").asc).limit(50)
        Similarity.rrfFuse(Seq("bm25" -> lex, "cos" -> sem))
          .select(col("id").as("doc_id"), col("rank_bm25"), col("rank_cos"),
            R(col("rrf")).as("rrf_r"))
          .orderBy("doc_id")
      }),

    // X-model-capstone: the MODEL-based curation pipeline end-to-end —
    // the fully-learned twin of x_llm_pipeline's heuristic gates:
    // smoothed-LM perplexity gate (keep the sub-median half under the
    // even-half KN model, self-calibrating at any SF) → exact dedup
    // keep-first → DSIR importance selection of 50 target-like docs.
    // Every stage's shape is the individually-audited operator's; every
    // gate compares ROUNDED values so both engines cut identically.
    Q("x_model_curation_pipeline",
      Some(s"WITH $knBigramCtes,\n" +
        s"""nll AS (SELECT doc_id, ROUND(AVG(-log2(p)) + 1e-9, 4) AS nll_r
              |        FROM sc GROUP BY doc_id),
              |med AS (SELECT ROUND(quantile_cont(nll_r, 0.5) + 1e-9, 4) AS m FROM nll),
              |gated AS (SELECT t.doc_id, t.lang, t.text, t.toks, nll.nll_r
              |          FROM t JOIN nll USING (doc_id), med WHERE nll.nll_r <= med.m),
              |dd AS (SELECT *, row_number() OVER (PARTITION BY md5($normSql)
              |                                    ORDER BY doc_id) AS rn FROM gated),
              |surv AS (SELECT doc_id, lang, toks, nll_r FROM dd WHERE rn = 1),
              |f AS (SELECT doc_id, lang,
              |        CAST(concat('0x', substr(md5(g), 1, 10)) AS BIGINT) % 64 AS bucket
              |      FROM (SELECT doc_id, lang,
              |              unnest(list_concat(toks, ${gramsSql(2)})) AS g FROM surv)),
              |tc AS (SELECT bucket, COUNT(*) AS c FROM f WHERE lang = 'en' GROUP BY 1),
              |rc AS (SELECT bucket, COUNT(*) AS c FROM f GROUP BY 1),
              |tt2 AS (SELECT SUM(c) AS tot FROM tc),
              |rt2 AS (SELECT SUM(c) AS tot FROM rc),
              |w AS (SELECT bk.bucket,
              |        LN((COALESCE(tc.c, 0) + 1.0) / (tt2.tot + 64.0))
              |        - LN((COALESCE(rc.c, 0) + 1.0) / (rt2.tot + 64.0)) AS lw
              |      FROM (SELECT unnest(range(0, 64)) AS bucket) bk
              |        LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt2, rt2),
              |ds AS (SELECT f.doc_id, SUM(w.lw) AS logw
              |       FROM f JOIN w USING (bucket) GROUP BY 1),
              |g2 AS (SELECT doc_id, logw, logw + (-LN(-LN(
              |        (CAST(concat('0x', substr(md5('41:' || CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
              |         + 0.5) / 1099511627776.0))) AS key
              |      FROM ds),
              |r2 AS (SELECT *, row_number() OVER (
              |        ORDER BY ROUND(key + 1e-9, 6) DESC, doc_id) AS srn FROM g2)
              |SELECT r2.doc_id, surv.nll_r, ROUND(r2.logw + 1e-9, 4) AS logw_r
              |FROM r2 JOIN surv ON r2.doc_id = surv.doc_id
              |WHERE r2.srn <= 50 ORDER BY r2.doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = graft.ext.Lm.knBigramTrain(
          docs.filter(col("doc_id") % 2 === 0), "text")
        // persist the two frames the later stages REUSE: scored feeds
        // both the median and the gate, surv feeds both DSIR count
        // scans, the scoring pass, and the final join-back — without
        // the cache each reuse re-executes the whole KN-scoring
        // lineage (measured 17.9 s → ~2 s at sf0.1). At production
        // scale these are the stage boundaries a pipeline would
        // checkpoint to parquet. Bench note: this cell's recorded time
        // is structurally BIMODAL — ~5.3 s when these caches are cold
        // (every stage computes) vs ~2.4 s when the bench's second
        // timed run reuses them; both are steady states of the same
        // code (probed r17, SCALE.md "x_model_curation_pipeline
        // bimodality") — the declared envelope in Bench covers it.
        val scored = graft.ext.Lm.knScore(docs, "doc_id", "text", model)
          .select(col("id").as("doc_id"), R(col("avg_nll")).as("nll_r"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val med = scored.agg(R(expr("percentile(nll_r, 0.5d)")).as("m"))
        val gated = docs.join(scored, "doc_id")
          .crossJoin(broadcast(med)).filter(col("nll_r") <= col("m"))
        val surv = Dedup.exactDedup(gated, "text", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // shared DSIR featurization (r22): one explode of the survivor
        // frame feeds both the weight counts and the score — see
        // x_dsir_select; surv is already cached, so this removes the
        // second full tokenize+hash pass over the survivors
        val feats = graft.ext.Sampling.dsirFeatureTable(
            surv, "doc_id", col("lang") === "en", "text", 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val w = graft.ext.Sampling.dsirWeightsFromFeatures(feats, 64)
        graft.ext.Sampling.dsirScoreFromFeatures(feats, w, seed = 41)
          .orderBy(round(col("key") + lit(1e-9), 6).desc, col("id").asc)
          .limit(50)
          .join(surv.select(col("doc_id"), col("nll_r")),
            col("id") === col("doc_id"))
          .select(col("doc_id"), col("nll_r"), R(col("logw")).as("logw_r"))
          .orderBy("doc_id")
      }),

    // S-aggpush: filterless MIN/MAX/COUNT answered from parquet FOOTER
    // statistics — the session enables spark.sql.parquet.aggregatePushdown
    // and this read goes through the V2 parquet source (the only path
    // that implements aggregate pushdown; the SESSION default stays V1
    // because bucketed-table reads exist only there, so the V2 choice is
    // scoped to this reader and restored). PushedAggregation is pinned
    // in PlanSpec. At 100 TB: a metadata read instead of a corpus scan.
    Q("s_agg_pushdown_stats",
      Some("""SELECT COUNT(*) AS n_rows,
             |       MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey,
             |       MIN(l_partkey) AS min_pkey, MAX(l_partkey) AS max_pkey
             |FROM lineitem""".stripMargin),
      (s, dir) => {
        val key = "spark.sql.sources.useV1SourceList"
        val prev = s.conf.get(key)
        val df =
          try { s.conf.set(key, ""); Tables.lineitem(s, dir) }
          finally s.conf.set(key, prev)
        df.agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"),
          min(col("l_partkey")).as("min_pkey"),
          max(col("l_partkey")).as("max_pkey"))
      }),

    // Q-benford: first-significant-digit distribution vs Benford's law —
    // the classic fabricated-data / unit-error forensic audit for
    // financial-style columns. One aggregation over the digit (9 rows
    // out); expected_p = log10(1 + 1/d) rides as column arithmetic.
    Q("q_benford_first_digit",
      Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(l_extendedprice AS DOUBLE) AS VARCHAR), 1, 1) AS INT) AS digit
             |          FROM lineitem WHERE l_extendedprice >= 1),
             |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
             |t AS (SELECT SUM(n) AS tot FROM g)
             |SELECT digit, n, ROUND(n * 1.0 / t.tot + 1e-9, 4) AS observed_p,
             |       ROUND(log10(1.0 + 1.0 / digit) + 1e-9, 4) AS benford_p
             |FROM g, t ORDER BY digit""".stripMargin),
      (s, dir) => {
        // >= 1 pins the string rendering: both engines then lead with the
        // first SIGNIFICANT digit (sub-1 values render '0.' in DuckDB but
        // scientific in Spark)
        val d = Tables.lineitem(s, dir)
          .filter(col("l_extendedprice") >= 1)
          .select(substring(col("l_extendedprice").cast("double")
            .cast("string"), 1, 1).cast("int").as("digit"))
        val g = d.groupBy("digit").agg(count(lit(1)).as("n"))
        val t = g.agg(sum("n").as("tot"))
        g.crossJoin(broadcast(t))
          .select(col("digit"), col("n"),
            R(col("n") * lit(1.0) / col("tot")).as("observed_p"),
            R(log(10.0, lit(1.0) + lit(1.0) / col("digit"))).as("benford_p"))
          .orderBy("digit")
      }),

    // A-uentropy: per-user event-TYPE entropy — behavioral diversity
    // (0 bits = single-type bots/monitors, high = organic mixed use).
    // Same one-pass identity as TextAnalysis.tokenEntropy: H = log2 n −
    // (Σ c·log2 c)/n over (user, type) counts; two hash aggregations.
    Q("a_user_event_entropy",
      Some("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
             |          FROM events GROUP BY 1, 2),
             |e AS (SELECT user_id, SUM(c) AS n,
             |        SUM(c * log2(c)) AS clgc FROM c GROUP BY 1)
             |SELECT user_id, CAST(n AS BIGINT) AS n_events,
             |       ROUND(log2(n) - clgc / n + 1e-9, 4) AS entropy_bits
             |FROM e ORDER BY user_id""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n_events"),
          sum(col("c") * log(2.0, col("c"))).as("clgc"))
        .select(col("user_id"), col("n_events"),
          R(log(2.0, col("n_events")) - col("clgc") / col("n_events"))
            .as("entropy_bits"))
        .orderBy("user_id")),

    // Q-kanon: k-anonymity audit — for quasi-identifier (lang, source),
    // how many documents sit in groups smaller than k=5 (re-identifiable
    // under linkage) and which groups violate. The release gate a
    // governance pipeline runs before publishing grouped data. Shape:
    // one hash aggregation on the QI columns, groups-sized output.
    Q("q_k_anonymity",
      Some("""WITH g AS (SELECT lang, source, COUNT(*) AS n
             |          FROM documents GROUP BY 1, 2)
             |SELECT lang, source, n, n < 5 AS violates
             |FROM g ORDER BY lang, source""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .withColumn("violates", col("n") < 5)
        .orderBy("lang", "source")),

    // Q-ldiv: l-diversity audit — k-anonymity's necessary complement: a
    // group can be large (k-safe) yet still leak if every row belongs to
    // the SAME sensitive value (homogeneity attack). For quasi-identifier
    // (event_type, day), l = distinct users in the group; l < 3 violates.
    // Shape: one aggregation with a distinct count, groups-sized output.
    Q("q_l_diversity",
      Some("""WITH g AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                 COUNT(*) AS n, COUNT(DISTINCT user_id) AS l
             |          FROM events GROUP BY 1, 2)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, l,
             |       l < 3 AS violates
             |FROM g ORDER BY event_type, day""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("l"))
        .withColumn("violates", col("l") < 3)
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("l"), col("violates"))
        .orderBy("event_type", "day")),

    // Q-kappa: Cohen's kappa between the HEURISTIC quality gate
    // (qualityScore ≥ 0.35) and the LEARNED gate (NB log-odds > 0) on
    // held-out docs — are the two quality filters measuring the same
    // thing, corrected for chance agreement? κ = (po − pe)/(1 − pe).
    Q("q_rater_agreement_kappa",
      Some(s"WITH $nbModelCtes,\n$nbHeldCtes,\n" +
        s"""r AS (SELECT t.doc_id,
              |        (($qualityScoreSql) >= 0.35) AS a,
              |        (held.s_r > 0) AS b
              |      FROM t JOIN held ON t.doc_id = held.doc_id),
              |m AS (SELECT COUNT(*) AS n,
              |        SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS yy,
              |        SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS yn,
              |        SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS ny,
              |        SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS nn2
              |      FROM r)
              |SELECT CAST(yy AS BIGINT) AS both_keep, CAST(nn2 AS BIGINT) AS both_drop,
              |       CAST(yn AS BIGINT) AS only_heuristic, CAST(ny AS BIGINT) AS only_model,
              |       ROUND(((yy + nn2) * 1.0 / n
              |          - ((yy + yn) * (yy + ny) + (ny + nn2) * (yn + nn2)) * 1.0 / (n * n))
              |         / (1.0 - ((yy + yn) * (yy + ny) + (ny + nn2) * (yn + nn2)) * 1.0 / (n * n))
              |         + 1e-9, 4) AS kappa
              |FROM m""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val wts = TextAnalysis.nbTrainWeights(docs.filter(col("doc_id") < 250),
          "text", col("lang") === "en", numBuckets = 1024)
        val r = TextAnalysis
          .nbScore(docs.filter(col("doc_id") >= 250), "doc_id", "text", wts,
            numBuckets = 1024)
          .join(docs.select(col("doc_id").as("id"), col("text")), Seq("id"))
          .select((TextAnalysis.qualityScore(col("text")) >= 0.35).as("a"),
            (R(col("nb_score")) > 0).as("b"))
        val m = r.agg(count(lit(1)).as("n"),
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("yy"),
          sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("yn"),
          sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("ny"),
          sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("nn2"))
        val pe = ((col("yy") + col("yn")) * (col("yy") + col("ny"))
          + (col("ny") + col("nn2")) * (col("yn") + col("nn2"))) * lit(1.0) /
          (col("n") * col("n"))
        m.select(col("yy").as("both_keep"), col("nn2").as("both_drop"),
          col("yn").as("only_heuristic"), col("ny").as("only_model"),
          R(((col("yy") + col("nn2")) * lit(1.0) / col("n") - pe)
            / (lit(1.0) - pe)).as("kappa"))
      }),

    // Q-dp: differentially-private count release — per-language counts
    // with seeded Laplace(sensitivity/ε = 1/1) noise via the inverse
    // CDF over the md5 uniform of the group key. Deterministic (the
    // privacy accounting of a REAL release would use true randomness;
    // the engine op is the noise mechanism + plumbing, which a seeded
    // uniform exercises end-to-end and the oracle can replay).
    Q("q_dp_release_counts",
      Some("""WITH g AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
             |u AS (SELECT lang, n,
             |        (CAST(concat('0x', substr(md5('7:' || lang), 1, 10)) AS BIGINT) + 0.5)
             |          / 1099511627776.0 AS uu
             |      FROM g)
             |SELECT lang, n,
             |       ROUND(n - CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END
             |             * LN(1.0 - 2.0 * ABS(uu - 0.5)) + 1e-9, 4) AS n_dp
             |FROM u ORDER BY lang""".stripMargin),
      (s, dir) => {
        val g = Tables.documents(s, dir)
          .groupBy("lang").agg(count(lit(1)).as("n"))
        val u = graft.ext.Sampling.md5Uniform(concat(lit("7:"), col("lang")))
        val lap = when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
          -log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
        g.select(col("lang"), col("n"),
          R(col("n") + lap).as("n_dp"))
          .orderBy("lang")
      }),

    // Q-dp-ledger: the BUDGET-GATED release — same seeded-Laplace counts,
    // but routed through the ε-ledger (DpLedger.gatedLaplaceCounts): the
    // release is recorded against a fresh per-run ledger before the
    // noised frame is returned, noise scale b = 1/ε = 2, seed keyed by
    // (dataset, release_id, group) so a replay of release r1 is
    // byte-identical and costs no new ε. The oracle recomputes the
    // identical md5-seeded draw. Ledger semantics (gate, idempotent
    // replay, per-dataset isolation) are pinned in AlertsSpec.
    Q("q_dp_gated_release",
      Some("""WITH g AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
             |u AS (SELECT lang, n,
             |        (CAST(concat('0x', substr(md5('docs:r1:' || lang), 1, 10)) AS BIGINT) + 0.5)
             |          / 1099511627776.0 AS uu
             |      FROM g)
             |SELECT lang, n,
             |       ROUND(n - CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END
             |             * 2.0 * LN(1.0 - 2.0 * ABS(uu - 0.5)) + 1e-9, 4) AS n_dp
             |FROM u ORDER BY lang""".stripMargin),
      (s, dir) => {
        val ledger = java.nio.file.Files
          .createTempDirectory("graft-dp-ledger").toString
        graft.quality.DpLedger.gatedLaplaceCounts(
            Tables.documents(s, dir), Seq("lang"), ledger,
            dataset = "docs", releaseId = "r1", epsilon = 0.5,
            totalBudget = 1.0)
          .orderBy("lang")
      }),

    // Q-dp-sums: the SUM form of the gated release — per-row
    // contributions clipped to [0, 500] chars BEFORE summing, which is
    // what bounds the sensitivity (one document moves the sum by ≤ 500)
    // and so sets the Laplace scale b = clip/ε = 1000. The un-clipped
    // "DP sum" is the classic governance bug this API shape forbids.
    Q("q_dp_gated_sums",
      Some("""WITH g AS (SELECT lang, COUNT(*) AS n,
             |            SUM(LEAST(GREATEST(CAST(len(text) AS DOUBLE), 0.0), 500.0)) AS sc
             |          FROM documents GROUP BY 1),
             |u AS (SELECT lang, n, sc,
             |        (CAST(concat('0x', substr(md5('docs:s1:sum:' || lang), 1, 10)) AS BIGINT) + 0.5)
             |          / 1099511627776.0 AS uu
             |      FROM g)
             |SELECT lang, n, ROUND(sc + 1e-9, 4) AS sum_clipped,
             |       ROUND(sc - CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END
             |             * 1000.0 * LN(1.0 - 2.0 * ABS(uu - 0.5)) + 1e-9, 4) AS sum_dp
             |FROM u ORDER BY lang""".stripMargin),
      (s, dir) => {
        val ledger = java.nio.file.Files
          .createTempDirectory("graft-dp-ledger-s").toString
        graft.quality.DpLedger.gatedLaplaceSums(
            Tables.documents(s, dir)
              .withColumn("tl", length(col("text"))),
            Seq("lang"), "tl", clip = 500.0, ledger,
            dataset = "docs", releaseId = "s1", epsilon = 0.5,
            totalBudget = 1.0)
          .orderBy("lang")
      }),

    // X-negsamp: word2vec-style negative-sampling table — 50 vocabulary
    // tokens drawn WITHOUT replacement ∝ count^0.75 (the subsampling
    // exponent that keeps rare words reachable), via the deterministic
    // Efraimidis–Spirakis key (md5 uniform per token). The cut ranks on
    // the 6-dp-rounded key so the boundary is engine-stable. Shape: one
    // token count aggregation + a TakeOrdered over the vocab table.
    Q("x_negative_sampling",
      Some(s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
              |c AS (SELECT tok, COUNT(*) AS cnt
              |      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
              |k AS (SELECT tok, cnt,
              |        LN((CAST(concat('0x', substr(md5(tok), 1, 10)) AS BIGINT) + 0.5)
              |           / 1099511627776.0) / pow(cnt, 0.75) AS key
              |      FROM c),
              |r AS (SELECT *, row_number() OVER (
              |        ORDER BY ROUND(key + 1e-9, 6) DESC, tok) AS rn FROM k)
              |SELECT tok, cnt FROM r WHERE rn <= 20 ORDER BY tok""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val c = docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        c.withColumn("key",
            graft.ext.Sampling.esKey(col("tok"), pow(col("cnt"), 0.75)))
          .orderBy(round(col("key") + lit(1e-9), 6).desc, col("tok").asc)
          .limit(20)
          .select("tok", "cnt")
          .orderBy("tok")
      }),

    // X-ladder: nested learning-curve sample ladder — the 1% sample is a
    // SUBSET of the 5%, the 5% of the 20%, the 20% of the full corpus,
    // by construction: one md5 bucket per doc, rungs are threshold cuts
    // of the SAME bucket. No re-sampling coordination, no stored sample
    // lists — the property scaling-law sweeps need, free at any scale.
    Q("x_nested_sample_ladder",
      Some("""WITH b AS (SELECT doc_id,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bk
             |  FROM documents),
             |r AS (SELECT CASE WHEN bk < 1 THEN 1 WHEN bk < 5 THEN 5
             |                  WHEN bk < 20 THEN 20 ELSE 100 END AS rung
             |      FROM b),
             |g AS (SELECT CAST(rung AS INT) AS rung, COUNT(*) AS n_rung FROM r GROUP BY 1)
             |SELECT rung, n_rung,
             |       CAST(SUM(n_rung) OVER (ORDER BY rung) AS BIGINT) AS n_cumulative
             |FROM g ORDER BY rung""".stripMargin),
      (s, dir) => {
        val b = Tables.documents(s, dir)
          .select(graft.ext.Sampling.hashBucket(col("doc_id"), 100).as("bk"))
        val w = Window.orderBy("rung")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        b.withColumn("rung", when(col("bk") < 1, 1).when(col("bk") < 5, 5)
            .when(col("bk") < 20, 20).otherwise(100))
          .groupBy("rung").agg(count(lit(1)).as("n_rung"))
          .withColumn("n_cumulative", sum("n_rung").over(w))
          .orderBy("rung")
      }),

    // X-fair-gate: per-source quantile normalization of the quality score
    // (FineWeb-style per-dump thresholds): an absolute cut lets a clean
    // source swamp the mix and starves a noisy one; ranking WITHIN each
    // source and keeping each one's top half is source-fair by
    // construction. Rank on the ROUNDED score with doc_id tie-break so
    // both engines order identically. Scale: one shuffle keyed by
    // source; for skewed sources the per-group GK sketch
    // (QuantileSketchAgg) yields the threshold without a full sort.
    Q("x_source_fair_gate",
      Some(s"""WITH t AS (SELECT doc_id, source,
              |            ROUND(($qualityScoreSql) + 1e-9, 4) AS q_r
              |          FROM (SELECT doc_id, source, text, $toksSql AS toks
              |                FROM documents)),
              |r AS (SELECT doc_id, source, q_r,
              |        percent_rank() OVER (PARTITION BY source
              |                             ORDER BY q_r, doc_id) AS pr
              |      FROM t)
              |SELECT doc_id, source, q_r, ROUND(pr + 1e-9, 4) AS pctile,
              |       pr >= 0.5 AS kept
              |FROM r ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("source")
          .orderBy(col("q_r").asc, col("doc_id").asc)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            R(TextAnalysis.qualityScore(col("text"))).as("q_r"))
          .withColumn("pr", percent_rank().over(w))
          .select(col("doc_id"), col("source"), col("q_r"),
            R(col("pr")).as("pctile"), (col("pr") >= 0.5).as("kept"))
          .orderBy("doc_id")
      }),

    // A-mad: MAD-based robust outlier scoring (Iglewicz–Hoaglin modified
    // z-score) — the per-type mean/stddev z-score (w2_w3) breaks down
    // when outliers inflate the stddev itself; median + median-absolute-
    // deviation is 50%-breakdown robust. Medians are ROUNDED before the
    // deviation pass so both engines' interpolation agrees bit-for-bit.
    // Scale: two aggregations + two broadcast joins of the types-sized
    // median tables; the top-100 cut is a TakeOrdered, no global sort.
    Q("a_mad_robust_outliers",
      Some("""WITH med AS (SELECT event_type,
             |               ROUND(quantile_cont(value, 0.5) + 1e-9, 4) AS med_r
             |             FROM events GROUP BY 1),
             |d AS (SELECT e.event_id, e.event_type, e.value, m.med_r,
             |        ABS(e.value - m.med_r) AS ad
             |      FROM events e JOIN med m USING (event_type)),
             |mad AS (SELECT event_type,
             |          ROUND(quantile_cont(ad, 0.5) + 1e-9, 4) AS mad_r
             |        FROM d GROUP BY 1),
             |z AS (SELECT d.event_id, d.event_type, d.value, d.med_r, mad.mad_r,
             |        ROUND(CASE WHEN mad.mad_r > 0
             |          THEN 0.6745 * (d.value - d.med_r) / mad.mad_r
             |          ELSE 0.0 END + 1e-9, 4) AS z_r
             |      FROM d JOIN mad USING (event_type)),
             |r AS (SELECT *, row_number() OVER (ORDER BY ABS(z_r) DESC, event_id) AS rn
             |      FROM z)
             |SELECT event_id, event_type, ROUND(value + 1e-9, 4) AS value_r,
             |       med_r, mad_r, z_r
             |FROM r WHERE rn <= 100 ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
        val med = ev.groupBy("event_type")
          .agg(R(expr("percentile(value, 0.5d)")).as("med_r"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("ad", abs(col("value") - col("med_r")))
        val mad = dev.groupBy("event_type")
          .agg(R(expr("percentile(ad, 0.5d)")).as("mad_r"))
        dev.join(broadcast(mad), "event_type")
          .withColumn("z_r", R(when(col("mad_r") > 0,
            lit(0.6745) * (col("value") - col("med_r")) / col("mad_r"))
            .otherwise(lit(0.0))))
          .orderBy(abs(col("z_r")).desc, col("event_id").asc).limit(100)
          .select(col("event_id"), col("event_type"),
            R(col("value")).as("value_r"), col("med_r"), col("mad_r"),
            col("z_r"))
          .orderBy("event_id")
      }),

    // X-hardneg: hard-negative mining for retrieval/classifier training —
    // for each query vector, the top-5 most-similar corpus vectors with a
    // DIFFERENT label (the near-misses contrastive training needs).
    // Brute-force arm; at corpus scale candidate generation runs through
    // the IVF/PQ index first and the label filter applies to the
    // shortlist (ivfPqRerankTopK), identical downstream shape.
    Q("x_hard_negatives",
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < 20),
              |c AS (SELECT vec_id AS corpus_id, label AS clabel, v AS cv FROM e WHERE vec_id >= 20),
              |sc AS (SELECT query_id, qlabel, corpus_id, clabel,
              |         (${cosSql("cv", "qv")}) AS cosine
              |       FROM c CROSS JOIN q WHERE clabel <> qlabel),
              |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              |                                   ORDER BY cosine DESC, corpus_id) AS rn FROM sc)
              |SELECT query_id, CAST(rn AS INT) AS rn, corpus_id,
              |       CAST(clabel AS INT) AS neg_label,
              |       ROUND(cosine + 1e-9, 4) AS cosine_r
              |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
            col("embedding").as("qv"))
        val c = emb.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("corpus_id"), col("label").as("clabel"),
            col("embedding").as("cv"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("corpus_id").asc)
        c.crossJoin(broadcast(q))
          .filter(col("clabel") =!= col("qlabel"))
          .withColumn("cosine", Similarity.cosine(col("cv"), col("qv")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("query_id"), col("rn").cast("int").as("rn"),
            col("corpus_id"), col("clabel").cast("int").as("neg_label"),
            R(col("cosine")).as("cosine_r"))
          .orderBy("query_id", "rn")
      }),

    // X-knn: k-nearest-neighbor label vote over embeddings — top-10 cosine
    // neighbors among the corpus half, majority label with deterministic
    // tie-break, compared against the query's true label.
    Q("x_knn_classify",
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS qid, label AS true_label, v AS qv FROM e WHERE vec_id < 20),
              |c AS (SELECT vec_id AS cid, label AS clabel, v AS cv FROM e WHERE vec_id >= 20),
              |sc AS (SELECT qid, true_label, cid, clabel,
              |         (${cosSql("cv", "qv")}) AS cosine
              |       FROM c CROSS JOIN q),
              |r AS (SELECT *, row_number() OVER (PARTITION BY qid
              |                                   ORDER BY cosine DESC, cid) AS rn FROM sc),
              |v AS (SELECT qid, true_label, clabel, COUNT(*) AS votes
              |      FROM r WHERE rn <= 10 GROUP BY qid, true_label, clabel),
              |p AS (SELECT *, row_number() OVER (PARTITION BY qid
              |                                   ORDER BY votes DESC, clabel) AS pr FROM v)
              |SELECT qid AS query_id, CAST(true_label AS INT) AS true_label,
              |       CAST(clabel AS INT) AS pred_label, CAST(votes AS BIGINT) AS votes
              |FROM p WHERE pr = 1 ORDER BY query_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val labels = emb.select(col("vec_id"), col("label"))
        val knn = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20), 10)
        val votes = knn
          .join(broadcast(labels.select(col("vec_id").as("corpus_id"),
            col("label").as("clabel"))), Seq("corpus_id"))
          .groupBy("query_id", "clabel")
          .agg(count(lit(1)).as("votes"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("clabel").asc)
        votes.withColumn("pr", row_number().over(w))
          .filter(col("pr") === 1)
          .join(broadcast(labels.select(col("vec_id").as("query_id"),
            col("label").as("true_label"))), Seq("query_id"))
          .select(col("query_id"), col("true_label").cast("int").as("true_label"),
            col("clabel").cast("int").as("pred_label"), col("votes"))
          .orderBy("query_id")
      }),

    // TPC-H Q2 shape: argmin join-back — cheapest unit price per part and
    // the (lowest-keyed) supplier achieving it. Spark side uses a
    // partition-min window instead of the aggregate self-join: one shuffle.
    Q("j2_min_cost_supplier",
      Some("""WITH mn AS (SELECT l_partkey, MIN(l_extendedprice / l_quantity) AS min_unit
             |            FROM lineitem GROUP BY l_partkey)
             |SELECT l.l_partkey AS l_partkey, MIN(l.l_suppkey) AS best_supp,
             |       ROUND(mn.min_unit + 1e-9, 4) AS min_unit_r
             |FROM lineitem l JOIN mn ON l.l_partkey = mn.l_partkey
             |WHERE l.l_extendedprice / l.l_quantity = mn.min_unit
             |GROUP BY l.l_partkey, mn.min_unit
             |ORDER BY l.l_partkey""".stripMargin),
      (s, dir) => {
        val unit = col("l_extendedprice") / col("l_quantity")
        val w = Window.partitionBy("l_partkey")
        Tables.lineitem(s, dir)
          .withColumn("unit", unit)
          .withColumn("min_unit", min(col("unit")).over(w))
          .filter(col("unit") === col("min_unit"))
          .groupBy("l_partkey", "min_unit")
          .agg(min(col("l_suppkey")).as("best_supp"))
          .select(col("l_partkey"), col("best_supp"),
            R(col("min_unit")).as("min_unit_r"))
          .orderBy("l_partkey")
      }),

    // TPC-H Q11 shape: per-supplier inventory value filtered against a
    // share of the global total (scalar-subquery HAVING) — the total is a
    // 1-row broadcast, never a second fact scan on the Spark side.
    Q("a_supplier_value_share",
      Some("""WITH sv AS (SELECT l_suppkey,
             |              SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |                  CAST(l_quantity AS DECIMAL(18,2))) AS val
             |            FROM lineitem GROUP BY l_suppkey),
             |t AS (SELECT SUM(val) AS total FROM sv)
             |SELECT l_suppkey, CAST(CAST(val AS DECIMAL(38,6)) AS VARCHAR) AS supp_value,
             |       ROUND(CAST(val AS DOUBLE) / CAST(total AS DOUBLE) * 100 + 1e-9, 4) AS share_pct
             |FROM sv, t WHERE CAST(val AS DOUBLE) > CAST(total AS DOUBLE) * 0.005
             |ORDER BY l_suppkey""".stripMargin),
      (s, dir) => {
        val sv = Tables.lineitem(s, dir)
          .groupBy("l_suppkey")
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)")).as("val"))
        val total = sv.agg(sum(col("val")).as("total"))
        sv.crossJoin(broadcast(total))
          .filter(col("val").cast("double") > col("total").cast("double") * 0.005)
          .select(col("l_suppkey"),
            col("val").cast("decimal(38,6)").cast("string").as("supp_value"),
            R(col("val").cast("double") / col("total").cast("double") * 100)
              .as("share_pct"))
          .orderBy("l_suppkey")
      }),

    // P-extension: winsorization — clip values to their group's exact
    // [p05, p99] band via a tiny percentile aggregate broadcast back onto
    // the stream (the standard outlier-robust normalization pass).
    Q("p_winsorize_clip",
      Some("""WITH q AS (SELECT event_type, quantile_cont(value, 0.05) AS p05,
             |                  quantile_cont(value, 0.99) AS p99
             |           FROM events GROUP BY event_type)
             |SELECT e.event_id,
             |       ROUND(LEAST(GREATEST(e.value, q.p05), q.p99) + 1e-9, 4) AS value_w,
             |       e.value < q.p05 OR e.value > q.p99 AS clipped
             |FROM events e JOIN q USING (event_type) ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val q = Tables.events(s, dir).groupBy("event_type")
          .agg(expr("percentile(value, 0.05)").as("p05"),
            expr("percentile(value, 0.99)").as("p99"))
        Tables.events(s, dir)
          .join(broadcast(q), Seq("event_type"))
          .select(col("event_id"),
            R(least(greatest(col("value"), col("p05")), col("p99"))).as("value_w"),
            (col("value") < col("p05") || col("value") > col("p99")).as("clipped"))
          .orderBy("event_id")
      }),

    // A-extension: completeness audit — hours in the observed range with no
    // events, per type (generated calendar × types, anti-join against the
    // observed hour set). The calendar is generated, never materialized
    // from the fact side.
    Q("a_missing_hours",
      Some("""WITH bounds AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
             |                       date_trunc('hour', MAX(ts)) AS h1 FROM events),
             |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             |          FROM bounds),
             |types AS (SELECT DISTINCT event_type FROM events),
             |present AS (SELECT DISTINCT event_type, date_trunc('hour', ts) AS h FROM events)
             |SELECT t.event_type,
             |       CAST(SUM(CASE WHEN p.event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_hours,
             |       COUNT(*) AS total_hours
             |FROM types t CROSS JOIN hours h
             |LEFT JOIN present p ON p.event_type = t.event_type AND p.h = h.h
             |GROUP BY t.event_type ORDER BY t.event_type""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        val hours = bounds.select(explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
        val types = ev.select("event_type").distinct()
        val present = ev.select(col("event_type"),
          date_trunc("hour", col("ts")).as("h")).distinct()
          .withColumnRenamed("event_type", "p_type").withColumnRenamed("h", "p_h")
        types.crossJoin(hours)
          .join(present, col("event_type") === col("p_type") && col("h") === col("p_h"),
            "left")
          .groupBy("event_type")
          .agg(sum(when(col("p_type").isNull, 1L).otherwise(0L)).as("missing_hours"),
            count(lit(1)).as("total_hours"))
          .orderBy("event_type")
      }),

    // X-pack: sequential stream packing — disjoint 64-token chunks packed
    // into 512-token training bins per source shard (bin = running-token
    // prefix sum / 512). Packing is per-shard so the running sum never
    // needs a global single-partition window at scale.
    Q("x_pack_chunks",
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, source, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
              |c AS (SELECT doc_id, source,
              |        unnest(range(0, (n + 63) // 64)) AS chunk_idx, toks
              |      FROM b),
              |ch AS (SELECT doc_id, source, chunk_idx,
              |         len(toks[(chunk_idx * 64 + 1):(chunk_idx * 64 + 64)]) AS n_tok
              |       FROM c),
              |o AS (SELECT source, n_tok,
              |        SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
              |                         ROWS UNBOUNDED PRECEDING) AS cum
              |      FROM ch)
              |SELECT source, CAST((cum - 1) // 512 AS BIGINT) AS bin, COUNT(*) AS n_chunks,
              |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
              |FROM o GROUP BY source, bin ORDER BY source, bin""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val ch = TextAnalysis.tokenChunks(docs, "text", "doc_id",
            chunkSize = 64, stride = 64)
          .join(broadcast(docs.select(col("doc_id").as("id"), col("source"))), Seq("id"))
        val w = Window.partitionBy("source")
          .orderBy(col("id").asc, col("chunk_idx").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ch.withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("bin", floor((col("cum") - 1) / 512))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"))
          .orderBy("source", "bin")
      }),

    // Set op: UNION DISTINCT (completes the union/intersect/except family).
    Q("set_union_distinct_nations",
      Some("""SELECT c_nationkey AS nationkey FROM customer
             | UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin),
      (s, dir) => Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")),

    // TPC-H Q4 shape: correlated EXISTS with a cross-table predicate
    // (lineitem shipped after its order date) — decorrelates to a
    // conditioned left-semi join.
    Q("j4_priority_exists",
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders
             | FROM orders
             | WHERE EXISTS (SELECT 1 FROM lineitem
             |               WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             | GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),

    // TPC-H Q7 shape: bi-nation shipping volume — the two nation joins run
    // against ONE broadcast dim under different aliases, grouped by year.
    Q("j7_volume_bi_nation",
      Some("""SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
             | CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS volume,
             | COUNT(*) AS n_lines
             | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |   JOIN customer ON o_custkey = c_custkey
             |   JOIN supplier ON l_suppkey = s_suppkey
             |   JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |   JOIN nation n2 ON s_nationkey = n2.n_nationkey
             | WHERE n1.n_name IN ('NATION_1', 'NATION_2')
             |   AND n2.n_name IN ('NATION_1', 'NATION_2')
             |   AND n1.n_name <> n2.n_name
             | GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      (s, dir) => {
        // Plan shape: the 2-of-25-nations filter reduces customers ~12x and
        // orders with them; reducing orders BEFORE the fact join lets the
        // filtered order set broadcast, so lineitem never shuffles — at
        // cluster scale the alternative shuffles the whole fact on
        // l_orderkey first and filters after.
        val nations = Tables.nation(s, dir).filter(col("n_name").isin("NATION_1", "NATION_2"))
        val n1 = nations.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        val n2 = nations.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val custF = Tables.customer(s, dir)
          .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
          .select(col("c_custkey"), col("cust_nation"))
        val ordersF = Tables.orders(s, dir)
          .join(broadcast(custF), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cust_nation"))
        val suppF = Tables.supplier(s, dir)
          .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("supp_nation"))
        Tables.lineitem(s, dir)
          .join(broadcast(ordersF), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(suppF), col("l_suppkey") === col("s_suppkey"))
          .filter(col("cust_nation") =!= col("supp_nation"))
          .groupBy(col("cust_nation"), col("supp_nation"),
            year(col("l_shipdate")).as("ship_year"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(38,6)").cast("string").as("volume"),
            count(lit(1)).as("n_lines"))
          .orderBy("cust_nation", "supp_nation", "ship_year")
      }),

    // TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    // quarter — selective fact filter, star join, ordered decimal top-k.
    Q("j10_returned_top_customers",
      Some("""SELECT c_custkey, c_name, n_name,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue
             | FROM customer JOIN orders ON o_custkey = c_custkey
             |   JOIN lineitem ON l_orderkey = o_orderkey
             |   JOIN nation ON c_nationkey = n_nationkey
             | WHERE l_returnflag = 'R'
             |   AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             |   AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
             | GROUP BY 1, 2, 3
             | ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) DESC,
             |          c_custkey
             | LIMIT 20""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(38,6)").as("rev_dec"))
        .orderBy(col("rev_dec").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("rev_dec").cast("string").as("revenue"))),

    // TPC-H Q13 shape: customer order-count distribution — left join
    // preserving zero-order customers, then a second aggregation over the
    // first's results (count-of-counts).
    Q("j13_custdist",
      Some("""WITH c AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |           FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |           GROUP BY c_custkey)
             |SELECT c_count, COUNT(*) AS custdist
             |FROM c GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // TPC-H Q18 shape: large-volume orders — HAVING over a per-order sum
    // feeding a semi-join back into the star (the aggregate-filter-join
    // pipeline shape).
    Q("j18_large_orders",
      Some("""SELECT c_custkey, o_orderkey,
             | strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
             | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS total_qty
             | FROM customer JOIN orders ON o_custkey = c_custkey
             |   JOIN lineitem ON l_orderkey = o_orderkey
             | WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
             |                      GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
             | GROUP BY 1, 2, 3, 4
             | ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
      (s, dir) => {
        // One lineitem pass: the HAVING aggregate already carries the full
        // per-order quantity sum (the IN-subquery selects whole orders), so
        // re-scanning lineitem post-semi-join would recompute the identical
        // number — join the tiny filtered aggregate straight to orders and
        // broadcast it, leaving the fact table scanned exactly once.
        val big = Tables.lineitem(s, dir)
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_sq"))
          .filter(col("_sq") > 250)
          .select(col("l_orderkey"),
            col("_sq").cast("decimal(38,6)").cast("string").as("total_qty"))
        Tables.orders(s, dir)
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      }),

    // TPC-H Q19 shape: disjunctive multi-attribute join predicate (OR of
    // brand × size × quantity bands) — the equi-join key stays l_partkey =
    // p_partkey so the disjunction evaluates post-join, not as a nested
    // loop.
    Q("j19_disjunctive_pred",
      Some("""SELECT COUNT(*) AS n_lines,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue
             | FROM lineitem JOIN part ON p_partkey = l_partkey
             | WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             |        AND l_quantity BETWEEN 1 AND 11)
             |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             |        AND l_quantity BETWEEN 10 AND 20)
             |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
             |        AND l_quantity BETWEEN 20 AND 36)""".stripMargin),
      (s, dir) => {
        val cond =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 36))
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)), col("p_partkey") === col("l_partkey"))
          .filter(cond)
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("decimal(38,6)").cast("string").as("revenue"))
      }),

    // A-extension: explicit GROUPING SETS with grouping_id — the general
    // form underlying rollup/cube, with the bitmask exposed.
    Q("a_grouping_sets",
      Some("""WITH e AS (SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow, value
             |           FROM events)
             |SELECT COALESCE(event_type, 'ALL') AS etype,
             | COALESCE(CAST(dow AS VARCHAR), 'ALL') AS dow_s,
             | CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS INT) AS gid,
             | COUNT(*) AS n, ROUND(AVG(value) + 1e-9, 4) AS avg_value
             |FROM e GROUP BY GROUPING SETS ((event_type), (dow), (event_type, dow))
             |ORDER BY gid, etype, dow_s""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"), col("value"))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("dow")), Seq(col("event_type"), col("dow"))),
          col("event_type"), col("dow"))
        // grouping() is only resolvable inside the grouping-sets Aggregate
        // itself, so the bitmask is computed in agg, not a later select.
        .agg(count(lit(1)).as("n"), R(avg(col("value"))).as("avg_value"),
          (grouping(col("event_type")).cast("int") * 2 +
            grouping(col("dow")).cast("int")).as("gid"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("dow").cast("string"), lit("ALL")).as("dow_s"),
          col("gid"), col("n"), col("avg_value"))
        .orderBy("gid", "etype", "dow_s")),

    // W-extension: RANGE window frame over event-time — trailing 10-minute
    // per-user stats. RANGE (value-based) frames include all peers in the
    // interval regardless of row order, so the result is deterministic even
    // under timestamp ties.
    Q("w_range_frame_10min",
      Some("""SELECT event_id,
             | CAST(COUNT(*) OVER wr AS BIGINT) AS n_10min,
             | ROUND(AVG(value) OVER wr + 1e-9, 4) AS avg_10min
             | FROM events
             | WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |               RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
             | ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val wr = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(-600000000L, Window.currentRow)
        Tables.events(s, dir).select(
          col("event_id"),
          count(lit(1)).over(wr).as("n_10min"),
          R(avg(col("value")).over(wr)).as("avg_10min"))
          .orderBy("event_id")
      }),

    // ---- SQL-API surface: the same engine served through spark.sql ------
    // (Catalyst decorrelates the subqueries into the joins the DataFrame
    // API spells out explicitly — both front-ends share the optimizer.)

    // Correlated scalar subquery in the SELECT list.
    // J8 (TPC-H Q8 shape): market share of one supplier nation within a
    // region's market per year — double-role dimension (nation joined
    // twice), conditional-sum ratio. Ratio of two large double sums is
    // order-insensitive to ~1e-13 relative, so ROUND(4) is exact.
    Q("j8_market_share",
      Some("""SELECT o_year,
             | ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN vol ELSE 0 END)
             |       / SUM(vol) + 1e-9, 4) AS mkt_share
             | FROM (
             |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             |         l_extendedprice * (1 - l_discount) AS vol,
             |         n2.n_name AS nation
             |  FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
             |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
             |    AND r_name = 'EUROPE' AND l_suppkey = s_suppkey
             |    AND s_nationkey = n2.n_nationkey
             |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') t
             | GROUP BY o_year ORDER BY o_year""".stripMargin),
      (s, dir) => {
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val n1 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
        val n2 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
        Tables.lineitem(s, dir)
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
          .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
          .withColumn("o_year", year(col("o_orderdate")))
          .withColumn("vol", col("l_extendedprice") * (lit(1) - col("l_discount")))
          .groupBy("o_year")
          .agg(R(sum(when(col("nation") === "NATION_3", col("vol")).otherwise(0.0))
            / sum(col("vol"))).as("mkt_share"))
          .orderBy("o_year")
      }),

    // J9 (TPC-H Q9 shape): profit by supplier nation and year. No
    // partsupp table in this schema, so cost is proxied by p_retailprice
    // per lineitem; DECIMAL arithmetic end-to-end so the grouped sums are
    // exact (never a double boundary).
    Q("j9_product_profit",
      Some("""SELECT nation, o_year,
             | CAST(CAST(SUM(profit) AS DECIMAL(38,6)) AS VARCHAR) AS sum_profit
             | FROM (
             |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) *
             |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             |      - CAST(p_retailprice AS DECIMAL(18,2)) AS profit
             |  FROM lineitem, part, supplier, orders, nation
             |  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
             |    AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
             |    AND p_type = 'PROMO') t
             | GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .withColumn("profit",
          col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
            - col("p_retailprice").cast("decimal(18,2)"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum("profit").cast("decimal(38,6)").cast("string").as("sum_profit"))
        .orderBy(col("nation").asc, col("o_year").desc)),

    // J12 (TPC-H Q12 shape): late-shipment priority counts. No
    // l_shipmode/commitdate in this schema — "late" is shipdate more than
    // 60 days after the order date, grouped by linestatus.
    Q("j12_late_priority",
      Some("""SELECT l_linestatus,
             | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             | FROM orders, lineitem
             | WHERE o_orderkey = l_orderkey
             |   AND l_shipdate > o_orderdate + INTERVAL 60 DAY
             | GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")),

    // J15 (TPC-H Q15 shape): top supplier by quarterly revenue — an
    // aggregated "view" consumed twice (rows + scalar MAX), exact DECIMAL
    // revenue so the MAX-equality join can't be broken by float ties.
    Q("j15_top_supplier",
      Some("""WITH rev AS MATERIALIZED (
             |  SELECT l_suppkey AS supplier_no,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             |      AS DECIMAL(38,6)) AS total_revenue
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, CAST(total_revenue AS VARCHAR) AS total_revenue
             |FROM supplier, rev
             |WHERE s_suppkey = supplier_no
             |  AND total_revenue = (SELECT MAX(total_revenue) FROM rev)
             |ORDER BY s_suppkey""".stripMargin),
      (s, dir) => {
        tpchViews(s, dir)
        s.sql("""WITH rev AS (
                |  SELECT l_suppkey AS supplier_no,
                |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                |      AS DECIMAL(38,6)) AS total_revenue
                |  FROM lineitem
                |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
                |  GROUP BY l_suppkey)
                |SELECT s_suppkey, s_name, CAST(total_revenue AS STRING) AS total_revenue
                |FROM supplier, rev
                |WHERE s_suppkey = supplier_no
                |  AND total_revenue = (SELECT MAX(total_revenue) FROM rev)
                |ORDER BY s_suppkey""".stripMargin)
      }),

    // J16 (TPC-H Q16 shape): distinct supplier counts per part attribute
    // band, excluding a NOT-IN supplier sublist. lineitem stands in for
    // the absent partsupp relation.
    Q("j16_supplier_cnt",
      Some("""SELECT p_brand, p_type, p_size,
             | CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             | FROM part, lineitem
             | WHERE p_partkey = l_partkey AND p_brand <> 'Brand#1'
             |   AND p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
             |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             | GROUP BY p_brand, p_type, p_size
             | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
          .select(col("s_suppkey"))), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_type").asc, col("p_size").asc)),

    // J20 (TPC-H Q20 shape): suppliers of small parts with heavy shipped
    // volume since a date — IN over a grouped HAVING subquery. Quantities
    // are integral doubles, so the HAVING sum is order-exact.
    Q("j20_qty_suppliers",
      Some("""SELECT s_name, s_acctbal FROM supplier
             | WHERE s_suppkey IN (
             |   SELECT l_suppkey FROM lineitem, part
             |   WHERE l_partkey = p_partkey AND p_type = 'SMALL'
             |     AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |   GROUP BY l_suppkey HAVING SUM(l_quantity) > 1800)
             | ORDER BY s_name""".stripMargin),
      (s, dir) => {
        tpchViews(s, dir)
        s.sql("""SELECT s_name, s_acctbal FROM supplier
                | WHERE s_suppkey IN (
                |   SELECT l_suppkey FROM lineitem, part
                |   WHERE l_partkey = p_partkey AND p_type = 'SMALL'
                |     AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                |   GROUP BY l_suppkey HAVING SUM(l_quantity) > 1800)
                | ORDER BY s_name""".stripMargin)
      }),

    // J21 (TPC-H Q21 shape): suppliers who were the ONLY late shipper in a
    // multi-supplier finished order — EXISTS + doubly-correlated NOT
    // EXISTS over lineitem self-joins ("late" = shipped >30 days after
    // order date, standing in for the absent receipt/commit dates).
    Q("j21_waiting_suppliers",
      Some("""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
             | FROM supplier, lineitem l1, orders
             | WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
             |   AND o_orderstatus = 'F'
             |   AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
             |   AND EXISTS (SELECT 1 FROM lineitem l2
             |               WHERE l2.l_orderkey = l1.l_orderkey
             |                 AND l2.l_suppkey <> l1.l_suppkey)
             |   AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                   WHERE l3.l_orderkey = l1.l_orderkey
             |                     AND l3.l_suppkey <> l1.l_suppkey
             |                     AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
             |
             | GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin),
      (s, dir) => {
        tpchViews(s, dir)
        // One-pass aggregate form of Q21 (r22): the EXISTS / NOT-EXISTS
        // arms each re-scanned and re-shuffled the full fact table as
        // semi/anti joins (3 lineitem passes). For a fixed F-order and
        // supplier, l1 qualifies iff it is late AND the order has >1
        // distinct suppliers (the EXISTS) AND no OTHER supplier is late
        // (the NOT EXISTS) — i.e. the order's distinct-late-supplier
        // count is exactly 1 (the supplier itself, since n_late > 0).
        // numwait(s) = Σ n_late over qualifying orders: ONE lineitem ⋈
        // orders pass + two bounded aggregations, equivalence pinned by
        // the unchanged oracle (rows + hash identical at 3 SFs).
        s.sql("""WITH lo AS (
                |  SELECT l_orderkey, l_suppkey,
                |         COUNT_IF(l_shipdate > o_orderdate + INTERVAL 30 DAY) AS n_late
                |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                |  WHERE o_orderstatus = 'F'
                |  GROUP BY l_orderkey, l_suppkey),
                |w AS (
                |  SELECT l_suppkey, n_late,
                |         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                |         COUNT_IF(n_late > 0) OVER (PARTITION BY l_orderkey) AS n_late_supp
                |  FROM lo)
                |SELECT s_name, SUM(n_late) AS numwait
                |FROM w JOIN supplier ON s_suppkey = l_suppkey
                |WHERE n_late > 0 AND n_supp > 1 AND n_late_supp = 1
                |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
      }),

    Q("sql_correlated_scalar",
      Some("""SELECT c_custkey,
             | (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
             | FROM customer c ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey,
                | (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
                | FROM customer c ORDER BY c_custkey""".stripMargin)
      }),

    // IN-subquery predicate (decorrelates to a semi join).
    Q("sql_in_subquery",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             | WHERE o_custkey IN (SELECT c_custkey FROM customer
             |                     WHERE c_mktsegment = 'BUILDING')
             | ORDER BY o_orderkey""".stripMargin),
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_totalprice FROM orders
                | WHERE o_custkey IN (SELECT c_custkey FROM customer
                |                     WHERE c_mktsegment = 'BUILDING')
                | ORDER BY o_orderkey""".stripMargin)
      }),

    // TPC-H Q22 shape (adapted): two correlated subqueries per row — a
    // correlated scalar average over a peer group and a correlated count —
    // Catalyst decorrelates both into aggregate joins.
    Q("sql_correlated_quiet_rich",
      Some("""SELECT c_mktsegment, COUNT(*) AS n_rich_quiet,
             | ROUND(AVG(c_acctbal) + 1e-9, 4) AS avg_bal
             | FROM customer c
             | WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
             |                    WHERE c2.c_mktsegment = c.c_mktsegment)
             |   AND (SELECT COUNT(*) FROM orders o
             |        WHERE o.o_custkey = c.c_custkey) < 8
             | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        s.sql("""SELECT c_mktsegment, COUNT(*) AS n_rich_quiet,
                | ROUND(AVG(c_acctbal) + 1e-9, 4) AS avg_bal
                | FROM customer c
                | WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                |                    WHERE c2.c_mktsegment = c.c_mktsegment)
                |   AND (SELECT COUNT(*) FROM orders o
                |        WHERE o.o_custkey = c.c_custkey) < 8
                | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      }),

    // TPC-H Q17 shape: correlated scalar AGGREGATE subquery against the
    // fact itself (small-quantity orders below 20% of their part's average)
    // — decorrelates to an aggregate self-join on l_partkey.
    Q("sql_tpch_q17_small_qty",
      Some("""SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 + 1e-9, 4) AS avg_yearly,
             | COUNT(*) AS n_lines
             | FROM lineitem l1 JOIN part ON p_partkey = l_partkey
             | WHERE p_brand = 'Brand#3'
             |   AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
             |                     WHERE l2.l_partkey = l1.l_partkey)""".stripMargin),
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
        Tables.part(s, dir).createOrReplaceTempView("part")
        s.sql("""SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 + 1e-9, 4) AS avg_yearly,
                | COUNT(*) AS n_lines
                | FROM lineitem l1 JOIN part ON p_partkey = l_partkey
                | WHERE p_brand = 'Brand#3'
                |   AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                |                     WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
      }),

    // TPC-H Q16 shape: supplier diversity per part family — distinct
    // counts over a dim join with an IN-list dim filter.
    Q("a_supplier_diversity",
      Some("""SELECT p_brand, p_type, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             | FROM part JOIN lineitem ON l_partkey = p_partkey
             | WHERE p_size IN (1, 5, 9, 13)
             | GROUP BY p_brand, p_type ORDER BY p_brand, p_type""".stripMargin),
      (s, dir) => Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_size").isin(1, 5, 9, 13))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy("p_brand", "p_type")),

    // A-extension: EWMA smoothing of the per-type daily series — the
    // recursive s' = α·s + (1−α)·x fold expressed as a bounded-window
    // list reduction (10-day window, seed = oldest value), identical in
    // both engines: Spark aggregate() over the frame-ordered collect_list
    // vs DuckDB list_reduce, per-day averages rounded BEFORE the fold so
    // the recursion runs on identical doubles.
    Q("a_ewma_daily",
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |        ROUND(AVG(value) + 1e-9, 4) AS v
             |      FROM events GROUP BY 1, 2),
             |l AS (SELECT event_type, day,
             |        list(v) OVER (PARTITION BY event_type ORDER BY day
             |                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS lv
             |      FROM d)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             |  ROUND(list_reduce(lv, (a, b) -> a * 0.5 + b * 0.5) + 1e-9, 4) AS ewma
             |FROM l ORDER BY event_type, day""".stripMargin),
      (s, dir) => {
        val d = Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(R(avg(col("value"))).as("v"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-9, Window.currentRow)
        d.withColumn("lv", collect_list(col("v")).over(w))
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            R(aggregate(
              slice(col("lv"), lit(2), greatest(size(col("lv")) - 1, lit(0))),
              element_at(col("lv"), 1),
              (a, x) => a * lit(0.5) + x * lit(0.5))).as("ewma"))
          .orderBy("event_type", "day")
      }),

    // A-extension: seasonal-baseline anomaly counts — residual z-score
    // against the per-(type, hour-of-day) mean/stddev baseline (the
    // cheap seasonal decomposition: remove the diurnal profile, flag
    // |z| > 3). Baseline rounded so both engines score identical z.
    Q("a_seasonal_anomalies",
      Some("""WITH b AS (SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             |        ROUND(AVG(value) + 1e-9, 4) AS m,
             |        ROUND(STDDEV_SAMP(value) + 1e-9, 4) AS sd
             |      FROM events GROUP BY 1, 2),
             |j AS (SELECT e.event_type, (e.value - b.m) / b.sd AS z
             |      FROM events e JOIN b ON e.event_type = b.event_type
             |        AND EXTRACT(hour FROM e.ts) = b.hod
             |      WHERE b.sd > 0)
             |SELECT event_type,
             |  CAST(COUNT(*) FILTER (ABS(z) > 3) AS BIGINT) AS n_anomalies,
             |  COUNT(*) AS total
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val base = ev.groupBy(col("event_type"), hour(col("ts")).as("hod"))
          .agg(R(avg(col("value"))).as("m"),
            R(stddev_samp(col("value"))).as("sd"))
          .filter(col("sd") > 0)
        ev.withColumn("hod", hour(col("ts")))
          .join(broadcast(base), Seq("event_type", "hod"))
          .withColumn("z", (col("value") - col("m")) / col("sd"))
          .groupBy("event_type")
          .agg(sum(when(abs(col("z")) > 3, 1L).otherwise(0L)).as("n_anomalies"),
            count(lit(1)).as("total"))
          .orderBy("event_type")
      }),

    // A-extension: time-series resample + forward fill — the hourly grid
    // (generated calendar × types) left-joined against observed hourly
    // averages, gaps forward-filled from the last observed hour. Averages
    // round BEFORE the fill so both engines propagate identical values.
    Q("a_gapfill_ffill",
      Some("""WITH bounds AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
             |                       date_trunc('hour', MAX(ts)) AS h1 FROM events),
             |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             |          FROM bounds),
             |types AS (SELECT DISTINCT event_type FROM events),
             |agg AS (SELECT event_type, date_trunc('hour', ts) AS h,
             |               ROUND(AVG(value) + 1e-9, 4) AS avg_v
             |        FROM events GROUP BY event_type, date_trunc('hour', ts)),
             |j AS (SELECT t.event_type, hr.h, a.avg_v
             |      FROM types t CROSS JOIN hours hr
             |      LEFT JOIN agg a ON a.event_type = t.event_type AND a.h = hr.h)
             |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_s,
             |  avg_v IS NULL AS filled,
             |  COALESCE(avg_v, last_value(avg_v IGNORE NULLS)
             |    OVER (PARTITION BY event_type ORDER BY h
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS avg_ffill
             |FROM j ORDER BY event_type, hour_s""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        val hours = bounds.select(explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
        val types = ev.select("event_type").distinct()
        val agg = ev.groupBy(col("event_type").as("a_type"),
            date_trunc("hour", col("ts")).as("a_h"))
          .agg(R(avg(col("value"))).as("avg_v"))
        val w = Window.partitionBy("event_type").orderBy(col("h").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        types.crossJoin(hours)
          .join(agg, col("event_type") === col("a_type") && col("h") === col("a_h"),
            "left")
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
            col("avg_v").isNull.as("filled"),
            coalesce(col("avg_v"),
              last(col("avg_v"), ignoreNulls = true).over(w)).as("avg_ffill"))
          .orderBy("event_type", "hour_s")
      }),

    // Scale: bloom semi-join reduction — the probe (lineitem) is
    // prefiltered by a fixed-size bloom sketch over the selective build
    // side's keys BEFORE its shuffle, cutting shuffled fact bytes by the
    // build side's selectivity. Exact by construction (no false
    // negatives; the join removes false positives), so the oracle is the
    // plain join. Spark's own runtime-filter rule covers only the shapes
    // its heuristics see; this is the explicit, composable form.
    Q("j_bloom_prefilter_join",
      Some("""SELECT p_brand, COUNT(*) AS n_items,
             | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue
             | FROM lineitem JOIN part ON l_partkey = p_partkey
             | WHERE p_size <= 3
             | GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val pr = Tables.part(s, dir).filter(col("p_size") <= 3)
        BloomPrune.prefilteredJoin(li, pr, "l_partkey", "p_partkey",
            expectedItems = 10000L, numBits = 1L << 20)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("decimal(38,6)").cast("string").as("revenue"))
          .orderBy("p_brand")
      }),

    // Z-order layout key: bit-interleaved (user_id, value-band). The
    // identical arithmetic is generated as SQL by Layout.zValue2Sql, so
    // the curve is oracle-verified bit-for-bit; file-level clustering
    // (non-overlapping per-file z-ranges → row-group skipping for 2-D
    // range predicates) is pinned by LayoutSpec on zorderWrite.
    Q("s_zorder_key",
      Some(s"""SELECT event_id,
              | CAST(${Layout.zValue2Sql("user_id", "CAST(FLOOR(value) AS BIGINT)", 8)} AS BIGINT) AS z
              | FROM events ORDER BY z, event_id LIMIT 200""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          Layout.zValue2(col("user_id"), floor(col("value")).cast("long"), 8).as("z"))
        .orderBy("z", "event_id").limit(200)),

    // Temperature-scaled mixing weights (multinomial source re-balancing
    // for a training mix, alpha=0.7): q_s ∝ p_s^0.7 normalized. The
    // unpartitioned window runs over the 20-row per-source aggregate, not
    // the corpus — see Sampling.mixWeights scale note.
    Q("x_mix_weights",
      Some("""SELECT source, n_rows,
             | ROUND(p + 1e-9, 4) AS p_nat,
             | ROUND(qr / SUM(qr) OVER () + 1e-9, 4) AS q_mix,
             | ROUND(qr / SUM(qr) OVER () * 10000 + 1e-9, 4) AS expected_10k
             | FROM (SELECT source, n_rows, p, POW(p, 0.7) AS qr
             |   FROM (SELECT source, n_rows, n_rows / SUM(n_rows) OVER () AS p
             |     FROM (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_rows
             |           FROM documents GROUP BY source)))
             | ORDER BY source""".stripMargin),
      (s, dir) => {
        val mixed = graft.ext.Sampling.mixWeights(
          Tables.documents(s, dir), Seq("source"), alpha = 0.7)
        mixed.select(col("source"),
          col("n_rows").cast("double").as("n_rows"),
          round(col("p") + lit(1e-9), 4).as("p_nat"),
          round(col("q") + lit(1e-9), 4).as("q_mix"),
          round(col("q") * 10000 + lit(1e-9), 4).as("expected_10k"))
          .orderBy("source")
      }),

    // X-corpus-report: the per-source datacard — one row per shard with
    // document count, token total, mean quality, language share, and
    // exact-dup count (docs minus distinct fingerprints). One hash
    // aggregation over the corpus; the numbers a training-mix decision
    // actually reads.
    Q("x_corpus_report",
      Some(s"""WITH t AS (SELECT source, lang, text, $toksSql AS toks,
              |            md5($normSql) AS f FROM documents)
              |SELECT source,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
              |  ROUND(AVG($qualityScoreSql) + 1e-9, 4) AS avg_quality,
              |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
              |  CAST(COUNT(*) - COUNT(DISTINCT f) AS BIGINT) AS dup_docs
              |FROM t GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("total_tokens"),
          R(avg(TextAnalysis.qualityScore(col("text")))).as("avg_quality"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          (count(lit(1)) -
            countDistinct(TextAnalysis.fingerprint(col("text"))))
            .as("dup_docs"))
        .orderBy("source")),

    // X-mix-allocation: largest-remainder apportionment of a 10k-doc
    // budget across sources by the temperature-scaled weights — the
    // INTEGER quotas a sampler acts on, summing exactly to the budget
    // (the raw expectations don't). Raw quotas round to 6 decimals
    // before the floor so pow-ulp noise can't flip a boundary row.
    Q("x_mix_allocation",
      Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_rows
             |          FROM documents GROUP BY source),
             |pq AS (SELECT source, n_rows, POW(n_rows / SUM(n_rows) OVER (), 0.7) AS qr FROM c),
             |r AS (SELECT source, n_rows,
             |        ROUND(qr / SUM(qr) OVER () * 10000 + 1e-9, 6) AS raw FROM pq),
             |b AS (SELECT source, n_rows, raw,
             |        CAST(FLOOR(raw) AS BIGINT) AS base, raw - FLOOR(raw) AS rem FROM r),
             |l AS (SELECT *, 10000 - SUM(base) OVER () AS leftover,
             |        row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b)
             |SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
             |FROM l ORDER BY source""".stripMargin),
      (s, dir) => graft.ext.Sampling.mixAllocation(
          Tables.documents(s, dir), Seq("source"), alpha = 0.7,
          budget = 10000L)
        .select(col("source"), col("n_rows"), col("alloc"))
        .orderBy("source")),

    // 3-dimensional Z-order key (user × value-band × hour-of-day): the
    // N-column generator and its SQL mirror must agree bit-for-bit.
    Q("s_zorder_key3",
      Some(s"""SELECT event_id,
              | CAST(${Layout.zValueNSql(Seq("user_id", "CAST(FLOOR(value) AS BIGINT)", "HOUR(ts)"), 8)} AS BIGINT) AS z
              | FROM events ORDER BY z, event_id LIMIT 200""".stripMargin),
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          Layout.zValueN(Seq(col("user_id"), floor(col("value")).cast("long"),
            hour(col("ts"))), 8).as("z"))
        .orderBy("z", "event_id").limit(200)),

    // Per-source document cap (Common-Crawl-style domain capping): keep a
    // deterministic hash-ordered sample of at most N docs per source —
    // one ranking window partitioned by source, no rand(), reproducible
    // across runs and partitionings.
    Q("x_source_cap",
      Some("""SELECT source, doc_id FROM (
             | SELECT source, doc_id,
             |   row_number() OVER (PARTITION BY source
             |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             | FROM documents)
             | WHERE rn <= 15 ORDER BY source, doc_id""".stripMargin),
      (s, dir) => Tables.documents(s, dir)
        .withColumn("rn", row_number().over(Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .filter(col("rn") <= 15)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")),

    // The custom codegen expression exposed as a SQL function
    // (spark.sql.extensions path) — squared L2 norms via graft_dot.
    Q("sql_graft_dot",
      Some("""SELECT vec_id,
             | ROUND(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) + 1e-9, 4) AS sq_norm
             | FROM embeddings ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        GraftExtensions.register(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
        s.sql("""SELECT vec_id,
                | ROUND(graft_dot(embedding, embedding) + 1e-9, 4) AS sq_norm
                | FROM embeddings ORDER BY vec_id""".stripMargin)
      }),

    // The mergeable quantile family exposed as SQL functions: per-day
    // partial sketches built, union-merged, and queried entirely in SQL
    // (the spark.sql.extensions path), then rank-bound-checked against
    // exact counts like x_quantile_sketch (5ε·n + 2 merged-fold
    // allowance, see that query's rationale).
    Q("sql_graft_quantile",
      Some("""SELECT event_type, COUNT(value) AS n_vals, TRUE AS p50_rank_ok
             | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        GraftExtensions.register(s)
        val ev = Tables.events(s, dir)
        ev.createOrReplaceTempView("ev_qsk")
        val eps = 0.001
        val est = s.sql(
          """SELECT event_type,
            | element_at(graft_quantile_query(graft_quantile_merge(sk), 0.5d), 1) AS qm
            |FROM (SELECT to_date(ts) AS d, event_type,
            |        graft_quantile_sketch(value, 0.001d) AS sk
            |      FROM ev_qsk GROUP BY 1, 2)
            |GROUP BY event_type""".stripMargin)
        ev.select("event_type", "value").join(broadcast(est), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(col("value")).as("n_vals"),
            sum(when(col("value") <= col("qm"), 1L).otherwise(0L)).as("le"),
            sum(when(col("value") < col("qm"), 1L).otherwise(0L)).as("lt"))
          .select(col("event_type"), col("n_vals"),
            (col("le") >= col("n_vals") * 0.5 - col("n_vals") * eps * 5 - 3 &&
              col("lt") + 1 <= col("n_vals") * 0.5 + col("n_vals") * eps * 5 + 3)
              .as("p50_rank_ok"))
          .orderBy("event_type")
      }))

  // ---- driver contract ----------------------------------------------------

  /** Flagship query: the full medallion chain (events → silver flags →
    * gold 5-minute aggregates) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.gold5Min(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.sql.map(sql => q.name -> sql)).toMap
}
