package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer induction, learned in-engine — the
  * vocabulary-construction step of a training-data pipeline (learn the
  * merge table on the corpus the model will train on, then encode with
  * it). Word-internal merges over whitespace tokens, greedy
  * left-to-right application, ties broken (pair_freq desc, left asc,
  * right asc) so the merge table is deterministic and any external
  * oracle replaying the same rounds reproduces it exactly.
  *
  * Shape at scale (100 TB): the corpus TEXT is touched exactly once —
  * the initial tokenize + word-count aggregation (one shuffle keyed by
  * word, map-side combined). Everything after runs on the WORD-FREQUENCY
  * table, which is vocabulary-sized (Heaps' law: sublinear in corpus
  * size — millions of rows at web scale, independent of TB read). Each
  * merge round is one vocab-sized pair-count aggregation plus a ONE-ROW
  * driver fetch of the winning pair replayed as literals (the PageRank
  * dangling-mass pattern); the rewrite is a narrow per-row fold. Rounds
  * checkpoint/release generation-by-generation like the CC loop.
  *
  * Two arms, identical semantics (spec-pinned equal):
  *  - [[learn]]: fully distributed, one round per merge — exact at any
  *    vocabulary size; right when numMerges is moderate (hundreds).
  *  - [[learnLocal]]: aggregate the word table distributed, then run the
  *    merge loop on the driver at memory speed — the SentencePiece/HF
  *    production shape (word tables fit in memory once counted), right
  *    for real tokenizer budgets (30k+ merges) where a shuffle per merge
  *    would dominate. Size-gated like [[Graph.connectedComponents]]'s
  *    driver arm: refuses vocabularies above `maxVocab` instead of
  *    silently collecting unbounded state.
  */
object Bpe {

  /** Unit separator: joins fold state; never occurs in tokens (tokens
    * are whitespace-split, and U+001F is whitespace-class in neither
    * engine's tokenizer — it survives into no token of a sane corpus;
    * the learn arms fail loudly if it does). */
  private val Sep = "\u001F"

  /** `merges` is a LOCAL frame (merge_rank, lhs, rhs, merged, pair_freq)
    * — merge tables are numMerges-bounded by construction; `mergeList`
    * is the same table as driver values for replay. `vocab` is the final
    * encoded word table, checkpoint-backed: call [[BpeModel.release]]
    * once done with it. */
  final case class BpeModel(merges: DataFrame,
                            mergeList: Seq[(Int, String, String, Long)],
                            vocab: DataFrame) {
    /** Free the checkpoint generation behind `vocab` once published. */
    def release(): Unit = Graph.freeCheckpoint(vocab)
  }

  /** (word, freq) over the corpus — the one corpus-sized pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Greedy left-to-right single-merge rewrite of a symbol array, as a
    * fold over a Sep-joined string: appending the right symbol WITHOUT
    * the separator fuses it onto the trailing left symbol. The empty
    * string is the fold's start sentinel (symbols are never empty —
    * tokens are non-empty and char-split), so `syms` is referenced
    * exactly ONCE: replaying k merges as nested folds grows the
    * expression tree linearly in k, not 3^k as a slice/size/element_at
    * head-tail formulation would (each of those re-roots the whole
    * inner tree; at 8 merges that is a ~20 MiB task binary and a
    * codegen OOM — measured before this shape). */
  private def applyMergeOnce(syms: Column, l: String, r: String): Column =
    split(
      aggregate(syms, lit(""),
        (acc, s) => when(acc === "", s).otherwise(
          when((acc === l || acc.endsWith(Sep + l)) && s === r,
            concat(acc, s))
            .otherwise(concat(acc, lit(Sep), s)))),
      Sep)

  /** Adjacent-pair frequencies of the current symbol table. */
  private def pairCounts(cur: DataFrame): DataFrame =
    cur.filter(size(col("syms")) > 1)
      .select(col("freq"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("pair_freq"))

  /** Initial per-character symbol split, failing loudly on a token that
    * contains the fold separator (would silently corrupt the rewrite). */
  private def charSyms(word: Column): Column =
    when(word.contains(Sep),
      raise_error(concat(lit("BPE: token contains the U+001F separator: "),
        word)))
      .otherwise(split(word, ""))

  /** Learn `numMerges` merges distributed — one vocab-sized round per
    * merge. Returns the merge table (merge_rank, lhs, rhs, merged,
    * pair_freq; fewer rows than numMerges if the corpus runs dry) and
    * the final encoded vocabulary (word, freq, syms). */
  def learn(docs: DataFrame, textCol: String, numMerges: Int): BpeModel =
    learnFromWordCounts(wordCounts(docs, textCol), numMerges)

  /** The merge loop alone, over an already-computed (word, freq) table —
    * everything below here is vocabulary-sized, independent of the
    * corpus bytes behind `wc` (SCALE.md "BPE induction: corpus pass vs
    * vocab-sized merge rounds" measures the two stages through this
    * seam). */
  def learnFromWordCounts(wc: DataFrame, numMerges: Int): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = wc.sparkSession
    // localCheckpoint per generation, NOT persist: an iterative plan
    // otherwise nests one fold expression per round and the optimizer
    // re-analyzes the whole history each action (the CC-loop rationale,
    // Graph.connectedComponents).
    var cur = wc
      .withColumn("syms", charSyms(col("word")))
      .localCheckpoint(true)
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= numMerges && !dry) {
      // the argmax pair is ONE row — bring it to the driver and replay
      // it as literals (the PageRank dangling-mass pattern); a cross
      // join of a 1-row frame would shuffle the same information around
      val top = pairCounts(cur)
        .orderBy(col("pair_freq").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val (l, rr, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rr, c))
        val next = cur
          .select(col("word"), col("freq"),
            applyMergeOnce(col("syms"), l, rr).as("syms"))
          .localCheckpoint(true)
        // next is materialized (eager checkpoint) — the superseded
        // generation is now safe to free
        Graph.freeCheckpoint(cur)
        cur = next
      }
      r += 1
    }
    val mergeSeq = merges.result()
    val mergesDf = spark.createDataFrame(mergeSeq.map {
      case (rank, l, rr, c) => (rank, l, rr, l + rr, c)
    }).toDF("merge_rank", "lhs", "rhs", "merged", "pair_freq")
    BpeModel(mergesDf, mergeSeq, cur)
  }

  /** Batched distributed learning — closes the distributed arm's
    * production-budget gap: [[learn]] pays one vocab-sized aggregation
    * plus one driver round-trip PER MERGE, which makes 30k merges
    * infeasible distributed ([[learnLocal]] is the production arm, but
    * its size gate refuses word tables beyond driver memory — exactly
    * the corpora that need a distributed loop). This arm applies up to
    * `batch` SYMBOL-DISJOINT merges per round, selected in the same
    * strict (pair_freq desc, l, r) order, cutting rounds and driver
    * round-trips by ~batch×.
    *
    * Batch rule — CUT, don't skip: candidates are scanned in strict
    * order and the batch ENDS at the first pair sharing any symbol with
    * an already-selected one OR with an already-selected pair's minted
    * PRODUCT (selecting (a, b) cuts a later (ab, c): applying (a, b)
    * mints new "ab" instances, so (ab, c)'s pre-round count would not
    * be its at-turn count). Skipping instead would let a lower-ranked
    * disjoint pair jump a higher-ranked conflicting pair whose count
    * survives the round — a divergence from strict BPE that the cut
    * rule makes impossible. Product-inclusive symbol-disjoint pairs
    * have occurrence sets untouched by earlier batch members, so
    * applying the batch in one rewrite pass is EXACTLY applying them
    * sequentially, and each selection's pre-round count is still its
    * true count at its turn. The one
    * remaining divergence source vs [[learn]] is pair CREATION: a merge
    * can mint a pair (bounded by the creating merge's count) that
    * strict BPE would rank above a later batch member; corpora where
    * creations are dominated agree merge-for-merge (spec-pinned), and
    * batch=1 degenerates to [[learn]] exactly — same rounds, same
    * table. */
  def learnBatched(docs: DataFrame, textCol: String, numMerges: Int,
                   batch: Int = 8): BpeModel =
    learnBatchedFromWordCounts(wordCounts(docs, textCol), numMerges, batch)

  /** The batched merge loop over an already-computed (word, freq)
    * table — the [[learnFromWordCounts]] seam, batched. */
  def learnBatchedFromWordCounts(wc: DataFrame, numMerges: Int,
                                 batch: Int): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batch >= 1 && batch <= 64,
      s"batch must be in [1, 64] (nested fold depth per round), got $batch")
    val spark = wc.sparkSession
    var cur = wc
      .withColumn("syms", charSyms(col("word")))
      .localCheckpoint(true)
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= numMerges && !dry) {
      val want = math.min(batch, numMerges - r + 1)
      val top = pairCounts(cur)
        .orderBy(col("pair_freq").desc, col("l").asc, col("r").asc)
        .limit(want).collect()
      if (top.isEmpty) dry = true
      else {
        // strict-order scan with the cut rule; `used` tracks the round's
        // touched symbols ((a,a) self-pairs are fine alone — one entry)
        // AND each selection's minted PRODUCT symbol: a candidate like
        // (ab, c) after selecting (a, b) is not symbol-disjoint even
        // though "ab" ≠ "a" ≠ "b" — applying (a, b) mints new "ab"
        // instances, so (ab, c)'s pre-round count is NOT its count at
        // its turn and strict BPE could rank a minted pair above it.
        // Cutting on the product keeps every selection's occurrence set
        // untouched by earlier batch members, which is exactly what
        // makes pre-round counts the true at-turn counts and leaves
        // pair CREATION as the only divergence source. (Under the global
        // rank order such a coexistence — pair (a, b) countable while
        // symbol "ab" already exists — appears unreachable: whatever
        // merge sequence minted the product also consumed the pair's
        // adjacencies first, and fusing never re-exposes them. The cut
        // costs one Set entry and makes the invariant hold by
        // construction instead of by that argument.)
        val used = scala.collection.mutable.Set.empty[String]
        val sel = Vector.newBuilder[(String, String, Long)]
        var cutAt = false
        top.foreach { row =>
          val (l, rr, c) =
            (row.getString(0), row.getString(1), row.getLong(2))
          if (!cutAt && !used.contains(l) && !used.contains(rr)) {
            sel += ((l, rr, c)); used += l; used += rr; used += (l + rr); ()
          } else cutAt = true
        }
        val batchSel = sel.result()
        batchSel.foreach { case (l, rr, c) =>
          merges += ((r, l, rr, c)); r += 1
        }
        // one rewrite pass: nested single-merge folds in rank order —
        // linear expression growth per applyMergeOnce's shape note,
        // bounded by the batch cap
        val next = cur
          .select(col("word"), col("freq"),
            batchSel.foldLeft(col("syms")) { case (s, (l, rr, _)) =>
              applyMergeOnce(s, l, rr)
            }.as("syms"))
          .localCheckpoint(true)
        Graph.freeCheckpoint(cur)
        cur = next
      }
    }
    val mergeSeq = merges.result()
    val mergesDf = spark.createDataFrame(mergeSeq.map {
      case (rank, l, rr, c) => (rank, l, rr, l + rr, c)
    }).toDF("merge_rank", "lhs", "rhs", "merged", "pair_freq")
    BpeModel(mergesDf, mergeSeq, cur)
  }

  /** Code-point comparison — the driver-side twin of the distributed
    * arm's UTF8String binary ordering (UTF-8 byte order IS code-point
    * order). Plain String.compareTo is UTF-16 code-UNIT order, which
    * ranks U+E000..U+FFFF AFTER supplementary-plane characters — a
    * different argmax tie-break the moment a corpus contains an emoji. */
  private def cpCompare(x: String, y: String): Int = {
    val xi = x.codePoints().toArray
    val yi = y.codePoints().toArray
    var i = 0
    while (i < xi.length && i < yi.length) {
      if (xi(i) != yi(i)) return Integer.compare(xi(i), yi(i))
      i += 1
    }
    Integer.compare(xi.length, yi.length)
  }

  /** Code-point split — the driver-side twin of the distributed arm's
    * `split(word, "")` (Java regex advances over code POINTS, so a
    * surrogate pair stays one symbol; `w.map(_.toString)` would split
    * it into two unpaired halves and diverge from round 1). */
  private def cpSyms(w: String): Vector[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toVector

  /** [[learn]] on the driver: the word table is counted distributed,
    * then collected (size-gated) and merged at memory speed — the right
    * arm for real tokenizer budgets where merges number tens of
    * thousands. Spec-pinned to agree with [[learn]] merge-for-merge
    * (same code-point symbols, same UTF-8-order tie-break).
    *
    * The merge loop is pair-indexed: counts and the (freq desc, l, r)
    * ordering live in incrementally-maintained structures, and a merge
    * rewrites ONLY the words containing the winning pair (found through
    * the occurrence index), adjusting pair counts by the word's old/new
    * pair-multiset delta. Cost per round is argmax O(log P) + touched
    * words, not a full vocabulary rescan — at 30k merges over a 2M-word
    * table the difference between minutes and hours. */
  def learnLocal(docs: DataFrame, textCol: String, numMerges: Int,
                 maxVocab: Int = 2000000): (Seq[(Int, String, String, Long)],
                                            Map[String, (Long, Seq[String])]) = {
    // one corpus pass: materialize the word table BEFORE the size-gate
    // count, so count() and collect() both read the checkpoint instead
    // of each re-running the full tokenize+aggregate
    val wc = wordCounts(docs, textCol).localCheckpoint(true)
    val n = wc.count()
    require(n <= maxVocab,
      s"vocabulary $n exceeds maxVocab=$maxVocab: raise the gate or use learn()")
    try learnLocalFromWordCounts(wc.collect(), numMerges)
    finally Graph.freeCheckpoint(wc)
  }

  /** Auto-switching production facade: ONE word-count pass, then the
    * driver arm ([[learnLocal]]'s pair-indexed loop — argmax + touched
    * words per merge, the fastest shape for any table that fits) when
    * the vocabulary is within `maxVocab`, else the distributed
    * [[learnBatchedFromWordCounts]] loop (symbol-disjoint batches under
    * the conflict-CUT rule) for tables beyond driver memory. Callers no
    * longer pick an arm by guessing corpus size — the gate that
    * [[learnLocal]] enforces by throwing is the same gate that routes
    * here. Returns the merge sequence (rank, lhs, rhs, pair_freq), the
    * common currency both arms produce and [[encode]]/[[encodedVocab]]
    * consume. */
  def learnAuto(docs: DataFrame, textCol: String, numMerges: Int,
                maxVocab: Int = 2000000,
                // batch=8 is MEASURED, not guessed: on a 200k-word
                // Zipf vocabulary at 1000 merges (SCALE.md "Round-19:
                // batched BPE on a REALISTIC vocabulary") realized
                // utilization saturates at ~3.9 merges/round by batch 8
                // (4.19x wall-clock vs strict, merge table
                // byte-identical); batch 16 buys nothing further
                // (3.94/round, 4.05x)
                batch: Int = 8): Seq[(Int, String, String, Long)] = {
    val wc = wordCounts(docs, textCol).localCheckpoint(true)
    try {
      if (wc.count() <= maxVocab)
        learnLocalFromWordCounts(wc.collect(), numMerges)._1
      else {
        val model = learnBatchedFromWordCounts(wc, numMerges, batch)
        try model.mergeList finally model.release()
      }
    } finally Graph.freeCheckpoint(wc)
  }

  /** The driver merge loop over collected (word, freq) rows — the
    * [[learnLocal]] body behind the size gate, exposed so
    * [[learnAuto]] can reuse one materialized word table for both the
    * gate count and the chosen arm. */
  private def learnLocalFromWordCounts(rows: Array[org.apache.spark.sql.Row],
                                       numMerges: Int):
      (Seq[(Int, String, String, Long)],
       Map[String, (Long, Seq[String])]) = {
    val words = new Array[String](rows.length)
    val freqs = new Array[Long](rows.length)
    val syms = new Array[Vector[String]](rows.length)
    var wi = 0
    rows.foreach { row =>
      val w = row.getString(0)
      require(!w.contains(Sep),
        s"BPE: token contains the U+001F separator: $w")
      words(wi) = w; freqs(wi) = row.getLong(1); syms(wi) = cpSyms(w)
      wi += 1
    }
    import scala.collection.mutable
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // ordered view of counts: freq desc, then l, r in code-point order —
    // the exact total order learn()'s orderBy produces
    val ord = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val f = java.lang.Long.compare(b._1, a._1)
          if (f != 0) return f
          val l = cpCompare(a._2, b._2)
          if (l != 0) return l
          cpCompare(a._3, b._3)
        }
      })
    def bump(k: (String, String), delta: Long, widx: Int): Unit = {
      val old = counts.getOrElse(k, 0L)
      if (old != 0L) ord.remove((old, k._1, k._2))
      val nw = old + delta
      if (nw != 0L) { counts(k) = nw; ord.add((nw, k._1, k._2)); () }
      else { counts.remove(k); () }
      if (delta > 0 && widx >= 0)
        index.getOrElseUpdate(k, mutable.Set.empty) += widx
    }
    def pairsOf(s: Vector[String]): Iterator[(String, String)] =
      if (s.length < 2) Iterator.empty
      else s.iterator.zip(s.iterator.drop(1))
    var i = 0
    while (i < words.length) {
      pairsOf(syms(i)).foreach(k => bump(k, freqs(i), i))
      i += 1
    }
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= numMerges && !dry) {
      if (ord.isEmpty) dry = true
      else {
        val top = ord.first()
        val (c, l, rr) = (top._1, top._2, top._3)
        merges += ((r, l, rr, c))
        val key = (l, rr)
        // stale wids (word rewritten since last indexed) are filtered by
        // the old-pairs delta being a no-op for them is NOT guaranteed —
        // so verify membership by checking the word still contains the
        // pair before rewriting
        val affected = index.getOrElse(key, mutable.Set.empty).toArray
        affected.foreach { widx =>
          val old = syms(widx)
          var has = false
          var j = 0
          while (!has && j < old.length - 1) {
            if (old(j) == l && old(j + 1) == rr) has = true
            j += 1
          }
          if (has) {
            val out = Vector.newBuilder[String]
            var k2 = 0
            while (k2 < old.length) {
              if (k2 < old.length - 1 && old(k2) == l && old(k2 + 1) == rr) {
                out += (l + rr); k2 += 2
              } else { out += old(k2); k2 += 1 }
            }
            val nw = out.result()
            pairsOf(old).foreach(k => bump(k, -freqs(widx), -1))
            pairsOf(nw).foreach(k => bump(k, freqs(widx), widx))
            syms(widx) = nw
          }
        }
        index.remove(key)
      }
      r += 1
    }
    val vocabOut = Map.newBuilder[String, (Long, Seq[String])]
    var m = 0
    while (m < words.length) {
      vocabOut += (words(m) -> ((freqs(m), syms(m): Seq[String])))
      m += 1
    }
    (merges.result(), vocabOut.result())
  }

  /** Replay a learned merge table in rank order over a word column —
    * numMerges narrow per-row folds; the merges ride along as literals
    * (tokenizer merge tables are bounded by construction). */
  private def applyMerges(word: Column,
                          merges: Seq[(String, String)]): Column =
    merges.foldLeft(charSyms(word)) { case (s, (l, r)) =>
      applyMergeOnce(s, l, r)
    }

  /** The corpus vocabulary encoded with a learned merge table:
    * (word, freq, syms) — pure lazy plan, no caches (the per-word
    * encoding any downstream token pipeline joins against). */
  def encodedVocab(docs: DataFrame, textCol: String,
                   merges: Seq[(String, String)]): DataFrame =
    wordCounts(docs, textCol)
      .select(col("word"), col("freq"),
        applyMerges(col("word"), merges).as("syms"))

  /** Encode a corpus document-by-document with a learned merge table:
    * one (id, word_pos, sym_pos, subword) row per emitted subword,
    * positions 1-based — the deterministic token stream a downstream
    * packing/shuffling stage keys on (no reliance on row order, which a
    * shuffle would destroy). */
  def encode(docs: DataFrame, textCol: String, idCol: String,
             merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("wp", "word")))
      .select(col("id"), (col("wp") + 1).as("word_pos"),
        posexplode(applyMerges(col("word"), merges)).as(Seq("sp", "subword")))
      .select(col("id"), col("word_pos").cast("int"),
        (col("sp") + 1).cast("int").as("sym_pos"), col("subword"))
}
