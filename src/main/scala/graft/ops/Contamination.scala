package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/eval decontamination: remove from a training corpus every
  * document that shares a word n-gram with a held-out evaluation set —
  * the standard guard against benchmark leakage when assembling
  * training data.
  *
  * Scale shape: both sides explode to DISTINCT hashed n-grams; the
  * corpus side is then SEMI-joined against the eval grams and the
  * surviving ids anti-joined back. The corpus (the 100 TB side) is
  * never collected, never self-joined, and carries only (id, 64-bit
  * gram hash) into the semi-join; the eval side is benchmark-sized,
  * so its gram set is explicitly broadcast by default (see
  * [[taintedIds]]). Gram hashing ([[graft.functions.WordNgramHashes]] —
  * one native pass per document) trades an astronomically unlikely
  * false positive (~n²/2^64 over distinct grams — a dropped clean
  * document, never a kept tainted one at these odds) for not building
  * or shuffling raw n-gram strings.
  *
  * Documents with fewer than `gramN` tokens produce no grams
  * ([[TextOps.strictShingles]]) and therefore can never be tainted.
  */
object Contamination {

  // native one-pass gram hashing — see graft.functions.WordNgramHashes
  // for why the composable strictShingles form is not used here
  // (generator-child re-evaluation per output row)
  private def gramHashes(df: DataFrame, cols: Seq[String], textCol: String, gramN: Int): DataFrame =
    df.select(cols.map(col) :+
      explode(graft.functions.exprs.word_ngram_hashes(
        col(textCol), gramN, shortFallback = false)).as("__h__"): _*)

  /** Ids of corpus documents sharing at least one `gramN`-gram with
    * `eval`. `broadcastEval` (default) pins the eval gram set to the
    * build side regardless of planner size estimates — an eval set is
    * benchmark-sized, and a mis-estimate here would otherwise shuffle
    * the ENTIRE corpus gram stream; disable it only for an eval side
    * too large to broadcast, accepting the shuffle. */
  def taintedIds(
      corpus: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, gramN: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    val evalGrams = gramHashes(eval, Seq.empty, textCol, gramN)
      .select("__h__").distinct()
    gramHashes(corpus, Seq(idCol), textCol, gramN)
      .join(if (broadcastEval) broadcast(evalGrams) else evalGrams,
        Seq("__h__"), "left_semi")
      .select(idCol).distinct()
  }

  /** The corpus minus every tainted document (all original columns). */
  def decontaminate(
      corpus: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, gramN: Int = 8,
      broadcastEval: Boolean = true): DataFrame =
    corpus.join(taintedIds(corpus, eval, idCol, textCol, gramN, broadcastEval),
      Seq(idCol), "left_anti")

  /** STATELESS decontamination: the same verdict as [[decontaminate]],
    * computed as a pure per-row filter — the eval gram set is collected
    * ONCE (eval sets are benchmark-sized; `maxEvalGrams` fails loudly
    * if that assumption breaks), sorted, broadcast, and each corpus
    * document tests its own grams against it with a native
    * binary-search expression ([[graft.functions.GramSetOverlap]]).
    *
    * Use it where the join form cannot go or costs more than it earns:
    *  - STREAMING corpora: the join form needs a per-id aggregate and a
    *    stream-stream anti-join (unsupported in append mode); this form
    *    is stateless, so `corpus` may be a streaming DataFrame —
    *    spec-pinned batch/stream parity;
    *  - batch corpora where two joins + an id shuffle beat their
    *    keep: the filter fuses into the scan stage, shuffles nothing,
    *    and keeps every original column untouched.
    *
    * Verdict parity with [[decontaminate]] is exact: same native gram
    * hashing, same strict short-doc semantics (fewer than `gramN`
    * tokens → no grams → never tainted), and null-text documents are
    * kept on both paths. */
  def decontaminateFilter(
      corpus: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, gramN: Int = 8,
      maxEvalGrams: Int = 50 * 1000 * 1000): DataFrame = {
    val evalGrams = gramHashes(eval, Seq.empty, textCol, gramN)
      .select("__h__").distinct()
      .limit(maxEvalGrams + 1)
      .collect().map(_.getLong(0))
    require(evalGrams.length <= maxEvalGrams,
      s"decontaminateFilter: eval side exceeds $maxEvalGrams distinct grams — " +
        "that is not a benchmark-sized eval set; use decontaminate (the join form)")
    java.util.Arrays.sort(evalGrams)
    val bc = corpus.sparkSession.sparkContext.broadcast(evalGrams)
    val grams = graft.functions.exprs.word_ngram_hashes(
      col(textCol), gramN, shortFallback = false)
    // null text has no grams: coalesce keeps it, matching the join form
    corpus.filter(
      coalesce(!graft.functions.exprs.gram_set_overlap(grams, bc), lit(true)))
  }

  /** Bloom-prefiltered decontamination — the same EXACT verdict as
    * [[decontaminate]], built for eval/blocklist gram sets too large
    * for [[decontaminateFilter]]'s exact broadcast array (8 bytes per
    * gram caps that path around ~50M grams; a Bloom filter at `fpp`
    * (default 1%) costs ~1.2 bytes per gram, lifting the bound to the
    * low billions — e.g. a full blocklist corpus, not just a
    * benchmark suite).
    *
    * Shape: build the filter DISTRIBUTED over the eval gram hashes
    * (`DataFrameStatFunctions.bloomFilter` — a treeAggregate, never a
    * driver-side set), broadcast it once per executor, and probe each
    * corpus document's grams with the native one-pass
    * [[graft.functions.GramBloomOverlap]]. Bloom error is one-sided —
    * no false negatives — so documents the probe clears are PROVEN
    * clean; only the `maybe` documents (true contamination + ~fpp of
    * the corpus) re-enter the exact [[taintedIds]] semi-join. At 100
    * TB that cuts the gram stream reaching the shuffle/broadcast join
    * by ~99% while keeping the output bit-identical to the join form
    * (gate-checked under the same oracle as `q_decontaminate`).
    *
    * `approximate = true` skips the verify and drops every `maybe`
    * document: verdicts become one-sided (all tainted documents are
    * dropped, plus ~`fpp` of clean ones), but the operator is then a
    * pure stateless filter — streaming-capable like
    * [[decontaminateFilter]], with constant memory at any eval size. */
  def decontaminateBloom(
      corpus: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, gramN: Int = 8,
      fpp: Double = 0.01, approximate: Boolean = false,
      broadcastEval: Boolean = true): DataFrame = {
    require(fpp > 0 && fpp < 1, s"decontaminateBloom: fpp must be in (0,1), got $fpp")
    // the eval gram stream is the largest recurring input here (the
    // count that sizes the bits honestly, the filter build, and — on
    // the exact path — the verify join all read it), so the distinct
    // gram frame is cached across the two EAGER uses and released
    // before returning; the lazy verify join recomputes it once at
    // the caller's action instead of a third and fourth time
    val evalGrams = gramHashes(eval, Seq.empty, textCol, gramN)
      .select("__h__").distinct()
    val bloom = Materialize.scoped(evalGrams) {
      val nGrams = evalGrams.count()
      // a gram-less eval side taints nothing — and Spark's
      // bloomFilter aggregate NPEs on zero rows (null buffer into
      // readFrom)
      Option.when(nGrams > 0)(evalGrams.stat.bloomFilter("__h__", nGrams, fpp))
    }
    if (bloom.isEmpty) return corpus
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom.get)
    val grams = graft.functions.exprs.word_ngram_hashes(
      col(textCol), gramN, shortFallback = false)
    // null text has no grams: coalesce keeps it, matching the join form
    val maybe = coalesce(
      graft.functions.exprs.gram_bloom_overlap(grams, bc), lit(false))
    if (approximate) corpus.filter(!maybe)
    else {
      // exact: only bloom-flagged documents' grams reach the join.
      // For an eval side past broadcast size — the very case this
      // operator exists for — pass `broadcastEval = false`: the
      // verify then shuffles BOTH sides on the gram hash, but the
      // corpus side is already cut to the bloom survivors. The final
      // anti-join is left to the planner: the tainted set is usually
      // contamination-sized (broadcast), but a blocklist matching a
      // big corpus fraction must be allowed to shuffle
      val tainted = taintedIds(
        corpus.filter(maybe), eval, idCol, textCol, gramN, broadcastEval)
      corpus.join(tainted, Seq(idCol), "left_anti")
    }
  }

  /** Contamination REPORT instead of removal: every corpus document
    * with the number of DISTINCT eval grams it shares (only documents
    * sharing at least one appear). Auditing which benchmarks leak and
    * how hard beats silently dropping when deciding between removal,
    * re-splitting, or benchmark exclusion. Same scale shape as
    * [[taintedIds]]: the corpus gram stream flows STRAIGHT into the
    * broadcast join — matched grams (a tiny subset) are what reaches
    * the one count-distinct aggregate, which also dedups a document's
    * repeats of the same leaked gram. A pre-join `.distinct()` would
    * instead shuffle every corpus gram just to dedup per-doc repeats. */
  def contaminationReport(
      corpus: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, gramN: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    val evalGrams = gramHashes(eval, Seq.empty, textCol, gramN)
      .select("__h__").distinct()
    gramHashes(corpus, Seq(idCol), textCol, gramN)
      .join(if (broadcastEval) broadcast(evalGrams) else evalGrams, Seq("__h__"))
      .groupBy(idCol)
      .agg(count_distinct(col("__h__")).as("n_shared_grams"))
  }
}
