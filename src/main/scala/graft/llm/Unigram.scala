package graft.llm

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM TOKENIZER TRAINING (Kudo 2018, arXiv:1804.10959 — the
  * SentencePiece unigram model): the second of the two tokenizer-
  * training algorithms real pipelines use, beside BPE ([[Bpe]]).
  * Where BPE greedily FUSES the most frequent pair, unigram-LM starts
  * from an over-complete substring seed vocabulary and lets EM +
  * pruning keep the pieces that best explain the corpus under a
  * unigram language model.
  *
  * Semantics (the paper's algorithm, made engine-deterministic):
  *
  *   1. SEED: every substring of length ≤ `maxPieceLen` of the word
  *      table, counted by (occurrences × word frequency); keep the
  *      top `seedSize` multi-char pieces by the total order
  *      (count desc, piece) plus ALL single characters (coverage
  *      guarantee — every word stays segmentable, as SentencePiece
  *      always keeps the character alphabet).
  *   2. EM (`emIters` hard-EM rounds): E-step segments every word by
  *      VITERBI under piece scores ln(cnt/total); M-step re-counts
  *      pieces over the best segmentations (frequency-weighted).
  *      Characters that fall out of every best segmentation are held
  *      at count 1 (the coverage floor); multi-char pieces keep only
  *      their earned counts.
  *   3. PRUNE to the top `vocabSize` multi-char pieces (count desc,
  *      piece) plus the character alphabet, then one final Viterbi
  *      pass emits the shipped segmentations.
  *
  * Determinism contract (what makes a FULL hash gate on an EM-trained
  * tokenizer possible): piece scores are scaled-ln INTEGERS —
  * floor(ln(cnt/total)·1e6) over exact long counts, one IEEE division
  * and one libm ln per piece — and Viterbi compares exact BIGINT score
  * sums with the total tie order (−score, n_pieces, piece array
  * lexicographic). The piece-ARRAY comparison (not a concatenated
  * string) is what makes the tie order EXTENSION-MONOTONE: two
  * prefixes of the same (word, pos) cover the same characters, so
  * neither array can be a proper prefix of the other, and appending a
  * common suffix never flips the first difference — hence keeping only
  * the per-state minimum (the DP) provably equals the global argmin
  * over ALL segmentations, which is exactly how the DuckDB oracle
  * re-derives it (brute recursive enumeration + one argmin — a fully
  * independent formulation of the same contract).
  *
  * Scale shape: the corpus is touched ONCE (the word-frequency
  * shuffle — same as [[Bpe]]); everything after runs on the
  * vocab-bounded word table. The Viterbi is a bounded-state DP —
  * |words| × maxWordLen states, each step one broadcast piece join +
  * one map-side-combined struct-min groupBy — NEVER the exponential
  * segmentation enumeration (that lives only in the oracle, where the
  * fixture's 31-word vocabulary keeps it trivial). Rounds are
  * inherently sequential (EM): a [[graft.Rounds]] loop whose state is
  * the vocabulary, each round's counts checkpointed and its E-step
  * scratch released as the round ends — the [[Bpe]] / CC flat-plan
  * discipline. Words longer than `maxWordLen` are excluded from
  * training up front (documented; at web scale they are URL/hash
  * debris a pipeline drops anyway).
  */
object Unigram {

  /** floor(ln(cnt/total)·1e6) as BIGINT — one exact-int→double cast
    * per operand, one IEEE division, one ln, shared floor edge. */
  private def lnScore(cnt: Column, tot: Column): Column =
    floor(log(cnt.cast("double") / tot.cast("double")) * 1e6).cast("long")

  /** Corpus → (word, freq), bounded to trainable lengths. */
  private def wordTable(docs: DataFrame, maxWordLen: Int): DataFrame =
    TextOps.spread(docs)
      .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .where(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** All substrings of length 1..maxPieceLen with frequency-weighted
    * occurrence counts (overlapping occurrences all count). */
  private def substringCounts(words: DataFrame,
      maxPieceLen: Int): DataFrame =
    words
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("i") + 1)))
          .as("l"))
      .select(col("word").substr(col("i"), col("l")).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))

  /** Attach scaled-ln scores, normalizing over THIS vocab's total. */
  private def scored(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("tot"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), lnScore(col("cnt"), col("tot")).as("score"))
  }

  /** Bounded-state Viterbi: best segmentation per word under `vocab`
    * (piece, score), by the total order (−Σscore, n_pieces, pieces
    * array). One broadcast piece join + ONE (word)-keyed shuffle: the
    * matching (piece, score) pairs of each word collect into a map and
    * the whole left-to-right DP runs per row via the `aggregate`
    * higher-order function — best(p) = struct-min over l of
    * best(p−l) extended by word[p−l+1..p]. Per-position min pruning is
    * exactly the extension-monotone argument in the object doc (two
    * prefixes at one (word, pos) cover the same characters, so a
    * common suffix never flips the first struct difference), hence
    * identical output to the per-round frontier form it replaced
    * (`ReferenceForms.viterbiRounds` in the tests, equality asserted in
    * LlmSpec). The loop form paid ~2 jobs × `maxWordLen` rounds of
    * broadcast-join + struct-min shuffle + checkpoint per call — 3
    * calls per train made the EM job-count the build's dominant cost
    * (guide §1.2/§2.1).
    * @return (word, freq, ns, np, pieces)
    */
  private[graft] def viterbi(words: DataFrame, vocab: DataFrame,
      maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val v = broadcast(Checkpoints(vocab))
    // Contract guard (r16 advice): the per-row DP has no round bound,
    // so a word longer than maxWordLen could return a segmentation
    // with np > maxWordLen that the round form cannot reach. Every
    // production caller already filters to <= maxWordLen (the trainer
    // caps its word table), so this filter selects everything today —
    // it makes the documented domain explicit at the function boundary
    // instead of leaving the parameter silently unused.
    val hits = words.where(length(col("word")) <= maxWordLen)
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("i") + 1)))
          .as("l"), col("i"))
      .select(col("word"), col("freq"),
        col("word").substr(col("i"), col("l")).as("piece"))
      .join(v, Seq("piece"))
    // vocab is unique per piece, so collect_set dedups repeated
    // occurrences to one (piece, score) entry — no duplicate map keys
    val wm = hits.groupBy(col("word"), col("freq"))
      .agg(map_from_entries(
        collect_set(struct(col("piece"), col("score")))).as("m"))
    val init = array(struct(lit(0L).as("ns"), lit(0).as("np"),
      array().cast("array<string>").as("pieces")))
    // acc(i) = best state at position i−1; entry null when unreachable
    // (array_min over an empty candidate set). All element_at indices
    // are provably in range (l ≤ p ≤ |acc|), ANSI-safe; the map lookup
    // uses try_element_at (missing piece → null candidate).
    val dp = aggregate(
      sequence(lit(1), length(col("word"))), init,
      (acc, p) => concat(acc, array(array_min(filter(
        transform(sequence(lit(1), least(lit(maxPieceLen), p)), l => {
          val prev = element_at(acc, p - l + lit(1))
          val pc = col("word").substr(p - l + lit(1), l)
          val sc = try_element_at(col("m"), pc)
          when(prev.isNotNull && sc.isNotNull,
            struct((prev.getField("ns") - sc).as("ns"),
              (prev.getField("np") + lit(1)).as("np"),
              concat(prev.getField("pieces"), array(pc)).as("pieces")))
        }), x => x.isNotNull)))))
    wm.select(col("word"), col("freq"),
        element_at(dp, length(col("word")) + 1).as("b"))
      .where(col("b").isNotNull)
      .select(col("word"), col("freq"), col("b.ns").as("ns"),
        col("b.np").as("np"), col("b.pieces").as("pieces"))
  }

  /** M-step counts over best segmentations + the character floor:
    * every single char of the alphabet stays at ≥ count 1. */
  private def mStep(segs: DataFrame, chars: DataFrame): DataFrame = {
    val counts = segs
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .transform(Checkpoints(_)) // feeds the union AND the anti-join
    counts.unionByName(
      chars.join(counts, Seq("piece"), "left_anti")
        .select(col("piece"), lit(1L).as("cnt")))
  }

  /** Seed + EM + prune, stopping at the pruned vocabulary (the final
    * Viterbi pass is eager via its checkpoints — callers that only
    * need the vocab must not pay it). Also returns the word table for
    * the final pass. */
  private def trainVocab(docs: DataFrame, maxPieceLen: Int,
      seedSize: Int, emIters: Int, vocabSize: Int, maxWordLen: Int)
      : (DataFrame, DataFrame) = {
    require(emIters >= 1 && seedSize >= 1 && vocabSize >= 1)
    val words = Checkpoints(wordTable(docs, maxWordLen))
    val subs = Checkpoints(substringCounts(words, maxPieceLen))
    val chars = subs.where(length(col("piece")) === 1)
      .select(col("piece")).transform(Checkpoints(_))
    val seed = subs.where(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(seedSize)
      .unionByName(subs.where(length(col("piece")) === 1))
    val vocab = Rounds.fold(seed, emIters)((vocab, _) => Checkpoints(mStep(
      viterbi(words, scored(vocab), maxPieceLen, maxWordLen), chars)))
    val pruned = vocab.where(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
      .unionByName(vocab.where(length(col("piece")) === 1))
    (pruned, words)
  }

  /** Full training run: (pruned vocabulary with EM counts, final
    * segmentations). See object doc for the algorithm and contract.
    */
  def train(docs: DataFrame, maxPieceLen: Int = 4, seedSize: Int = 60,
      emIters: Int = 2, vocabSize: Int = 40, maxWordLen: Int = 16)
      : (DataFrame, DataFrame) = {
    val (pruned0, words) = trainVocab(docs, maxPieceLen, seedSize,
      emIters, vocabSize, maxWordLen)
    val pruned = pruned0
      .transform(Checkpoints(_)) // feeds the vocab output AND final pass
    val finalSegs = viterbi(words, scored(pruned), maxPieceLen, maxWordLen)
    (pruned, finalSegs)
  }

  // Projection views over precomputed [[train]] artifacts — the
  // memoized-frame entry points: a caller that serves several query
  // surfaces (vocab, segmentations, encode) runs train() ONCE,
  // checkpoints its two frames, and derives each surface from them.

  /** [[unigramTrain]]'s surface from a precomputed pruned vocab. */
  def vocabView(pruned: DataFrame): DataFrame =
    pruned.select(col("piece"), length(col("piece")).as("n_chars"),
      col("cnt"))

  /** [[unigramSegment]]'s surface from precomputed segmentations. */
  def segmentView(finalSegs: DataFrame): DataFrame =
    finalSegs.select(col("word"), col("freq"),
      col("np").cast("int").as("n_pieces"),
      concat_ws(" ", col("pieces")).as("seg"))

  /** [[unigramEncode]]'s surface from precomputed segmentations. */
  def encodeView(docs: DataFrame, finalSegs: DataFrame): DataFrame = {
    val segs = finalSegs.select(col("word"), col("np"))
    TextOps.spread(docs)
      .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("word"))
      .join(broadcast(segs), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum(col("np")).cast("int").as("n_pieces"))
  }

  /** The trained vocabulary: (piece, n_chars, cnt). */
  def unigramTrain(docs: DataFrame, maxPieceLen: Int = 4,
      seedSize: Int = 60, emIters: Int = 2, vocabSize: Int = 40,
      maxWordLen: Int = 16): DataFrame =
    vocabView(trainVocab(docs, maxPieceLen, seedSize, emIters,
      vocabSize, maxWordLen)._1)

  /** Per-document token counts under the trained unigram vocabulary —
    * the [[Bpe.bpeEncode]] analog: each doc charged the summed piece
    * count of its words (words beyond `maxWordLen` are untrainable
    * and excluded, mirrored by the oracle's inner join). Segmentation
    * table is vocab-bounded and broadcasts; the roll-up is one
    * doc-keyed aggregate.
    * @return (doc_id, n_words, n_pieces)
    */
  def unigramEncode(docs: DataFrame, maxPieceLen: Int = 4,
      seedSize: Int = 60, emIters: Int = 2, vocabSize: Int = 40,
      maxWordLen: Int = 16): DataFrame =
    encodeView(docs, train(docs, maxPieceLen, seedSize, emIters,
      vocabSize, maxWordLen)._2)

  /** The shipped segmentations: (word, freq, n_pieces, seg). */
  def unigramSegment(docs: DataFrame, maxPieceLen: Int = 4,
      seedSize: Int = 60, emIters: Int = 2, vocabSize: Int = 40,
      maxWordLen: Int = 16): DataFrame =
    segmentView(train(docs, maxPieceLen, seedSize, emIters, vocabSize,
      maxWordLen)._2)
}
