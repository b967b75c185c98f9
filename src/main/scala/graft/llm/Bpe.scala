package graft.llm

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding TOKENIZER TRAINING (Sennrich et al. 2016,
  * arXiv:1508.07909) as a distributed DataFrame loop — the step a
  * training-data pipeline runs once over the corpus before any token
  * counting/packing can happen, and an operator family the reference
  * (and stock Spark) has nothing for.
  *
  * Semantics (the paper's algorithm, made engine-deterministic):
  *
  *   1. whitespace pre-tokenize; aggregate a word-frequency table
  *      (occurrence counts). Each word becomes a symbol string: its
  *      code points separated by single spaces plus a trailing
  *      end-of-word symbol — `"low"` → `" l o w </w> "`. The marker is
  *      a SEPARATE final symbol (one of the published variants; the
  *      glued `"w</w>"` form differs only in the symbol alphabet).
  *      Words never contain spaces (guaranteed by tokenization), so
  *      the space-sentinel representation is unambiguous.
  *   2. per merge round: count ADJACENT symbol pairs weighted by word
  *      frequency (overlapping occurrences all count, like the
  *      reference implementation's `get_stats`); pick the most
  *      frequent pair, ties to the lexicographically smallest
  *      (lhs, rhs) — integer counts + binary string compare, so the
  *      choice is exactly reproducible cross-engine; fuse it
  *      everywhere with a literal left-to-right non-overlapping
  *      `replace(sym, " lhs rhs ", " lhsrhs ")` — the space sentinels
  *      keep symbol boundaries exact, and leftmost-first replacement
  *      is precisely BPE's greedy application order.
  *
  * Scale shape: the loop state is the WORD table, not the corpus —
  * after the one corpus-wide tokenize+count shuffle, every round
  * works on vocab-bounded rows (≈10⁷ at web scale, KBs at the
  * fixture): pair counting is a hash aggregate with map-side combine
  * over symbol-pair keys, the argmax is an O(|pairs|) total-order
  * `limit(1)` (no window), and the merge application is a pure map
  * under a broadcast 1-row join. The merges run as one
  * [[graft.Rounds]] loop whose state is the word table: each round
  * checkpoints its winner and the re-segmented words, and the words it
  * replaces are released as the round ends, while every winner stays
  * for the merge-table union. At warehouse scale those slots become
  * checkpoint tables. Rounds are inherently sequential (each merge
  * depends on the last — the algorithm, not the engine), so `nMerges`
  * bounds wall-clock as nMerges × (seconds-per-bounded-aggregate).
  *
  * The merge TABLE is the artifact (rank-ordered, exactly what a
  * tokenizer ships); [[bpeVocab]] exposes the post-merge word
  * segmentations — both oracle-gated end to end (q143/q144), no
  * floats anywhere.
  */
object Bpe {

  /** Adjacent-pair counts of a symbol-string word table, weighted by
    * word frequency.
    */
  private def pairsOf(words: DataFrame): DataFrame =
    words.select(col("freq"), split(trim(col("sym")), " ").as("s"))
      .select(col("freq"),
        explode(sequence(lit(1), size(col("s")) - 1)).as("i"), col("s"))
      .select(element_at(col("s"), col("i")).as("lhs"),
        element_at(col("s"), col("i") + 1).as("rhs"), col("freq"))
      .groupBy("lhs", "rhs").agg(sum(col("freq")).as("cnt"))

  /** One training run: (merge table, final word segmentations).
    *
    * Precondition: the corpus must have at least one adjacent pair
    * left per round (nMerges far below the symbol-pair space — always
    * true on a real corpus). A round with NO pairs (every word fully
    * fused to one symbol) yields an empty argmax, and the cross join
    * empties the word table from that round on — the merge table
    * simply stops growing, but [[bpeVocab]] would come back empty;
    * size nMerges accordingly.
    *
    * @return _1: (rank, lhs, rhs, cnt) — one row per merge, rank 1..n
    *         in training order;
    *         _2: (word, freq, sym) — the vocabulary after all merges,
    *         `sym` space-joined with the trailing `</w>` marker
    */
  def bpeState(docs: DataFrame, nMerges: Int): (DataFrame, DataFrame) =
    mergeLoop(docs, nMerges)(words => pairsOf(words)
      .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1))

  /** The trained merge table — see [[bpeState]]. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8): DataFrame =
    bpeState(docs, nMerges)._1

  /** The post-merge word segmentations — see [[bpeState]]. */
  def bpeVocab(docs: DataFrame, nMerges: Int = 8): DataFrame =
    bpeState(docs, nMerges)._2

  /** WordPiece-style tokenizer training (Schuster & Nakajima 2012;
    * Wu et al. 2016): the THIRD of the tokenizer-training families
    * real pipelines use, beside frequency-greedy BPE ([[bpeState]])
    * and the unigram LM ([[Unigram]]). Same merge loop as BPE but the
    * round winner maximizes the LIKELIHOOD gain
    * score = ln cnt(lhs,rhs) − ln cnt(lhs) − ln cnt(rhs)
    * (merge the pair whose joint frequency most exceeds what its
    * parts predict — a PMI objective) instead of raw pair frequency.
    *
    * Determinism: counts are exact frequency-weighted longs; the
    * score is the scaled-ln integer floor((lnC−lnL)−lnR)·10⁶ (the
    * [[Unigram]] discipline — ln on identical exact-integer-valued
    * doubles, 10⁻⁶ grid absorbing libm ulp), ties to (lhs, rhs)
    * binary order. Merge application and scale shape are exactly
    * [[bpeState]]'s: vocab-bounded per-round aggregates (pair counts
    * + symbol unigram counts), broadcast 1-row argmax, per-round
    * checkpoints.
    *
    * @return _1: (rank, lhs, rhs, cnt, score_fp) merge table;
    *         _2: (word, freq, sym) post-merge segmentations
    */
  def wordPieceState(docs: DataFrame,
      nMerges: Int): (DataFrame, DataFrame) =
    mergeLoop(docs, nMerges) { words =>
      val syms = words
        .select(col("freq"),
          explode(split(trim(col("sym")), " ")).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("c"))
      pairsOf(words)
        .join(syms.select(col("s").as("lhs"), col("c").as("cl")), "lhs")
        .join(syms.select(col("s").as("rhs"), col("c").as("cr")), "rhs")
        .withColumn("score_fp",
          floor((log(col("cnt")) - log(col("cl")) - log(col("cr")))
            * 1e6).cast("long"))
        .orderBy(col("score_fp").desc, col("lhs"), col("rhs")).limit(1)
        .select(col("lhs"), col("rhs"), col("cnt"), col("score_fp"))
    }

  /** The merge loop both trainers share: `nMerges` rounds over the
    * word table, each picking the one-row `winner` (lhs, rhs, cnt, …)
    * of the current segmentations, ranking it by round and fusing it
    * into every word. The merge table is the union of every round's
    * winner. */
  private def mergeLoop(docs: DataFrame, nMerges: Int)(
      winner: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val init = TextOps.spread(docs)
      .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("sym", concat(lit(" "), concat_ws(" ", expr(
          "transform(sequence(1, length(word)), i -> substr(word, i, 1))")),
        lit(" </w> ")))
      .transform(Checkpoints(_))
    val (words, merges) = Rounds.accumulate(init, nMerges) { (words, r) =>
      val best = winner(words)
        .select(lit(r).cast("int").as("rank"), col("*"))
        .transform(Checkpoints(_))
      (words.crossJoin(broadcast(best.select(col("lhs"), col("rhs"))))
        .withColumn("sym", expr("replace(sym, " +
          "' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' ')"))
        .drop("lhs", "rhs")
        .transform(Checkpoints(_)), best)
    }
    (merges.reduce(_ unionByName _),
      words.select(col("word"), col("freq"), trim(col("sym")).as("sym")))
  }

  /** ENCODE with a trained merge table (the inference side): apply
    * `merges` rank order 1..nMerges to a word frame carrying `sym`
    * symbol strings — the same greedy leftmost-first fusion as
    * training, so unseen words segment correctly too. Each round is a
    * pure map under a broadcast 1-row join (the merge table is tiny
    * by construction). Precondition: `merges` holds exactly one row
    * per rank 1..nMerges — a missing rank would cross-join empty and
    * silently drop every word.
    */
  def applyMerges(words: DataFrame, merges: DataFrame,
      nMerges: Int): DataFrame =
    (1 to nMerges).foldLeft(words) { (w, r) =>
      w.crossJoin(broadcast(
          merges.where(col("rank") === r).select(col("lhs"), col("rhs"))))
        .withColumn("sym", expr("replace(sym, " +
          "' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' ')"))
        .drop("lhs", "rhs")
    }

  /** Per-document token counts under a corpus-trained BPE vocabulary —
    * the real-tokenizer upgrade of whitespace token counting (q61):
    * trains `nMerges` merges on `docs`, segments every word, and
    * charges each document the summed symbol count of its words
    * (end-of-word marker included, one per word). The vocabulary is
    * corpus-bounded and broadcasts; the per-doc roll-up is one
    * doc-keyed aggregate.
    *
    * @return (doc_id, n_words, n_bpe_tokens) per non-empty doc
    */
  def bpeEncode(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val vocab = bpeState(docs, nMerges)._2
      .select(col("word"),
        size(split(col("sym"), " ")).as("n_sym"))
    TextOps.spread(docs)
      .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .join(broadcast(vocab), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum(col("n_sym")).cast("int").as("n_bpe_tokens"))
  }
}
