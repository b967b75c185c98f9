package graft.llm

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The formulations the engine's text and tokenizer operators replaced,
  * kept as executable specs: each one states the operator's meaning in
  * plain DataFrame terms, and LlmSpec / MinHashSigSpec assert the
  * operator equal to it. They are not part of the engine.
  */
object ReferenceForms {

  /** The per-round frontier Viterbi [[Unigram.viterbi]] replaced: one
    * broadcast piece join and one (word, pos)-keyed struct-min shuffle
    * per round, `maxWordLen` rounds. */
  def viterbiRounds(words: DataFrame, vocab: DataFrame,
      maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val v = broadcast(Checkpoints(vocab))
    var state = words.select(col("word"), col("freq"),
        lit(0).as("pos"), lit(0L).as("ns"), lit(0).as("np"),
        array().cast("array<string>").as("pieces"))
      .transform(Checkpoints(_))
    (1 to maxWordLen).foreach { _ =>
      val fin = state.where(col("pos") === length(col("word")))
      val cand = state.where(col("pos") < length(col("word")))
        .select(col("word"), col("freq"), col("pos"), col("ns"),
          col("np"), col("pieces"),
          explode(sequence(lit(1),
            least(lit(maxPieceLen), length(col("word")) - col("pos"))))
            .as("l"))
        .withColumn("piece", col("word").substr(col("pos") + 1, col("l")))
        .join(v, Seq("piece"))
        .select(col("word"), col("freq"),
          (col("pos") + col("l")).as("pos"),
          (col("ns") - col("score")).as("ns"),
          (col("np") + 1).as("np"),
          concat(col("pieces"), array(col("piece"))).as("pieces"))
      // finished rows re-enter the min: a path completing later at the
      // same (word, end) must compete with — not sit beside — the one
      // that completed earlier
      state = fin.select(col("word"), col("freq"), col("pos"),
          col("ns"), col("np"), col("pieces"))
        .unionByName(cand)
        .groupBy(col("word"), col("pos"))
        .agg(min(struct(col("ns"), col("np"), col("pieces"),
          col("freq"))).as("b"))
        .select(col("word"), col("pos"), col("b.ns").as("ns"),
          col("b.np").as("np"), col("b.pieces").as("pieces"),
          col("b.freq").as("freq"))
        .transform(Checkpoints(_))
    }
    state.where(col("pos") === length(col("word")))
      .select(col("word"), col("freq"), col("ns"), col("np"),
        col("pieces"))
  }

  /** The shuffle-based formulation [[TextOps.repetitionStats]]
    * replaced. Distinctness here is on gram STRINGS, so the pin also
    * rules out digest-collision drift on the fixtures. */
  def repetitionStatsViaAgg(docs: DataFrame, n: Int = 2): DataFrame = {
    val grams = TextOps.spread(docs).select(col("doc_id"),
      explode(TextOps.shingleMultiset(TextOps.tokens(col("text")), n))
        .as("g"))
    grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_c"))
      .select(col("doc_id"),
        col("n_grams").cast("int").as("n_grams"),
        col("n_distinct").cast("int").as("n_distinct"),
        round((col("n_grams") - col("n_distinct")).cast("double") /
          col("n_grams"), 4).as("dup_frac"),
        round(col("max_c").cast("double") / col("n_grams"), 4)
          .as("top_frac"))
  }

  /** The interpreted higher-order `aggregate` fold
    * [[TextOps.rollingFingerprint]] replaced, bit for bit. */
  def rollingFingerprintHof(text: Column): Column =
    aggregate(
      TextOps.tokens(text),
      lit(0L),
      (acc, t) => (acc * 31 +
        conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long"))
        % 1000000007L)

  /** The explode → md5 → per-bit aggregate groupBy formulation
    * [[Dedup.simhash]] replaced. */
  def simhashViaAgg(docs: DataFrame,
      bits: Int = Dedup.simhashBits): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val contribs = (0 until bits).map { j =>
      val nib = conv(substring(col("h"), 1 + j / 4, 1), 16, 10).cast("int")
      val bit = shiftright(nib, 3 - j % 4).bitwiseAND(lit(1))
      sum(bit * 2 - 1).as(s"c$j")
    }
    toks.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
      .select(col("doc_id"), concat((0 until bits).map(j =>
        when(col(s"c$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }
}
