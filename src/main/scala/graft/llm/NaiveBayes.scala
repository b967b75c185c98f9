package graft.llm

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier with Laplace smoothing —
  * the fastText-filter SHAPE of production LLM pipelines (CCNet's
  * language filter, quality classifiers over CommonCrawl): train
  * per-class token statistics over the corpus, score every document
  * against every class, keep the argmax. Here run transductively
  * over the labeled fixture (train = score corpus) so the readout is
  * per-document prediction + agreement with the label — the audit a
  * curation pipeline ships to measure its own filter.
  *
  * score(d, c) = ln P(c) + Σ_tokens tf · ln((cnt_{c,tok}+1)/(tot_c+V))
  *
  * Determinism (the q355 JSD discipline): every ln runs on an exact
  * integer ratio cast to double once — both engines hand libm
  * bit-identical inputs — and each term is PICO-floored
  * (⌊x·10¹²⌋ as integer) BEFORE any cross-row sum, so the per-(doc,
  * class) score is an exact integer sum (order-independent, DECIMAL
  * against 100 TB-scale documents) and the argmax is an exact
  * integer compare with a (score desc, class asc) total order.
  *
  * Scale shape: doc-term tf and class-term counts are two map-side-
  * combined groupBys; the score join is candidate = tf × k classes
  * (the k-multiplier IS the classifier) keyed (class, token) against
  * the vocabulary-bounded log-prob frame; the k-row class frame
  * (priors, totals, unseen mass) broadcasts. No per-row UDFs, no
  * driver-side model state.
  */
object NaiveBayes {

  /** @param classes the plan-time class list (labels outside it are
    *                filtered — the welchT explicit-groups discipline)
    * @return (doc_id, lang, pred, correct) one row per labeled doc
    */
  def classifyLang(docs: DataFrame,
      classes: Seq[String]): DataFrame = {
    require(classes.nonEmpty, "naive bayes needs a class list")
    val base = TextOps.spread(docs.where(col("text").isNotNull &&
        col("lang").isin(classes: _*)))
      .select(col("doc_id"), col("lang"), col("text"))
      .transform(Checkpoints(_)) // feeds tokens AND the label join
    val toks = base.select(col("doc_id"), col("lang"),
      explode(TextOps.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val ct = toks.groupBy(col("lang").as("cl"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Checkpoints(_)) // feeds totals, vocab AND log-probs
    val totals = ct.groupBy(col("cl")).agg(sum(col("cnt")).as("tot"))
    val vocab = ct.agg(countDistinct(col("tok")).as("v"))
    val priors = base.groupBy(col("lang").as("cl"))
      .agg(count(lit(1)).as("nd"))
    val nDocs = base.agg(count(lit(1)).as("ndocs"))
    def pico(x: org.apache.spark.sql.Column) =
      floor(x * lit(1e12)).cast("long")
    // k-row class frame: prior and unseen-token mass per class
    val cls = priors.join(totals, "cl")
      .crossJoin(vocab).crossJoin(nDocs)
      .select(col("cl"),
        pico(log(col("nd").cast("double") / col("ndocs").cast("double")))
          .as("prior12"),
        pico(log(lit(1.0) / (col("tot") + col("v")).cast("double")))
          .as("unseen12"))
    // vocabulary-bounded smoothed log-probs per (class, token)
    val lp = ct.join(totals, "cl").crossJoin(vocab)
      .select(col("cl"), col("tok"),
        pico(log((col("cnt") + 1).cast("double") /
          (col("tot") + col("v")).cast("double"))).as("logp12"))
    val cand = tf.crossJoin(broadcast(cls))
      .join(lp, Seq("cl", "tok"), "left")
      .select(col("doc_id"), col("cl"), col("prior12"),
        (col("tf") * coalesce(col("logp12"), col("unseen12")))
          .cast("decimal(38,0)").as("term12"))
    val scores = cand.groupBy(col("doc_id"), col("cl"))
      .agg((max(col("prior12")).cast("decimal(38,0)") +
        sum(col("term12"))).as("score"))
    // argmax with a total order: min over (−score, class)
    val pick = scores.groupBy(col("doc_id"))
      .agg(min_by(col("cl"), struct((-col("score")).as("ns"),
        col("cl"))).as("pred"))
    base.select(col("doc_id"), col("lang"))
      .join(pick, "doc_id")
      .select(col("doc_id"), col("lang"), col("pred"),
        (col("lang") === col("pred")).as("correct"))
  }
}
