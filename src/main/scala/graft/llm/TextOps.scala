package graft.llm

import graft.Checkpoints
import graft.queries.QueryPack.r6
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, marker-based language
  * scoring, TF-IDF, and content fingerprinting.
  *
  * Everything here is a pure `DataFrame => DataFrame` built from
  * codegen'd `org.apache.spark.sql.functions` (no UDFs): at 100 TB the
  * per-document work stays inside whole-stage codegen, and the only
  * shuffles are the explicit groupBys (term df, TF-IDF), all keyed on
  * bounded-cardinality keys.
  */
object TextOps {

  /** Whitespace tokenization of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Bigram-PMI collocation extraction (Church & Hanks) — "which
    * adjacent word pairs co-occur far beyond chance": the classic
    * phrase-mining signal feeding tokenizer-merge candidates, stop-
    * phrase lists, and domain-term discovery. All counts come from
    * the bigram table itself (left-marginal, right-marginal, total),
    * so PMI = ln(N·c_ab / (cl_a·cr_b)) is self-consistent; counts are
    * exact longs, the ratio is assembled in one fixed IEEE order, and
    * the rounded edge uses the shared floor formula, so the top-k
    * ORDER (rounded PMI desc, then the pair) is total and
    * cross-engine exact.
    *
    * Scale shape: one explode + three map-side-combined aggregates
    * over bigram keys, two vocabulary-keyed equi-joins (NOT forced
    * broadcasts — the marginals are vocabulary-sized, which at corpus
    * scale is a real table; the optimizer may still broadcast them
    * when small), and a TakeOrdered top-k — no window over the
    * vocabulary, nothing quadratic; the `minCount` floor keeps
    * rare-pair noise (PMI's known bias) out and trims the probe side
    * BEFORE the joins.
    *
    * @return top-k (a, b, n_ab, pmi) by (pmi desc, a, b)
    */
  def collocations(docs: DataFrame, minCount: Int = 5,
      k: Int = 50): DataFrame = {
    val bi = spread(docs).where(col("text").isNotNull)
      .select(tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1)," +
          " i -> struct(w[i - 1] AS a, w[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .transform(Checkpoints(_)) // feeds marginals, total and the join
    val cl = cab.groupBy(col("a")).agg(sum(col("c")).as("cl"))
    val cr = cab.groupBy(col("b")).agg(sum(col("c")).as("cr"))
    val n = cab.agg(sum(col("c")).as("n"))
    cab.where(col("c") >= minCount)
      .join(cl, "a").join(cr, "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c").as("n_ab"),
        r6(log(col("n").cast("double") * col("c") /
          (col("cl").cast("double") * col("cr")))).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Spread docs across the full shuffle parallelism BEFORE map-heavy
    * shingling/hashing work: the fixture parquet is single-row-group,
    * so a compact scan yields ONE task and nothing downstream of a
    * broadcast join would ever parallelize the per-doc work. One cheap
    * shuffle of the narrow input rows; identical across all consumers,
    * so Spark's exchange reuse shares it instead of re-scanning per
    * subtree. (At warehouse scale, files arrive multi-row-group and
    * this becomes a no-op choice — keep it keyed on doc_id so it is
    * deterministic either way.)
    */
  def spread(docs: DataFrame): DataFrame = {
    val n = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    docs.repartition(n, col("doc_id"))
  }

  /** n-word shingles of a token array (empty when too short) — the
    * higher-order-function formulation, kept as the executable spec
    * that the native [[graft.functions.WordShingles]] expression is
    * pinned against (HOF lambdas are interpreted and measured ~1000×
    * the I/O cost on the fixture corpus; see WordShingles docs).
    */
  def shinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct n-word shingle set of a token array, via the native
    * codegen expression.
    */
  def shingleSet(toks: Column, n: Int): Column =
    GraftSqlShims.column(
      graft.functions.WordShingles(GraftSqlShims.expression(toks), n))

  /** n-word shingle MULTISET (duplicates kept, document order) — the
    * input to repetition counting.
    */
  def shingleMultiset(toks: Column, n: Int): Column =
    GraftSqlShims.column(graft.functions.WordShingles(
      GraftSqlShims.expression(toks), n, distinct = false))

  /** Per-document n-gram multiset stats as a PURE MAP: hash the gram
    * multiset ([[shingleMultiset]] → [[graft.functions.SortedHashes]],
    * which keeps duplicates), then walk the sorted digests once with
    * [[graft.functions.SortedRunStats]] — `struct(n, n_distinct,
    * max_run)` with max_run = the top gram's multiplicity.
    */
  private def gramRunStats(n: Int): Column =
    GraftSqlShims.column(graft.functions.SortedRunStats(
      graft.functions.SortedHashes(
        GraftSqlShims.expression(shingleMultiset(tokens(col("text")), n)))))

  /** Repetition quality signals (the Gopher-rule shape): per document,
    * the duplicated-occurrence fraction of n-gram tokens and the share
    * of the single most frequent n-gram. High values flag boilerplate
    * and degenerate repetition — the standard pre-training quality
    * gate alongside [[qualityScore]].
    *
    * Scale shape: ZERO shuffles — the per-doc multiset count collapses
    * into the [[gramRunStats]] map kernel, so the corpus-wide
    * (doc, gram)-keyed exchange the aggregate formulation pays
    * (`ReferenceForms.repetitionStatsViaAgg` in the tests, the
    * executable spec LlmSpec pins this against) never
    * happens. Documents shorter than n tokens have no n-grams and are
    * absent from the output (matching the inner-aggregate semantics).
    */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame =
    spread(docs)
      .select(col("doc_id"), gramRunStats(n).as("rs"))
      .where(col("rs.n") > 0)
      .select(col("doc_id"),
        col("rs.n").as("n_grams"),
        col("rs.n_distinct").as("n_distinct"),
        round((col("rs.n") - col("rs.n_distinct")).cast("double") /
          col("rs.n"), 4).as("dup_frac"),
        round(col("rs.max_run").cast("double") / col("rs.n"), 4)
          .as("top_frac"))

  /** Gopher-style document quality gate: every rule metric plus a
    * boolean per rule and the final `keep` — the standard pre-training
    * corpus filter (length bounds, mean word length, stopword
    * presence, repetition caps), with thresholds as parameters.
    *
    * All comparisons are on values ROUNDED to 4 places, so an oracle
    * re-deriving the metrics reproduces every flag exactly (float
    * drift cannot flip a threshold). ZERO shuffles: token metrics are
    * plain codegen'd string ops (mean token length via
    * `length(array_join(w, ""))`, not an interpreted fold) and the
    * repetition stats come from the [[gramRunStats]] map kernel.
    * Documents shorter than 2 tokens have no bigrams: their repetition
    * fractions are NULL and the repetition rule passes by convention.
    */
  def gopherFilter(docs: DataFrame,
      minTokens: Int = 20, maxTokens: Int = 90,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      maxDupFrac: Double = 0.1, maxTopFrac: Double = 0.1): DataFrame =
    gopherGate(spread(docs), minTokens, maxTokens, minAvgLen, maxAvgLen,
        maxDupFrac, maxTopFrac)
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
        col("stop_ratio"), col("dup_frac"), col("top_frac"),
        col("pass_length"), col("pass_avg_len"), col("pass_stopword"),
        col("pass_repetition"), col("keep"))

  /** The Gopher gate as a PURE MAP that APPENDS the rule metrics and
    * `keep` to the input columns — no spread, no shuffle, no state, so
    * it drops into a Structured Streaming micro-batch unchanged
    * ([[graft.stream.CorpusIngest]]). [[gopherFilter]] is this plus the
    * compact-scan fan-out and the audit-shaped projection.
    *
    * The appended names (`n_tokens`, `avg_token_len`, `stop_ratio`,
    * `dup_frac`, `top_frac`, `pass_*`, `keep`) are part of the output
    * contract: an input column with one of those names is REPLACED.
    */
  def gopherGate(docs: DataFrame,
      minTokens: Int = 20, maxTokens: Int = 90,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      maxDupFrac: Double = 0.1, maxTopFrac: Double = 0.1): DataFrame = {
    val w = tokens(col("text"))
    val rs = "_gopher_rs" // internal scratch, dropped below
    docs
      .withColumn("n_tokens", size(w))
      .withColumn("avg_token_len",
        round(length(array_join(w, "")).cast("double") / size(w), 4))
      .withColumn("stop_ratio",
        round(occurrenceCount(w, stopwords).cast("double") / size(w), 4))
      .withColumn(rs, gramRunStats(2))
      .withColumn("dup_frac",
        round(when(col(s"$rs.n") > 0,
          (col(s"$rs.n") - col(s"$rs.n_distinct")).cast("double")
            / col(s"$rs.n")), 4))
      .withColumn("top_frac",
        round(when(col(s"$rs.n") > 0,
          col(s"$rs.max_run").cast("double") / col(s"$rs.n")), 4))
      .drop(rs)
      .withColumn("pass_length",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .withColumn("pass_avg_len",
        col("avg_token_len") >= minAvgLen && col("avg_token_len") <= maxAvgLen)
      .withColumn("pass_stopword", col("stop_ratio") > 0.0)
      .withColumn("pass_repetition",
        coalesce(col("dup_frac") <= maxDupFrac &&
          col("top_frac") <= maxTopFrac, lit(true)))
      .withColumn("keep", col("pass_length") && col("pass_avg_len") &&
        col("pass_stopword") && col("pass_repetition"))
  }

  /** doc → (doc_id, DISTINCT shingle set as an array) — one row per doc,
    * produced by a PURE MAP: the dedup happens inside the doc, so
    * no shuffle is ever paid for shingling. The unit of all set-based
    * similarity below; explode it for posting-list shapes
    * ([[shingleRows]]), keep it whole for array-intersection verify.
    */
  def shingleArrays(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      shingleSet(tokens(col("text")), n).as("arr"))

  /** doc → (doc_id, distinct shingle) rows. Shingle-set dedup is
    * per-doc (doc_id rides every row), so this is `shingleArrays` +
    * explode — still a pure map, NO global distinct shuffle.
    */
  def shingleRows(docs: DataFrame, n: Int = 3): DataFrame =
    shingleArrays(docs, n)
      .select(col("doc_id"), explode(col("arr")).as("s"))

  /** BPE-style pre-tokenization pattern: letter runs, digit runs, and
    * single non-space symbols — the split shape BPE vocabularies are
    * trained over (ASCII classes only, so Java regex and RE2 agree).
    */
  val bpeSplitPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token statistics: whitespace token count, BPE-ish regex token
    * count, char count, mean token length. Mean token length is
    * `length(array_join(w, ""))` (total token chars, fully codegen'd) —
    * identical to the interpreted `aggregate(transform(w, length))`
    * fold it replaced, without breaking whole-stage codegen.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val w = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(w).as("n_tokens"),
      size(regexp_extract_all(col("text"), lit(bpeSplitPattern), lit(0)))
        .as("n_tokens_bpe"),
      length(col("text")).as("n_chars_measured"),
      round(length(array_join(w, "")).cast("double") / size(w), 4)
        .as("avg_token_len"))
  }

  val stopwords: Seq[String] = Seq("the", "a", "of", "in", "to", "and")

  /** Occurrence count (WITH multiplicity) of any of `words` in token
    * array `w`, as pure codegen'd array ops: per word,
    * `size(w) − size(array_remove(w, word))` is its occurrence count.
    * Replaces the interpreted `size(filter(w, t => t === w1 || …))`
    * lambda — `array_intersect` would NOT be equivalent (it counts
    * distinct values; stopword/marker ratios count occurrences).
    */
  private def occurrenceCount(w: Column, words: Seq[String]): Column =
    words.map(s => size(w) - size(array_remove(w, s))).reduce(_ + _)

  /** The scalar `quality` expression of [[qualityScore]] on its own —
    * so operators gating ON quality (e.g.
    * [[graft.llm.Corpus.qualityGate]]) can compute it inline in one
    * projection instead of joining [[qualityScore]]'s frame back on
    * doc_id (which costs a second scan of the corpus).
    */
  def qualityCol(text: Column): Column = {
    val w = tokens(text)
    val stopCount = occurrenceCount(w, stopwords)
    round(least(size(w).cast("double") / 100.0, lit(1.0)) *
      (lit(1.0) - stopCount.cast("double") / size(w)), 4)
  }

  /** Quality score: length saturation × (1 − stopword ratio), plus the
    * component ratios. The shape of the reference-free quality filters
    * used in pretraining-data pipelines (length/punct/stopword ratios).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val w = tokens(col("text"))
    val stopCount = occurrenceCount(w, stopwords)
    val punct = Seq(".", ",", "!", "?").map(p =>
      length(col("text")) - length(regexp_replace(col("text"), s"\\$p", "")))
      .reduce(_ + _)
    docs.select(
      col("doc_id"),
      size(w).as("n_tokens"),
      round(stopCount.cast("double") / size(w), 4).as("stop_ratio"),
      // empty doc → NULL ratio, not an ANSI DIVIDE_BY_ZERO job abort
      round(when(length(col("text")) > 0,
        punct.cast("double") / length(col("text"))), 4).as("punct_ratio"),
      qualityCol(col("text")).as("quality"))
  }

  /** Per-document Shannon CHARACTER entropy — the classic low-cost
    * garbage detector (near-zero entropy = one character repeated,
    * abnormally high = random bytes/base64 blobs; used alongside the
    * Gopher rules in published web-corpus cleaning, e.g. RefinedWeb's
    * "curated heuristics" family). Computed as
    * `log2(n) − (Σ k_c·log2 k_c)/n` over the per-doc character
    * histogram — algebraically −Σ (k/n)·log2(k/n) without needing n
    * inside the sum.
    *
    * Scale shape: the per-character explode never crosses the wire —
    * each doc's characters sit in one task, so the (doc_id, char)
    * hash aggregate map-side-combines down to the doc's DISTINCT
    * characters (alphabet-bounded) before the shuffle; the second
    * doc-keyed aggregate is over those bounded histogram rows.
    * Character indexing is code-point based in both engines (Spark
    * `substr` on UTF8String, DuckDB `substr`), so the oracle
    * re-derives the identical histogram.
    *
    * @return one row per non-empty doc:
    *         (doc_id, lang, n_chars_counted, n_distinct_chars, entropy)
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val ch = spread(docs)
      .where(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(1, length(text)), i -> substr(text, i, 1))"))
          .as("c"))
    ch.groupBy(col("doc_id"), col("lang"), col("c"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("k")).cast("int").as("n_chars_counted"),
        count(lit(1)).cast("int").as("n_distinct_chars"),
        round(
          log2(sum(col("k"))) -
            sum(col("k") * log2(col("k"))) / sum(col("k")), 4)
          .cast("float").as("entropy"))
  }

  /** Marker-word sets per language tag. NOTE: the fixture corpus shares
    * one vocabulary across langs (the `lang` column carries no textual
    * signal), so this verifies the scoring/argmax OPERATOR — marker
    * counting, per-language scores, deterministic tie-break — not
    * classifier accuracy.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "customer", "key"),
    "en" -> Seq("the", "and", "window", "order"),
    "es" -> Seq("el", "y", "vector", "merge"),
    "fr" -> Seq("le", "et", "scan", "query"),
    "zh" -> Seq("zh", "join", "small", "column"))

  /** Language ID: per-language marker-hit counts → argmax with
    * alphabetical tie-break, computed per ROW as a struct `array_min`
    * over the bounded language list — the former explode + per-doc
    * rank Window shuffled |docs| × |langs| rows (and sorted them) for
    * an argmax whose inputs never leave the document's row. Same
    * total order ((−score, lang) min ≡ (score desc, lang) rank 1).
    */
  def langId(docs: DataFrame): DataFrame = {
    val best = array_min(array(langMarkers.map {
      case (lang, ms) => struct((-occurrenceCount(col("w"), ms)).as("ns"),
        lit(lang).as("lang"))
    }: _*))
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), best.as("b"))
      .select(col("doc_id"), col("b.lang").as("predicted_lang"),
        (-col("b.ns")).cast("int").as("marker_hits"))
  }

  /** TF-IDF top-k terms per document: tf = in-doc term count, idf =
    * ln(N / df). Rank on the rounded score (so both engines rank
    * identical values) with term tie-break.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val rk = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(rk).cast("int"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }

  /** Bigram language-model quality score — the CCNet/RefinedWeb
    * "perplexity filter" shape made deterministic by scoring the
    * corpus against its OWN bigram statistics (no external LM):
    * per document, the mean natural-log conditional likelihood
    * avg ln P(w_i | w_{i−1}) with P(b | a) = C(a b) / C(a ·), counts
    * taken over the whole corpus. Every document bigram appears in the
    * corpus counts by construction, so no smoothing is needed and the
    * score is exact. Formulaic boilerplate scores high (its bigrams
    * dominate the corpus), incoherent token soup scores low — the
    * standard split for both quality gating and boilerplate mining.
    *
    * Scale shape: bigram and prefix-context counts are hash
    * aggregates with map-side partial combine; the conditional table
    * joins counts-to-prefix on the context token (table-to-table,
    * output one row per distinct bigram); the only corpus-sized join
    * is doc-bigrams → probability table on the bigram string — a
    * 1-row-to-many-rows equi-join whose hot keys ("of the") are
    * exactly the shape AQE skew-join splits. No text moves past the
    * bigram explode.
    *
    * @return (doc_id, n_bigrams, avg_logp) — avg_logp NULL when the
    *         doc has < 2 tokens; rounded to 4 places for the oracle.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val bi = toks.where(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"),
        element_at(col("w"), col("i")).as("w1"),
        concat_ws(" ", slice(col("w"), col("i"), lit(2))).as("g"))
    val bc = bi.groupBy(col("w1"), col("g"))
      .agg(count(lit(1)).as("c"))
    val pc = bc.groupBy(col("w1")).agg(sum(col("c")).as("cw"))
    val p = bc.join(pc, "w1")
      .select(col("g"),
        log(col("c").cast("double") / col("cw")).as("lp"))
    val sc = bi.join(p, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum(col("lp")).as("slp"))
    toks.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0)).as("n_bigrams"),
        round(col("slp") / col("n_bigrams"), 4).as("avg_logp"))
  }

  /** Kneser–Ney–smoothed bigram LM score — [[lmScore]]'s production
    * upgrade: the CCNet-class perplexity filter with the smoothing
    * real LMs ship (interpolated KN, absolute discount D = 0.75 —
    * exact in binary):
    * {{{
    *   P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1)
    *            + (D·N1+(w1·)/c(w1)) · N1+(·w2)/N1+(··)
    * }}}
    * Continuation probability N1+(·w2)/T rescues frequent-but-
    * promiscuous contexts ("San Francisco" vs bare "Francisco") —
    * the KN insight plain MLE bigrams miss. Every input to the fixed
    * IEEE sequence is an exact integer count, so scores are
    * cross-engine reproducible to the q124 contract.
    *
    * Scale shape: all four model tables are vocabulary-bounded hash
    * aggregates off ONE bigram pass (the bigram-type table is
    * checkpointed at its four-consumer fan-out); scoring is a g-keyed
    * equi-join — no windows, no per-doc state.
    *
    * @return (doc_id, n_bigrams, avg_logp_kn)
    */
  def lmScoreKn(docs: DataFrame): DataFrame = {
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val bi = toks.where(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"),
        element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"),
        concat_ws(" ", slice(col("w"), col("i"), lit(2))).as("g"))
    val bc = bi.groupBy(col("w1"), col("w2"), col("g"))
      .agg(count(lit(1)).as("c"))
      .transform(Checkpoints(_)) // feeds pc, ct, tot AND the prob table
    val pc = bc.groupBy(col("w1"))
      .agg(sum(col("c")).as("cw"), count(lit(1)).as("t1"))
    val ct = bc.groupBy(col("w2")).agg(count(lit(1)).as("tc"))
    val tot = bc.agg(count(lit(1)).as("tot"))
    val p = bc.join(pc, "w1").join(ct, "w2")
      .crossJoin(broadcast(tot))
      .select(col("g"),
        log(greatest(col("c") - lit(0.75), lit(0.0)) / col("cw") +
          (lit(0.75) * col("t1") / col("cw")) *
            (col("tc") / col("tot"))).as("lp"))
    val sc = bi.join(p, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum(col("lp")).as("slp"))
    toks.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0)).as("n_bigrams"),
        round(col("slp") / col("n_bigrams"), 4).as("avg_logp_kn"))
  }

  /** Kneser–Ney–smoothed TRIGRAM LM score — the order-3 member above
    * [[lmScoreKn]], the model class CCNet-style perplexity filters
    * actually run. Interpolated KN, absolute discount D = 0.75
    * (exact in binary), three levels:
    * {{{
    *   P3(w|u,v) = max(c(uvw) − D, 0)/c(uv·)
    *             + (D·N1+(uv·)/c(uv·)) · P2(w|v)
    *   P2(w|v)   = max(N1+(·vw) − D, 0)/N1+(·v·)
    *             + (D·N1+(v·)/N1+(·v·)) · P1(w)
    *   P1(w)     = N1+(·w)/N1+(··)
    * }}}
    * The top level discounts raw trigram counts against the trigram
    * CONTEXT total c(uv·) = Σ_w c(uvw); the middle level is built
    * entirely from continuation counts (the KN insight: "Francisco"
    * is frequent but occurs after almost nothing); the unigram floor
    * is type-frequency over bigram types. Every divided quantity is
    * an exact integer count, and the IEEE evaluation order is fixed,
    * so scores are cross-engine reproducible like q124/q248.
    *
    * Scale shape: N1+(·vw)/N1+(·v·)/c(uv·) are vocabulary-bounded
    * hash aggregates off ONE distinct-trigram pass (checkpointed at
    * its four-consumer fan-out); N1+(v·)/N1+(·w)/N1+(··) off ONE
    * distinct-bigram groupBy; scoring is a g-keyed equi-join — no
    * windows, no per-doc state, AQE splits the hot-gram skew.
    *
    * @return (doc_id, n_trigrams, avg_logp_kn3) — NULL score for
    *         docs with < 3 tokens
    */
  def lmScoreKn3(docs: DataFrame): DataFrame = {
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), tokens(col("text")).as("w"))
    // the tokenize+explode trigram pass feeds BOTH the count table
    // and the per-occurrence scoring join — materialize it once as
    // narrow (doc_id, g) rows; u/v/w3 are recovered by splitting g
    // (tokens are \s+-split, so the 3-gram string round-trips exactly).
    // SCALE BOUND (r16 advice): this pins one row per trigram
    // OCCURRENCE (≈ corpus token count) in MEMORY_AND_DISK executor
    // storage — measured faster at bench SF (q294 min 3.82 → 3.41 s),
    // but at 100 TB the occurrence frame is corpus-sized and the
    // right trade flips: drop this checkpoint (the tokenize+explode
    // map recomputes cheaply and the aggregated tg frame below stays
    // checkpointed) or swap it for a disk-backed persisted table.
    val tri = toks.where(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 2)).as("i"), col("w"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("w"), col("i"), lit(3))).as("g"))
      .transform(Checkpoints(_))
    val tg = tri.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .withColumn("p3", split(col("g"), " "))
      .select(element_at(col("p3"), 1).as("u"),
        element_at(col("p3"), 2).as("v"),
        element_at(col("p3"), 3).as("w3"), col("g"), col("c"))
      .transform(Checkpoints(_)) // feeds ctx, cont, mid AND the prob table
    val ctx = tg.groupBy(col("u"), col("v"))
      .agg(sum(col("c")).as("cuv"), count(lit(1)).as("t12"))
    val cont = tg.groupBy(col("v"), col("w3"))
      .agg(count(lit(1)).as("nvw"))
    val mid = tg.groupBy(col("v")).agg(count(lit(1)).as("n3v"))
    val bt = toks.where(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(element_at(col("w"), col("i")).as("b1"),
        element_at(col("w"), col("i") + 1).as("b2"))
      .distinct()
      .transform(Checkpoints(_)) // feeds t1, cw, tot
    val t1 = bt.groupBy(col("b1")).agg(count(lit(1)).as("t1"))
      .withColumnRenamed("b1", "v")
    val cw = bt.groupBy(col("b2")).agg(count(lit(1)).as("ncw"))
      .withColumnRenamed("b2", "w3")
    val tot = bt.agg(count(lit(1)).as("tot"))
    val p = tg.join(ctx, Seq("u", "v")).join(cont, Seq("v", "w3"))
      .join(mid, "v").join(t1, "v").join(cw, "w3")
      .crossJoin(broadcast(tot))
      .select(col("g"),
        log(greatest(col("c") - lit(0.75), lit(0.0)) / col("cuv") +
          (lit(0.75) * col("t12") / col("cuv")) *
            (greatest(col("nvw") - lit(0.75), lit(0.0)) / col("n3v") +
              (lit(0.75) * col("t1") / col("n3v")) *
                (col("ncw").cast("double") / col("tot")))).as("lp"))
    val sc = tri.join(p, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_trigrams"),
        sum(col("lp")).as("slp"))
    toks.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0)).as("n_trigrams"),
        round(col("slp") / col("n_trigrams"), 4).as("avg_logp_kn3"))
  }

  /** Distinct-n diversity (Li, Galley, Brockett, Gao & Dolan 2016):
    * the unique-n-gram ratio over the corpus for n = 1..`maxN` — the
    * standard repetitiveness/diversity readout for a training-data
    * slice (a templated or degenerate source scores near 0, natural
    * prose near its type/token ceiling). Complements the PER-DOC
    * repetition gate (q83) with the CORPUS-level view the per-doc
    * gate cannot see: a million distinct docs sharing one template
    * pass q83 and crater distinct-3.
    *
    * Determinism: total and distinct counts are exact integers off
    * one gram groupBy per n; the ratio is one IEEE division under
    * the shared floor rounding.
    *
    * Scale shape: per n, one map-side explode + an exact distinct
    * (the q08 contract — swap in the q127 KMV sketch at the
    * documented extreme scale); the n-sweep is a literal handful of
    * unioned one-row aggregates.
    *
    * @return (n, total_ngrams, distinct_ngrams, distinct_ratio)
    */
  def distinctNgrams(docs: DataFrame, maxN: Int = 3): DataFrame = {
    val toks = spread(docs.where(col("text").isNotNull))
      .select(tokens(col("text")).as("w"))
      .transform(Checkpoints(_)) // swept once per n
    (1 to maxN).map { n =>
      toks.where(size(col("w")) >= n)
        .select(explode(sequence(lit(1), size(col("w")) - (n - 1)))
          .as("i"), col("w"))
        .select(concat_ws(" ", slice(col("w"), col("i"), lit(n)))
          .as("gram"))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("gram")).as("distinct_ngrams"))
        .select(lit(n).as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          r6(col("distinct_ngrams").cast("double") /
            col("total_ngrams")).as("distinct_ratio"))
    }.reduce(_ unionByName _)
  }

  /** Shared scaled-ln least-squares slope: each point's (ln x, ln y)
    * is FLOOR-SCALED to micro-unit longs first (the CMH/Theil
    * discipline — a float sum over points would be order-dependent),
    * the four moments ride exact DECIMAL, and the slope is one fixed
    * IEEE sequence. The 10⁶ scaling cancels out of the slope. */
  private def logLogMoments(pts: DataFrame, xc: Column,
      yc: Column): DataFrame = {
    def d19(c: Column) = c.cast("decimal(19,0)")
    pts.select(
        floor(log(xc.cast("double")) * 1e6 + 0.5).cast("long").as("x6"),
        floor(log(yc.cast("double")) * 1e6 + 0.5).cast("long").as("y6"))
      .agg(count(lit(1)).as("n"),
        sum(col("x6").cast("decimal(38,0)")).as("sx"),
        sum(col("y6").cast("decimal(38,0)")).as("sy"),
        sum((d19(col("x6")) * d19(col("x6"))).cast("decimal(38,0)"))
          .as("sxx"),
        sum((d19(col("x6")) * d19(col("y6"))).cast("decimal(38,0)"))
          .as("sxy"))
  }

  private def slopeCol: Column = {
    def d(c: String) = col(c).cast("double")
    val den = d("n") * d("sxx") - d("sx") * d("sx")
    when(den > 0, r6((d("n") * d("sxy") - d("sx") * d("sy")) / den))
  }

  /** Heaps'-law vocabulary-growth curve (Heaps 1978; the V = K·nᵝ
    * empirical law): distinct-vocabulary size vs cumulative token
    * count at `checkpoints` equally-spaced doc_id cutoffs, plus the
    * fitted growth exponent β — the corpus-level readout that sizes
    * tokenizer vocabularies and predicts how much NEW text moves the
    * vocabulary (β ≈ 0.4–0.6 for natural corpora; β → 1 flags
    * synthetic/id-heavy text, β → 0 a closed template vocabulary).
    *
    * The distributed trick: "distinct terms among docs ≤ cut" needs
    * NO per-cut rescan — each term's FIRST-SEEN doc id (one term
    * groupBy) makes every cutoff a bounded conditional count, so the
    * whole curve costs one explode + two groupBys + a ×checkpoints
    * broadcast sweep ([[graft.graph.Assortativity.richClub]]'s
    * pattern). β via [[logLogMoments]]' scaled-integer OLS.
    *
    * @return one row per checkpoint: (chk, cut_id, n_tokens,
    *         n_distinct, heaps_beta repeated)
    */
  def heapsLaw(docs: DataFrame, checkpoints: Int = 10): DataFrame = {
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .transform(Checkpoints(_)) // feeds span, per-doc counts, first-seen
    val span = toks.agg(min(col("doc_id")).as("d0"),
      max(col("doc_id")).as("d1"))
    val cuts = broadcast(span
      .select(explode(array((1 to checkpoints).map(lit): _*)).as("chk"),
        col("d0"), col("d1"))
      .select(col("chk"),
        expr(s"d0 + ((d1 - d0 + 1) * chk) div $checkpoints - 1")
          .as("cut")))
    val perDoc = toks.select(col("doc_id"), size(col("w")).as("nt"))
    val firstSeen = toks
      .select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
    val tc = perDoc.crossJoin(cuts).groupBy(col("chk"), col("cut"))
      .agg(sum(when(col("doc_id") <= col("cut"), col("nt"))
        .otherwise(0L)).as("n_tokens"))
    val dc = firstSeen.crossJoin(cuts).groupBy(col("chk"), col("cut"))
      .agg(sum(when(col("fd") <= col("cut"), 1L).otherwise(0L))
        .as("n_distinct"))
    val pts = tc.join(dc, Seq("chk", "cut"))
      .where(col("n_tokens") > 0 && col("n_distinct") > 0)
      .transform(Checkpoints(_)) // feeds the fit AND the output rows
    val beta = broadcast(logLogMoments(pts, col("n_tokens"),
        col("n_distinct"))
      .select(slopeCol.as("heaps_beta")))
    pts.crossJoin(beta)
      .select(col("chk"), col("cut").as("cut_id"), col("n_tokens"),
        col("n_distinct"), col("heaps_beta"))
  }

  /** Zipf rank–frequency slope over the top-`topN` terms (Zipf 1949):
    * the fitted exponent of freq ∝ rank^s — s ≈ −1 for natural text;
    * a flat slope flags templated/synthetic corpora, a steep one a
    * boilerplate-dominated vocabulary. Term counts are exact; the
    * top-N cut is a TakeOrdered reduction (orderBy + limit — never a
    * global sort), ranks a window over exactly topN rows, and the fit
    * [[logLogMoments]]' scaled-integer OLS.
    *
    * @return one row (n_terms, top_cnt, zipf_slope)
    */
  def zipfSlope(docs: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = spread(docs.where(col("text").isNotNull))
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(topN)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("term"))).cast("long"))
      .transform(Checkpoints(_)) // feeds the fit AND the summary row
    val m = logLogMoments(top, col("rnk"), col("cnt"))
      .select(col("n").cast("int").as("n_terms"),
        slopeCol.as("zipf_slope"))
    top.agg(max(when(col("rnk") === 1, col("cnt"))).as("top_cnt"))
      .crossJoin(broadcast(m))
      .select(col("n_terms"), col("top_cnt"), col("zipf_slope"))
  }

  /** Per-language top-k n-grams by corpus OCCURRENCE count (document
    * frequency carried alongside) — the boilerplate-mining pass that
    * feeds the viral caps ([[Dedup.winnowedPairs]]' `maxDf`,
    * [[Dedup.paragraphDedup]]'s `viralDf`) with actual data instead of
    * guessed constants. Raw sliding grams (occurrences, not the
    * per-doc distinct sets dedup uses) — frequency mining wants
    * repeats counted.
    *
    * Scale shape: the (lang, gram) count is one hash aggregate with
    * map-side combine. The top-k does NOT sort each language's whole
    * distinct-gram set in one task: aggregated rows first keep a LOCAL
    * top-k per (shuffle partition × lang) — sound, because a gram in
    * the global top-k is necessarily in the top-k of whatever
    * partition holds its (complete) count row — and only the ≤
    * k·partitions survivors per language pay the exact global
    * row_number. Same answer as the naive global window, bounded task
    * memory at any corpus size.
    *
    * @return (lang, rank, gram, cnt, df), rank 1..k by (cnt desc, gram)
    */
  def topNgrams(docs: DataFrame, n: Int = 3, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
    val grams = toks.where(size(col("w")) >= n)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"), col("w"))
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", slice(col("w"), col("i"), lit(n))).as("gram"))
    val counts = grams.groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("doc_id")).cast("int").as("df"))
    // local prune: top-k per (partition, lang) — a superset of the
    // global top-k, so the final exact window sees ≤ k·partitions rows
    // per language instead of every distinct gram
    val local = Window.partitionBy(spark_partition_id(), col("lang"))
      .orderBy(col("cnt").desc, col("gram"))
    val pruned = counts
      .withColumn("lrn", row_number().over(local))
      .where(col("lrn") <= k).drop("lrn")
    val global = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("gram"))
    pruned.withColumn("rank", row_number().over(global).cast("int"))
      .where(col("rank") <= k)
      .select(col("lang"), col("rank"), col("gram"), col("cnt"), col("df"))
  }

  /** PII patterns, ASCII classes only so Java regex (Spark) and RE2
    * (DuckDB oracle) agree byte-for-byte. URL first: once URLs are
    * collapsed, the email/number patterns can no longer fire inside
    * one (`<URL>` contains neither `@` nor a long digit run).
    */
  val urlPattern = "https?://[^ ]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longNumberPattern = "[0-9]{7,}"

  /** PII redaction: mask URLs, then email addresses, then long (≥7
    * digit) numbers — the scrubbing pass every pretraining corpus runs
    * before tokenization (the C4/RefinedWeb shape). A cascade of three
    * codegen'd `regexp_replace`s plus per-stage match counts; pure map,
    * zero shuffles, trivially parallel at any scale. Counts are taken
    * on the stage INPUT (n_emails counts matches after URL masking,
    * n_nums after email masking), mirroring exactly what each
    * replacement stage saw.
    */
  def redactPii(docs: DataFrame): DataFrame = {
    val t0 = col("text")
    val t1 = regexp_replace(t0, urlPattern, "<URL>")
    val t2 = regexp_replace(t1, emailPattern, "<EMAIL>")
    val t3 = regexp_replace(t2, longNumberPattern, "<NUM>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(t0, lit(urlPattern), lit(0))).as("n_urls"),
      size(regexp_extract_all(t1, lit(emailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(t2, lit(longNumberPattern), lit(0))).as("n_nums"),
      t3.as("red_text"))
  }

  /** Text canonicalization — the standard pre-fingerprinting pass:
    * Unicode NFC composition (via the native
    * [[graft.functions.NfcNormalize]] kernel; visually-identical
    * decomposed/composed sequences otherwise split one document into
    * two dedup identities), control characters → space (ASCII hex
    * class, so Java regex and the oracle's RE2 agree byte-for-byte),
    * whitespace runs collapsed, edges trimmed. Pure map, zero
    * shuffles; the NFC kernel's `isNormalized` fast path means ASCII
    * corpora pay a scan, not a copy.
    *
    * @return (doc_id, clean_text, changed, n_chars_raw, n_chars_clean)
    */
  def canonicalize(docs: DataFrame): DataFrame = {
    val nfc = org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.GraftSqlShims.expression(col("text"))))
    spread(docs).where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), nfc.as("_nfc"))
      .withColumn("clean_text", trim(regexp_replace(
        regexp_replace(col("_nfc"), "[\\x00-\\x1f\\x7f]", " "),
        "\\s+", " ")))
      .select(col("doc_id"), col("clean_text"),
        (col("clean_text") =!= col("text")).as("changed"),
        length(col("text")).as("n_chars_raw"),
        length(col("clean_text")).as("n_chars_clean"))
  }

  /** NFKC + case-fold normalization — the TOKENIZER-INPUT pass
    * upstream of the [[canonicalize]] dedup pass: compatibility
    * variants (ligatures, fullwidth forms, superscripts, roman
    * numerals, no-break spaces) fold onto their plain forms and case
    * collapses, so vocabulary statistics ([[graft.llm.Bpe]],
    * [[tfIdf]]) stop splitting across visually-equivalent spellings.
    * Runs in the native [[graft.functions.NfkcCaseFold]] kernel
    * (NFKC → lowercase(ROOT) → NFKC, idempotent); pure map, zero
    * shuffles, ASCII-lowercase rows pay one scan and no copy.
    *
    * @return (doc_id, norm_text, changed, n_chars_raw, n_chars_norm)
    */
  def nfkcFold(docs: DataFrame): DataFrame = {
    val nk = org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.NfkcCaseFold(
        org.apache.spark.sql.GraftSqlShims.expression(col("text"))))
    spread(docs).where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), nk.as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        (col("norm_text") =!= col("text")).as("changed"),
        length(col("text")).as("n_chars_raw"),
        length(col("norm_text")).as("n_chars_norm"))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text
    * — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Rabin–Karp rolling fingerprint over the token stream:
    * `h = fold(tokens, 0, (acc, t) → (acc·31 + code(t)) mod (10⁹+7))`
    * with `code(t)` = the first 32 bits of md5(t). Unlike [[fingerprint]]
    * it is ORDER-SENSITIVE and incrementally maintainable (append a
    * token → one more fold step), the property rolling hashes buy in
    * chunk/dedup pipelines. The fold runs in the native codegen kernel
    * [[graft.functions.RollingFp]] (the interpreted HOF formulation is
    * kept below as the executable spec); the md5-derived code keeps it
    * portable to the SQL oracle. Products stay < 2⁶³ (acc < 10⁹+7,
    * code < 2³²), so ANSI-mode long arithmetic cannot overflow.
    */
  def rollingFingerprint(text: Column): Column =
    GraftSqlShims.column(
      graft.functions.RollingFp(GraftSqlShims.expression(tokens(text))))

  /** N-GRAM NOVELTY score — the diversity/memorization-risk signal:
    * per document, the fraction of its distinct `n`-gram shingles that
    * appear NOWHERE else in the corpus (document frequency exactly 1).
    * Boilerplate-heavy or near-duplicated docs read near 0; genuinely
    * fresh content reads near 1 — the per-document complement of the
    * corpus-level dedup family, useful as a curation feature on its
    * own or as a mixture/sampling weight.
    *
    * Scale shape: NO shingle-keyed join and no per-doc count shuffle —
    * the per-doc total is `size(arr)` on the array frame, a pure map
    * (the [[graft.llm.Dedup]] prefix-filter discipline of carrying
    * sizes from explode time). The df aggregate carries `min(doc_id)`
    * alongside the count, so a df-1 shingle already KNOWS its unique
    * owner — novelty counts come from a second bounded groupBy over
    * those (owner) rows, and the final merge is a doc_id-keyed left
    * join. Each branch is one map-side pass over the corpus (the
    * totals branch shuffles nothing); shingle text crosses the wire
    * exactly once, in the df aggregate's partial combine.
    * Docs with fewer than `n` tokens have no shingles and are out of
    * contract (absent from the output), matching the shingle family.
    */
  def noveltyScore(docs: DataFrame, n: Int = 3): DataFrame = {
    val arrays = shingleArrays(spread(docs), n)
      .where(size(col("arr")) > 0)
    val novel = arrays
      .select(col("doc_id"), explode(col("arr")).as("s"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .where(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_novel"))
    arrays.select(col("doc_id"), size(col("arr")).as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 4)
          .cast("float"))
  }

  /** ln 2 as a plan-time literal (shared discipline — no libm log(2)
    * in a query path).
    */
  private val ln2 = 0.6931471805599453

  /** Jensen–Shannon divergence between two corpus slices' unigram
    * distributions (Lin 1991) — the symmetric, always-finite drift
    * readout for "did today's crawl change vocabulary": KL blows up
    * on unseen terms, JSD ∈ [0, ln 2] never does. JSD = ½KL(P‖M) +
    * ½KL(Q‖M), M = (P+Q)/2.
    *
    * Determinism: both distributions come from ONE conditional-sum
    * term groupBy (exact longs); each term's contribution is a fixed
    * IEEE sequence on exact ratios, PICO-floored (1e12 — JSD terms
    * are ≤ ln 2, so vocab·7e11 stays inside long) before the
    * cross-term sum; one division pair at the edge. jsd_norm = JSD/ln2
    * against the shared plan-time literal.
    *
    * Scale shape: one term-keyed exchange; the term frame is
    * vocabulary-bounded and the readout one row.
    *
    * @param isB row predicate naming the second slice
    * @return one row (n_terms, na, nb, jsd, jsd_norm)
    */
  def jsDivergence(docs: DataFrame, isB: Column): DataFrame = {
    val toks = spread(docs.where(col("text").isNotNull))
      .select(isB.as("b"), explode(tokens(col("text"))).as("term"))
    val counts = toks.groupBy(col("term"))
      .agg(sum(when(col("b"), 0L).otherwise(1L)).as("ca"),
        sum(when(col("b"), 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(count(lit(1)).as("n_terms"),
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val p = col("ca").cast("double") / col("na").cast("double")
    val q = col("cb").cast("double") / col("nb").cast("double")
    val mm = (p + q) / lit(2.0)
    val contrib =
      when(col("ca") > 0L, p * log(p / mm)).otherwise(lit(0.0)) +
        when(col("cb") > 0L, q * log(q / mm)).otherwise(lit(0.0))
    counts.crossJoin(broadcast(tot))
      .select(col("n_terms"), col("na"), col("nb"),
        floor(contrib * lit(1e12)).cast("long").as("c12"))
      .groupBy(col("n_terms"), col("na"), col("nb"))
      .agg(sum(col("c12")).as("s12"))
      .select(col("n_terms"), col("na"), col("nb"),
        round(col("s12").cast("double") / lit(2e12), 6)
          .cast("float").as("jsd"),
        round(col("s12").cast("double") / lit(2e12) / lit(ln2), 4)
          .cast("float").as("jsd_norm"))
  }

  /** Feature-hashing vectorizer (Weinberger et al. 2009's hashing
    * trick) — the VOCABULARY-FREE bag-of-words a downstream linear
    * model trains on: every token maps to one of `d` buckets through
    * the repo's re-derivable md5 hash family (high 16 bits mod d, the
    * [[graft.functions.CountMinFrame]] bucket rule), counts summed
    * per (doc, bucket). No dictionary is ever built, broadcast or
    * shuffled — the fixed-width representation holds at ANY corpus
    * vocabulary, which is the trick's entire point at 100 TB.
    * Exact integer counts end to end; collisions are the documented
    * semantics, not an error.
    *
    * @return (doc_id, bucket, cnt) — at most d rows per doc
    */
  def featureHash(docs: DataFrame, d: Int = 64): DataFrame = {
    require(d > 0, "feature hashing needs a positive width")
    spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("int")
          % d).cast("int").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Flesch reading ease per document (Flesch 1948) — the classic
    * readability score joining the q62/q87 quality family: 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words), with syllables
    * approximated as vowel-group runs ([aeiouy]+, the standard
    * resource-free heuristic) and sentences as [.!?]+ runs clamped to
    * ≥ 1. Pure map kernel — exact integer counts per row (identical
    * greedy-regex semantics in both engines), one fixed IEEE sequence
    * per doc, no shuffle at all.
    *
    * @return (doc_id, n_words, n_syllables, n_sentences, flesch)
    */
  def flesch(docs: DataFrame): DataFrame = {
    val base = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_words"),
        regexp_count(col("text"), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"),
          lit(1L)).as("n_sentences"))
    // floor(x·100 + 0.5)/100, NOT round(x, 2): the shared floor hedge
    // every other float edge in the repo uses. Raw round() diverges
    // between engines when the score lands on a .xx5 boundary —
    // sf0.001's doc 493 does exactly that (Spark 85.16 vs DuckDB
    // 85.17, found by the r16 full sf0.001 replay; latent since the
    // query landed, the sf0.01 gate never hit a boundary doc).
    base.select(col("doc_id"), col("n_words"), col("n_syllables"),
      col("n_sentences"),
      (floor((when(col("n_words") > 0L,
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")))) * 100 + 0.5) / 100)
        .cast("float").as("flesch"))
  }

  /** ROUGE-1/2 F-scores over candidate near-dup pairs (Lin 2004) —
    * the n-gram-overlap VERIFICATION metric summarization eval and
    * near-dup adjudication share: clipped-multiset overlap
    * Σ min(cnt_a, cnt_b) per gram order, P = ov/|b|, R = ov/|a|,
    * F = 2PR/(P+R).
    *
    * Determinism: gram counts and overlaps exact longs; P/R/F one
    * fixed IEEE sequence per pair on exact ratios, F = 0 when the
    * overlap is empty (both engines, never NULL). A pair is EMITTED
    * only when both docs have ≥ n tokens for every gram order (the
    * per-doc bigram-total joins are inner): a candidate pair whose
    * side has fewer than 2 tokens is dropped, not scored 0 — the
    * oracle mirrors the drop.
    *
    * Scale shape: the quadratic is CONFINED to `pairs` (the caller's
    * banded/prefix-filtered candidate set); grams join pair-bounded
    * on (doc, gram) equi-keys.
    *
    * @param pairs candidate frame with (da, db)
    * @return (da, db, ov1, rouge1_f, ov2, rouge2_f)
    */
  def rougePairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // the candidate frame is read three times (both per-order overlap
    // joins and the output spine) and is typically itself a banded/
    // prefix-filtered join — materialize the (da, db) rows once
    val cand = Checkpoints(pairs)
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), tokens(col("text")).as("w"))
    def gramCounts(n: Int): DataFrame = {
      val g =
        if (n == 1) toks.select(col("doc_id"), explode(col("w")).as("g"))
        else toks.where(size(col("w")) >= n)
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"),
            col("w"))
          .select(col("doc_id"),
            concat_ws(" ", slice(col("w"), col("i"), lit(n))).as("g"))
      // three consumers per order (da side, db side, per-doc totals)
      // and no shared Exchange between them — materialize the
      // tokenize+explode+count pass once per order
      g.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        .transform(Checkpoints(_))
    }
    def side(n: Int, tag: String): (DataFrame, DataFrame) = {
      val gc = gramCounts(n)
      val ov = cand
        .join(gc.select(col("doc_id").as("da"), col("g"),
          col("cnt").as("cnta")), Seq("da"))
        .join(gc.select(col("doc_id").as("db"), col("g"),
          col("cnt").as("cntb")), Seq("db", "g"))
        .groupBy(col("da"), col("db"))
        .agg(sum(least(col("cnta"), col("cntb"))).as(s"ov$tag"))
      val tots = gc.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as(s"tot$tag"))
      (ov, tots)
    }
    val (o1, t1) = side(1, "1"); val (o2, t2) = side(2, "2")
    def f(ov: Column, ta: Column, tb: Column): Column = {
      val pr = ov.cast("double") / tb.cast("double")
      val rr = ov.cast("double") / ta.cast("double")
      when(pr + rr > 0.0, lit(2.0) * pr * rr / (pr + rr))
        .otherwise(lit(0.0))
    }
    cand
      .join(o1, Seq("da", "db"), "left")
      .join(o2, Seq("da", "db"), "left")
      .join(t1.select(col("doc_id").as("da"), col("tot1").as("ta1")), "da")
      .join(t1.select(col("doc_id").as("db"), col("tot1").as("tb1")), "db")
      .join(t2.select(col("doc_id").as("da"), col("tot2").as("ta2")), "da")
      .join(t2.select(col("doc_id").as("db"), col("tot2").as("tb2")), "db")
      .select(col("da"), col("db"),
        coalesce(col("ov1"), lit(0L)).as("ov1"),
        round(f(coalesce(col("ov1"), lit(0L)), col("ta1"), col("tb1")), 4)
          .cast("float").as("rouge1_f"),
        coalesce(col("ov2"), lit(0L)).as("ov2"),
        round(f(coalesce(col("ov2"), lit(0L)), col("ta2"), col("tb2")), 4)
          .cast("float").as("rouge2_f"))
  }
}
