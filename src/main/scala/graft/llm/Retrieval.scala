package graft.llm

import graft.{Checkpoints, Rounds}
import graft.queries.QueryPack.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval: Okapi BM25 scoring + top-k per query.
  *
  * The IR workhorse a training-data pipeline runs constantly — mining
  * hard negatives lexically (the sparse twin of
  * [[Similarity.hardNegatives]]), retrieval-based decontamination, and
  * quality-slice queries over a 100 TB corpus ("all docs matching
  * these terms, best first"). Robertson/Spärck Jones BM25 with the
  * standard k1/b parameterization:
  *
  *   score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
  *
  * Scale shape: postings (term, doc, tf) and per-term df are two
  * bounded hash aggregates with map-side combine (the TF-IDF pass's
  * plan, q67); corpus stats (N, avgdl) are a broadcast 1-row frame;
  * the query set joins the postings as a BROADCAST on the term key, so
  * the big side streams map-only into per-(query, doc) partial sums —
  * the only wide shuffle is that sum's, keyed (query_id, doc_id) and
  * bounded by Σ_t df(t) over the query's terms. Ranking keeps a local
  * top-k per partition before the per-query window (the q125
  * two-phase top-k), so no query's full candidate list ever sorts in
  * one task. At corpus scale add a stop-term df cap exactly like
  * [[Dedup.winnowedPairs]]' `maxDf` — a term in half the corpus
  * contributes ~zero idf but full posting-list cost; the fixture's
  * deliberately tiny 31-term vocabulary (every term df ≈ 0.8·N) is
  * the degenerate case where a cap would empty the queries, so the
  * registered query runs uncapped and the cap is the production knob.
  *
  * Determinism: tf, df, dl, N are exact integers; avgdl is one exact
  * integer ratio; scores round to 4 before ranking and doc_id breaks
  * ties, so the emitted ranking is reproducible cross-engine (the
  * q130 selection-key discipline for libm ulp drift).
  */
object Retrieval {

  /** Top-k docs per query by BM25.
    *
    * @param docs    (doc_id, text) corpus
    * @param queries (query_id, term) rows — a query is its DISTINCT
    *                term set (duplicate terms must be pre-deduped;
    *                scoring is set-based, as in the classic model)
    * @param k       results per query
    * @return (query_id, rank, doc_id, n_terms, score) — rank 1..k by
    *         (score desc, doc_id), n_terms = matched query terms
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = TextOps.spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
    // postings + doc length: dl rides the exploded rows (known at
    // explode time), so tf aggregation carries it as a grouping no-op
    val postings = toks
      .select(col("doc_id"), size(col("w")).as("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("w"))).cast("double") / count(lit(1))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfPart = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = postings
      .join(broadcast(queries.join(dfreq, "term")), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms"),
        round(sum(idf * tfPart), 4).as("score"))
    // two-phase top-k: a doc in a query's global top-k is in the
    // top-k of whatever partition holds its (complete) scored row
    val local = Window.partitionBy(spark_partition_id(), col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val global = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("lrk", row_number().over(local)).where(col("lrk") <= k)
      .withColumn("rank", row_number().over(global))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("n_terms"), col("score").cast("float").as("score"))
  }

  /** Query-likelihood ranking with Dirichlet-prior smoothing (Zhai &
    * Lafferty 2001) — the language-modeling twin of [[bm25TopK]],
    * the other classical sparse ranking function real IR stacks run
    * side by side with BM25. Zhai's rank-equivalent decomposition
    * confines scoring to MATCHED postings plus one per-doc length
    * term, so the plan is [[bm25TopK]]'s exactly:
    * {{{
    *   score(q, d) = Σ_{t ∈ q∩d} ln(1 + tf / (μ·p(t|C)))
    *                 + |q| · ln(μ / (dl + μ))
    *   p(t|C) = cf_t / |C|
    * }}}
    * Candidates are docs matching ≥ 1 query term (the standard
    * inverted-index restriction — a zero-match doc scores only its
    * length term and never enters a sane top-k).
    *
    * Scale/determinism contract shared with [[bm25TopK]]: postings /
    * collection frequencies / total-token count are exact integers
    * off two map-side-combined aggregates; the query side broadcasts;
    * scores round to 4 before ranking with doc_id tie-break; the
    * two-phase top-k keeps any query's candidate list out of a
    * single sort task.
    *
    * @return (query_id, rank, doc_id, n_terms, score)
    */
  def qlTopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      mu: Double = 100.0): DataFrame = {
    val toks = TextOps.spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
    val postings = toks
      .select(col("doc_id"), size(col("w")).as("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cf = postings.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val stats = toks.agg(sum(size(col("w"))).as("tot"))
    val nq = queries.groupBy(col("query_id"))
      .agg(count(lit(1)).as("nq"))
    val termPart = log(lit(1.0) + col("tf") /
      (lit(mu) * (col("cf").cast("double") / col("tot"))))
    val scored = postings
      .join(broadcast(queries.join(cf, "term")), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("int").as("n_terms"),
        sum(termPart).as("s1"))
      .join(broadcast(nq), "query_id")
      .withColumn("score", round(col("s1") +
        col("nq") * log(lit(mu) / (col("dl") + lit(mu))), 4))
    val local = Window.partitionBy(spark_partition_id(), col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val global = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("lrk", row_number().over(local)).where(col("lrk") <= k)
      .withColumn("rank", row_number().over(global))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("n_terms"), col("score").cast("float").as("score"))
  }

  /** Deterministic query derivation for the registered audit: every
    * `every`-th doc queries the corpus with the distinct terms of its
    * own first `width` tokens (set semantics — order-free, so both
    * engines derive the identical term set). */
  def sampleQueries(docs: DataFrame, every: Int = 101,
      width: Int = 6): DataFrame =
    docs.where(col("doc_id") % every === 0 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextOps.tokens(col("text")), 1, width)).as("term"))
      .distinct()

  /** Integer DCG discount weights w_r = round(10^6 / log2(r+1)),
    * r = 1..k, computed ONCE at plan-build time in Scala and embedded
    * as the SAME integer literals in both the Spark plan and the
    * DuckDB oracle — so the classic logarithmic NDCG discount carries
    * ZERO cross-engine libm risk (the engines never evaluate log2;
    * they consume identical longs). */
  def dcgWeights(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Offline ranking-quality evaluation — the NDCG@k / MRR report the
    * retrieval family ([[bm25TopK]], [[rrfFuse]], the dense ANN pack)
    * is TUNED by. Graded relevance = `n_terms` (matched query terms —
    * an exact integer already riding the ranked list), gain = 2^rel−1
    * (the burges exponential form), discount = the integer
    * [[dcgWeights]]. Per query:
    *
    *   dcg  = Σ_r w_r · (2^rel_r − 1)         (exact long)
    *   idcg = the same sum with gains sorted descending (exact long;
    *          tie order cannot change the value — equal gains swap)
    *   ndcg = dcg / idcg                       (ONE IEEE division)
    *   self_rank / rr: the rank at which the query retrieved its own
    *          source document (queries are derived FROM documents, so
    *          self-retrieval is ground truth) — MRR's per-query term.
    *
    * Determinism: every sum is a sum of exact longs (order-free); the
    * only float ops are the final ndcg and rr divisions of exact
    * integers + the shared floor(x·1e6+0.5)/1e6 edge. idcg > 0 always
    * (a retrieved doc matched ≥ 1 term) but the guard stays for ANSI.
    *
    * Scale shape: input is already a top-k list (≤ k rows per query),
    * so the whole evaluation is metadata-sized next to retrieval: one
    * ≤ k-row-per-query window + one groupBy on query_id.
    *
    * @param ranked (query_id, rank, doc_id, n_terms, …) top-k list
    * @return (query_id, n_ret, self_rank, rr, dcg, idcg, ndcg)
    */
  def evalRanking(ranked: DataFrame, k: Int = 10): DataFrame = {
    val w = dcgWeights(k)
    val wCol = element_at(array(w.map(lit(_)): _*), col("rank"))
    val g = ranked.select(col("query_id"), col("rank"), col("doc_id"),
      expr("shiftleft(CAST(1 AS BIGINT), n_terms) - 1").as("gain"))
    val ideal = Window.partitionBy(col("query_id"))
      .orderBy(col("gain").desc, col("doc_id"))
    val per = g
      .withColumn("irank", row_number().over(ideal))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("n_ret"),
        max(when(col("doc_id") === col("query_id"), col("rank")))
          .cast("int").as("sr"),
        sum(wCol * col("gain")).as("dcg"),
        sum(element_at(array(w.map(lit(_)): _*), col("irank"))
          * col("gain")).as("idcg"))
    per.select(col("query_id"), col("n_ret"),
      coalesce(col("sr"), lit(-1)).as("self_rank"),
      when(col("sr").isNotNull, r6(lit(1.0) / col("sr"))).as("rr"),
      col("dcg"), col("idcg"),
      when(col("idcg") > 0,
        r6(col("dcg").cast("double") / col("idcg").cast("double")))
        .as("ndcg"))
  }

  /** Average precision / precision / recall @ k against an
    * INDEPENDENT corpus-wide relevance oracle — the missing half of
    * [[evalRanking]]: NDCG/MRR grade what the ranker RETURNED, while
    * recall and AP need to know what it MISSED, so relevance here is
    * re-derived over the whole corpus (rel(q, d) = d matches ≥
    * `minTerms` of q's terms — the same exact integer the ranked
    * list already carries as `n_terms`, extended to every doc).
    *
    * AP is PURE INTEGER fixed point (no float sum over ranks, whose
    * order-dependence would break the hash gate): with c_r = relevant
    * in the top r, term_r = (10⁶·c_r) div r and
    * ap6 = (Σ_{r ≤ k, rel_r} term_r) div min(R, k) — integer `div`
    * truncation is part of the metric's contract, identical in both
    * engines. P@k and recall are single divisions of exact integers
    * at the edge.
    *
    * Scale shape: the relevance recount is one distinct (doc, term)
    * projection joined to the ≤ |Q|·width broadcast term set — the
    * same bounded shape as the scoring join, count-only; everything
    * after runs on ≤ k rows per query.
    *
    * @param ranked  (query_id, rank, doc_id, n_terms, …) top-k list
    * @param docs    (doc_id, text) — the corpus for the recount
    * @param queries (query_id, term) — the query term sets
    * @return (query_id, n_rel_corpus, n_rel_at_k, p_at_k,
    *         recall_at_k, ap_at_k) — NULL recall/AP when R = 0
    */
  def apAtK(ranked: DataFrame, docs: DataFrame, queries: DataFrame,
      k: Int = 10, minTerms: Int = 3): DataFrame = {
    val dt = TextOps.spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .distinct()
    val relAll = dt.join(broadcast(queries), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("nm"))
      .where(col("nm") >= minTerms)
    val rCorpus = relAll.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel_corpus"))
    val rel = ranked.where(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        when(col("n_terms") >= minTerms, 1L).otherwise(0L).as("rel"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val per = rel.withColumn("c", sum(col("rel")).over(wq))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("n_ret"),
        sum(col("rel")).cast("int").as("n_rel_at_k"),
        sum(col("rel") * expr("(1000000 * c) div `rank`")).as("apn"))
    per.join(broadcast(rCorpus), Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel_corpus"))
      .select(col("query_id"), col("n_rel_corpus"), col("n_rel_at_k"),
        r6(col("n_rel_at_k").cast("double") / k).as("p_at_k"),
        when(col("n_rel_corpus") > 0,
          r6(col("n_rel_at_k").cast("double") / col("n_rel_corpus")))
          .as("recall_at_k"),
        when(col("n_rel_corpus") > 0,
          expr(s"apn div least(n_rel_corpus, $k)").cast("double") / 1e6)
          .cast("float").as("ap_at_k"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) — the diversification pass between retrieval and
    * consumption: greedily pick k results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, so the
    * list covers the query instead of repeating its best match.
    *
    * Exact-integer contract throughout (no float anywhere):
    * relevance = per-query min–max-normalized rank score on a 0..10⁴
    * integer grid ((10⁴·(rel−min)) div range); diversity = 3-shingle
    * Jaccard on the SAME grid ((10⁴·|A∩B|) div |A∪B| — set counts
    * from exploded distinct-shingle rows, engine-neutral); objective
    * = 7·rel − 3·maxsim (λ = 0.7 as an integer 7/3 split); argmax =
    * struct-min on (−mmr, doc_id), the deterministic-tie discipline.
    * So every greedy round is bit-exact under the hash gate.
    *
    * Scale shape: candidates are an already-top-k list (≤ k per
    * query), so shingle sets, the ≤ k²-per-query pair similarities,
    * and the k greedy rounds are all metadata-sized next to the
    * retrieval; each round is one bounded groupBy + two bounded
    * joins, checkpointed in a [[graft.Rounds]] loop whose state
    * carries every round's picks (iterative-operator discipline);
    * the state after the k-th pick is never read, so it is never
    * materialized.
    *
    * @param ranked (query_id, rank, doc_id, score, …) top-k list
    * @param docs   (doc_id, text) for the shingle diversity signal
    * @return (query_id, pick_rank, doc_id, mmr_fp)
    */
  def mmrRerank(ranked: DataFrame, docs: DataFrame,
      k: Int = 5): DataFrame = {
    val cand0 = ranked.select(col("query_id"), col("doc_id"),
      floor(col("score") * 1e4 + 0.5).cast("long").as("r0"))
    val bounds = cand0.groupBy(col("query_id"))
      .agg(min(col("r0")).as("rmin"), max(col("r0")).as("rmax"))
    val cand = cand0.join(bounds, "query_id")
      .select(col("query_id"), col("doc_id"),
        when(col("rmax") > col("rmin"),
          expr("(10000 * (r0 - rmin)) div (rmax - rmin)"))
          .otherwise(lit(10000L)).as("rel"))
      .transform(Checkpoints(_))
    // distinct 3-shingle rows for candidate docs only
    val sh = cand.select(col("doc_id")).distinct()
      .join(TextOps.spread(docs.where(col("text").isNotNull)), "doc_id")
      .select(col("doc_id"),
        explode(array_distinct(
          TextOps.shingleMultiset(TextOps.tokens(col("text")), 3)))
          .as("sh"))
      .transform(Checkpoints(_))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val pairs = cand.select(col("query_id"), col("doc_id").as("da"))
      .join(cand.select(col("query_id"), col("doc_id").as("db")),
        "query_id")
      .where(col("da") =!= col("db"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("da"), col("sh")), "da")
      .join(sh.select(col("doc_id").as("db"), col("sh")), Seq("db", "sh"))
      .groupBy(col("query_id"), col("da"), col("db"))
      .agg(count(lit(1)).as("ni"))
    val sims = pairs
      .join(inter, Seq("query_id", "da", "db"), "left_outer")
      .join(sizes.select(col("doc_id").as("da"), col("nsh").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("nsh").as("nb")), "db")
      .select(col("query_id"), col("da").as("doc_id"),
        col("db").as("pd"),
        expr("(10000 * coalesce(ni, 0)) div (na + nb - coalesce(ni, 0))")
          .as("sim"))
      .transform(Checkpoints(_))
    Rounds.accumulate(cand.withColumn("ms", lit(0L)), k) { (state, t) =>
      val pick = state
        .withColumn("mmr", lit(7L) * col("rel") - lit(3L) * col("ms"))
        .groupBy(col("query_id"))
        .agg(min(struct((-col("mmr")).as("nm"), col("doc_id").as("d")))
          .as("p"))
        .select(col("query_id"), col("p.d").as("pd"),
          (-col("p.nm")).as("pmmr"))
      val picked = pick.select(col("query_id"),
        lit(t).cast("int").as("pick_rank"), col("pd").as("doc_id"),
        col("pmmr").as("mmr_fp"))
      (state.join(pick, "query_id")
        .where(col("doc_id") =!= col("pd"))
        .join(sims, Seq("query_id", "doc_id", "pd"), "left_outer")
        .select(col("query_id"), col("doc_id"), col("rel"),
          greatest(col("ms"), coalesce(col("sim"), lit(0L))).as("ms"))
        // no pick reads the state after the last one: left unmaterialized
        .transform(next => if (t < k) Checkpoints(next) else next), picked)
    }._2.reduce(_ unionByName _)
  }

  /** Reciprocal-rank fusion (Cormack et al.) of a sparse and a dense
    * ranking — the standard hybrid-retrieval combiner: score =
    * Σ 1/(K + rank) over the rankers that returned the candidate,
    * which rewards agreement without ever comparing the two rankers'
    * incommensurable raw scores. Determinism: each 1/(K+rank) is ONE
    * IEEE division of exact integers and the fusion is one fixed-order
    * addition, so rrf values are bit-identical cross-engine and the
    * (rrf DESC, doc_id) output order is total; the rounded edge uses
    * the shared floor(x·1e6 + 0.5)/1e6 formula.
    *
    * Scale shape: both inputs are already top-k lists (≤ k rows per
    * query per ranker), so the fusion — one (query, doc)-keyed full
    * outer join + a ≤ 2k-row-per-query window — is metadata-sized next
    * to the retrieval that produced them.
    *
    * @param sparse (query_id, rank, doc_id, …) — e.g. [[bm25TopK]]
    * @param dense  (qid, rank, neighbor_id, …) — e.g.
    *               [[Similarity.bruteForceTopK]]
    * @return (query_id, rank, doc_id, rank_sparse, rank_dense, rrf)
    */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, kConst: Int = 60,
      k: Int = 10): DataFrame = {
    val s = sparse.select(col("query_id"), col("doc_id"),
      col("rank").as("rank_sparse"))
    val d = dense.select(col("qid").as("query_id"),
      col("neighbor_id").as("doc_id"), col("rank").as("rank_dense"))
    val fused = s.join(d, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kConst) + col("rank_sparse")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kConst) + col("rank_dense")),
            lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rank_sparse").cast("int").as("rank_sparse"),
        col("rank_dense").cast("int").as("rank_dense"),
        r6(col("rrf")).as("rrf"))
  }
}
