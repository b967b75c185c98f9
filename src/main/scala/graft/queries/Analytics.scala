package graft.queries

import graft.Checkpoints
import graft.SharedBuilds.memo
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-analytics surface beyond the reference's own query set:
  * exact percentiles, ROLLUP subtotals, pivot tables, and gap-based
  * sessionization — the four shapes analysts reach for first on an
  * event table.
  *
  * Scale shape: percentiles/rollup/pivot are single hash-aggregate
  * passes with map-side partials (pivot's conditional aggregates are
  * codegen'd, no per-value shuffle); sessionization is one shuffle on
  * user_id + two chained window passes over the SAME sort order (one
  * sort, both windows reuse it) and a final partial-aggregated groupBy
  * on (user_id, session) — parallelism = |users|, no global sort.
  */
object Analytics extends QueryPack {

  /** Session gap: a new session starts after 6 h of user inactivity. */
  val sessionGapS = 21600L

  /** The co-purchase pair graph shared by the q170/q172/q183/q194/q209
    * family — parts linked when they co-occur on an order: the
    * DISTINCT directed symmetric pair set (no loops). Five graph
    * queries (× bench samples) consume the SAME frame, so it is a
    * shared build ([[graft.SharedBuilds.memo]]) instead of re-running
    * the lineitem self-join five times. The memoized frame is WEIGHTED
    * (a, b, w = co-occurrence count) — one self-join serves both the
    * unweighted graph family (drops w; the groupBy keys are already
    * distinct) and weighted PageRank.
    *
    * The projection is hash-partitioned on the join key before the
    * self-join: a fixture scan is one row group, so one task reads
    * every row, and a join probed in that scan (a broadcast join's
    * streamed side) runs the join and the pair aggregate's partial on
    * one core. Both sides reuse the one exchange, and the probe runs in
    * every post-shuffle partition. The shuffled hash join is hinted:
    * where the shuffled side is small, AQE would otherwise broadcast
    * it, one more job for the same partition-local join. Its build side
    * is one post-shuffle partition, and no order key is large (at most
    * 17 lines an order in the fixtures), so skew cannot outgrow it.
    */
  private[graft] val coPurchaseEdgesW = memo("copurchase_edges") { (s, d) =>
    val li = t("lineitem")(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey"))
    li.as("a").join(li.as("b").hint("shuffle_hash"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("a"), col("b.l_partkey").as("b"))
      .agg(count(lit(1)).as("w"))
      .transform(Checkpoints(_))
  }

  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    coPurchaseEdgesW(s, d).drop("w")

  /** Memoized triangle bundle (degree table, per-node triangle counts,
    * both checkpointed) over the co-purchase graph — q172 and q183 are
    * the suite's two heaviest queries and differ only in their final
    * metadata-sized composition, yet each used to re-run the whole
    * O(|E|^1.5) wedge+closure machinery (r11 verdict item #3).
    * symmetricDistinct: the co-purchase frame is a groupBy output with
    * both orientations and no loops — the a<b fast path skips the
    * canonicalization dedup exchange (guide §2.4). */
  private val triBundle = memo("tri_bundle") { (s, d) =>
    graft.graph.Triangles.perNodeBundle(coPurchaseEdges(s, d),
      symmetricDistinct = true)
  }

  /** Memoized Brandes bundle (forward dist/σ table + backward
    * per-DAG-edge dependency terms) over the co-purchase graph from
    * the every-1000th-part pivots at radius 3 (halved from
    * every-500th in r14: pivot-sampling error decays as 1/√k while
    * build cost is linear in k, and this one build dominated the
    * bench — 125 s of a 639 s suite in the r13 driver artifact) — q358 (node
    * betweenness), q359 (closeness) and q370 (edge betweenness) all
    * compose from it; without sharing, each re-ran the 7-round
    * forward + 4-level backward iteration (30–40 s each at sf0.1). */
  private val brandesBundle = memo("dist_brandes") { (s, d) =>
    val parts = t("part")(s, d).select(col("p_partkey").as("id"))
    graft.graph.Centrality.brandesTerms(coPurchaseEdges(s, d),
      parts.where(col("id") % 1000 === 0), rounds = 3)
  }

  /** q386's plan-time group list — ORDER matters: the engine's
    * Σ R̄²/n unrolls in this order and the oracle mirrors it. */
  private val kwGroups =
    Seq("click", "error", "purchase", "signup", "view")

  private lazy val kruskalOracle: String = {
    val cs = kwGroups.indices.map(j =>
      s"count(*) FILTER (g = '${kwGroups(j)}') AS c$j").mkString(",\n        |      ")
    val ct = kwGroups.indices.map(j => s"c$j").mkString(" + ")
    val rs = kwGroups.indices.map(j =>
      s"CAST(sum(CAST(c$j AS HUGEINT) * (2 * (rt - ($ct)) + ($ct) + 1)) AS DOUBLE) AS r$j").mkString(",\n        |        ")
    val ns = kwGroups.indices.map(j =>
      s"CAST(sum(c$j) AS BIGINT) AS n$j").mkString(", ")
    val nTot = kwGroups.indices.map(j => s"n$j").mkString(" + ")
    val sumR = kwGroups.indices.map(j =>
      s"(r$j / 2.0) * (r$j / 2.0) / CAST(n$j AS DOUBLE)").mkString(" + ")
    s"""WITH f AS (
       |  SELECT value AS v, event_type AS g FROM events
       |  WHERE event_type IN (${kwGroups.map("'" + _ + "'").mkString(", ")})
       |    AND value IS NOT NULL),
       |c AS (SELECT v,
       |      $cs
       |      FROM f GROUP BY 1),
       |s AS (SELECT *, sum($ct) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
       |      FROM c),
       |m AS (SELECT
       |        $rs,
       |        CAST(sum(CAST($ct AS HUGEINT) * ($ct) * ($ct)
       |          - ($ct)) AS DOUBLE) AS ties,
       |        $ns
       |      FROM s),
       |k AS (SELECT *, CAST($nTot AS DOUBLE) AS nn,
       |        12.0 / (CAST($nTot AS DOUBLE) * (CAST($nTot AS DOUBLE) + 1.0))
       |          * ($sumR)
       |          - 3.0 * (CAST($nTot AS DOUBLE) + 1.0) AS h0
       |      FROM m)
       |SELECT CAST($nTot AS BIGINT) AS n,
       |  CAST(${kwGroups.size} AS INTEGER) AS n_groups,
       |  CAST(round(h0 / (1.0 - ties / (nn * nn * nn - nn)), 4) AS REAL)
       |    AS h,
       |  h0 / (1.0 - ties / (nn * nn * nn - nn)) > 9.487729 AS reject_95
       |FROM k""".stripMargin
  }

  private lazy val benfordOracle: String = {
    // the SAME Scala-rendered log10(1+1/d) doubles the engine plans
    // with — both sides parse the identical decimal string
    val pB = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    val ladder = (18 to 1 by -1).map { k =>
      val p = BigDecimal(10).pow(k).toLongExact
      s"WHEN cv >= $p THEN cv // $p"
    }.mkString("\n       |            ")
    val counts = (1 to 9).map(d =>
      s"count(*) FILTER (d = $d) AS n$d").mkString(", ")
    val nTot = (1 to 9).map(d => s"n$d").mkString(" + ")
    val chi2 = (1 to 9).map { d =>
      val e = s"nn * ${pB(d)}"
      s"(CAST(n$d AS DOUBLE) - $e) * (CAST(n$d AS DOUBLE) - $e) / ($e)"
    }.mkString("\n       |          + ")
    val mad = (1 to 9).map(d =>
      s"abs(CAST(n$d AS DOUBLE) / nn - ${pB(d)})")
      .mkString("\n       |          + ")
    s"""WITH b AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           AS cv
       |  FROM orders WHERE o_totalprice IS NOT NULL),
       |d AS (SELECT CASE
       |            $ladder
       |            ELSE cv END AS d
       |      FROM b WHERE cv > 0),
       |m AS (SELECT $counts FROM d),
       |k AS (SELECT *, CAST($nTot AS DOUBLE) AS nn FROM m),
       |x AS (SELECT $nTot AS n,
       |        $chi2 AS chi2,
       |        ($mad) / 9.0 AS mad
       |      FROM k)
       |SELECT CAST(n AS BIGINT) AS n,
       |  CAST(round(chi2, 4) AS REAL) AS chi2,
       |  CAST(round(mad, 6) AS REAL) AS mad,
       |  chi2 > 15.507313 AS reject_95
       |FROM x""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q15_percentiles" -> ((s, d) => t("events")(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("event_type"), col("n"),
        round(element_at(col("ps"), 1), 4).cast("float").as("p50"),
        round(element_at(col("ps"), 2), 4).cast("float").as("p90"),
        round(element_at(col("ps"), 3), 4).cast("float").as("p99"))),

    // The SCALE path for q15: exact percentile holds every distinct
    // value per group in memory; the bottom-k-by-hash sketch is a
    // deterministic 200-row uniform sample with a real merge (map-side
    // partial aggregation), so the same profile costs one scan at any
    // table size. md5 row-hash order makes the sample — and therefore
    // the estimates — reproducible cross-engine, so even this
    // APPROXIMATE operator carries a full hash-gate oracle.
    "q103_quantile_sketch" -> ((s, d) => {
      val sk = t("events")(s, d).groupBy(col("event_type"))
        .agg(graft.functions.BottomKByHash(
            col("value"), col("event_id"), 200).as("vs"),
          count(lit(1)).as("n_rows"))
      val sorted = sort_array(col("vs"))
      def q(p: Double, name: String) = element_at(sorted,
        (floor(lit(p) * (size(col("vs")) - 1)) + 1).cast("int")).as(name)
      // a group whose values are all NULL yields an empty sketch —
      // drop it (matching the oracle's inner-join semantics) instead of
      // faulting on element_at(arr, 0)
      sk.where(size(col("vs")) > 0)
        .select(col("event_type"), col("n_rows"),
          size(col("vs")).as("n_sample"),
          q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"))
    }),

    // The BUILT-IN event-time session operator (the same session_window
    // function streaming queries use), complementing q18's manual
    // lag+cumsum sessionization. Boundary semantics are the builtin's:
    // windows are half-open [start, last+gap), so an event arriving at
    // EXACTLY prev+gap starts a new session, and comparisons happen at
    // full microsecond precision — the oracle re-derives exactly that.
    "q106_session_window" -> ((s, d) =>
      t("events")(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "6 hours").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).cast("float").as("total_value"))
        .select(col("user_id"),
          col("w.start").cast("long").as("start_s"),
          col("w.end").cast("long").as("end_s"),
          col("n_events"), col("total_value"))),

    // Fixed-point integer PageRank (5 rounds) over the part
    // co-purchase graph — an ITERATIVE graph algorithm whose every
    // arithmetic step is exact 64-bit integer (rank div outdeg,
    // damping as (85·Σ) div 100), so all five rounds sit bit-exact
    // under the hash gate with no float hedge anywhere.
    "q170_pagerank" -> ((s, d) => {
      val e = coPurchaseEdges(s, d)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.graph.PageRank.run(
        t("part")(s, d).select(col("p_partkey").as("id")), e, iters = 5)
    }),

    // WEIGHTED PageRank: the same integer fixed-point walk, mass
    // split proportionally to co-purchase multiplicity — a pair
    // bought together in fifty orders pulls fifty one-off pairs'
    // worth of rank.
    "q235_pagerank_weighted" -> ((s, d) => {
      val e = coPurchaseEdgesW(s, d)
        .select(col("a").as("src"), col("b").as("dst"), col("w"))
      graft.graph.PageRank.runWeighted(
        t("part")(s, d).select(col("p_partkey").as("id")), e, iters = 5)
    }),

    // PERSONALIZED PageRank from the q243 seed hub set: teleport mass
    // lands only on the seeds, so rank = exact-integer proximity to
    // them over the co-purchase graph — the related-entities /
    // recommendation primitive. Same bit-exact fixed-point contract
    // as q170; the seed flag rides the node spine as a broadcast.
    "q252_ppr" -> ((s, d) => {
      val parts = t("part")(s, d).select(col("p_partkey").as("id"))
      val e = coPurchaseEdges(s, d)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.graph.PageRank.runPersonalized(parts, e,
        parts.where(col("id") % 500 === 0), iters = 5)
    }),

    // k-truss peeling (k = 3, 3 rounds) over the REPEAT co-purchase
    // subgraph (w ≥ 2): every surviving edge sits in ≥ 1 triangle of
    // survivors — a stronger community core than k-core's degree
    // peel. Triangle support re-enumerated per round on the shrinking
    // edge set via the degree-oriented bloom-gated stream; exact
    // integer counts only. The fixtures exercise both regimes:
    // triangle-rich at sf0.001, empty truss at sf0.1.
    "q267_ktruss" -> ((s, d) =>
      graft.graph.Truss.kTruss(
        coPurchaseEdgesW(s, d).where(col("w") >= 2)
          .select(col("a"), col("b")), k = 3, rounds = 3)),

    // Resource-Allocation link prediction (Zhou et al. 2009) on the
    // repeat co-purchase subgraph: for non-adjacent pairs, score =
    // Σ 1/deg(z) over common neighbors as the exact long Σ 10⁶ div d
    // — RA is the exact-arithmetic member of the classic index family
    // (Adamic–Adar's 1/ln d would put libm in the sum). Candidates
    // only via wedges (Σ deg² bounded), top-50 TakeOrdered.
    "q268_linkpred" -> ((s, d) =>
      graft.graph.LinkPred.resourceAllocation(
        coPurchaseEdgesW(s, d).where(col("w") >= 2)
          .select(col("a"), col("b")))),

    // Synchronous label-propagation community detection (Raghavan et
    // al. 2007, 4 rounds) on the repeat co-purchase subgraph: labels
    // start as node ids, every node adopts its neighborhood's most
    // frequent label, ties to the smallest — fully deterministic, no
    // RNG/visit order, exact integer labels bit-exact under the hash
    // gate. The assignment-producing community op beside q232's
    // modularity METRIC and q267's structural core.
    "q269_label_prop" -> ((s, d) =>
      graft.graph.LabelProp.run(
        coPurchaseEdgesW(s, d).where(col("w") >= 2)
          .select(col("a"), col("b")), rounds = 4)),

    // One-level Louvain modularity ascent over the same graph as
    // q269 — the OPTIMIZATION member beside the q232 scorer and the
    // q269 LPA heuristic: deterministic community-handshake rounds,
    // exact-integer ΔQ in q232's common-denominator form, guaranteed
    // non-decreasing Q every round.
    "q295_louvain" -> ((s, d) =>
      graft.graph.Louvain.oneLevel(
        coPurchaseEdgesW(s, d).where(col("w") >= 2)
          .select(col("a"), col("b")), rounds = 4)),

    // MULTI-LEVEL Louvain (Blondel et al. 2008, the full algorithm):
    // the q295 level-1 labeling contracted — communities → supernodes,
    // parallel edges → weights, intra edges → self-loops — and a
    // second WEIGHTED handshake ascent on the contracted graph. The
    // contraction preserves M/degree-sums/intra masses, so
    // Q(level 2) ≥ Q(level 1) on the original graph (pinned in
    // LouvainSpec); the level-2 graph is orders of magnitude
    // smaller — the step that makes Louvain tractable at billions of
    // edges.
    "q324_louvain_multilevel" -> ((s, d) =>
      graft.graph.Louvain.twoLevel(
        coPurchaseEdgesW(s, d).where(col("w") >= 2)
          .select(col("a"), col("b")), rounds1 = 4, rounds2 = 4)),

    // The ACTUAL ANF algorithm (Palmer et al. 2002) beside q315's
    // seeded-exact hop plot: every node carries an m = 16 HLL register
    // frame of its h-ball, one register-wise-max round along the edges
    // advances ALL balls at O(|E|·m)/round — full-graph neighborhood
    // function + sketched effective diameter, where exact would be
    // all-pairs BFS. Linear-counting small-range correction as a CASE
    // of plan-time literals (m fixed → 15 possible values of
    // m·ln(m/V) — libm never runs in a query path).
    "q325_anf_diameter" -> ((s, d) =>
      graft.graph.Anf.neighborhood(
        t("part")(s, d).select(col("p_partkey").as("id")),
        coPurchaseEdgesW(s, d).where(col("w") >= 2)
          .select(col("a"), col("b")), rounds = 4)),

    // Deterministic seeded random walks (DeepWalk, Perozzi et al.
    // 2014) from the q243/q252 seed hubs over the full co-purchase
    // graph: 4 hops, next hop = md5-argmin over the neighbor set (the
    // common-random-number discipline of the sampling operators), so
    // the stochastic operator still carries the full hash-gate
    // oracle. The graph-embedding training-corpus generator; isolated
    // seeds keep only their step-0 row (dead-end contract).
    "q270_random_walks" -> ((s, d) =>
      graft.graph.RandomWalk.walks(
        coPurchaseEdges(s, d).select(col("a"), col("b")),
        t("part")(s, d).where(col("p_partkey") % 100 === 0)
          .select(col("p_partkey").as("id")), steps = 4)),

    // Multi-touch attribution: conversion credit for each purchase
    // split across the user's prior-7-day touch channels under all
    // four classic models at once (first/last/linear/U-shaped) in
    // exact integer basis points — every model sums to precisely
    // 10000 per attributed conversion, so the channel totals are
    // bit-exact under the hash gate.
    "q271_attribution" -> ((s, d) =>
      graft.ops.EventAnalytics.attribution(t("events")(s, d))),

    // Sequential patterns (GSP/PrefixSpan class): support counts for
    // ordered length-3 type sequences over gap-rule sessions, each
    // session reduced to its distinct types in first-occurrence
    // order — the sequence-mining report beside q210's exact paths
    // and q175's transition matrix.
    "q272_seq_patterns" -> ((s, d) =>
      graft.ops.EventAnalytics.seqPatterns(t("events")(s, d),
        gapS = sessionGapS)),

    // Poisson-bootstrap CI for the mean event value (Chamandy et al.
    // 2012 — the bootstrap that runs at scale): every row draws a
    // seeded md5 Poisson(1) weight per replicate, 64 replicates ride
    // one pass, CI read off the sorted replicate means. The
    // uncertainty primitive the point estimates lack.
    "q280_bootstrap_ci" -> ((s, d) =>
      graft.ops.Stats.bootstrapMeanCI(t("events")(s, d), "value",
        "event_id")),

    // K-fold leakage-safe target encoding (Micci-Barreca 2001 /
    // CatBoost lineage): smoothed out-of-fold brand→price means over
    // lineitem⋈part, m = 10 prior — the tabular feature encoder
    // whose leakage the q115/q126 audits hunt, prevented by
    // construction.
    "q281_target_encoding" -> ((s, d) => {
      val li = t("lineitem")(s, d)
        .join(broadcast(t("part")(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("fold", pmod(col("l_orderkey"), lit(5L)).cast("int"))
      graft.ops.Stats.targetEncoding(li, "p_brand", "l_extendedprice",
        "fold")
    }),

    // Theil–Sen robust trend of daily revenue (median of pairwise
    // slopes, median-residual intercept): the trend line one outlier
    // day cannot drag, beside q203's least squares — exact-integer
    // inputs, bit-identical IEEE pair slopes, medians as distributed
    // order statistics (never a single-task sort).
    "q285_theil_sen" -> ((s, d) =>
      graft.ops.Stats.theilSen(
        t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
          .withColumn("xd", datediff(col("odate"), lit("1970-01-01"))),
        "xd", "rev")),

    // Mann–Kendall monotone-trend test on the same series: exact
    // integer S and tie-corrected variance numerator, one sqrt at
    // the edge — the nonparametric companion to q285's slope.
    "q286_mann_kendall" -> ((s, d) =>
      graft.ops.Stats.mannKendall(
        t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
          .withColumn("xd", datediff(col("odate"), lit("1970-01-01"))),
        "xd", "rev")),

    // Split conformal prediction (Papadopoulos et al. 2002): per-
    // priority mean fit on fold 0, q̂ = ⌈(n+1)·0.9⌉-th smallest
    // calibration residual on fold 1, distribution-free ±q̂ coverage
    // evaluated on fold 2 — the uncertainty wrapper beside q280's
    // bootstrap and q273's calibration, exact order statistics via
    // the per-value-count scan.
    "q282_conformal" -> ((s, d) =>
      graft.ops.Stats.conformalInterval(
        t("orders")(s, d).withColumn("sp",
          pmod(col("o_orderkey"), lit(3L)).cast("int")),
        "o_orderpriority", "o_totalprice", "sp")),

    // Reliability diagram + ECE (Guo et al. 2017): is the min-max-
    // normalized event value CALIBRATED as a purchase probability?
    // The calibration half of classifier evaluation beside q230's
    // AUC discrimination; score normalization rides two broadcast
    // scalars (the q07 shape), guarded against a constant column.
    "q273_calibration" -> ((s, d) => {
      val ev = t("events")(s, d).where(col("value").isNotNull)
      val mm = broadcast(ev.agg(min("value").as("mn"),
        max("value").as("mx")))
      val scored = ev.crossJoin(mm).select(
        when(col("mx") =!= col("mn"),
          (col("value") - col("mn")) / (col("mx") - col("mn")))
          .otherwise(lit(0.5d)).as("score"),
        (col("event_type") === "purchase").as("label"))
      graft.ops.Stats.calibration(scored, "score", "label", 10)
    }),

    // Murphy decomposition of the Brier score (1973) over the q273
    // scored stream: BS = reliability − resolution + uncertainty —
    // what separates "calibrated but useless" from "sharp": a model
    // can ace q273's ECE with zero resolution. Scores micro-quantized
    // per row FIRST, so the raw Brier sum is an exact integer.
    "q334_brier" -> ((s, d) => {
      val ev = t("events")(s, d).where(col("value").isNotNull)
      val mm = broadcast(ev.agg(min("value").as("mn"),
        max("value").as("mx")))
      val scored = ev.crossJoin(mm).select(
        when(col("mx") =!= col("mn"),
          (col("value") - col("mn")) / (col("mx") - col("mn")))
          .otherwise(lit(0.5d)).as("score"),
        (col("event_type") === "purchase").as("label"))
      graft.ops.Stats.brierDecomposition(scored, "score", "label", 10)
    }),

    // Wilson score interval (1927) per event_type for the proportion
    // of above-mean-value rows — the proportion CI dashboards should
    // use instead of Wald (which collapses near p = 0/1 and small n);
    // the above-mean flag is an exact integer CROSS-MULTIPLY
    // (v4·n > Σv4 — no float mean), z = 1.959964 a plan-time literal.
    "q335_wilson" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      val tot = broadcast(ev.agg(count(lit(1)).as("nn"),
        sum(col("v4").cast("decimal(38,0)")).as("sv")))
      val flagged = ev.crossJoin(tot)
        .select(col("event_type"),
          (col("v4").cast("decimal(38,0)") * col("nn") > col("sv"))
            .as("above"))
      graft.ops.Stats.wilsonInterval(flagged, "event_type", "above")
    }),

    // Sample-ratio-mismatch check (the SRM guardrail of Fabijan et
    // al. 2019 — the first thing every experimentation platform
    // tests, because a broken randomizer invalidates everything
    // downstream): distinct units per arm under the hash split vs
    // the expected 50/50, χ² = (n0 − n1)²/N against the 3.841 1-df
    // critical value — exact counts, ONE IEEE division, the flag
    // compared on the unrounded value.
    "q290_srm" -> ((s, d) => {
      // n = 0 (empty or all-NULL-user events) must yield NULL, not an
      // ANSI divide-by-zero fault — the `when` guard short-circuits
      // the division exactly like the oracle's CASE
      val chi2 = when(col("n") > 0,
        (col("n0") - col("n1")).cast("double") *
          (col("n0") - col("n1")) / col("n"))
      t("events")(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), pmod(col("user_id"), lit(2L)).as("arm"))
        .distinct()
        .agg(count(lit(1)).as("n"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
        .select(col("n").as("n_units"), col("n0"), col("n1"),
          (floor(chi2 * 1e6 + 0.5) / 1e6).cast("float").as("chi2"),
          (chi2 > 3.841459).as("srm_flag"))
    }),

    // mSPRT always-valid sequential test (Johari et al. 2017): the
    // peeking-safe member of the experimentation family beside
    // q288/q290 — daily cumulative two-arm metric stream under the
    // hash split, normal-mixture likelihood ratio, monotone
    // always-valid p inspectable after every day.
    "q296_msprt" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(expr("cast(ts as long) div 86400").as("day"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      graft.ops.Stats.msprt(ev, "day", "arm", "v4", unit = 1e4)
    }),

    // O'Brien–Fleming group-sequential boundaries (1979): the
    // SCHEDULED-interim half of sequential practice beside q296's
    // continuous peeking — five equally-spaced looks over the day
    // span, cumulative two-arm z per look, the conservative-early
    // u_k = C_B·√(K/k) boundary as plan-time literals (Jennison &
    // Turnbull Table 2.3 — no quantile function in any query path).
    "q326_obrien_fleming" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(expr("cast(ts as long) div 86400").as("day"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      graft.ops.Stats.obrienFleming(ev, "day", "arm", "v4",
        unit = 1e4, looks = 5)
    }),

    // Delta-method ratio-metric readout (Deng, Knoblich & Lu 2018):
    // value-per-EVENT under user-level randomization — rows within a
    // user are correlated, so the correct variance comes from the
    // user-level joint (Y_u, N_u) moments, not per-row variance; the
    // missing workhorse beside q288's CUPED and q296's mSPRT.
    "q298_delta_ratio" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      graft.ops.Stats.deltaRatio(ev, "user_id", "arm", "v4",
        unit = 1e4)
    }),

    // Benjamini–Hochberg FDR correction (1995) over the per-segment
    // metric scan: one two-arm z-test per event_type (exact integer
    // moments, A&S 26.2.17 normal tail — exp + a fixed Horner
    // polynomial, no libm erf in either engine), then the step-up
    // adjustment capping the expected false-discovery proportion —
    // the multiple-testing member of the experimentation family.
    "q299_bh_fdr" -> ((s, d) => {
      val dec38 = (c: org.apache.spark.sql.Column) =>
        c.cast("decimal(38,0)")
      val zero38 = lit(0).cast("decimal(38,0)")
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
        .select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      val m = ev.groupBy(col("event_type")).agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, dec38(col("v4"))).otherwise(zero38))
          .as("s0"),
        sum(when(col("arm") === 1, dec38(col("v4"))).otherwise(zero38))
          .as("s1"),
        sum(when(col("arm") === 0,
          (dec38(col("v4")) * col("v4")).cast("decimal(38,0)"))
          .otherwise(zero38)).as("q0"),
        sum(when(col("arm") === 1,
          (dec38(col("v4")) * col("v4")).cast("decimal(38,0)"))
          .otherwise(zero38)).as("q1"))
      def dd(c: String) = col(c).cast("double")
      def mean(a: Int) = dd(s"s$a") / col(s"n$a") / lit(1e4)
      def vr(a: Int) =
        (dd(s"q$a") / col(s"n$a") -
          (dd(s"s$a") / col(s"n$a")) * (dd(s"s$a") / col(s"n$a"))) /
          lit(1e8)
      val both = col("n0") > 0 && col("n1") > 0
      val se = when(both, sqrt(vr(1) / col("n1") + vr(0) / col("n0")))
      val z = when(se > 0, (mean(1) - mean(0)) / se)
      val fam = m.select(col("event_type"),
          (col("n0") + col("n1")).as("n"), z.as("z_u"))
        .withColumn("p_u",
          graft.ops.Stats.normTwoSidedP(col("z_u")))
      graft.ops.Stats.bhFdr(fam, "event_type", "p_u", alpha = 0.1)
        .select(col("event_type"), col("n"),
          (floor(col("z_u") * 1e6 + 0.5) / 1e6).cast("float").as("z"),
          (floor(col("p_u") * 1e6 + 0.5) / 1e6).cast("float")
            .as("p_value"),
          col("m_tests"), col("rank"), col("p_adj"), col("signif"))
    }),

    // Holm step-down FWER correction (1979) over the q299 family:
    // the companion for when even ONE false segment launch is
    // unacceptable — uniformly beats Bonferroni at the same
    // guarantee.
    "q319_holm" -> ((s, d) => {
      val dec38 = (c: org.apache.spark.sql.Column) =>
        c.cast("decimal(38,0)")
      val zero38 = lit(0).cast("decimal(38,0)")
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
        .select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      val m = ev.groupBy(col("event_type")).agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, dec38(col("v4"))).otherwise(zero38))
          .as("s0"),
        sum(when(col("arm") === 1, dec38(col("v4"))).otherwise(zero38))
          .as("s1"),
        sum(when(col("arm") === 0,
          (dec38(col("v4")) * col("v4")).cast("decimal(38,0)"))
          .otherwise(zero38)).as("q0"),
        sum(when(col("arm") === 1,
          (dec38(col("v4")) * col("v4")).cast("decimal(38,0)"))
          .otherwise(zero38)).as("q1"))
      def dd(c: String) = col(c).cast("double")
      def mean(a: Int) = dd(s"s$a") / col(s"n$a") / lit(1e4)
      def vr(a: Int) =
        (dd(s"q$a") / col(s"n$a") -
          (dd(s"s$a") / col(s"n$a")) * (dd(s"s$a") / col(s"n$a"))) /
          lit(1e8)
      val both = col("n0") > 0 && col("n1") > 0
      val se = when(both, sqrt(vr(1) / col("n1") + vr(0) / col("n0")))
      val z = when(se > 0, (mean(1) - mean(0)) / se)
      val fam = m.select(col("event_type"),
          (col("n0") + col("n1")).as("n"), z.as("z_u"))
        .withColumn("p_u",
          graft.ops.Stats.normTwoSidedP(col("z_u")))
      graft.ops.Stats.holmAdjust(fam, "event_type", "p_u",
        alpha = 0.05)
        .select(col("event_type"), col("n"),
          (floor(col("p_u") * 1e6 + 0.5) / 1e6).cast("float")
            .as("p_value"),
          col("m_tests"), col("rank"), col("p_adj"), col("signif"))
    }),

    // Empirical-Bayes shrinkage of per-event-type means (Efron &
    // Morris 1975): small noisy segments borrow strength toward the
    // grand mean — the ranking fix for segment league tables.
    "q320_eb_shrink" -> ((s, d) =>
      graft.ops.Stats.ebShrink(t("events")(s, d), "event_type",
        "value")),

    // Fisher randomization (permutation) test: the EXACT-inference
    // member beside q201's asymptotics and q280's bootstrap — 64
    // seeded unit-level arm re-randomizations ride one pass (the
    // q280 digest packing), p = (1 + #{|Δ_b| ≥ |Δ_obs|}) / 65 with
    // no normality assumption anywhere.
    "q300_permutation_test" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      graft.ops.Stats.permutationTest(ev, "user_id", "arm", "v4",
        unit = 1e4)
    }),

    // EWMA control chart (Roberts 1959) on the q205 daily-revenue
    // series: the native Ema window aggregate seed-resumed at the
    // process mean, exact time-varying limits — the monitoring
    // member beside q205's retrospective CUSUM locator.
    "q302_ewma_chart" -> ((s, d) =>
      graft.ops.Stats.ewmaChart(
        t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("rev")),
        "odate", "rev")),

    // Delete-one-bucket jackknife (Quenouille 1956; Tukey 1958) for
    // the two-arm mean difference: 32 user-hash buckets, each θ_(b)
    // recomputed with the bucket deleted — the assumption-free
    // variance beside q298's delta method.
    "q303_jackknife" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      graft.ops.Stats.jackknifeDiff(ev, "user_id", "arm", "v4",
        unit = 1e4, buckets = 32)
    }),

    // Power / minimum-detectable-effect readout (Kohavi, Tang & Xu
    // 2020 ch. 17): the PLANNING half of the experimentation family —
    // the smallest effect the current per-user sample detects at
    // α=0.05 / 80% power, and the per-arm n a 1%-relative effect
    // would need; z quantiles inlined as shared literals.
    "q305_power_mde" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      graft.ops.Stats.powerMde(ev, "user_id", "arm", "v4", unit = 1e4)
    }),

    // Cochran–Mantel–Haenszel stratified 2×2 (Cochran 1954; Mantel
    // & Haenszel 1959): arm→conversion association CONTROLLING for
    // day-of-week — the Simpson-paradox guard beside q197's marginal
    // χ²; micro-unit integer sums across strata.
    "q308_cmh" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(dayofweek(to_date(col("ts"))).as("dow"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          (col("event_type") === "purchase").as("conv"))
      graft.ops.Stats.cmh(ev, "dow", "arm", "conv")
    }),

    // G-test (log-likelihood ratio) + Cramér's V on q197's
    // event_type × day-of-week table: the LLR twin of Pearson's χ²
    // plus the EFFECT-SIZE readout a bare statistic lacks.
    "q309_gtest" -> ((s, d) =>
      graft.ops.Stats.gTest(
        t("events")(s, d)
          .withColumn("dow", dayofweek(to_date(col("ts")))),
        "event_type", "dow")),

    // Rich-club coefficient (Zhou & Mondragón 2004) of the
    // co-purchase graph: edge density among nodes of degree > k for
    // a threshold ladder — do the hubs form a club? The companion of
    // q307's assortativity, one map sweep for all thresholds.
    "q310_rich_club" -> ((s, d) =>
      graft.graph.Assortativity.richClub(coPurchaseEdges(s, d))),

    // Kendall's τ-b (1938) between daily revenue and daily order
    // count on the bounded series: exact concordant/discordant/tie
    // pair counts, one sqrt at the edge — the pair-counting sibling
    // of q218's Spearman.
    "q311_kendall_tau" -> ((s, d) =>
      graft.ops.Stats.kendallTau(
        t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("rev"),
            count(lit(1)).cast("double").as("cnt")),
        "odate", "rev", "cnt")),

    // Time-decay attribution: the recency-weighted member completing
    // q271's first/last/linear/U-shaped lineup — pure-integer
    // one-day-half-life weights (10⁶/2^days, exact for the 7-day
    // lookback), remainder to the most-recent touch.
    "q312_attribution_decay" -> ((s, d) =>
      graft.ops.EventAnalytics.attributionDecay(t("events")(s, d))),

    // Winsorized two-arm readout (Kohavi et al. 2020 ch. 22): clamp
    // at the EXACT global p99 order statistic (pure-integer rank via
    // the distributed scan), then the capped mean difference + z —
    // the heavy-tail practice every revenue metric ships with.
    "q306_winsorized" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      graft.ops.Stats.winsorizedDiff(ev, "arm", "v4", unit = 1e4)
    }),

    // Degree assortativity (Newman 2002) of the co-purchase graph:
    // Pearson correlation of endpoint degrees over the directed
    // symmetric edge set — the one-number mixing summary beside
    // q172/q183's local clustering.
    "q307_assortativity" -> ((s, d) =>
      graft.graph.Assortativity.degreeCorrelation(
        coPurchaseEdges(s, d))),

    // CATEGORICAL assortativity (Newman 2003's mixing coefficient):
    // do parts co-purchase within their own BRAND? — the attribute
    // sibling of q307's degree mixing, exact-integer
    // (M·Σe_ii − Σa_i²)/(M² − Σa_i²) over the bounded brand×brand
    // mixing matrix.
    "q333_brand_mixing" -> ((s, d) =>
      graft.graph.Assortativity.byCategory(
        coPurchaseEdges(s, d),
        t("part")(s, d).select(col("p_partkey").as("id"),
          col("p_brand").as("cls")))),

    // CUPED variance reduction (Deng et al. 2013): each user's
    // last-15-days metric adjusted by their first-15-days covariate
    // — θ = cov/var over exact per-user integer sums, variance drops
    // by corr² exactly, the sample-size lever every experimentation
    // platform ships.
    "q288_cuped" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts").cast("long").as("tt"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      val t0 = broadcast(ev.agg(min("tt").as("t0")))
      val per = ev.crossJoin(t0).groupBy(col("user_id"))
        .agg(sum(when(col("tt") < col("t0") + 1296000L, col("v4"))
          .otherwise(0L)).as("x"),
          sum(when(col("tt") >= col("t0") + 1296000L, col("v4"))
            .otherwise(0L)).as("y"))
      graft.ops.Stats.cuped(per, "x", "y", unit = 1e4)
    }),

    // Isotonic calibration by pool-adjacent-violators (Ayer et al.
    // 1955; Zadrozny & Elkan 2002): q273's reliability bins pooled
    // until accuracy is non-decreasing in score — the UNIQUE
    // isotonic regression, via exact integer cross-multiple
    // violation tests and 9 fixed leftmost-merge rounds on the
    // metadata-sized block frame.
    "q287_isotonic" -> ((s, d) => {
      val ev = t("events")(s, d).where(col("value").isNotNull)
      val mm = broadcast(ev.agg(min("value").as("mn"),
        max("value").as("mx")))
      val scored = ev.crossJoin(mm).select(
        when(col("mx") =!= col("mn"),
          (col("value") - col("mn")) / (col("mx") - col("mn")))
          .otherwise(lit(0.5d)).as("score"),
        (col("event_type") === "purchase").as("label"))
      graft.ops.Stats.isotonicCalibration(scored, "score", "label", 10)
    }),

    // Kaplan–Meier time-to-conversion: duration = hours from a
    // user's first event to their FIRST purchase (event observed);
    // users who never purchase are right-censored at their last
    // activity — the product-limit curve that counts censoring
    // correctly, beside q174's naive cohort matrix.
    "q274_survival_km" -> ((s, d) => {
      val ev = t("events")(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts").cast("long").as("tt"),
          col("event_type"))
      val per = ev.groupBy("user_id")
        .agg(min("tt").as("ft"), max("tt").as("lt"),
          min(when(col("event_type") === "purchase", col("tt")))
            .as("fp"))
      val subj = per.select(
        when(col("fp").isNotNull, expr("(fp - ft) div 3600"))
          .otherwise(expr("(lt - ft) div 3600")).as("dur"),
        when(col("fp").isNotNull, 1).otherwise(0).as("ev"))
      graft.ops.Stats.kaplanMeier(subj, "dur", "ev")
    }),

    // Item-based collaborative filtering (Sarwar et al. 2001) over
    // the purchase data: recommend to each seed customer the parts
    // most co-purchased with their basket — score(c, p) =
    // Σ_{p' ∈ basket(c)} w(p', p) on the memoized weighted co-purchase
    // edges, owned parts anti-joined out, top-5 by (score desc, p).
    // Exact integer counts end to end; the candidate space is
    // basket(seeds) ⋈ edges — seed-bounded, never all-pairs.
    "q265_itemcf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val basket = t("orders")(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t("lineitem")(s, d)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val seedBasket = basket.where(col("c") % 100 === 0)
        .transform(Checkpoints(_))
      val scores = seedBasket
        .join(coPurchaseEdgesW(s, d)
          .select(col("a").as("p"), col("b").as("cand"), col("w")), "p")
        .groupBy(col("c"), col("cand"))
        .agg(sum(col("w")).as("score"))
        .join(seedBasket.select(col("c"), col("p").as("cand")),
          Seq("c", "cand"), "left_anti")
      val rk = Window.partitionBy(col("c"))
        .orderBy(col("score").desc, col("cand"))
      scores.withColumn("rank", row_number().over(rk).cast("int"))
        .where(col("rank") <= 5)
        .select(col("c").as("custkey"), col("rank"),
          col("cand").as("partkey"), col("score"))
    }),

    // ALS-style implicit-feedback matrix factorization at rank 1
    // (Hu-Koren-Volinsky weighting, 2 alternations) over the
    // customer×part purchase counts — the MODEL-BASED recommendation
    // member beside q265's neighborhood item-CF. Exact fixed-point
    // integer rounds (the q170/q254 discipline): decimal(38,0) sums,
    // integer floor-div solves, per-round renormalization to 10⁶ —
    // bit-exact under the hash gate; the oracle unrolls both rounds
    // as MATERIALIZED CTEs.
    "q385_implicit_mf" -> ((s, d) => {
      val ratings = t("orders")(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t("lineitem")(s, d)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.ImplicitMf.run(ratings, alpha = 10L, iters = 2)
    }),

    // Rank-2 implicit MF (r15): latent 2-vectors, per-entity 2×2
    // normal equations solved by exact-integer Cramer (q391's
    // discipline), dense part as THREE broadcast scalars, per-column
    // renormalization — proving the rank-k generalization claim in
    // ImplicitMf's scale note. Signed factors: Spark `div` and DuckDB
    // `//` both truncate toward zero (spec-pinned), so the
    // quantization agrees on negatives too.
    "q397_implicit_mf2" -> ((s, d) => {
      val ratings = t("orders")(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t("lineitem")(s, d)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.ImplicitMf.run2(ratings, alpha = 10L, iters = 2)
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): the word
    // co-occurrence graph (adjacent tokens, both directions, distinct)
    // run through the exact-integer PageRank — graph-structural
    // keyword salience that needs no training. Composes q170's walk
    // on a text-derived graph; bit-exact like every rank here.
    "q266_textrank" -> ((s, d) => {
      val toks = graft.llm.TextOps.spread(
          t("documents")(s, d).where(col("text").isNotNull))
        .select(graft.llm.TextOps.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 2)
      val bi = toks.select(explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(w[i-1] AS a, w[i] AS b))")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .where(col("a") =!= col("b"))
      // the walk consumes the node spine every round — checkpoint the
      // corpus-derived frames ONCE or each round re-tokenizes the text
      val edges = bi.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(bi.select(col("b").as("src"), col("a").as("dst")))
        .distinct()
        .transform(Checkpoints(_))
      val nodes = edges.select(col("src").as("id")).distinct()
        .transform(Checkpoints(_))
      graft.graph.PageRank.run(nodes, edges, iters = 5)
        .select(col("id").as("word"), col("rank_fp"))
    }),

    // HITS hubs/authorities over the bipartite customer→part purchase
    // graph (the directed graph where the two scores genuinely
    // differ): exact-integer mutual recursion, deterministic-pivot
    // renormalization each half-round — all 5 rounds bit-exact.
    "q256_hits" -> ((s, d) => {
      val e = t("orders")(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(t("lineitem")(s, d)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      graft.graph.Hits.run(
        t("customer")(s, d).select(col("c_custkey").as("id")),
        t("part")(s, d).select(col("p_partkey").as("id")), e, iters = 5)
    }),

    // WEIGHTED shortest paths over the same graph (frontier
    // Bellman–Ford, 3 relaxation rounds): edge length = inverse
    // co-purchase frequency 10⁶ DIV w — strong ties are short — so
    // dist reads "how tightly is this part connected to the seed
    // hubs?". Exact BIGINT distances; same seeds as q209.
    "q243_sssp" -> ((s, d) => {
      val parts = t("part")(s, d).select(col("p_partkey").as("id"))
      val e = coPurchaseEdgesW(s, d)
        .select(col("a"), col("b"), expr("1000000L DIV w").as("len"))
      graft.graph.Sssp.distances(parts, e,
        parts.where(col("id") % 500 === 0), rounds = 3)
    }),

    // Degree-oriented triangle counting over the same co-purchase
    // graph: wedges generate only at each triangle's lowest-(deg, id)
    // corner, so one celebrity part cannot explode the wedge join
    // (O(|E|^1.5) total work vs Σdeg² naive).
    "q172_triangles" -> ((s, d) => {
      val (deg, cnt) = triBundle(s, d)
      graft.graph.Triangles.perNodeFromBundle(deg, cnt)
    }),

    // Local clustering coefficient: q172's triangle machinery + the
    // degree table on ONE canonical edge pass — coef = 2·tri/(d·(d−1)),
    // an exact-integer ratio, cross-engine exact after rounding. Shares
    // the memoized wedge-join output with q172 (bundle cache above).
    "q183_clustering_coef" -> ((s, d) => {
      val (deg, cnt) = triBundle(s, d)
      graft.graph.Triangles.clusteringCoefFromBundle(deg, cnt)
    }),

    // Global transitivity (Newman 2003): 3·triangles / wedges — the
    // graph-level triangle-density number beside q183's per-node
    // coefficients, composed from the SAME memoized bundle with zero
    // extra wedge work (two metadata-sized aggregates).
    "q329_transitivity" -> ((s, d) => {
      val (deg, cnt) = triBundle(s, d)
      graft.graph.Triangles.transitivityFromBundle(deg, cnt)
    }),

    // k-core of the co-purchase graph (k=80): iterative peel — degree
    // aggregate + two semi-joins per round, lineage checkpointed —
    // separating genuinely dense part communities from star noise a
    // raw degree filter can't tell apart. Fixed point within the
    // round cap == the true 80-core; oracle unrolls the same peel.
    "q194_kcore" -> ((s, d) =>
      graft.graph.KCore.kCore(coPurchaseEdges(s, d), k = 80,
        maxRounds = 8, symmetricDistinct = true)),

    // Burstiness forensics: B = (σ−μ)/(σ+μ) of per-user inter-event
    // gaps — exact integer moments, fixed IEEE edge; metronome bots
    // read −1, Poisson 0, bursty humans → 1.
    "q234_burstiness" -> ((s, d) =>
      graft.ops.EventAnalytics.burstiness(t("events")(s, d))),

    // Modularity of the brand partition on the co-purchase graph:
    // "are co-purchases brand-assortative?" — exact integer
    // (M·Σe_c − Σd_c²)/M² over two bounded aggregates on the shared
    // edge fixture.
    "q232_modularity" -> ((s, d) =>
      graft.graph.Modularity.byPartition(coPurchaseEdges(s, d),
        t("part")(s, d).select(col("p_partkey").as("id"),
          col("p_brand").as("community")))),

    // First-touch funnel view → click → purchase within 3 days of the
    // first view: k user-keyed min-aggregate joins, no per-user sort.
    "q173_funnel" -> ((s, d) => graft.ops.EventAnalytics.funnel(
      t("events")(s, d), Seq("view", "click", "purchase"), 259200L)),

    // Cohort retention matrix (first-activity cohorts × day offsets):
    // two bounded aggregates, days²-cell output at any stream size.
    "q174_retention" -> ((s, d) =>
      graft.ops.EventAnalytics.retention(t("events")(s, d))),

    // Funnel drop-off at SESSION granularity: q18's gap rule + the
    // q173 step chain per session, reported as the per-step conversion
    // table. Fractions are exact-count ratios.
    "q187_funnel_dropoff" -> ((s, d) =>
      graft.ops.EventAnalytics.funnelDropoff(t("events")(s, d),
        Seq("view", "click", "purchase"), sessionGapS)),

    // Market-basket association rules over order×part baskets:
    // support/confidence/lift from exact basket counts; pair fan-out
    // bounded by basket width², minCount applied post-partial-agg.
    "q188_basket_rules" -> ((s, d) =>
      graft.ops.EventAnalytics.basketRules(t("lineitem")(s, d),
        "l_orderkey", "l_partkey")),

    // Robust per-type outlier audit: median/MAD with the
    // Iglewicz–Hoaglin 3.5 rule — stats rounded BEFORE the threshold
    // compare so the flag rule is cross-engine exact.
    "q180_outliers" -> ((s, d) => graft.quality.DataQuality
      .robustOutliers(t("events")(s, d), "value", "event_type")),

    // Rolling 7-day distinct actives (the WAU curve): bounded 7×
    // explode of the distinct activity frame + one per-day distinct
    // count; the KMV sketch is the documented extreme-scale swap.
    "q178_rolling_actives" -> ((s, d) =>
      graft.ops.EventAnalytics.rollingActives(t("events")(s, d), 7)),

    // First-order event-type transition matrix, row-normalized:
    // |types|² output rows; the lead window and the bigram count are
    // the only shuffles.
    "q175_transitions" -> ((s, d) =>
      graft.ops.EventAnalytics.transitions(t("events")(s, d))),

    "q16_rollup" -> ((s, d) => t("lineitem")(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).cast("float").as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .cast("float").as("revenue"))),

    "q17_pivot" -> ((s, d) => t("events")(s, d)
      .withColumn("user_bucket", pmod(col("user_id"), lit(10)).cast("int"))
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(avg("value"), 4).cast("float"))),

    // Skew-mitigation primitives under the oracle gate: the salted
    // plans must produce EXACTLY the unsalted answers.
    "q19_skew_distinct" -> ((s, d) =>
      graft.ops.Skew.saltedDistinctCount(
        t("events")(s, d), key = "event_type", value = "user_id", salts = 32)),

    "q25_salted_join" -> ((s, d) =>
      graft.ops.Skew.saltedJoin(
        t("lineitem")(s, d), t("part")(s, d).withColumnRenamed("p_partkey", "l_partkey"),
        key = "l_partkey", salts = 8)
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .cast("float").as("revenue"))),

    // Revenue concentration: Gini + top-1%/10% shares of per-customer
    // revenue — global ranks off the distributed scan (no
    // single-partition window), decimal moments, closed-form Gini.
    "q200_gini" -> ((s, d) => {
      val units = t("orders")(s, d)
        .groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
      graft.ops.Concentration.gini(units, "cents", "o_custkey")
    }),

    // Herfindahl–Hirschman concentration of lineitem revenue by
    // brand (Hirschman 1945): HHI = Σx_g²/(Σx)² exact to the one
    // division, + the effective-number inverse and top share — the
    // antitrust/marketplace-health number beside q200's Gini.
    "q322_hhi" -> ((s, d) => {
      val rev = t("lineitem")(s, d)
        .join(broadcast(t("part")(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
      graft.ops.Concentration.hhi(rev, "cents")
    }),

    // Theil T inequality (1967) of per-customer revenue: the
    // entropy-based measure that decomposes additively across
    // subgroups — q200's Gini companion, micro-unit term sums.
    "q323_theil" -> ((s, d) => {
      val units = t("orders")(s, d)
        .groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
      graft.ops.Concentration.theil(units, "cents")
    }),

    // Distributed global prefix scan: cumulative revenue by order day
    // WITHOUT the single-partition window — range-repartition, local
    // scans, a metadata-sized offset scan broadcast back. Daily sums
    // carried as DECIMAL so the running total is exact.
    "q198_running_total" -> ((s, d) => {
      val daily = t("orders")(s, d)
        .groupBy(to_date(col("o_orderdate")).as("odate"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      graft.ops.Scan.globalRunningSum(daily, Seq("odate"), col("rev"),
          run = "run_rev")
        .select(col("odate"), col("n_orders"),
          col("rev").cast("double").cast("float").as("rev"),
          col("run_rev").cast("double").cast("float").as("run_rev"))
    }),

    // Exact two-sample KS test (view vs purchase value distributions):
    // per-value counts + ONE global scan carrying both ECDFs — never a
    // per-sample single-task sort; D attained at a sample point, the
    // max argmin'd by struct comparison.
    "q199_ks_test" -> ((s, d) =>
      graft.ops.Scan.ksTest(t("events")(s, d), "value", "event_type",
        "view", "purchase")),

    // χ² independence audit: event mix × weekday — exact-integer
    // contingency cells, IEEE-deterministic expectations, per-cell
    // contributions rounded then DECIMAL-summed (order-independent)
    // into the headline statistic.
    "q197_chi2" -> ((s, d) =>
      graft.ops.Stats.chiSquare(
        t("events")(s, d).withColumn("dow", dayofweek(to_date(col("ts")))),
        "event_type", "dow")),

    // Interval-overlap join: browse sessions × purchase sessions per
    // user — each side sessionized by the q18 gap rule over its own
    // event subset, then bucket-replicated and equi-joined with the
    // overlap attributed at its start bucket (no dedup shuffle).
    "q195_interval_overlap" -> ((s, d) => {
      def sess(types: Seq[String], sidCol: String, sC: String, eC: String,
          nC: String) = {
        val ev = t("events")(s, d)
          .where(col("event_type").isin(types: _*))
          .select(col("user_id"), col("ts").cast("long").as("ts_s"),
            col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
        val prev = lag(col("ts_s"), 1).over(w)
        val isNew = when(prev.isNull || col("ts_s") - prev > sessionGapS, 1L)
          .otherwise(0L)
        ev.withColumn("sid", sum(isNew).over(w))
          .groupBy(col("user_id"), col("sid").as(sidCol))
          .agg(min("ts_s").as(sC), max("ts_s").as(eC),
            count(lit(1)).as(nC))
      }
      val browse = sess(Seq("view", "click"), "lsid", "ls", "le", "ln")
      val buy = sess(Seq("purchase"), "rsid", "rs", "re", "rn")
      graft.ts.IntervalJoin.overlaps(browse, buy, "user_id", sessionGapS)
        .select(col("user_id"), col("lsid"), col("rsid"),
          col("ls"), col("rs"),
          (least(col("le"), col("re")) - greatest(col("ls"), col("rs")))
            .as("overlap_s"),
          col("ln"), col("rn"))
    }),

    // Interval UNION length: every event opens a 1-hour activity
    // window; per user, the merged coverage (overlaps collapse, the
    // statistic sum(e-s) double-counts) via the one-window-pass
    // island sweep — exact integer seconds under the hash gate.
    "q228_interval_union" -> ((s, d) => {
      val iv = t("events")(s, d)
        .select(col("user_id").as("id"), col("ts").cast("long").as("s"))
        .withColumn("e", col("s") + 3600L)
      graft.ts.IntervalJoin.unionLength(iv)
    }),

    // Welch's two-sample t (view vs purchase value): one map-side-
    // combined aggregate over exact cent moments; t/dof a fixed IEEE
    // sequence over them (ops/Stats scaladoc).
    "q201_welch_ttest" -> ((s, d) =>
      graft.ops.Stats.welchT(t("events")(s, d), "value", "event_type",
        "view", "purchase")),

    // Mann–Whitney U with midranks from per-value counts + ONE
    // distributed global scan — never a per-sample global sort; all
    // rank moments exact integers (half-rank units).
    "q202_mann_whitney" -> ((s, d) =>
      graft.ops.Stats.mannWhitneyU(t("events")(s, d), "value",
        "event_type", "view", "purchase")),

    // Jarque–Bera normality test (1980): skew/kurtosis off exact
    // cent moments — the moment-based check that tells you when the
    // z/t readouts need the q306 winsorize or q300 permutation
    // fallback.
    "q317_jarque_bera" -> ((s, d) =>
      graft.ops.Stats.jarqueBera(t("events")(s, d), "value")),

    // Kruskal–Wallis H across ALL FIVE event types — the k-group
    // member completing the rank-test family (q202 two-group U, q318
    // Wilcoxon paired, q349 Levene): same midrank machinery (per-value
    // counts + one global scan, 2× integer rank units), Σ R̄²/n
    // unrolled over the plan-time group list on a one-row frame.
    "q386_kruskal_wallis" -> ((s, d) =>
      graft.ops.Stats.kruskalWallis(t("events")(s, d), "value",
        "event_type", kwGroups)),

    // Benford first-digit conformity of order totals: exact integer
    // cents, plan-time CASE ladder for the digit, χ²(8) + Nigrini MAD
    // against the log10(1+1/d) literals.
    "q387_benford" -> ((s, d) =>
      graft.ops.Stats.benford(t("orders")(s, d), "o_totalprice")),

    // Chunked RANGE JOIN: event values routed into a DERIVED decile
    // band table (exact order-statistic boundaries) via the
    // band→chunk explode + hash equi-join rewrite — the plan device
    // Spark lacks natively (a raw lo<=v<hi join plans as
    // BroadcastNestedLoopJoin probing every band per row). PlanSpec
    // gates the equi-join shape.
    "q396_range_join" -> ((s, d) =>
      graft.ops.RangeJoin.bandRollup(t("events")(s, d), "value")),

    // Logistic regression (purchase probability vs event value) fit
    // by TWO Newton steps, fully distributed: five pico-floored
    // sufficient statistics per step + a closed-form Cramer solve; β
    // threads between steps as a broadcast one-row frame (never a
    // driver collect). Step 1 at β = 0 is libm-free (p = 1/2
    // everywhere); step 2's σ runs on bit-identical double inputs.
    "q391_logistic" -> ((s, d) =>
      graft.ops.MlLite.logisticNewton(t("events")(s, d), "value",
        col("event_type") === "purchase")),

    // CART decision stump (best "value ≤ v" split for purchase vs
    // rest by weighted Gini): per-value class counts + the global
    // prefix scan give every candidate's exact left/right counts;
    // the score is an exact integer div, so the argmax is an integer
    // compare under a (score desc, value asc) total order.
    "q392_decision_stump" -> ((s, d) =>
      graft.ops.MlLite.decisionStump(t("events")(s, d), "value",
        col("event_type") === "purchase")),

    // Gap-rule sessionization run through the STREAMING keyed-state
    // operator (graft.stream.Sessions — flatMapGroupsWithState with
    // event-time timeouts) in its batch-parity form: emits exactly
    // the GAP-CLOSED sessions (each user's trailing session is the
    // one a live stream would still hold open; the timeout path that
    // eventually closes it is pinned by SessionsSpec).
    "q388_stream_sessions" -> ((s, d) =>
      graft.stream.Sessions.gapSessions(
        t("events")(s, d).select(col("ts"), col("user_id"),
          col("event_id")), gapSeconds = 21600L).toDF()),

    // Per-user alert throttling (1 h cooldown, greedy: the first
    // event passes, suppressed events don't reset the clock) — the
    // batch-parity form of the transformWithState streaming
    // suppressor (graft.stream.Throttle, this engine's first TWS
    // user); the oracle unrolls the greedy recursion per user.
    "q395_alert_throttle" -> ((s, d) =>
      graft.stream.Throttle.throttledBatch(
        t("events")(s, d).select(col("ts"), col("user_id"),
          col("event_id")), cooldownS = 3600L).toDF()),

    // STREAMING ANN ADMISSION in its batch-parity form (r15): each
    // doc fingerprints to a 64-bit SimHash, keys by its leading
    // 16-bit band, and is admitted iff no previously-ADMITTED
    // fingerprint in its bucket sits within Hamming 3 — greedy over
    // admitted-only state (the q395 shape), folding in doc_id order.
    // The online twin (transformWithState, per-bucket ListState,
    // TTL eviction) is pinned by AnnAdmissionSpec; the oracle unrolls
    // the greedy recursion per bucket carrying the admitted LIST.
    "q400_ann_admission" -> ((s, d) =>
      graft.stream.AnnAdmission.admittedBatch(
        t("documents")(s, d), maxHamming = 3).toDF()),

    // MULTI-BAND admission (r16 — closes q400's honestly-documented
    // single-band miss): all 4 16-bit bands of the 64-bit SimHash run
    // the greedy fold per (band, value) bucket, then a doc-keyed
    // arbiter admits iff NO band found an admitted neighbor. By
    // pigeonhole (maxHamming 3 < 4 bands) candidate coverage is
    // complete, and two arbiter-admitted docs can never sit within
    // Hamming 3 (see AnnAdmission's invariant note). The oracle runs
    // the q400 recursion per (band, value) bucket and folds the four
    // flags with bool_and.
    "q407_ann_admission_bands" -> ((s, d) =>
      graft.stream.AnnAdmission.admittedBatchBands(
        t("documents")(s, d), maxHamming = 3)),

    // Isotonic calibration, CLOSED FORM (r15): reliability bins (the
    // q379 integer rank rule, 50 bins) + pool-adjacent-violators via
    // the Robertson–Wright–Dykstra minimax identity, all on
    // micro-floored exact integers (floor is monotone, so the integer
    // minimax IS the floored PAV fit). The one-shot zero-iteration
    // twin of q287's leftmost-violator rounds — same unique fixed
    // point, independently derived, no checkpointed loop in the plan.
    "q403_isotonic" -> ((s, d) =>
      graft.ops.Calibration.isotonicBins(t("events")(s, d), "value",
        col("event_type") === "purchase", nBins = 50)),

    // Split-conformal threshold (r15): the ⌈(n+1)(1−α)⌉-th smallest
    // calibration score (α = 10%, exact integer rank rule) plus the
    // held-out coverage audit — the finite-sample-guaranteed gate a
    // score-based admission pipeline should prefer over an ad-hoc
    // percentile.
    "q404_conformal" -> ((s, d) =>
      graft.ops.Calibration.conformalThreshold(t("events")(s, d),
        "value", col("event_id") % 5 === 0, alphaPct = 10)),

    // Cliff's delta (1993): the ordinal effect size companion of
    // q202's U — same view-vs-purchase split, exact pair counting
    // via the scan, never a pair join.
    "q318_cliffs_delta" -> ((s, d) =>
      graft.ops.Stats.cliffsDelta(t("events")(s, d), "value",
        "event_type", "purchase", "view")),

    // Exact ROC-AUC: does event value separate purchases from the
    // rest? The q202 midrank scan normalized to P(pos > neg).
    "q230_auc" -> ((s, d) =>
      graft.ops.Stats.auc(
        t("events")(s, d).withColumn("pos",
          col("event_type") === "purchase"),
        "value", "pos")),

    // Per-returnflag OLS of extendedprice on quantity: six exact
    // decimal moments in one groupBy, slope/intercept/r² at the edge.
    "q203_ols" -> ((s, d) =>
      graft.ops.Stats.olsFit(t("lineitem")(s, d), "l_quantity",
        "l_extendedprice", "l_returnflag")),

    // Daily-revenue autocorrelation at lags 1..7: the heavy reduction
    // is the day groupBy; the ACF runs on the metadata-sized series.
    "q204_acf" -> ((s, d) =>
      graft.ops.Stats.acf(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev", 7)),

    // PACF by plan-time-unrolled Durbin-Levinson over the q204 daily
    // series: the ARIMA order-identification readout — where the PACF
    // cuts off is how many AR terms the series needs; a fixed IEEE
    // algebra over the ACF's round-4 values on a one-row frame.
    "q337_pacf" -> ((s, d) =>
      graft.ops.Stats.pacf(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev", 5)),

    // Ljung–Box portmanteau over the q204 ACF: is the daily-revenue
    // series white noise AT ALL — the joint test the per-lag readout
    // can't make; lag sum plan-time unrolled on the pivoted one-row
    // frame, reject flag vs the plan-time χ²(7) literal.
    "q344_ljung_box" -> ((s, d) =>
      graft.ops.Stats.ljungBox(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev", 7)),

    // Dickey–Fuller unit-root test + AR(1) half-life on daily revenue:
    // Δy on y_{t−1} from exact DECIMAL moments, t vs the asymptotic
    // τ_μ literal — random walk or mean-reverting, and how fast.
    "q345_dickey_fuller" -> ((s, d) =>
      graft.ops.Stats.dickeyFuller(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev")),

    // Lo–MacKinlay variance ratio VR(5): q-period vs 1-period change
    // variance off exact difference moments — horizon-5 momentum or
    // reversion in one number.
    "q346_variance_ratio" -> ((s, d) =>
      graft.ops.Stats.varianceRatio(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev", 5)),

    // Hurst exponent by rescaled range over block sizes 8/16/32:
    // every block's R/S is ONE IEEE division of exact integers
    // (m·Z_k and m²·var are exact), micro-floored cross-block means,
    // H from the collapsed 3-point log-log slope.
    "q347_hurst" -> ((s, d) =>
      graft.ops.Stats.hurstRs(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev")),

    // Discrete periodogram at periods 2..10 on mean-centered daily
    // revenue: per-row cos/sin products floor-scaled to integers
    // before the cross-row sums (bit-identical libm args in both
    // engines), dominant-period argmax flag.
    "q348_periodogram" -> ((s, d) =>
      graft.ops.Stats.periodogram(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev", 10)),

    // Levene's equal-variance gate in front of the q217/q201 family:
    // one-way ANOVA on |x − x̄_g| with the exact n·z trick per group
    // and centi-floored cross-group sums.
    "q349_levene" -> ((s, d) =>
      graft.ops.Stats.levene(t("events")(s, d), "value", "event_type")),

    // Cochran–Armitage: does purchase share TREND across the week —
    // the ordered-factor question q197's χ² ignores; exact integer
    // T·N over the bounded weekday frame.
    "q350_cochran_armitage" -> ((s, d) =>
      graft.ops.Stats.cochranArmitage(t("events")(s, d)
          .where(col("ts").isNotNull)
          .withColumn("wd", dayofweek(col("ts")))
          .withColumn("is_purchase", col("event_type") === "purchase"),
        "wd", "is_purchase")),

    // McNemar paired flip test: same users, purchase in the first vs
    // second half of the window — integer-compare half split, exact
    // discordant counts, continuity-corrected χ² vs the χ²(1) literal.
    "q351_mcnemar" -> ((s, d) => {
      val ev = t("events")(s, d).where(col("user_id").isNotNull &&
        col("ts").isNotNull)
      val b0 = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      val pairs = ev.crossJoin(broadcast(b0))
        .groupBy(col("user_id"))
        .agg(
          (max(when(col("event_type") === "purchase" &&
            datediff(to_date(col("ts")), col("d0")) * 2 <
              datediff(col("d1"), col("d0")), 1).otherwise(0)) === 1)
            .as("y1"),
          (max(when(col("event_type") === "purchase" &&
            datediff(to_date(col("ts")), col("d0")) * 2 >=
              datediff(col("d1"), col("d0")), 1).otherwise(0)) === 1)
            .as("y2"))
      graft.ops.Stats.mcnemar(pairs)
    }),

    // Durbin–Watson on the daily-revenue TREND residuals — the serial-
    // correlation diagnostic that decides whether q203-style standard
    // errors mean anything; centi-floored residuals, exact sums.
    "q352_durbin_watson" -> ((s, d) =>
      graft.ops.Stats.durbinWatson(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev")),

    // Breusch–Pagan: do the q203-fit residual SQUARES trend with
    // quantity — the heteroskedasticity half of the diagnostic pair;
    // floored residuals make the aux moments exact.
    "q353_breusch_pagan" -> ((s, d) =>
      graft.ops.Stats.breuschPagan(t("lineitem")(s, d),
        "l_quantity", "l_extendedprice")),

    // Grubbs single-outlier screen on order totals: exact integer
    // deviation argmax, G one IEEE division of exact values.
    "q354_grubbs" -> ((s, d) =>
      graft.ops.Stats.grubbs(t("orders")(s, d), "o_totalprice")),

    // TOST equivalence: is purchase value equivalent to view value
    // within ±$5 — the non-inferiority question a failed t-test
    // cannot answer; both one-sided t's vs the z₀.₉₅ literal.
    "q360_tost" -> ((s, d) =>
      graft.ops.Stats.tost(t("events")(s, d), "value", "event_type",
        "view", "purchase", margin = 5.0)),

    // Cohen's d + Hedges' g: the parametric effect-size companion of
    // q318's Cliff's δ on the same arm split.
    "q361_cohens_d" -> ((s, d) =>
      graft.ops.Stats.cohensD(t("events")(s, d), "value", "event_type",
        "view", "purchase")),

    // Fixed-effect inverse-variance meta-analysis across weekday
    // segments + Cochran's Q / I² heterogeneity: do the segments even
    // agree on the purchase−view effect; micro-floored weights.
    "q362_meta_fixed" -> ((s, d) =>
      graft.ops.Stats.metaFixed(t("events")(s, d)
          .where(col("ts").isNotNull)
          .withColumn("wd", dayofweek(col("ts"))),
        "wd", "value", "event_type", "view", "purchase")),

    // Wilcoxon signed-rank on per-user value change between window
    // halves — the paired nonparametric sibling of q202; midranks via
    // the distributed scan, tie-corrected normal approximation.
    "q363_wilcoxon_signed" -> ((s, d) => {
      val ev = t("events")(s, d).where(col("user_id").isNotNull &&
        col("ts").isNotNull && col("value").isNotNull)
      val b0 = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      val z = lit(0).cast("decimal(18,2)")
      val early = datediff(to_date(col("ts")), col("d0")) * 2 <
        datediff(col("d1"), col("d0"))
      val pairs = ev.crossJoin(broadcast(b0))
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(early, col("value").cast("decimal(18,2)"))),
            z).as("x1"),
          coalesce(sum(when(!early, col("value").cast("decimal(18,2)"))),
            z).as("x2"))
      graft.ops.Stats.wilcoxonSignedRank(pairs)
    }),

    // Spectral entropy over the q348 grid: one-number forecastability
    // triage — flat spectrum ⇒ don't bother modeling seasonality.
    "q364_spectral_entropy" -> ((s, d) =>
      graft.ops.Stats.spectralEntropy(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev", 10)),

    // Shewhart X̄ chart on daily order-value subgroups: the scheduled
    // SPC companion of q302's EWMA — big shifts flag immediately;
    // squared-form decision, no sqrt in the flag.
    "q365_xbar_chart" -> ((s, d) =>
      graft.ops.Stats.xbarChart(t("orders")(s, d)
          .withColumn("odate", to_date(col("o_orderdate"))),
        "odate", "o_totalprice")),

    // RFM quintile segmentation per customer: three exact-integer
    // quintile scans (never an ntile sort), tied values share bins
    // by construction.
    "q366_rfm" -> ((s, d) =>
      graft.ops.Segmentation.rfmQuintiles(t("orders")(s, d))),

    // Funnel time-to-convert quantiles (first view → first purchase
    // at-or-after): exact order statistics off the distributed scan.
    "q367_time_to_convert" -> ((s, d) =>
      graft.ops.Segmentation.timeToConvert(t("events")(s, d),
        "view", "purchase")),

    // GROUPING SETS completes the grouping matrix beside q16's ROLLUP
    // and q206's CUBE: two independent marginals + the grand total in
    // ONE Expand pass — never three scans unioned.
    "q372_grouping_sets" -> ((s, d) => t("lineitem")(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).cast("float").as("sum_qty"))),

    // Granger lag-1 F test: does yesterday's ORDER COUNT improve
    // today's revenue prediction beyond yesterday's revenue —
    // restricted-vs-unrestricted SSE off ten exact moments, Cramer
    // closed form, one-row frame.
    "q369_granger" -> ((s, d) =>
      graft.ops.Stats.grangerLite(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
            count(lit(1)).as("n_orders")),
        "odate", "rev", "n_orders")),

    // Seeded EDGE betweenness (the Girvan–Newman splitting signal):
    // the q358 backward terms emitted per undirected edge instead of
    // accumulated per node — same exact micro-unit integer floor-div.
    "q370_edge_betweenness" -> ((s, d) =>
      graft.graph.Centrality.edgeBetweennessFrom(
        brandesBundle(s, d)._2)),

    // Per-event-type skewness/kurtosis — the distribution-shape
    // profile per segment beside the global q317 JB; exact cent
    // raw moments to the 4th power.
    "q381_group_moments" -> ((s, d) =>
      graft.ops.Stats.groupMoments(t("events")(s, d), "value",
        "event_type")),

    // Median absolute deviation of order totals — the robust scale
    // the z family falls back to on heavy tails: two distributed
    // order-statistic scans, exact integers to the edge.
    "q382_mad" -> ((s, d) =>
      graft.ops.Stats.medianAbsDeviation(t("orders")(s, d),
        "o_totalprice")),

    // Cohort LTV curves — q174's retention matrix with MONEY: exact
    // cent sums per (cohort, offset), cumulative per cohort, LTV per
    // member; "when does a cohort pay back".
    "q380_cohort_ltv" -> ((s, d) =>
      graft.ops.EventAnalytics.cohortLtv(t("events")(s, d))),

    // Binary segmentation over the q205 CUSUM: split at the global
    // argmax, re-run the CUSUM INSIDE each half from the SAME scan —
    // segment-local statistics are exact algebra on the global prefix
    // sums plus the broadcast split row; three changepoints, one scan.
    "q377_binary_seg" -> ((s, d) =>
      graft.ops.Stats.binarySegmentation(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev")),

    // Session bounce-rate rollup over the shared gap-rule sessions:
    // single-event share, events/session, duration — the engagement
    // headline trio beside q18/q210.
    "q378_bounce_rate" -> ((s, d) =>
      graft.ops.Segmentation.bounceRate(t("events")(s, d),
        sessionGapS)),

    // Pareto concentration deciles (the 80/20 curve beside Gini/HHI):
    // rank deciles by the integer rule off one distributed scan,
    // per-decile and cumulative revenue shares.
    "q379_pareto" -> ((s, d) =>
      graft.ops.Segmentation.paretoDeciles(t("orders")(s, d))),

    // CUSUM mean-shift changepoint on the same daily series: argmax
    // |Σ(xᵢ−x̄)| carried as the EXACT integer n·runₖ−k·t, scan via the
    // distributed two-level prefix sum.
    "q205_cusum" -> ((s, d) =>
      graft.ops.Stats.cusumChangepoint(t("orders")(s, d)
          .groupBy(to_date(col("o_orderdate")).as("odate"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev")),
        "odate", "rev")),

    // CUBE completes the grouping-sets matrix next to q16's ROLLUP:
    // all four (flag, status) subtotal combinations in one Expand pass.
    "q206_cube" -> ((s, d) => t("lineitem")(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).cast("float").as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .cast("float").as("revenue"))),

    // Equi-depth 10-bucket histogram of order totalprice: per-value
    // counts + the distributed global scan — never the single-task
    // ntile sort.
    "q207_equidepth_hist" -> ((s, d) =>
      graft.ops.Scan.equiDepthHist(t("orders")(s, d), "o_totalprice", 10)),

    // HyperLogLog distinct USER-DAY sketch per event type (m=256,
    // md5-derived registers, exact-integer harmonic denominator),
    // reported beside the exact distinct count — the audit shape; the
    // estimate is the RAW HLL estimator (no libm ln correction, see
    // functions/HllFrame scaladoc — fixture cardinality ~1600/type
    // sits in the raw estimator's accurate regime).
    "q208_hll_distinct" -> ((s, d) => {
      val ev = t("events")(s, d)
      val ud = concat(col("user_id").cast("string"), lit(":"),
        to_date(col("ts")).cast("string"))
      graft.functions.HllFrame
        .distinctEstimate(ev.where(col("user_id").isNotNull &&
          col("ts").isNotNull), Seq("event_type"), ud)
        .join(ev.where(col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy("event_type")
          .agg(count_distinct(ud).as("n_exact")), "event_type")
        .select(col("event_type"), col("n_exact"), col("n_registers"),
          col("est"))
    }),

    // Luby's maximal independent set (1986, r15) over the co-purchase
    // graph, 3 rounds: per round every active vertex draws a
    // round-salted 48-bit md5 priority and wins iff its (priority,
    // id) tuple beats every active neighbor's min — adjacent winners
    // impossible by the total order, so independence holds by
    // construction; winners' neighborhoods deactivate. The
    // conflict-free anchor-selection primitive over a similarity
    // graph. Bounded rounds: still-active vertices report 0 honestly.
    "q405_luby_mis" -> ((s, d) =>
      graft.graph.Mis.luby(
        t("part")(s, d).select(col("p_partkey").as("id")),
        coPurchaseEdges(s, d).select(col("a").as("src"),
          col("b").as("dst")),
        rounds = 3, edgeShape = "symmetric")),

    // Multi-source BFS hop distance over the co-purchase graph
    // (seeds = part keys ≡ 0 mod 500), 3 frontier rounds: per-round
    // cost tracks frontier×degree, not the labeled set; unreached
    // parts carry hop = −1.
    "q209_bfs_hops" -> ((s, d) => {
      val parts = t("part")(s, d).select(col("p_partkey").as("id"))
      graft.graph.Bfs.hops(parts, coPurchaseEdges(s, d),
        parts.where(col("id") % 500 === 0), rounds = 3)
    }),

    // Hop plot + 90%-effective diameter (Palmer et al. 2002's ANF
    // summary, exact over the q209 seeded BFS at radius 4): how wide
    // is the co-purchase graph really — integer 10·cum ≥ 9·total
    // rule, no float in the decision.
    "q315_hop_plot" -> ((s, d) => {
      val parts = t("part")(s, d).select(col("p_partkey").as("id"))
      graft.graph.Bfs.hopPlot(parts, coPurchaseEdges(s, d),
        parts.where(col("id") % 500 === 0), rounds = 4)
    }),

    // k-pivot Brandes betweenness over the co-purchase graph (every-
    // 1000th part as pivot, radius 3): exact long σ path counts by
    // (src, id)-keyed frontier joins; the backward dependency levels
    // in micro-unit INTEGER floor-div arithmetic — order-independent
    // sums, the quantization mirrored exactly by the oracle's
    // unrolled levels.
    "q358_betweenness" -> ((s, d) => {
      val parts = t("part")(s, d).select(col("p_partkey").as("id"))
      graft.graph.Centrality.betweennessFrom(parts,
        brandesBundle(s, d)._2)
    }),

    // Seeded harmonic closeness (defined on disconnected graphs,
    // unlike classic closeness): Σ 10⁶ div dist exact integers over
    // the same per-source distance table.
    "q359_closeness" -> ((s, d) => {
      val parts = t("part")(s, d).select(col("p_partkey").as("id"))
      graft.graph.Centrality.harmonicClosenessFrom(parts,
        brandesBundle(s, d)._1)
    }),

    // Top-20 session paths: gap-rule sessions → ordered event-type
    // path strings → map-side-combined counts → TakeOrdered top-k
    // with a total (n desc, path) order.
    "q210_top_paths" -> ((s, d) =>
      graft.ops.EventAnalytics.topPaths(t("events")(s, d),
        sessionGapS, 20)),

    // The EXTREME-SCALE swap q178 documents, implemented: rolling
    // 7-day actives from DAILY HLL REGISTER frames rolled up by
    // register-wise max across the window — the explode spreads
    // ≤256-row register frames, never the (user, day) activity rows;
    // exact q178 rides beside as the audit column.
    "q221_rolling_actives_hll" -> ((s, d) => {
      val ev = t("events")(s, d).where(col("user_id").isNotNull &&
        col("ts").isNotNull)
      val act = ev.select(to_date(col("ts")).as("dt"), col("user_id"))
      val regs = graft.functions.HllFrame
        .registers(act, Seq("dt"), col("user_id"))
      val spread = regs.select(
        explode(sequence(col("dt"), date_add(col("dt"), 6))).as("day"),
        col("reg"), col("mr"))
      val bounds = act.agg(max(col("dt")).as("mx"))
      val merged = spread.crossJoin(broadcast(bounds))
        .where(col("day") <= col("mx"))
        .groupBy(col("day"), col("reg")).agg(max(col("mr")).as("mr"))
      graft.functions.HllFrame.estimate(merged, Seq("day"))
        .join(graft.ops.EventAnalytics.rollingActives(ev, 7), "day")
        .select(col("day"), col("active_users"), col("n_registers"),
          col("est"))
    }),

    // Composition: customer revenue deciles off the scan-based global
    // percent rank (q216 machinery) → the whale-segmentation lift
    // table. Decile boundaries are the ROUNDED pct both engines share.
    "q219_decile_lift" -> ((s, d) => {
      val rev = t("orders")(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
          count(lit(1)).as("n_orders"))
        .transform(Checkpoints(_)) // feeds the rank scan and the join back
      val ranked = graft.ops.Scan.globalPercentRank(rev, "o_custkey", "rev")
      ranked.select(col("o_custkey"),
          least(floor(col("pct").cast("double") * 10), lit(9)).cast("int")
            .as("decile"))
        .join(rev, "o_custkey")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).cast("double").cast("float").as("total_rev"),
          sum(col("n_orders")).as("n_orders"))
    }),

    // DAY-2 HLL maintenance: yesterday's stored register frame merged
    // (register-wise max) with the new batch's — REQUIRED to land
    // exactly on the full recompute, so it shares q208's oracle
    // verbatim (the q169/q177 identical-answer contract, here for
    // sketch state).
    "q220_hll_day2" -> ((s, d) => {
      val ev = t("events")(s, d).where(col("user_id").isNotNull &&
        col("ts").isNotNull)
      val ud = concat(col("user_id").cast("string"), lit(":"),
        to_date(col("ts")).cast("string"))
      val isNew = dayofmonth(to_date(col("ts"))) >= 20
      val old = graft.functions.HllFrame
        .registers(ev.where(!isNew), Seq("event_type"), ud)
      val batch = graft.functions.HllFrame
        .registers(ev.where(isNew), Seq("event_type"), ud)
      val merged = old.unionByName(batch)
        .groupBy(col("event_type"), col("reg")).agg(max(col("mr")).as("mr"))
      graft.functions.HllFrame.estimate(merged, Seq("event_type"))
        .join(ev.groupBy("event_type")
          .agg(count_distinct(ud).as("n_exact")), "event_type")
        .select(col("event_type"), col("n_exact"), col("n_registers"),
          col("est"))
    }),

    // One-way ANOVA F across all five event types: k-row moment
    // aggregate; between-group sum order-independent by the chi2
    // rounded-then-DECIMAL discipline.
    "q217_anova" -> ((s, d) =>
      graft.ops.Stats.anovaF(t("events")(s, d), "value", "event_type")),

    // Spearman rank correlation (tie-averaged midranks from the
    // distributed scan, half-rank integer units, DECIMAL moments).
    "q218_spearman" -> ((s, d) =>
      graft.ops.Stats.spearman(t("lineitem")(s, d), "l_quantity",
        "l_extendedprice")),

    // Global rank + percent_rank of every order by totalprice WITHOUT
    // the single-partition ORDER BY window: per-value counts → the
    // distributed scan → one value-keyed equi-join back.
    "q216_global_rank" -> ((s, d) =>
      graft.ops.Scan.globalPercentRank(t("orders")(s, d), "o_orderkey",
        "o_totalprice")),

    // Daily new/returning split + cumulative acquisition curve:
    // bounded aggregates + a broadcast first-day join + the
    // distributed scan for the running total.
    "q212_new_returning" -> ((s, d) =>
      graft.ops.EventAnalytics.newVsReturning(t("events")(s, d))),

    // Weighted median/p90 of price by traded quantity per returnflag:
    // integer-inequality thresholds on ONE group-partitioned window
    // sort — exact and tie-safe.
    "q213_weighted_median" -> ((s, d) =>
      graft.ops.Stats.weightedQuantiles(t("lineitem")(s, d),
        "l_extendedprice", "l_quantity", "l_returnflag", Seq(50, 90))),

    // Per-group mode with the smallest-value tie-break: two map-side-
    // combined aggregates, struct-min argmax, no sort anywhere.
    "q214_mode" -> ((s, d) =>
      graft.ops.Stats.modeBy(t("lineitem")(s, d), "l_quantity",
        "l_returnflag")),

    // HLL SET ALGEBRA: view∩purchase user-day overlap by
    // inclusion–exclusion over MERGED register frames (union =
    // register-wise max — the sketch property q208's spec pins),
    // reported beside the exact intersect — estimates three sets from
    // ONE register pass over the fact rows.
    "q215_hll_overlap" -> ((s, d) => {
      import org.apache.spark.sql.DataFrame
      val ev = t("events")(s, d).where(col("user_id").isNotNull &&
        col("ts").isNotNull && col("event_type").isin("view", "purchase"))
      val ud = concat(col("user_id").cast("string"), lit(":"),
        to_date(col("ts")).cast("string"))
      val regs = graft.functions.HllFrame
        .registers(ev, Seq("event_type"), ud)
        .transform(Checkpoints(_)) // feeds all three estimates
      def est1(df: DataFrame, name: String) = graft.functions.HllFrame
        .estimate(df, Nil).select(col("est").as(name))
      val eA = est1(regs.where(col("event_type") === "view")
        .drop("event_type"), "est_view")
      val eB = est1(regs.where(col("event_type") === "purchase")
        .drop("event_type"), "est_purchase")
      val eU = est1(regs.groupBy(col("reg")).agg(max(col("mr")).as("mr")),
        "est_union")
      val sets = ev.select(col("event_type"), ud.as("ud")).distinct()
        .transform(Checkpoints(_))
      val exact = sets.where(col("event_type") === "view").select("ud")
        .intersect(sets.where(col("event_type") === "purchase").select("ud"))
        .agg(count(lit(1)).as("n_exact_overlap"))
      eA.crossJoin(eB).crossJoin(eU)
        // double BEFORE the arithmetic: float addition would round
        // differently per engine at the last bit
        .withColumn("est_overlap",
          round(col("est_view").cast("double")
            + col("est_purchase").cast("double")
            - col("est_union").cast("double"), 2).cast("float"))
        .crossJoin(broadcast(exact))
    }),

    "q18_sessionize" -> ((s, d) => {
      val ev = t("events")(s, d).select(col("user_id"),
        col("ts").cast("long").as("ts_s"), col("event_id"), col("value"))
      // both windows share one (user_id, ts_s, event_id) sort — Spark
      // plans a single Exchange+Sort reused by the chained WindowExecs
      val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
      val prev = lag(col("ts_s"), 1).over(w)
      val isNew =
        when(prev.isNull || col("ts_s") - prev > sessionGapS, 1L).otherwise(0L)
      ev.withColumn("sid", sum(isNew).over(w))
        .groupBy("user_id", "sid")
        .agg(min("ts_s").as("start_s"),
          count(lit(1)).as("n_events"),
          (max("ts_s") - min("ts_s")).as("duration_s"),
          round(sum("value"), 4).cast("float").as("total_value"))
        .select(col("user_id"), col("sid").as("session_id"), col("start_s"),
          col("n_events"), col("duration_s"), col("total_value"))
    }))

  /** The q208 HLL audit derivation — shared VERBATIM by q220 (the
    * day-2 merged-register identical-answer contract). */
  private lazy val hllAuditOracle: String = {
      val reg = OracleSql.md5IntN("h", 1, 2)
      val w = OracleSql.md5IntN("h", 3, 12)
      s"""WITH f AS (SELECT DISTINCT event_type,
         |             CAST(user_id AS VARCHAR) || ':' ||
         |               CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
         |           FROM events
         |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |hh AS (SELECT event_type, md5(ud) AS h FROM f),
         |r AS (SELECT event_type, $reg AS reg, $w AS wd FROM hh),
         |rk AS (SELECT event_type, reg,
         |         max(CASE WHEN wd = 0 THEN 49
         |             ELSE 49 - length(bin(wd)) END) AS mr
         |       FROM r GROUP BY 1, 2),
         |g AS (SELECT event_type, CAST(count(*) AS INTEGER) AS n_registers,
         |        CAST(sum(1::BIGINT << (49 - mr)) AS BIGINT) AS sp
         |      FROM rk GROUP BY 1),
         |e AS (SELECT event_type, n_registers,
         |        0.7213 / (1.0 + 1.079 / 256) * 256 * 256
         |          * 562949953421312.0
         |          / CAST(sp + CAST(256 - n_registers AS BIGINT)
         |                 * 562949953421312 AS DOUBLE) AS est
         |      FROM g),
         |x AS (SELECT event_type, count(*) AS n_exact FROM f GROUP BY 1)
         |SELECT e.event_type, x.n_exact, e.n_registers,
         |       CAST(round(e.est, 2) AS REAL) AS est
         |FROM e JOIN x USING (event_type)""".stripMargin
  }

  /** q405: the shared Luby round generator ([[OracleSql.lubyMisCtes]]
    * — also feeds q409's dup-graph anchors) over the co-purchase
    * edge set. */
  private lazy val lubyMisOracle: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |   AND a.l_partkey <> b.l_partkey),
       |a0 AS (SELECT p_partkey AS id FROM part),
       |${OracleSql.lubyMisCtes(3)}
       |SELECT id, state FROM mis_state""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // Exact HUGEINT cent moments re-derive the engine's DECIMAL(38,0)
    // sums; every double step below mirrors the engine's op order
    // exactly (ops/Stats.welchT).
    "q201_welch_ttest" ->
      """WITH f AS (
        |  SELECT event_type AS g,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
        |m AS (
        |  SELECT count(*) FILTER (g = 'view') AS n1,
        |         count(*) FILTER (g = 'purchase') AS n2,
        |         CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'view')
        |           AS DOUBLE) AS s1,
        |         CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'purchase')
        |           AS DOUBLE) AS s2,
        |         CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'view')
        |           AS DOUBLE) AS q1,
        |         CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'purchase')
        |           AS DOUBLE) AS q2
        |  FROM f),
        |v AS (
        |  SELECT n1, n2, s1 / n1 / 100.0 AS m1, s2 / n2 / 100.0 AS m2,
        |         (q1 - s1 * s1 / n1) / (n1 - 1) / 10000.0 AS v1,
        |         (q2 - s2 * s2 / n2) / (n2 - 1) / 10000.0 AS v2
        |  FROM m),
        |se AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM v)
        |SELECT n1, n2,
        |  CAST(round(m1, 4) AS REAL) AS mean1,
        |  CAST(round(m2, 4) AS REAL) AS mean2,
        |  CAST(round((m1 - m2) / sqrt(se2), 4) AS REAL) AS t_stat,
        |  CAST(round((se2 * se2) /
        |      ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |       + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2) AS REAL) AS dof
        |FROM se""".stripMargin,

    // Midranks re-derived in 2× units from per-value counts + a window
    // scan (the oracle may use the single-partition window the engine's
    // distributed scan replaces).
    // Midrank rank-sum identity replayed; numerator/denominator stay
    // exact integers (< 2^53, so even HUGEINT→DOUBLE is exact) and
    // the shared floor-rounding closes the edge.
    "q230_auc" ->
      """WITH b AS (
        |  SELECT value AS v, event_type = 'purchase' AS pos
        |  FROM events WHERE value IS NOT NULL),
        |counts AS (
        |  SELECT v, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c1,
        |         sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS c2
        |  FROM b GROUP BY 1),
        |sc AS (
        |  SELECT *, sum(c1 + c2) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
        |  FROM counts),
        |m AS (
        |  SELECT sum(CAST(c1 AS HUGEINT)
        |             * ((rt - (c1 + c2)) * 2 + (c1 + c2) + 1)) AS r1x2
        |  FROM sc),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM counts)
        |SELECT n1 AS n_pos, n2 AS n_neg,
        |       CASE WHEN n1 > 0 AND n2 > 0 THEN
        |         CAST(floor(
        |           CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
        |           / (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |           * 1e6 + 0.5) / 1e6 AS REAL) END AS auc
        |FROM m, n""".stripMargin,

    // The greedy cooldown recursion unrolled per user: first event
    // emits, each later event compares against the CARRIED last-emit.
    "q395_alert_throttle" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         event_id
        |  FROM events WHERE user_id IS NOT NULL),
        |num AS MATERIALIZED (
        |  SELECT user_id, t, event_id,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |           ORDER BY t, event_id) AS INTEGER) AS rn
        |  FROM e),
        |k AS (
        |  SELECT user_id, rn, t, event_id, TRUE AS emitted, t AS lastt
        |  FROM num WHERE rn = 1
        |  UNION ALL
        |  SELECT n.user_id, n.rn, n.t, n.event_id,
        |    n.t >= k.lastt + 3600,
        |    CASE WHEN n.t >= k.lastt + 3600 THEN n.t ELSE k.lastt END
        |  FROM num n JOIN k ON n.user_id = k.user_id
        |    AND n.rn = k.rn + 1)
        |SELECT user_id, t AS ts_s, event_id
        |FROM k WHERE emitted""".stripMargin,

    // The greedy admission recursion unrolled per bucket: the 64-bit
    // simhash re-derived (the q118 bit definition), leading 16 bits
    // as the bucket, the admitted set carried as a LIST of bit
    // strings, Hamming via bit_count(xor) on BIT. rows_ is
    // MATERIALIZED — the recursive half re-references it, and DuckDB
    // re-inlines non-materialized CTEs per step (the q343 lesson).
    "q400_ann_admission" ->
      s"""WITH RECURSIVE t2 AS (
         |  SELECT doc_id,
         |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT doc_id, md5(tok) AS h FROM t2),
         |c AS (SELECT doc_id,
         |    ${graft.queries.OracleSql.simhashColsN(
               graft.llm.Dedup.simhashBits64)}
         |  FROM h GROUP BY doc_id),
         |fp AS (SELECT doc_id,
         |    ${graft.queries.OracleSql.simhashConcatN(
               graft.llm.Dedup.simhashBits64)} AS simhash
         |  FROM c),
         |rows_ AS MATERIALIZED (
         |  SELECT substr(simhash, 1, 16) AS bucket, doc_id, simhash,
         |         CAST(row_number() OVER (
         |           PARTITION BY substr(simhash, 1, 16)
         |           ORDER BY doc_id) AS INTEGER) AS rn
         |  FROM fp),
         |adm AS (
         |  SELECT bucket, rn, doc_id, simhash, TRUE AS ok,
         |         [simhash] AS admitted
         |  FROM rows_ WHERE rn = 1
         |  UNION ALL
         |  SELECT r.bucket, r.rn, r.doc_id, r.simhash,
         |    len(list_filter(a.admitted, s ->
         |      bit_count(xor(s::BIT, r.simhash::BIT)) <= 3)) = 0,
         |    CASE WHEN len(list_filter(a.admitted, s ->
         |           bit_count(xor(s::BIT, r.simhash::BIT)) <= 3)) = 0
         |         THEN list_append(a.admitted, r.simhash)
         |         ELSE a.admitted END
         |  FROM adm a JOIN rows_ r
         |    ON r.bucket = a.bucket AND r.rn = a.rn + 1)
         |SELECT doc_id, bucket, ok AS admitted FROM adm""".stripMargin,

    // The q400 recursion per (band, 16-bit value) bucket — 4 buckets
    // per doc — folded by a doc-keyed bool_and arbiter (the r16
    // multi-band contract; bucket keys render differently across
    // engines but only the GROUPING matters, and the bit substrings
    // partition identically to the engine's numeric slices).
    "q407_ann_admission_bands" ->
      s"""WITH RECURSIVE t2 AS (
         |  SELECT doc_id,
         |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT doc_id, md5(tok) AS h FROM t2),
         |c AS (SELECT doc_id,
         |    ${graft.queries.OracleSql.simhashColsN(
               graft.llm.Dedup.simhashBits64)}
         |  FROM h GROUP BY doc_id),
         |fp AS (SELECT doc_id,
         |    ${graft.queries.OracleSql.simhashConcatN(
               graft.llm.Dedup.simhashBits64)} AS simhash
         |  FROM c),
         |bnd AS (SELECT CAST(b.b AS VARCHAR) || ':' ||
         |          substr(f.simhash, CAST(b.b * 16 + 1 AS INT), 16)
         |            AS bucket,
         |        f.doc_id, f.simhash
         |        FROM fp f, (SELECT unnest(range(4)) AS b) b),
         |rows_ AS MATERIALIZED (
         |  SELECT bucket, doc_id, simhash,
         |         CAST(row_number() OVER (PARTITION BY bucket
         |           ORDER BY doc_id) AS INTEGER) AS rn
         |  FROM bnd),
         |adm AS (
         |  SELECT bucket, rn, doc_id, simhash, TRUE AS ok,
         |         [simhash] AS admitted
         |  FROM rows_ WHERE rn = 1
         |  UNION ALL
         |  SELECT r.bucket, r.rn, r.doc_id, r.simhash,
         |    len(list_filter(a.admitted, s ->
         |      bit_count(xor(s::BIT, r.simhash::BIT)) <= 3)) = 0,
         |    CASE WHEN len(list_filter(a.admitted, s ->
         |           bit_count(xor(s::BIT, r.simhash::BIT)) <= 3)) = 0
         |         THEN list_append(a.admitted, r.simhash)
         |         ELSE a.admitted END
         |  FROM adm a JOIN rows_ r
         |    ON r.bucket = a.bucket AND r.rn = a.rn + 1)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_bands_ok,
         |  bool_and(ok) AS admitted
         |FROM adm GROUP BY doc_id""".stripMargin,

    // The PAV minimax re-derived: same cent quantization, same
    // first-row bin rule, same HUGEINT interval averages, same
    // max-of-min triangle.
    "q403_isotonic" ->
      """WITH c AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS y
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT v, CAST(count(*) AS BIGINT) AS ct,
        |        CAST(sum(y) AS BIGINT) AS py
        |      FROM c GROUP BY 1),
        |s AS (SELECT v, ct, py,
        |        CAST(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM g),
        |n AS (SELECT CAST(sum(ct) AS HUGEINT) AS n FROM g),
        |b AS (SELECT CAST((CAST(cum - ct AS HUGEINT) * 50) // n
        |          AS BIGINT) AS bin, ct, py
        |      FROM s, n),
        |bb AS (SELECT bin, CAST(sum(ct) AS BIGINT) AS nb,
        |         CAST(sum(py) AS BIGINT) AS pb
        |       FROM b GROUP BY 1),
        |pre AS MATERIALIZED (
        |  SELECT bin, nb, pb,
        |    CAST(sum(nb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
        |    CAST(sum(pb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
        |  FROM bb),
        |pa AS MATERIALIZED (
        |  SELECT pj.j, pk.k,
        |         (CAST(pk.cpk - pj.cpj AS HUGEINT) * 1000000)
        |           // (pk.cnk - pj.cnj) AS a
        |  FROM (SELECT bin AS j, cn - nb AS cnj, cp - pb AS cpj
        |        FROM pre) pj
        |  JOIN (SELECT bin AS k, cn AS cnk, cp AS cpk FROM pre) pk
        |    ON pj.j <= pk.k),
        |f AS (SELECT i.bin AS i, i.nb, i.pb, pa.j, min(pa.a) AS mn
        |      FROM pre i JOIN pa ON pa.j <= i.bin AND pa.k >= i.bin
        |      GROUP BY 1, 2, 3, 4),
        |ff AS (SELECT i, nb, pb, max(mn) AS fit FROM f GROUP BY 1, 2, 3)
        |SELECT CAST(i AS INTEGER) AS bin, nb AS n, pb AS pos,
        |       CAST((CAST(pb AS HUGEINT) * 1000000) // nb AS BIGINT)
        |         AS rate_micro,
        |       CAST(fit AS BIGINT) AS fit_micro
        |FROM ff""".stripMargin,

    // The conformal rank rule re-derived: same calibration split,
    // same ⌈(n+1)(1−α)⌉ integer rank, same held-out audit.
    "q404_conformal" ->
      """WITH b AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS v,
        |         event_id % 5 = 0 AS cal
        |  FROM events WHERE value IS NOT NULL),
        |cc AS (SELECT v, CAST(count(*) AS BIGINT) AS ct
        |       FROM b WHERE cal GROUP BY 1),
        |s AS (SELECT v, CAST(sum(ct) OVER (ORDER BY v ROWS BETWEEN
        |        UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM cc),
        |n AS (SELECT CAST(sum(ct) AS BIGINT) AS n_cal FROM cc),
        |kk AS (SELECT n_cal, ((n_cal + 1) * 90 + 99) // 100 AS k
        |       FROM n),
        |q AS (SELECT max(n_cal) AS n_cal, max(k) AS k_rank,
        |        coalesce(min(CASE WHEN cum >= k THEN v END), max(v))
        |          AS qhat
        |      FROM s, kk)
        |SELECT q.n_cal, q.k_rank, q.qhat AS qhat_cents,
        |       CAST(count(*) AS BIGINT) AS n_test,
        |       CAST(sum(CASE WHEN t.v <= q.qhat THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_covered,
        |       CAST((CAST(sum(CASE WHEN t.v <= q.qhat THEN 1 ELSE 0
        |           END) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
        |         AS coverage_micro
        |FROM b t, q WHERE NOT t.cal
        |GROUP BY 1, 2, 3""".stripMargin,

    // The same decile boundaries + a plain BETWEEN theta join — an
    // INDEPENDENT formulation of the chunked equi-join's semantics.
    "q396_range_join" ->
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS v
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT v, count(*) AS c FROM f GROUP BY 1),
        |s AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN
        |        UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM c),
        |t AS (SELECT sum(c) AS n, max(v) AS vmax FROM c),
        |ks AS (SELECT unnest(range(10)) AS band_id),
        |b0 AS (SELECT ks.band_id, min(s.v) AS lo
        |       FROM s, t, ks
        |       WHERE s.cum >= ks.band_id * t.n // 10 + 1
        |       GROUP BY 1),
        |bands AS (SELECT band_id, lo,
        |            COALESCE(lead(lo) OVER (ORDER BY band_id),
        |              (SELECT vmax + 1 FROM t)) AS hi
        |          FROM b0),
        |j AS (SELECT band_id, lo, hi, v
        |      FROM f JOIN bands ON v >= lo AND v < hi)
        |SELECT CAST(band_id AS INTEGER) AS band_id,
        |  CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) / 100.0,
        |    2) AS REAL) AS mass
        |FROM j GROUP BY 1, 2, 3""".stripMargin,

    // Both Newton steps replayed: exact step-1 statistics, step-2
    // sigmoids pico-floored, the same Cramer sequence per step.
    "q391_logistic" ->
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cv,
        |         CASE WHEN event_type = 'purchase' THEN 1.0
        |              ELSE 0.0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS MATERIALIZED (
        |  SELECT CAST(cv AS DOUBLE) * 0.0001 AS x, y FROM f),
        |s1 AS (SELECT
        |    CAST(250000000000 AS HUGEINT) * count(*) AS sw,
        |    sum(CAST(floor(x * 0.25 * 1e12) AS HUGEINT)) AS swx,
        |    sum(CAST(floor(x * x * 0.25 * 1e12) AS HUGEINT)) AS swxx,
        |    sum(CAST(floor((y - 0.5) * 1e12) AS HUGEINT)) AS sr,
        |    sum(CAST(floor((y - 0.5) * x * 1e12) AS HUGEINT)) AS srx
        |  FROM b),
        |d1 AS (SELECT CAST(sw AS DOUBLE) / 1e12 AS sw,
        |         CAST(swx AS DOUBLE) / 1e12 AS swx,
        |         CAST(swxx AS DOUBLE) / 1e12 AS swxx,
        |         CAST(sr AS DOUBLE) / 1e12 AS sr,
        |         CAST(srx AS DOUBLE) / 1e12 AS srx
        |       FROM s1),
        |b1 AS (SELECT
        |    0.0 + CASE WHEN sw * swxx - swx * swx <> 0.0 THEN
        |      (swxx * sr - swx * srx) / (sw * swxx - swx * swx)
        |      ELSE 0.0 END AS b0,
        |    0.0 + CASE WHEN sw * swxx - swx * swx <> 0.0 THEN
        |      (sw * srx - swx * sr) / (sw * swxx - swx * swx)
        |      ELSE 0.0 END AS b1
        |  FROM d1),
        |s2 AS (SELECT b0, b1,
        |    sum(CAST(floor((1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * (1.0 - 1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * 1e12) AS HUGEINT)) AS sw,
        |    sum(CAST(floor((1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * (1.0 - 1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * x * 1e12) AS HUGEINT)) AS swx,
        |    sum(CAST(floor((1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * (1.0 - 1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * x * x * 1e12) AS HUGEINT)) AS swxx,
        |    sum(CAST(floor((y - 1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * 1e12) AS HUGEINT)) AS sr,
        |    sum(CAST(floor((y - 1.0 / (1.0 + exp(-(b0 + b1 * x))))
        |      * x * 1e12) AS HUGEINT)) AS srx
        |  FROM b, b1 GROUP BY b0, b1),
        |d2 AS (SELECT b0 AS pb0, b1 AS pb1,
        |         CAST(sw AS DOUBLE) / 1e12 AS sw,
        |         CAST(swx AS DOUBLE) / 1e12 AS swx,
        |         CAST(swxx AS DOUBLE) / 1e12 AS swxx,
        |         CAST(sr AS DOUBLE) / 1e12 AS sr,
        |         CAST(srx AS DOUBLE) / 1e12 AS srx
        |       FROM s2),
        |b2 AS (SELECT
        |    pb0 + CASE WHEN sw * swxx - swx * swx <> 0.0 THEN
        |      (swxx * sr - swx * srx) / (sw * swxx - swx * swx)
        |      ELSE 0.0 END AS b0,
        |    pb1 + CASE WHEN sw * swxx - swx * swx <> 0.0 THEN
        |      (sw * srx - swx * sr) / (sw * swxx - swx * swx)
        |      ELSE 0.0 END AS b1
        |  FROM d2),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS n_pos FROM b)
        |SELECT n, n_pos,
        |  CAST(round(b0, 6) AS REAL) AS intercept,
        |  CAST(round(b1, 6) AS REAL) AS slope
        |FROM cn, b2""".stripMargin,

    // The prefix-scan candidate table + exact integer score argmax.
    "q392_decision_stump" ->
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS y
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
        |        CAST(sum(y) AS BIGINT) AS p
        |      FROM f GROUP BY 1),
        |s AS (SELECT v,
        |        sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) AS nl,
        |        sum(p) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) AS pl
        |      FROM c),
        |t AS (SELECT sum(c) AS nt, sum(p) AS pt FROM c),
        |k AS (SELECT v, nl, pl, nt - nl AS nr, pt - pl AS pr, nt,
        |        CAST(pl AS HUGEINT) * pl
        |          + CAST(nl - pl AS HUGEINT) * (nl - pl) AS ga,
        |        CAST(pt - pl AS HUGEINT) * (pt - pl)
        |          + CAST((nt - nl) - (pt - pl) AS HUGEINT)
        |            * ((nt - nl) - (pt - pl)) AS gb
        |      FROM s, t WHERE nl < nt),
        |k2 AS (SELECT *, (ga * nr + gb * nl) * 1000000
        |         // (CAST(nl AS HUGEINT) * nr) AS score_fp
        |       FROM k),
        |best AS (SELECT *, row_number() OVER
        |           (ORDER BY score_fp DESC, v) AS rk
        |         FROM k2)
        |SELECT v AS split_cents, CAST(nl AS BIGINT) AS n_left,
        |  CAST(pl AS BIGINT) AS pos_left, CAST(nr AS BIGINT) AS n_right,
        |  CAST(pr AS BIGINT) AS pos_right,
        |  CAST(round(1.0 - CAST(score_fp AS DOUBLE) / 1e6
        |    / CAST(nt AS DOUBLE), 6) AS REAL) AS gini
        |FROM best WHERE rk = 1""".stripMargin,

    // Same midrank scan with five FILTER counts; Σ R̄²/n, H and the
    // tie correction mirror the engine's group-ordered IEEE sequence.
    "q386_kruskal_wallis" -> kruskalOracle,

    // Digit ladder, χ² and MAD re-derived against the SAME
    // Scala-rendered log10(1+1/d) literals the engine plans with.
    "q387_benford" -> benfordOracle,

    // Independent windowed derivation of the gap rule; the engine's
    // batch form must emit every session EXCEPT each user's last.
    "q388_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         event_id
        |  FROM events WHERE user_id IS NOT NULL),
        |s AS (SELECT user_id, t, event_id,
        |        CASE WHEN lag(t) OVER w IS NULL
        |               OR t - lag(t) OVER w > 21600 THEN 1
        |             ELSE 0 END AS brk
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s2 AS (SELECT user_id, t,
        |         sum(brk) OVER (PARTITION BY user_id
        |           ORDER BY t, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS sid
        |       FROM s),
        |g AS (SELECT user_id, sid, min(t) AS session_start,
        |        max(t) AS session_end,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM s2 GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1)
        |SELECT g.user_id, g.session_start, g.session_end, g.n_events
        |FROM g JOIN mx ON mx.user_id = g.user_id
        |WHERE g.sid < mx.last_sid""".stripMargin,

    "q202_mann_whitney" ->
      """WITH f AS (
        |  SELECT value AS v, event_type AS g FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
        |c AS (SELECT v, count(*) FILTER (g = 'view') AS c1,
        |             count(*) FILTER (g = 'purchase') AS c2
        |      FROM f GROUP BY 1),
        |s AS (SELECT *, sum(c1 + c2) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
        |      FROM c),
        |m AS (SELECT
        |        CAST(sum(CAST(c1 AS HUGEINT) *
        |          (2 * (rt - (c1 + c2)) + (c1 + c2) + 1)) AS DOUBLE) AS r1x2,
        |        CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
        |          - (c1 + c2)) AS DOUBLE) AS ties
        |      FROM s),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM c)
        |SELECT n1, n2,
        |  (r1x2 - n1 * (n1 + 1)) / 2.0 AS u1,
        |  CAST(round(((r1x2 - n1 * (n1 + 1)) / 2.0
        |        - CAST(n1 AS DOUBLE) * n2 / 2.0)
        |      / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 *
        |          ((CAST(n1 + n2 AS DOUBLE) + 1)
        |           - ties / (CAST(n1 + n2 AS DOUBLE)
        |                     * (CAST(n1 + n2 AS DOUBLE) - 1)))), 4)
        |    AS REAL) AS z
        |FROM m, n""".stripMargin,

    "q203_ols" ->
      """WITH f AS (
        |  SELECT l_returnflag AS g,
        |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |m AS (
        |  SELECT g, count(*) AS n,
        |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |  FROM f GROUP BY 1),
        |k AS (SELECT g, n, sx, sy,
        |        CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |        CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |        CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |      FROM m)
        |SELECT g AS l_returnflag, n,
        |  CAST(round(covn / varxn, 4) AS REAL) AS slope,
        |  CAST(round((sy - covn / varxn * sx) / n / 100.0, 4) AS REAL)
        |    AS intercept,
        |  CAST(round(covn * covn / (varxn * varyn), 4) AS REAL) AS r2
        |FROM k""".stripMargin,

    "q204_acf" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x, row_number() OVER (ORDER BY odate) AS i FROM daily),
        |p AS (SELECT l.lag, a.x AS x, b.x AS y
        |      FROM (SELECT unnest(generate_series(1, 7)) AS lag) l
        |      JOIN idx a ON true
        |      JOIN idx b ON b.i = a.i - l.lag),
        |m AS (SELECT lag, count(*) AS n_pairs,
        |        CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |      FROM p GROUP BY 1)
        |SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
        |  CAST(round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |    / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |         * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 4) AS REAL)
        |    AS r
        |FROM m""".stripMargin,

    // q204's ACF CTEs at 5 lags pivoted wide, then the SAME
    // Durbin-Levinson algebra as stepwise CTE columns (value-
    // equivalent to the engine's inlined plan-time unroll), the
    // shared floor rounding on each diagonal element.
    "q337_pacf" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x, row_number() OVER (ORDER BY odate) AS i
        |        FROM daily),
        |p AS (SELECT l.lag, a.x AS x, b.x AS y
        |      FROM (SELECT unnest(generate_series(1, 5)) AS lag) l
        |      JOIN idx a ON true
        |      JOIN idx b ON b.i = a.i - l.lag),
        |m AS (SELECT lag, count(*) AS n_pairs,
        |        CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |      FROM p GROUP BY 1),
        |r AS (SELECT lag,
        |        CAST(CAST(round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |          / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |               * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 4)
        |          AS REAL) AS DOUBLE) AS rr
        |      FROM m),
        |w AS (SELECT
        |        max(CASE WHEN lag = 1 THEN rr END) AS r1,
        |        max(CASE WHEN lag = 2 THEN rr END) AS r2,
        |        max(CASE WHEN lag = 3 THEN rr END) AS r3,
        |        max(CASE WHEN lag = 4 THEN rr END) AS r4,
        |        max(CASE WHEN lag = 5 THEN rr END) AS r5
        |      FROM r),
        |a2 AS (SELECT *, r1 AS p11 FROM w),
        |b2 AS (SELECT *, CASE WHEN 1.0 - (p11 * r1) <> 0
        |         THEN (r2 - (p11 * r1)) / (1.0 - (p11 * r1)) END AS p22
        |       FROM a2),
        |c2 AS (SELECT *, p11 - p22 * p11 AS p21 FROM b2),
        |b3 AS (SELECT *, CASE WHEN 1.0 - (p21 * r1 + p22 * r2) <> 0
        |         THEN (r3 - (p21 * r2 + p22 * r1))
        |            / (1.0 - (p21 * r1 + p22 * r2)) END AS p33
        |       FROM c2),
        |c3 AS (SELECT *, p21 - p33 * p22 AS p31,
        |         p22 - p33 * p21 AS p32 FROM b3),
        |b4 AS (SELECT *,
        |         CASE WHEN 1.0 - (p31 * r1 + p32 * r2 + p33 * r3) <> 0
        |         THEN (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
        |            / (1.0 - (p31 * r1 + p32 * r2 + p33 * r3)) END
        |           AS p44
        |       FROM c3),
        |c4 AS (SELECT *, p31 - p44 * p33 AS p41,
        |         p32 - p44 * p32 AS p42, p33 - p44 * p31 AS p43
        |       FROM b4),
        |b5 AS (SELECT *,
        |         CASE WHEN 1.0
        |             - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4) <> 0
        |         THEN (r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1))
        |            / (1.0
        |             - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4)) END
        |           AS p55
        |       FROM c4),
        |u AS (SELECT 1 AS lag, p11 AS ph FROM b5
        |      UNION ALL SELECT 2, p22 FROM b5
        |      UNION ALL SELECT 3, p33 FROM b5
        |      UNION ALL SELECT 4, p44 FROM b5
        |      UNION ALL SELECT 5, p55 FROM b5)
        |SELECT CAST(lag AS INTEGER) AS lag,
        |  CAST(floor(ph * 1e6 + 0.5) / 1e6 AS REAL) AS pacf
        |FROM u""".stripMargin,

    // The argmax rides the EXACT integer numerator n·runₖ − k·t; the
    // struct-min tie-break (earliest key) matches the engine's.
    "q205_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS k,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS tt FROM daily),
        |s AS (SELECT k,
        |        sum(CAST(x AS HUGEINT)) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        |        row_number() OVER (ORDER BY k) AS rk
        |      FROM daily),
        |d AS (SELECT s.k, CAST(t.n AS HUGEINT) * run
        |               - CAST(rk AS HUGEINT) * t.tt AS num,
        |             rk, t.n FROM s, t),
        |f AS (SELECT n, min(struct_pack(na := -abs(num), k := k,
        |               num := num, rk := rk)) AS m
        |      FROM d GROUP BY 1)
        |SELECT n AS n_points, m.k AS cp_key,
        |  CAST(round(CAST(m.num AS DOUBLE) / n / 100.0, 4) AS REAL)
        |    AS s_at_cp,
        |  CAST(round(CAST(m.rk AS DOUBLE) / n, 4) AS REAL) AS frac_through
        |FROM f""".stripMargin,

    // q204's ACF CTEs at 7 lags pivoted wide, the same left-assoc
    // lag-sum unroll, reject vs the shared plan-time χ²(7) literal.
    "q344_ljung_box" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x, row_number() OVER (ORDER BY odate) AS i FROM daily),
        |p AS (SELECT l.lag, a.x AS x, b.x AS y
        |      FROM (SELECT unnest(generate_series(1, 7)) AS lag) l
        |      JOIN idx a ON true
        |      JOIN idx b ON b.i = a.i - l.lag),
        |m AS (SELECT lag, count(*) AS n_pairs,
        |        CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |      FROM p GROUP BY 1),
        |r AS (SELECT lag,
        |        CAST(CAST(round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |          / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |               * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 4)
        |          AS REAL) AS DOUBLE) AS rr
        |      FROM m),
        |w AS (SELECT
        |        max(CASE WHEN lag = 1 THEN rr END) AS r1,
        |        max(CASE WHEN lag = 2 THEN rr END) AS r2,
        |        max(CASE WHEN lag = 3 THEN rr END) AS r3,
        |        max(CASE WHEN lag = 4 THEN rr END) AS r4,
        |        max(CASE WHEN lag = 5 THEN rr END) AS r5,
        |        max(CASE WHEN lag = 6 THEN rr END) AS r6,
        |        max(CASE WHEN lag = 7 THEN rr END) AS r7
        |      FROM r),
        |c AS (SELECT count(*) AS n FROM daily),
        |s AS (SELECT n, ((r1*r1)/(CAST(n AS DOUBLE) - 1.0)
        |        + (r2*r2)/(CAST(n AS DOUBLE) - 2.0)
        |        + (r3*r3)/(CAST(n AS DOUBLE) - 3.0)
        |        + (r4*r4)/(CAST(n AS DOUBLE) - 4.0)
        |        + (r5*r5)/(CAST(n AS DOUBLE) - 5.0)
        |        + (r6*r6)/(CAST(n AS DOUBLE) - 6.0)
        |        + (r7*r7)/(CAST(n AS DOUBLE) - 7.0))
        |        * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) AS qq
        |      FROM w, c)
        |SELECT n, 7 AS df, CAST(round(qq, 4) AS REAL) AS q_stat,
        |       qq > 14.06714 AS reject_95
        |FROM s""".stripMargin,

    // Δy-on-lag OLS off the same exact HUGEINT moments; asymptotic
    // τ_μ literal; half-life via the shared ln algebra.
    "q345_dickey_fuller" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x, row_number() OVER (ORDER BY odate) AS i FROM daily),
        |p AS (SELECT b.x AS yl, a.x - b.x AS dy
        |      FROM idx a JOIN idx b ON b.i = a.i - 1),
        |m AS (SELECT count(*) AS n,
        |        CAST(sum(CAST(yl AS HUGEINT)) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(dy AS HUGEINT)) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(yl AS HUGEINT) * yl) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(yl AS HUGEINT) * dy) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(dy AS HUGEINT) * dy) AS DOUBLE) AS syy
        |      FROM p),
        |e AS (SELECT n, CAST(n AS DOUBLE) AS dn, sx, sy, sxx, sxy, syy
        |      FROM m),
        |f AS (SELECT *, dn*sxx - sx*sx AS sxxc, dn*sxy - sx*sy AS sxyc,
        |        dn*syy - sy*sy AS syyc FROM e),
        |g AS (SELECT *, CASE WHEN sxxc <> 0 THEN sxyc / sxxc END AS b
        |      FROM f),
        |h AS (SELECT *, sqrt((syyc - b * sxyc) / ((dn - 2.0) * sxxc))
        |        AS se FROM g),
        |i AS (SELECT *, CASE WHEN se <> 0 THEN b / se END AS t,
        |        1.0 + b AS phi FROM h)
        |SELECT n AS n_pairs, CAST(round(b, 6) AS REAL) AS slope,
        |       CAST(round(t, 4) AS REAL) AS t_stat,
        |       t < -2.86 AS stationary_95,
        |       CAST(round(CASE WHEN phi > 0 AND phi < 1
        |         THEN -ln(2) / ln(phi) END, 4) AS REAL) AS half_life
        |FROM i""".stripMargin,

    // 1-period vs q-period difference variances off exact moments.
    "q346_variance_ratio" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x, row_number() OVER (ORDER BY odate) AS i FROM daily),
        |dd AS (SELECT a.x - b1.x AS d1, a.x - b5.x AS dq
        |       FROM idx a
        |       LEFT JOIN idx b1 ON b1.i = a.i - 1
        |       LEFT JOIN idx b5 ON b5.i = a.i - 5),
        |m AS (SELECT count(d1) AS n1,
        |        CAST(sum(CAST(d1 AS HUGEINT)) AS DOUBLE) AS s1,
        |        CAST(sum(CAST(d1 AS HUGEINT) * d1) AS DOUBLE) AS ss1,
        |        count(dq) AS n2,
        |        CAST(sum(CAST(dq AS HUGEINT)) AS DOUBLE) AS s2,
        |        CAST(sum(CAST(dq AS HUGEINT) * dq) AS DOUBLE) AS ss2
        |      FROM dd),
        |v AS (SELECT n1, n2,
        |        (CAST(n1 AS DOUBLE) * ss1 - s1*s1)
        |          / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS v1,
        |        (CAST(n2 AS DOUBLE) * ss2 - s2*s2)
        |          / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS vq
        |      FROM m)
        |SELECT n1 AS n_1, n2 AS n_q,
        |       CAST(round(v1, 4) AS REAL) AS var_1,
        |       CAST(round(vq, 4) AS REAL) AS var_q,
        |       CAST(round(CASE WHEN v1 <> 0 THEN vq / (5.0 * v1) END, 4)
        |         AS REAL) AS vr
        |FROM v""".stripMargin,

    // Per-(size, block) exact prefix/total windows, the exact-integer
    // z and denominator, micro-floored R/S, the collapsed log-log
    // slope with the shared 2·ln2 literal.
    "q347_hurst" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x AS y,
        |          row_number() OVER (ORDER BY odate) - 1 AS i FROM daily),
        |bl AS (SELECT sz.m,
        |         CAST(floor(CAST(i AS DOUBLE) / sz.m) AS BIGINT) AS blk,
        |         y, i
        |       FROM idx, (VALUES (8), (16), (32)) AS sz(m)),
        |ws AS (SELECT m, blk,
        |         row_number() OVER (PARTITION BY m, blk ORDER BY i) AS k,
        |         sum(y) OVER (PARTITION BY m, blk ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        |         sum(y) OVER (PARTITION BY m, blk) AS s,
        |         count(*) OVER (PARTITION BY m, blk) AS cnt,
        |         sum(CAST(y AS HUGEINT) * y)
        |           OVER (PARTITION BY m, blk) AS syy
        |       FROM bl),
        |z AS (SELECT *, CAST(m AS BIGINT) * pre - CAST(k AS BIGINT) * s
        |        AS zz FROM ws),
        |r AS (SELECT m, blk, k, cnt, s, syy,
        |        max(zz) OVER (PARTITION BY m, blk) AS zmax,
        |        min(zz) OVER (PARTITION BY m, blk) AS zmin FROM z),
        |b1 AS (SELECT *, sqrt(CAST(CAST(m AS HUGEINT) * syy
        |          - CAST(s AS HUGEINT) * s AS DOUBLE)) AS den
        |       FROM r WHERE k = 1 AND cnt = m),
        |rs AS (SELECT m, CAST(floor((CAST(zmax - zmin AS DOUBLE) / den)
        |          * 1000000.0) AS BIGINT) AS rs_micro
        |       FROM b1 WHERE den <> 0),
        |sz2 AS (SELECT m AS size, count(*) AS n_blocks,
        |          sum(rs_micro) AS sum_micro FROM rs GROUP BY 1),
        |st AS (SELECT size, n_blocks,
        |         CAST(round(CAST(sum_micro AS DOUBLE)
        |           / (CAST(n_blocks AS DOUBLE) * 1000000.0), 4) AS REAL)
        |           AS rs_mean
        |       FROM sz2),
        |h AS (SELECT CAST(round(
        |         (ln(CAST(max(CASE WHEN size = 32 THEN rs_mean END)
        |             AS DOUBLE))
        |        - ln(CAST(max(CASE WHEN size = 8 THEN rs_mean END)
        |             AS DOUBLE))) / 1.3862943611198906, 4) AS REAL)
        |         AS hurst FROM st)
        |SELECT st.size, st.n_blocks, st.rs_mean, h.hurst FROM st, h"""
        .stripMargin,

    // Floored cos/sin term sums per period, the same mean-correction
    // and n·SS normalization, argmax dominant flag.
    "q348_periodogram" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x AS y,
        |          row_number() OVER (ORDER BY odate) - 1 AS i FROM daily),
        |tot AS (SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS sy,
        |          sum(CAST(y AS HUGEINT) * y) AS syy FROM idx),
        |tt AS (SELECT pp.p,
        |         CAST(i % pp.p AS DOUBLE)
        |           * (6.283185307179586 / CAST(pp.p AS DOUBLE)) AS a,
        |         y
        |       FROM idx, (SELECT CAST(unnest(generate_series(2, 10))
        |                    AS INTEGER) AS p) pp),
        |ft AS (SELECT p,
        |         CAST(floor(CAST(y AS DOUBLE) * cos(a)) AS BIGINT) AS yc,
        |         CAST(floor(CAST(y AS DOUBLE) * sin(a)) AS BIGINT) AS ys,
        |         CAST(floor(1000000.0 * cos(a)) AS BIGINT) AS c6,
        |         CAST(floor(1000000.0 * sin(a)) AS BIGINT) AS s6
        |       FROM tt),
        |ag AS (SELECT p, sum(yc) AS syc, sum(ys) AS sys,
        |         sum(c6) AS sc6, sum(s6) AS ss6 FROM ft GROUP BY 1),
        |sc AS (SELECT p AS period,
        |         CASE WHEN ss <> 0
        |           THEN (cc*cc + sv*sv) / (dn*ss) END AS frac
        |       FROM (
        |         SELECT p, CAST(n AS DOUBLE) AS dn,
        |           CAST(syc AS DOUBLE)
        |             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |               * (CAST(sc6 AS DOUBLE) / 1000000.0) AS cc,
        |           CAST(sys AS DOUBLE)
        |             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |               * (CAST(ss6 AS DOUBLE) / 1000000.0) AS sv,
        |           (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / CAST(n AS DOUBLE) AS ss
        |         FROM ag, tot))
        |SELECT period, CAST(round(frac, 4) AS REAL) AS power_frac,
        |       frac = max(frac) OVER () AS dominant
        |FROM sc""".stripMargin,

    // Exact per-group n·z deviations, centi-floored cross-group sums,
    // the same W sequence.
    "q349_levene" ->
      """WITH rows_ AS (
        |  SELECT event_type AS g,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |g1 AS (SELECT g, count(*) AS ng,
        |         sum(CAST(x AS HUGEINT)) AS sxg FROM rows_ GROUP BY 1),
        |rz AS (SELECT r.g, g1.ng,
        |         abs(CAST(g1.ng AS HUGEINT) * r.x - g1.sxg) AS z
        |       FROM rows_ r JOIN g1 USING (g)),
        |g2 AS (SELECT g, ng, sum(z) AS sz, sum(z * z) AS szz
        |       FROM rz GROUP BY 1, 2),
        |pg AS (SELECT g, ng,
        |         CAST(floor((CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE))
        |           * 100.0) AS BIGINT) AS sz_c,
        |         CAST(floor((CAST(szz AS DOUBLE)
        |             / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE))
        |           - (CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
        |             / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)
        |                * CAST(ng AS DOUBLE))) * 100.0) AS BIGINT) AS w_c
        |       FROM g2),
        |tot AS (SELECT count(*) AS k, sum(ng) AS n, sum(sz_c) AS szt,
        |          sum(w_c) AS sswt FROM pg),
        |sb AS (SELECT k, n, sswt, sum(CAST(floor(CAST(ng AS DOUBLE)
        |         * ((CAST(sz_c AS DOUBLE) / 100.0) / CAST(ng AS DOUBLE)
        |            - zbar)
        |         * ((CAST(sz_c AS DOUBLE) / 100.0) / CAST(ng AS DOUBLE)
        |            - zbar) * 100.0) AS BIGINT)) AS ssbt
        |      FROM (SELECT pg.*, tot.k, tot.n, tot.sswt,
        |              (CAST(tot.szt AS DOUBLE) / 100.0)
        |                / CAST(tot.n AS DOUBLE) AS zbar
        |            FROM pg, tot)
        |      GROUP BY 1, 2, 3)
        |SELECT k, CAST(n AS BIGINT) AS n,
        |  CAST(round(CAST(ssbt AS DOUBLE) / 100.0 / 10000.0, 2) AS REAL)
        |    AS ss_between,
        |  CAST(round(CAST(sswt AS DOUBLE) / 100.0 / 10000.0, 2) AS REAL)
        |    AS ss_within,
        |  CAST(round(CASE WHEN CAST(sswt AS DOUBLE) / 100.0 <> 0 THEN
        |    ((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1.0))
        |    * ((CAST(ssbt AS DOUBLE) / 100.0)
        |      / (CAST(sswt AS DOUBLE) / 100.0)) END, 4) AS REAL)
        |    AS w_stat
        |FROM sb""".stripMargin,

    // Exact integer T·N over the weekday frame; the test is invariant
    // to the engines' different weekday origins (Spark Sun=1, DuckDB
    // Sun=0) because T and Var are score-shift-invariant.
    "q350_cochran_armitage" ->
      """WITH per AS (
        |  SELECT CAST(dayofweek(ts) AS BIGINT) AS s, count(*) AS ni,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |             END) AS ri
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(ni) AS n, sum(ri) AS r,
        |          sum(s * ni) AS sns, sum(s * s * ni) AS snss FROM per),
        |tn AS (SELECT n, r, sns, snss,
        |         sum(s * (n * ri - ni * r)) AS tn
        |       FROM per, tot GROUP BY 1, 2, 3, 4),
        |z AS (SELECT n, r, tn,
        |        CASE WHEN den <> 0
        |          THEN CAST(tn AS DOUBLE) / den END AS zz
        |      FROM (SELECT *,
        |              sqrt(CAST(r AS DOUBLE) * (CAST(n AS DOUBLE)
        |                  - CAST(r AS DOUBLE))
        |                * (CAST(n AS DOUBLE) * CAST(snss AS DOUBLE)
        |                  - CAST(sns AS DOUBLE) * CAST(sns AS DOUBLE))
        |                / CAST(n AS DOUBLE)) AS den
        |            FROM tn))
        |SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
        |       CAST(round(zz, 4) AS REAL) AS z_trend,
        |       tn > 0 AS increasing, abs(zz) > 1.959964 AS reject_95
        |FROM z""".stripMargin,

    // Integer-compare half split per user, exact discordant counts,
    // the same continuity-corrected sequence.
    "q351_mcnemar" ->
      """WITH b0 AS (SELECT min(CAST(ts AS DATE)) AS d0,
        |              max(CAST(ts AS DATE)) AS d1 FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |u AS (SELECT user_id,
        |        max(CASE WHEN event_type = 'purchase'
        |              AND datediff('day', d0, CAST(ts AS DATE)) * 2
        |                < datediff('day', d0, d1)
        |            THEN 1 ELSE 0 END) AS y1i,
        |        max(CASE WHEN event_type = 'purchase'
        |              AND datediff('day', d0, CAST(ts AS DATE)) * 2
        |                >= datediff('day', d0, d1)
        |            THEN 1 ELSE 0 END) AS y2i
        |      FROM events, b0
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |      GROUP BY 1),
        |m AS (SELECT count(*) AS n_pairs,
        |        sum(CASE WHEN y1i = 1 AND y2i = 0 THEN 1 ELSE 0 END) AS b,
        |        sum(CASE WHEN y1i = 0 AND y2i = 1 THEN 1 ELSE 0 END) AS c
        |      FROM u)
        |SELECT n_pairs, CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
        |  CAST(round(CASE WHEN b + c <> 0 THEN
        |    (CAST(abs(b - c) AS DOUBLE) - 1.0)
        |      * (CAST(abs(b - c) AS DOUBLE) - 1.0)
        |      / CAST(b + c AS DOUBLE) END, 4) AS REAL) AS chi2,
        |  (CASE WHEN b + c <> 0 THEN
        |    (CAST(abs(b - c) AS DOUBLE) - 1.0)
        |      * (CAST(abs(b - c) AS DOUBLE) - 1.0)
        |      / CAST(b + c AS DOUBLE) END) > 3.841459 AS reject_95
        |FROM m""".stripMargin,

    // Trend fit off exact moments, centi-floored residuals, exact
    // lagged squared sums.
    "q352_durbin_watson" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x AS y, CAST(row_number() OVER (ORDER BY odate)
        |          AS BIGINT) AS i FROM daily),
        |m AS (SELECT count(*) AS n,
        |        sum(CAST(i AS HUGEINT)) AS si,
        |        sum(CAST(i AS HUGEINT) * i) AS sii,
        |        sum(CAST(y AS HUGEINT)) AS sy,
        |        sum(CAST(i AS HUGEINT) * y) AS siy FROM idx),
        |c AS (SELECT n,
        |        (CAST(n AS DOUBLE) * CAST(siy AS DOUBLE)
        |          - CAST(si AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sii AS DOUBLE)
        |          - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)) AS b,
        |        CAST(sy AS DOUBLE) AS syd, CAST(si AS DOUBLE) AS sid
        |      FROM m),
        |c2 AS (SELECT n, b, (syd - b * sid) / CAST(n AS DOUBLE) AS a
        |       FROM c),
        |r AS (SELECT c2.n, idx.i,
        |        CAST(floor((CAST(y AS DOUBLE) - a
        |          - b * CAST(i AS DOUBLE)) * 100.0) AS BIGINT) AS ec
        |      FROM idx, c2),
        |l AS (SELECT n, ec, ec - lag(ec) OVER (ORDER BY i) AS dd FROM r),
        |s AS (SELECT n, sum(CAST(ec AS HUGEINT) * ec) AS see,
        |        sum(CAST(dd AS HUGEINT) * dd) AS sdd FROM l GROUP BY 1)
        |SELECT n,
        |  CAST(round(CASE WHEN see <> 0
        |    THEN CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE) END, 4)
        |    AS REAL) AS dw,
        |  CAST(round(1.0 - (CASE WHEN see <> 0
        |    THEN CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE) END) / 2.0, 4)
        |    AS REAL) AS rho1
        |FROM s""".stripMargin,

    // Main fit off exact moments, floored cent residuals, exact aux
    // moments, the same LM sequence.
    "q353_breusch_pagan" ->
      """WITH pts AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS x,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |m AS (SELECT count(*) AS n,
        |        sum(CAST(x AS HUGEINT)) AS sx,
        |        sum(CAST(x AS HUGEINT) * x) AS sxx,
        |        sum(CAST(y AS HUGEINT)) AS sy,
        |        sum(CAST(x AS HUGEINT) * y) AS sxy FROM pts),
        |c AS (SELECT n, sx, sxx,
        |        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
        |        CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
        |      FROM m),
        |c2 AS (SELECT n, sx, sxx, b,
        |         (syd - b * sxd) / CAST(n AS DOUBLE) AS a FROM c),
        |r AS (SELECT c2.n, c2.sx, c2.sxx, pts.x,
        |        CAST(floor(CAST(y AS DOUBLE) - a
        |          - b * CAST(x AS DOUBLE)) AS BIGINT) AS ec
        |      FROM pts, c2),
        |uu AS (SELECT n, sx, sxx, x, CAST(ec AS HUGEINT) * ec AS u
        |       FROM r),
        |x2 AS (SELECT n, sx, sxx, sum(u) AS su,
        |         sum(CAST(x AS HUGEINT) * u) AS sxu,
        |         sum(u * u) AS suu FROM uu GROUP BY 1, 2, 3),
    |f AS (SELECT n,
        |        CAST(n AS DOUBLE) * (CASE WHEN vxn <> 0 AND vun <> 0
        |          THEN covn * covn / (vxn * vun) END) AS lm
        |      FROM (SELECT n,
        |              CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE) AS covn,
        |              CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vxn,
        |              CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
        |                - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS vun
        |            FROM x2))
        |SELECT n, CAST(round(lm, 4) AS REAL) AS lm,
        |       lm > 3.841459 AS reject_95
        |FROM f""".stripMargin,

    // Exact integer deviation struct-argmax, one IEEE division.
    "q354_grubbs" ->
      """WITH t AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
        |        sum(CAST(x AS HUGEINT) * x) AS sxx FROM t),
        |d AS (SELECT n, sx, sxx,
        |        abs(CAST(n AS HUGEINT) * x - sx) AS dev, x FROM t, m),
        |top AS (SELECT n, sx, sxx,
        |          max(struct_pack(dev := dev, xv := x)) AS mm
        |        FROM d GROUP BY 1, 2, 3)
        |SELECT n,
        |  CAST(round(CAST(mm.xv AS DOUBLE) / 100.0, 2) AS REAL)
        |    AS outlier,
        |  CAST(round(CASE WHEN den <> 0
        |    THEN CAST(mm.dev AS DOUBLE) / den END, 4) AS REAL) AS g_stat
        |FROM (SELECT *, sqrt(CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - 1.0)) AS den
        |      FROM top)""".stripMargin,

    // The q201 moment CTEs + both one-sided t's vs the z literal.
    "q360_tost" ->
      """WITH f AS (
        |  SELECT event_type AS g,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
        |m AS (SELECT
        |    sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS n1,
        |    CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'view')
        |      AS DOUBLE) AS s1,
        |    CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'view')
        |      AS DOUBLE) AS ss1,
        |    sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS n2,
        |    CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'purchase')
        |      AS DOUBLE) AS s2,
        |    CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'purchase')
        |      AS DOUBLE) AS ss2
        |  FROM f),
        |c AS (SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |        s2 / CAST(n2 AS DOUBLE) - s1 / CAST(n1 AS DOUBLE)
        |          AS diff,
        |        sqrt((CAST(n1 AS DOUBLE) * ss1 - s1 * s1)
        |            / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
        |            / CAST(n1 AS DOUBLE)
        |          + (CAST(n2 AS DOUBLE) * ss2 - s2 * s2)
        |            / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0))
        |            / CAST(n2 AS DOUBLE)) AS se
        |      FROM m),
        |e AS (SELECT *,
        |        CASE WHEN se <> 0 THEN (diff + 500.0) / se END AS tl,
        |        CASE WHEN se <> 0 THEN (500.0 - diff) / se END AS tu
        |      FROM c)
        |SELECT n1, n2,
        |  CAST(round(diff / 100.0, 4) AS REAL) AS diff,
        |  CAST(round(tl, 4) AS REAL) AS t_lower,
        |  CAST(round(tu, 4) AS REAL) AS t_upper,
        |  least(tl, tu) > 1.644854 AS equivalent_95
        |FROM e""".stripMargin,

    // Pooled-SD standardized difference + the Hedges correction.
    "q361_cohens_d" ->
      """WITH f AS (
        |  SELECT event_type AS g,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
        |m AS (SELECT
        |    sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS n1,
        |    CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'view')
        |      AS DOUBLE) AS s1,
        |    CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'view')
        |      AS DOUBLE) AS ss1,
        |    sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS n2,
        |    CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'purchase')
        |      AS DOUBLE) AS s2,
        |    CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'purchase')
        |      AS DOUBLE) AS ss2
        |  FROM f),
        |c AS (SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |        CAST(n1 AS DOUBLE) AS dn1, CAST(n2 AS DOUBLE) AS dn2,
        |        s1, s2, ss1, ss2 FROM m),
        |e AS (SELECT *,
        |        sqrt(((dn1 - 1.0) * ((dn1 * ss1 - s1 * s1)
        |            / (dn1 * (dn1 - 1.0)))
        |          + (dn2 - 1.0) * ((dn2 * ss2 - s2 * s2)
        |            / (dn2 * (dn2 - 1.0))))
        |          / (dn1 + dn2 - 2.0)) AS sp
        |      FROM c),
        |g AS (SELECT *, CASE WHEN sp <> 0
        |        THEN (s2 / dn2 - s1 / dn1) / sp END AS cd FROM e)
        |SELECT n1, n2,
        |  CAST(round(cd, 4) AS REAL) AS cohens_d,
        |  CAST(round(cd * (1.0 - 3.0 / (4.0 * (dn1 + dn2) - 9.0)), 4)
        |    AS REAL) AS hedges_g
        |FROM g""".stripMargin,

    // Per-weekday arm moments, micro-floored weights, the pooled θ̂
    // and the Q re-walk of the bounded segment frame.
    "q362_meta_fixed" ->
      """WITH f AS (
        |  SELECT CAST(dayofweek(ts) AS BIGINT) AS seg, event_type AS g,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        |    AND ts IS NOT NULL),
        |per AS (SELECT seg,
        |    sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS n1,
        |    CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'view')
        |      AS DOUBLE) AS s1,
        |    CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'view')
        |      AS DOUBLE) AS ss1,
        |    sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS n2,
        |    CAST(sum(CAST(x AS HUGEINT)) FILTER (g = 'purchase')
        |      AS DOUBLE) AS s2,
        |    CAST(sum(CAST(x AS HUGEINT) * x) FILTER (g = 'purchase')
        |      AS DOUBLE) AS ss2
        |  FROM f GROUP BY 1),
        |el AS (SELECT seg, th,
        |         CAST(floor(1000000.0 / vg) AS BIGINT) AS w_u,
        |         CAST(floor(1000000.0 * th / vg) AS BIGINT) AS wt_u
        |       FROM (
        |         SELECT seg,
        |           (s2 / CAST(n2 AS DOUBLE) - s1 / CAST(n1 AS DOUBLE))
        |             / 100.0 AS th,
        |           ((CAST(n1 AS DOUBLE) * ss1 - s1 * s1)
        |             / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
        |             / 10000.0) / CAST(n1 AS DOUBLE)
        |           + ((CAST(n2 AS DOUBLE) * ss2 - s2 * s2)
        |             / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0))
        |             / 10000.0) / CAST(n2 AS DOUBLE) AS vg
        |         FROM per WHERE n1 >= 2 AND n2 >= 2)
        |       WHERE vg > 0),
        |pool AS (SELECT count(*) AS k, sum(w_u) AS sw,
        |           sum(wt_u) AS swt FROM el),
        |th0 AS (SELECT k, sw,
        |          CAST(swt AS DOUBLE) / CAST(sw AS DOUBLE) AS theta
        |        FROM pool),
        |qq AS (SELECT t.k, t.sw, t.theta,
        |         sum(CAST(floor(CAST(e.w_u AS DOUBLE)
        |           * (e.th - t.theta) * (e.th - t.theta)) AS BIGINT))
        |           AS sq
        |       FROM el e, th0 t GROUP BY 1, 2, 3)
        |SELECT k,
        |  CAST(round(theta, 4) AS REAL) AS theta,
        |  CAST(round(1.0 / sqrt(CAST(sw AS DOUBLE) / 1000000.0), 6)
        |    AS REAL) AS se,
        |  CAST(round(CAST(sq AS DOUBLE) / 1000000.0, 4) AS REAL)
        |    AS q_stat,
        |  CAST(round(CASE WHEN CAST(sq AS DOUBLE) / 1000000.0 > 0
        |    THEN greatest(0.0, (CAST(sq AS DOUBLE) / 1000000.0
        |      - (CAST(k AS DOUBLE) - 1.0))
        |      / (CAST(sq AS DOUBLE) / 1000000.0)) END, 4) AS REAL)
        |    AS i2
        |FROM qq""".stripMargin,

    // The q351 half split on value sums, midranks via the running
    // scan, the tie-corrected z.
    "q363_wilcoxon_signed" ->
      """WITH b0 AS (SELECT min(CAST(ts AS DATE)) AS d0,
        |              max(CAST(ts AS DATE)) AS d1 FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL),
        |u AS (SELECT user_id,
        |        CAST(CAST(COALESCE(sum(CASE WHEN
        |            datediff('day', d0, CAST(ts AS DATE)) * 2
        |              < datediff('day', d0, d1)
        |            THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |          AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
        |        CAST(CAST(COALESCE(sum(CASE WHEN NOT (
        |            datediff('day', d0, CAST(ts AS DATE)) * 2
        |              < datediff('day', d0, d1))
        |            THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |          AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2
        |      FROM events, b0
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |        AND value IS NOT NULL
        |      GROUP BY 1),
        |dd AS (SELECT abs(x2 - x1) AS a, x2 - x1 > 0 AS pos
        |       FROM u WHERE x2 - x1 <> 0),
        |c AS (SELECT a, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
        |        count(*) AS ct FROM dd GROUP BY 1),
        |s AS (SELECT *, sum(ct) OVER (ORDER BY a
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
        |      FROM c),
        |m AS (SELECT
        |        sum(CAST(cp AS HUGEINT)
        |          * (2 * (rt - ct) + ct + 1)) AS w2,
        |        sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS ties
        |      FROM s),
        |n AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM c),
        |z AS (SELECT n, CAST(w2 AS DOUBLE) / 2.0 AS wp,
        |        CASE WHEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |            * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |            - CAST(ties AS DOUBLE) / 48.0 > 0
        |        THEN (CAST(w2 AS DOUBLE) / 2.0
        |            - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |              / 4.0)
        |          / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |            * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |            - CAST(ties AS DOUBLE) / 48.0) END AS zz
        |      FROM m, n)
        |SELECT n, CAST(round(wp, 1) AS REAL) AS w_plus,
        |       CAST(round(zz, 4) AS REAL) AS z,
        |       abs(zz) > 1.959964 AS reject_95
        |FROM z""".stripMargin,

    // The q348 CTEs + the round-4 fractions pivoted wide, the same
    // normalize/entropy unroll against the ln9 literal.
    "q364_spectral_entropy" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT x AS y,
        |          row_number() OVER (ORDER BY odate) - 1 AS i FROM daily),
        |tot AS (SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS sy,
        |          sum(CAST(y AS HUGEINT) * y) AS syy FROM idx),
        |tt AS (SELECT pp.p,
        |         CAST(i % pp.p AS DOUBLE)
        |           * (6.283185307179586 / CAST(pp.p AS DOUBLE)) AS a,
        |         y
        |       FROM idx, (SELECT CAST(unnest(generate_series(2, 10))
        |                    AS INTEGER) AS p) pp),
        |ft AS (SELECT p,
        |         CAST(floor(CAST(y AS DOUBLE) * cos(a)) AS BIGINT) AS yc,
        |         CAST(floor(CAST(y AS DOUBLE) * sin(a)) AS BIGINT) AS ys,
        |         CAST(floor(1000000.0 * cos(a)) AS BIGINT) AS c6,
        |         CAST(floor(1000000.0 * sin(a)) AS BIGINT) AS s6
        |       FROM tt),
        |ag AS (SELECT p, sum(yc) AS syc, sum(ys) AS sys,
        |         sum(c6) AS sc6, sum(s6) AS ss6 FROM ft GROUP BY 1),
        |sc AS (SELECT p AS period,
        |         CAST(CAST(round(CASE WHEN ss <> 0
        |           THEN (cc*cc + sv*sv) / (dn*ss) END, 4) AS REAL)
        |           AS DOUBLE) AS f
        |       FROM (
        |         SELECT p, CAST(n AS DOUBLE) AS dn,
        |           CAST(syc AS DOUBLE)
        |             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |               * (CAST(sc6 AS DOUBLE) / 1000000.0) AS cc,
        |           CAST(sys AS DOUBLE)
        |             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |               * (CAST(ss6 AS DOUBLE) / 1000000.0) AS sv,
        |           (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / CAST(n AS DOUBLE) AS ss
        |         FROM ag, tot)),
        |w AS (SELECT
        |        max(CASE WHEN period = 2 THEN f END) AS f2,
        |        max(CASE WHEN period = 3 THEN f END) AS f3,
        |        max(CASE WHEN period = 4 THEN f END) AS f4,
        |        max(CASE WHEN period = 5 THEN f END) AS f5,
        |        max(CASE WHEN period = 6 THEN f END) AS f6,
        |        max(CASE WHEN period = 7 THEN f END) AS f7,
        |        max(CASE WHEN period = 8 THEN f END) AS f8,
        |        max(CASE WHEN period = 9 THEN f END) AS f9,
        |        max(CASE WHEN period = 10 THEN f END) AS f10
        |      FROM sc),
        |e AS (SELECT f2 + f3 + f4 + f5 + f6 + f7 + f8 + f9 + f10
        |        AS tt2, * FROM w)
        |SELECT 9 AS n_periods,
        |  CAST(round(CASE WHEN tt2 > 0 THEN
        |    ((CASE WHEN f2 > 0 THEN -((f2/tt2) * ln(f2/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f3 > 0 THEN -((f3/tt2) * ln(f3/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f4 > 0 THEN -((f4/tt2) * ln(f4/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f5 > 0 THEN -((f5/tt2) * ln(f5/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f6 > 0 THEN -((f6/tt2) * ln(f6/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f7 > 0 THEN -((f7/tt2) * ln(f7/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f8 > 0 THEN -((f8/tt2) * ln(f8/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f9 > 0 THEN -((f9/tt2) * ln(f9/tt2))
        |       ELSE CAST(0 AS DOUBLE) END)
        |   + (CASE WHEN f10 > 0 THEN -((f10/tt2) * ln(f10/tt2))
        |       ELSE CAST(0 AS DOUBLE) END))
        |   / 2.1972245773362196 END, 4) AS REAL) AS entropy
        |FROM e""".stripMargin,

    // Per-day exact moments + global limits, squared-form flag.
    "q365_xbar_chart" ->
      """WITH f AS (
        |  SELECT CAST(o_orderdate AS DATE) AS okey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS x
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        |per AS (SELECT okey, count(*) AS n,
        |          sum(CAST(x AS HUGEINT)) AS s,
        |          sum(CAST(x AS HUGEINT) * x) AS ss FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS dn,
        |          CAST(sum(s) AS DOUBLE) AS std,
        |          CAST(sum(ss) AS DOUBLE) AS sstd FROM per),
        |g AS (SELECT std / dn AS mu,
        |        (dn * sstd - std * std) / (dn * dn) AS s2 FROM tot)
        |SELECT okey, n,
        |  CAST(CAST((2 * CAST(s AS BIGINT) + n) // (2 * n) AS DOUBLE)
        |    / 100.0 AS REAL) AS xbar,
        |  CAST(round((mu - 3.0 * sqrt(s2 / CAST(n AS DOUBLE))) / 100.0,
        |    2) AS REAL) AS lcl,
        |  CAST(round((mu + 3.0 * sqrt(s2 / CAST(n AS DOUBLE))) / 100.0,
        |    2) AS REAL) AS ucl,
        |  CAST(n AS DOUBLE)
        |    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - mu)
        |    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - mu)
        |    > 9.0 * s2 AS out_of_control
        |FROM per, g""".stripMargin,

    // Three exact-integer quintile scans joined back on the metric
    // values; tied values share bins by construction.
    "q366_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey AS cust, max(CAST(o_orderdate AS DATE))
        |           AS last_d,
        |         count(*) AS frequency,
        |         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS mon_c
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |mx AS (SELECT max(last_d) AS d1 FROM per),
        |base AS (SELECT cust,
        |           CAST(datediff('day', last_d, d1) AS INTEGER)
        |             AS recency_days,
        |           frequency, mon_c FROM per, mx),
        |rb AS (SELECT v, CAST(((rt - ct) * 5) // n + 1 AS INTEGER)
        |           AS r_bin
        |       FROM (SELECT v, ct, sum(ct) OVER (ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS rt, sum(ct) OVER () AS n
        |             FROM (SELECT recency_days AS v, count(*) AS ct
        |                   FROM base GROUP BY 1))),
        |fb AS (SELECT v, CAST(((rt - ct) * 5) // n + 1 AS INTEGER)
        |           AS f_bin
        |       FROM (SELECT v, ct, sum(ct) OVER (ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS rt, sum(ct) OVER () AS n
        |             FROM (SELECT frequency AS v, count(*) AS ct
        |                   FROM base GROUP BY 1))),
        |mb AS (SELECT v, CAST(((rt - ct) * 5) // n + 1 AS INTEGER)
        |           AS m_bin
        |       FROM (SELECT v, ct, sum(ct) OVER (ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS rt, sum(ct) OVER () AS n
        |             FROM (SELECT mon_c AS v, count(*) AS ct
        |                   FROM base GROUP BY 1)))
        |SELECT b.cust, b.recency_days, b.frequency,
        |  CAST(round(CAST(b.mon_c AS DOUBLE) / 100.0, 2) AS REAL)
        |    AS monetary,
        |  rb.r_bin, fb.f_bin, mb.m_bin,
        |  'r' || rb.r_bin || 'f' || fb.f_bin || 'm' || mb.m_bin AS rfm
        |FROM base b
        |JOIN rb ON rb.v = b.recency_days
        |JOIN fb ON fb.v = b.frequency
        |JOIN mb ON mb.v = b.mon_c""".stripMargin,

    // First-view anchor, first at-or-after purchase, exact order
    // statistics off the running scan.
    "q367_time_to_convert" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |firsts AS (SELECT user_id,
        |             min(CASE WHEN event_type = 'view' THEN t END) AS t0
        |           FROM ev GROUP BY 1),
        |f2 AS (SELECT * FROM firsts WHERE t0 IS NOT NULL),
        |conv AS (SELECT e.user_id, f2.t0, min(e.t) AS t1
        |         FROM ev e JOIN f2 ON e.user_id = f2.user_id
        |         WHERE e.event_type = 'purchase' AND e.t >= f2.t0
        |         GROUP BY 1, 2),
        |d AS (SELECT t1 - t0 AS delta FROM conv),
        |c AS (SELECT delta, count(*) AS ct FROM d GROUP BY 1),
        |s AS (SELECT delta, ct, sum(ct) OVER (ORDER BY delta
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt,
        |        sum(ct) OVER () AS n FROM c)
        |SELECT CAST(max(n) AS BIGINT) AS n_converted,
        |  min(CASE WHEN rt * 4 >= n * 1 THEN delta END) AS p25_s,
        |  min(CASE WHEN rt * 2 >= n * 1 THEN delta END) AS p50_s,
        |  min(CASE WHEN rt * 4 >= n * 3 THEN delta END) AS p75_s,
        |  min(CASE WHEN rt * 10 >= n * 9 THEN delta END) AS p90_s
        |FROM s""".stripMargin,

    "q372_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER)
        |         AS gid,
        |       count(*) AS n,
        |       CAST(round(sum(l_quantity), 2) AS REAL) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
        .stripMargin,

    // Lag pairs off the daily CTE, ten HUGEINT moments, the same
    // Cramer closed form and F.
    "q369_granger" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |         CAST(CAST(count(*) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT y, x, row_number() OVER (ORDER BY odate) AS i
        |        FROM daily),
        |p AS (SELECT a.y AS y, b.y AS u, b.x AS v
        |      FROM idx a JOIN idx b ON b.i = a.i - 1),
        |m AS (SELECT count(*) AS n,
        |        CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(u AS HUGEINT)) AS DOUBLE) AS su,
        |        CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS sv,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
        |        CAST(sum(CAST(y AS HUGEINT) * u) AS DOUBLE) AS syu,
        |        CAST(sum(CAST(y AS HUGEINT) * v) AS DOUBLE) AS syv,
        |        CAST(sum(CAST(u AS HUGEINT) * u) AS DOUBLE) AS suu,
        |        CAST(sum(CAST(u AS HUGEINT) * v) AS DOUBLE) AS suv,
        |        CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS svv
        |      FROM p),
        |c AS (SELECT n, CAST(n AS DOUBLE) AS dn,
        |        CAST(n AS DOUBLE) * syy - sy * sy AS cyy,
        |        CAST(n AS DOUBLE) * syu - sy * su AS cyu,
        |        CAST(n AS DOUBLE) * syv - sy * sv AS cyv,
        |        CAST(n AS DOUBLE) * suu - su * su AS cuu,
        |        CAST(n AS DOUBLE) * suv - su * sv AS cuv,
        |        CAST(n AS DOUBLE) * svv - sv * sv AS cvv
        |      FROM m),
        |g AS (SELECT *, cuu * cvv - cuv * cuv AS det FROM c),
        |h AS (SELECT *,
        |        (cyu * cvv - cyv * cuv) / det AS b,
        |        (cyv * cuu - cyu * cuv) / det AS cc FROM g),
        |j AS (SELECT *, cyy - b * cyu - cc * cyv AS sseu,
        |        cyy - cyu * cyu / cuu AS sser FROM h),
        |k AS (SELECT n,
        |        CASE WHEN det <> 0 AND cuu <> 0 AND sseu > 0
        |          THEN (sser - sseu) / (sseu / (dn - 3.0)) END AS f
        |      FROM j)
        |SELECT n, CAST(round(f, 4) AS REAL) AS f_stat,
        |       f > 3.841459 AS x_helps_95
        |FROM k""".stripMargin,

    // The q358 forward CTEs with per-edge term tables MATERIALIZED;
    // levels 2, 1 AND 0 (edges out of the sources carry paths),
    // grouped on the undirected key.
    "q370_edge_betweenness" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |seeds AS (SELECT p_partkey AS id FROM part
        |          WHERE p_partkey % 1000 = 0),
        |walk(src, id, hop) AS (
        |  SELECT id, id, 0 FROM seeds
        |  UNION
        |  SELECT w.src, e.v, w.hop + 1 FROM walk w JOIN e ON e.u = w.id
        |  WHERE w.hop < 3),
        |d AS MATERIALIZED (SELECT src, id, min(hop) AS dist FROM walk
        |     GROUP BY 1, 2),
        |sg0 AS MATERIALIZED (SELECT src, id, CAST(1 AS BIGINT) AS sigma
        |        FROM d WHERE dist = 0),
        |sg1 AS MATERIALIZED (SELECT p.src, dd.id, sum(p.sigma) AS sigma
        |        FROM sg0 p JOIN e ON e.u = p.id
        |        JOIN d dd ON dd.src = p.src AND dd.id = e.v
        |          AND dd.dist = 1
        |        GROUP BY 1, 2),
        |sg2 AS MATERIALIZED (SELECT p.src, dd.id, sum(p.sigma) AS sigma
        |        FROM sg1 p JOIN e ON e.u = p.id
        |        JOIN d dd ON dd.src = p.src AND dd.id = e.v
        |          AND dd.dist = 2
        |        GROUP BY 1, 2),
        |sg3 AS MATERIALIZED (SELECT p.src, dd.id, sum(p.sigma) AS sigma
        |        FROM sg2 p JOIN e ON e.u = p.id
        |        JOIN d dd ON dd.src = p.src AND dd.id = e.v
        |          AND dd.dist = 3
        |        GROUP BY 1, 2),
        |dl3 AS MATERIALIZED (SELECT src, id, CAST(0 AS BIGINT) AS du
        |        FROM d WHERE dist = 3),
        |t2 AS MATERIALIZED (SELECT v.src, v.id AS vid, e.v AS wid,
        |          CAST(v.sigma AS HUGEINT) * (1000000 + COALESCE(w3.du, 0))
        |            // sw.sigma AS t
        |        FROM sg2 v JOIN e ON e.u = v.id
        |        JOIN d dw ON dw.src = v.src AND dw.id = e.v
        |          AND dw.dist = 3
        |        JOIN sg3 sw ON sw.src = v.src AND sw.id = e.v
        |        LEFT JOIN dl3 w3 ON w3.src = v.src AND w3.id = e.v),
        |dl2 AS MATERIALIZED (SELECT l.src, l.id,
        |          CAST(COALESCE(s.du2, 0) AS BIGINT) AS du
        |        FROM (SELECT src, id FROM d WHERE dist = 2) l
        |        LEFT JOIN (SELECT src, vid, sum(t) AS du2 FROM t2
        |                   GROUP BY 1, 2) s
        |          ON s.src = l.src AND s.vid = l.id),
        |t1 AS MATERIALIZED (SELECT v.src, v.id AS vid, e.v AS wid,
        |          CAST(v.sigma AS HUGEINT) * (1000000 + COALESCE(w2.du, 0))
        |            // sw.sigma AS t
        |        FROM sg1 v JOIN e ON e.u = v.id
        |        JOIN d dw ON dw.src = v.src AND dw.id = e.v
        |          AND dw.dist = 2
        |        JOIN sg2 sw ON sw.src = v.src AND sw.id = e.v
        |        LEFT JOIN dl2 w2 ON w2.src = v.src AND w2.id = e.v),
        |dl1 AS MATERIALIZED (SELECT l.src, l.id,
        |          CAST(COALESCE(s.du2, 0) AS BIGINT) AS du
        |        FROM (SELECT src, id FROM d WHERE dist = 1) l
        |        LEFT JOIN (SELECT src, vid, sum(t) AS du2 FROM t1
        |                   GROUP BY 1, 2) s
        |          ON s.src = l.src AND s.vid = l.id),
        |t0 AS MATERIALIZED (SELECT v.src, v.id AS vid, e.v AS wid,
        |          CAST(v.sigma AS HUGEINT) * (1000000 + COALESCE(w1.du, 0))
        |            // sw.sigma AS t
        |        FROM sg0 v JOIN e ON e.u = v.id
        |        JOIN d dw ON dw.src = v.src AND dw.id = e.v
        |          AND dw.dist = 1
        |        JOIN sg1 sw ON sw.src = v.src AND sw.id = e.v
        |        LEFT JOIN dl1 w1 ON w1.src = v.src AND w1.id = e.v),
        |ets AS (SELECT vid, wid, t FROM t2
        |        UNION ALL SELECT vid, wid, t FROM t1
        |        UNION ALL SELECT vid, wid, t FROM t0)
        |SELECT least(vid, wid) AS u, greatest(vid, wid) AS v,
        |  CAST(CAST((sum(t) + 50) // 100 AS DOUBLE) / 10000.0 AS REAL)
        |    AS eb
        |FROM ets GROUP BY 1, 2""".stripMargin,

    // Exact HUGEINT raw moments to x⁴, the same central-moment and
    // standardized sequences per group.
    "q381_group_moments" ->
      """WITH f AS (
        |  SELECT event_type AS g,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT g, count(*) AS n,
        |        CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS s1,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2,
        |        CAST(sum(CAST(x AS HUGEINT) * x * x) AS DOUBLE) AS s3,
        |        CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS DOUBLE)
        |          AS s4
        |      FROM f GROUP BY 1),
        |e AS (SELECT g, n, CAST(n AS DOUBLE) AS dn, s1, s2, s3, s4,
        |        s1 / CAST(n AS DOUBLE) AS mu FROM m),
        |e2 AS (SELECT *,
        |         s2 / dn - mu * mu AS m2,
        |         s3 / dn - 3.0 * mu * (s2 / dn) + 2.0 * mu * mu * mu
        |           AS m3,
        |         s4 / dn - 4.0 * mu * (s3 / dn)
        |           + 6.0 * mu * mu * (s2 / dn)
        |           - 3.0 * mu * mu * mu * mu AS m4
        |       FROM e)
        |SELECT g, n,
        |  CAST(round(mu / 100.0, 4) AS REAL) AS mean,
        |  CAST(round((CASE WHEN m2 > 0 THEN sqrt(m2) END) / 100.0, 4)
        |    AS REAL) AS sd,
        |  CAST(round(CASE WHEN m2 > 0
        |    THEN m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) END, 4) AS REAL)
        |    AS skewness,
        |  CAST(round(CASE WHEN m2 > 0
        |    THEN m4 / (m2 * m2) - 3.0 END, 4) AS REAL)
        |    AS kurtosis_excess
        |FROM e2""".stripMargin,

    // Two scan passes: median, then median of |x − med|; the same
    // integer rank rules and the 1.4826 literal.
    "q382_mad" ->
      """WITH t AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |c1 AS (SELECT v, count(*) AS ct FROM t GROUP BY 1),
        |s1 AS (SELECT v, ct, sum(ct) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS rt, sum(ct) OVER () AS n FROM c1),
        |m1 AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |         min(CASE WHEN rt * 2 >= n THEN v END) AS med FROM s1),
        |d AS (SELECT abs(t.v - m1.med) AS v FROM t, m1),
        |c2 AS (SELECT v, count(*) AS ct FROM d GROUP BY 1),
        |s2 AS (SELECT v, ct, sum(ct) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS rt, sum(ct) OVER () AS n FROM c2),
        |m2 AS (SELECT min(CASE WHEN rt * 2 >= n THEN v END) AS mad_c
        |       FROM s2)
        |SELECT m1.n,
        |  CAST(round(CAST(m1.med AS DOUBLE) / 100.0, 2) AS REAL)
        |    AS median,
        |  CAST(round(CAST(m2.mad_c AS DOUBLE) / 100.0, 2) AS REAL)
        |    AS mad,
        |  CAST(round(CAST(m2.mad_c AS DOUBLE) * 1.4826 / 100.0, 4)
        |    AS REAL) AS robust_sd
        |FROM m1, m2""".stripMargin,

    // The q174 cohort CTEs + cent sums + the per-cohort cumulative.
    "q380_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_type, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cohort AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |           FROM ev GROUP BY 1),
        |sizes AS (SELECT cohort_day, count(*) AS cohort_size
        |          FROM cohort GROUP BY 1),
        |rev AS (SELECT c.cohort_day,
        |          CAST(datediff('day', c.cohort_day, CAST(e.ts AS DATE))
        |            AS INTEGER) AS offset_day,
        |          sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100
        |            AS BIGINT)) AS rev_c
        |        FROM ev e JOIN cohort c USING (user_id)
        |        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |        GROUP BY 1, 2),
        |c2 AS (SELECT r.cohort_day, r.offset_day, r.rev_c,
        |         s.cohort_size,
        |         sum(r.rev_c) OVER (PARTITION BY r.cohort_day
        |           ORDER BY r.offset_day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum_c
        |       FROM rev r JOIN sizes s USING (cohort_day))
        |SELECT cohort_day, offset_day,
        |  CAST(cohort_size AS BIGINT) AS cohort_size,
        |  CAST(round(CAST(rev_c AS DOUBLE) / 100.0, 2) AS REAL) AS rev,
        |  CAST(round(CAST(cum_c AS DOUBLE) / 100.0, 2) AS REAL)
        |    AS cum_rev,
        |  CAST(CAST((2 * CAST(cum_c AS BIGINT) * 100 + cohort_size)
        |    // (2 * cohort_size) AS DOUBLE) / 10000.0 AS REAL)
        |    AS ltv_per_user
        |FROM c2""".stripMargin,

    // The q205 scan CTEs + struct-min split row + the same segment-
    // local algebra on the global prefix sums.
    "q377_binary_seg" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS k,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS tt
        |      FROM daily),
        |s AS (SELECT k,
        |        sum(CAST(x AS HUGEINT)) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS run,
        |        CAST(row_number() OVER (ORDER BY k) AS HUGEINT) AS rk
        |      FROM daily),
        |j AS (SELECT s.*, CAST(t.n AS HUGEINT) AS n, t.tt FROM s, t),
        |fx AS (SELECT min(struct_pack(
        |         na := -abs(n * run - rk * tt), k := k,
        |         num := n * run - rk * tt, rks := rk, ns := n)) AS m
        |       FROM j),
        |c1 AS (SELECT min(struct_pack(
        |         na := -abs(n * run - rk * tt), k := k,
        |         run1 := run, rk1 := rk)) AS m FROM j),
        |l AS (SELECT min(struct_pack(
        |        na := -abs(c.m.rk1 * run - rk * c.m.run1), k := k,
        |        num := c.m.rk1 * run - rk * c.m.run1, rks := rk,
        |        ns := c.m.rk1)) AS m
        |      FROM j, c1 c WHERE rk <= c.m.rk1),
        |r AS (SELECT min(struct_pack(
        |        na := -abs((n - c.m.rk1) * (run - c.m.run1)
        |          - (rk - c.m.rk1) * (tt - c.m.run1)), k := k,
        |        num := (n - c.m.rk1) * (run - c.m.run1)
        |          - (rk - c.m.rk1) * (tt - c.m.run1),
        |        rks := rk - c.m.rk1, ns := n - c.m.rk1)) AS m
        |      FROM j, c1 c WHERE rk > c.m.rk1)
        |SELECT 'full' AS segment, CAST(m.ns AS BIGINT) AS n_points,
        |  m.k AS cp_key,
        |  CAST(round(CAST(m.num AS DOUBLE) / CAST(m.ns AS DOUBLE)
        |    / 100.0, 4) AS REAL) AS s_at_cp,
        |  CAST(round(CAST(m.rks AS DOUBLE) / CAST(m.ns AS DOUBLE), 4)
        |    AS REAL) AS frac_through
        |FROM fx
        |UNION ALL
        |SELECT 'left', CAST(m.ns AS BIGINT), m.k,
        |  CAST(round(CAST(m.num AS DOUBLE) / CAST(m.ns AS DOUBLE)
        |    / 100.0, 4) AS REAL),
        |  CAST(round(CAST(m.rks AS DOUBLE) / CAST(m.ns AS DOUBLE), 4)
        |    AS REAL)
        |FROM l
        |UNION ALL
        |SELECT 'right', CAST(m.ns AS BIGINT), m.k,
        |  CAST(round(CAST(m.num AS DOUBLE) / CAST(m.ns AS DOUBLE)
        |    / 100.0, 4) AS REAL),
        |  CAST(round(CAST(m.rks AS DOUBLE) / CAST(m.ns AS DOUBLE), 4)
        |    AS REAL)
        |FROM r""".stripMargin,

    // The q210 session CTEs rolled up to the engagement trio.
    "q378_bounce_rate" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         |         event_id
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |l AS (SELECT *, lag(t) OVER
         |        (PARTITION BY user_id ORDER BY t, event_id) AS prev
         |      FROM e),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR t - prev > $sessionGapS
         |        THEN 1 ELSE 0 END AS is_new FROM l),
         |s AS (SELECT *, sum(is_new) OVER
         |        (PARTITION BY user_id ORDER BY t, event_id) AS sid
         |      FROM f),
         |g AS (SELECT user_id, sid, count(*) AS n_events,
         |        max(t) - min(t) AS dur FROM s GROUP BY 1, 2),
         |a AS (SELECT count(*) AS ns,
         |        sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS nb,
         |        sum(n_events) AS te, sum(dur) AS td FROM g)
         |SELECT CAST(ns AS BIGINT) AS n_sessions,
         |  CAST(nb AS BIGINT) AS n_bounce,
         |  CAST(round(CAST(nb AS DOUBLE) / CAST(ns AS DOUBLE), 4)
         |    AS REAL) AS bounce_rate,
         |  CAST(round(CAST(te AS DOUBLE) / CAST(ns AS DOUBLE), 4)
         |    AS REAL) AS avg_events,
         |  CAST(round(CAST(td AS DOUBLE) / CAST(ns AS DOUBLE), 2)
         |    AS REAL) AS avg_duration_s
         |FROM a""".stripMargin,

    // Rank deciles off the (rev DESC, cust) total order, integer
    // decile rule, cumulative shares over the 10-row frame.
    "q379_pareto" ->
      """WITH per AS (
        |  SELECT o_custkey AS cust,
        |         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS rev
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |s AS (SELECT rev, CAST(row_number() OVER
        |        (ORDER BY rev DESC, cust) AS BIGINT) AS rk FROM per),
        |t AS (SELECT count(*) AS n, sum(rev) AS tt FROM per),
        |d AS (SELECT CAST(((rk - 1) * 10) // n AS INTEGER) AS decile,
        |        count(*) AS n_customers, sum(s.rev) AS rev_c,
        |        max(t.tt) AS tt
        |      FROM s, t GROUP BY 1),
        |c AS (SELECT *, sum(rev_c) OVER (ORDER BY decile
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS cum_c FROM d)
        |SELECT decile, CAST(n_customers AS BIGINT) AS n_customers,
        |  CAST(round(CAST(rev_c AS DOUBLE) / 100.0, 2) AS REAL)
        |    AS revenue,
        |  CAST(round(CAST(rev_c AS DOUBLE) / CAST(tt AS DOUBLE), 4)
        |    AS REAL) AS rev_share,
        |  CAST(round(CAST(cum_c AS DOUBLE) / CAST(tt AS DOUBLE), 4)
        |    AS REAL) AS cum_share
        |FROM c""".stripMargin,

    "q206_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |       count(*) AS n,
        |       CAST(round(sum(l_quantity), 2) AS REAL) AS sum_qty,
        |       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS REAL)
        |         AS revenue
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    // Bucket of a distinct value = ⌊(rows strictly below)·B/n⌋ — the
    // tie-safe equi-depth rule the engine's distributed scan computes.
    "q207_equidepth_hist" ->
      """WITH c AS (SELECT o_totalprice AS v, count(*) AS c FROM orders
        |           WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
        |s AS (SELECT v, c, sum(c) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |      FROM c)
        |SELECT CAST(((run - c) * 10) // n AS INTEGER) AS bucket,
        |       count(*) AS n_values, CAST(sum(c) AS BIGINT) AS n_rows,
        |       min(v) AS v_min, max(v) AS v_max
        |FROM s, n GROUP BY 1""".stripMargin,

    // Registers re-derived nibble-exact from md5; the harmonic-mean
    // denominator is the same exact integer Σ2^(49−rank); the estimate
    // repeats the engine's IEEE op order including the alpha constant.
    "q208_hll_distinct" -> hllAuditOracle,

    // Day-2 merged registers MUST equal the full recompute (sketch
    // union property) — identical-answer contract, q208's oracle.
    "q220_hll_day2" -> hllAuditOracle,

    "q221_rolling_actives_hll" -> {
      val reg = OracleSql.md5IntN("h", 1, 2)
      val w = OracleSql.md5IntN("h", 3, 12)
      s"""WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS dt, user_id
         |             FROM events
         |             WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |hh AS (SELECT dt, md5(CAST(user_id AS VARCHAR)) AS h FROM act),
         |r AS (SELECT dt, $reg AS reg, $w AS wd FROM hh),
         |rk AS (SELECT dt, reg,
         |         max(CASE WHEN wd = 0 THEN 49
         |             ELSE 49 - length(bin(wd)) END) AS mr
         |       FROM r GROUP BY 1, 2),
         |sprd AS (SELECT CAST(unnest(generate_series(dt,
         |           dt + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day,
         |           reg, mr
         |         FROM rk),
         |mg AS (SELECT day, reg, max(mr) AS mr FROM sprd
         |       WHERE day <= (SELECT max(dt) FROM act) GROUP BY 1, 2),
         |g AS (SELECT day, CAST(count(*) AS INTEGER) AS n_registers,
         |        CAST(sum(1::BIGINT << (49 - mr)) AS BIGINT) AS sp2
         |      FROM mg GROUP BY 1),
         |e AS (SELECT day, n_registers,
         |        0.7213 / (1.0 + 1.079 / 256) * 256 * 256
         |          * 562949953421312.0
         |          / CAST(sp2 + CAST(256 - n_registers AS BIGINT)
         |                 * 562949953421312 AS DOUBLE) AS est
         |      FROM g),
         |x AS (SELECT day, count(DISTINCT user_id) AS active_users FROM
         |       (SELECT user_id, CAST(unnest(generate_series(dt,
         |          dt + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day
         |        FROM act) s
         |      WHERE day <= (SELECT max(dt) FROM act) GROUP BY 1)
         |SELECT e.day, x.active_users, e.n_registers,
         |       CAST(round(e.est, 2) AS REAL) AS est
         |FROM e JOIN x USING (day)""".stripMargin
    },

    "q219_decile_lift" ->
      """WITH rev AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |r AS (SELECT *, CAST(round(percent_rank()
        |        OVER (ORDER BY rev), 6) AS REAL) AS pct FROM rev),
        |d AS (SELECT *, CAST(least(floor(CAST(pct AS DOUBLE) * 10), 9)
        |        AS INTEGER) AS decile FROM r)
        |SELECT decile, count(*) AS n_customers,
        |  CAST(CAST(sum(rev) AS DOUBLE) AS REAL) AS total_rev,
        |  CAST(sum(n_orders) AS BIGINT) AS n_orders
        |FROM d GROUP BY 1""".stripMargin,

    // All three Luby rounds unrolled: same round-salted md5
    // priorities, same (priority, id) tuple compare via row values,
    // same winner/exclusion sets. Winners never collide with
    // exclusions across rounds (a later winner can never neighbor an
    // earlier one — it would have been deactivated), so the CASE is
    // order-free.
    "q405_luby_mis" -> lubyMisOracle,

    // UNION-distinct recursion: the working set is (id, hop) pairs,
    // bounded by |V|·rounds; min(hop) = true hop distance whatever
    // expansion order produced it.
    "q209_bfs_hops" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |seeds AS (SELECT p_partkey AS id FROM part WHERE p_partkey % 500 = 0),
        |walk(id, hop) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT e.v, w.hop + 1 FROM walk w JOIN e ON e.u = w.id
        |  WHERE w.hop < 3),
        |d AS (SELECT id, min(hop) AS hop FROM walk GROUP BY 1)
        |SELECT p.p_partkey AS id, CAST(coalesce(d.hop, -1) AS INTEGER) AS hop
        |FROM part p LEFT JOIN d ON d.id = p.p_partkey""".stripMargin,

    // q209's recursive walk at radius 4, per-hop counts, the window
    // cumulative, the same integer 90% rule.
    "q315_hop_plot" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |seeds AS (SELECT p_partkey AS id FROM part
        |          WHERE p_partkey % 500 = 0),
        |walk(id, hop) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT e.v, w.hop + 1 FROM walk w JOIN e ON e.u = w.id
        |  WHERE w.hop < 4),
        |dd AS (SELECT id, min(hop) AS hop FROM walk GROUP BY 1),
        |per AS (SELECT CAST(hop AS INTEGER) AS hop,
        |          CAST(count(*) AS BIGINT) AS n_first
        |        FROM dd GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_first) AS BIGINT) AS tot FROM per),
        |cum AS (SELECT hop, n_first,
        |          CAST(sum(n_first) OVER (ORDER BY hop
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_reached
        |        FROM per),
        |ed AS (SELECT CAST(min(hop) AS INTEGER) AS eff_diameter
        |       FROM cum, tot WHERE cum_reached * 10 >= tot * 9)
        |SELECT hop, n_first, cum_reached,
        |  CAST(floor(CAST(cum_reached AS DOUBLE) / tot * 1e6 + 0.5)
        |    / 1e6 AS REAL) AS frac,
        |  ed.eff_diameter
        |FROM cum, tot, ed""".stripMargin,

    // Per-source walk + min-dist, σ levels as round-unrolled sums,
    // backward δ levels in the same micro-unit integer floor-div.
    "q358_betweenness" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |seeds AS (SELECT p_partkey AS id FROM part
        |          WHERE p_partkey % 1000 = 0),
        |walk(src, id, hop) AS (
        |  SELECT id, id, 0 FROM seeds
        |  UNION
        |  SELECT w.src, e.v, w.hop + 1 FROM walk w JOIN e ON e.u = w.id
        |  WHERE w.hop < 3),
        |d AS MATERIALIZED (SELECT src, id, min(hop) AS dist FROM walk
        |     GROUP BY 1, 2),
        |sg0 AS MATERIALIZED (SELECT src, id, CAST(1 AS BIGINT) AS sigma FROM d
        |        WHERE dist = 0),
        |sg1 AS MATERIALIZED (SELECT p.src, dd.id, sum(p.sigma) AS sigma
        |        FROM sg0 p JOIN e ON e.u = p.id
        |        JOIN d dd ON dd.src = p.src AND dd.id = e.v
        |          AND dd.dist = 1
        |        GROUP BY 1, 2),
        |sg2 AS MATERIALIZED (SELECT p.src, dd.id, sum(p.sigma) AS sigma
        |        FROM sg1 p JOIN e ON e.u = p.id
        |        JOIN d dd ON dd.src = p.src AND dd.id = e.v
        |          AND dd.dist = 2
        |        GROUP BY 1, 2),
        |sg3 AS MATERIALIZED (SELECT p.src, dd.id, sum(p.sigma) AS sigma
        |        FROM sg2 p JOIN e ON e.u = p.id
        |        JOIN d dd ON dd.src = p.src AND dd.id = e.v
        |          AND dd.dist = 3
        |        GROUP BY 1, 2),
        |dl3 AS MATERIALIZED (SELECT src, id, CAST(0 AS BIGINT) AS du FROM d
        |        WHERE dist = 3),
        |dl2 AS MATERIALIZED (SELECT l.src, l.id, CAST(COALESCE(s.du2, 0) AS BIGINT)
        |            AS du
        |        FROM (SELECT src, id FROM d WHERE dist = 2) l
        |        LEFT JOIN (
        |          SELECT v.src, v.id,
        |            sum(CAST(v.sigma AS HUGEINT) * (1000000 + COALESCE(w3.du, 0))
        |                // sw.sigma) AS du2
        |          FROM sg2 v
        |          JOIN e ON e.u = v.id
        |          JOIN d dw ON dw.src = v.src AND dw.id = e.v
        |            AND dw.dist = 3
        |          JOIN sg3 sw ON sw.src = v.src AND sw.id = e.v
        |          LEFT JOIN dl3 w3 ON w3.src = v.src AND w3.id = e.v
        |          GROUP BY 1, 2) s ON s.src = l.src AND s.id = l.id),
        |dl1 AS MATERIALIZED (SELECT l.src, l.id, CAST(COALESCE(s.du2, 0) AS BIGINT)
        |            AS du
        |        FROM (SELECT src, id FROM d WHERE dist = 1) l
        |        LEFT JOIN (
        |          SELECT v.src, v.id,
        |            sum(CAST(v.sigma AS HUGEINT) * (1000000 + COALESCE(w2.du, 0))
        |                // sw.sigma) AS du2
        |          FROM sg1 v
        |          JOIN e ON e.u = v.id
        |          JOIN d dw ON dw.src = v.src AND dw.id = e.v
        |            AND dw.dist = 2
        |          JOIN sg2 sw ON sw.src = v.src AND sw.id = e.v
        |          LEFT JOIN dl2 w2 ON w2.src = v.src AND w2.id = e.v
        |          GROUP BY 1, 2) s ON s.src = l.src AND s.id = l.id),
        |bc AS (SELECT id, sum(du) AS bcu FROM (
        |         SELECT src, id, du FROM dl1
        |         UNION ALL SELECT src, id, du FROM dl2
        |         UNION ALL SELECT src, id, du FROM dl3) GROUP BY 1)
        |SELECT p.p_partkey AS id,
        |  CAST(CAST((COALESCE(bc.bcu, 0) + 50) // 100 AS DOUBLE)
        |    / 10000.0 AS REAL) AS bc
        |FROM part p LEFT JOIN bc ON bc.id = p.p_partkey""".stripMargin,

    // The same per-source distance table, 10⁶ div dist exact terms.
    "q359_closeness" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |seeds AS (SELECT p_partkey AS id FROM part
        |          WHERE p_partkey % 1000 = 0),
        |walk(src, id, hop) AS (
        |  SELECT id, id, 0 FROM seeds
        |  UNION
        |  SELECT w.src, e.v, w.hop + 1 FROM walk w JOIN e ON e.u = w.id
        |  WHERE w.hop < 3),
        |d AS MATERIALIZED (SELECT src, id, min(hop) AS dist FROM walk
        |     GROUP BY 1, 2),
        |h AS (SELECT id, count(*) AS n_reached,
        |        sum(1000000 // dist) AS hu
        |      FROM d WHERE dist > 0 GROUP BY 1)
        |SELECT p.p_partkey AS id,
        |  CAST(COALESCE(h.n_reached, 0) AS BIGINT) AS n_reached,
        |  CAST(CAST((COALESCE(h.hu, 0) + 50) // 100 AS DOUBLE)
        |    / 10000.0 AS REAL) AS harmonic
        |FROM part p LEFT JOIN h ON h.id = p.p_partkey""".stripMargin,

    "q210_top_paths" ->
      s"""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         |             event_id, event_type FROM events),
         |l AS (SELECT *, lag(ts_s) OVER
         |        (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
         |      FROM e),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR ts_s - prev > $sessionGapS
         |        THEN 1 ELSE 0 END AS is_new FROM l),
         |s AS (SELECT *, CAST(sum(is_new) OVER
         |        (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT)
         |        AS sid FROM f),
         |p AS (SELECT user_id, sid,
         |        string_agg(event_type, '>' ORDER BY ts_s, event_id) AS path
         |      FROM s GROUP BY 1, 2),
         |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1)
         |SELECT path, n_sessions FROM c
         |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    "q217_anova" ->
      """WITH f AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |gm AS (SELECT g, count(*) AS ng,
        |    CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sgd,
        |    sum(CAST(x AS HUGEINT)) AS sg,
        |    sum(CAST(x AS HUGEINT) * x) AS qg
        |  FROM f GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS INTEGER) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg) AS DOUBLE) AS t,
        |    CAST(sum(qg) AS DOUBLE) AS q,
        |    CAST(sum(CAST(round(sgd * sgd / ng, 4) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS a
        |  FROM gm)
        |SELECT k, n,
        |  CAST(round((a - t * t / n) / 10000.0, 2) AS REAL) AS ss_between,
        |  CAST(round((q - a) / 10000.0, 2) AS REAL) AS ss_within,
        |  CAST(round(((a - t * t / n) / 10000.0 / (k - 1))
        |      / ((q - a) / 10000.0 / (n - k)), 4) AS REAL) AS f_stat
        |FROM m""".stripMargin,

    "q218_spearman" ->
      """WITH f AS (SELECT
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cx AS (SELECT x, count(*) AS ct FROM f GROUP BY 1),
        |rxs AS (SELECT x, (sum(ct) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct)
        |          * 2 + ct + 1 AS rx
        |        FROM cx),
        |cy AS (SELECT y, count(*) AS ct FROM f GROUP BY 1),
        |rys AS (SELECT y, (sum(ct) OVER (ORDER BY y
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct)
        |          * 2 + ct + 1 AS ry
        |        FROM cy),
        |r AS (SELECT rx, ry FROM f JOIN rxs USING (x) JOIN rys USING (y)),
        |m AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(rx AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ry AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(rx AS HUGEINT) * rx) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(rx AS HUGEINT) * ry) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(ry AS HUGEINT) * ry) AS DOUBLE) AS syy
        |  FROM r)
        |SELECT n,
        |  CAST(round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |         * (CAST(n AS DOUBLE) * syy - sy * sy)), 4) AS REAL) AS rho
        |FROM m""".stripMargin,

    // RANK ties share min-rank; percent_rank's (rank−1)/(n−1) is the
    // builtin's own definition — one IEEE division, round at the edge.
    "q216_global_rank" ->
      """SELECT o_orderkey, o_totalprice,
        |       CAST(rank() OVER (ORDER BY o_totalprice) AS BIGINT) AS rnk,
        |       CAST(round(percent_rank() OVER (ORDER BY o_totalprice), 6)
        |         AS REAL) AS pct
        |FROM orders WHERE o_totalprice IS NOT NULL""".stripMargin,

    "q212_new_returning" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |             FROM events
        |             WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |d AS (SELECT day, count(*) AS n_active FROM act GROUP BY 1),
        |fd AS (SELECT user_id, min(day) AS day FROM act GROUP BY 1),
        |nn AS (SELECT day, count(*) AS n_new FROM fd GROUP BY 1),
        |j AS (SELECT d.day, d.n_active, coalesce(nn.n_new, 0) AS n_new
        |      FROM d LEFT JOIN nn USING (day))
        |SELECT day, n_active, n_new, n_active - n_new AS n_returning,
        |       CAST(sum(n_new) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_users
        |FROM j""".stripMargin,

    "q213_weighted_median" ->
      """WITH vw AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |         sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
        |           AS wt
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1, 2),
        |s AS (SELECT *, sum(wt) OVER (PARTITION BY g ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        |        sum(wt) OVER (PARTITION BY g) AS tot FROM vw)
        |SELECT g AS l_returnflag,
        |       CAST(max(tot) AS DOUBLE) / 100.0 AS total_w,
        |       min(CASE WHEN run * 100 >= tot * 50 THEN v END) AS q50,
        |       min(CASE WHEN run * 100 >= tot * 90 THEN v END) AS q90
        |FROM s GROUP BY 1""".stripMargin,

    "q214_mode" ->
      """WITH c AS (SELECT l_returnflag AS g, l_quantity AS v,
        |             count(*) AS n
        |           FROM lineitem WHERE l_quantity IS NOT NULL
        |           GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY g
        |        ORDER BY n DESC, v) AS rk FROM c)
        |SELECT g AS l_returnflag, v AS mode, n FROM r WHERE rk = 1"""
        .stripMargin,

    "q215_hll_overlap" -> {
      val reg = OracleSql.md5IntN("h", 1, 2)
      val w = OracleSql.md5IntN("h", 3, 12)
      def est(src: String, out: String) =
        s"""SELECT CAST(round(0.7213 / (1.0 + 1.079 / 256) * 256 * 256
           |    * 562949953421312.0
           |    / CAST(sp + CAST(256 - m_p AS BIGINT) * 562949953421312
           |           AS DOUBLE), 2) AS REAL) AS $out FROM $src"""
          .stripMargin
      s"""WITH f AS (SELECT DISTINCT event_type,
         |             CAST(user_id AS VARCHAR) || ':' ||
         |               CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
         |           FROM events
         |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |             AND event_type IN ('view', 'purchase')),
         |hh AS (SELECT event_type, md5(ud) AS h FROM f),
         |r AS (SELECT event_type, $reg AS reg, $w AS wd FROM hh),
         |rk AS (SELECT event_type, reg,
         |         max(CASE WHEN wd = 0 THEN 49
         |             ELSE 49 - length(bin(wd)) END) AS mr
         |       FROM r GROUP BY 1, 2),
         |ru AS (SELECT reg, max(mr) AS mr FROM rk GROUP BY 1),
         |ga AS (SELECT CAST(count(*) AS INTEGER) AS m_p,
         |         CAST(sum(1::BIGINT << (49 - mr)) AS BIGINT) AS sp
         |       FROM rk WHERE event_type = 'view'),
         |gb AS (SELECT CAST(count(*) AS INTEGER) AS m_p,
         |         CAST(sum(1::BIGINT << (49 - mr)) AS BIGINT) AS sp
         |       FROM rk WHERE event_type = 'purchase'),
         |gu AS (SELECT CAST(count(*) AS INTEGER) AS m_p,
         |         CAST(sum(1::BIGINT << (49 - mr)) AS BIGINT) AS sp
         |       FROM ru),
         |ea AS (${est("ga", "est_view")}),
         |eb AS (${est("gb", "est_purchase")}),
         |eu AS (${est("gu", "est_union")}),
         |x AS (SELECT count(*) AS n_exact_overlap FROM
         |       (SELECT ud FROM f WHERE event_type = 'view'
         |        INTERSECT
         |        SELECT ud FROM f WHERE event_type = 'purchase'))
         |SELECT est_view, est_purchase, est_union,
         |  CAST(round(CAST(est_view AS DOUBLE) + CAST(est_purchase AS DOUBLE)
         |    - CAST(est_union AS DOUBLE), 2) AS REAL) AS est_overlap,
         |  n_exact_overlap
         |FROM ea, eb, eu, x""".stripMargin
    },

    "q15_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(round(quantile_cont(value, 0.5), 4) AS REAL) AS p50,
        |       CAST(round(quantile_cont(value, 0.9), 4) AS REAL) AS p90,
        |       CAST(round(quantile_cont(value, 0.99), 4) AS REAL) AS p99
        |FROM events GROUP BY 1""".stripMargin,

    // The sketch's md5-ranked sample is re-derived exactly: same hash,
    // same k, same index arithmetic over the value-sorted sample.
    "q103_quantile_sketch" ->
      """WITH h AS (
        |  SELECT event_type, value,
        |         md5(CAST(event_id AS VARCHAR)) AS h
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY h) AS rk FROM h),
        |s AS (SELECT event_type, value FROM r WHERE rk <= 200),
        |g AS (SELECT event_type, list(value ORDER BY value) AS vs
        |      FROM s GROUP BY 1),
        |c AS (SELECT event_type, count(*) AS n_rows FROM events GROUP BY 1)
        |SELECT g.event_type, c.n_rows,
        |       CAST(len(vs) AS INTEGER) AS n_sample,
        |       vs[CAST(floor(0.5 * (len(vs)-1)) AS INT) + 1] AS p50,
        |       vs[CAST(floor(0.9 * (len(vs)-1)) AS INT) + 1] AS p90,
        |       vs[CAST(floor(0.99 * (len(vs)-1)) AS INT) + 1] AS p99
        |FROM g JOIN c USING (event_type)""".stripMargin,

    "q16_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |       count(*) AS n,
        |       CAST(round(sum(l_quantity), 2) AS REAL) AS sum_qty,
        |       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS REAL)
        |         AS revenue
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q17_pivot" -> {
      val cols = Seq("click", "view", "purchase", "signup", "error").map(t =>
        s"CAST(round(avg(value) FILTER (event_type = '$t'), 4) AS REAL) AS $t")
        .mkString(",\n       ")
      s"""SELECT CAST(user_id % 10 AS INTEGER) AS user_bucket,
         |       $cols
         |FROM events GROUP BY 1""".stripMargin
    },

    "q19_skew_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY 1""".stripMargin,

    "q25_salted_join" ->
      """SELECT p.p_brand AS brand, count(*) AS n,
        |       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |            AS REAL) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1""".stripMargin,

    // session_window boundary: NEW session when ts >= prev + gap
    // (half-open windows), compared at full timestamp precision;
    // start/end floor to epoch seconds only at the output edge.
    "q106_session_window" ->
      """WITH l AS (
        |  SELECT user_id, ts, value, lag(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev IS NULL
        |        OR ts >= prev + INTERVAL 6 HOUR THEN 1 ELSE 0 END AS is_new
        |      FROM l),
        |s AS (SELECT *, sum(is_new) OVER
        |        (PARTITION BY user_id ORDER BY ts) AS sid FROM f)
        |SELECT user_id,
        |       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
        |       CAST(floor(epoch(max(ts))) AS BIGINT) + 21600 AS end_s,
        |       count(*) AS n_events,
        |       CAST(round(sum(value), 4) AS REAL) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // Per-brand HUGEINT revenue, Σx² and (Σx)² exact, one division.
    "q322_hhi" ->
      """WITH rev AS (
        |  SELECT p.p_brand,
        |         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
        |           * 100 AS BIGINT) AS x
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |        sum(CAST(x AS HUGEINT)) AS t,
        |        sum(CAST(x AS HUGEINT) * x) AS q,
        |        CAST(max(x) AS BIGINT) AS mx
        |      FROM rev),
        |h AS (SELECT *, CASE WHEN t > 0 THEN
        |        CAST(q AS DOUBLE) / (CAST(t AS DOUBLE)
        |          * CAST(t AS DOUBLE)) END AS hh
        |      FROM m)
        |SELECT n_groups,
        |  CAST(floor(hh * 1e6 + 0.5) / 1e6 AS REAL) AS hhi,
        |  CASE WHEN hh > 0 THEN
        |    CAST(floor(1.0 / hh * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS effective_n,
        |  CASE WHEN t > 0 THEN
        |    CAST(floor(CAST(mx AS DOUBLE) / CAST(t AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS top_share
        |FROM h""".stripMargin,

    // q200's per-customer cents, one exact μ ratio, each x·ln(x/μ)/μ
    // term micro-scaled and integer-summed, one division.
    "q323_theil" ->
      """WITH u AS (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |           AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |          sum(CAST(x AS HUGEINT)) AS t
        |        FROM u),
        |terms AS (SELECT n, CAST(floor(
        |    (CASE WHEN x > 0 THEN
        |       (x / (CAST(t AS DOUBLE) / n))
        |         * ln(x / (CAST(t AS DOUBLE) / n))
        |     ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT) AS t6
        |  FROM u, tot)
        |SELECT n AS n_units,
        |  CAST(floor(CAST(sum(CAST(t6 AS HUGEINT)) AS DOUBLE)
        |      / n / 1e6 * 1e6 + 0.5) / 1e6 AS REAL) AS theil_t
        |FROM terms GROUP BY n""".stripMargin,

    "q200_gini" ->
      """WITH u AS (
        |  SELECT o_custkey AS uid,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |           AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT uid, x,
        |        CAST(row_number() OVER (ORDER BY x, uid) AS BIGINT) AS rk
        |      FROM u),
        |m AS (SELECT count(*) AS n,
        |        sum(CAST(x AS DECIMAL(38,0))) AS t,
        |        sum(CAST(rk AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |          AS s
        |      FROM r),
        |sh AS (SELECT
        |         sum(CASE WHEN rk > n - n // 100
        |             THEN CAST(x AS DECIMAL(38,0)) END) AS x1,
        |         sum(CASE WHEN rk > n - n // 10
        |             THEN CAST(x AS DECIMAL(38,0)) END) AS x10
        |       FROM r, m)
        |SELECT n AS n_units, CAST(t AS BIGINT) AS total,
        |  CAST(round((2.0 * CAST(s AS DOUBLE)
        |         - CAST(n + 1 AS DOUBLE) * CAST(t AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 4) AS REAL)
        |    AS gini,
        |  CAST(round(coalesce(CAST(x1 AS DOUBLE), 0) / CAST(t AS DOUBLE), 4)
        |    AS REAL) AS top1_share,
        |  CAST(round(coalesce(CAST(x10 AS DOUBLE), 0) / CAST(t AS DOUBLE), 4)
        |    AS REAL) AS top10_share
        |FROM m, sh""".stripMargin,

    "q198_running_total" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS odate, count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT odate, n_orders, CAST(CAST(rev AS DOUBLE) AS REAL) AS rev,
        |       CAST(CAST(sum(rev) OVER (ORDER BY odate
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS REAL) AS run_rev
        |FROM daily""".stripMargin,

    "q199_ks_test" ->
      """WITH c AS (
        |  SELECT value AS v,
        |         count(*) FILTER (event_type = 'view') AS c1,
        |         count(*) FILTER (event_type = 'purchase') AS c2
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        |  GROUP BY 1),
        |s AS (
        |  SELECT v,
        |         sum(c1) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1,
        |         sum(c2) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
        |  FROM c),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM c),
        |d AS (SELECT v, n1, n2,
        |        abs(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2) AS d
        |      FROM s, n)
        |SELECT n1, n2, CAST(round(-(m.nd), 4) AS REAL) AS d,
        |       m.v AS at_value
        |FROM (SELECT n1, n2, min(struct_pack(nd := -d, v := v)) AS m
        |      FROM d GROUP BY 1, 2)""".stripMargin,

    "q197_chi2" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER)
        |           AS dow, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |we AS (
        |  SELECT c.event_type, c.dow, c.o,
        |         CAST(rt.rt AS DOUBLE) * ct.ct / n.n AS e
        |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow), n),
        |wc AS (SELECT *, round((o - e) * (o - e) / e, 4) AS contrib FROM we),
        |tot AS (
        |  SELECT CAST(CAST(sum(CAST(contrib AS DECIMAL(18,4))) AS DOUBLE)
        |           AS REAL) AS chi2,
        |         CAST((count(DISTINCT event_type) - 1) *
        |              (count(DISTINCT dow) - 1) AS INTEGER) AS dof
        |  FROM wc)
        |SELECT event_type, dow, o, CAST(round(e, 2) AS REAL) AS e,
        |       CAST(contrib AS REAL) AS contrib, chi2, dof
        |FROM wc, tot""".stripMargin,

    // Same gap moments replayed; lag over the same (ts, event_id)
    // total order, exact long sums, identical IEEE sequence.
    "q234_burstiness" ->
      """WITH g AS (
        |  SELECT user_id AS id,
        |         CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS g
        |  FROM events),
        |a AS (
        |  SELECT id, count(*) AS n, CAST(sum(g) AS BIGINT) AS sg,
        |         CAST(sum(g * g) AS BIGINT) AS sg2
        |  FROM g WHERE g IS NOT NULL GROUP BY 1 HAVING count(*) >= 5),
        |x AS (
        |  SELECT id, n, sg, sg2,
        |         CAST(sg AS DOUBLE) / n AS mu,
        |         CAST(sg2 AS DOUBLE) / n
        |           - (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n)
        |           AS vr
        |  FROM a),
        |y AS (
        |  SELECT id, n, mu,
        |         CASE WHEN vr > 0 THEN sqrt(vr)
        |              ELSE CAST(0 AS DOUBLE) END AS sig
        |  FROM x)
        |SELECT id, CAST(n AS INTEGER) AS n_gaps,
        |       CAST(floor(mu * 1e6 + 0.5) / 1e6 AS REAL) AS mean_gap_s,
        |       CASE WHEN mu > 0 THEN
        |         CAST(floor((sig - mu) / (sig + mu) * 1e6 + 0.5) / 1e6
        |           AS REAL) END AS burstiness
        |FROM y""".stripMargin,

    // Independent edge re-derivation + the same exact integer
    // modularity form; HUGEINT sums cast back before the one divide.
    "q232_modularity" ->
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |lab AS (SELECT p_partkey AS id, p_brand AS community FROM part),
        |e AS (
        |  SELECT e0.a, e0.b, la.community AS ca, lb.community AS cb
        |  FROM e0 JOIN lab la ON e0.a = la.id
        |          JOIN lab lb ON e0.b = lb.id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |degc AS (
        |  SELECT ca AS community, CAST(count(*) AS BIGINT) AS deg_sum,
        |         CAST(count(DISTINCT a) AS INTEGER) AS n_nodes
        |  FROM e GROUP BY 1),
        |intra AS (
        |  SELECT ca AS community, CAST(count(*) AS BIGINT) AS intra_edges
        |  FROM e WHERE ca = cb GROUP BY 1),
        |cells AS (
        |  SELECT d.community, d.n_nodes, d.deg_sum,
        |         coalesce(i.intra_edges, 0) AS intra_edges
        |  FROM degc d LEFT JOIN intra i USING (community)),
        |tot AS (
        |  SELECT CAST(sum(intra_edges) AS BIGINT) AS si,
        |         CAST(sum(deg_sum * deg_sum) AS BIGINT) AS sd
        |  FROM cells)
        |SELECT community, n_nodes, deg_sum, intra_edges,
        |  CASE WHEN m.m > 0 THEN
        |    CAST(floor(CAST(m.m * intra_edges - deg_sum * deg_sum
        |                 AS DOUBLE)
        |      / (CAST(m.m AS DOUBLE) * m.m) * 1e6 + 0.5) / 1e6 AS REAL)
        |    END AS contrib,
        |  CASE WHEN m.m > 0 THEN
        |    CAST(floor(CAST(m.m * tot.si - tot.sd AS DOUBLE)
        |      / (CAST(m.m AS DOUBLE) * m.m) * 1e6 + 0.5) / 1e6 AS REAL)
        |    END AS q_mod
        |FROM cells, m, tot""".stripMargin,

    // Same island sweep replayed: max-over-prior-rows opens islands,
    // cumsum numbers them, two bounded rollups.
    "q228_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id AS id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |         CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS e
        |  FROM events),
        |m AS (
        |  SELECT *, max(e) OVER (PARTITION BY id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |isl AS (
        |  SELECT *, sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (
        |  SELECT id, island, count(*) AS n, min(s) AS i_s, max(e) AS i_e
        |  FROM isl GROUP BY 1, 2)
        |SELECT id, CAST(sum(n) AS INTEGER) AS n_intervals,
        |       CAST(count(*) AS INTEGER) AS n_islands,
        |       CAST(sum(i_e - i_s) AS BIGINT) AS covered
        |FROM g GROUP BY 1""".stripMargin,

    "q195_interval_overlap" ->
      s"""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         |             event_id, event_type FROM events),
         |lsess AS (
         |  SELECT user_id, sid, min(ts_s) AS ls, max(ts_s) AS le,
         |         count(*) AS ln
         |  FROM (SELECT *, CAST(sum(is_new) OVER
         |          (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT)
         |          AS sid
         |        FROM (SELECT *, CASE WHEN prev IS NULL
         |                OR ts_s - prev > $sessionGapS THEN 1 ELSE 0 END
         |                AS is_new
         |              FROM (SELECT *, lag(ts_s) OVER
         |                      (PARTITION BY user_id
         |                       ORDER BY ts_s, event_id) AS prev
         |                    FROM e
         |                    WHERE event_type IN ('view', 'click'))))
         |  GROUP BY 1, 2),
         |rsess AS (
         |  SELECT user_id, sid, min(ts_s) AS rs, max(ts_s) AS re,
         |         count(*) AS rn
         |  FROM (SELECT *, CAST(sum(is_new) OVER
         |          (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT)
         |          AS sid
         |        FROM (SELECT *, CASE WHEN prev IS NULL
         |                OR ts_s - prev > $sessionGapS THEN 1 ELSE 0 END
         |                AS is_new
         |              FROM (SELECT *, lag(ts_s) OVER
         |                      (PARTITION BY user_id
         |                       ORDER BY ts_s, event_id) AS prev
         |                    FROM e
         |                    WHERE event_type = 'purchase')))
         |  GROUP BY 1, 2)
         |SELECT l.user_id, l.sid AS lsid, r.sid AS rsid, l.ls, r.rs,
         |       least(l.le, r.re) - greatest(l.ls, r.rs) AS overlap_s,
         |       l.ln, r.rn
         |FROM lsess l JOIN rsess r
         |  ON l.user_id = r.user_id
         | AND greatest(l.ls, r.rs) <= least(l.le, r.re)""".stripMargin,

    "q18_sessionize" ->
      s"""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         |             event_id, value FROM events),
         |l AS (SELECT *, lag(ts_s) OVER
         |        (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
         |      FROM e),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR ts_s - prev > $sessionGapS
         |        THEN 1 ELSE 0 END AS is_new FROM l),
         |s AS (SELECT *, CAST(sum(is_new) OVER
         |        (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT)
         |        AS sid FROM f)
         |SELECT user_id, sid AS session_id, min(ts_s) AS start_s,
         |       count(*) AS n_events,
         |       max(ts_s) - min(ts_s) AS duration_s,
         |       CAST(round(sum(value), 4) AS REAL) AS total_value
         |FROM s GROUP BY 1, 2""".stripMargin,

    // The weighted walk unrolled with the same integer arithmetic,
    // contribution (r·w) // Σw.
    "q235_pagerank_weighted" ->
      s"""WITH n AS (SELECT p_partkey AS id FROM part),
         |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
         |             CAST(count(*) AS BIGINT) AS w
         |      FROM lineitem a JOIN lineitem b
         |        ON a.l_orderkey = b.l_orderkey
         |       AND a.l_partkey <> b.l_partkey
         |      GROUP BY 1, 2),
         |${graft.graph.PageRank.oracleCteWeighted(5)}
         |SELECT id, CAST(r AS BIGINT) AS rank_fp FROM r5""".stripMargin,

    // Full Bellman–Ford unrolled 3 rounds (relax-from-everything +
    // min-merge per stage) — provably equal to the engine's
    // frontier-pruned rounds: a node that did not improve at r−1 had
    // its out-edges relaxed at the same value in an earlier round, so
    // the candidate is already folded into d_{r−1}. MATERIALIZED per
    // stage (the q126 inlining discipline). Integer // division.
    "q243_sssp" ->
      """WITH e AS MATERIALIZED (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |         1000000 // CAST(count(*) AS BIGINT) AS len
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2),
        |d0 AS MATERIALIZED (
        |  SELECT p_partkey AS id, CAST(0 AS BIGINT) AS d
        |  FROM part WHERE p_partkey % 500 = 0),
        |r1 AS MATERIALIZED (
        |  SELECT e.dst AS id, min(d0.d + e.len) AS d
        |  FROM d0 JOIN e ON e.src = d0.id GROUP BY 1),
        |d1 AS MATERIALIZED (
        |  SELECT id, min(d) AS d FROM (
        |    SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY 1),
        |r2 AS MATERIALIZED (
        |  SELECT e.dst AS id, min(d1.d + e.len) AS d
        |  FROM d1 JOIN e ON e.src = d1.id GROUP BY 1),
        |d2 AS MATERIALIZED (
        |  SELECT id, min(d) AS d FROM (
        |    SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY 1),
        |r3 AS MATERIALIZED (
        |  SELECT e.dst AS id, min(d2.d + e.len) AS d
        |  FROM d2 JOIN e ON e.src = d2.id GROUP BY 1),
        |d3 AS MATERIALIZED (
        |  SELECT id, min(d) AS d FROM (
        |    SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY 1)
        |SELECT p.p_partkey AS id, coalesce(d3.d, -1) AS dist
        |FROM part p LEFT JOIN d3 ON d3.id = p.p_partkey""".stripMargin,

    // Wedge candidates + anti-join + the same exact integer RA sum
    // and (ra desc, a, b) top-50 total order.
    "q268_linkpred" ->
      """WITH e AS MATERIALIZED (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS MATERIALIZED (
        |  SELECT id, count(*) AS dg FROM (
        |    SELECT u AS id FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |nb AS (SELECT u AS z, v AS n FROM e
        |       UNION ALL SELECT v, u FROM e),
        |w AS (SELECT x.z, x.n AS a, y.n AS b
        |      FROM nb x JOIN nb y ON x.z = y.z AND x.n < y.n),
        |cand AS (
        |  SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS n_common,
        |         CAST(sum(1000000 // d.dg) AS BIGINT) AS ra_fp
        |  FROM w JOIN d ON d.id = w.z
        |  LEFT JOIN e ON e.u = w.a AND e.v = w.b
        |  WHERE e.u IS NULL
        |  GROUP BY 1, 2)
        |SELECT a, b, n_common, ra_fp FROM cand
        |ORDER BY ra_fp DESC, a, b LIMIT 50""".stripMargin,

    // All four synchronous rounds unrolled: per-(node, label)
    // neighbor counts + the row_number (cnt desc, lbl) argmax — the
    // engine's min(struct(-cnt, lbl)) re-derived — then community
    // sizes on the final labels.
    "q269_label_prop" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |${graft.graph.LabelProp.oracleCte(4)}
         |SELECT l.id, l.lbl, CAST(c.csize AS BIGINT) AS csize
         |FROM l4 l JOIN csz c USING (lbl)""".stripMargin,

    // The handshake rounds unrolled move by move: per-round ΔQ
    // candidates, per-node argmax, per-community best, the two-sided
    // handshake join, and the label patch — all exact integers.
    "q295_louvain" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |${graft.graph.Louvain.oracleCte(4)}
         |SELECT l.id, l.c AS community, z.csize
         |FROM l4 l JOIN csz z USING (c)""".stripMargin,

    // Level 1 unrolled as in q295, then the contraction groupBy
    // (community-pair weights, intra edges as self-loops), then the
    // WEIGHTED handshake unrolled with suffixed CTE names — both
    // levels exact integers end-to-end.
    "q324_louvain_multilevel" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |${graft.graph.Louvain.oracleCte(4)},
         |e2 AS MATERIALIZED (
         |  SELECT la.c AS src, lb.c AS dst,
         |         CAST(count(*) AS BIGINT) AS w
         |  FROM e JOIN l4 la ON la.id = e.src
         |         JOIN l4 lb ON lb.id = e.dst
         |  GROUP BY 1, 2),
         |${graft.graph.Louvain.oracleCteW(4, "y", "e2")},
         |fin AS (SELECT l.id, l.c AS c1, y.c AS c2
         |        FROM l4 l JOIN ly4 y ON y.id = l.c),
         |csz2 AS (SELECT c2, CAST(count(*) AS BIGINT) AS csize
         |         FROM fin GROUP BY 1)
         |SELECT f.id, f.c1, f.c2 AS community, z.csize
         |FROM fin f JOIN csz2 z USING (c2)""".stripMargin,

    // The register frames unrolled round by round (f0..f4), the
    // per-hop nr/sp readouts with the SAME plan-time linear-counting
    // literals, the exact centi-unit sums, the integer 90% rule.
    "q325_anf_diameter" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |nds AS (SELECT p_partkey AS id FROM part),
         |${graft.graph.Anf.oracleCte(4)},
         |tt AS (SELECT anf_c AS tot FROM anf WHERE hop = 4),
         |ed AS (SELECT CAST(min(hop) AS INTEGER) AS eff_diameter
         |       FROM anf, tt WHERE anf_c * 10 >= tot * 9)
         |SELECT CAST(anf.hop AS INTEGER) AS hop, anf.n_nodes,
         |  anf.anf_c,
         |  CAST(floor(CAST(anf_c AS DOUBLE) / tot * 1e6 + 0.5) / 1e6
         |    AS REAL) AS frac,
         |  ed.eff_diameter
         |FROM anf, tt, ed""".stripMargin,

    // The walk unrolled hop by hop: per-hop md5 draw over the
    // neighbor set, row_number (h, dst) argmin, step frames unioned.
    "q270_random_walks" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |sd AS (SELECT p_partkey AS id FROM part
         |       WHERE p_partkey % 100 = 0),
         |${graft.graph.RandomWalk.oracleCte(4)}
         |${graft.graph.RandomWalk.oracleSelect(4)}""".stripMargin,

    // The same (pos, n) window per conversion and the same integer
    // basis-point CASEs — each model provably sums to 10000 per
    // conversion on both engines.
    "q271_attribution" ->
      """WITH ev AS (SELECT user_id,
        |              CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |              event_id, event_type FROM events),
        |conv AS (SELECT user_id, t AS ct, event_id AS conv_id
        |         FROM ev WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, t, event_id, event_type AS channel
        |        FROM ev WHERE event_type <> 'purchase'),
        |p AS (SELECT c.conv_id, tc.channel, tc.t, tc.event_id
        |      FROM conv c JOIN tch tc ON tc.user_id = c.user_id
        |       AND tc.t < c.ct AND tc.t >= c.ct - 604800),
        |r AS (SELECT *,
        |        CAST(row_number() OVER (PARTITION BY conv_id
        |          ORDER BY t, event_id) AS BIGINT) AS pos,
        |        CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
        |          AS nt
        |      FROM p),
        |cr AS (SELECT channel, conv_id,
        |         CASE WHEN pos = 1 THEN 10000 ELSE 0 END AS ffp,
        |         CASE WHEN pos = nt THEN 10000 ELSE 0 END AS lfp,
        |         10000 // nt + CASE WHEN pos = nt THEN 10000 % nt
        |                           ELSE 0 END AS linfp,
        |         CASE WHEN nt = 1 THEN 10000
        |              WHEN nt = 2 THEN 5000
        |              WHEN pos = 1 OR pos = nt THEN 4000
        |              ELSE 2000 // (nt - 2) +
        |                   CASE WHEN pos = nt - 1 THEN 2000 % (nt - 2)
        |                        ELSE 0 END
        |         END AS ufp
        |       FROM r)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |       CAST(sum(ffp) AS BIGINT) AS first_fp,
        |       CAST(sum(lfp) AS BIGINT) AS last_fp,
        |       CAST(sum(linfp) AS BIGINT) AS linear_fp,
        |       CAST(sum(ufp) AS BIGINT) AS ushape_fp
        |FROM cr GROUP BY 1""".stripMargin,

    // Session gap rule, first-occurrence distinct-type ranks, the
    // ordered triple enumeration, and the same (n desc, t1, t2, t3)
    // top-50 total order.
    "q272_seq_patterns" ->
      s"""WITH e AS (SELECT user_id,
         |             CAST(floor(epoch(ts)) AS BIGINT) AS t,
         |             event_id, event_type FROM events),
         |l AS (SELECT *, lag(t) OVER (PARTITION BY user_id
         |        ORDER BY t, event_id) AS prev FROM e),
         |s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL
         |          OR t - prev > $sessionGapS THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY user_id ORDER BY t, event_id)
         |        AS BIGINT) AS sid FROM l),
         |fo AS MATERIALIZED (
         |  SELECT user_id, sid, event_type, t, event_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY
         |             user_id, sid, event_type
         |           ORDER BY t, event_id) AS rn FROM s)
         |       WHERE rn = 1),
         |rk AS MATERIALIZED (
         |  SELECT user_id, sid, event_type,
         |         row_number() OVER (PARTITION BY user_id, sid
         |           ORDER BY t, event_id) AS rk
         |  FROM fo),
         |p AS (SELECT a.event_type AS t1, b.event_type AS t2,
         |             c.event_type AS t3
         |      FROM rk a
         |      JOIN rk b ON b.user_id = a.user_id AND b.sid = a.sid
         |       AND b.rk > a.rk
         |      JOIN rk c ON c.user_id = a.user_id AND c.sid = a.sid
         |       AND c.rk > b.rk)
         |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_sessions
         |FROM p GROUP BY 1, 2, 3 HAVING count(*) >= 2
         |ORDER BY n_sessions DESC, t1, t2, t3 LIMIT 50""".stripMargin,

    // The weight draw re-derived: same per-block md5, the same eight
    // 16-bit nibble-group uniforms per digest, the same inlined
    // Poisson CDF thresholds (integer compares only), the same
    // rank-2/rank-63 percentile reads.
    "q280_bootstrap_ci" -> {
      val caseW = graft.ops.Stats.poissonCdf16.zipWithIndex
        .map { case (t, k) => s"WHEN h < $t THEN $k" }
        .mkString("\n        |            ")
      val h16 = (0 until 4).map { i =>
        s"(strpos('0123456789abcdef', substr(hh, 1 + 4 * j + $i, 1))" +
          s" - 1) * ${math.pow(16, 3 - i).toLong}.0"
      }.mkString("\n        |           + ")
      s"""WITH base AS (SELECT CAST(event_id AS VARCHAR) AS id,
        |                CAST(value AS DOUBLE) AS x
        |              FROM events WHERE value IS NOT NULL),
        |ex AS (SELECT id, x, CAST(blk AS INTEGER) AS blk
        |       FROM base, range(8) t(blk)),
        |hx AS (SELECT x, blk, md5('boot:' || id || ':' ||
        |         CAST(blk AS VARCHAR)) AS hh FROM ex),
        |hj AS (SELECT x, blk, CAST(j AS INTEGER) AS j, hh
        |       FROM hx, range(8) tj(j)),
        |hw AS (SELECT x, blk * 8 + j AS r,
        |         CAST(($h16) AS BIGINT) AS h
        |       FROM hj),
        |ww AS (SELECT x, r,
        |         CASE $caseW
        |              ELSE 8 END AS w FROM hw),
        |rep AS (SELECT r, sum(w * x) AS sx,
        |               CAST(sum(w) AS BIGINT) AS sw
        |        FROM ww GROUP BY 1),
        |ms AS (SELECT sx / sw AS m,
        |              row_number() OVER (ORDER BY sx / sw) AS rn,
        |              count(*) OVER () AS nb
        |       FROM rep WHERE sw > 0),
        |pt AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS est
        |       FROM base)
        |SELECT pt.n, CAST(ms0.nb AS INTEGER) AS n_boot,
        |       CAST(floor(pt.est * 1e6 + 0.5) / 1e6 AS REAL) AS est,
        |       CAST(floor(lo.m * 1e6 + 0.5) / 1e6 AS REAL) AS ci_lo,
        |       CAST(floor(hi.m * 1e6 + 0.5) / 1e6 AS REAL) AS ci_hi
        |FROM pt, (SELECT DISTINCT nb FROM ms) ms0,
        |     (SELECT m FROM ms WHERE rn = 2) lo,
        |     (SELECT m FROM ms WHERE rn = 63) hi""".stripMargin
    },

    // Per-(cat, fold) exact cent moments, the same out-of-fold
    // smoothing sequence, floor-rounded at the edge.
    "q281_target_encoding" ->
      """WITH f AS (SELECT p.p_brand AS cat,
        |             CAST(l.l_orderkey % 5 AS INTEGER) AS fold,
        |             CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |               AS yc
        |           FROM lineitem l
        |           JOIN part p ON l.l_partkey = p.p_partkey
        |           WHERE l.l_extendedprice IS NOT NULL),
        |pf AS (SELECT cat, fold, CAST(count(*) AS BIGINT) AS nf,
        |              CAST(sum(yc) AS BIGINT) AS sf
        |       FROM f GROUP BY 1, 2),
        |pc AS (SELECT cat, CAST(sum(nf) AS BIGINT) AS nc,
        |              CAST(sum(sf) AS BIGINT) AS sc
        |       FROM pf GROUP BY 1),
        |g AS (SELECT CAST(sum(nf) AS BIGINT) AS ng,
        |             CAST(sum(sf) AS BIGINT) AS sg FROM pf)
        |SELECT pf.cat, pf.fold, nc - nf AS n_oof,
        |       CAST(floor(((CAST(sc - sf AS DOUBLE) / 100.0
        |           + 10.0 * (CAST(sg AS DOUBLE) / 100.0 / ng))
        |         / (CAST(nc - nf AS DOUBLE) + 10.0)) * 1e6 + 0.5)
        |         / 1e6 AS REAL) AS enc
        |FROM pf JOIN pc USING (cat), g""".stripMargin,

    // The pair slopes, both rank-⌈N/2⌉ medians, and the residual
    // sequence re-derived with identical IEEE steps.
    "q285_theil_sen" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS odate,
        |                CAST(round(sum(CAST(o_totalprice
        |                  AS DECIMAL(18,2))) * 100) AS BIGINT) AS y
        |              FROM orders GROUP BY 1),
        |b AS MATERIALIZED (
        |  SELECT CAST(odate - DATE '1970-01-01' AS BIGINT) AS x, y
        |  FROM daily),
        |p AS MATERIALIZED (
        |  SELECT CAST(b2.y - b1.y AS DOUBLE) / (b2.x - b1.x) AS m,
        |         b1.x AS x1, b2.x AS x2
        |  FROM b b1 JOIN b b2 ON b1.x < b2.x),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
        |rs AS (SELECT m, row_number() OVER (ORDER BY m, x1, x2) AS rn
        |       FROM p),
        |sl AS (SELECT min(CASE WHEN rn >=
        |         (SELECT (n + 1) // 2 FROM np) THEN m END) AS slope
        |       FROM rs),
        |rd AS (SELECT CAST(y AS DOUBLE) -
        |         (SELECT slope FROM sl) * CAST(x AS DOUBLE) AS b0, x
        |       FROM b),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rd),
        |ri AS (SELECT b0, row_number() OVER (ORDER BY b0, x) AS rn
        |       FROM rd),
        |ic AS (SELECT min(CASE WHEN rn >=
        |         (SELECT (n + 1) // 2 FROM nn) THEN b0 END) AS icept
        |       FROM ri)
        |SELECT (SELECT n FROM nn) AS n_points,
        |       (SELECT n FROM np) AS n_pairs,
        |       CAST(floor((SELECT slope FROM sl) * 1e6 + 0.5) / 1e6
        |         AS REAL) AS slope_cents_per_x,
        |       CAST(floor((SELECT icept FROM ic) * 1e6 + 0.5) / 1e6
        |         AS REAL) AS intercept_cents""".stripMargin,

    // Exact S, the tie-corrected variance numerator, the same
    // continuity-corrected z.
    "q286_mann_kendall" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS odate,
        |                CAST(round(sum(CAST(o_totalprice
        |                  AS DECIMAL(18,2))) * 100) AS BIGINT) AS y
        |              FROM orders GROUP BY 1),
        |b AS MATERIALIZED (
        |  SELECT CAST(odate - DATE '1970-01-01' AS BIGINT) AS x, y
        |  FROM daily),
        |s AS (SELECT CAST(sum(CASE WHEN b2.y > b1.y THEN 1
        |               WHEN b2.y < b1.y THEN -1 ELSE 0 END)
        |        AS BIGINT) AS s
        |      FROM b b1 JOIN b b2 ON b1.x < b2.x),
        |tt AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |         AS tt
        |       FROM (SELECT count(*) AS t FROM b GROUP BY y)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |v AS (SELECT nn.n, s.s,
        |             nn.n * (nn.n - 1) * (2 * nn.n + 5)
        |               - coalesce(tt.tt, 0) AS var18_num
        |      FROM nn, s, tt)
        |SELECT n AS n_points, s, var18_num,
        |       CASE WHEN var18_num > 0 THEN
        |         CAST(floor((CAST(s AS DOUBLE)
        |             - sign(CAST(s AS DOUBLE)))
        |           / sqrt(CAST(var18_num AS DOUBLE) / 18.0)
        |           * 1e6 + 0.5) / 1e6 AS REAL)
        |       END AS z
        |FROM v""".stripMargin,

    // Folds, integer-cent residuals, the same clamped-k order
    // statistic from per-value counts, coverage re-counted on fold 2.
    "q282_conformal" ->
      """WITH rws AS (SELECT o_orderpriority AS g,
        |              CAST(round(o_totalprice * 100) AS BIGINT) AS yc,
        |              CAST(o_orderkey % 3 AS INTEGER) AS sp
        |            FROM orders WHERE o_totalprice IS NOT NULL),
        |mu AS (SELECT g, CAST(CAST(sum(yc) AS HUGEINT) // count(*)
        |         AS BIGINT) AS mu
        |       FROM rws WHERE sp = 0 GROUP BY 1),
        |cal AS (SELECT r.g, abs(r.yc - mu.mu) AS r
        |        FROM rws r JOIN mu USING (g) WHERE sp = 1),
        |pv AS (SELECT g, r, count(*) AS c FROM cal GROUP BY 1, 2),
        |nc AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cal
        |       FROM cal GROUP BY 1),
        |sc AS (SELECT pv.g, pv.r,
        |              sum(pv.c) OVER (PARTITION BY pv.g
        |                ORDER BY pv.r) AS run,
        |              nc.n_cal,
        |              ((nc.n_cal + 1) * 90 + 99) // 100 AS k
        |       FROM pv JOIN nc USING (g)),
        |qh AS (SELECT g, n_cal, CAST(k AS BIGINT) AS k,
        |              CAST(min(CASE WHEN run >= least(k, n_cal)
        |                THEN r END) AS BIGINT) AS qhat
        |       FROM sc GROUP BY 1, 2, 3),
        |ts AS (SELECT r.g, r.yc, mu.mu FROM rws r JOIN mu USING (g)
        |       WHERE sp = 2)
        |SELECT ts.g, ts.mu AS mu_cents, q.n_cal, q.k,
        |       q.qhat AS qhat_cents,
        |       CAST(count(*) AS BIGINT) AS n_test,
        |       CAST(sum(CASE WHEN abs(ts.yc - ts.mu) <= q.qhat
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |       CAST(floor(CAST(sum(CASE WHEN abs(ts.yc - ts.mu)
        |           <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) * 1e6 + 0.5) / 1e6 AS REAL) AS coverage
        |FROM ts JOIN qh q USING (g)
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // Same min-max score, same per-row IEEE bin floor, exact bin
    // counts, and the shared floor rounding on conf/acc/gap/ECE.
    "q273_calibration" ->
      """WITH f AS (SELECT value, event_type FROM events
        |           WHERE value IS NOT NULL),
        |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM f),
        |sc AS (SELECT CASE WHEN mx <> mn
        |                THEN (value - mn) / (mx - mn)
        |                ELSE 0.5 END AS s,
        |              CASE WHEN event_type = 'purchase'
        |                THEN 1 ELSE 0 END AS y
        |       FROM f, mm),
        |b AS (SELECT CAST(least(9, floor(s * 10)) AS INTEGER) AS bin,
        |             s, y FROM sc),
        |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(y) AS BIGINT) AS n_pos, sum(s) AS ss
        |        FROM b GROUP BY 1),
        |ec AS (SELECT sum(abs(CAST(n_pos AS DOUBLE) / n - ss / n) * n)
        |                / sum(n) AS e FROM per)
        |SELECT bin, n, n_pos,
        |       CAST(floor(ss / n * 1e6 + 0.5) / 1e6 AS REAL)
        |         AS confidence,
        |       CAST(floor(CAST(n_pos AS DOUBLE) / n * 1e6 + 0.5) / 1e6
        |         AS REAL) AS accuracy,
        |       CAST(floor(abs(CAST(n_pos AS DOUBLE) / n - ss / n)
        |         * 1e6 + 0.5) / 1e6 AS REAL) AS gap,
        |       CAST(floor(e * 1e6 + 0.5) / 1e6 AS REAL) AS ece
        |FROM per, ec""".stripMargin,

    // q273's scored stream micro-quantized per row, integer-exact
    // Brier sum, the same bin sums and micro-scaled rel/res terms.
    "q334_brier" ->
      """WITH f AS (SELECT value, event_type FROM events
        |           WHERE value IS NOT NULL),
        |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM f),
        |sc AS (SELECT CASE WHEN mx <> mn
        |                THEN (value - mn) / (mx - mn)
        |                ELSE 0.5 END AS s,
        |              CASE WHEN event_type = 'purchase'
        |                THEN 1 ELSE 0 END AS y
        |       FROM f, mm),
        |q AS (SELECT CAST(floor(s * 1e6 + 0.5) AS BIGINT) AS s6, y
        |      FROM sc),
        |b AS (SELECT least(9, (s6 * 10) // 1000000) AS bin, s6, y
        |      FROM q),
        |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(y) AS BIGINT) AS n_pos,
        |          sum(CAST(s6 AS HUGEINT)) AS ss6,
        |          sum(CAST(s6 - y * 1000000 AS HUGEINT)
        |            * (s6 - y * 1000000)) AS sq
        |        FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |          CAST(sum(n_pos) AS BIGINT) AS pp,
        |          sum(sq) AS qq FROM per),
        |tm AS (SELECT
        |    sum(CAST(floor(n * (CAST(ss6 AS DOUBLE) / n / 1e6
        |          - CAST(n_pos AS DOUBLE) / n)
        |        * (CAST(ss6 AS DOUBLE) / n / 1e6
        |          - CAST(n_pos AS DOUBLE) / n) * 1e6 + 0.5)
        |      AS HUGEINT)) AS rel6,
        |    sum(CAST(floor(n * (CAST(n_pos AS DOUBLE) / n
        |          - CAST(pp AS DOUBLE) / nn)
        |        * (CAST(n_pos AS DOUBLE) / n
        |          - CAST(pp AS DOUBLE) / nn) * 1e6 + 0.5)
        |      AS HUGEINT)) AS res6
        |  FROM per, tot)
        |SELECT nn AS n,
        |  CAST(floor(CAST(pp AS DOUBLE) / nn * 1e6 + 0.5) / 1e6
        |    AS REAL) AS base_rate,
        |  CAST(floor(CAST(qq AS DOUBLE) / nn / 1e12 * 1e6 + 0.5) / 1e6
        |    AS REAL) AS brier,
        |  CAST(floor(CAST(rel6 AS DOUBLE) / nn / 1e6 * 1e6 + 0.5) / 1e6
        |    AS REAL) AS reliability,
        |  CAST(floor(CAST(res6 AS DOUBLE) / nn / 1e6 * 1e6 + 0.5) / 1e6
        |    AS REAL) AS resolution,
        |  CAST(floor(CAST(pp AS DOUBLE) / nn
        |      * (1.0 - CAST(pp AS DOUBLE) / nn) * 1e6 + 0.5) / 1e6
        |    AS REAL) AS uncertainty
        |FROM tot, tm""".stripMargin,

    // The same exact cross-multiply flag, counts, and the one fixed
    // IEEE Wilson sequence with the shared z literal.
    "q335_wilson" -> {
      val z = 1.959964
      val z2 = z * z
      s"""WITH ev AS (SELECT event_type,
         |    CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
         |  FROM events
         |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
         |          sum(CAST(v4 AS HUGEINT)) AS sv FROM ev),
         |fl AS (SELECT event_type,
         |         CAST(v4 AS HUGEINT) * nn > sv AS above
         |       FROM ev, tot),
         |per AS (SELECT event_type AS segment,
         |          CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(CASE WHEN above THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_pos
         |        FROM fl GROUP BY 1),
         |w AS (SELECT segment, n, n_pos,
         |        CAST(n_pos AS DOUBLE) / n AS p FROM per)
         |SELECT segment, n, n_pos,
         |  CAST(floor(p * 1e6 + 0.5) / 1e6 AS REAL) AS p_hat,
         |  CAST(floor((p + $z2 / (2.0 * n)
         |      - $z * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n)))
         |    / (1.0 + $z2 / n) * 1e6 + 0.5) / 1e6 AS REAL) AS lo,
         |  CAST(floor((p + $z2 / (2.0 * n)
         |      + $z * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n)))
         |    / (1.0 + $z2 / n) * 1e6 + 0.5) / 1e6 AS REAL) AS hi
         |FROM w""".stripMargin
    },

    // The same distinct-unit arm counts and the same one-division χ².
    "q290_srm" ->
      """WITH arms AS (SELECT DISTINCT user_id,
        |               CAST(user_id % 2 AS BIGINT) AS arm
        |             FROM events WHERE user_id IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
        |               AS BIGINT) AS n0,
        |             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
        |               AS BIGINT) AS n1
        |      FROM arms)
        |SELECT n AS n_units, n0, n1,
        |       CAST(floor(CASE WHEN n > 0
        |           THEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / n END
        |         * 1e6 + 0.5) / 1e6 AS REAL) AS chi2,
        |       CASE WHEN n > 0
        |         THEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / n END
        |         > 3.841459 AS srm_flag
        |FROM m""".stripMargin,

    // The same daily cumulative integer sums, the same one-ln one-exp
    // IEEE sequence, the same guarded running min.
    "q296_msprt" ->
      """WITH ev AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         CAST(user_id % 2 AS BIGINT) AS arm,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |daily AS (SELECT day,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dn0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dn1,
        |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS ds0,
        |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS ds1,
        |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) * v4
        |        ELSE 0 END) AS dq0,
        |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) * v4
        |        ELSE 0 END) AS dq1
        |  FROM ev GROUP BY 1),
        |cum AS (SELECT day,
        |    CAST(sum(dn0) OVER w AS BIGINT) AS n0,
        |    CAST(sum(dn1) OVER w AS BIGINT) AS n1,
        |    sum(ds0) OVER w AS s0, sum(ds1) OVER w AS s1,
        |    sum(dq0) OVER w AS q0, sum(dq1) OVER w AS q1
        |  FROM daily WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |st AS (SELECT day, n0, n1,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / 1e4
        |    END AS diff,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      ((CAST(q0 AS DOUBLE)
        |          - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0)
        |       + (CAST(q1 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1))
        |      / (n0 + n1) / 1e8
        |    END AS vp
        |  FROM cum),
        |vt AS (SELECT *, CASE WHEN vp > 0 THEN
        |    vp * (CAST(n0 AS DOUBLE) + n1) / (CAST(n0 AS DOUBLE) * n1)
        |  END AS vn FROM st),
        |lr AS (SELECT day, n0, n1, diff,
        |    CASE WHEN vn IS NOT NULL THEN
        |      0.5 * ln(vn / (vn + 1.0))
        |      + (1.0 * diff * diff) / (2.0 * vn * (vn + 1.0))
        |    END AS llr
        |  FROM vt),
        |pp AS (SELECT day, n0, n1, diff, llr,
        |    min(CASE WHEN llr IS NOT NULL
        |        THEN least(1.0, exp(-llr)) END)
        |      OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS p_raw
        |  FROM lr)
        |SELECT day, n0, n1,
        |  CAST(floor(diff * 1e6 + 0.5) / 1e6 AS REAL) AS diff,
        |  CAST(floor(llr * 1e6 + 0.5) / 1e6 AS REAL) AS log_lr,
        |  CAST(floor(p_raw * 1e6 + 0.5) / 1e6 AS REAL) AS p_av,
        |  CASE WHEN p_raw IS NOT NULL THEN p_raw <= 0.05 END AS reject
        |FROM pp""".stripMargin,

    // q296's daily cumulative integer sums, integer look cutoffs off
    // (min, max) day, the latest cum row per look, the SAME plan-time
    // boundary literals, the crossing verdict on the unrounded z.
    "q326_obrien_fleming" -> {
      val bounds = graft.ops.Stats.obfBounds(5)
      val boundCase = bounds.zipWithIndex.map { case (u, i) =>
        s"WHEN ${i + 1} THEN $u" }.mkString(" ")
      s"""WITH ev AS (
         |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |         CAST(user_id % 2 AS BIGINT) AS arm,
         |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND value IS NOT NULL),
         |daily AS (SELECT day,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS dn0,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS dn1,
         |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
         |      AS ds0,
         |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
         |      AS ds1,
         |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) * v4
         |        ELSE 0 END) AS dq0,
         |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) * v4
         |        ELSE 0 END) AS dq1
         |  FROM ev GROUP BY 1),
         |cum AS (SELECT day,
         |    CAST(sum(dn0) OVER w AS BIGINT) AS n0,
         |    CAST(sum(dn1) OVER w AS BIGINT) AS n1,
         |    sum(ds0) OVER w AS s0, sum(ds1) OVER w AS s1,
         |    sum(dq0) OVER w AS q0, sum(dq1) OVER w AS q1
         |  FROM daily WINDOW w AS (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |cuts AS (SELECT CAST(k AS INTEGER) AS look,
         |    d0 + ((d1 - d0 + 1) * k) // 5 - 1 AS cut_day
         |  FROM sp, range(1, 6) t(k)),
         |al AS (SELECT look, cut_day, day, n0, n1, s0, s1, q0, q1
         |  FROM (SELECT c.*, u.day, u.n0, u.n1, u.s0, u.s1, u.q0, u.q1,
         |          row_number() OVER (PARTITION BY c.look
         |            ORDER BY u.day DESC) AS rn
         |        FROM cuts c JOIN cum u ON u.day <= c.cut_day) x
         |  WHERE rn = 1),
         |st AS (SELECT look, cut_day, day, n0, n1,
         |    CASE WHEN n0 > 0 AND n1 > 0 THEN
         |      (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / 1e4
         |    END AS diff,
         |    CASE WHEN n0 > 0 AND n1 > 0 THEN
         |      ((CAST(q0 AS DOUBLE)
         |          - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0)
         |       + (CAST(q1 AS DOUBLE)
         |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1))
         |      / (n0 + n1) / 1e8
         |    END AS vp
         |  FROM al),
         |zz AS (SELECT *,
         |    CASE WHEN vp > 0 THEN diff / sqrt(vp
         |      * (CAST(n0 AS DOUBLE) + n1) / (CAST(n0 AS DOUBLE) * n1))
         |    END AS z_raw,
         |    CASE look $boundCase END AS bound_raw
         |  FROM st),
         |cr AS (SELECT *, CASE WHEN z_raw IS NOT NULL
         |      THEN abs(z_raw) >= bound_raw END AS crossed
         |  FROM zz),
         |fc AS (SELECT CAST(min(CASE WHEN crossed THEN look END)
         |         AS INTEGER) AS first_cross_look FROM cr)
         |SELECT look, cut_day, day, n0, n1,
         |  CAST(floor(diff * 1e6 + 0.5) / 1e6 AS REAL) AS diff,
         |  CAST(floor(z_raw * 1e6 + 0.5) / 1e6 AS REAL) AS z,
         |  CAST(floor(bound_raw * 1e6 + 0.5) / 1e6 AS REAL) AS bound,
         |  crossed, fc.first_cross_look
         |FROM cr, fc""".stripMargin
    },

    // The same per-user (Y_u, N_u) sums, the same twelve HUGEINT
    // moments, the same delta-method IEEE sequence per arm.
    "q298_delta_ratio" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |per AS (SELECT user_id, arm, sum(CAST(v4 AS HUGEINT)) AS yu,
        |          CAST(count(*) AS BIGINT) AS nu
        |        FROM ev GROUP BY 1, 2),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    sum(CASE WHEN arm = 0 THEN yu ELSE 0 END) AS sy0,
        |    sum(CASE WHEN arm = 1 THEN yu ELSE 0 END) AS sy1,
        |    sum(CASE WHEN arm = 0 THEN CAST(nu AS HUGEINT) ELSE 0 END)
        |      AS sn0,
        |    sum(CASE WHEN arm = 1 THEN CAST(nu AS HUGEINT) ELSE 0 END)
        |      AS sn1,
        |    sum(CASE WHEN arm = 0 THEN yu * yu ELSE 0 END) AS syy0,
        |    sum(CASE WHEN arm = 1 THEN yu * yu ELSE 0 END) AS syy1,
        |    sum(CASE WHEN arm = 0 THEN yu * nu ELSE 0 END) AS syn0,
        |    sum(CASE WHEN arm = 1 THEN yu * nu ELSE 0 END) AS syn1,
        |    sum(CASE WHEN arm = 0 THEN CAST(nu AS HUGEINT) * nu
        |        ELSE 0 END) AS snn0,
        |    sum(CASE WHEN arm = 1 THEN CAST(nu AS HUGEINT) * nu
        |        ELSE 0 END) AS snn1
        |  FROM per),
        |st AS (SELECT *,
        |    CASE WHEN n0 > 0 AND sn0 > 0 THEN
        |      CAST(sy0 AS DOUBLE) / CAST(sn0 AS DOUBLE) / 1e4
        |    END AS r0,
        |    CASE WHEN n1 > 0 AND sn1 > 0 THEN
        |      CAST(sy1 AS DOUBLE) / CAST(sn1 AS DOUBLE) / 1e4
        |    END AS r1,
        |    CASE WHEN n0 > 0 AND sn0 > 0 THEN
        |      CAST(sn0 AS DOUBLE) / n0 END AS mun0,
        |    CASE WHEN n1 > 0 AND sn1 > 0 THEN
        |      CAST(sn1 AS DOUBLE) / n1 END AS mun1
        |  FROM m),
        |vv AS (SELECT *,
        |    CASE WHEN n0 > 0 AND sn0 > 0 AND mun0 > 0 THEN
        |      ((CAST(syy0 AS DOUBLE) / n0
        |          - (CAST(sy0 AS DOUBLE) / n0)
        |            * (CAST(sy0 AS DOUBLE) / n0)) / 1e8
        |       - 2.0 * r0 * ((CAST(syn0 AS DOUBLE) / n0
        |          - (CAST(sy0 AS DOUBLE) / n0)
        |            * (CAST(sn0 AS DOUBLE) / n0)) / 1e4)
        |       + r0 * r0 * (CAST(snn0 AS DOUBLE) / n0
        |          - (CAST(sn0 AS DOUBLE) / n0)
        |            * (CAST(sn0 AS DOUBLE) / n0)))
        |      / (n0 * mun0 * mun0)
        |    END AS vr0,
        |    CASE WHEN n1 > 0 AND sn1 > 0 AND mun1 > 0 THEN
        |      ((CAST(syy1 AS DOUBLE) / n1
        |          - (CAST(sy1 AS DOUBLE) / n1)
        |            * (CAST(sy1 AS DOUBLE) / n1)) / 1e8
        |       - 2.0 * r1 * ((CAST(syn1 AS DOUBLE) / n1
        |          - (CAST(sy1 AS DOUBLE) / n1)
        |            * (CAST(sn1 AS DOUBLE) / n1)) / 1e4)
        |       + r1 * r1 * (CAST(snn1 AS DOUBLE) / n1
        |          - (CAST(sn1 AS DOUBLE) / n1)
        |            * (CAST(sn1 AS DOUBLE) / n1)))
        |      / (n1 * mun1 * mun1)
        |    END AS vr1
        |  FROM st),
        |sf AS (SELECT *,
        |    CASE WHEN vr0 IS NOT NULL AND vr1 IS NOT NULL THEN
        |      sqrt(vr0 + vr1) END AS se
        |  FROM vv)
        |SELECT n0, n1,
        |  CAST(floor(r0 * 1e6 + 0.5) / 1e6 AS REAL) AS r0,
        |  CAST(floor(r1 * 1e6 + 0.5) / 1e6 AS REAL) AS r1,
        |  CAST(floor((r1 - r0) * 1e6 + 0.5) / 1e6 AS REAL) AS diff,
        |  CAST(floor(se * 1e6 + 0.5) / 1e6 AS REAL) AS se,
        |  CASE WHEN se > 0 THEN
        |    CAST(floor((r1 - r0) / se * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS z
        |FROM sf""".stripMargin,

    // The same per-segment exact moments, the same A&S 26.2.17
    // Horner polynomial (exp only — no libm erf), the same step-up
    // running min; NULL-p segments pass through unadjusted.
    "q299_bh_fdr" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(user_id % 2 AS BIGINT) AS arm,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS s0,
        |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS s1,
        |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) * v4
        |        ELSE 0 END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) * v4
        |        ELSE 0 END) AS q1
        |  FROM ev GROUP BY 1),
        |zz AS (SELECT event_type, n0 + n1 AS n,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      sqrt((CAST(q1 AS DOUBLE) / n1
        |              - (CAST(s1 AS DOUBLE) / n1)
        |                * (CAST(s1 AS DOUBLE) / n1)) / 1e8 / n1
        |           + (CAST(q0 AS DOUBLE) / n0
        |              - (CAST(s0 AS DOUBLE) / n0)
        |                * (CAST(s0 AS DOUBLE) / n0)) / 1e8 / n0)
        |    END AS se,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      CAST(s1 AS DOUBLE) / n1 / 1e4
        |        - CAST(s0 AS DOUBLE) / n0 / 1e4
        |    END AS md
        |  FROM m),
        |zv AS (SELECT event_type, n,
        |    CASE WHEN se > 0 THEN md / se END AS z_u
        |  FROM zz),
        |az AS (SELECT *, abs(z_u) AS a,
        |    1.0 / (1.0 + 0.2316419 * abs(z_u)) AS tt
        |  FROM zv),
        |pv AS (SELECT event_type, n, z_u,
        |    2.0 * (exp(a * a * (-0.5)) * 0.3989422804014327)
        |      * (((((1.330274429 * tt - 1.821255978) * tt
        |          + 1.781477937) * tt - 0.356563782) * tt
        |          + 0.319381530) * tt) AS p_u
        |  FROM az),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS m_tests FROM pv
        |       WHERE p_u IS NOT NULL),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p_u,
        |         event_type) AS BIGINT) AS rank
        |       FROM pv WHERE p_u IS NOT NULL),
        |ra AS (SELECT rk.*, m_tests,
        |         p_u * CAST(m_tests AS DOUBLE) / rank AS p_raw
        |       FROM rk, mt),
        |ad AS (SELECT *, least(1.0, min(p_raw)
        |         OVER (ORDER BY rank DESC ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW)) AS p_adj_u
        |       FROM ra)
        |SELECT event_type, n,
        |  CAST(floor(z_u * 1e6 + 0.5) / 1e6 AS REAL) AS z,
        |  CAST(floor(p_u * 1e6 + 0.5) / 1e6 AS REAL) AS p_value,
        |  m_tests, rank,
        |  CAST(floor(p_adj_u * 1e6 + 0.5) / 1e6 AS REAL) AS p_adj,
        |  p_adj_u <= 0.1 AS signif
        |FROM ad
        |UNION ALL
        |SELECT event_type, n, CAST(NULL AS REAL),
        |  CAST(NULL AS REAL), m_tests, CAST(NULL AS BIGINT),
        |  CAST(NULL AS REAL), CAST(NULL AS BOOLEAN)
        |FROM pv, mt WHERE p_u IS NULL""".stripMargin,

    // q299's moment/polynomial CTEs with the step-DOWN arithmetic:
    // raw = p·(m − i + 1), running MAX ascending, flag unrounded.
    "q319_holm" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(user_id % 2 AS BIGINT) AS arm,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS s0,
        |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS s1,
        |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) * v4
        |        ELSE 0 END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) * v4
        |        ELSE 0 END) AS q1
        |  FROM ev GROUP BY 1),
        |zz AS (SELECT event_type, n0 + n1 AS n,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      sqrt((CAST(q1 AS DOUBLE) / n1
        |              - (CAST(s1 AS DOUBLE) / n1)
        |                * (CAST(s1 AS DOUBLE) / n1)) / 1e8 / n1
        |           + (CAST(q0 AS DOUBLE) / n0
        |              - (CAST(s0 AS DOUBLE) / n0)
        |                * (CAST(s0 AS DOUBLE) / n0)) / 1e8 / n0)
        |    END AS se,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      CAST(s1 AS DOUBLE) / n1 / 1e4
        |        - CAST(s0 AS DOUBLE) / n0 / 1e4
        |    END AS md
        |  FROM m),
        |zv AS (SELECT event_type, n,
        |    CASE WHEN se > 0 THEN md / se END AS z_u
        |  FROM zz),
        |az AS (SELECT *, abs(z_u) AS a,
        |    1.0 / (1.0 + 0.2316419 * abs(z_u)) AS tt
        |  FROM zv),
        |pv AS (SELECT event_type, n,
        |    2.0 * (exp(a * a * (-0.5)) * 0.3989422804014327)
        |      * (((((1.330274429 * tt - 1.821255978) * tt
        |          + 1.781477937) * tt - 0.356563782) * tt
        |          + 0.319381530) * tt) AS p_u
        |  FROM az),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS m_tests FROM pv
        |       WHERE p_u IS NOT NULL),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p_u,
        |         event_type) AS BIGINT) AS rank
        |       FROM pv WHERE p_u IS NOT NULL),
        |ra AS (SELECT rk.*, m_tests,
        |         p_u * CAST(m_tests - rank + 1 AS DOUBLE) AS p_raw
        |       FROM rk, mt),
        |ad AS (SELECT *, least(1.0, max(p_raw)
        |         OVER (ORDER BY rank ASC ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW)) AS p_adj_u
        |       FROM ra)
        |SELECT event_type, n,
        |  CAST(floor(p_u * 1e6 + 0.5) / 1e6 AS REAL) AS p_value,
        |  m_tests, rank,
        |  CAST(floor(p_adj_u * 1e6 + 0.5) / 1e6 AS REAL) AS p_adj,
        |  p_adj_u <= 0.05 AS signif
        |FROM ad
        |UNION ALL
        |SELECT event_type, n, CAST(NULL AS REAL), m_tests,
        |  CAST(NULL AS BIGINT), CAST(NULL AS REAL),
        |  CAST(NULL AS BOOLEAN)
        |FROM pv, mt WHERE p_u IS NULL""".stripMargin,

    // The same per-segment HUGEINT moments, every cross-segment
    // aggregate on micro-unit integers, the same shrink sequence.
    "q320_eb_shrink" ->
      """WITH f AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |per AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |          sum(CAST(x AS HUGEINT)) AS sg,
        |          sum(CAST(x AS HUGEINT) * x) AS qg
        |        FROM f GROUP BY 1),
        |micro AS (SELECT g, ng, sg,
        |    CAST(floor(CAST(sg AS DOUBLE) / ng / 100.0 * 1e6 + 0.5)
        |      AS BIGINT) AS m6,
        |    CAST(floor((CAST(qg AS DOUBLE)
        |        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng)
        |      / 1e4 * 1e6 + 0.5) AS BIGINT) AS w6,
        |    CAST(floor(1.0 / ng * 1e6 + 0.5) AS BIGINT) AS i6
        |  FROM per),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |          CAST(sum(ng) AS BIGINT) AS nn, sum(sg) AS ss,
        |          sum(CAST(w6 AS HUGEINT)) AS sw,
        |          sum(CAST(m6 AS HUGEINT)) AS sm,
        |          sum(CAST(m6 AS HUGEINT) * m6) AS smm,
        |          sum(CAST(i6 AS HUGEINT)) AS si
        |        FROM micro),
        |st AS (SELECT k, nn,
        |         CAST(sw AS DOUBLE) / 1e6 / nn AS sig2,
        |         CAST(ss AS DOUBLE) / nn / 100.0 AS mu,
        |         CAST(sm AS DOUBLE) / k / 1e6 AS mbar,
        |         CAST(smm AS DOUBLE) / k / 1e12 AS m2m,
        |         CAST(si AS DOUBLE) / k / 1e6 AS ainv
        |       FROM tot),
        |vt AS (SELECT *, greatest(0.0,
        |         (CASE WHEN k > 1 THEN
        |            (m2m - mbar * mbar) * k / (k - 1)
        |          ELSE 0.0 END) - sig2 * ainv) AS tau2
        |       FROM st),
        |fin AS (SELECT p.g, p.ng,
        |          CAST(p.sg AS DOUBLE) / p.ng / 100.0 AS mg,
        |          sig2 / p.ng AS sv, tau2, mu
        |        FROM per p, vt),
        |fb AS (SELECT *, CASE WHEN sv + tau2 > 0 THEN
        |         sv / (sv + tau2) END AS b
        |       FROM fin)
        |SELECT g AS segment, ng AS n,
        |  CAST(floor(mg * 1e6 + 0.5) / 1e6 AS REAL) AS mean_raw,
        |  CAST(floor(b * 1e6 + 0.5) / 1e6 AS REAL) AS shrink_b,
        |  CASE WHEN b IS NOT NULL THEN
        |    CAST(floor((mu + (1.0 - b) * (mg - mu)) * 1e6 + 0.5)
        |      / 1e6 AS REAL)
        |  END AS mean_eb
        |FROM fb""".stripMargin,

    // The q280 digest idiom: the same seeded md5 16-bit draws cut at
    // 2¹⁵ reassign each unit's arm, the same exact per-replicate
    // HUGEINT sums, the same two-division Δ sequence, the ≥ compare
    // on unrounded doubles.
    "q300_permutation_test" -> {
      val h16 = (0 until 4).map { i =>
        s"(strpos('0123456789abcdef', substr(hh, 1 + 4 * j + $i, 1))" +
          s" - 1) * ${math.pow(16, 3 - i).toLong}.0"
      }.mkString("\n        |           + ")
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS id,
        |              CAST(user_id % 2 AS BIGINT) AS arm,
        |              CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |            FROM events
        |            WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |per AS (SELECT id, sum(CAST(v4 AS HUGEINT)) AS yu,
        |               min(arm) AS arm
        |        FROM ev GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n1o,
        |          sum(yu) AS s,
        |          sum(CASE WHEN arm = 1 THEN yu ELSE 0 END) AS s1o
        |        FROM per),
        |ex AS (SELECT id, yu, CAST(blk AS INTEGER) AS blk
        |       FROM per, range(8) t(blk)),
        |hx AS (SELECT yu, blk, md5('perm:' || id || ':' ||
        |         CAST(blk AS VARCHAR)) AS hh FROM ex),
        |hj AS (SELECT yu, blk, CAST(j AS INTEGER) AS j, hh
        |       FROM hx, range(8) tj(j)),
        |hb AS (SELECT yu, blk * 8 + j AS r,
        |         (CAST(($h16) AS BIGINT) < 32768) AS bit
        |       FROM hj),
        |reps AS (SELECT r,
        |           CAST(sum(CASE WHEN bit THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n1,
        |           sum(CASE WHEN bit THEN yu ELSE 0 END) AS s1
        |         FROM hb GROUP BY 1),
        |stat AS (SELECT n,
        |    (CAST(s1 AS DOUBLE) / n1
        |       - CAST(s - s1 AS DOUBLE) / (n - n1)) / 1e4 AS db,
        |    CASE WHEN n1o > 0 AND n1o < n THEN
        |      (CAST(s1o AS DOUBLE) / n1o
        |         - CAST(s - s1o AS DOUBLE) / (n - n1o)) / 1e4
        |    END AS dobs
        |  FROM reps, tot WHERE n1 > 0 AND n1 < n)
        |SELECT n AS n_units, CAST(count(*) AS INTEGER) AS b_used,
        |  CAST(floor(dobs * 1e6 + 0.5) / 1e6 AS REAL) AS diff_obs,
        |  CAST(sum(CASE WHEN abs(db) >= abs(dobs) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ge,
        |  CAST(floor(CAST(sum(CASE WHEN abs(db) >= abs(dobs)
        |        THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |      / (count(*) + 1) * 1e6 + 0.5) / 1e6 AS REAL) AS p_perm
        |FROM stat GROUP BY n, dobs""".stripMargin
    },

    // The same four HUGEINT raw moments in cent scale, the same
    // central-moment and JB sequences, flag on the unrounded value.
    "q317_jarque_bera" ->
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS x
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(x AS HUGEINT)) AS s1,
        |        sum(CAST(x AS HUGEINT) * x) AS s2,
        |        sum(CAST(x AS HUGEINT) * x * x) AS s3,
        |        sum(CAST(x AS HUGEINT) * x * x * x) AS s4
        |      FROM f),
        |st AS (SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
        |         CAST(s2 AS DOUBLE) / n AS r2,
        |         CAST(s3 AS DOUBLE) / n AS r3,
        |         CAST(s4 AS DOUBLE) / n AS r4
        |       FROM m),
        |c AS (SELECT n, r2 - mu * mu AS m2,
        |        r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |        r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |          - 3.0 * mu * mu * mu * mu AS m4
        |      FROM st),
        |k AS (SELECT n,
        |        CASE WHEN m2 > 0 THEN m3 / sqrt(m2 * m2 * m2) END
        |          AS sk,
        |        CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS ku
        |      FROM c),
        |j AS (SELECT n, sk, ku,
        |        CASE WHEN sk IS NOT NULL THEN
        |          n * (sk * sk / 6.0
        |            + (ku - 3.0) * (ku - 3.0) / 24.0)
        |        END AS jb
        |      FROM k)
        |SELECT n,
        |  CAST(floor(sk * 1e6 + 0.5) / 1e6 AS REAL) AS skew,
        |  CAST(floor((ku - 3.0) * 1e6 + 0.5) / 1e6 AS REAL)
        |    AS kurt_excess,
        |  CAST(floor(jb * 1e6 + 0.5) / 1e6 AS REAL) AS jb,
        |  CASE WHEN jb IS NOT NULL THEN jb > 5.991465 END AS signif
        |FROM j""".stripMargin,

    // The q202 per-value counts + one running scan: exact
    // strictly-above/below HUGEINT pair products, one division.
    "q318_cliffs_delta" ->
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS v, event_type
        |  FROM events
        |  WHERE event_type IN ('purchase', 'view')
        |    AND value IS NOT NULL),
        |counts AS (SELECT v,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |        ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1
        |        ELSE 0 END) AS BIGINT) AS c0
        |  FROM f GROUP BY 1),
        |nn AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c0) AS BIGINT) AS n0
        |       FROM counts),
        |sc AS (SELECT v, c1, c0,
        |         CAST(sum(c0) OVER (ORDER BY v ROWS BETWEEN
        |           UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS rt0
        |       FROM counts),
        |agg AS (SELECT max(nn.n0) AS n0, max(nn.n1) AS n1,
        |          sum(CAST(c1 AS HUGEINT) * (rt0 - c0)) AS n_gt,
        |          sum(CAST(c1 AS HUGEINT) * (nn.n0 - rt0)) AS n_lt
        |        FROM sc, nn)
        |SELECT n0, n1, CAST(n_gt AS BIGINT) AS n_gt,
        |  CAST(n_lt AS BIGINT) AS n_lt,
        |  CASE WHEN CAST(n1 AS DOUBLE) * n0 > 0 THEN
        |    CAST(floor(CAST(n_gt - n_lt AS DOUBLE)
        |        / (CAST(n1 AS DOUBLE) * n0) * 1e6 + 0.5) / 1e6
        |      AS REAL)
        |  END AS delta
        |FROM agg""".stripMargin,

    // q271's pair/rank CTEs with the 7-literal integer weight CASE,
    // the same div/remainder split, remainder to pos = nt.
    "q312_attribution_decay" ->
      """WITH ev AS (SELECT user_id,
        |              CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |              event_id, event_type FROM events),
        |conv AS (SELECT user_id, t AS ct, event_id AS conv_id
        |         FROM ev WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, t, event_id, event_type AS channel
        |        FROM ev WHERE event_type <> 'purchase'),
        |p AS (SELECT c.conv_id, tc.channel, tc.t, tc.event_id,
        |             CASE (c.ct - tc.t) // 86400
        |               WHEN 0 THEN 1000000 WHEN 1 THEN 500000
        |               WHEN 2 THEN 250000 WHEN 3 THEN 125000
        |               WHEN 4 THEN 62500 WHEN 5 THEN 31250
        |               ELSE 15625 END AS w6
        |      FROM conv c JOIN tch tc ON tc.user_id = c.user_id
        |       AND tc.t < c.ct AND tc.t > c.ct - 604800),
        |r AS (SELECT *,
        |        CAST(row_number() OVER (PARTITION BY conv_id
        |          ORDER BY t, event_id) AS BIGINT) AS pos,
        |        CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
        |          AS nt,
        |        CAST(sum(w6) OVER (PARTITION BY conv_id) AS BIGINT)
        |          AS sw
        |      FROM p),
        |b AS (SELECT *, (10000 * CAST(w6 AS BIGINT)) // sw AS base
        |      FROM r),
        |cr AS (SELECT channel, conv_id,
        |         base + CASE WHEN pos = nt THEN
        |           10000 - CAST(sum(base) OVER (PARTITION BY conv_id)
        |             AS BIGINT) ELSE 0 END AS dfp
        |       FROM b)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(count(DISTINCT conv_id) AS BIGINT)
        |         AS n_conversions,
        |       CAST(sum(dfp) AS BIGINT) AS decay_fp
        |FROM cr GROUP BY 1""".stripMargin,

    // The same four exact margins per stratum, the same fixed E/V
    // sequences floor-scaled to micro-units, the same final square.
    "q308_cmh" ->
      """WITH ev AS (
        |  SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER)
        |           AS dow,
        |         CAST(user_id % 2 AS BIGINT) AS arm,
        |         (event_type = 'purchase') AS conv
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |per AS (SELECT dow AS k, CAST(count(*) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m1,
        |    CAST(sum(CASE WHEN arm = 1 AND conv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a
        |  FROM ev GROUP BY 1),
        |terms AS (SELECT
        |    CAST(floor((a - CAST(n1 AS DOUBLE) * m1 / nt) * 1e6 + 0.5)
        |      AS BIGINT) AS u6,
        |    CAST(floor(CAST(n1 AS DOUBLE) * (nt - n1) * m1 * (nt - m1)
        |        / (CAST(nt AS DOUBLE) * nt * (nt - 1)) * 1e6 + 0.5)
        |      AS BIGINT) AS v6
        |  FROM per WHERE nt > 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |          sum(CAST(u6 AS HUGEINT)) AS su,
        |          sum(CAST(v6 AS HUGEINT)) AS sv
        |        FROM terms),
        |fin AS (SELECT n_strata,
        |    CASE WHEN CAST(sv AS DOUBLE) / 1e6 > 0 THEN
        |      (CAST(su AS DOUBLE) / 1e6) * (CAST(su AS DOUBLE) / 1e6)
        |        / (CAST(sv AS DOUBLE) / 1e6)
        |    END AS chi2
        |  FROM agg)
        |SELECT n_strata,
        |  CAST(floor(chi2 * 1e6 + 0.5) / 1e6 AS REAL) AS chi2,
        |  CASE WHEN chi2 IS NOT NULL THEN chi2 > 3.841459 END
        |    AS signif
        |FROM fin""".stripMargin,

    // q197's cell/marginal CTEs with BOTH per-cell contributions
    // (Pearson + LLR) rounded at the cell, decimal totals, the same
    // one-sqrt Cramér's V.
    "q309_gtest" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) + 1
        |           AS INTEGER) AS dow, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |we AS (
        |  SELECT c.event_type, c.dow, c.o,
        |         CAST(rt.rt AS DOUBLE) * ct.ct / n.n AS e
        |  FROM cells c JOIN rt USING (event_type)
        |  JOIN ct USING (dow), n),
        |wc AS (SELECT *,
        |         round((o - e) * (o - e) / e, 4) AS contrib,
        |         round(2.0 * o * ln(o / e), 4) AS gc
        |       FROM we),
        |tot AS (SELECT
        |    CAST(sum(CAST(contrib AS DECIMAL(18,4))) AS DOUBLE)
        |      AS chi2,
        |    CAST(sum(CAST(gc AS DECIMAL(18,4))) AS DOUBLE) AS g,
        |    CAST((count(DISTINCT event_type) - 1)
        |      * (count(DISTINCT dow) - 1) AS INTEGER) AS dof,
        |    CAST(least(count(DISTINCT event_type),
        |      count(DISTINCT dow)) - 1 AS BIGINT) AS mind
        |  FROM wc)
        |SELECT wc.event_type, wc.dow, wc.o,
        |  CAST(round(wc.e, 2) AS REAL) AS e,
        |  CAST(tot.chi2 AS REAL) AS chi2, CAST(tot.g AS REAL) AS g,
        |  tot.dof,
        |  CASE WHEN tot.mind > 0 THEN
        |    CAST(floor(sqrt(tot.chi2 / (n.n * tot.mind)) * 1e6 + 0.5)
        |      / 1e6 AS REAL)
        |  END AS cramers_v
        |FROM wc, tot, n""".stripMargin,

    // The q172 edge CTE kept directed, exact degrees, one
    // conditional-count sweep over the threshold ladder, one
    // division per k.
    "q310_rich_club" ->
      """WITH ce AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
        |        FROM ce GROUP BY 1),
        |ks AS (SELECT * FROM (VALUES (2),(4),(8),(16),(32)) t(k)),
        |p AS (SELECT dda.deg AS da, ddb.deg AS db
        |      FROM ce JOIN deg dda ON dda.id = ce.a
        |      JOIN deg ddb ON ddb.id = ce.b),
        |ek AS (SELECT k, CAST(sum(CASE WHEN da > k AND db > k
        |           THEN 1 ELSE 0 END) AS BIGINT) AS m_edges
        |       FROM p, ks GROUP BY 1),
        |nk AS (SELECT k, CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0
        |           END) AS BIGINT) AS n_nodes
        |       FROM deg, ks GROUP BY 1)
        |SELECT ek.k, n_nodes, m_edges,
        |  CASE WHEN n_nodes > 1 THEN
        |    CAST(floor(CAST(m_edges AS DOUBLE)
        |        / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1))
        |      * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS phi
        |FROM ek JOIN nk USING (k)""".stripMargin,

    // The q205 daily series with the order count beside revenue,
    // exact sign-pair counting, the same tie-corrected denominator.
    "q311_kendall_tau" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS k,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |         CAST(count(*) AS BIGINT) * 100 AS y
        |  FROM orders GROUP BY 1),
        |p AS (SELECT sign(b.x - a.x) AS cx, sign(b.y - a.y) AS cy
        |      FROM daily a JOIN daily b ON a.k < b.k),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2
        |  FROM p),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_points
        |       FROM daily)
        |SELECT n_points, nc, nd,
        |  CASE WHEN CAST(n0 - n1 AS DOUBLE) * (n0 - n2) > 0 THEN
        |    CAST(floor(CAST(nc - nd AS DOUBLE)
        |        / sqrt(CAST(n0 - n1 AS DOUBLE) * (n0 - n2))
        |      * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS tau_b
        |FROM agg, np""".stripMargin,

    // The same per-value counts + running-sum rank (pure-integer
    // (99n+99)//100), the same integer clamp and z sequence.
    "q306_winsorized" ->
      """WITH ev AS (
        |  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |counts AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
        |           FROM ev GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts),
        |sc AS (SELECT v, sum(cnt) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS rt
        |       FROM counts),
        |cp AS (SELECT min(v) AS cap FROM sc, tot
        |       WHERE rt >= (99 * n + 99) // 100),
        |cl AS (SELECT arm, least(v, cap) AS vc, cap FROM ev, cp),
        |m AS (SELECT cap,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    sum(CASE WHEN arm = 0 THEN CAST(vc AS HUGEINT) ELSE 0 END)
        |      AS s0,
        |    sum(CASE WHEN arm = 1 THEN CAST(vc AS HUGEINT) ELSE 0 END)
        |      AS s1,
        |    sum(CASE WHEN arm = 0 THEN CAST(vc AS HUGEINT) * vc
        |        ELSE 0 END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN CAST(vc AS HUGEINT) * vc
        |        ELSE 0 END) AS q1
        |  FROM cl GROUP BY 1),
        |st AS (SELECT *,
        |    CASE WHEN n0 > 0 THEN CAST(s0 AS DOUBLE) / n0 / 1e4 END
        |      AS m0,
        |    CASE WHEN n1 > 0 THEN CAST(s1 AS DOUBLE) / n1 / 1e4 END
        |      AS m1,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      sqrt((CAST(q1 AS DOUBLE) / n1
        |              - (CAST(s1 AS DOUBLE) / n1)
        |                * (CAST(s1 AS DOUBLE) / n1)) / 1e8 / n1
        |           + (CAST(q0 AS DOUBLE) / n0
        |              - (CAST(s0 AS DOUBLE) / n0)
        |                * (CAST(s0 AS DOUBLE) / n0)) / 1e8 / n0)
        |    END AS se,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      CAST(s1 AS DOUBLE) / n1 / 1e4
        |        - CAST(s0 AS DOUBLE) / n0 / 1e4
        |    END AS df
        |  FROM m)
        |SELECT n0, n1,
        |  CAST(floor(CAST(cap AS DOUBLE) / 1e4 * 1e6 + 0.5) / 1e6
        |    AS REAL) AS cap,
        |  CAST(floor(m0 * 1e6 + 0.5) / 1e6 AS REAL) AS mean0,
        |  CAST(floor(m1 * 1e6 + 0.5) / 1e6 AS REAL) AS mean1,
        |  CAST(floor(df * 1e6 + 0.5) / 1e6 AS REAL) AS diff,
        |  CASE WHEN se > 0 THEN
        |    CAST(floor(df / se * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS z
        |FROM st""".stripMargin,

    // The q172 edge CTE kept DIRECTED, exact integer degrees, the
    // q218 six-moment Pearson sequence, NULL on zero variance.
    "q307_assortativity" ->
      """WITH ce AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
        |        FROM ce GROUP BY 1),
        |p AS (SELECT dda.deg AS da, ddb.deg AS db
        |      FROM ce JOIN deg dda ON dda.id = ce.a
        |      JOIN deg ddb ON ddb.id = ce.b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(da AS HUGEINT)) AS sx,
        |        sum(CAST(db AS HUGEINT)) AS sy,
        |        sum(CAST(da AS HUGEINT) * da) AS sxx,
        |        sum(CAST(da AS HUGEINT) * db) AS sxy,
        |        sum(CAST(db AS HUGEINT) * db) AS syy
        |      FROM p),
        |dn AS (SELECT *,
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den
        |  FROM m)
        |SELECT n AS m_edges,
        |  CASE WHEN den > 0 THEN
        |    CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt(den), 4) AS REAL)
        |  END AS r
        |FROM dn""".stripMargin,

    // The q307 edge CTE + brand labels both ends, the bounded mixing
    // matrix, and the exact common-denominator coefficient.
    "q333_brand_mixing" ->
      """WITH ce AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |lb AS (SELECT p_partkey AS id, p_brand AS cls FROM part),
        |cells AS (SELECT la.cls AS ca, lbb.cls AS cb,
        |            CAST(count(*) AS BIGINT) AS e
        |          FROM ce JOIN lb la ON la.id = ce.a
        |          JOIN lb lbb ON lbb.id = ce.b
        |          GROUP BY 1, 2),
        |marg AS (SELECT ca, CAST(sum(e) AS BIGINT) AS ai,
        |           CAST(sum(CASE WHEN ca = cb THEN e ELSE 0 END)
        |             AS BIGINT) AS eii
        |         FROM cells GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS INTEGER) AS n_classes,
        |        CAST(sum(ai) AS BIGINT) AS mm,
        |        sum(CAST(eii AS HUGEINT)) AS se,
        |        sum(CAST(ai AS HUGEINT) * ai) AS sa2
        |      FROM marg)
        |SELECT n_classes, mm AS m_edges,
        |  CAST(CASE WHEN CAST(mm AS DOUBLE) * CAST(mm AS DOUBLE)
        |      - CAST(sa2 AS DOUBLE) > 0 THEN
        |    floor((CAST(mm AS DOUBLE) * CAST(se AS DOUBLE)
        |        - CAST(sa2 AS DOUBLE))
        |      / (CAST(mm AS DOUBLE) * CAST(mm AS DOUBLE)
        |        - CAST(sa2 AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |  END AS REAL) AS r_assort
        |FROM m""".stripMargin,

    // The same per-user HUGEINT moments, the same inlined z
    // literals, the same fixed MDE sequence and guarded ceil.
    "q305_power_mde" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |per AS (SELECT user_id, sum(CAST(v4 AS HUGEINT)) AS yu,
        |               min(arm) AS arm
        |        FROM ev GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    sum(yu) AS s, sum(yu * yu) AS q
        |  FROM per),
        |st AS (SELECT n0, n1,
        |    CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / n / 1e4 END
        |      AS mean,
        |    CASE WHEN n > 0 THEN
        |      (CAST(q AS DOUBLE) / n
        |         - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
        |      / 1e8
        |    END AS v
        |  FROM m),
        |md AS (SELECT *,
        |    CASE WHEN n0 > 0 AND n1 > 0 AND v > 0 THEN
        |      (1.959964 + 0.841621)
        |        * sqrt(v * (1.0 / n0 + 1.0 / n1))
        |    END AS mde
        |  FROM st)
        |SELECT n0, n1,
        |  CAST(floor(mean * 1e6 + 0.5) / 1e6 AS REAL) AS mean,
        |  CASE WHEN v > 0 THEN
        |    CAST(floor(sqrt(v) * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS sd,
        |  CAST(floor(mde * 1e6 + 0.5) / 1e6 AS REAL) AS mde_abs,
        |  CASE WHEN mean > 0 THEN
        |    CAST(floor(mde / mean * 100.0 * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS mde_rel_pct,
        |  CASE WHEN mean > 0 AND v > 0 THEN
        |    CAST(ceil(2.0 * ((1.959964 + 0.841621)
        |        * (1.959964 + 0.841621)) * v
        |      / ((0.01 * mean) * (0.01 * mean))) AS BIGINT)
        |  END AS n_req_1pct
        |FROM md""".stripMargin,

    // The q205 daily series, the EMA recursion unrolled by a
    // recursive CTE from the same mean seed, the same exp/ln limit
    // factor, the flag on unrounded values.
    "q302_ewma_chart" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS k,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |srt AS (SELECT k, x, row_number() OVER (ORDER BY k) AS rk
        |        FROM daily),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(x AS HUGEINT)) AS s,
        |         sum(CAST(x AS HUGEINT) * x) AS q
        |       FROM daily),
        |st AS (SELECT n, CAST(s AS DOUBLE) / n / 100.0 AS mu,
        |         sqrt(CAST(q AS DOUBLE) / n / 10000.0
        |           - (CAST(s AS DOUBLE) / n / 100.0)
        |             * (CAST(s AS DOUBLE) / n / 100.0)) AS sig
        |       FROM mm),
        |rec AS (
        |  SELECT rk, k, CAST(x AS DOUBLE) / 100.0 AS xd,
        |         0.2 * (CAST(x AS DOUBLE) / 100.0) + 0.8 * mu AS z
        |  FROM srt, st WHERE rk = 1
        |  UNION ALL
        |  SELECT s2.rk, s2.k, CAST(s2.x AS DOUBLE) / 100.0,
        |         0.2 * (CAST(s2.x AS DOUBLE) / 100.0) + 0.8 * rec.z
        |  FROM srt s2 JOIN rec ON s2.rk = rec.rk + 1),
        |lim AS (SELECT rk, k, xd, z, mu,
        |          mu + 3.0 * sig * sqrt((0.2 / 1.8)
        |            * (1.0 - exp(rk * ln(0.64)))) AS ucl,
        |          mu - 3.0 * sig * sqrt((0.2 / 1.8)
        |            * (1.0 - exp(rk * ln(0.64)))) AS lcl
        |        FROM rec, st)
        |SELECT k,
        |  CAST(floor(xd * 1e6 + 0.5) / 1e6 AS REAL) AS x,
        |  CAST(floor(z * 1e6 + 0.5) / 1e6 AS REAL) AS ewma,
        |  CAST(floor(mu * 1e6 + 0.5) / 1e6 AS REAL) AS center,
        |  CAST(floor(ucl * 1e6 + 0.5) / 1e6 AS REAL) AS ucl,
        |  CAST(floor(lcl * 1e6 + 0.5) / 1e6 AS REAL) AS lcl,
        |  (z > ucl OR z < lcl) AS ooc
        |FROM lim""".stripMargin,

    // The same (bucket, arm) HUGEINT sums, the same guarded
    // leave-one-out sequence, cross-bucket moments on the floor-
    // scaled micro-unit integers.
    "q303_jackknife" ->
      """WITH ev AS (
        |  SELECT CAST(user_id % 32 AS BIGINT) AS bkt,
        |         CAST(user_id % 2 AS BIGINT) AS arm,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |per AS (SELECT bkt,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0b,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1b,
        |    sum(CASE WHEN arm = 0 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS s0b,
        |    sum(CASE WHEN arm = 1 THEN CAST(v4 AS HUGEINT) ELSE 0 END)
        |      AS s1b
        |  FROM ev GROUP BY 1),
        |tot AS (SELECT CAST(sum(n0b) AS BIGINT) AS nn0,
        |          CAST(sum(n1b) AS BIGINT) AS nn1,
        |          sum(s0b) AS ss0, sum(s1b) AS ss1
        |        FROM per),
        |loo AS (SELECT CAST(floor(
        |    (CAST(ss1 - s1b AS DOUBLE) / (nn1 - n1b)
        |       - CAST(ss0 - s0b AS DOUBLE) / (nn0 - n0b)) / 1e4
        |    * 1e6 + 0.5) AS BIGINT) AS t6
        |  FROM per, tot
        |  WHERE nn1 - n1b > 0 AND nn0 - n0b > 0),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS b,
        |          sum(CAST(t6 AS HUGEINT)) AS st,
        |          sum(CAST(t6 AS HUGEINT) * t6) AS stt
        |        FROM loo),
        |fin AS (SELECT b,
        |    CASE WHEN nn0 > 0 AND nn1 > 0 THEN
        |      (CAST(ss1 AS DOUBLE) / nn1
        |         - CAST(ss0 AS DOUBLE) / nn0) / 1e4
        |    END AS theta,
        |    (b - 1) * (CAST(stt AS DOUBLE) / b / 1e12
        |      - (CAST(st AS DOUBLE) / b / 1e6)
        |        * (CAST(st AS DOUBLE) / b / 1e6)) AS varjk
        |  FROM agg, tot),
        |sf AS (SELECT *, CASE WHEN b > 1 AND varjk > 0 THEN
        |         sqrt(varjk) END AS se
        |       FROM fin)
        |SELECT CAST(b AS INTEGER) AS b_used,
        |  CAST(floor(theta * 1e6 + 0.5) / 1e6 AS REAL) AS theta,
        |  CAST(floor(se * 1e6 + 0.5) / 1e6 AS REAL) AS se_jk,
        |  CASE WHEN se > 0 THEN
        |    CAST(floor(theta / se * 1e6 + 0.5) / 1e6 AS REAL)
        |  END AS z
        |FROM sf""".stripMargin,

    // The per-user split sums, the same six decimal moments, the
    // same fixed IEEE θ/variance sequence with the zero guards.
    "q288_cuped" ->
      """WITH ev AS (SELECT user_id,
        |              CAST(floor(epoch(ts)) AS BIGINT) AS tt,
        |              CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL),
        |t0 AS (SELECT min(tt) AS t0 FROM ev),
        |per AS (SELECT user_id,
        |          CAST(sum(CASE WHEN tt < t0 + 1296000 THEN v4
        |            ELSE 0 END) AS BIGINT) AS x,
        |          CAST(sum(CASE WHEN tt >= t0 + 1296000 THEN v4
        |            ELSE 0 END) AS BIGINT) AS y
        |        FROM ev, t0 GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS HUGEINT) AS sx,
        |             CAST(sum(y) AS HUGEINT) AS sy,
        |             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
        |               AS sxx,
        |             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT)
        |               AS sxy,
        |             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT)
        |               AS syy
        |      FROM per),
        |v AS (SELECT n,
        |        CAST(sxx AS DOUBLE) / n
        |          - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
        |          AS vx,
        |        CAST(syy AS DOUBLE) / n
        |          - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
        |          AS vy,
        |        CAST(sxy AS DOUBLE) / n
        |          - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
        |          AS cxy
        |      FROM m)
        |SELECT n AS n_units,
        |       CASE WHEN vx > 0 THEN
        |         CAST(floor(cxy / vx * 1e6 + 0.5) / 1e6 AS REAL)
        |       END AS theta,
        |       CAST(floor(vy / 1e8 * 1e6 + 0.5) / 1e6 AS REAL)
        |         AS var_y,
        |       CASE WHEN vx > 0 THEN
        |         CAST(floor((vy - cxy * cxy / vx) / 1e8 * 1e6 + 0.5)
        |           / 1e6 AS REAL)
        |       ELSE CAST(floor(vy / 1e8 * 1e6 + 0.5) / 1e6 AS REAL)
        |       END AS var_adj,
        |       CASE WHEN vx > 0 AND vy > 0 THEN
        |         CAST(floor(cxy * cxy / (vx * vy) * 100.0 * 1e6 + 0.5)
        |           / 1e6 AS REAL)
        |       ELSE CAST(0 AS REAL) END AS reduction_pct
        |FROM v""".stripMargin,

    // The same bins, then all 9 leftmost-merge PAV rounds unrolled
    // with the same exact cross-multiple violation rule.
    "q287_isotonic" -> {
      def round(i: Int): String =
        s"""vp$i AS (SELECT min(struct_pack(vlo := l.lo, rlo := r.lo))
           |           AS v
           |  FROM st${i - 1} l JOIN st${i - 1} r ON l.hi + 1 = r.lo
           |  WHERE l.pos * r.bn > r.pos * l.bn),
           |st$i AS MATERIALIZED (
           |  SELECT min(lo) AS lo, max(hi) AS hi,
           |         sum(pos) AS pos, sum(bn) AS bn
           |  FROM (SELECT CASE WHEN lo = (SELECT (v).vlo FROM vp$i)
           |                      OR lo = (SELECT (v).rlo FROM vp$i)
           |                 THEN (SELECT (v).vlo FROM vp$i)
           |                 ELSE lo END AS g, lo, hi, pos, bn
           |        FROM st${i - 1})
           |  GROUP BY g)""".stripMargin
      s"""WITH f AS (SELECT value, event_type FROM events
         |           WHERE value IS NOT NULL),
         |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM f),
         |sc AS (SELECT CASE WHEN mx <> mn
         |                THEN (value - mn) / (mx - mn)
         |                ELSE 0.5 END AS s,
         |              CASE WHEN event_type = 'purchase'
         |                THEN 1 ELSE 0 END AS y
         |       FROM f, mm),
         |per AS MATERIALIZED (
         |  SELECT bin, n, n_pos,
         |         CAST(row_number() OVER (ORDER BY bin) AS BIGINT)
         |           AS rk
         |  FROM (SELECT CAST(least(9, floor(s * 10)) AS BIGINT)
         |            AS bin,
         |          CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(y) AS BIGINT) AS n_pos
         |        FROM sc GROUP BY 1)),
         |st0 AS MATERIALIZED (
         |  SELECT rk AS lo, rk AS hi, n_pos AS pos, n AS bn
         |  FROM per),
         |${(1 to 9).map(round).mkString(",\n")}
         |SELECT CAST(p.bin AS INTEGER) AS bin, p.n, p.n_pos,
         |       CAST(floor(CAST(st9.pos AS DOUBLE) / st9.bn * 1e6
         |         + 0.5) / 1e6 AS REAL) AS iso_p
         |FROM per p JOIN st9 ON p.rk >= st9.lo AND p.rk <= st9.hi"""
        .stripMargin
    },

    // Durations, censoring flags, per-duration (d, c), the n_at_risk
    // reverse scan, and the same exp(Σ ln((n−d)/n)) prefix product
    // with the d = n zero-flag — all re-derived value-ordered.
    "q274_survival_km" ->
      """WITH ev AS (SELECT user_id,
        |              CAST(floor(epoch(ts)) AS BIGINT) AS tt,
        |              event_type
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(tt) AS ft, max(tt) AS lt,
        |               min(CASE WHEN event_type = 'purchase'
        |                   THEN tt END) AS fp
        |        FROM ev GROUP BY 1),
        |subj AS (SELECT CASE WHEN fp IS NOT NULL
        |                  THEN (fp - ft) // 3600
        |                  ELSE (lt - ft) // 3600 END AS dur,
        |                CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END
        |                  AS e
        |         FROM per),
        |pt AS (SELECT dur AS t, CAST(sum(e) AS BIGINT) AS d,
        |              CAST(sum(1 - e) AS BIGINT) AS c
        |       FROM subj GROUP BY 1),
        |tot AS (SELECT sum(d + c) AS nt FROM pt),
        |rk AS (SELECT t, d, c,
        |              CAST(nt - sum(d + c) OVER (ORDER BY t) + d + c
        |                AS BIGINT) AS n_risk
        |       FROM pt, tot),
        |scn AS (SELECT *,
        |          sum(CASE WHEN d < n_risk
        |                THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk)
        |                ELSE 0 END) OVER (ORDER BY t) AS lnS,
        |          sum(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |            OVER (ORDER BY t) AS nz
        |        FROM rk)
        |SELECT t, n_risk, d, c,
        |       CASE WHEN nz > 0 THEN CAST(0 AS REAL)
        |            ELSE CAST(floor(exp(lnS) * 1e6 + 0.5) / 1e6 AS REAL)
        |       END AS survival
        |FROM scn""".stripMargin,

    // All three peeling rounds unrolled: naive a<b<c triple join per
    // round (an INDEPENDENT triangle formulation, the q172 contract),
    // per-edge support via unnested edge triples, the same >= k-2 = 1
    // filter, final support recounted on the survivors.
    "q267_ktruss" -> {
      def round(r: Int): String =
        s"""t$r AS MATERIALIZED (
           |  SELECT x.u AS a, x.v AS b, y.v AS c
           |  FROM e${r - 1} x JOIN e${r - 1} y ON y.u = x.v
           |  JOIN e${r - 1} z ON z.u = x.u AND z.v = y.v),
           |s$r AS MATERIALIZED (
           |  SELECT ed[1] AS u, ed[2] AS v, count(*) AS sup FROM (
           |    SELECT unnest([[a, b], [a, c], [b, c]]) AS ed FROM t$r)
           |  GROUP BY 1, 2),
           |e$r AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${r - 1} e
           |  LEFT JOIN s$r s ON s.u = e.u AND s.v = e.v
           |  WHERE coalesce(s.sup, 0) >= 1)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |${(1 to 3).map(round).mkString(",\n")},
         |tf AS (
         |  SELECT x.u AS a, x.v AS b, y.v AS c
         |  FROM e3 x JOIN e3 y ON y.u = x.v
         |  JOIN e3 z ON z.u = x.u AND z.v = y.v),
         |sf AS (
         |  SELECT ed[1] AS u, ed[2] AS v, count(*) AS sup FROM (
         |    SELECT unnest([[a, b], [a, c], [b, c]]) AS ed FROM tf)
         |  GROUP BY 1, 2)
         |SELECT e.u, e.v, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
         |FROM e3 e LEFT JOIN sf s ON s.u = e.u AND s.v = e.v""".stripMargin
    },

    // The CF recommendation re-derived: basket, weighted co-purchase
    // edges, the same seed-bounded score sum, anti-join via NULL
    // left join, the same (score desc, cand) top-5 total order.
    "q265_itemcf" ->
      """WITH basket AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |sb AS MATERIALIZED (SELECT * FROM basket WHERE c % 100 = 0),
        |e AS MATERIALIZED (
        |  SELECT a.l_partkey AS p, b.l_partkey AS cand,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT sb.c, e.cand, CAST(sum(e.w) AS BIGINT) AS score
        |  FROM sb JOIN e ON e.p = sb.p
        |  GROUP BY 1, 2),
        |fl AS (SELECT sc.* FROM sc LEFT JOIN sb
        |         ON sb.c = sc.c AND sb.p = sc.cand
        |       WHERE sb.p IS NULL),
        |rk AS (SELECT c, cand, score,
        |              row_number() OVER (PARTITION BY c
        |                ORDER BY score DESC, cand) AS rank
        |       FROM fl)
        |SELECT c AS custkey, CAST(rank AS INTEGER) AS rank,
        |       cand AS partkey, score
        |FROM rk WHERE rank <= 5""".stripMargin,

    // Both ALS rounds unrolled as MATERIALIZED CTEs over the same
    // HUGEINT fixed-point recursion (generator beside the engine code
    // so round count/α stay in lockstep).
    "q385_implicit_mf" ->
      s"""WITH ${graft.ops.ImplicitMf.oracleCte(alpha = 10L, iters = 2)}
         |SELECT 'user' AS kind, id, CAST(f AS BIGINT) AS f FROM u2
         |UNION ALL
         |SELECT 'item' AS kind, id, CAST(f AS BIGINT) AS f FROM v2"""
        .stripMargin,

    // Both rank-2 rounds unrolled as MATERIALIZED CTEs over the same
    // HUGEINT Cramer recursion (generator beside the engine code so
    // round count/α/seed stay in lockstep).
    "q397_implicit_mf2" ->
      s"""WITH ${graft.ops.ImplicitMf.oracleCte2(alpha = 10L, iters = 2)}
         |SELECT 'user' AS kind, id, CAST(f1 AS BIGINT) AS f1,
         |       CAST(f2 AS BIGINT) AS f2 FROM u2
         |UNION ALL
         |SELECT 'item' AS kind, id, CAST(f1 AS BIGINT) AS f1,
         |       CAST(f2 AS BIGINT) AS f2 FROM v2"""
        .stripMargin,

    // The word graph + all five integer PageRank rounds re-derived.
    "q266_textrank" ->
      s"""WITH toks AS (
         |  SELECT string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents WHERE text IS NOT NULL),
         |bi AS (
         |  SELECT w[i] AS a, w[i + 1] AS b FROM (
         |    SELECT w, unnest(range(1, len(w))) AS i
         |    FROM toks WHERE len(w) >= 2)
         |  WHERE w[i] <> w[i + 1]),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT a AS src, b AS dst FROM bi
         |    UNION ALL SELECT b, a FROM bi)),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |${graft.graph.PageRank.oracleCte(5)}
         |SELECT id AS word, CAST(r AS BIGINT) AS rank_fp FROM r5""".stripMargin,

    // All five HITS rounds unrolled with the identical pivot/floor
    // arithmetic — hub and authority halves both bit-exact.
    "q256_hits" ->
      s"""WITH hs AS (SELECT c_custkey AS id FROM customer),
         |as_ AS (SELECT p_partkey AS id FROM part),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |${graft.graph.Hits.oracleCte(5)}
         |SELECT id, 'hub' AS kind, s AS score_fp FROM h5
         |UNION ALL
         |SELECT id, 'auth' AS kind, s AS score_fp FROM a5""".stripMargin,

    // The personalized walk unrolled with the same integer
    // floor-division arithmetic — seed-conditional teleport, bit-exact.
    "q252_ppr" ->
      s"""WITH n AS (SELECT p_partkey AS id FROM part),
         |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |      FROM lineitem a JOIN lineitem b
         |        ON a.l_orderkey = b.l_orderkey
         |       AND a.l_partkey <> b.l_partkey),
         |sd AS (SELECT id FROM n WHERE id % 500 = 0),
         |${graft.graph.PageRank.oracleCtePersonalized(5)}
         |SELECT id, CAST(r AS BIGINT) AS rank_fp FROM r5""".stripMargin,

    // All five PageRank rounds unrolled with the SAME integer
    // floor-division arithmetic — bit-exact, no float tolerance.
    "q170_pagerank" ->
      s"""WITH n AS (SELECT p_partkey AS id FROM part),
         |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |      FROM lineitem a JOIN lineitem b
         |        ON a.l_orderkey = b.l_orderkey
         |       AND a.l_partkey <> b.l_partkey),
         |${graft.graph.PageRank.oracleCte(5)}
         |SELECT id, CAST(r AS BIGINT) AS rank_fp FROM r5""".stripMargin,

    // Naive id-canonical triangle enumeration (a<b<c triple join) —
    // an INDEPENDENT formulation of the engine's degree-oriented plan;
    // the triangle set (and so per-corner counts) must coincide.
    "q172_triangles" ->
      """WITH ce AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |         greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |tri AS (
        |  SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM ce x JOIN ce y ON y.u = x.v
        |  JOIN ce z ON z.u = x.u AND z.v = y.v),
        |corners AS (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |nodes AS (SELECT u AS id FROM ce UNION SELECT v FROM ce),
        |cnt AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY 1)
        |SELECT n.id, coalesce(cnt.n_tri, 0) AS n_tri
        |FROM nodes n LEFT JOIN cnt USING (id)""".stripMargin,

    // q172's independent naive triple-join triangle set + the degree
    // CTE: wedges = Σ d(d−1)//2 (exact — d(d−1) even), closed =
    // 3·|tri|, one guarded division at the edge.
    "q329_transitivity" ->
      """WITH ce AS MATERIALIZED (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |         greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |tri AS (
        |  SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM ce x JOIN ce y ON y.u = x.v
        |  JOIN ce z ON z.u = x.u AND z.v = y.v),
        |deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT u AS id FROM ce UNION ALL SELECT v FROM ce)
        |  GROUP BY 1),
        |w AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |        CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        |      FROM deg),
        |c AS (SELECT CAST(3 * count(*) AS BIGINT) AS n_closed FROM tri)
        |SELECT n_nodes, CAST(n_closed // 3 AS BIGINT) AS n_triangles,
        |  n_wedges,
        |  CAST(CASE WHEN n_wedges > 0 THEN
        |    floor(CAST(n_closed AS DOUBLE) / n_wedges * 1e6 + 0.5) / 1e6
        |  END AS REAL) AS transitivity
        |FROM w, c""".stripMargin,

    "q194_kcore" ->
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         |         greatest(a.l_partkey, b.l_partkey) AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey <> b.l_partkey),
         |${graft.graph.KCore.oracleSql(k = 80, rounds = 8)}""".stripMargin,

    "q183_clustering_coef" ->
      """WITH ce AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |         greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |tri AS (
        |  SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM ce x JOIN ce y ON y.u = x.v
        |  JOIN ce z ON z.u = x.u AND z.v = y.v),
        |corners AS (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |deg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT u AS id FROM ce UNION ALL SELECT v FROM ce)
        |  GROUP BY 1),
        |cnt AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY 1)
        |SELECT deg.id, deg.d, coalesce(cnt.n_tri, 0) AS n_tri,
        |       CAST(CASE WHEN deg.d < 2 THEN 0.0
        |            ELSE round(2 * coalesce(cnt.n_tri, 0)
        |                 / (deg.d * (deg.d - 1)), 4) END AS REAL) AS coef
        |FROM deg LEFT JOIN cnt USING (id)""".stripMargin,

    "q173_funnel" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type
        |  FROM events),
        |s1 AS (SELECT user_id, min(t) AS t_1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(t) AS t_2
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click'
        |         AND t > t_1 AND t <= t_1 + 259200 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(t) AS t_3
        |       FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase'
        |         AND t > t_2 AND t <= t_1 + 259200 GROUP BY 1)
        |SELECT s1.user_id, t_1, t_2, t_3,
        |       CAST(1 + CAST(t_2 IS NOT NULL AS INTEGER)
        |              + CAST(t_3 IS NOT NULL AS INTEGER) AS INTEGER)
        |         AS n_steps,
        |       t_3 IS NOT NULL AS completed
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)""".stripMargin,

    "q174_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt FROM events),
        |coh AS (SELECT user_id, min(dt) AS cohort_day FROM act GROUP BY 1)
        |SELECT cohort_day,
        |       CAST(datediff('day', cohort_day, dt) AS INTEGER) AS offset_day,
        |       count(*) AS n_users
        |FROM act JOIN coh USING (user_id) GROUP BY 1, 2""".stripMargin,

    "q187_funnel_dropoff" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         |         event_id, event_type
         |  FROM events),
         |l AS (SELECT *, lag(t) OVER
         |        (PARTITION BY user_id ORDER BY t, event_id) AS prev
         |      FROM e),
         |s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL
         |        OR t - prev > $sessionGapS THEN 1 ELSE 0 END) OVER
         |        (PARTITION BY user_id ORDER BY t, event_id) AS BIGINT)
         |        AS sid FROM l),
         |s1 AS (SELECT user_id, sid, min(t) AS t_1 FROM s
         |       WHERE event_type = 'view' GROUP BY 1, 2),
         |s2 AS (SELECT s.user_id, s.sid, min(t) AS t_2
         |       FROM s JOIN s1 USING (user_id, sid)
         |       WHERE event_type = 'click' AND t > t_1 GROUP BY 1, 2),
         |s3 AS (SELECT s.user_id, s.sid, min(t) AS t_3
         |       FROM s JOIN s2 USING (user_id, sid)
         |       WHERE event_type = 'purchase' AND t > t_2 GROUP BY 1, 2),
         |c AS (
         |  SELECT 1 AS step, 'view' AS step_name, count(*) AS n_sessions
         |  FROM s1
         |  UNION ALL SELECT 2, 'click', count(*) FROM s2
         |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         |SELECT CAST(step AS INTEGER) AS step, step_name, n_sessions,
         |       CAST(CASE WHEN lag(n_sessions) OVER (ORDER BY step) <> 0
         |            THEN round(CAST(n_sessions AS DOUBLE)
         |              / lag(n_sessions) OVER (ORDER BY step), 4) END
         |         AS REAL) AS frac_of_prev
         |FROM c""".stripMargin,

    "q188_basket_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
        |ic AS (SELECT it, count(*) AS cnt FROM b GROUP BY 1),
        |co AS (
        |  SELECT x.it AS ante, y.it AS cons, count(*) AS n_co
        |  FROM b x JOIN b y ON x.bk = y.bk AND x.it <> y.it
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT ante, cons, n_co,
        |  CAST(round(CAST(n_co AS DOUBLE) / nb.n_baskets, 4) AS REAL)
        |    AS support,
        |  CAST(round(CAST(n_co AS DOUBLE) / a.cnt, 4) AS REAL)
        |    AS confidence,
        |  CAST(round(CAST(n_co AS DOUBLE) * nb.n_baskets
        |         / (a.cnt * c.cnt), 4) AS REAL) AS lift
        |FROM co JOIN ic a ON a.it = co.ante
        |JOIN ic c ON c.it = co.cons, nb""".stripMargin,

    "q180_outliers" ->
      """WITH m AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, e.value, m.med
        |  FROM events e JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type,
        |         round(quantile_cont(abs(value - med), 0.5), 4) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |       CAST(max(d.med) AS REAL) AS med,
        |       CAST(max(md.mad) AS REAL) AS mad,
        |       CAST(sum(CASE WHEN abs(value - d.med)
        |                > 3.5 * 1.4826 * md.mad
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type) GROUP BY 1""".stripMargin,

    "q178_rolling_actives" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt FROM events),
        |sp AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(dt, dt + INTERVAL 6 DAY,
        |           INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM act)
        |SELECT day, count(DISTINCT user_id) AS active_users
        |FROM sp WHERE day <= (SELECT max(dt) FROM act)
        |GROUP BY 1""".stripMargin,

    "q175_transitions" ->
      """WITH o AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM o
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS row_n FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, n,
        |       CAST(round(CAST(n AS DOUBLE) / row_n, 4) AS REAL) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin)
}
