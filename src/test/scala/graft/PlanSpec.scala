package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gates for the scale-critical physical plans:
  * the properties that make a query survive 100× data (pushed scans,
  * broadcast joins, map-side partial sketches, no Expand replication)
  * are asserted STRUCTURALLY on the pre-AQE physical plan — so a
  * refactor that silently de-optimizes a plan fails the suite even
  * though every value stays correct.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The physical plan WITH exchanges planned (executedPlan after
    * EnsureRequirements), AQE off so the tree is inspectable without
    * running the query.
    */
  private def plan(q: String): SparkPlan = {
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  /** A round loop's physical plans with exchanges visible (AQE off):
    * every `localCheckpoint` it runs — one per round state, plus its
    * loop-invariant frames — and the plan of the frame it returns. */
  private def roundPlans(f: => DataFrame): Seq[SparkPlan] = {
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      var out: DataFrame = null
      val plans = TestSpark.checkpointPlansDuring { out = f }
      plans :+ out.queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  private def shuffleWidths(plans: Seq[SparkPlan]): Seq[Int] =
    plans.flatMap(_.collect { case e: ShuffleExchangeExec => e })
      .map(_.output.length)

  test("q02: predicates reach the parquet scan, columns are pruned") {
    val scans = plan("q02_filter_project")
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed != "[]" && pushed.contains("l_shipdate"), pushed)
    // 4 projected + 3 filter-only columns, never the 11-column table
    assert(scans.head.output.length <= 7,
      scans.head.output.map(_.name).mkString(","))
  }

  test("q03: the dim join is broadcast, not sort-merge") {
    val p = plan("q03_join_broadcast")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q127: the kmv sketch partially aggregates map-side") {
    val partials = plan("q127_kmv_distinct").collect {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Partial &&
          e.aggregateFunction.isInstanceOf[graft.functions.BottomKByHash]) => a
    }
    // both branches (sources, shingles) must combine before their
    // exchange — a sketch that only aggregates post-shuffle would ship
    // every raw row to one reducer per language
    assert(partials.length >= 2, s"partial sketch aggs: ${partials.length}")
  }

  test("q128: one shuffle; the threshold table joins via broadcast") {
    val p = plan("q128_quality_gate")
    assert(p.collect { case e: ShuffleExchangeExec => e }.length == 1)
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q132: the cm-estimate join broadcasts the bounded grid") {
    val p = plan("q132_cms_counts")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("bloom membership probe is shuffle-free: broadcast grid joins only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ks = (0 until 200).map(i => s"k$i").toDF("k")
    // checkpoint the built grid so the probe plan is inspected alone
    // (the build's own groupBy exchange is its cost, not the probe's)
    val bloom = graft.functions.BloomFrame.build(ks, col("k"), 1L << 12, 4)
      .localCheckpoint(true)
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.functions.BloomFrame
        .mayContain(ks, col("k"), bloom, 1L << 12, 4)
        .queryExecution.executedPlan
      assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.length == 4)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("q129 profiles without Expand; exact q84 keeps it (the contrast)") {
    // multi-countDistinct pays an Expand (|cols|+1× row replication);
    // the sketch profile must not
    assert(plan("q84_profile").collect { case e: ExpandExec => e }.nonEmpty)
    val p = plan("q129_profile_sketch")
    assert(p.collect { case e: ExpandExec => e }.isEmpty)
    assert(p.collect { case e: ShuffleExchangeExec => e }.length == 1)
  }

  test("q140: DSIR joins only via broadcast (log-ratio table + histograms)") {
    // the per-doc scoring path must never sort-merge: the bucket table
    // is ≤ buckets rows and the two 1-row histograms are crossJoin
    // broadcasts — a sort-merge join here would shuffle the corpus
    // features twice
    val p = plan("q140_dsir_weights")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q141: hard negatives BROADCAST the query set (nested-loop, " +
      "never a shuffled cartesian)") {
    // the exclusion predicate is non-equi, so the correct scale shape
    // is scan × broadcast-queries nested loop — a CartesianProduct
    // would shuffle-replicate the corpus side
    val p = plan("q141_hard_negatives")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j }.nonEmpty)
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins
        .CartesianProductExec => j }.isEmpty)
  }

  test("q139: semDedup assigns cells via the broadcast-centroid map " +
      "and pairs via a cell-keyed equi-join") {
    // the assigned frame is eagerly checkpointed, which hides the
    // assignment subtree behind an RDD scan: the gate reads that
    // checkpoint's own plan (the last one semDedup runs) and the plan
    // of the frame it returns
    val plans = roundPlans(graft.llm.Similarity.semDedup(
      Tables.load(spark, dir, "embeddings")))
    val p = plans.init.last
    val pairs = plans.last
    // assignment: the 1-row centroid array reaches every task as a
    // broadcast nested loop (a pure map), never a shuffled cartesian
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j }.nonEmpty)
    assert(Seq(p, pairs).forall(_.collect {
      case j: org.apache.spark.sql.execution.joins
        .CartesianProductExec => j }.isEmpty))
    // the quadratic search is confined to cells: some equi-join keys
    // on the cell id (hash or sort-merge both fine — the id-keyed
    // verdict joins are separate and may sort-merge)
    val cellKeyed = pairs.collect {
      case j: SortMergeJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "cell")) => j
      case j: BroadcastHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "cell")) => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "cell")) => j
    }
    assert(cellKeyed.nonEmpty, "no cell-keyed pair join found")
  }

  test("q150: kmv overlap shuffles sketches, never shingles; both " +
      "sides partially aggregate map-side") {
    val p = plan("q150_kmv_overlap")
    // the exploded shingle column must die inside the map-side partial
    // sketch — an exchange carrying `s` would shuffle every distinct
    // n-gram of both slices (the join this operator exists to avoid)
    val shuffledCols = p.collect { case e: ShuffleExchangeExec => e }
      .flatMap(_.output.map(_.name))
    assert(!shuffledCols.contains("s"),
      s"shingles entered a shuffle: ${shuffledCols.mkString(",")}")
    val partials = p.collect {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Partial &&
          e.aggregateFunction.isInstanceOf[graft.functions.BottomKByHash]) => a
    }
    assert(partials.length >= 2, s"partial sketch aggs: ${partials.length}")
  }

  test("q151: curriculum phase joins the broadcast threshold table; " +
      "no global sort") {
    val p = plan("q151_curriculum")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
    // the schedule is sort KEYS — no exchange may range-partition for
    // a global order
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.isEmpty)
  }

  test("q152: pack stats is one groupBy — a single shuffle, no joins, " +
      "no window sort") {
    val p = plan("q152_pack_stats")
    assert(p.collect { case e: ShuffleExchangeExec => e }.length == 1)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
  }

  test("q148: tempered mix joins the ≤|langs|-row constants via " +
      "broadcast, never sort-merge") {
    val p = plan("q148_mix_temperature")
    // the normalization frame (total_tokens, z) is 1 row: it must
    // arrive as a broadcast nested loop, not a shuffled join
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins
        .CartesianProductExec => j }.isEmpty)
  }

  test("q160/q161: the whole indicator chain rides TWO exchanges — " +
    "bars aggregation + ONE window shuffle") {
    // q160: three Window nodes (lags+deltas, three Wilder smoothings,
    // ADX) share one hash(id) exchange. q161: the (id, day) VWAP
    // window is a refinement of hash(id), so it adds a Sort but NO
    // exchange beside the %R/CCI window.
    Seq("q160_atr_adx", "q161_vwap_channel").foreach { q =>
      val p = plan(q)
      val n = p.collect { case e: ShuffleExchangeExec => e }.length
      assert(n == 2, s"$q planned $n exchanges")
    }
  }

  test("q163/q171: SCD2 history and TWAP ride ONE key exchange each") {
    // q163: both island windows (run detection, valid_to chaining)
    // share the hash(o_custkey) sort; q171: the lead window's
    // hash(id, dt) partitioning satisfies the grouping's clustered
    // distribution, so the aggregate adds no exchange.
    Seq("q163_scd2", "q171_twap").foreach { q =>
      val p = plan(q)
      val n = p.collect { case e: ShuffleExchangeExec => e }.length
      assert(n == 1, s"$q planned $n exchanges")
    }
  }

  test("pagerank rounds carry only (id, rank) — no wide rows") {
    // rounds of rank iteration must shuffle nothing beyond the node
    // key + fixed-point rank / contribution columns. Each round is
    // checkpointed, which hides its exchanges from the returned plan —
    // inspect every round's checkpoint plan instead.
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L).toDF("id")
    val widths = shuffleWidths(roundPlans(
      graft.graph.PageRank.run(nodes, edges, iters = 3)))
    assert(widths.nonEmpty && widths.forall(_ <= 3),
      s"wide shuffle rows: ${widths.mkString(",")}")
  }

  test("sssp rounds carry only (id, distance) — no wide rows") {
    // same contract as the pagerank gate: three Bellman–Ford rounds
    // shuffle nothing beyond the node key + tentative distance (+ the
    // improved flag on the merge)
    import spark.implicits._
    val edges = Seq((0L, 1L, 2L), (1L, 0L, 2L)).toDF("a", "b", "len")
    val nodes = Seq(0L, 1L).toDF("id")
    val widths = shuffleWidths(roundPlans(
      graft.graph.Sssp.distances(nodes, edges, Seq(0L).toDF("id"), 3)))
    assert(widths.nonEmpty && widths.forall(_ <= 3),
      s"wide shuffle rows: ${widths.mkString(",")}")
  }

  test("q245: image payloads never enter a shuffle — only 10-byte " +
      "fingerprint rows move") {
    val shuffledCols = plan("q245_image_ahash_pairs")
      .collect { case e: ShuffleExchangeExec => e }
      .flatMap(_.output.map(_.name))
    assert(!shuffledCols.contains("payload"),
      s"payload entered a shuffle: ${shuffledCols.mkString(",")}")
  }

  test("q246: k-means plans no sort-merge join and no Expand") {
    // centroids travel as one broadcast row; assignment is a map;
    // only the (cell, dim) recompute and the size count shuffle
    val p = plan("q246_kmeans")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty, s"$p")
    assert(p.collect { case e: ExpandExec => e }.isEmpty)
  }

  test("q168: z-order block stats — scalar bounds + ONE block pass") {
    // two exchanges total: the 1-row min/max bounds aggregate (single-
    // partition scalar, then broadcast) and the bounded ≤2^blockBits
    // block groupBy; no join ever shuffles the fact rows
    val p = plan("q168_zorder")
    val n = p.collect { case e: ShuffleExchangeExec => e }.length
    assert(n == 2, s"q168 planned $n exchanges")
  }

  test("q149: cluster-balanced sampling never shuffles document text") {
    // the soft-dedup decoration works on (doc_id, cluster, size)
    // triples — any exchange carrying `text` would ship the corpus
    // body through the cluster machinery and die at 100 TB
    val shuffledCols = plan("q149_cluster_sample")
      .collect { case e: ShuffleExchangeExec => e }
      .flatMap(_.output.map(_.name))
    assert(!shuffledCols.contains("text"),
      s"text entered a shuffle: ${shuffledCols.mkString(",")}")
  }

  test("q201/q203: moment estimators are join-free single aggregates") {
    for (q <- Seq("q201_welch_ttest", "q203_ols")) {
      val p = plan(q)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty &&
        p.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"$q planned a join")
      // scan → partial agg → one exchange → final agg (q201's global
      // aggregate collapses to a single-partition exchange of the
      // 6-number moment row; q203 hash-partitions by group)
      assert(p.collect { case e: ShuffleExchangeExec => e }.length <= 2,
        s"$q shuffled more than the moment rows")
    }
  }

  test("scan family (q202/q205/q207): offsets broadcast, never sort-merge") {
    // the two-level scan's whole point: the only join in the plan is
    // the metadata-sized offset frame broadcast back onto local scans
    for (q <- Seq("q202_mann_whitney", "q205_cusum", "q207_equidepth_hist")) {
      val p = plan(q)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"$q planned a sort-merge join")
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$q lost its broadcast offset join")
    }
  }

  test("q216: global rank never plans a single-partition data sort") {
    // the rank table joins back by value hash — the only sorts allowed
    // are inside the metadata-sized offset scan (#partitions rows)
    val p = plan("q216_global_rank")
    val singleSorts = p.collect {
      case s: org.apache.spark.sql.execution.SortExec
          if s.global => s
    }
    assert(singleSorts.isEmpty, "global sort crept into the rank plan")
  }

  test("q189: the watchlist joins broadcast; only the symbol agg sorts") {
    // the universe bound that keeps pairwise correlation at
    // watchlist², not market²: the top-200 cut must join via broadcast,
    // and any global sort in the plan may only see the ≤|symbols|-row
    // (id, vol) aggregate — never fact-width rows (a non-terminal
    // orderBy+limit plans Sort+GlobalLimit, which is fine at that size)
    val p = plan("q189_lead_lag")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "watchlist lost its broadcast join")
    val globalSorts = p.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.forall(_.output.length <= 2),
      s"global sort over wide rows: ${globalSorts.map(_.output.map(_.name))}")
  }

  test("q210: global top-k is TakeOrdered, not a global sort") {
    val p = plan("q210_top_paths")
    assert(p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "top-k lost its TakeOrdered plan")
  }

  test("q211: the skyline frontier joins via broadcast") {
    val p = plan("q211_skyline")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q232: modularity labels join via broadcast only, no sort-merge") {
    // the eager checkpoint hides the edge stage from the final plan,
    // so the label-join shape is asserted on that checkpoint's own
    // plan, the first one byPartition runs
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.functions.col
      val edges = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val e = edges.as("a").join(edges.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("a"), col("b.l_partkey").as("b"))
        .distinct()
      val labels = spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"), col("p_brand").as("community"))
      val p = TestSpark.checkpointPlansDuring(
        graft.graph.Modularity.byPartition(e, labels)).head
      assert(p.collect { case j: BroadcastHashJoinExec => j }.length >= 2,
        s"both label joins must broadcast the |parts|-row table:\n$p")
      // the final assembly is metadata-sized: no sort-merge anywhere
      val fin = plan("q232_modularity")
      assert(fin.collect { case j: SortMergeJoinExec => j }.isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("q228: interval union runs on ONE data shuffle (the key " +
      "exchange both windows and the rollups reuse)") {
    val p = plan("q228_interval_union")
    // one exchange partitions by id; the two window functions share
    // its sort, and both groupBys ride the same partitioning
    assert(p.collect { case e: ShuffleExchangeExec => e }.length == 1,
      s"expected the single id exchange:\n$p")
  }

  test("q251: hilbert block stats — scalar bounds + ONE block pass") {
    // the q168 contract on the Hilbert key: the 1-row min/max bounds
    // aggregate and the bounded block groupBy; the fact rows never
    // shuffle for a join
    val p = plan("q251_hilbert")
    val n = p.collect { case e: ShuffleExchangeExec => e }.length
    assert(n == 2, s"q251 planned $n exchanges")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("personalized pagerank rounds carry only narrow rows") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val seeds = Seq(0L).toDF("id")
    val widths = shuffleWidths(roundPlans(
      graft.graph.PageRank.runPersonalized(nodes, edges, seeds, iters = 3)))
    // node key + teleport/r0/rank/contribution columns, never wide
    assert(widths.nonEmpty && widths.forall(_ <= 4),
      s"wide shuffle rows: ${widths.mkString(",")}")
  }

  test("hits rounds carry only narrow rows") {
    import spark.implicits._
    val edges = Seq((0L, 10L), (1L, 10L), (1L, 11L)).toDF("src", "dst")
    val hubs = Seq(0L, 1L).toDF("id")
    val auths = Seq(10L, 11L).toDF("id")
    val widths = shuffleWidths(roundPlans(
      graft.graph.Hits.run(hubs, auths, edges, iters = 2)))
    assert(widths.nonEmpty && widths.forall(_ <= 3),
      s"wide shuffle rows: ${widths.mkString(",")}")
  }

  test("q255: pca scoring joins the loadings via broadcast only") {
    val p = plan("q255_pca_scores")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty, s"$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
  }

  test("q257: dtw pairs via broadcast nested loop, never a data sort") {
    val p = plan("q257_dtw")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
    }.nonEmpty, "watchlist side must broadcast under the pair join")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q261: dp release is ONE keyed aggregate + a pure map") {
    val p = plan("q261_dp_release")
    val n = p.collect { case e: ShuffleExchangeExec => e }.length
    assert(n == 1, s"q261 planned $n exchanges")
  }

  test("q259: the k-anonymize release joins only via broadcast") {
    val p = plan("q259_kanon_release")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty, s"$p")
  }

  test("q230: auc aggregates value counts map-side before the scan") {
    val p = plan("q230_auc")
    // the per-value count feeding the midrank scan must partially
    // aggregate map-side: a Partial HashAggregate below its exchange
    val partials = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partials.nonEmpty, "no map-side partial aggregation")
  }

  test("label propagation rounds: hash-aggregate argmax, no window") {
    import spark.implicits._
    val pairs = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("a", "b")
    val ps = roundPlans(graft.graph.LabelProp.run(pairs, rounds = 3))
    // the per-node winner is min(struct(-cnt, lbl)) — never a
    // row_number window sort over the (node, label) count frame
    assert(ps.flatMap(_.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }).isEmpty, "LPA argmax regressed to a window sort")
    val widths = shuffleWidths(ps)
    assert(widths.nonEmpty && widths.forall(_ <= 3),
      s"wide shuffle rows: ${widths.mkString(",")}")
  }

  test("random walks: frontier rounds shuffle only narrow rows") {
    import spark.implicits._
    val pairs = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("a", "b")
    val seeds = Seq(0L, 1L).toDF("id")
    val ps = roundPlans(graft.graph.RandomWalk.walks(pairs, seeds, steps = 3))
    assert(ps.flatMap(_.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }).isEmpty, "hop argmin regressed to a window sort")
    // (walk_id, node/dst, h) — the md5 draw never widens a shuffle
    val widths = shuffleWidths(ps)
    assert(widths.nonEmpty && widths.forall(_ <= 3),
      s"wide shuffle rows: ${widths.mkString(",")}")
  }

  test("q271/q272: every window is keyed — no single-partition data " +
      "window; q272 top-k is TakeOrdered") {
    for (q <- Seq("q271_attribution", "q272_seq_patterns")) {
      val p = plan(q)
      val unkeyed = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(unkeyed.isEmpty, s"$q plans an unpartitioned window")
    }
    assert(plan("q272_seq_patterns").collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "q272 top-k lost its TakeOrdered plan")
  }

  test("q273/q274: report scalars broadcast back — no sort-merge join") {
    for (q <- Seq("q273_calibration", "q274_survival_km")) {
      val p = plan(q)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"$q plans a sort-merge join")
    }
  }

  test("q277: the audio fingerprint map stage plans ZERO exchanges") {
    val p = plan("q277_audio_fp")
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"codec + fingerprint must stay a pure map:\n$p")
  }

  test("q279: neighbor pairing is an equi-join — never cartesian") {
    val p = plan("q279_sorted_neighborhood")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins
        .CartesianProductExec => c
    }.isEmpty, "window blocking regressed to an unbounded join")
  }

  test("q280: replicate sums partially aggregate map-side") {
    val p = plan("q280_bootstrap_ci")
    val partials = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partials.nonEmpty,
      "the ×B explode must combine before its shuffle")
  }

  test("q281: the brand dim joins via broadcast") {
    // targetEncoding's eager checkpoint hides the fact-side stage
    // from the final plan (the q232 situation) — assert the shape on
    // the pre-checkpoint fact⋈dim frame the query builds
    import org.apache.spark.sql.functions.{broadcast, col, pmod, lit}
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(spark.read.parquet(s"$dir/part.parquet")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("fold", pmod(col("l_orderkey"), lit(5L)).cast("int"))
        .groupBy(col("p_brand"), col("fold"))
        .count()
      val p = li.queryExecution.executedPlan
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("q300: permutation replicates combine map-side; q298/q305 " +
    "reduce in one pass") {
    val p = plan("q300_permutation_test")
    val partials = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partials.nonEmpty,
      "the ×B explode must combine before its shuffle")
    // the one-pass moment readouts never sort and never SMJ
    for (q <- Seq("q298_delta_ratio", "q305_power_mde")) {
      val pp = plan(q)
      assert(pp.collect { case j: SortMergeJoinExec => j }.isEmpty, q)
      assert(pp.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.isEmpty, q)
    }
  }

  test("q304: the query side broadcasts into the postings join") {
    val p = plan("q304_ql_dirichlet")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q306: the p99 scan shuffles counts, not rows; no SMJ") {
    // the winsorize pass must aggregate per VALUE before any
    // exchange (count frame ≪ fact frame) and attach the cap by
    // broadcast, never a sort-merge join against the fact table
    val p = plan("q306_winsorized")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
    val partials = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partials.nonEmpty)
  }

  test("q307/q310: degree attachment is an equi-join, never cartesian") {
    for (q <- Seq("q307_assortativity", "q310_rich_club")) {
      val p = plan(q)
      assert(p.collect {
        case c: org.apache.spark.sql.execution.joins
          .CartesianProductExec => c
      }.isEmpty, q)
    }
  }

  test("q338/q343: the flow and TRIX marts stack every window on " +
      "ONE sort — no joins, no extra exchange") {
    Seq("q338_mfi", "q343_trix").foreach { q =>
      val p = plan(q)
      assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty &&
        p.collect { case b: BroadcastHashJoinExec => b }.isEmpty, q)
      // bar groupBy + window partitioning: exactly two exchanges
      val ex = p.collect { case e: ShuffleExchangeExec => e }
      assert(ex.size <= 2, s"$q planned ${ex.size} exchanges")
    }
  }

  test("round-14 families: heavy hitters broadcast their totals; " +
      "MF/NB/logistic plan no cartesian products; the stump plans " +
      "no global fact-width sort") {
    val p383 = plan("q383_heavy_hitters")
    assert(p383.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "window totals should broadcast onto the count frame")
    assert(p383.collect { case j: SortMergeJoinExec => j }.isEmpty)
    for (q <- Seq("q385_implicit_mf", "q389_naive_bayes",
        "q391_logistic", "q394_capm")) {
      val p = plan(q)
      assert(p.collect {
        case c: org.apache.spark.sql.execution.joins
          .CartesianProductExec => c
      }.isEmpty, s"$q plans a cartesian product")
    }
    // the chunked rewrite's entire point: the FACT-side band join
    // must plan as a hash EQUI-join on the chunk key — never the
    // nested-loop a raw lo<=v<hi join gives. (The band DERIVATION's
    // one-row global-aggregate broadcasts legitimately plan as
    // broadcast nested loops — the house crossJoin(broadcast(tot))
    // pattern — so the gate keys on the chunk join specifically.)
    val p396 = plan("q396_range_join")
    assert(p396.collect {
      case c: org.apache.spark.sql.execution.joins
        .CartesianProductExec => c
    }.isEmpty)
    val chunkJoins =
      (p396.collect { case j: BroadcastHashJoinExec => j.leftKeys } ++
        p396.collect { case j: SortMergeJoinExec => j.leftKeys })
        .filter(_.exists(_.references.exists(_.name == "chunk")))
    assert(chunkJoins.nonEmpty, "the band join should hash on chunk")
    val p392 = plan("q392_decision_stump")
    val wide = p392.collect {
      case s: org.apache.spark.sql.execution.SortExec
          if s.global && s.child.output.length > 4 => s
    }
    assert(wide.isEmpty, "stump plans a global sort over wide rows")
  }

  test("q32–q41: every IndicatorDay.hourly projection keeps the " +
      "one-sort mart plan — no joins, two exchanges, one window sort") {
    // r13 verdict item #5: q34/q38 drifted +43–48% r12→r13 while three
    // new window families landed near the same mart. This pins the
    // plan shape for the WHOLE q32-family so any future family can't
    // silently split the mart's single (id, tkey) window sort.
    Seq("q32_ema", "q33_macd", "q34_rsi", "q35_bollinger", "q36_obv",
        "q37_stoch", "q38_ichimoku", "q39_aroon", "q41_sma").foreach { q =>
      val p = plan(q)
      assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty &&
        p.collect { case b: BroadcastHashJoinExec => b }.isEmpty, q)
      val ex = p.collect { case e: ShuffleExchangeExec => e }
      assert(ex.size <= 2, s"$q planned ${ex.size} exchanges")
      val sorts = p.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.size <= 1, s"$q planned ${sorts.size} sorts")
    }
  }

  test("q366/q379: the quintile/decile cuts never plan a global " +
      "fact-width sort (the scan's metadata offset window excepted)") {
    Seq("q366_rfm", "q379_pareto").foreach { q =>
      val p = plan(q)
      val wide = p.collect {
        case s: org.apache.spark.sql.execution.SortExec
            if s.global && s.child.output.length > 3 => s
      }
      assert(wide.isEmpty, s"$q plans a global sort over wide rows")
    }
  }

  test("q349: Levene's group-stat attach is a broadcast join") {
    val p = plan("q349_levene")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "per-group (n, Σx) should broadcast back onto the fact rows")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "no sort-merge join in the Levene plan")
  }

  test("q374: the image-entropy payload stage plans zero exchanges " +
      "before the codec map") {
    // histogram columns come out of mapPartitions — the only
    // exchanges allowed are AFTER the 18-column narrow frame
    val p = plan("q374_image_entropy")
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    // entropy is a pure projection over the histogram columns: no
    // aggregate exchange at all
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.isEmpty, s"entropy planned ${ex.size} exchanges")
  }

  test("r15 family: no cartesian anywhere; MF2 scalars broadcast; " +
      "ExactSubstr never sort-merge-joins; PPS offsets broadcast") {
    // q397 rank-2 MF: the final plan reads the half-steps' eager
    // localCheckpoints (the interior ratings-join/broadcast shape is
    // the rank-1 plan, asserted by construction — broadcast() on
    // every one-row frame); the visible plan must stay cartesian-free
    val p397 = plan("q397_implicit_mf2")
    assert(p397.collect {
      case c: org.apache.spark.sql.execution.joins
        .CartesianProductExec => c
    }.isEmpty, "MF2 plans a real cartesian")
    // q398 ExactSubstr: occurrence counting is a WINDOW over the gram
    // hash — no join of any kind in the span path
    val p398 = plan("q398_exact_substr")
    assert(p398.collect { case s: SortMergeJoinExec => s }.isEmpty &&
      p398.collect { case b: BroadcastHashJoinExec => b }.isEmpty,
      "ExactSubstr spans should be join-free (one window shuffle)")
    // q400/q407 admission / q402 HLL: keyed-state batch kernels — no
    // cartesian, no sort-merge join (q407's arbiter is a doc-keyed
    // hash aggregate, never a join of the flag frame)
    Seq("q400_ann_admission", "q407_ann_admission_bands",
        "q402_stream_hll", "q408_stream_quantiles").foreach { q =>
      val p = plan(q)
      assert(p.collect {
        case c: org.apache.spark.sql.execution.joins
          .CartesianProductExec => c
      }.isEmpty, q)
      assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty, q)
    }
    // q401 PPS: the scan's partition offsets and the 1-row total
    // broadcast; no global fact-width sort
    val p401 = plan("q401_pps_sample")
    assert(p401.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "PPS should join offsets/total by broadcast only")
    val wide = p401.collect {
      case s: org.apache.spark.sql.execution.SortExec
          if s.global && s.child.output.length > 3 => s
    }
    assert(wide.isEmpty, "PPS plans a global sort over wide rows")
  }

  test("q406 rolling ExactSubstr: dup marking is a hash-probe semi " +
      "join (never a sort of the gram frame) over a partial count") {
    val p = plan("q406_exact_substr_rolling")
    // the shuffle_hash hint must hold: sorting the corpus-wide gram
    // frame is exactly what this form exists to avoid
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "rolling ExactSubstr sort-merge-joins the gram frame")
    val shj = p.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.nonEmpty && shj.forall(_.joinType.sql == "LEFT SEMI"),
      "dup marking should be a LEFT SEMI shuffled hash join")
    // the count branch must partial-aggregate (hot grams collapse
    // map-side before the shuffle — the whole point vs the window)
    val partialAggs = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partialAggs.nonEmpty,
      "gram occurrence count should map-side combine")
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty)
  }
}
