package graft.quality

import graft.Checkpoints
import graft.queries.QueryPack.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks ported from the reference's ops layer
  * (SURVEY.md §2.9 market calendar, §5 freshness).
  *
  * Reference behavior:
  *  - `is_market_open(date, market)` asks a market calendar whether the
  *    exchange trades that day (/root/reference/modules/common/utils.py:72-86).
  *    The Spark-native form is a calendar DIMENSION — weekday minus an
  *    explicit holiday list — joined where the reference made a per-call
  *    library lookup, so the flag is available distributed, at any scale,
  *    and in the same shape as the dbt calendar spine.
  *  - `check_latest_dt` counts yesterday's rows for a sentinel id and
  *    routes to OK / WARNING / ERROR
  *    (/root/reference/airflow/common_functions/cassandra_operation.py:24-69):
  *    rows present → OK (no notification); no rows on an OPEN market day
  *    → WARNING; no rows on a closed day (or no market given) → ERROR.
  *    That decision table is reproduced verbatim (lines 54-69 — the
  *    WARNING/ERROR branches follow the code, not its comment).
  *
  * Scale: `freshness` is one pushed-down point-predicate scan
  * (date = D AND id = S reaches the parquet reader as PushedFilters,
  * pruning to the sentinel's partitions/row groups) plus a single-row
  * aggregate — the cheapest possible probe of a 100 TB table.
  */
object DataQuality {

  /** Market-open flag for a date column: weekday AND not in `holidays`
    * (ISO `yyyy-MM-dd` strings). Crypto markets pass `Nil` and are
    * always open on weekdays-plus-weekends via [[alwaysOpen]].
    */
  def isMarketOpen(dateCol: Column, holidays: Seq[String]): Column = {
    val weekend = dayofweek(dateCol).isin(1, 7) // Spark: 1=Sun, 7=Sat
    val holiday =
      if (holidays.isEmpty) lit(false)
      else dateCol.isin(holidays.map(h => lit(h).cast("date")): _*)
    !weekend && !holiday
  }

  /** 24/7 market (the reference's crypto tables skip the calendar gate —
    * `target_market_to_check_opening=None` routes straight to ERROR on
    * missing data).
    */
  def alwaysOpen: Column = lit(true)

  /** Calendar dimension with the market-open flag appended to a date
    * spine (`date_day` column, e.g. [[graft.ts.Calendar.spineOver]]).
    */
  def marketCalendar(spine: DataFrame, holidays: Seq[String]): DataFrame =
    spine.withColumn("is_market_open",
      isMarketOpen(col("date_day"), holidays))

  /** The freshness probe: does `df` have rows for `sentinelId` on
    * `checkDate`? One output row:
    * (check_date, sentinel_id, row_count, is_market_open, status) with
    * the reference's status routing. `calendar = None` is the
    * no-market-calendar path (missing data is always ERROR, like the
    * reference's crypto tables); `Some(holidays)` gates on
    * [[isMarketOpen]].
    */
  def freshness(df: DataFrame, dateCol: String, idCol: String,
      sentinelId: Long, checkDate: String,
      calendar: Option[Seq[String]]): DataFrame = {
    val d = lit(checkDate).cast("date")
    val open = calendar.map(isMarketOpen(d, _)).getOrElse(lit(false))
    df.where(col(dateCol) === d && col(idCol) === sentinelId)
      .agg(count(lit(1)).as("row_count"))
      .select(
        d.as("check_date"),
        lit(sentinelId).as("sentinel_id"),
        col("row_count"),
        open.as("is_market_open"),
        when(col("row_count") > 0, "OK")
          .when(open, "WARNING")
          .otherwise("ERROR").as("status"))
  }

  /** One-pass table profile: per column, null / non-null counts, exact
    * distinct count, and min/max rendered as strings (engine-portable
    * output shape). The multi-distinct aggregate plans as ONE scan
    * with an Expand (|cols|+1-way row replication) — the standard
    * exact-profile shape; at 100 TB swap `countDistinct` for
    * `approx_count_distinct` to trade the expand for a sketch, or
    * profile a [[graft.llm.Corpus.stratifiedSample]].
    *
    * Caller picks the columns; float/double columns should be avoided
    * or pre-rounded (min/max STRING rendering of doubles is not
    * engine-portable).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(_.matches("[A-Za-z0-9_]+")),
      "profile needs simple column names")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__mn"),
        max(col(c)).cast("string").as(s"${c}__mx"))
    }
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val structs = cols.map(c =>
      s"named_struct('col_name', '$c', 'n_non_null', ${c}__nn, " +
        s"'n_distinct', ${c}__nd, 'min_s', ${c}__mn, 'max_s', ${c}__mx)")
      .mkString(", ")
    one.selectExpr("n_rows", s"inline(array($structs))")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_non_null")).as("n_nulls"),
        col("n_non_null"), col("n_distinct"), col("min_s"), col("max_s"))
  }

  /** The 100 TB twin of [[profile]] that its own scaladoc promises:
    * same one-scan multi-column shape, but the distinct count comes
    * from [[graft.functions.BottomKByHash.kmvDistinct]] instead of
    * `countDistinct` — so there is NO Expand replication and NO
    * shuffle of every distinct value; the whole profile is one
    * hash-aggregate pass with O(k) state per column and map-side
    * combine, the ANALYZE-style stats collection a planner feeds on.
    * The md5-deterministic estimator keeps even this approximate
    * profile under the full hash-gate oracle (exact below k distinct
    * values per column, (k−1)/u₍ₖ₎ above).
    */
  def profileSketch(df: DataFrame, cols: Seq[String],
      k: Int = 256): DataFrame = {
    require(cols.nonEmpty && cols.forall(_.matches("[A-Za-z0-9_]+")),
      "profileSketch needs simple column names")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        round(graft.functions.BottomKByHash.kmvDistinct(col(c), k), 4)
          .as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__mn"),
        max(col(c)).cast("string").as(s"${c}__mx"))
    }
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val structs = cols.map(c =>
      s"named_struct('col_name', '$c', 'n_non_null', ${c}__nn, " +
        s"'ndv_est', ${c}__nd, 'min_s', ${c}__mn, 'max_s', ${c}__mx)")
      .mkString(", ")
    one.selectExpr("n_rows", s"inline(array($structs))")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_non_null")).as("n_nulls"),
        col("n_non_null"), col("ndv_est"), col("min_s"), col("max_s"))
  }

  /** Benford first-digit audit — the forensic screen for fabricated or
    * truncated numeric columns: naturally-grown magnitudes follow
    * P(d) = log₁₀(1 + 1/d); a uniform or hand-entered column doesn't.
    * The leading digit comes from the INTEGER part via an unrolled
    * exact integer division chain (values ≥ 1) — no log10-of-double
    * boundary flips, no double→string formatting dependence. One
    * 9-group aggregate + a broadcast total.
    * @return (digit, n, obs_frac, benford_frac, dev) — dev = obs − exp
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val i = floor(col(valueCol)).cast("long")
    // leading digit by magnitude-threshold CASE — a LINEAR when-chain
    // referencing `i` once per branch (an iterated strip-a-digit fold
    // would reference its accumulator three times per level: a 3^12-
    // node expression tree that stalls Catalyst); floor of a
    // double-division of longs < 2^53 is exact integer division
    val lead = (12 to 1 by -1).foldLeft(Option.empty[Column]) { (acc, k) =>
      val pow = math.pow(10, k).toLong
      val branch = floor(i / lit(pow)).cast("long")
      Some(acc.fold(when(i >= pow, branch))(_.when(i >= pow, branch)))
    }.get.otherwise(i)
    val counts = df.where(col(valueCol) >= 1)
      .select(lead.cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("n_total"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("n_total"), 4).cast("float")
          .as("obs_frac"),
        round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 4)
          .cast("float").as("benford_frac"),
        round(col("n").cast("double") / col("n_total") -
          log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 4)
          .cast("float").as("dev"))
  }

  /** Population Stability Index — the distribution-drift monitor
    * ("did this column's distribution move between the reference
    * window and now?"): the current sample is bucketed by the
    * REFERENCE sample's equi-depth deciles and
    * PSI = Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) read per bucket (< 0.1 stable,
    * > 0.25 drifted — the standard credit-scoring rule of thumb).
    *
    * Determinism contract: buckets are value-granular equi-depth cuts
    * off the distributed scan (the [[graft.ops.Scan.equiDepthHist]]
    * rule — ties never straddle); a current value joins the highest
    * bucket whose v_min it reaches (below-range → bucket 0); empty
    * cells take a 0.5 continuity count (documented, both engines);
    * per-bucket contributions round to 6 decimals and the headline
    * PSI is a DECIMAL sum of the rounded cells — the
    * [[graft.ops.Stats.chiSquare]] order-independence discipline.
    *
    * Scale shape: two per-value count aggregates (map-side combined),
    * ONE distributed scan over the reference's distinct values, and a
    * ≤ `buckets`-row broadcast bucket table the current side range-
    * joins against — no sort, no quadratic anything.
    *
    * @return (bucket, c_ref, c_cur, p_ref, p_cur, contrib, psi) —
    *         psi repeated per row (the broadcast-total pattern)
    */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
      buckets: Int = 10): DataFrame = {
    val rCounts = ref.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c"))
      .transform(Checkpoints(_)) // feeds the scan and the bucket table
    val n = rCounts.agg(sum(col("c")).as("n"))
    val bt = graft.ops.Scan.globalRunningSum(rCounts, Seq("v"),
        col("c"), "run")
      .crossJoin(broadcast(n))
      .withColumn("bucket",
        expr(s"((run - c) * $buckets) div n").cast("int"))
      .groupBy(col("bucket")).agg(min(col("v")).as("v_min"))
      .transform(Checkpoints(_)) // ≤ buckets rows
    def bucketCounts(df: DataFrame, out: String) =
      df.where(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c"))
        .join(broadcast(bt), col("v") >= col("v_min"), "left")
        .groupBy(col("v"), col("c"))
        .agg(coalesce(max(col("bucket")), lit(0)).as("bucket"))
        .groupBy(col("bucket")).agg(sum(col("c")).as(out))
    val cells = bucketCounts(ref, "c_ref")
      .join(bucketCounts(cur, "c_cur"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    val totals = cells.agg(sum(col("c_ref")).as("nr"),
      sum(col("c_cur")).as("nc"))
    val adj = (c: Column) => when(c === 0, lit(0.5))
      .otherwise(c.cast("double"))
    val p = adj(col("c_ref")) / col("nr")
    val q = adj(col("c_cur")) / col("nc")
    val contrib = cells.crossJoin(broadcast(totals))
      .withColumn("p_ref", r6(p))
      .withColumn("p_cur", r6(q))
      .withColumn("contrib",
        (floor((p - q) * log(p / q) * 1e6 + 0.5) / 1e6))
      .transform(Checkpoints(_)) // feeds the cells and the decimal total
    val psiTotal = contrib
      .agg(sum(col("contrib").cast("decimal(18,6)")).as("psi"))
    contrib.crossJoin(broadcast(psiTotal))
      .select(col("bucket"), col("c_ref"), col("c_cur"),
        col("p_ref"), col("p_cur"),
        col("contrib").cast("float").as("contrib"),
        col("psi").cast("float").as("psi"))
  }

  /** One foreign-key edge of a star schema: child rows whose `childKey`
    * has no match in the parent's `parentKey` are orphans. */
  case class FkEdge(name: String, child: DataFrame, childKey: String,
    parent: DataFrame, parentKey: String)

  /** Robust per-group outlier audit (median/MAD, the Iglewicz–Hoaglin
    * rule): per group, the exact interpolated median, the median
    * absolute deviation, and the count of values with
    * |x − med| > z · 1.4826 · mad (1.4826 ≈ 1/Φ⁻¹(3/4) scales MAD to
    * σ under normality). Mean/stddev audits break on the very
    * anomalies they hunt — one 10⁶× fat-finger drags the mean past
    * half the outliers; the median pair doesn't move.
    *
    * DETERMINISM CONTRACT: med and mad are rounded to 4 decimals
    * BEFORE the threshold compare, so the flag rule is reproducible
    * cross-engine (raw interpolated percentiles differ in final ulps
    * between engines; rounded ones don't).
    *
    * Scale: two grouped percentile passes + a broadcast of the
    * |groups|-row stats table into a codegen'd filter-count. Exact
    * percentile holds a group's distinct values in memory — at
    * billions of rows per group swap in the bottom-k sketch
    * ([[graft.functions.BottomKByHash]], the q103 path) exactly as
    * q15 → q103.
    */
  def robustOutliers(df: DataFrame, valueCol: String, groupCol: String,
      z: Double = 3.5): DataFrame = {
    val v = col(valueCol)
    val g = col(groupCol)
    val med = df.groupBy(g)
      .agg(round(expr(s"percentile($valueCol, 0.5D)"), 4).as("med"))
    val withMed = df.join(broadcast(med), groupCol)
    val mad = withMed.groupBy(g)
      .agg(round(expr(s"percentile(abs($valueCol - med), 0.5D)"), 4)
        .as("mad"))
    withMed.join(broadcast(mad), groupCol)
      .groupBy(g)
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(abs(v - col("med")) > lit(z) * lit(1.4826) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"))
      .select(g, col("n"), col("med").cast("float").as("med"),
        col("mad").cast("float").as("mad"), col("n_outliers"))
  }

  /** One accepted-values check: `column` of `df` must only hold
    * `allowed` values (NULL passes — it is the not-null test's
    * business, mirroring [[refIntegrity]]'s NULL-FK rule). */
  case class ValueCheck(name: String, df: DataFrame, column: String,
    allowed: Seq[String])

  /** dbt's `accepted_values` test, distributed — with [[refIntegrity]]
    * (relationships), q12 (unique) and [[freshness]] this completes
    * the standard warehouse test quartet. Per check: row count,
    * violating rows, and distinct violating values (the triage
    * number). One codegen'd isin filter + aggregate per check — the
    * allowed set is a literal IN-list, no join; each check is one
    * scan-side pass and the union is of 1-row aggregates.
    */
  def acceptedValues(checks: Seq[ValueCheck]): DataFrame =
    checks.map { c =>
      val v = col(c.column)
      val bad = v.isNotNull && !v.isin(c.allowed.map(lit): _*)
      c.df.agg(
          count(lit(1)).as("n_rows"),
          sum(when(bad, 1L).otherwise(0L)).as("n_violations"),
          count_distinct(when(bad, v)).as("n_distinct_bad"))
        .select(lit(c.name).as("check_name"), col("n_rows"),
          col("n_violations"), col("n_distinct_bad"))
    }.reduce(_ unionByName _)

  /** Referential-integrity audit over a set of FK edges (the dbt
    * `relationships` test, distributed): per edge, the child row count,
    * the orphaned child rows (no parent), and the count of DISTINCT
    * missing parent keys — the triage number that tells an operator
    * whether drift is one bad load (few keys, many rows) or key-space
    * corruption (many keys).
    *
    * Scale shape, per edge: orphan detection is a LEFT ANTI join on the
    * key — both sides shuffle only their key column after pushdown (the
    * child's projection prunes to the FK at the scan), NULL FKs are
    * excluded first (SQL FK semantics: NULL references nothing and is
    * the not-null test's business, not this one's). The distinct-key
    * count aggregates the anti-join's output, which is orphan-sized,
    * not child-sized. Edges audit independently — the union is of
    * 1-row aggregates. At extreme child/parent asymmetry, gate the
    * parent side with [[graft.functions.BloomFrame]] over the child's
    * keys before the anti join (the delta-dedup join-pruning pattern);
    * the audit's answer is identical, the shuffle sheds parent rows
    * the child never references.
    */
  def refIntegrity(edges: Seq[FkEdge]): DataFrame =
    refIntegrityCore(edges, None)

  /** [[refIntegrity]] with the PARENT side gated by a
    * [[graft.functions.BloomFrame]] of the child's keys before the
    * anti-join shuffle — the delta-dedup join-pruning pattern on the
    * relational audit: a parent row whose key the child never
    * references can never defeat an orphan claim, and a bloom has no
    * false negatives, so the audit's answer is IDENTICAL at any
    * (m, d) (false positives admit extra parent rows that match
    * nothing). The win is the asymmetric case — auditing one day's
    * child partition against a year-deep parent: the gate sheds the
    * parent bulk at ≤ m/64 broadcast rows however large the child.
    */
  def refIntegrityBloom(edges: Seq[FkEdge], m: Long = 1L << 20,
      d: Int = 2): DataFrame =
    refIntegrityCore(edges, Some((m, d)))

  /** k-anonymity / l-diversity audit (Sweeney; Machanavajjhala) over
    * a quasi-identifier tuple — the privacy gate a training-data
    * release runs before shipping records containing demographic
    * attributes: every equivalence class (identical QI values) must
    * hold ≥ k members, and the sensitive attribute must take ≥ l
    * distinct values inside it (k alone does not stop homogeneity
    * attacks). Output is the full class table with both verdicts —
    * exact integer counts only, trivially hash-stable.
    *
    * Scale shape: ONE hash aggregate keyed by the QI tuple with
    * map-side partials (count + distinct-sensitive via a two-level
    * aggregate); at 100 TB the class table is |QI domain|-bounded —
    * orders smaller than the data. The production variant filters
    * `!k_ok || !l_ok` before shipping; the audit ships every class
    * so the oracle pins the whole matrix.
    */
  def kAnonymityAudit(df: DataFrame, qis: Seq[String],
      sensitive: String, k: Int, l: Int): DataFrame =
    df.groupBy(qis.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count_distinct(col(sensitive)).as("n_sens"))
      .select(qis.map(col) ++ Seq(col("n"), col("n_sens"),
        (col("n") >= k).as("k_ok"), (col("n_sens") >= l).as("l_ok")): _*)

  /** Full-domain generalization to k-anonymity (Samarati's minimal
    * generalization over a fixed lattice): climb
    * (qi1, qi2) → (g1, qi2) → (g1, ANY) → (ANY, ANY) and release at
    * the FIRST level whose smallest equivalence class reaches k —
    * minimal information loss within the lattice, deterministic
    * because the lattice order is fixed. Output: every row with its
    * released (generalized) QI values plus the chosen level.
    *
    * Scale shape: the level choice needs only the three min-class
    * sizes — three QI-domain-bounded aggregates reduced to ONE
    * broadcast scalar row; the release itself is a map-only CASE
    * projection. No shuffle touches the full data beyond the three
    * bounded aggregates.
    *
    * @param df      rows carrying `qi1`, `qi2`, and `g1` (the
    *                coarsening of qi1, e.g. region for nation)
    */
  def kAnonymize(df: DataFrame, qi1: String, qi2: String, g1: String,
      idCol: String, k: Int): DataFrame = {
    def minClass(cols: Seq[Column]): DataFrame =
      df.groupBy(cols: _*).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("m"))
    val ms = broadcast(
      minClass(Seq(col(qi1), col(qi2))).select(col("m").as("m0"))
        .crossJoin(minClass(Seq(col(g1), col(qi2)))
          .select(col("m").as("m1")))
        .crossJoin(minClass(Seq(col(g1))).select(col("m").as("m2"))))
    val level = when(col("m0") >= k, 0)
      .when(col("m1") >= k, 1)
      .when(col("m2") >= k, 2)
      .otherwise(3)
    df.crossJoin(ms)
      .select(col(idCol),
        level.cast("int").as("level"),
        when(level === 0, col(qi1).cast("string"))
          .when(level <= 2, col(g1).cast("string"))
          .otherwise(lit("*")).as("rel_qi1"),
        when(level <= 1, col(qi2).cast("string"))
          .otherwise(lit("*")).as("rel_qi2"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    * member above [[kAnonymityAudit]] in the privacy ladder: k stops
    * re-identification, l stops homogeneity, but a class whose
    * sensitive values are diverse yet SKEWED against the population
    * still leaks ("everyone in this class earns above the 90th
    * percentile"). t-closeness bounds, per equivalence class, the
    * Earth Mover's Distance between the class's sensitive
    * distribution and the GLOBAL one over the ordered value domain:
    * {{{
    *   EMD = Σ_i |Σ_{j≤i} (p_j − q_j)| / (m − 1)
    * }}}
    * Computed as EXACT RATIONALS on the common denominator n_c·N:
    * the running sum accumulates integer `ccnt·N − gcnt·n_c` terms,
    * absolute partial sums add exactly (decimal), and the single
    * IEEE division happens once per class at the edge — so the audit
    * is hash-stable like the rest of the family.
    *
    * Scale shape: class table and global value histogram are bounded
    * hash aggregates; the dense class × domain grid is
    * |classes|·|distinct values| — domain-bounded, independent of row
    * count (a 100 TB run buckets the sensitive domain first, the
    * q231 PSI decile move, shrinking m without changing this plan).
    * The cumulative runs per class over the ordered domain — bounded
    * partitions, no global sort.
    *
    * @return one row per class: (qis..., n, emd, t_ok) — emd rounded
    *         to 6 places, t_ok compared on the unrounded value
    */
  def tCloseness(df: DataFrame, qis: Seq[String], sensitive: String,
      t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec19(c: Column) = c.cast("decimal(19,0)")
    val qiCols = qis.map(col)
    val base = df.where(col(sensitive).isNotNull)
      .select(qiCols :+ col(sensitive).as("sv"): _*)
    val gv = base.groupBy(col("sv")).agg(count(lit(1)).as("gcnt"))
    val gtot = base.agg(count(lit(1)).as("nn"),
      count_distinct(col("sv")).as("m"))
    val classes = base.groupBy(qiCols: _*).agg(count(lit(1)).as("nc"))
    val cc = base.groupBy(qiCols :+ col("sv"): _*)
      .agg(count(lit(1)).as("ccnt"))
    val grid = classes.crossJoin(gv)
      .join(cc, qis :+ "sv", "left").na.fill(0L, Seq("ccnt"))
      .crossJoin(broadcast(gtot))
    val w = Window.partitionBy(qiCols: _*).orderBy(col("sv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cumsum distributes over the linear combination:
    //   cum(ccnt·nn − gcnt·nc) = nn·cum(ccnt) − nc·cum(gcnt)
    // so the WINDOW accumulates plain long counts (bounded by n — no
    // overflow) and the wide decimal multiply runs ONCE per row after
    // it, instead of a BigDecimal product + BigDecimal accumulation
    // per grid row (guide §1.2 per-task work: measured, the decimal
    // window was the whole query's single hottest job). Identical
    // exact integers.
    val cum = grid
      .withColumn("ccum", sum(col("ccnt")).over(w))
      .withColumn("gcum", sum(col("gcnt")).over(w))
      .withColumn("cd",
        (dec19(col("ccum")) * dec19(col("nn")) -
          dec19(col("gcum")) * dec19(col("nc"))).cast("decimal(38,0)"))
    val ag = cum
      .groupBy(qiCols ++ Seq(col("nc"), col("nn"), col("m")): _*)
      .agg(sum(abs(col("cd"))).as("sad"))
    val emdRaw = when(col("m") > 1,
      col("sad").cast("double") / col("nc") / col("nn") /
        (col("m") - 1)).otherwise(lit(0.0))
    ag.select(qiCols ++ Seq(col("nc").as("n"),
      r6(emdRaw).as("emd"),
      (emdRaw <= t).as("t_ok")): _*)
  }

  /** Differentially-private count release (the Laplace mechanism,
    * Dwork et al. 2006): per-group counts + Laplace(Δf/ε) noise,
    * Δf = 1 for counting queries. The released-statistics layer of a
    * privacy-aware pipeline, beside the structural [[kAnonymityAudit]]
    * gate.
    *
    * Noise is SEEDED, not sampled: u = (md5₄₈(salt:key) + 0.5)/2⁴⁸ is
    * an exact dyadic uniform in (0,1) (the KMV fraction construction),
    * pushed through the Laplace inverse CDF
    * −b·sgn(u−½)·ln(1−2|u−½|). Every step before the ln is exact in
    * binary and u = ½ is unreachable (h is an integer), so both
    * engines evaluate ln on the identical double; the shared
    * floor(x·10⁴+0.5)/10⁴ edge absorbs libm ulp drift (the PMI
    * discipline). Deterministic noise means the release REPLAYS —
    * rerunning the pipeline cannot leak a fresh noise draw for the
    * same key (the "sticky noise" property practical DP systems
    * need) — while remaining a true Laplace draw over the key
    * population.
    *
    * Scale shape: one keyed hash aggregate with map-side partials,
    * then a pure map — nothing else.
    *
    * The audit form ships the exact count BESIDE the noisy release so
    * the oracle pins both; the production release drops `n`.
    */
  def dpNoisyCounts(df: DataFrame, keyCols: Seq[String],
      eps: Double = 1.0, salt: String = "dp"): DataFrame = {
    val key = concat_ws(":", lit(salt) +:
      keyCols.map(c => col(c).cast("string")): _*)
    val h = conv(substring(md5(key), 1, 12), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(281474976710656.0)
    val d = u - lit(0.5)
    val t = lit(1.0) - lit(2.0) * abs(d)
    val raw = when(d >= 0, -log(t)).otherwise(log(t)) * lit(1.0 / eps)
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(keyCols.map(col) ++ Seq(col("n"),
        (floor((col("n").cast("double") + raw) * 1e4 + 0.5) / 1e4)
          .cast("float").as("noisy")): _*)
  }

  private def refIntegrityCore(edges: Seq[FkEdge],
      bloomGate: Option[(Long, Int)]): DataFrame =
    edges.map { e =>
      // the child key frame feeds the bloom build, the anti-join probe,
      // and the n_child count — materialize once at the fan-out
      val c0 = e.child.where(col(e.childKey).isNotNull)
        .select(col(e.childKey).as("fk"))
      val c = if (bloomGate.isDefined) Checkpoints(c0) else c0
      val p0 = e.parent.select(col(e.parentKey).as("pk"))
      val p = bloomGate match {
        case Some((m, dd)) =>
          // fast-hash family: the gate only prunes parents before the
          // exact anti-join, so the oracle never sees the positions.
          // Both sides hash the same string cast (child and parent key
          // types may differ per edge; the cast unifies them).
          graft.functions.BloomFrame.pruneFast(
            p0, Seq(col("pk").cast("string")),
            c, Seq(col("fk").cast("string")), m, dd)
        case None => p0
      }
      val orphans = c.join(p, col("fk") === col("pk"), "left_anti")
      orphans.agg(
          count(lit(1)).as("n_orphan_rows"),
          count_distinct(col("fk")).as("n_missing_keys"))
        .crossJoin(broadcast(c.agg(count(lit(1)).as("n_child"))))
        .select(lit(e.name).as("fk_edge"), col("n_child"),
          col("n_orphan_rows"), col("n_missing_keys"))
    }.reduce(_ unionByName _)
}
