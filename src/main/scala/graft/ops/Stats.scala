package graft.ops

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-testing surface: the χ² independence audit — "is
  * categorical column A independent of categorical column B?" — the
  * screening test behind segmentation sanity checks (does event mix
  * drift by weekday?), A/B assignment health, and label-leak hunts in
  * training data.
  *
  * Determinism contract: observed counts are exact integers; each
  * expected count is `rt·ct/n` computed with one IEEE multiply +
  * divide of exactly-represented longs (same doubles everywhere);
  * per-cell contributions `(o−e)²/e` round to 4 decimals at the cell
  * (squaring via explicit multiply — `pow` is libm-dependent), and
  * the headline χ² is a DECIMAL sum of those rounded cells — exact
  * and order-independent, the [[graft.ts.Seasonal]] discipline.
  *
  * Scale shape: ONE map-side-combined groupBy over the fact table →
  * ≤ |A|·|B| cells; everything after is metadata-sized (checkpointed
  * once), with marginals as bounded aggregates and the 1-row total
  * broadcast back. No window over a global partition, no second scan.
  */
object Stats {

  /** Contingency table + χ² per cell and total: one row per observed
    * (a, b) cell — (a, b, o, e, contrib, chi2, dof); `chi2`/`dof`
    * repeated on every row (the broadcast-total pattern).
    */
  def chiSquare(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b))
      .agg(count(lit(1)).as("o"))
      .transform(Checkpoints(_)) // feeds marginals, total and the cell join
    val rt = cells.groupBy(col(a)).agg(sum("o").as("rt"))
    val ct = cells.groupBy(col(b)).agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").as("n"))
    val withE = cells.join(rt, a).join(ct, b).crossJoin(broadcast(n))
      .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
      .withColumn("contrib",
        round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 4))
    val total = withE.agg(
      sum(col("contrib").cast("decimal(18,4)")).cast("double").as("chi2"),
      ((countDistinct(col(a)) - 1) * (countDistinct(col(b)) - 1))
        .cast("int").as("dof"))
    withE.crossJoin(broadcast(total))
      .select(col(a), col(b), col("o"),
        round(col("e"), 2).cast("float").as("e"),
        col("contrib").cast("float").as("contrib"),
        col("chi2").cast("float").as("chi2"), col("dof"))
  }

  /** G-test of independence (log-likelihood ratio; Sokal & Rohlf
    * 1981's recommended default over Pearson's χ² for small expected
    * counts) + Cramér's V effect size (Cramér 1946) on the same
    * contingency table as [[chiSquare]]: G = 2·Σ o·ln(o/e), and
    * V = √(χ²/(n·(min(r,c)−1))) — the magnitude readout a bare
    * p-statistic lacks.
    *
    * Determinism contract shared with [[chiSquare]]: exact integer
    * cells/marginals, per-cell contributions rounded to 4 at the
    * cell, headline totals as DECIMAL sums of the rounded cells
    * (order-independent), V one sqrt off the decimal χ². Observed
    * cells have o ≥ 1, so ln(o/e) never sees zero.
    *
    * Scale shape: [[chiSquare]]'s — one map-side-combined groupBy to
    * ≤ |A|·|B| cells, bounded marginals, broadcast totals.
    *
    * @return one row per observed cell: (a, b, o, e, chi2, g, dof,
    *         cramers_v) — totals repeated per row
    */
  def gTest(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b))
      .agg(count(lit(1)).as("o"))
      .transform(Checkpoints(_)) // feeds marginals, total and the cell join
    val rt = cells.groupBy(col(a)).agg(sum("o").as("rt"))
    val ct = cells.groupBy(col(b)).agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").as("n"))
    val withE = cells.join(rt, a).join(ct, b).crossJoin(broadcast(n))
      .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
      .withColumn("contrib",
        round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 4))
      .withColumn("gc",
        round(lit(2.0) * col("o") * log(col("o") / col("e")), 4))
    val total = withE.agg(
      sum(col("contrib").cast("decimal(18,4)")).cast("double").as("chi2"),
      sum(col("gc").cast("decimal(18,4)")).cast("double").as("g"),
      max(col("n")).as("nn"),
      ((countDistinct(col(a)) - 1) * (countDistinct(col(b)) - 1))
        .cast("int").as("dof"),
      (least(countDistinct(col(a)), countDistinct(col(b))) - 1)
        .cast("long").as("mind"))
    withE.crossJoin(broadcast(total))
      .select(col(a), col(b), col("o"),
        round(col("e"), 2).cast("float").as("e"),
        col("chi2").cast("float").as("chi2"),
        col("g").cast("float").as("g"), col("dof"),
        when(col("mind") > 0,
          r6(sqrt(col("chi2") / (col("nn") * col("mind")))))
          .as("cramers_v"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 test (Cochran 1954;
    * Mantel & Haenszel 1959) — "is the arm→outcome association real
    * AFTER controlling for the stratifying confounder?", the
    * stratified member beside [[chiSquare]]'s marginal test and the
    * guard against Simpson-paradox readouts:
    * {{{
    *   χ²_CMH = (Σ_k (a_k − E_k))² / Σ_k V_k            (1 df)
    *   E_k = n1_k·m1_k/n_k
    *   V_k = n1_k·n0_k·m1_k·m0_k / (n_k²·(n_k−1))
    * }}}
    * (no continuity correction — both engines compute the same raw
    * statistic).
    *
    * Determinism: the four margins per stratum are exact integers
    * off ONE map-side-combined groupBy; each stratum's (a−E) and V
    * are fixed IEEE sequences, FLOOR-SCALED to micro-units and
    * integer-summed across strata ([[jackknifeDiff]]'s discipline —
    * double sums over strata would be order-dependent); one final
    * square/divide, flag on the UNROUNDED value vs the 3.841459
    * 1-df critical point ([[graft.queries.Analytics]] q290's).
    *
    * @return one row (n_strata, chi2, signif)
    */
  def cmh(df: DataFrame, stratumCol: String, armCol: String,
      outcomeCol: String): DataFrame = {
    val arm = col(armCol)
    val out = col(outcomeCol)
    val per = df.groupBy(col(stratumCol).as("k"))
      .agg(count(lit(1)).as("nt"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(out, 1L).otherwise(0L)).as("m1"),
        sum(when(arm === 1 && out, 1L).otherwise(0L)).as("a"))
    def d(c: Column) = c.cast("double")
    val e = d(col("n1")) * col("m1") / col("nt")
    val v = d(col("n1")) * (col("nt") - col("n1")) * col("m1") *
      (col("nt") - col("m1")) /
      (d(col("nt")) * col("nt") * (col("nt") - 1))
    val terms = per.where(col("nt") > 1)
      .select(floor((col("a") - e) * 1e6 + 0.5).cast("long").as("u6"),
        floor(v * 1e6 + 0.5).cast("long").as("v6"))
    val agg = terms.agg(count(lit(1)).as("n_strata"),
      sum(col("u6").cast("decimal(38,0)")).as("su"),
      sum(col("v6").cast("decimal(38,0)")).as("sv"))
    val num = d(col("su")) / 1e6
    val den = d(col("sv")) / 1e6
    val chi2 = when(den > 0, num * num / den)
    agg.select(col("n_strata"), r6(chi2).as("chi2"),
      when(chi2.isNotNull, chi2 > 3.841459).as("signif"))
  }

  /** Kendall's τ-b rank correlation (Kendall 1938; the tie-corrected
    * b form) on a BOUNDED pre-aggregated series — the pair-counting
    * sibling of [[spearman]]'s rank moments: concordant minus
    * discordant over the tie-corrected pair counts,
    * {{{
    *   τ_b = (nc − nd) / √((n0 − n1)·(n0 − n2))
    *   n0 = C(n,2),  n1 = #{pairs tied in x},  n2 = #{tied in y}
    * }}}
    * Everything up to the final sqrt/divide is EXACT INTEGER pair
    * counting off the C(n,2) self-join ([[theilSen]]'s bounded-input
    * contract — days², independent of fact volume); NULL when either
    * variable is constant (never an ANSI fault).
    *
    * @return one row (n_points, nc, nd, tau_b)
    */
  def kendallTau(series: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = series
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).as("k"), cents(col(xCol)).as("x"),
        cents(col(yCol)).as("y"))
      .transform(Checkpoints(_)) // both sides of the pair join
    val pairs = base.as("a").join(base.as("b"), col("a.k") < col("b.k"))
      .select(signum((col("b.x") - col("a.x")).cast("double"))
          .cast("int").as("cx"),
        signum((col("b.y") - col("a.y")).cast("double"))
          .cast("int").as("cy"))
    val agg = pairs.agg(count(lit(1)).as("n0"),
      sum(when(col("cx") * col("cy") > 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("cx") * col("cy") < 0, 1L).otherwise(0L)).as("nd"),
      sum(when(col("cx") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cy") === 0, 1L).otherwise(0L)).as("n2"))
    val np = broadcast(base.agg(count(lit(1)).as("n_points")))
    def d(c: Column) = c.cast("double")
    val den = d(col("n0") - col("n1")) * (col("n0") - col("n2"))
    val tau = when(den > 0,
      d(col("nc") - col("nd")) / sqrt(den))
    agg.crossJoin(np).select(col("n_points"), col("nc"), col("nd"),
      r6(tau).as("tau_b"))
  }

  /** Jarque–Bera normality test (Jarque & Bera 1980) — the moment-
    * based normality check beside the distribution-shape battery
    * (q199 KS against a reference sample, q192 Benford): skewness
    * and excess kurtosis off exact integer raw moments,
    * {{{
    *   JB = n·(S²/6 + (K−3)²/24)    ~ χ²(2) under normality
    * }}}
    * Rejects heavy tails and asymmetry — the two ways real metric
    * distributions break the normal assumptions the z/t readouts
    * lean on, which is exactly when [[winsorizedDiff]] or the
    * [[permutationTest]] should replace them.
    *
    * Determinism: Σx..Σx⁴ ride DECIMAL(38,0) off ONE map-side-
    * combined aggregate (x in CENT scale so the 4th power stays
    * inside 38 digits at warehouse row counts); central moments and
    * JB are one fixed IEEE sequence; flag on the UNROUNDED value vs
    * the 5.991465 2-df critical point.
    *
    * @return one row (n, skew, kurt_excess, jb, signif)
    */
  def jarqueBera(df: DataFrame, valueCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(19,0)")
    val x = cents(col(valueCol))
    val m = df.where(col(valueCol).isNotNull)
      .select(x.as("x"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("s1"),
        sum((dec(col("x")) * dec(col("x"))).cast("decimal(38,0)"))
          .as("s2"),
        sum((dec(col("x")) * dec(col("x")) * dec(col("x")))
          .cast("decimal(38,0)")).as("s3"),
        sum((dec(col("x")) * dec(col("x")) * dec(col("x")) *
          dec(col("x"))).cast("decimal(38,0)")).as("s4"))
    def d(c: String) = col(c).cast("double")
    val n = col("n")
    val mu = d("s1") / n
    val r2 = d("s2") / n
    val r3 = d("s3") / n
    val r4 = d("s4") / n
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = r4 - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    val sk = when(m2 > 0, m3 / sqrt(m2 * m2 * m2))
    val ku = when(m2 > 0, m4 / (m2 * m2))
    val jb = when(m2 > 0, n * (sk * sk / lit(6.0) +
      (ku - lit(3.0)) * (ku - lit(3.0)) / lit(24.0)))
    m.select(col("n"), r6(sk).as("skew"),
      r6(ku - lit(3.0)).as("kurt_excess"), r6(jb).as("jb"),
      when(jb.isNotNull, jb > 5.991465).as("signif"))
  }

  /** Cliff's delta ordinal effect size (Cliff 1993) — the magnitude
    * companion of [[mannWhitneyU]]'s rank-sum test (the U tells you
    * the difference is real; δ tells you whether anyone should
    * care):
    * {{{
    *   δ = (#{x₁ > x₀} − #{x₁ < x₀}) / (n₁·n₀)   ∈ [−1, 1]
    * }}}
    * EXACT INTEGER pair counting with no n₁·n₀ pair frame: per-value
    * (c₀, c₁) counts + ONE distributed global scan give, for each
    * value v, the count of group-0 mass strictly below/above it —
    * Σ c₁(v)·below₀(v) and the mirror are exact DECIMAL products,
    * and δ is ONE division at the edge ([[mannWhitneyU]]'s plan
    * shape; never a pair join).
    *
    * @return one row (n0, n1, n_gt, n_lt, delta)
    */
  def cliffsDelta(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g0: String): DataFrame = {
    val counts = df.where(col(groupCol).isin(g1, g0) &&
        col(valueCol).isNotNull)
      .groupBy(cents(col(valueCol)).as("v"))
      .agg(sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("c1"),
        sum(when(col(groupCol) === g0, 1L).otherwise(0L)).as("c0"))
      .transform(Checkpoints(_)) // feeds the scan AND the totals row
    val n = broadcast(counts.agg(sum(col("c1")).as("n1"),
      sum(col("c0")).as("n0")))
    val scanned = Scan.globalRunningSum(counts, Seq("v"), col("c0"),
      "rt0")
    def dec(c: Column) = c.cast("decimal(19,0)")
    val below0 = col("rt0") - col("c0")
    val agg = scanned.crossJoin(n)
      .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        sum((dec(col("c1")) * dec(below0)).cast("decimal(38,0)"))
          .as("n_gt"),
        sum((dec(col("c1")) * dec(col("n0") - col("rt0")))
          .cast("decimal(38,0)")).as("n_lt"))
    val den = col("n1").cast("double") * col("n0")
    agg.select(col("n0"), col("n1"),
      col("n_gt").cast("long").as("n_gt"),
      col("n_lt").cast("long").as("n_lt"),
      when(den > 0, r6((col("n_gt") - col("n_lt")).cast("double") / den))
        .as("delta"))
  }

  /** Exact integer cents of a 2-decimal money double — the repo's
    * exact-moment currency: decimal cast (unambiguous for 2-decimal
    * sources) then ×100, so every downstream sum/product is integer
    * arithmetic rather than order-dependent float accumulation. */
  private def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** WELCH's two-sample t-test (unequal variances) over a 2-decimal
    * value column: "do groups g1 and g2 draw from the same mean?" —
    * the A/B readout next to [[chiSquare]]'s categorical audit and
    * [[graft.ops.Scan.ksTest]]'s whole-distribution compare.
    *
    * Determinism: all five moments (n, Σx, Σx²) are EXACT — value
    * cents are longs, squares and sums ride DECIMAL(38,0) — and the
    * t/dof formulas are a fixed IEEE sequence over those exact inputs,
    * bit-reproducible in any engine; round-to-4 + REAL only at the
    * output edge. No libm calls beyond sqrt (IEEE-exact, correctly
    * rounded by spec).
    *
    * Scale shape: ONE map-side-combined aggregate over the fact table
    * → a single row. Nothing else.
    *
    * @return one row (n1, n2, mean1, mean2, t_stat, dof)
    */
  def welchT(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g2: String): DataFrame = {
    val x = cents(col(valueCol))
    val xx = x.cast("decimal(19,0)") * x.cast("decimal(19,0)")
    def side(g: String, tag: String) = Seq(
      count(when(col(groupCol) === g, 1)).as(s"n$tag"),
      sum(when(col(groupCol) === g, x).otherwise(0L)
        .cast("decimal(38,0)")).as(s"s$tag"),
      sum(when(col(groupCol) === g, xx).otherwise(lit(0).cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as(s"q$tag"))
    val m = df.where(col(groupCol).isin(g1, g2) && col(valueCol).isNotNull)
      .agg((side(g1, "1") ++ side(g2, "2")).head,
        (side(g1, "1") ++ side(g2, "2")).tail: _*)
    // dollars-scale doubles from the exact cent moments
    def mean(t: String) = col(s"s$t").cast("double") / col(s"n$t") / 100.0
    def vr(t: String) =
      (col(s"q$t").cast("double")
        - col(s"s$t").cast("double") * col(s"s$t").cast("double")
          / col(s"n$t")) / (col(s"n$t") - 1) / 10000.0
    val se2 = vr("1") / col("n1") + vr("2") / col("n2")
    val tStat = (mean("1") - mean("2")) / sqrt(se2)
    val dof = (se2 * se2) /
      ((vr("1") / col("n1")) * (vr("1") / col("n1")) / (col("n1") - 1)
        + (vr("2") / col("n2")) * (vr("2") / col("n2")) / (col("n2") - 1))
    m.select(col("n1"), col("n2"),
      round(mean("1"), 4).cast("float").as("mean1"),
      round(mean("2"), 4).cast("float").as("mean2"),
      round(tStat, 4).cast("float").as("t_stat"),
      round(dof, 2).cast("float").as("dof"))
  }

  /** MANN–WHITNEY U (Wilcoxon rank-sum) with the normal approximation
    * and tie correction — the NON-parametric sibling of [[welchT]]:
    * compares group LOCATIONS through ranks, immune to the heavy
    * tails that sink a t-test on revenue-like columns.
    *
    * Rank arithmetic is exact to the last bit: ranks come from
    * per-value counts + ONE distributed global scan
    * ([[Scan.globalRunningSums]] — never a per-sample global sort),
    * midranks are carried in HALF-RANK integer units (2·rank, so ties
    * at .5 stay integral), and the rank-sum / tie-correction moments
    * ride DECIMAL. The z formula is then a fixed IEEE sequence over
    * exact integers, with round-to-4 + REAL at the edge.
    *
    * Scale shape: one value-keyed groupBy (map-side combined), the
    * metadata-cost global scan, one single-row aggregate.
    *
    * @return one row (n1, n2, u1, z) — u1 in true rank units (may end
    *         in .5 under ties; exact, since it is a half-integer)
    */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g2: String): DataFrame = {
    val counts = df.where(col(groupCol).isin(g1, g2) &&
        col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("c1"),
        sum(when(col(groupCol) === g2, 1L).otherwise(0L)).as("c2"))
      .transform(Checkpoints(_)) // feeds the scan AND the totals row
    val n = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val ct = col("c1") + col("c2")
    val scanned = Scan.globalRunningSum(counts, Seq("v"), ct, "rt")
    // midrank of value v in 2× units: 2·(rows before v) + (ties+1);
    // decimal BEFORE the products — the long intermediates would
    // overflow at warehouse row counts
    val ar2 = ((col("rt") - ct) * 2 + ct + 1).cast("decimal(19,0)")
    val tc = ct.cast("decimal(12,0)")
    val moments = scanned.agg(
      sum((col("c1").cast("decimal(19,0)") * ar2).cast("decimal(38,0)"))
        .as("r1x2"),
      sum((tc * tc * tc - tc).cast("decimal(38,0)")).as("ties"))
    moments.crossJoin(broadcast(n)).select(
      col("n1"), col("n2"),
      // U₁ = R₁ − n₁(n₁+1)/2, carried ×2 until this exact division
      ((col("r1x2").cast("double") - col("n1") * (col("n1") + 1)) / 2.0)
        .as("u1"),
      round({
        val nn = (col("n1") + col("n2")).cast("double")
        val mu = col("n1").cast("double") * col("n2") / 2.0
        val varU = col("n1").cast("double") * col("n2") / 12.0 *
          ((nn + 1) - col("ties").cast("double") / (nn * (nn - 1)))
        ((col("r1x2").cast("double") - col("n1") * (col("n1") + 1)) / 2.0
          - mu) / sqrt(varU)
      }, 4).cast("float").as("z"))
  }

  /** BENFORD first-digit conformity audit (Newcomb 1881; Benford
    * 1938) — the fraud/synthetic-data smell test on a money-like
    * column: natural multi-scale magnitudes put digit d first with
    * probability log₁₀(1+1/d); fabricated or truncated data doesn't.
    * χ²(8) goodness-of-fit plus the mean-absolute-deviation score
    * (Nigrini's conformity reading, insensitive to N).
    *
    * Determinism: values become exact integer cents; the first digit
    * is a plan-time CASE ladder over powers of 10 (pure integer
    * compares — no log10/float anywhere near the bucketing); the 9
    * digit counts are conditional sums on ONE row, so χ² and MAD
    * unroll digit-by-digit as fixed IEEE sequences against plan-time
    * Benford literals. One map-side aggregate over the fact table.
    *
    * @return one row (n, chi2, mad, reject_95)
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    // first digit of a positive long: CASE ladder over 10^18..10^0
    // (folded 0→18 so the LARGEST power ends outermost)
    val firstDigit = (0 to 18).foldLeft(lit(0L): Column) {
      (acc, k) =>
        val p = BigDecimal(10).pow(k).toLongExact
        when(col("cv") >= p, expr(s"cv div ${p}L")).otherwise(acc)
    }
    val base = df.where(col(valueCol).isNotNull)
      .select(cents(col(valueCol)).as("cv"))
      .where(col("cv") > 0)
      .select(firstDigit.as("d"))
    val one = base.agg(
      sum(when(col("d") === 1, 1L).otherwise(0L)).as("n1"),
      (2 to 9).map(d =>
        sum(when(col("d") === d, 1L).otherwise(0L)).as(s"n$d")): _*)
    val pB = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    one.select({
      val n = (1 to 9).map(d => col(s"n$d")).reduce(_ + _)
      val nn = n.cast("double")
      val chi2 = (1 to 9).map { d =>
        val e = nn * lit(pB(d))
        val diff = col(s"n$d").cast("double") - e
        diff * diff / e
      }.reduce(_ + _)
      val mad = (1 to 9).map { d =>
        abs(col(s"n$d").cast("double") / nn - lit(pB(d)))
      }.reduce(_ + _) / 9.0
      Seq(n.as("n"), round(chi2, 4).cast("float").as("chi2"),
        round(mad, 6).cast("float").as("mad"),
        (chi2 > lit(chi2q95(8))).as("reject_95"))
    }: _*)
  }

  /** KRUSKAL–WALLIS H (1952) with tie correction — the k-GROUP member
    * of the rank-test family: [[mannWhitneyU]] generalized past two
    * groups exactly as one-way ANOVA generalizes [[welchT]], for "did
    * ANY of these variants shift the metric?" over heavy-tailed
    * columns.
    *
    * Same rank machinery as [[mannWhitneyU]]: per-value counts + ONE
    * distributed global scan ([[Scan.globalRunningSum]]) for midranks
    * in HALF-RANK (2×) integer units; per-group rank sums and the
    * tie moment ride DECIMAL off the same one-row aggregate. The
    * groups are EXPLICIT parameters (the [[welchT]]/DriftMonitor
    * plan-time discipline), so Σ_g R̄²_g/n_g unrolls in group order
    * as one fixed IEEE expression on the one-row frame — never a
    * float sum over grouped rows. H_c = H / (1 − Σ(t³−t)/(N³−N));
    * the 95% gate is the χ²(k−1) plan-time literal table.
    *
    * Scale shape: one value-keyed groupBy with k conditional counts
    * (map-side combined), the metadata-cost global scan, one
    * single-row aggregate.
    *
    * @return one row (n, n_groups, h, reject_95)
    */
  def kruskalWallis(df: DataFrame, valueCol: String, groupCol: String,
      groups: Seq[String]): DataFrame = {
    val k = groups.size
    require(k >= 2, "Kruskal-Wallis needs at least two groups")
    require(chi2q95.contains(k - 1), s"no chi2 literal for df ${k - 1}")
    val counts = df.where(col(groupCol).isin(groups: _*) &&
        col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(groups.zipWithIndex.map { case (g, j) =>
        sum(when(col(groupCol) === g, 1L).otherwise(0L)).as(s"c$j")
      }.head, groups.zipWithIndex.tail.map { case (g, j) =>
        sum(when(col(groupCol) === g, 1L).otherwise(0L)).as(s"c$j")
      }: _*)
    val ct = groups.indices.map(j => col(s"c$j")).reduce(_ + _)
    val scanned = Scan.globalRunningSum(counts, Seq("v"), ct, "rt")
    val ar2 = ((col("rt") - ct) * 2 + ct + 1).cast("decimal(19,0)")
    val tc = ct.cast("decimal(12,0)")
    val aggs =
      groups.indices.map(j =>
        sum((col(s"c$j").cast("decimal(19,0)") * ar2)
          .cast("decimal(38,0)")).as(s"r2x$j")) ++
      groups.indices.map(j => sum(col(s"c$j")).as(s"n$j")) :+
      sum((tc * tc * tc - tc).cast("decimal(38,0)")).as("ties")
    val m = scanned.agg(aggs.head, aggs.tail: _*)
    val nTot = groups.indices.map(j => col(s"n$j")).reduce(_ + _)
    m.select({
      val nn = nTot.cast("double")
      // Σ_g R_g²/n_g with R_g = r2x_g/2, unrolled in group order
      val sumR = groups.indices.map { j =>
        val r = col(s"r2x$j").cast("double") / 2.0
        r * r / col(s"n$j").cast("double")
      }.reduce(_ + _)
      val h = lit(12.0) / (nn * (nn + 1.0)) * sumR -
        lit(3.0) * (nn + 1.0)
      val hc = h / (lit(1.0) -
        col("ties").cast("double") / (nn * nn * nn - nn))
      Seq(nTot.as("n"), lit(k).cast("int").as("n_groups"),
        round(hc, 4).cast("float").as("h"),
        (hc > lit(chi2q95(k - 1))).as("reject_95"))
    }: _*)
  }

  /** Exact ROC-AUC of a score against a boolean label — the
    * classifier-evaluation headline stat, via its rank identity
    * AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋): P(score of a positive >
    * score of a negative), ties counting ½. Same machinery as
    * [[mannWhitneyU]] (AUC IS the normalized U statistic): per-value
    * counts + ONE distributed global scan for midranks in 2× integer
    * units — never a per-row rank() sort, never the quadratic
    * pairwise definition — with the rank-sum in DECIMAL. Numerator
    * and denominator are exact integers converted once to double, so
    * the rounded AUC is bit-identical cross-engine.
    *
    * @return one row (n_pos, n_neg, auc)
    */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val counts = df.where(col(scoreCol).isNotNull &&
        col(labelCol).isNotNull)
      .groupBy(col(scoreCol).as("v"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("c1"),
        sum(when(!col(labelCol), 1L).otherwise(0L)).as("c2"))
      .transform(Checkpoints(_)) // feeds the scan AND the totals row
    val n = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val ct = col("c1") + col("c2")
    val scanned = Scan.globalRunningSum(counts, Seq("v"), ct, "rt")
    val ar2 = ((col("rt") - ct) * 2 + ct + 1).cast("decimal(19,0)")
    val moments = scanned.agg(
      sum((col("c1").cast("decimal(19,0)") * ar2).cast("decimal(38,0)"))
        .as("r1x2"))
    moments.crossJoin(broadcast(n)).select(
      col("n1").as("n_pos"), col("n2").as("n_neg"),
      // single-class input (no positives or no negatives) → AUC is
      // undefined — NULL, not an ANSI 0/0 fault
      when(col("n1") > 0 && col("n2") > 0,
        (floor((col("r1x2") - col("n1").cast("decimal(38,0)")
            * (col("n1") + 1)).cast("double")
          / (lit(2d) * col("n1").cast("double") * col("n2").cast("double"))
          * 1e6 + 0.5) / 1e6)
          .cast("float")).as("auc"))
  }

  /** Per-group simple OLS fit y = a + b·x with r² — the
    * trend-extraction primitive (price vs quantity, value vs time)
    * behind drift dashboards and feature engineering.
    *
    * All six moments (n, Σx, Σy, Σx², Σxy, Σy²) are EXACT: both
    * columns are 2-decimal sources carried as integer cents with
    * DECIMAL(38,x) products/sums, so the shuffled partial aggregation
    * is order-free; slope/intercept/r² are then one fixed IEEE
    * sequence per group over exact moments.
    *
    * Scale shape: ONE map-side-combined groupBy; |groups| output rows.
    *
    * @return (group, n, slope, intercept, r2) — slope/intercept in the
    *         natural units of y per x
    */
  def olsFit(df: DataFrame, xCol: String, yCol: String,
      groupCol: String): DataFrame = {
    val x = cents(col(xCol))
    val y = cents(col(yCol))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val m = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(x.cast("decimal(38,0)")).as("sx"),
        sum(y.cast("decimal(38,0)")).as("sy"),
        sum((dec(x) * dec(x)).cast("decimal(38,0)")).as("sxx"),
        sum((dec(x) * dec(y)).cast("decimal(38,0)")).as("sxy"),
        sum((dec(y) * dec(y)).cast("decimal(38,0)")).as("syy"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN = dn * d("sxy") - d("sx") * d("sy")
    val varXN = dn * d("sxx") - d("sx") * d("sx")
    val varYN = dn * d("syy") - d("sy") * d("sy")
    val slope = covN / varXN
    m.select(col(groupCol), col("n"),
      round(slope, 4).cast("float").as("slope"),
      // intercept back in y units: cents→dollars is ÷100 on Σy and
      // slope·Σx alike, so the /100 factors out of the difference
      round((d("sy") - slope * d("sx")) / dn / 100.0, 4).cast("float")
        .as("intercept"),
      round(covN * covN / (varXN * varYN), 4).cast("float").as("r2"))
  }

  /** Lag-k AUTOCORRELATION of a keyed series (Pearson r between the
    * series and its k-shifted self, pairwise-complete): the
    * seasonality detector that tells you WHICH lag [[graft.ts]]'s
    * decomposition should use.
    *
    * The input is expected to be an AGGREGATED series (e.g. daily
    * revenue — bounded by the calendar, metadata-sized at any fact
    * scale), so the single ordering window here is the same
    * metadata-sized exception as [[Scan]]'s offset scan; the heavy
    * reduction happened in the caller's groupBy. All lag-pair moments
    * are exact integer cents; r is a fixed IEEE sequence per lag.
    *
    * @param series  (keyCol, valueCol) — one row per key
    * @param maxLag  computes lags 1..maxLag in ONE window pass
    * @return (lag, n_pairs, r)
    */
  def acf(series: DataFrame, keyCol: String, valueCol: String,
      maxLag: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(keyCol))
    val x = cents(col(valueCol))
    val lagged = series.select(Seq(x.as("x")) ++
      (1 to maxLag).map(l => lag(x, l).over(w).as(s"y$l")): _*)
    val pairs = lagged.select(explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag"), col("x"), col(s"y$l").as("y"))): _*))
        .as("e"))
      .select(col("e.lag"), col("e.x"), col("e.y"))
      .where(col("y").isNotNull)
    def dec(c: Column) = c.cast("decimal(19,0)")
    val m = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((dec(col("x")) * dec(col("x"))).cast("decimal(38,0)")).as("sxx"),
        sum((dec(col("x")) * dec(col("y"))).cast("decimal(38,0)")).as("sxy"),
        sum((dec(col("y")) * dec(col("y"))).cast("decimal(38,0)")).as("syy"))
    val dn = col("n_pairs").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN = dn * d("sxy") - d("sx") * d("sy")
    m.select(col("lag"), col("n_pairs"),
      round(covN / sqrt((dn * d("sxx") - d("sx") * d("sx"))
        * (dn * d("syy") - d("sy") * d("sy"))), 4).cast("float").as("r"))
      .orderBy(col("lag"))
  }

  /** Partial autocorrelation function by Durbin–Levinson (Durbin
    * 1960) — the ARIMA order-identification companion of [[acf]]: the
    * ACF of an AR(p) process decays forever, but its PACF CUTS OFF
    * after lag p — φ_{k,k} is the correlation at lag k with the
    * intermediate lags regressed out, so "how many AR terms does this
    * series need" reads directly off where the PACF dies.
    *
    * The recursion
    * {{{
    *   φ_{k,k} = (ρ_k − Σ_{j<k} φ_{k−1,j}·ρ_{k−j})
    *           / (1 − Σ_{j<k} φ_{k−1,j}·ρ_j)
    *   φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}
    * }}}
    * is UNROLLED AT PLAN TIME over the ≤ 5 requested lags — fixed
    * IEEE algebra over [[acf]]'s round-4 ρ values on a ONE-ROW frame
    * (lags pivoted wide), each recursion LEVEL materialized as
    * columns behind an eager checkpoint (a fully-inlined unroll
    * re-substitutes every φ reference, growing the tree ~3^k —
    * measured ~5 s of pure driver analysis/codegen at k = 5; leveled,
    * the whole PACF costs k−1 one-local-row jobs). Determinism is
    * inherited from the ACF's. Denominator-zero lags (degenerate
    * series) carry NULL, which the recursion propagates — never an
    * ANSI fault.
    *
    * @return (lag, pacf) for lag = 1..maxLag
    */
  def pacf(series: DataFrame, keyCol: String, valueCol: String,
      maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1 && maxLag <= 5,
      s"pacf unrolls at plan time; maxLag $maxLag outside 1..5")
    val rho = acf(series, keyCol, valueCol, maxLag)
      .select(col("lag"), col("r").cast("double").as("r"))
    val wide = rho.agg(
      max(when(col("lag") === 1, col("r"))).as("r1"),
      (2 to maxLag).map(l =>
        max(when(col("lag") === l, col("r"))).as(s"r$l")): _*)
    // Each recursion level is MATERIALIZED as columns on the one-row
    // frame (an eager checkpoint per level): a fully-inlined unroll
    // re-substitutes every φ reference, growing the expression tree
    // ~3^k — measured ~6 s of pure driver analysis/codegen at k = 5.
    // Leveling keeps every tree a few nodes; the k−1 extra jobs run
    // on one local row.
    def pcol(k: Int, j: Int): Column = col(s"p_${k}_$j")
    var cur = wide.withColumn("p_1_1", col("r1"))
      .transform(Checkpoints(_))
    for (k <- 2 to maxLag) {
      val num = col(s"r$k") -
        (1 until k).map(j => pcol(k - 1, j) * col(s"r${k - j}"))
          .reduce(_ + _)
      val den = lit(1.0) -
        (1 until k).map(j => pcol(k - 1, j) * col(s"r$j"))
          .reduce(_ + _)
      cur = cur
        .withColumn(s"p_${k}_$k", when(den =!= 0.0, num / den))
        .transform(Checkpoints(_))
      if (k < maxLag)
        cur = cur.select(col("*") +:
          (1 until k).map(j => (pcol(k - 1, j) -
            pcol(k, k) * pcol(k - 1, k - j)).as(s"p_${k}_$j")): _*)
    }
    cur.select(explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"), r6(pcol(k, k)).as("pacf"))): _*))
        .as("e"))
      .select(col("e.lag"), col("e.pacf"))
  }

  /** Per-group WEIGHTED quantiles (lower/type-1: the smallest value
    * whose cumulative weight reaches p% of the group total) — the
    * "median price weighted by traded quantity" shape plain
    * percentile gets wrong.
    *
    * Exact and tie-safe: weights collapse to per-(group, value) sums
    * first, the threshold compare is the INTEGER inequality
    * 100·cum ≥ p·total (no p/100 float boundary), and both the
    * running and total weight ride the ONE (group)-partitioned window
    * sort — a per-group scan, scale-fine because partitions are
    * groups, unlike the global-ORDER-BY quantile.
    *
    * @return (group, total_w, q&lt;p&gt;... one column per requested pct)
    */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
      groupCol: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "pcts must be 1..100")
    import org.apache.spark.sql.expressions.Window
    val vw = df.where(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(sum(cents(col(weightCol)).cast("decimal(38,0)")).as("wt"))
    val part = Window.partitionBy(col(groupCol))
    val run = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val scanned = vw
      .withColumn("run", sum(col("wt")).over(run))
      .withColumn("tot", sum(col("wt")).over(part))
    val qCols = pcts.map(p =>
      min(when(col("run") * 100 >= col("tot") * p, col("v"))).as(s"q$p"))
    scanned.groupBy(col(groupCol))
      .agg((max(col("tot")).cast("double") / 100.0).as("total_w"),
        qCols: _*)
  }

  /** ONE-WAY ANOVA F — the k-sample extension of [[welchT]]: does the
    * group mean of `valueCol` differ across `groupCol` levels at all?
    * (The screening test before pairwise t's.)
    *
    * Determinism: per-group moments (n, Σx, Σx²) are exact integer
    * cents; the between-group sum Σ s_g²/n_g is made ORDER-INDEPENDENT
    * by the [[chiSquare]] discipline — each group's contribution is
    * rounded to 4 then DECIMAL-summed, so no float accumulation order
    * exists anywhere; F is a fixed IEEE sequence at the edge.
    *
    * Scale shape: one map-side-combined groupBy → k rows; everything
    * after is metadata-sized.
    *
    * @return one row (k, n, ss_between, ss_within, f_stat) in value²
    *         units (dollars²)
    */
  def anovaF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val x = cents(col(valueCol))
    val g = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("ng"),
        sum(x.cast("decimal(38,0)")).as("sg"),
        sum((x.cast("decimal(19,0)") * x.cast("decimal(19,0)"))
          .cast("decimal(38,0)")).as("qg"))
    val m = g.agg(count(lit(1)).cast("int").as("k"),
      sum(col("ng")).as("n"),
      sum(col("sg")).as("t"),
      sum(col("qg")).as("q"),
      // group contributions rounded then decimal-summed: exact and
      // order-free (the chiSquare headline-sum discipline)
      sum(round(col("sg").cast("double") * col("sg").cast("double")
        / col("ng"), 4).cast("decimal(38,4)")).as("a"))
    val a = col("a").cast("double")
    val ssb = (a - col("t").cast("double") * col("t").cast("double")
      / col("n")) / 10000.0
    val ssw = (col("q").cast("double") - a) / 10000.0
    val f = (ssb / (col("k") - 1)) / (ssw / (col("n") - col("k")))
    m.select(col("k"), col("n"),
      round(ssb, 2).cast("float").as("ss_between"),
      round(ssw, 2).cast("float").as("ss_within"),
      round(f, 4).cast("float").as("f_stat"))
  }

  /** SPEARMAN rank correlation between two 2-decimal columns — the
    * monotone-association measure immune to outliers and nonlinearity
    * that sink Pearson on heavy-tailed data. ρ = Pearson over
    * MIDRANKS (tie-averaged), the standard tied-data definition.
    *
    * Midranks come per COLUMN from per-value counts + the distributed
    * global scan ([[Scan.globalRunningSums]] — never a global
    * ORDER BY rank window), carried in half-rank integer units (ties
    * at .5 stay exact), then joined back value-keyed; all five Pearson
    * moments are DECIMAL sums of exact integers.
    *
    * @return one row (n, rho)
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val rows = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(cents(col(xCol)).as("x"), cents(col(yCol)).as("y"))
      .transform(Checkpoints(_)) // feeds two rank sides + the pair join
    def ranks(c: String) = {
      val counts = rows.groupBy(col(c)).agg(count(lit(1)).as("ct"))
      Scan.globalRunningSum(counts, Seq(c), col("ct"), "rt")
        .select(col(c),
          ((col("rt") - col("ct")) * 2 + col("ct") + 1).as(s"r$c"))
    }
    val ranked = rows.join(ranks("x"), "x").join(ranks("y"), "y")
    def dec(c: Column) = c.cast("decimal(19,0)")
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(dec(col("rx")).cast("decimal(38,0)")).as("sx"),
      sum(dec(col("ry")).cast("decimal(38,0)")).as("sy"),
      sum((dec(col("rx")) * dec(col("rx"))).cast("decimal(38,0)")).as("sxx"),
      sum((dec(col("rx")) * dec(col("ry"))).cast("decimal(38,0)")).as("sxy"),
      sum((dec(col("ry")) * dec(col("ry"))).cast("decimal(38,0)")).as("syy"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col("n"),
      round((dn * d("sxy") - d("sx") * d("sy"))
        / sqrt((dn * d("sxx") - d("sx") * d("sx"))
          * (dn * d("syy") - d("sy") * d("sy"))), 4).cast("float")
        .as("rho"))
  }

  /** Per-group MODE (most frequent value) with a deterministic
    * smallest-value tie-break — two map-side-combined aggregates
    * (value counts, then a struct-min argmax); no window, no sort.
    * The struct-min carries (−n, v), so ties resolve to the smallest
    * value in any engine.
    *
    * @return (group, mode, n)
    */
  def modeBy(df: DataFrame, valueCol: String, groupCol: String): DataFrame =
    df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(groupCol))
      .agg(min(struct((-col("n")).as("nn"), col("v"))).as("m"))
      .select(col(groupCol), col("m.v").as("mode"), (-col("m.nn")).as("n"))

  /** CUSUM changepoint locator over a keyed series: the key k
    * maximizing |Σ_{i≤k}(x_i − x̄)| — the single most likely
    * mean-shift point, located EXACTLY: the cumulative deviation is
    * carried as the integer numerator n·run_k − k·total (cents), so
    * the argmax is an integer comparison with no float accumulation
    * anywhere; the struct-min tie-break takes the earliest key.
    *
    * Scale shape: running sums via the distributed
    * [[Scan.globalRunningSums]] (rank and value share ONE range
    * shuffle), a broadcast totals row, one single-row struct-min
    * aggregate — no single-partition data window.
    *
    * @return one row (n_points, cp_key, s_at_cp, frac_through) —
    *         s_at_cp the signed cumulative deviation at the
    *         changepoint in value units
    */
  def cusumChangepoint(series: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val x = cents(col(valueCol))
    val base = series.select(col(keyCol).as("k"), x.as("x"))
      .transform(Checkpoints(_)) // feeds the scan and the totals row
    val n = base.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("t"))
    val scanned = Scan.globalRunningSums(base, Seq("k"),
      Seq(col("x") -> "run", lit(1L) -> "rk"))
    scanned.crossJoin(broadcast(n))
      .select(col("n"), col("t"),
        struct(
          (-abs(col("n").cast("decimal(38,0)") * col("run")
            - col("rk").cast("decimal(38,0)") * col("t"))).as("na"),
          col("k"),
          (col("n").cast("decimal(38,0)") * col("run")
            - col("rk").cast("decimal(38,0)") * col("t")).as("num"),
          col("rk")).as("s"))
      .groupBy(col("n"), col("t")) // constants → one map-side-min group
      .agg(min(col("s")).as("m"))
      .select(col("n").as("n_points"), col("m.k").as("cp_key"),
        // S_k = num/n in cents → dollars
        round(col("m.num").cast("double") / col("n") / 100.0, 4)
          .cast("float").as("s_at_cp"),
        round(col("m.rk").cast("double") / col("n"), 4).cast("float")
          .as("frac_through"))
  }

  /** Per-group standardized moments — skewness and excess kurtosis
    * beside the global q317 Jarque–Bera: the distribution-shape
    * profile per segment ("which event types are heavy-tailed"), from
    * the same exact DECIMAL raw-moment discipline (Σx..Σx⁴ in CENT
    * scale, central moments and the standardized ratios one fixed
    * IEEE sequence per group on the bounded group frame).
    *
    * @return (g, n, mean, sd, skewness, kurtosis_excess)
    */
  def groupMoments(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val x = cents(col(valueCol))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val m = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast("decimal(38,0)")).as("s1"),
        sum((dec(x) * dec(x)).cast("decimal(38,0)")).as("s2"),
        sum((dec(x) * dec(x) * dec(x)).cast("decimal(38,0)")).as("s3"),
        sum((dec(x) * dec(x) * dec(x) * dec(x)).cast("decimal(38,0)"))
          .as("s4"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val mu = d("s1") / dn
    val m2 = d("s2") / dn - mu * mu
    val m3 = d("s3") / dn - lit(3.0) * mu * (d("s2") / dn) +
      lit(2.0) * mu * mu * mu
    val m4 = d("s4") / dn - lit(4.0) * mu * (d("s3") / dn) +
      lit(6.0) * mu * mu * (d("s2") / dn) -
      lit(3.0) * mu * mu * mu * mu
    val sd = sqrt(m2)
    m.select(col("g"), col("n"),
      round(mu / lit(100.0), 4).cast("float").as("mean"),
      round(when(m2 > 0.0, sd) / lit(100.0), 4).cast("float").as("sd"),
      round(when(m2 > 0.0, m3 / (sd * sd * sd)), 4)
        .cast("float").as("skewness"),
      round(when(m2 > 0.0, m4 / (m2 * m2) - lit(3.0)), 4)
        .cast("float").as("kurtosis_excess"))
  }

  /** Median absolute deviation — the ROBUST scale estimate the
    * z/stddev family falls back to when q317 says the tails are
    * heavy: med = exact order statistic, MAD = median of |x − med|,
    * both via per-value counts + the distributed scan (TWO scans, no
    * single-task sort anywhere); the consistency-scaled robust sigma
    * uses the 1.4826 literal. Everything before the edge is an exact
    * integer.
    *
    * @return one row (n, median, mad, robust_sd)
    */
  def medianAbsDeviation(df: DataFrame, valueCol: String): DataFrame = {
    val x = cents(col(valueCol))
    def medOf(vals: DataFrame): DataFrame = {
      // vals: (v) exact longs; median = smallest v with 2·cum ≥ n
      val counts = vals.groupBy(col("v")).agg(count(lit(1)).as("ct"))
        .transform(Checkpoints(_))
      val n = counts.agg(sum(col("ct")).as("n"))
      Scan.globalRunningSum(counts, Seq("v"), col("ct"), "rt")
        .crossJoin(broadcast(n))
        .agg(max(col("n")).as("n"),
          min(when(col("rt") * 2 >= col("n"), col("v"))).as("med"))
    }
    val base = df.where(col(valueCol).isNotNull).select(x.as("v"))
      .transform(Checkpoints(_)) // feeds both scans
    val m1 = medOf(base)
    val dev = base.crossJoin(broadcast(m1))
      .select(abs(col("v") - col("med")).as("v"),
        col("n").as("n0"), col("med").as("med0"))
    val m2 = medOf(dev.select(col("v")))
    m1.select(col("n"), col("med")).crossJoin(broadcast(
        m2.select(col("med").as("mad_c"))))
      .select(col("n"),
        round(col("med").cast("double") / lit(100.0), 2)
          .cast("float").as("median"),
        round(col("mad_c").cast("double") / lit(100.0), 2)
          .cast("float").as("mad"),
        round(col("mad_c").cast("double") * lit(1.4826) / lit(100.0), 4)
          .cast("float").as("robust_sd"))
  }

  /** Binary segmentation, one level (Scott & Knott 1974; the
    * standard multiple-changepoint recursion over [[cusumChangepoint]]):
    * find the global CUSUM argmax, split there, and re-run the CUSUM
    * INSIDE each half — three changepoints from ONE scan. The
    * segment-local statistic needs no rescan: with (run, rk) the
    * global prefix sums and (run₁, rk₁) the split row's, the left
    * half's n·S is rk₁·run − rk·run₁ and the right half's is
    * (n−rk₁)(run−run₁) − (rk−rk₁)(t−run₁) — exact DECIMAL algebra on
    * the same scanned frame, split row delivered by a broadcast
    * one-row crossJoin (never a driver-side collect).
    *
    * Determinism: the q205 contract throughout — exact integers into
    * struct argmins with total tie-breaks, one division at each edge.
    *
    * @return 3 rows (segment ∈ full/left/right, n_points, cp_key,
    *         s_at_cp, frac_through)
    */
  def binarySegmentation(series: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val x = cents(col(valueCol))
    val base = series.select(col(keyCol).as("k"), x.as("x"))
      .transform(Checkpoints(_))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("t"))
    val scanned = Scan.globalRunningSums(base, Seq("k"),
        Seq(col("x") -> "run", lit(1L) -> "rk"))
      .crossJoin(broadcast(tot))
      .transform(Checkpoints(_)) // feeds the split row AND both halves
    def dec(c: Column) = c.cast("decimal(38,0)")
    def argmaxOf(df: DataFrame, num: Column, nSeg: Column,
        rkSeg: Column, label: String): DataFrame =
      df.select(struct((-abs(num)).as("na"), col("k"), num.as("num"),
          rkSeg.as("rks"), nSeg.as("ns")).as("s"))
        .agg(min(col("s")).as("m"))
        .select(lit(label).as("segment"),
          col("m.ns").cast("long").as("n_points"),
          col("m.k").as("cp_key"),
          round(col("m.num").cast("double") /
            col("m.ns").cast("double") / 100.0, 4)
            .cast("float").as("s_at_cp"),
          round(col("m.rks").cast("double") /
            col("m.ns").cast("double"), 4).cast("float")
            .as("frac_through"))
    val numFull = dec(col("n")) * col("run") - dec(col("rk")) * col("t")
    val full = argmaxOf(scanned, numFull, col("n").cast("decimal(38,0)"),
      dec(col("rk")), "full")
    val cp1 = scanned
      .select(struct((-abs(numFull)).as("na"), col("k"),
        col("run").as("run1"), col("rk").as("rk1")).as("s"))
      .agg(min(col("s")).as("m"))
      .select(col("m.k").as("k1"), col("m.run1").as("run1"),
        col("m.rk1").as("rk1"))
    val j = scanned.crossJoin(broadcast(cp1))
    val left = argmaxOf(j.where(col("rk") <= col("rk1")),
      dec(col("rk1")) * col("run") - dec(col("rk")) * col("run1"),
      dec(col("rk1")), dec(col("rk")), "left")
    val right = argmaxOf(j.where(col("rk") > col("rk1")),
      dec(col("n") - col("rk1")) * (col("run") - col("run1")) -
        dec(col("rk") - col("rk1")) * (col("t") - col("run1")),
      dec(col("n") - col("rk1")), dec(col("rk") - col("rk1")), "right")
    full.unionByName(left).unionByName(right)
  }

  private def r6(c: Column): Column =
    (floor(c * 1e6 + 0.5) / 1e6).cast("float")

  /** Poisson(1) CDF thresholds on the 16-bit uniform scale —
    * `thresholds(k) = round(P(X ≤ k) · 2¹⁶)` for k = 0..7 (all
    * < 2¹⁶, so weight 8 stays reachable). Built once with libm exp
    * and INLINED into the DuckDB oracle as literals (the
    * [[graft.llm.Multimodal.dctCosX]] discipline), so the per-draw
    * weight is pure integer compares on both engines. 16 bits give
    * probability resolution 1.5·10⁻⁵ — immaterial for bootstrap
    * replication counts — and let ONE md5 serve EIGHT replicate
    * draws (4 nibbles each), an 8× cut in digest work.
    */
  val poissonCdf16: Array[Long] = {
    var fact = 1.0
    var cdf = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cdf += math.exp(-1.0) / fact
      math.round(cdf * 65536.0)
    }.toArray
  }

  /** Poisson-bootstrap confidence interval for the mean (Chamandy et
    * al. 2012, "Estimating Uncertainty for Massive Data Streams" —
    * the bootstrap that actually runs at scale): instead of resampling
    * n rows B times (impossible distributed), every row draws an
    * independent Poisson(1) replication WEIGHT per replicate — the
    * large-n limit of multinomial resampling — so all B replicates
    * ride ONE pass: explode ×B, weight via a seeded md5 48-bit
    * uniform cut against [[poissonCdf48]] (deterministic
    * common-random-number draws, the [[graft.quality.DataQuality]]
    * Laplace discipline), then a map-side-combined groupBy to B rows.
    *
    * The percentile CI is read off the sorted B replicate means at
    * ranks ⌊0.025·B⌋+1 and ⌈0.975·B⌉ — a B-element array on the
    * driver-side result row, metadata-sized. Replicate means are
    * IEEE ratios of a weighted double sum hedged by the shared floor
    * rounding; a replicate with all-zero weights (probability ≈ e⁻ⁿ)
    * is dropped and surfaces via n_boot.
    *
    * @return one row (n, n_boot, est, ci_lo, ci_hi)
    */
  def bootstrapMeanCI(df: DataFrame, valueCol: String, idCol: String,
      b: Int = 64, salt: String = "boot"): DataFrame = {
    require(b % 8 == 0, "replicate count must pack 8 draws per digest")
    val base = df.where(col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("id"),
        col(valueCol).cast("double").as("x"))
      .transform(Checkpoints(_)) // feeds the point estimate AND replicates
    val pt = broadcast(base.agg(count(lit(1)).as("n"),
      avg(col("x")).as("est")))
    val ex = base.select(col("x"),
        explode(sequence(lit(0), lit(b / 8 - 1))).as("blk"),
        col("id"))
      .withColumn("hh", md5(concat_ws(":", lit(salt), col("id"),
        col("blk"))))
      .select(col("x"), col("blk"),
        explode(sequence(lit(0), lit(7))).as("j"), col("hh"))
      .select(col("x"), (col("blk") * 8 + col("j")).as("r"),
        expr("cast(conv(substring(hh, 1 + 4 * j, 4), 16, 10) as long)")
          .as("h"))
    val h = col("h")
    val w = poissonCdf16.zipWithIndex.foldRight(lit(8L): Column) {
      case ((t, k), acc) => when(h < t, lit(k.toLong)).otherwise(acc)
    }
    val reps = ex.select(col("r"), w.as("w"), col("x"))
      .groupBy(col("r"))
      .agg(sum(col("w") * col("x")).as("sx"), sum(col("w")).as("sw"))
      .where(col("sw") > 0)
      .select((col("sx") / col("sw")).as("m"))
    val loRank = (0.025 * b).toInt + 1
    val hiRank = math.ceil(0.975 * b).toInt
    reps.agg(sort_array(collect_list(col("m"))).as("ms"),
        count(lit(1)).as("nb"))
      .crossJoin(pt)
      .select(col("n"), col("nb").cast("int").as("n_boot"),
        r6(col("est")).as("est"),
        r6(element_at(col("ms"), loRank)).as("ci_lo"),
        r6(element_at(col("ms"), hiRank)).as("ci_hi"))
  }

  /** Theil–Sen robust trend estimator (Theil 1950; Sen 1968): slope =
    * MEDIAN of all pairwise slopes (y_j−y_i)/(x_j−x_i), intercept =
    * median of (y_i − m·x_i) — the trend line one outlier day cannot
    * drag, beside [[olsFit]]'s least squares (breakdown point 29%
    * vs 0%).
    *
    * Operates on a BOUNDED pre-aggregated series (calendar-sized, the
    * [[acf]]/[[cusumChangepoint]] input shape), so the C(n,2) pair
    * frame is days² — bounded at any fact-table size. Determinism:
    * x/y exact integers (day ordinal, cents); every pairwise slope is
    * ONE IEEE division of exact longs — bit-identical cross-engine —
    * and both medians are exact ORDER STATISTICS at rank ⌈N/2⌉ read
    * off the DISTRIBUTED two-level scan over the (value, tiebreak)
    * order ([[graft.ops.Scan]] — never a single-task sort of the pair
    * frame); the unrounded median slope feeds the residuals, rounding
    * only at the edge.
    *
    * @return one row (n_points, n_pairs, slope_cents_per_x, intercept_cents)
    */
  def theilSen(series: DataFrame, xCol: String,
      valueCol: String): DataFrame = {
    val base = series
      .where(col(xCol).isNotNull && col(valueCol).isNotNull)
      .select(col(xCol).cast("long").as("x"), cents(col(valueCol)).as("y"))
      .transform(Checkpoints(_)) // feeds pairs, residuals AND the counts
    val pairs = base.as("a").join(base.as("b"),
        col("a.x") < col("b.x"))
      .select(((col("b.y") - col("a.y")).cast("double") /
        (col("b.x") - col("a.x")).cast("double")).as("m"),
        col("a.x").as("x1"), col("b.x").as("x2"))
    // counts come from the CHEAP side (guide §1.2): x values are
    // distinct (pre-aggregated series), so |pairs| = C(n,2) exactly —
    // no count pass (and no materialization) of the quadratic pair
    // frame, whose only consumer is now the median scan itself
    def medianOf(df: DataFrame, v: String, keys: Seq[String],
        out: String, nDf: DataFrame): DataFrame = {
      val scanned = Scan.globalRunningSum(df, keys, lit(1L), "rn")
      scanned.crossJoin(broadcast(nDf))
        .agg(max(col("n")).as("n"),
          min(when(col("rn") >= expr("(n + 1) div 2"), col(v))).as(out))
    }
    val nPoints = base.agg(count(lit(1)).as("n"))
    val nPairs = nPoints.select((col("n") * (col("n") - 1) / 2)
      .cast("long").as("n"))
    val slope = medianOf(pairs, "m", Seq("m", "x1", "x2"), "slope",
        nPairs)
      .select(col("n").as("n_pairs"), col("slope"))
    val resid = base.crossJoin(broadcast(slope))
      .select(col("n_pairs"), col("slope"),
        (col("y").cast("double") - col("slope") *
          col("x").cast("double")).as("b0"), col("x"))
    val icept = medianOf(resid, "b0", Seq("b0", "x"), "icept", nPoints)
    icept.crossJoin(broadcast(slope))
      .select(col("n").as("n_points"), col("n_pairs"),
        r6(col("slope")).as("slope_cents_per_x"),
        r6(col("icept")).as("intercept_cents"))
  }

  /** Mann–Kendall trend test (Mann 1945; Kendall 1975) on the same
    * bounded series: S = Σ_{i<j} sign(y_j − y_i) — the nonparametric
    * "is there a monotone trend?" companion to [[theilSen]]'s slope,
    * the standard pairing in environmental/ops monitoring.
    *
    * Exact arithmetic: S and the tie-corrected variance numerator
    * n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) are exact longs (ties from one
    * bounded per-value groupBy); z = (S ∓ 1)/√(Var) is one
    * correctly-rounded sqrt + division under the shared floor edge,
    * NULL when Var = 0 (constant series — never an ANSI fault).
    *
    * @return one row (n_points, s, var18_num, z)
    */
  def mannKendall(series: DataFrame, xCol: String,
      valueCol: String): DataFrame = {
    val base = series
      .where(col(xCol).isNotNull && col(valueCol).isNotNull)
      .select(col(xCol).cast("long").as("x"), cents(col(valueCol)).as("y"))
      .transform(Checkpoints(_)) // pairs + ties + n
    val s = base.as("a").join(base.as("b"), col("a.x") < col("b.x"))
      .agg(sum(signum((col("b.y") - col("a.y")).cast("double"))
        .cast("long")).as("s"))
    val ties = base.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("tt"))
    val n = base.agg(count(lit(1)).as("n"))
    s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .select(col("n").as("n_points"), col("s"),
        (col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
          coalesce(col("tt"), lit(0L))).as("var18_num"))
      .select(col("n_points"), col("s"), col("var18_num"),
        when(col("var18_num") > 0,
          r6((col("s").cast("double") -
            signum(col("s").cast("double"))) /
            sqrt(col("var18_num").cast("double") / 18.0)))
          .as("z"))
  }

  /** Split conformal prediction intervals (Papadopoulos et al. 2002;
    * the Lei et al. 2018 formulation) — distribution-free coverage:
    * fit a point predictor on the train fold (per-group mean), take
    * q̂ = the ⌈(n+1)(1−α)⌉-th smallest absolute calibration residual,
    * and the interval μ ± q̂ covers a fresh point with probability
    * ≥ 1−α, no matter the distribution. The uncertainty wrapper for
    * ANY predictor; evaluated here on a held-out test fold.
    *
    * Determinism: target rides as exact cents; μ = ⌊S/n⌋ exact (the
    * double division's error is ≪ 1/n, so the floor is the true
    * integer on both engines); residuals are exact longs; q̂ is an
    * exact ORDER STATISTIC — per-(group, residual) counts + a
    * group-keyed running-count window, min residual with run ≥ k
    * (the [[weightedQuantiles]] discipline — never a per-row sort);
    * k clamps to n_cal (the k > n guarantee is vacuous — documented).
    *
    * Scale shape: three passes over one checkpointed (g, yc, sp)
    * projection — two map-side-combined groupBys and one keyed
    * window over per-VALUE counts; parallelism = |groups|.
    *
    * @param alphaPct miscoverage α in percent (10 → 90% intervals)
    * @return (g, mu_cents, n_cal, k, qhat_cents, n_test, n_covered,
    *         coverage) one row per group
    */
  def conformalInterval(df: DataFrame, groupCol: String,
      targetCol: String, splitCol: String,
      alphaPct: Int = 10): DataFrame = {
    val rows = df.where(col(targetCol).isNotNull)
      .select(col(groupCol).as("g"), cents(col(targetCol)).as("yc"),
        col(splitCol).as("sp"))
      .transform(Checkpoints(_)) // feeds fit, calibration, and coverage
    val mu = rows.where(col("sp") === 0).groupBy(col("g"))
      .agg(count(lit(1)).as("n_tr"),
        sum(col("yc").cast("decimal(38,0)")).as("s_tr"))
      .select(col("g"),
        floor(col("s_tr").cast("double") / col("n_tr")).cast("long")
          .as("mu"))
    val cal = rows.where(col("sp") === 1).join(mu, "g")
      .select(col("g"), abs(col("yc") - col("mu")).as("r"))
    val perVal = cal.groupBy(col("g"), col("r"))
      .agg(count(lit(1)).as("c"))
    val nCal = cal.groupBy(col("g")).agg(count(lit(1)).as("n_cal"))
    val run = Window.partitionBy(col("g")).orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val scanned = perVal.withColumn("run", sum(col("c")).over(run))
      .join(nCal, "g")
      .withColumn("k",
        expr(s"((n_cal + 1) * ${100 - alphaPct} + 99) div 100"))
    val qhat = scanned
      .groupBy(col("g"), col("n_cal"), col("k"))
      .agg(min(when(col("run") >= least(col("k"), col("n_cal")),
        col("r"))).as("qhat"))
    rows.where(col("sp") === 2).join(mu, "g").join(qhat, "g")
      .groupBy(col("g"), col("mu"), col("n_cal"), col("k"),
        col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("yc") - col("mu")) <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(col("g"), col("mu").as("mu_cents"), col("n_cal"),
        col("k"), col("qhat").as("qhat_cents"), col("n_test"),
        col("n_covered"),
        r6(col("n_covered").cast("double") / col("n_test"))
          .as("coverage"))
  }

  /** K-fold leakage-safe target encoding (the mean-target categorical
    * encoder of Micci-Barreca 2001 — the CatBoost-style feature every
    * tabular pipeline ships): for category c and fold f, the encoding
    * is the smoothed target mean over c's rows in the OTHER folds —
    * (S_c − S_cf + m·μ) / (N_c − N_cf + m) with prior weight `m` —
    * so a row never sees its own target (the leakage q115/q126 audit
    * hunts, prevented by construction here).
    *
    * Determinism: the target rides as exact integer cents (2-decimal
    * source), all counts/sums are exact decimals off ONE map-side-
    * combined (cat, fold) groupBy; per-cat and global totals
    * re-aggregate that bounded frame; the encoding is one fixed IEEE
    * sequence under the shared floor rounding. A category confined to
    * one fold degrades to the prior mean (denominator ≥ m — never an
    * ANSI fault).
    *
    * @return (cat, fold, n_oof, enc) — |categories|·K rows; apply by
    *         broadcast-joining onto (cat, fold) at any fact size
    */
  def targetEncoding(df: DataFrame, catCol: String, targetCol: String,
      foldCol: String, m: Long = 10L): DataFrame = {
    val y = cents(col(targetCol))
    val perFold = df.where(col(targetCol).isNotNull)
      .groupBy(col(catCol).as("cat"), col(foldCol).as("fold"))
      .agg(count(lit(1)).as("nf"),
        sum(y.cast("decimal(38,0)")).as("sf"))
      .transform(Checkpoints(_)) // feeds per-cat AND global totals
    val perCat = perFold.groupBy(col("cat"))
      .agg(sum(col("nf")).as("nc"), sum(col("sf")).as("sc"))
    val glob = broadcast(perFold.agg(sum(col("nf")).as("ng"),
      sum(col("sf")).as("sg")))
    perFold.join(perCat, "cat").crossJoin(glob)
      .select(col("cat"), col("fold"),
        (col("nc") - col("nf")).cast("long").as("n_oof"),
        r6(((col("sc") - col("sf")).cast("double") / 100.0 +
            lit(m.toDouble) * (col("sg").cast("double") / 100.0 /
              col("ng"))) /
          ((col("nc") - col("nf")).cast("double") + lit(m.toDouble)))
          .as("enc"))
  }

  /** Reliability diagram + Expected Calibration Error (Guo et al.
    * 2017) of a [0, 1] score against a boolean label — the
    * calibration side of classifier evaluation next to [[auc]]'s
    * discrimination: per equal-width bin, mean predicted confidence
    * vs realized accuracy, and ECE = Σ n_b/N · |acc_b − conf_b|.
    *
    * Determinism: bin assignment is a per-row IEEE floor (identical
    * input → identical bin cross-engine); n/n_pos are exact longs;
    * conf/acc/gap/ECE are fixed IEEE sequences over one double sum
    * each, under the shared floor rounding at the edge.
    *
    * Scale shape: ONE map-side-combined groupBy to `bins` rows; the
    * ECE scalar re-aggregates the bin frame and broadcasts back —
    * no second pass over the data.
    *
    * @return one row per non-empty bin: (bin, n, n_pos, confidence,
    *         accuracy, gap, ece) — ece repeated as the report scalar
    */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    val s = col(scoreCol)
    val rows = df.where(s.isNotNull && col(labelCol).isNotNull)
      .select(least(lit(bins - 1), floor(s * bins)).cast("int").as("bin"),
        s.as("sc"), when(col(labelCol), 1L).otherwise(0L).as("y"))
    val per = rows.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("sc")).as("ss"))
      .transform(Checkpoints(_)) // feeds the report AND the ECE scalar
    val conf = col("ss") / col("n")
    val acc = col("n_pos").cast("double") / col("n")
    val gap = abs(acc - conf)
    val ece = per.agg((sum(gap * col("n")) / sum(col("n"))).as("e"))
    per.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_pos"),
        r6(conf).as("confidence"), r6(acc).as("accuracy"),
        r6(gap).as("gap"), r6(col("e")).as("ece"))
  }

  /** Murphy decomposition of the Brier score (Murphy 1973):
    * BS = reliability − resolution + uncertainty — the forecast-
    * verification companion of [[calibration]]'s ECE readout:
    * reliability penalizes miscalibrated bins (like ECE but squared),
    * resolution REWARDS forecasts that separate outcomes, and
    * uncertainty ȳ(1−ȳ) is the task's irreducible floor. A model can
    * have perfect calibration and zero skill — the decomposition is
    * what tells those apart.
    *
    * Determinism (tighter than [[calibration]]'s raw-double score
    * sums): scores are FLOOR-QUANTIZED to micro-units per row first
    * (s6 = ⌊s·10⁶ + 0.5⌋), so the raw Brier sum Σ(s6 − 10⁶·y)² is an
    * EXACT integer, bins derive from s6 by integer div, per-bin
    * conf/acc are single divisions of exact integers, and the
    * cross-bin reliability/resolution sums ride micro-scaled longs
    * (the CMH discipline). The metric is defined ON the quantized
    * scores — documented, and identical in both engines.
    *
    * Scale shape: one map-side-combined groupBy to ≤ bins rows + one
    * exact global aggregate; everything after is metadata-sized.
    *
    * @return one row (n, base_rate, brier, reliability, resolution,
    *         uncertainty)
    */
  def brierDecomposition(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    val s6 = floor(col(scoreCol) * 1e6 + 0.5).cast("long")
    val rows = df.where(col(scoreCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(s6.as("s6"), when(col(labelCol), 1L).otherwise(0L).as("y"))
      .select(least(lit(bins - 1), expr(s"(s6 * $bins) div 1000000"))
        .as("bin"), col("s6"), col("y"))
    val per = rows.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("s6").cast("decimal(38,0)")).as("ss6"),
        sum(((col("s6") - col("y") * 1000000L).cast("decimal(19,0)") *
          (col("s6") - col("y") * 1000000L).cast("decimal(19,0)"))
          .cast("decimal(38,0)")).as("sq"))
      .transform(Checkpoints(_)) // feeds totals AND the bin terms
    val tot = per.agg(sum(col("n")).as("nn"),
      sum(col("n_pos")).as("pp"), sum(col("sq")).as("qq"))
    def d(c: String) = col(c).cast("double")
    val conf = d("ss6") / col("n") / 1e6
    val acc = d("n_pos") / col("n")
    val yBar = d("pp") / col("nn")
    val relT = floor(col("n") * (conf - acc) * (conf - acc)
      * 1e6 + 0.5).cast("long")
    val resT = floor(col("n") * (acc - yBar) * (acc - yBar)
      * 1e6 + 0.5).cast("long")
    val terms = per.crossJoin(broadcast(tot))
      .agg(sum(relT.cast("decimal(38,0)")).as("rel6"),
        sum(resT.cast("decimal(38,0)")).as("res6"))
    tot.crossJoin(broadcast(terms))
      .select(col("nn").as("n"), r6(yBar).as("base_rate"),
        r6(d("qq") / col("nn") / 1e12).as("brier"),
        r6(d("rel6") / col("nn") / 1e6).as("reliability"),
        r6(d("res6") / col("nn") / 1e6).as("resolution"),
        r6(yBar * (lit(1.0) - yBar)).as("uncertainty"))
  }

  /** Wilson score interval per segment (Wilson 1927) — the
    * proportion-CI every dashboard should use instead of the Wald
    * ±z√(p(1−p)/n) (which collapses at p near 0/1 and small n):
    * {{{
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    * }}}
    * z = 1.959964 inlined as the same literal in both engines (the
    * [[powerMde]] quantile discipline). Counts are exact longs off
    * one map-side-combined groupBy; the interval is one fixed IEEE
    * sequence per segment row; n = 0 rows cannot exist (a group
    * exists only with rows).
    *
    * @return one row per segment: (segment, n, n_pos, p_hat, lo, hi)
    */
  def wilsonInterval(df: DataFrame, segCol: String,
      posCol: String): DataFrame = {
    val z = 1.959964
    val z2 = z * z
    val per = df.where(col(segCol).isNotNull && col(posCol).isNotNull)
      .groupBy(col(segCol).as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(posCol), 1L).otherwise(0L)).as("n_pos"))
    def d(c: String) = col(c).cast("double")
    val p = d("n_pos") / col("n")
    val denom = lit(1.0) + lit(z2) / col("n")
    val center = p + lit(z2) / (lit(2.0) * col("n"))
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / col("n") +
      lit(z2) / (lit(4.0) * col("n") * col("n")))
    per.select(col("segment"), col("n"), col("n_pos"),
      r6(p).as("p_hat"),
      r6((center - half) / denom).as("lo"),
      r6((center + half) / denom).as("hi"))
  }

  /** CUPED variance reduction (Deng et al. 2013 — "Improving the
    * Sensitivity of Online Controlled Experiments") — the A/B-testing
    * workhorse: adjust each unit's metric by its PRE-period covariate,
    * ŷ = y − θ(x − x̄) with θ = cov(x, y)/var(x), shrinking metric
    * variance by exactly corr²(x, y) and with it the experiment's
    * required sample size.
    *
    * Determinism: inputs are exact integer units (the caller scales
    * its metric); all six moments ride ONE map-side-combined
    * aggregate in DECIMAL(38,0); θ, the variances, and the reduction
    * are one fixed IEEE sequence over exact moments ([[olsFit]]'s
    * discipline), zero-variance guarded (constant covariate → NULL θ,
    * unadjusted variance reported, 0 reduction — never an ANSI
    * fault), shared floor rounding at the edge.
    *
    * @param units one row per experiment unit: exact-integer pre
    *              covariate `xCol` and metric `yCol`
    * @param unit  integer units per NATURAL unit (e.g. 1e4 for
    *              1e-4-scaled metrics): variances report divided by
    *              unit² so the ×1e6 rounding floor cannot overflow
    *              its long on large squared-unit magnitudes
    * @return one row (n_units, theta, var_y, var_adj, reduction_pct)
    *         — variances in natural squared units
    */
  def cuped(units: DataFrame, xCol: String, yCol: String,
      unit: Double = 1.0): DataFrame = {
    def dec19(c: Column) = c.cast("decimal(19,0)")
    val m = units
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col(xCol).cast("decimal(38,0)")).as("sx"),
        sum(col(yCol).cast("decimal(38,0)")).as("sy"),
        sum((dec19(col(xCol)) * dec19(col(xCol))).cast("decimal(38,0)"))
          .as("sxx"),
        sum((dec19(col(xCol)) * dec19(col(yCol))).cast("decimal(38,0)"))
          .as("sxy"),
        sum((dec19(col(yCol)) * dec19(col(yCol))).cast("decimal(38,0)"))
          .as("syy"))
    def d(c: String) = col(c).cast("double")
    val n = col("n")
    val vx = d("sxx") / n - (d("sx") / n) * (d("sx") / n)
    val vy = d("syy") / n - (d("sy") / n) * (d("sy") / n)
    val cxy = d("sxy") / n - (d("sx") / n) * (d("sy") / n)
    val u2 = lit(unit * unit)
    m.select(col("n").as("n_units"),
      when(vx > 0, r6(cxy / vx)).as("theta"),
      r6(vy / u2).as("var_y"),
      when(vx > 0, r6((vy - cxy * cxy / vx) / u2))
        .otherwise(r6(vy / u2)).as("var_adj"),
      when(vx > 0 && vy > 0, r6(cxy * cxy / (vx * vy) * 100.0))
        .otherwise(lit(0f)).as("reduction_pct"))
  }

  /** mSPRT always-valid sequential test (Johari, Koomen, Pekelis &
    * Walsh 2017) — the peeking-safe member of the experimentation
    * family beside [[cuped]] and the SRM guardrail: a normal-mixture
    * sequential probability ratio over the DAILY-bucketed two-arm
    * metric stream, whose always-valid p-value may be inspected after
    * every day without inflating false positives (the property
    * fixed-horizon t/χ² tests lose under continuous monitoring).
    *
    * Per day d (cumulative through d, exact integer sums in —
    * [[cuped]]'s decimal discipline):
    * {{{
    *   Y   = mean₁ − mean₀                (natural units)
    *   V   = σ̂²_pooled · (1/n₀ + 1/n₁)
    *   lnΛ = ½·ln(V/(V+τ²)) + τ²·Y² / (2·V·(V+τ²))
    *   p_d = min_{d' ≤ d} min(1, e^{−lnΛ_{d'}})   (monotone ↓)
    * }}}
    * Reject when p ≤ α — at any peek, with the α guarantee holding
    * over the whole stream. The IEEE sequence is fixed (one ln, one
    * exp, explicit multiply order), so outputs are cross-engine
    * reproducible under the shared floor rounding.
    *
    * Scale shape: one map-side-combined groupBy to ≤ |days| rows;
    * the cumulative and running-min windows run on that
    * metadata-sized frame (single ordered task by design — days,
    * not facts). Days where either arm is empty or the pooled
    * variance is 0 carry NULL lnΛ; the running min skips them.
    *
    * @param obs    one row per observation: `dayCol` (integer day),
    *               `armCol` (0/1), `v4Col` (unit-scaled exact
    *               integer metric)
    * @param unit   integer units per natural unit (1e4 for
    *               1e-4-scaled metrics)
    * @return (day, n0, n1, diff, log_lr, p_av, reject) — cumulative
    *         counts, rounded diff/lnΛ/p, reject on the unrounded p
    */
  def msprt(obs: DataFrame, dayCol: String, armCol: String,
      v4Col: String, unit: Double = 1.0, tau2: Double = 1.0,
      alpha: Double = 0.05): DataFrame = {
    def dec19(c: Column) = c.cast("decimal(19,0)")
    val arm = col(armCol)
    val v = col(v4Col)
    def armSum(a: Int, e: Column) =
      sum(when(arm === a, e.cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
    val daily = obs.groupBy(col(dayCol).as("day"))
      .agg(
        sum(when(arm === 0, 1L).otherwise(0L)).as("dn0"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("dn1"),
        armSum(0, v).as("ds0"), armSum(1, v).as("ds1"),
        armSum(0, dec19(v) * dec19(v)).as("dq0"),
        armSum(1, dec19(v) * dec19(v)).as("dq1"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("day"),
      sum(col("dn0")).over(w).as("n0"),
      sum(col("dn1")).over(w).as("n1"),
      sum(col("ds0")).over(w).as("s0"),
      sum(col("ds1")).over(w).as("s1"),
      sum(col("dq0")).over(w).as("q0"),
      sum(col("dq1")).over(w).as("q1"))
    def d(c: String) = col(c).cast("double")
    val u2 = lit(unit * unit)
    val bothArms = col("n0") > 0 && col("n1") > 0
    val diff = when(bothArms,
      (d("s1") / col("n1") - d("s0") / col("n0")) / lit(unit))
    val vp = ((d("q0") - d("s0") * d("s0") / col("n0")) +
      (d("q1") - d("s1") * d("s1") / col("n1"))) /
      (col("n0") + col("n1")) / u2
    val vn = vp * (d("n0") + d("n1")) / (d("n0") * d("n1"))
    val llr = when(bothArms && vp > 0,
      lit(0.5) * log(vn / (vn + lit(tau2))) +
        (lit(tau2) * diff * diff) /
          (lit(2.0) * vn * (vn + lit(tau2))))
    cum.withColumn("llr", llr)
      .withColumn("p_raw",
        min(when(col("llr").isNotNull,
          least(lit(1.0), exp(-col("llr"))))).over(w))
      .select(col("day"), col("n0"), col("n1"),
        r6(diff).as("diff"), r6(col("llr")).as("log_lr"),
        r6(col("p_raw")).as("p_av"),
        when(col("p_raw").isNotNull, col("p_raw") <= lit(alpha))
          .as("reject"))
  }

  /** Published O'Brien–Fleming critical constants C_B(K) for two-sided
    * α = 0.05 equally-spaced group-sequential designs (Jennison &
    * Turnbull 2000, "Group Sequential Methods", Table 2.3); the look-k
    * boundary is u_k = C_B·√(K/k). Computed at PLAN TIME and inlined
    * as the same literals in both engines — the z-quantile discipline
    * ([[powerMde]]): no quantile function ever runs in a query path. */
  def obfBounds(looks: Int): Seq[Double] = {
    val cb = Map(1 -> 1.960, 2 -> 1.977, 3 -> 2.004, 4 -> 2.024,
      5 -> 2.040)(looks)
    (1 to looks).map(k => cb * math.sqrt(looks.toDouble / k))
  }

  /** O'Brien–Fleming group-sequential test (O'Brien & Fleming 1979) —
    * the SCHEDULED-interim half of sequential practice beside
    * [[msprt]]'s continuous-peeking half: K equally-spaced looks over
    * the experiment's day span, a cumulative two-arm z at each look,
    * and the conservative-early OBF boundary u_k = C_B·√(K/k) (nearly
    * unspendable at look 1 — 4.56σ for K = 5 — relaxing to ≈ z_{α/2}
    * at the final look, so the fixed-horizon test is almost
    * undiluted).
    *
    * Determinism: daily cumulative moments are [[msprt]]'s exact
    * integers; look cutoff days are pure integer arithmetic on
    * (min, max) day; each look reads the LAST cumulative row ≤ its
    * cutoff via an exact struct-argmax; z is one fixed IEEE sequence;
    * boundaries are plan-time literals ([[obfBounds]]); the crossing
    * verdict compares the UNROUNDED z.
    *
    * Scale shape: one map-side-combined groupBy to ≤ |days| rows;
    * the cumulative window and the K-row look join run on that
    * metadata-sized frame (the [[msprt]] exception).
    *
    * @return one row per look: (look, cut_day, day, n0, n1, diff, z,
    *         bound, crossed, first_cross_look) — first_cross_look
    *         repeated (NULL when no look crosses)
    */
  def obrienFleming(obs: DataFrame, dayCol: String, armCol: String,
      v4Col: String, unit: Double = 1.0, looks: Int = 5): DataFrame = {
    def dec19(c: Column) = c.cast("decimal(19,0)")
    val arm = col(armCol)
    val v = col(v4Col)
    def armSum(a: Int, e: Column) =
      sum(when(arm === a, e.cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
    val daily = obs.groupBy(col(dayCol).as("day"))
      .agg(
        sum(when(arm === 0, 1L).otherwise(0L)).as("dn0"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("dn1"),
        armSum(0, v).as("ds0"), armSum(1, v).as("ds1"),
        armSum(0, dec19(v) * dec19(v)).as("dq0"),
        armSum(1, dec19(v) * dec19(v)).as("dq1"))
      .transform(Checkpoints(_)) // feeds the span row AND the cum window
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("day"),
      sum(col("dn0")).over(w).as("n0"),
      sum(col("dn1")).over(w).as("n1"),
      sum(col("ds0")).over(w).as("s0"),
      sum(col("ds1")).over(w).as("s1"),
      sum(col("dq0")).over(w).as("q0"),
      sum(col("dq1")).over(w).as("q1"))
    val span = daily.agg(min(col("day")).as("d0"),
      max(col("day")).as("d1"))
    val cuts = span
      .select(explode(array((1 to looks).map(lit): _*)).as("look"),
        col("d0"), col("d1"))
      .select(col("look"),
        expr(s"d0 + ((d1 - d0 + 1) * look) div $looks - 1")
          .as("cut_day"))
    val atLook = cum.join(broadcast(cuts), col("day") <= col("cut_day"))
      .groupBy(col("look"), col("cut_day"))
      .agg(max(struct(col("day"), col("n0"), col("n1"), col("s0"),
        col("s1"), col("q0"), col("q1"))).as("st"))
      .select(col("look"), col("cut_day"), col("st.day").as("day"),
        col("st.n0").as("n0"), col("st.n1").as("n1"),
        col("st.s0").as("s0"), col("st.s1").as("s1"),
        col("st.q0").as("q0"), col("st.q1").as("q1"))
    def d(c: String) = col(c).cast("double")
    val u2 = lit(unit * unit)
    val bothArms = col("n0") > 0 && col("n1") > 0
    val diff = when(bothArms,
      (d("s1") / col("n1") - d("s0") / col("n0")) / lit(unit))
    val vp = ((d("q0") - d("s0") * d("s0") / col("n0")) +
      (d("q1") - d("s1") * d("s1") / col("n1"))) /
      (col("n0") + col("n1")) / u2
    val vn = vp * (d("n0") + d("n1")) / (d("n0") * d("n1"))
    val z = when(bothArms && vp > 0, diff / sqrt(vn))
    val bound = obfBounds(looks).zipWithIndex.foldLeft(
      lit(Double.NaN)) { case (acc, (u, i)) =>
        when(col("look") === (i + 1), lit(u)).otherwise(acc) }
    val looked = atLook
      .withColumn("z_raw", z)
      .withColumn("bound_raw", bound)
      .withColumn("crossed",
        when(col("z_raw").isNotNull, abs(col("z_raw")) >= col("bound_raw")))
      .transform(Checkpoints(_)) // feeds the first-cross row AND the output
    val fc = broadcast(looked
      .agg(min(when(col("crossed"), col("look"))).as("first_cross_look")))
    looked.crossJoin(fc)
      .select(col("look"), col("cut_day"), col("day"), col("n0"),
        col("n1"), r6(diff).as("diff"), r6(col("z_raw")).as("z"),
        r6(col("bound_raw")).as("bound"), col("crossed"),
        col("first_cross_look"))
  }

  /** Isotonic calibration by pool-adjacent-violators (Ayer et al.
    * 1955; as a probability calibrator Zadrozny & Elkan 2002) — the
    * nonparametric upgrade of [[calibration]]'s raw reliability
    * diagram: pool adjacent score bins until empirical accuracy is
    * non-decreasing in score; the pooled rates are the UNIQUE
    * isotonic regression (independent of merge order), the mapping
    * real platforms apply to classifier outputs.
    *
    * Determinism: bins and counts are exact ([[calibration]]'s
    * contract); violation tests are exact integer CROSS-MULTIPLES
    * (pos_l·n_r > pos_r·n_l — no rate division until the edge); the
    * engine merges the LEFTMOST violator per round for bins−1 fixed
    * rounds (enough to reach the unique fixed point from ≤ bins
    * blocks), and the oracle unrolls the same rule, so every
    * intermediate state — not just the unique answer — matches.
    *
    * Scale shape: one map-side-combined groupBy to ≤ bins rows;
    * every PAV round is a self-join + 1-row broadcast + regroup on
    * the ≤ bins-row block frame — metadata-sized at any input.
    *
    * @return (bin, n, n_pos, iso_p) — iso_p non-decreasing in bin
    */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    val s = col(scoreCol)
    val per = df.where(s.isNotNull && col(labelCol).isNotNull)
      .select(least(lit(bins - 1), floor(s * bins)).cast("long")
        .as("bin"), when(col(labelCol), 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      // blocks must chain on the RANK of PRESENT bins — an empty bin
      // would otherwise break l.hi + 1 = r.lo adjacency and leave a
      // violation unpooled across the gap; ≤ bins rows, the
      // documented metadata-sized window exception
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("bin"))).cast("long"))
      .transform(Checkpoints(_)) // feeds the rounds AND the final join
    var st = per.select(col("rk").as("lo"), col("rk").as("hi"),
      col("n_pos").as("pos"), col("n").as("bn"))
    for (_ <- 1 until bins) {
      val vp = broadcast(st.as("l")
        .join(st.as("r"), col("l.hi") + 1 === col("r.lo"))
        .where(col("l.pos") * col("r.bn") > col("r.pos") * col("l.bn"))
        .agg(min(struct(col("l.lo").as("vlo"), col("r.lo").as("rlo")))
          .as("v")))
      st = st.crossJoin(vp)
        .select(when(col("lo") === col("v.vlo") ||
            col("lo") === col("v.rlo"), col("v.vlo"))
          .otherwise(col("lo")).as("g"),
          col("lo"), col("hi"), col("pos"), col("bn"))
        .groupBy(col("g"))
        .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(col("pos")).as("pos"), sum(col("bn")).as("bn"))
        .transform(Checkpoints(_))
    }
    per.join(st, col("rk") >= col("lo") && col("rk") <= col("hi"))
      .select(col("bin").cast("int").as("bin"), col("n"), col("n_pos"),
        r6(col("pos").cast("double") / col("bn")).as("iso_p"))
  }

  /** Kaplan–Meier product-limit survival estimator (Kaplan & Meier
    * 1958) over right-censored durations — the churn/retention curve
    * done properly: censored subjects leave the risk set without
    * counting as events.
    *
    * Input is one row per subject: an integral duration and a 0/1
    * event indicator (1 = event observed, 0 = censored at that
    * duration). Per distinct duration t: d = events, c = censored,
    * n_risk = subjects with duration ≥ t; S(t) = Π_{t'≤t}
    * (1 − d/n). The product is carried as exp(Σ ln((n−d)/n)) over the
    * duration-ordered prefix — a fixed IEEE sequence (the duration
    * table is value-ordered on both engines), with (n−d)/n exact
    * integer ratios and the shared floor rounding at the edge; a
    * prefix factor of exactly zero (d = n) is tracked by an integer
    * flag scan so S collapses to 0.0 exactly, never through ln(0).
    *
    * Scale shape: the heavy reduction is the per-duration groupBy
    * (map-side combined); n_risk and both prefix scans ride the
    * |distinct durations|-sized table — metadata-sized (bounded by
    * the observation span in days), the documented single-partition
    * window exception.
    *
    * @return (t, n_risk, d, c, survival) one row per distinct duration
    */
  def kaplanMeier(df: DataFrame, durCol: String,
      eventCol: String): DataFrame = {
    val per = df.where(col(durCol).isNotNull)
      .groupBy(col(durCol).as("t"))
      .agg(sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("d"),
        sum(when(col(eventCol) === 1, 0L).otherwise(1L)).as("c"))
      .transform(Checkpoints(_)) // feeds the total AND the scans
    val tot = broadcast(per.agg(sum(col("d") + col("c")).as("nt")))
    val scanned = Scan.globalRunningSum(per, Seq("t"),
      col("d") + col("c"), "cum")
    val withRisk = scanned.crossJoin(tot)
      .select(col("t"), col("d"), col("c"),
        (col("nt") - col("cum") + col("d") + col("c")).as("n_risk"))
    // |distinct durations| rows — metadata-sized window is correct
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val term = when(col("d") < col("n_risk"),
      log((col("n_risk") - col("d")).cast("double") /
        col("n_risk").cast("double"))).otherwise(lit(0d))
    val zero = when(col("d") === col("n_risk"), 1L).otherwise(0L)
    withRisk
      .withColumn("lnS", sum(term).over(w))
      .withColumn("nz", sum(zero).over(w))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        when(col("nz") > 0, lit(0f))
          .otherwise(r6(exp(col("lnS")))).as("survival"))
  }

  /** Delta-method variance for a RATIO metric (Deng, Knoblich & Lu
    * 2018, "Applying the Delta Method in Metric Analytics") — the
    * readout every experimentation platform needs when the metric is
    * a ratio of sums across randomization units (revenue-per-event,
    * clicks-per-view): the naive per-row variance is WRONG because
    * rows within a user are correlated; the correct variance comes
    * from the user-level joint moments of (Y_u, N_u):
    * {{{
    *   R        = ΣY_u / ΣN_u            (per arm)
    *   Var(R)   ≈ (σ²_Y − 2R·σ_YN + R²·σ²_N) / (n·μ_N²)
    *   z        = (R₁ − R₀) / √(Var₀ + Var₁)
    * }}}
    *
    * Determinism: per-user sums are exact integers; the six per-arm
    * moments ride DECIMAL(38,0) off ONE map-side-combined aggregate
    * ([[cuped]]'s discipline); the delta formula is one fixed IEEE
    * sequence per arm with population (÷n) variances; round-to-6 +
    * REAL at the edge, z guarded on se > 0.
    *
    * Scale shape: one per-user groupBy (map-side combined), one
    * 12-sum single-row aggregate — no window, no second scan.
    *
    * @param obs  one row per observation: `idCol` (unit), `armCol`
    *             (0/1), `v4Col` (unit-scaled exact integer metric)
    * @param unit integer units per natural unit (1e4 for 1e-4 scale)
    * @return one row (n0, n1, r0, r1, diff, se, z)
    */
  def deltaRatio(obs: DataFrame, idCol: String, armCol: String,
      v4Col: String, unit: Double = 1.0): DataFrame = {
    def dec19(c: Column) = c.cast("decimal(19,0)")
    val per = obs.groupBy(col(idCol).as("uid"), col(armCol).as("arm"))
      .agg(sum(col(v4Col).cast("decimal(38,0)")).as("yu"),
        count(lit(1)).as("nu"))
    def armSum(a: Int, e: Column) =
      sum(when(col("arm") === a, e.cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
    val moments = Seq(0, 1).flatMap { a =>
      Seq(
        sum(when(col("arm") === a, 1L).otherwise(0L)).as(s"n$a"),
        armSum(a, col("yu")).as(s"sy$a"),
        armSum(a, col("nu")).as(s"sn$a"),
        armSum(a, (dec19(col("yu")) * dec19(col("yu")))
          .cast("decimal(38,0)")).as(s"syy$a"),
        armSum(a, (dec19(col("yu")) * dec19(col("nu")))
          .cast("decimal(38,0)")).as(s"syn$a"),
        armSum(a, (dec19(col("nu")) * dec19(col("nu")))
          .cast("decimal(38,0)")).as(s"snn$a"))
    }
    val m = per.agg(moments.head, moments.tail: _*)
    def d(c: String) = col(c).cast("double")
    val u1 = lit(unit)
    val u2 = lit(unit * unit)
    def arm(a: Int) = {
      val n = col(s"n$a")
      val ok = n > 0 && col(s"sn$a") > 0
      val r = when(ok, d(s"sy$a") / d(s"sn$a") / u1)
      val mun = when(ok, d(s"sn$a") / n)
      val vy = (d(s"syy$a") / n - (d(s"sy$a") / n) * (d(s"sy$a") / n)) / u2
      val cyn = (d(s"syn$a") / n - (d(s"sy$a") / n) * (d(s"sn$a") / n)) / u1
      val vnn = d(s"snn$a") / n - (d(s"sn$a") / n) * (d(s"sn$a") / n)
      val vr = when(ok && mun > 0,
        (vy - lit(2.0) * r * cyn + r * r * vnn) / (n * mun * mun))
      (r, vr)
    }
    val (r0, v0) = arm(0)
    val (r1, v1) = arm(1)
    val se = when(v0.isNotNull && v1.isNotNull, sqrt(v0 + v1))
    m.select(col("n0"), col("n1"),
      r6(r0).as("r0"), r6(r1).as("r1"),
      r6(r1 - r0).as("diff"), r6(se).as("se"),
      when(se > 0, r6((r1 - r0) / se)).as("z"))
  }

  /** Two-sided normal p-value from a z column via the Abramowitz &
    * Stegun 26.2.17 polynomial (|error| < 7.5·10⁻⁸) — the standard
    * CDF approximation that needs only `exp` + a fixed Horner
    * polynomial, so BOTH engines evaluate the identical IEEE
    * sequence (no libm `erf` in either query path, the
    * [[graft.llm.Multimodal.dctCosX]] inline-constants discipline).
    * NULL z → NULL p.
    */
  def normTwoSidedP(z: Column): Column = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * t + lit(-1.821255978)) * t +
      lit(1.781477937)) * t + lit(-0.356563782)) * t +
      lit(0.319381530)) * t
    val phi = exp(az * az * lit(-0.5)) * lit(0.3989422804014327)
    lit(2.0) * phi * poly
  }

  /** Benjamini–Hochberg step-up FDR correction (Benjamini &
    * Hochberg 1995) over a FAMILY of test p-values — the multiple-
    * testing member of the experimentation family: testing m
    * segments at per-test α inflates the family false-positive rate
    * toward m·α; BH caps the expected FALSE-DISCOVERY proportion at
    * α instead, the standard correction for per-segment metric
    * scans.
    * {{{
    *   rank p ascending (ties by key);  raw_i = p_i · m / i
    *   p_adj_i = min(1, min_{j ≥ i} raw_j)      (step-up monotone)
    * }}}
    *
    * Operates on a BOUNDED family frame (one row per segment —
    * metadata-sized at any fact volume, the documented single-task
    * window exception); rows with NULL p are passed through
    * unadjusted and excluded from m. The adjusted value is exact
    * given the p's: one multiply + divide per row, a running min,
    * round-to-6 at the edge; the flag compares the UNROUNDED value.
    *
    * @return input columns + (m_tests, rank, p_adj, signif)
    */
  def bhFdr(family: DataFrame, keyCol: String, pCol: String,
      alpha: Double = 0.1): DataFrame = {
    val p = col(pCol)
    val valid = family.where(p.isNotNull)
    val mT = broadcast(valid.agg(count(lit(1)).as("m_tests")))
    val wr = Window.orderBy(p.asc, col(keyCol).asc)
    val ranked = valid.crossJoin(mT)
      .withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("p_raw_adj",
        p * col("m_tests").cast("double") / col("rank"))
    val wm = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val adj = least(lit(1.0), min(col("p_raw_adj")).over(wm))
    val adjusted = ranked
      .withColumn("p_adj_u", adj)
      .withColumn("signif", col("p_adj_u") <= lit(alpha))
      .withColumn("p_adj", r6(col("p_adj_u"))).drop("p_raw_adj", "p_adj_u")
    val nulls = family.where(p.isNull).crossJoin(mT)
      .withColumn("rank", lit(null).cast("long"))
      .withColumn("signif", lit(null).cast("boolean"))
      .withColumn("p_adj", lit(null).cast("float"))
    adjusted.unionByName(nulls)
  }

  /** EWMA control chart (Roberts 1959; Lucas & Saccucci 1990) over a
    * keyed bounded series — the process-monitoring member beside
    * [[cusumChangepoint]]'s retrospective locator: z_t = λ·x_t +
    * (1−λ)·z_{t−1} seeded at the process mean, flagged against the
    * EXACT time-varying limits μ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t})) —
    * small persistent mean shifts surface long before a Shewhart
    * chart sees them.
    *
    * The recursion runs through the NATIVE [[graft.functions
    * .TaAggregates.Ema]] window aggregate (α = 0.2 via n = 9),
    * seed-resumed at (count = n, acc = μ̂) so every row takes the
    * 0.2·x + 0.8·z branch — the same fixed IEEE sequence the oracle's
    * recursive CTE unrolls. μ̂/σ̂ come from exact DECIMAL cent
    * moments; the limit factor uses exp/ln (the [[msprt]]
    * precedent), and the out-of-control flag compares UNROUNDED
    * values.
    *
    * Scale shape: one map-side-combined daily groupBy; the
    * recursion and limits run on the ≤ |keys|-row series frame (the
    * documented metadata-sized window exception).
    *
    * @return (k, x, ewma, center, ucl, lcl, ooc) — one row per key
    */
  def ewmaChart(series: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val base = series
      .select(col(keyCol).as("k"), cents(col(valueCol)).as("xc"))
      .transform(Checkpoints(_)) // feeds the moments row AND the chart
    val m = broadcast(base.agg(count(lit(1)).as("n"),
      sum(col("xc").cast("decimal(38,0)")).as("s"),
      sum((col("xc").cast("decimal(19,0)") *
        col("xc").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .as("q")))
    val mu = col("s").cast("double") / col("n") / 100.0
    val sig = sqrt(col("q").cast("double") / col("n") / 10000.0 -
      mu * mu)
    val wOrd = Window.orderBy(col("k"))
    val w = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val fac = sqrt((lit(0.2) / lit(1.8)) *
      (lit(1.0) - exp(col("rkd") * log(lit(0.64)))))
    val ucl = mu + lit(3.0) * sig * fac
    val lcl = mu - lit(3.0) * sig * fac
    base.crossJoin(m)
      .withColumn("xd", col("xc").cast("double") / 100.0)
      .withColumn("z", graft.functions.TaFunctions
        .ema(col("xd"), 9, struct(lit(9L), mu)).over(w))
      .withColumn("rkd", row_number().over(wOrd).cast("double"))
      .select(col("k"), r6(col("xd")).as("x"), r6(col("z")).as("ewma"),
        r6(mu).as("center"), r6(ucl).as("ucl"), r6(lcl).as("lcl"),
        (col("z") > ucl || col("z") < lcl).as("ooc"))
  }

  /** Delete-one-BUCKET jackknife for the two-arm mean difference
    * (Quenouille 1956; Tukey 1958; the bucketed form is the
    * experimentation-platform standard — e.g. Tang et al. 2010's
    * overlapping-experiment infrastructure): units hash into B
    * buckets, θ_(b) recomputes the difference with bucket b's units
    * DELETED, and Var_JK = (B−1)·(E[θ²_(b)] − E[θ_(b)]²) — the
    * assumption-free variance that captures within-unit correlation
    * the per-row formula misses (the nonparametric sibling of
    * [[deltaRatio]]).
    *
    * Determinism: per-(bucket, arm) sums exact DECIMAL(38,0); each
    * θ_(b) is one fixed IEEE sequence off exact totals; the
    * cross-bucket moments run on FLOOR-SCALED micro-unit integers
    * (the shared rounding floor — double sums over buckets would be
    * order-dependent), so every aggregate is order-independent.
    * Buckets whose deletion empties an arm drop out and surface via
    * b_used.
    *
    * Scale shape: one map-side-combined (bucket, arm) groupBy → ≤ 2B
    * rows; everything after is metadata-sized.
    *
    * @return one row (b_used, theta, se_jk, z)
    */
  def jackknifeDiff(obs: DataFrame, idCol: String, armCol: String,
      v4Col: String, unit: Double = 1.0, buckets: Int = 32)
      : DataFrame = {
    def dec38(c: Column) = c.cast("decimal(38,0)")
    val zero38 = lit(0).cast("decimal(38,0)")
    val per = obs
      .select(pmod(col(idCol), lit(buckets.toLong)).as("bkt"),
        col(armCol).as("arm"), col(v4Col).as("v"))
      .groupBy(col("bkt"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0b"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1b"),
        sum(when(col("arm") === 0, dec38(col("v"))).otherwise(zero38))
          .as("s0b"),
        sum(when(col("arm") === 1, dec38(col("v"))).otherwise(zero38))
          .as("s1b"))
      .transform(Checkpoints(_)) // feeds the totals row AND the LOO pass
    val tot = broadcast(per.agg(sum(col("n0b")).as("nn0"),
      sum(col("n1b")).as("nn1"),
      sum(col("s0b")).as("ss0"), sum(col("s1b")).as("ss1")))
    def dd(c: Column) = c.cast("double")
    val u1 = lit(unit)
    val thetaB = when(col("nn1") - col("n1b") > 0 &&
        col("nn0") - col("n0b") > 0,
      (dd(col("ss1") - col("s1b")) / (col("nn1") - col("n1b")) -
        dd(col("ss0") - col("s0b")) / (col("nn0") - col("n0b"))) / u1)
    val loo = per.crossJoin(tot)
      .select(floor(thetaB * 1e6 + 0.5).cast("long").as("t6"))
      .where(col("t6").isNotNull)
    val theta = when(col("nn0") > 0 && col("nn1") > 0,
      (dd(col("ss1")) / col("nn1") - dd(col("ss0")) / col("nn0")) / u1)
    // BARE agg, not a groupBy on the constant totals (r12 advice): a
    // degenerate fixture whose every bucket-deletion empties an arm
    // leaves loo EMPTY, and a groupBy would emit zero rows while the
    // oracle's GROUP-BY-less aggregate emits one b_used = 0 row — the
    // bare agg + broadcast-totals crossJoin matches it in both engines
    val agg = loo
      .agg(count(lit(1)).as("b"),
        sum(dec38(col("t6"))).as("st"),
        sum((col("t6").cast("decimal(19,0)") *
          col("t6").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("stt"))
      .crossJoin(tot)
    val tBar = dd(col("st")) / col("b") / 1e6
    val varJk = (col("b") - 1) *
      (dd(col("stt")) / col("b") / 1e12 - tBar * tBar)
    val se = when(col("b") > 1 && varJk > 0, sqrt(varJk))
    agg.select(col("b").cast("int").as("b_used"),
      r6(theta).as("theta"), r6(se).as("se_jk"),
      when(se > 0, r6(theta / se)).as("z"))
  }

  /** Power analysis / minimum-detectable-effect readout (the planning
    * half every experimentation platform ships next to its readouts —
    * Kohavi, Tang & Xu 2020 ch. 17's standard formulas): given the
    * CURRENT unit counts and pooled variance, the smallest true
    * effect a two-sided α = 0.05 test detects with 80% power, plus
    * the per-arm sample size a 1%-relative effect would need:
    * {{{
    *   MDE    = (z_{α/2} + z_β) · √(σ² · (1/n₀ + 1/n₁))
    *   n_req  = ⌈2·(z_{α/2} + z_β)²·σ² / (0.01·μ)²⌉   (per arm)
    * }}}
    * z_{0.025} = 1.959964 and z_{0.2} = 0.841621 are inlined as the
    * SAME literals in both engines (the quantile function never runs
    * in a query path — the [[graft.llm.Multimodal.dctCosX]]
    * discipline).
    *
    * Determinism: per-unit sums then n/Σ/Σ² moments exact in
    * DECIMAL(38,0) ([[cuped]]'s shape); one fixed IEEE sequence to
    * MDE; guards on empty arms / zero variance / zero mean.
    *
    * @return one row (n0, n1, mean, sd, mde_abs, mde_rel_pct,
    *         n_req_1pct)
    */
  def powerMde(obs: DataFrame, idCol: String, armCol: String,
      v4Col: String, unit: Double = 1.0): DataFrame = {
    def dec19(c: Column) = c.cast("decimal(19,0)")
    val per = obs.groupBy(col(idCol).as("uid"))
      .agg(sum(col(v4Col).cast("decimal(38,0)")).as("yu"),
        min(col(armCol)).as("arm"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
      sum(col("yu")).as("s"),
      sum((dec19(col("yu")) * dec19(col("yu"))).cast("decimal(38,0)"))
        .as("q"))
    def d(c: String) = col(c).cast("double")
    val u1 = lit(unit)
    val u2 = lit(unit * unit)
    val mean = when(col("n") > 0, d("s") / col("n") / u1)
    val v = when(col("n") > 0,
      (d("q") / col("n") - (d("s") / col("n")) * (d("s") / col("n"))) / u2)
    val kz = lit(1.959964) + lit(0.841621)
    val mde = when(col("n0") > 0 && col("n1") > 0 && v > 0,
      kz * sqrt(v * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))))
    val rel = when(mean > 0, mde / mean * lit(100.0))
    val nReq = when(mean > 0 && v > 0,
      ceil(lit(2.0) * (kz * kz) * v /
        ((lit(0.01) * mean) * (lit(0.01) * mean))).cast("long"))
    m.select(col("n0"), col("n1"), r6(mean).as("mean"),
      when(v > 0, r6(sqrt(v))).as("sd"),
      r6(mde).as("mde_abs"), r6(rel).as("mde_rel_pct"),
      nReq.as("n_req_1pct"))
  }

  /** Winsorized two-arm readout (the heavy-tail standard practice —
    * Kohavi et al. 2020 ch. 22's metric-capping guidance): clamp the
    * metric at the EXACT global p-th percentile order statistic, then
    * the two-arm mean difference and z on the capped values — one
    * outlier purchase stops dominating the readout, the reason every
    * revenue metric ships capped.
    *
    * The cap is the ⌈p·n/100⌉-th smallest value located EXACTLY:
    * per-value counts (map-side combined) + ONE distributed global
    * scan ([[graft.ops.Scan.globalRunningSum]] — never a single-task
    * sort), with the rank in PURE INTEGERS ((p·n + 99) div 100 is
    * ⌈p·n/100⌉ for every p, not just the default 99 — r12 advice:
    * the earlier (p·n + p) form shifted the order statistic whenever
    * p·n mod 100 ∈ 1..(99−p)). Clamping happens in the integer
    * domain, so every downstream moment is exact; the z readout is
    * the same fixed IEEE sequence as the per-segment tests.
    *
    * Scale shape: one value-keyed groupBy, the metadata-cost scan, a
    * broadcast cap row, one single-row moment aggregate.
    *
    * @return one row (n0, n1, cap, mean0, mean1, diff, z)
    */
  def winsorizedDiff(obs: DataFrame, armCol: String, v4Col: String,
      unit: Double = 1.0, pct: Int = 99): DataFrame = {
    val base = obs.select(col(armCol).as("arm"), col(v4Col).as("v"))
    val counts = base.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .transform(Checkpoints(_)) // feeds the scan AND the totals row
    val n = counts.agg(sum(col("cnt")).as("n"))
    val cap = broadcast(Scan.globalRunningSum(counts, Seq("v"),
        col("cnt"), "rt")
      .crossJoin(broadcast(n))
      .where(col("rt") >=
        expr(s"($pct * n + 99) div 100"))
      .agg(min(col("v")).as("cap")))
    def dec38(c: Column) = c.cast("decimal(38,0)")
    val zero38 = lit(0).cast("decimal(38,0)")
    val vc = least(col("v"), col("cap"))
    val m = base.crossJoin(cap).groupBy(col("cap"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, dec38(vc)).otherwise(zero38))
          .as("s0"),
        sum(when(col("arm") === 1, dec38(vc)).otherwise(zero38))
          .as("s1"),
        sum(when(col("arm") === 0,
          (vc.cast("decimal(19,0)") * vc.cast("decimal(19,0)"))
            .cast("decimal(38,0)")).otherwise(zero38)).as("q0"),
        sum(when(col("arm") === 1,
          (vc.cast("decimal(19,0)") * vc.cast("decimal(19,0)"))
            .cast("decimal(38,0)")).otherwise(zero38)).as("q1"))
    def d(c: String) = col(c).cast("double")
    val u1 = lit(unit)
    val u2 = lit(unit * unit)
    def mean(a: Int) = d(s"s$a") / col(s"n$a") / u1
    def vr(a: Int) =
      (d(s"q$a") / col(s"n$a") -
        (d(s"s$a") / col(s"n$a")) * (d(s"s$a") / col(s"n$a"))) / u2
    val both = col("n0") > 0 && col("n1") > 0
    val se = when(both, sqrt(vr(1) / col("n1") + vr(0) / col("n0")))
    val diff = when(both, mean(1) - mean(0))
    m.select(col("n0"), col("n1"),
      r6(col("cap").cast("double") / u1).as("cap"),
      r6(when(col("n0") > 0, mean(0))).as("mean0"),
      r6(when(col("n1") > 0, mean(1))).as("mean1"),
      r6(diff).as("diff"),
      when(se > 0, r6(diff / se)).as("z"))
  }

  /** Holm step-down FWER correction (Holm 1979) — the FAMILY-WISE
    * companion of [[bhFdr]]'s false-discovery control: when even one
    * false positive is unacceptable (launch/no-launch on any
    * segment), Holm uniformly beats plain Bonferroni at the same
    * guarantee:
    * {{{
    *   rank p ascending;  raw_i = p_i · (m − i + 1)
    *   p_adj_i = min(1, max_{j ≤ i} raw_j)   (step-down monotone ↑)
    * }}}
    * Same frame contract as [[bhFdr]]: metadata-sized family, NULL-p
    * rows pass through unadjusted and out of m, the flag compares
    * the UNROUNDED adjusted value.
    *
    * @return input columns + (m_tests, rank, p_adj, signif)
    */
  def holmAdjust(family: DataFrame, keyCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    val p = col(pCol)
    val valid = family.where(p.isNotNull)
    val mT = broadcast(valid.agg(count(lit(1)).as("m_tests")))
    val wr = Window.orderBy(p.asc, col(keyCol).asc)
    val ranked = valid.crossJoin(mT)
      .withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("p_raw_adj",
        p * (col("m_tests") - col("rank") + 1).cast("double"))
    val wm = Window.orderBy(col("rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val adj = least(lit(1.0), max(col("p_raw_adj")).over(wm))
    val adjusted = ranked
      .withColumn("p_adj_u", adj)
      .withColumn("signif", col("p_adj_u") <= lit(alpha))
      .withColumn("p_adj", r6(col("p_adj_u")))
      .drop("p_raw_adj", "p_adj_u")
    val nulls = family.where(p.isNull).crossJoin(mT)
      .withColumn("rank", lit(null).cast("long"))
      .withColumn("signif", lit(null).cast("boolean"))
      .withColumn("p_adj", lit(null).cast("float"))
    adjusted.unionByName(nulls)
  }

  /** Empirical-Bayes (James–Stein-style) shrinkage of per-segment
    * means (Efron & Morris 1975; the "small segments borrow
    * strength" estimator every metrics platform applies before
    * ranking segments): method-of-moments variance components,
    * {{{
    *   σ̂²  = pooled within-segment variance
    *   τ̂²  = max(0, Var_g(mean_g)·k/(k−1) − σ̂²·avg_g(1/n_g))
    *   B_g = (σ̂²/n_g) / (σ̂²/n_g + τ̂²)
    *   eb_g = μ̂ + (1 − B_g)·(mean_g − μ̂)
    * }}}
    * A tiny segment (large σ̂²/n) shrinks hard toward the grand
    * mean; a huge one barely moves — exactly the ranking fix for
    * noisy-small-segment league tables.
    *
    * Determinism: per-segment n/Σ/Σ² exact DECIMAL; every
    * CROSS-SEGMENT aggregate (within-SS, mean-of-means, var of
    * means, avg 1/n) runs on FLOOR-SCALED micro-unit integers (the
    * [[cmh]] discipline); the per-segment shrink is one fixed IEEE
    * sequence; B_g NULL only in the fully degenerate σ̂² = τ̂² = 0
    * frame.
    *
    * @return (segment, n, mean_raw, shrink_b, mean_eb) per segment
    */
  def ebShrink(df: DataFrame, segCol: String, valueCol: String)
      : DataFrame = {
    def dec(c: Column) = c.cast("decimal(19,0)")
    val x = cents(col(valueCol))
    val per = df.where(col(valueCol).isNotNull &&
        col(segCol).isNotNull)
      .select(col(segCol).as("g"), x.as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"),
        sum(col("x").cast("decimal(38,0)")).as("sg"),
        sum((dec(col("x")) * dec(col("x"))).cast("decimal(38,0)"))
          .as("qg"))
      .transform(Checkpoints(_)) // the cross-segment row AND the output
    def d(c: Column) = c.cast("double")
    val meanG = d(col("sg")) / col("ng") / 100.0
    val sswG = (d(col("qg")) - d(col("sg")) * d(col("sg")) /
      col("ng")) / 1e4
    val micro = per.select(col("ng"), col("sg"),
      floor(meanG * 1e6 + 0.5).cast("long").as("m6"),
      floor(sswG * 1e6 + 0.5).cast("long").as("w6"),
      floor(lit(1.0) / col("ng") * 1e6 + 0.5).cast("long").as("i6"))
    val tot = broadcast(micro.agg(count(lit(1)).as("k"),
      sum(col("ng")).as("nn"),
      sum(col("sg")).as("ss"),
      sum(col("w6").cast("decimal(38,0)")).as("sw"),
      sum(col("m6").cast("decimal(38,0)")).as("sm"),
      sum((dec(col("m6")) * dec(col("m6"))).cast("decimal(38,0)"))
        .as("smm"),
      sum(col("i6").cast("decimal(38,0)")).as("si")))
    val sig2 = d(col("sw")) / 1e6 / col("nn")
    val mu = d(col("ss")) / col("nn") / 100.0
    val mbar = d(col("sm")) / col("k") / 1e6
    val vb = d(col("smm")) / col("k") / 1e12 - mbar * mbar
    val vbs = when(col("k") > 1,
      vb * col("k") / (col("k") - 1)).otherwise(lit(0.0))
    val ainv = d(col("si")) / col("k") / 1e6
    val tau2 = greatest(lit(0.0), vbs - sig2 * ainv)
    val sv = sig2 / col("ng")
    val b = when(sv + tau2 > 0, sv / (sv + tau2))
    per.crossJoin(tot)
      .select(col("g").as("segment"), col("ng").as("n"),
        r6(meanG).as("mean_raw"), r6(b).as("shrink_b"),
        r6(when(b.isNotNull,
          mu + (lit(1.0) - b) * (meanG - mu))).as("mean_eb"))
  }

  /** Fisher randomization (permutation) test for the two-arm mean
    * difference (Fisher 1935; Ernst 2004 for the modern framing) —
    * the EXACT-inference member beside [[welchT]]'s asymptotics and
    * [[bootstrapMeanCI]]'s resampling: re-randomize the ARM
    * assignment at the unit level B times and ask how often the
    * permuted |mean difference| reaches the observed one; under the
    * sharp null the observed split is one of the B+1 exchangeable
    * draws, so p = (1 + #{|Δ_b| ≥ |Δ_obs|}) / (B + 1) needs no
    * normality, no variance formula, no asymptotics.
    *
    * Replicates ride ONE pass ([[bootstrapMeanCI]]'s packing): per
    * (unit, block) one seeded md5 digest serves EIGHT 16-bit draws;
    * bit_b = draw < 2¹⁵ reassigns the unit's arm with common random
    * numbers, so both engines draw the identical permutations. All
    * per-replicate sums are exact integers (per-unit sums in
    * DECIMAL(38,0)); each Δ_b is the same two-division IEEE
    * sequence as Δ_obs; the ≥ compare runs on UNROUNDED doubles.
    * Replicates where either arm lands empty (probability ≈ 2⁻ⁿ)
    * are dropped and surface via b_used.
    *
    * Scale shape: one per-unit groupBy, explode ×B/8 → map-side-
    * combined regroup to B rows, a broadcast totals row; the
    * B-row frame is metadata-sized.
    *
    * @return one row (n_units, b_used, diff_obs, n_ge, p_perm)
    */
  def permutationTest(obs: DataFrame, idCol: String, armCol: String,
      v4Col: String, unit: Double = 1.0, b: Int = 64,
      salt: String = "perm"): DataFrame = {
    require(b % 8 == 0, "replicate count must pack 8 draws per digest")
    val per = obs.groupBy(col(idCol).cast("string").as("id"))
      .agg(sum(col(v4Col).cast("decimal(38,0)")).as("yu"),
        min(col(armCol)).as("arm"))
      .transform(Checkpoints(_)) // feeds the observed row AND replicates
    val tot = broadcast(per.agg(count(lit(1)).as("n"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1o"),
      sum(col("yu")).as("s"),
      sum(when(col("arm") === 1, col("yu"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("s1o")))
    val ex = per.select(col("id"), col("yu"),
        explode(sequence(lit(0), lit(b / 8 - 1))).as("blk"))
      .withColumn("hh", md5(concat_ws(":", lit(salt), col("id"),
        col("blk"))))
      .select(col("yu"), col("blk"),
        explode(sequence(lit(0), lit(7))).as("j"), col("hh"))
      .select(col("yu"), (col("blk") * 8 + col("j")).as("r"),
        (expr("cast(conv(substring(hh, 1 + 4 * j, 4), 16, 10) as long)")
          < lit(32768L)).as("bit"))
    val reps = ex.groupBy(col("r"))
      .agg(sum(when(col("bit"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("bit"), col("yu"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("s1"))
    def dd(c: Column) = c.cast("double")
    val u1 = lit(unit)
    val diffOf = (s1: Column, n1: Column, s: Column, n: Column) =>
      (dd(s1) / n1 - dd(s - s1) / (n - n1)) / u1
    val stat = reps.crossJoin(tot)
      .where(col("n1") > 0 && col("n1") < col("n"))
      .select(col("n"),
        diffOf(col("s1"), col("n1"), col("s"), col("n")).as("db"),
        when(col("n1o") > 0 && col("n1o") < col("n"),
          diffOf(col("s1o"), col("n1o"), col("s"), col("n")))
          .as("dobs"))
    stat.groupBy(col("n"), col("dobs")) // constants → one group
      .agg(count(lit(1)).as("bu"),
        sum(when(abs(col("db")) >= abs(col("dobs")), 1L)
          .otherwise(0L)).as("n_ge"))
      .select(col("n").as("n_units"), col("bu").cast("int").as("b_used"),
        r6(col("dobs")).as("diff_obs"), col("n_ge"),
        r6((col("n_ge") + lit(1L)).cast("double") /
          (col("bu") + lit(1L))).as("p_perm"))
  }

  /** χ²(df) 0.95 quantiles, df = 1..7, as plan-time literals (the
    * q308 3.841459 discipline — libm never runs in a query path).
    */
  private val chi2q95: Map[Int, Double] = Map(
    1 -> 3.841459, 2 -> 5.991465, 3 -> 7.814728, 4 -> 9.487729,
    5 -> 11.070498, 6 -> 12.591587, 7 -> 14.067140, 8 -> 15.507313,
    9 -> 16.918978)

  /** Ljung–Box portmanteau test (Ljung & Box 1978) — "is this series
    * white noise AT ALL?", the joint-significance companion of [[acf]]'s
    * per-lag readout: Q = n(n+2)·Σ_{k≤h} ρ_k²/(n−k) ~ χ²(h). The ARIMA
    * residual-diagnostic gate: fit residuals failing it mean the model
    * left structure on the table.
    *
    * Determinism: ρ are [[acf]]'s round-4 values; the lag sum is
    * UNROLLED in lag order as one fixed IEEE expression on the
    * lag-pivoted ONE-ROW frame (never a float sum over grouped rows);
    * n is an exact count; the reject flag compares the UNROUNDED Q to
    * the plan-time χ² literal.
    *
    * @return one row (n, df, q_stat, reject_95)
    */
  def ljungBox(series: DataFrame, keyCol: String, valueCol: String,
      maxLag: Int = 7): DataFrame = {
    require(chi2q95.contains(maxLag), s"ljungBox df $maxLag outside 1..7")
    val rho = acf(series, keyCol, valueCol, maxLag)
      .select(col("lag"), col("r").cast("double").as("r"))
    val wide = rho.agg(
      max(when(col("lag") === 1, col("r"))).as("r1"),
      (2 to maxLag).map(l =>
        max(when(col("lag") === l, col("r"))).as(s"r$l")): _*)
    val n = series.agg(count(lit(1)).as("n"))
    val dn = col("n").cast("double")
    val q = (1 to maxLag).map(k =>
        col(s"r$k") * col(s"r$k") / (dn - lit(k.toDouble)))
      .reduce(_ + _) * dn * (dn + lit(2.0))
    wide.crossJoin(broadcast(n)).select(col("n"), lit(maxLag).as("df"),
      round(q, 4).cast("float").as("q_stat"),
      (q > lit(chi2q95(maxLag))).as("reject_95"))
  }

  /** Dickey–Fuller unit-root test (Dickey & Fuller 1979, with
    * constant) + the AR(1) mean-reversion half-life: regress
    * Δy_t = a + b·y_{t−1} + ε — b ≈ 0 means a random walk (unit
    * root), b < 0 with a large-negative t means the series reverts,
    * and then φ = 1+b gives half-life = −ln 2 / ln φ, the "how long
    * until a shock half-decays" number position-sizing reads.
    *
    * Determinism: y in exact cents, Δy and y_{t−1} exact longs off
    * ONE unpartitioned lag over the metadata-sized series (the [[acf]]
    * contract), all six regression moments exact DECIMAL(38,0), the
    * slope/t/half-life one fixed IEEE sequence on a one-row frame;
    * the stationarity flag compares the UNROUNDED t to the asymptotic
    * 5% τ_μ literal −2.86 (Fuller 1976 Table 8.5.2).
    *
    * @return one row (n_pairs, slope, t_stat, stationary_95, half_life)
    */
  def dickeyFuller(series: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val w = Window.orderBy(col(keyCol))
    val x = cents(col(valueCol))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val pairs = series.select(x.as("y"), lag(x, 1).over(w).as("yl"))
      .where(col("yl").isNotNull)
      .select(col("yl"), (col("y") - col("yl")).as("dy"))
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(col("yl").cast("decimal(38,0)")).as("sx"),
      sum(col("dy").cast("decimal(38,0)")).as("sy"),
      sum((dec(col("yl")) * dec(col("yl"))).cast("decimal(38,0)")).as("sxx"),
      sum((dec(col("yl")) * dec(col("dy"))).cast("decimal(38,0)")).as("sxy"),
      sum((dec(col("dy")) * dec(col("dy"))).cast("decimal(38,0)")).as("syy"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val sxxC = dn * d("sxx") - d("sx") * d("sx")
    val sxyC = dn * d("sxy") - d("sx") * d("sy")
    val syyC = dn * d("syy") - d("sy") * d("sy")
    val b = when(sxxC =!= 0.0, sxyC / sxxC)
    val se = sqrt((syyC - b * sxyC) / ((dn - lit(2.0)) * sxxC))
    val t = when(se =!= 0.0, b / se)
    val phi = lit(1.0) + b
    m.select(col("n").as("n_pairs"),
      round(b, 6).cast("float").as("slope"),
      round(t, 4).cast("float").as("t_stat"),
      (t < lit(-2.86)).as("stationary_95"),
      round(when(phi > lit(0.0) && phi < lit(1.0),
        -log(lit(2.0)) / log(phi)), 4).cast("float").as("half_life"))
  }

  /** Lo–MacKinlay variance-ratio test statistic (Lo & MacKinlay
    * 1988), arithmetic-difference form: VR(q) = Var(y_t − y_{t−q}) /
    * (q·Var(y_t − y_{t−1})). A random walk gives VR = 1; VR < 1 means
    * mean reversion (q-period shocks partially cancel), VR > 1
    * momentum — the one-number "is there exploitable autocorrelation
    * at horizon q" readout beside [[acf]]'s per-lag view.
    *
    * Determinism: both difference series are exact longs (lag of
    * cents), population variances off exact DECIMAL moments, VR one
    * IEEE division at the edge.
    *
    * @return one row (n_1, n_q, var_1, var_q, vr)
    */
  def varianceRatio(series: DataFrame, keyCol: String, valueCol: String,
      q: Int = 5): DataFrame = {
    val w = Window.orderBy(col(keyCol))
    val x = cents(col(valueCol))
    val diffs = series.select(x.as("y"),
        lag(x, 1).over(w).as("y1"), lag(x, q).over(w).as("yq"))
      .select((col("y") - col("y1")).as("d1"),
        (col("y") - col("yq")).as("dq"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    def mom(c: String) = Seq(
      count(when(col(c).isNotNull, lit(1))).as(s"n_$c"),
      sum(col(c).cast("decimal(38,0)")).as(s"s_$c"),
      sum((dec(col(c)) * dec(col(c))).cast("decimal(38,0)")).as(s"ss_$c"))
    val allMoms = mom("d1") ++ mom("dq")
    val m2 = diffs.agg(allMoms.head, allMoms.tail: _*)
    def varOf(c: String): Column = {
      val dn = col(s"n_$c").cast("double")
      (dn * col(s"ss_$c").cast("double") -
        col(s"s_$c").cast("double") * col(s"s_$c").cast("double")) /
        (dn * dn)
    }
    val v1 = varOf("d1"); val vq = varOf("dq")
    m2.select(col("n_d1").as("n_1"), col("n_dq").as("n_q"),
      round(v1, 4).cast("float").as("var_1"),
      round(vq, 4).cast("float").as("var_q"),
      round(when(v1 =!= 0.0, vq / (lit(q.toDouble) * v1)), 4)
        .cast("float").as("vr"))
  }

  /** ln 2 as a shared plan-time literal (both engines inline this
    * exact double, so no libm log(2) ever runs in a query path).
    */
  private val ln2 = 0.6931471805599453

  /** Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot
    * & Wallis 1969): H > 0.5 = trending/persistent, < 0.5 = mean
    * reverting, = 0.5 = random walk. Per block size m ∈ sizes the
    * series is cut into full m-row blocks; each block's R/S is the
    * range of cumulative mean-deviations over the block stddev; H is
    * the log-log slope of mean R/S against m.
    *
    * Determinism, the whole point of this formulation: with y in exact
    * cents, m·Z_k = m·prefix_k − k·S is an EXACT long (so the range
    * R·m is exact), and m²·var = m·Σy² − S² is exact DECIMAL — so each
    * block's R/S = (R·m)/√(m·Σy²−S²) is ONE IEEE division of exact
    * values. Cross-block means go through micro-unit flooring (the CMH
    * order-independence discipline). With sizes (s, 2s, 4s) the 3-point
    * log-log OLS slope collapses to (ln r̄₂ − ln r̄₀)/(2·ln 2) — two
    * lns on one-row values against the shared [[ln2]] literal.
    *
    * Scale shape: the block cut is ONE exchange keyed (size, block) —
    * at a real 100 TB series the unpartitioned index window is the
    * documented metadata-series contract ([[acf]]); blocks then
    * aggregate map-side.
    *
    * @return one row per size (size, n_blocks, rs_mean) + the shared
    *         hurst column
    */
  def hurstRs(series: DataFrame, keyCol: String, valueCol: String,
      sizes: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(sizes.size == 3 && sizes(1) == 2 * sizes.head &&
      sizes(2) == 4 * sizes.head, s"sizes must be (s,2s,4s): $sizes")
    val idx = series.select(cents(col(valueCol)).as("y"),
      (row_number().over(Window.orderBy(col(keyCol))) - 1).as("i"))
    val perSize = sizes.map { m =>
      val wb = Window.partitionBy(col("blk"))
      val wrun = Window.partitionBy(col("blk")).orderBy(col("i"))
      val b = idx.select(col("y"), col("i"),
          floor(col("i") / lit(m)).cast("long").as("blk"))
        .select(col("blk"),
          row_number().over(wrun).as("k"),
          sum(col("y")).over(wrun.rowsBetween(
            Window.unboundedPreceding, 0)).as("pre"),
          sum(col("y")).over(wb).as("s"),
          count(lit(1)).over(wb).as("cnt"),
          sum((col("y").cast("decimal(19,0)") *
            col("y").cast("decimal(19,0)")).cast("decimal(38,0)"))
            .over(wb).as("syy"))
        .select(col("*"),
          (lit(m.toLong) * col("pre") - col("k") * col("s")).as("z"))
        .select(col("blk"), col("k"), col("cnt"), col("s"), col("syy"),
          max(col("z")).over(wb).as("zmax"),
          min(col("z")).over(wb).as("zmin"))
        .where(col("k") === 1 && col("cnt") === m)
      val den = sqrt((lit(m.toLong).cast("decimal(19,0)") * col("syy") -
        col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
        .cast("double"))
      b.where(den =!= 0.0)
        .select(((col("zmax") - col("zmin")).cast("double") / den)
          .as("rs"))
        .select(floor(col("rs") * lit(1e6)).cast("long").as("rs_micro"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("rs_micro")).as("sum_micro"))
        .select(lit(m).as("size"), col("n_blocks"), col("sum_micro"))
    }.reduce(_ unionByName _)
    val stats = perSize.select(col("size"), col("n_blocks"),
      round(col("sum_micro").cast("double") /
        (col("n_blocks").cast("double") * lit(1e6)), 4)
        .cast("float").as("rs_mean"))
    val h = stats.agg(
      max(when(col("size") === sizes.head, col("rs_mean").cast("double")))
        .as("v0"),
      max(when(col("size") === sizes(2), col("rs_mean").cast("double")))
        .as("v2"))
      .select(round((log(col("v2")) - log(col("v0"))) /
        lit(2.0 * ln2), 4).cast("float").as("hurst"))
    stats.crossJoin(broadcast(h))
  }

  /** Discrete-period periodogram: normalized DFT power at candidate
    * periods 2..maxPeriod over the mean-centered series — "is there a
    * weekly cycle in daily revenue", the hypothesis-free companion of
    * [[graft.ts.Seasonal]]'s fixed-7 decomposition. The dominant flag
    * marks the argmax period.
    *
    * Determinism: y in exact cents, the per-row cos/sin products
    * FLOOR-SCALED to integers before the cross-row sum (the micro-unit
    * discipline — float sums over rows are order-dependent; cos args
    * are k·(2π/p) with k = i mod p an exact int, so both engines
    * evaluate libm on bit-identical inputs), mean-correction and the
    * power ratio one fixed IEEE sequence per period on the bounded
    * period frame; power is normalized by n·SS (exact moments) so the
    * readout is scale-free.
    *
    * @return one row per period (period, power_frac, dominant)
    */
  def periodogram(series: DataFrame, keyCol: String, valueCol: String,
      maxPeriod: Int = 10): DataFrame = {
    val idx = series.select(cents(col(valueCol)).as("y"),
      (row_number().over(Window.orderBy(col(keyCol))) - 1).as("i"))
    val tot = idx.agg(count(lit(1)).as("n"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("syy"))
    val periods = (2 to maxPeriod).map(p => lit(p))
    val summed = idx.select(col("y"), col("i"),
        explode(array(periods: _*)).as("p"))
      .select(col("p"),
        ((col("i") % col("p")).cast("double") *
          (lit(2.0 * math.Pi) / col("p").cast("double"))).as("a"),
        col("y"))
      .select(col("p"),
        floor(col("y").cast("double") * cos(col("a"))).cast("long")
          .as("yc"),
        floor(col("y").cast("double") * sin(col("a"))).cast("long")
          .as("ys"),
        floor(lit(1e6) * cos(col("a"))).cast("long").as("c6"),
        floor(lit(1e6) * sin(col("a"))).cast("long").as("s6"))
      .groupBy(col("p"))
      .agg(sum(col("yc")).as("syc"), sum(col("ys")).as("sys"),
        sum(col("c6")).as("sc6"), sum(col("s6")).as("ss6"))
    val dn = col("n").cast("double")
    val mu = col("sy").cast("double") / dn
    val cC = col("syc").cast("double") -
      mu * (col("sc6").cast("double") / lit(1e6))
    val sS = col("sys").cast("double") -
      mu * (col("ss6").cast("double") / lit(1e6))
    val ss = (dn * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")) / dn
    val frac = when(ss =!= 0.0, (cC * cC + sS * sS) / (dn * ss))
    val scored = summed.crossJoin(broadcast(tot))
      .select(col("p").as("period"), frac.as("frac"))
    scored.select(col("period"),
      round(col("frac"), 4).cast("float").as("power_frac"),
      (col("frac") === max(col("frac")).over(
        Window.partitionBy(lit(1)))).as("dominant"))
  }

  /** Levene's test for equality of variances (Levene 1960, mean-based
    * form) — the gate in FRONT of ANOVA/t readouts: both assume equal
    * group variances, and this is the one-way ANOVA on the absolute
    * deviations z_gi = |x_gi − x̄_g| that checks it.
    *
    * Determinism: with x in exact cents, n_g·z_gi = |n_g·x − Σx_g| is
    * an EXACT long (the Hurst m·Z trick), so every per-group moment of
    * z is exact DECIMAL over the n_g² denominator; per-group readouts
    * (Σz, within-SS, n·(z̄_g − z̄)²) are fixed IEEE sequences
    * CENTI-FLOORED before any cross-group sum (the CMH discipline;
    * centi not micro so the within-SS stays inside long at warehouse
    * row counts). At 100 TB row counts swap the n_g·x long product
    * for DECIMAL.
    *
    * Scale shape: one groupBy for (n, Σx), a broadcast join back, one
    * map-side groupBy for the z moments — the group frame is bounded
    * (|groups| rows) and all cross-group algebra runs on it.
    *
    * @return one row (k, n, ss_between, ss_within, w_stat)
    */
  def levene(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val x = cents(col(valueCol))
    val dfN = df.where(col(valueCol).isNotNull)
    val g1 = dfN.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("ng"), sum(x.cast("decimal(38,0)")).as("sxg"))
    val rows = dfN.select(col(groupCol).as("g"), x.as("x"))
      .join(broadcast(g1), "g")
      .select(col("g"), col("ng"),
        abs(col("ng").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")
          - col("sxg")).cast("decimal(38,0)").as("z"))
    val g2 = rows.groupBy(col("g"), col("ng"))
      .agg(sum(col("z")).as("sz"),
        sum((col("z") * col("z")).cast("decimal(38,0)")).as("szz"))
    val dn = col("ng").cast("double")
    val sumzG = col("sz").cast("double") / dn          // Σ z (z-units)
    val withinG = col("szz").cast("double") / (dn * dn) -
      (col("sz").cast("double") * col("sz").cast("double")) /
        (dn * dn * dn)
    val perG = g2.select(col("g"), col("ng"),
      floor(sumzG * lit(100.0)).cast("long").as("sz_c"),
      floor(withinG * lit(100.0)).cast("long").as("w_c"))
    val tot = perG.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sz_c")).as("szt"), sum(col("w_c")).as("sswt"))
    val zbar = (col("szt").cast("double") / lit(100.0)) /
      col("n").cast("double")
    val btermG = col("ng").cast("double") *
      ((col("sz_c").cast("double") / lit(100.0)) /
        col("ng").cast("double") - zbar) *
      ((col("sz_c").cast("double") / lit(100.0)) /
        col("ng").cast("double") - zbar)
    val ssb = perG.crossJoin(broadcast(tot))
      .select(col("k"), col("n"), col("sswt"),
        floor(btermG * lit(100.0)).cast("long").as("b_c"))
      .groupBy(col("k"), col("n"), col("sswt"))
      .agg(sum(col("b_c")).as("ssbt"))
    val dN = col("n").cast("double"); val dk = col("k").cast("double")
    val ssbD = col("ssbt").cast("double") / lit(100.0)
    val sswD = col("sswt").cast("double") / lit(100.0)
    ssb.select(col("k"), col("n"),
      round(ssbD / lit(1e4), 2).cast("float").as("ss_between"),
      round(sswD / lit(1e4), 2).cast("float").as("ss_within"),
      round(when(sswD =!= 0.0,
        ((dN - dk) / (dk - lit(1.0))) * (ssbD / sswD)), 4)
        .cast("float").as("w_stat"))
  }

  /** Cochran–Armitage trend test (Cochran 1954; Armitage 1955): is a
    * binary rate MONOTONE in an ordered factor — the "does purchase
    * share trend across the week" question a bare χ² (which ignores
    * the ordering) cannot answer.
    *
    * Determinism: T·N = Σ s_i·(N·r_i − n_i·R) is an exact long over
    * the bounded score frame; the variance pieces are exact counts;
    * z is one fixed IEEE sequence; the reject flag compares the
    * UNROUNDED |z| to the plan-time two-sided 5% literal.
    *
    * @return one row (n, r, z_trend, increasing, reject_95)
    */
  def cochranArmitage(df: DataFrame, scoreCol: String,
      successCol: String): DataFrame = {
    val per = df.where(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("s"))
      .agg(count(lit(1)).as("ni"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("ri"))
    val tot = per.agg(sum(col("ni")).as("n"), sum(col("ri")).as("r"),
      sum(col("s") * col("ni")).as("sns"),
      sum(col("s") * col("s") * col("ni")).as("snss"))
    val tn = per.crossJoin(broadcast(tot))
      .select(col("n"), col("r"), col("sns"), col("snss"),
        (col("s") * (col("n") * col("ri") - col("ni") * col("r")))
          .as("term"))
      .groupBy(col("n"), col("r"), col("sns"), col("snss"))
      .agg(sum(col("term")).as("tn"))
    val dN = col("n").cast("double"); val dR = col("r").cast("double")
    val den = sqrt(dR * (dN - dR) *
      (dN * col("snss").cast("double") -
        col("sns").cast("double") * col("sns").cast("double")) / dN)
    val z = when(den =!= 0.0, col("tn").cast("double") / den)
    tn.select(col("n"), col("r"),
      round(z, 4).cast("float").as("z_trend"),
      (col("tn") > 0L).as("increasing"),
      (abs(z) > lit(1.959964)).as("reject_95"))
  }

  /** McNemar's test with continuity correction (McNemar 1947; Edwards
    * 1948) — the PAIRED marginal-change test: did the same units flip
    * state between two periods, where an unpaired compare would wash
    * out in between-unit variance? χ² = (|b−c|−1)²/(b+c) on the two
    * discordant counts.
    *
    * Determinism: b and c are exact counts off one per-unit groupBy;
    * the statistic is one fixed IEEE sequence; reject on the
    * UNROUNDED value vs the plan-time χ²(1) literal.
    *
    * @param pairs frame with (y1, y2) boolean columns, one row per unit
    * @return one row (n_pairs, b, c, chi2, reject_95)
    */
  def mcnemar(pairs: DataFrame, y1: String = "y1",
      y2: String = "y2"): DataFrame = {
    val m = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(when(col(y1) && !col(y2), 1L).otherwise(0L)).as("b"),
      sum(when(!col(y1) && col(y2), 1L).otherwise(0L)).as("c"))
    val bc = (col("b") + col("c")).cast("double")
    val num = abs(col("b") - col("c")).cast("double") - lit(1.0)
    val chi2 = when(bc =!= 0.0, num * num / bc)
    m.select(col("n_pairs"), col("b"), col("c"),
      round(chi2, 4).cast("float").as("chi2"),
      (chi2 > lit(chi2q95(1))).as("reject_95"))
  }

  /** Durbin–Watson statistic (Durbin & Watson 1950) on the residuals
    * of the series' OLS time trend: DW ≈ 2(1−ρ̂₁) of the residuals —
    * THE regression-diagnostic the q203-style OLS reports need before
    * anyone trusts their standard errors (positive autocorrelation
    * makes them lies).
    *
    * Determinism: trend slope/intercept off exact DECIMAL moments (the
    * [[dickeyFuller]] algebra), per-row residuals one fixed IEEE
    * sequence on exact inputs, CENTI-FLOORED to longs before the
    * lagged squared sums (exact DECIMAL thereafter) — so the ratio is
    * one IEEE division of exact values.
    *
    * @return one row (n, dw, rho1)
    */
  def durbinWatson(series: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val w = Window.orderBy(col(keyCol))
    val idx = series.select(cents(col(valueCol)).as("y"),
      row_number().over(w).cast("long").as("i"))
    val m = idx.agg(count(lit(1)).as("n"),
      sum(col("i").cast("decimal(38,0)")).as("si"),
      sum((col("i") * col("i")).cast("decimal(38,0)")).as("sii"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("i").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("siy"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val b = (dn * d("siy") - d("si") * d("sy")) /
      (dn * d("sii") - d("si") * d("si"))
    val a = (d("sy") - b * d("si")) / dn
    val fit = idx.crossJoin(broadcast(m.select(
      col("n"), b.as("b"), a.as("a"))))
    val res = fit.select(col("n"), col("i"),
      floor((col("y").cast("double") - col("a") -
        col("b") * col("i").cast("double")) * lit(100.0)).cast("long")
        .as("ec"))
    val lagd = res.select(col("n"), col("ec"),
      (col("ec") - lag(col("ec"), 1).over(Window.orderBy(col("i"))))
        .as("dd"))
    val sums = lagd.groupBy(col("n"))
      .agg(sum((col("ec").cast("decimal(19,0)") *
          col("ec").cast("decimal(19,0)")).cast("decimal(38,0)")).as("see"),
        sum((col("dd").cast("decimal(19,0)") *
          col("dd").cast("decimal(19,0)")).cast("decimal(38,0)")).as("sdd"))
    val dw = when(col("see") =!= lit(0).cast("decimal(38,0)"),
      col("sdd").cast("double") / col("see").cast("double"))
    sums.select(col("n"),
      round(dw, 4).cast("float").as("dw"),
      round(lit(1.0) - dw / lit(2.0), 4).cast("float").as("rho1"))
  }

  /** Breusch–Pagan heteroskedasticity test (Breusch & Pagan 1979,
    * Koenker's studentized LM form): do the OLS residuals' SQUARES
    * trend with the regressor — the "your error bars depend on x"
    * diagnostic that, with [[durbinWatson]], decides whether a q203
    * fit's standard errors mean anything. LM = n·R²_aux of e² on x,
    * ~ χ²(1).
    *
    * Determinism: main fit off exact DECIMAL moments; residuals one
    * fixed IEEE sequence floored to exact cent longs; u = e² then
    * EXACT, the aux-regression moments exact DECIMAL, LM one fixed
    * sequence; reject on the unrounded LM vs the plan-time χ²(1)
    * literal.
    *
    * @return one row (n, lm, reject_95)
    */
  def breuschPagan(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val pts = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(cents(col(xCol)).as("x"), cents(col(yCol)).as("y"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val m = pts.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum((dec(col("x")) * dec(col("x"))).cast("decimal(38,0)")).as("sxx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((dec(col("x")) * dec(col("y"))).cast("decimal(38,0)")).as("sxy"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val b = (dn * d("sxy") - d("sx") * d("sy")) /
      (dn * d("sxx") - d("sx") * d("sx"))
    val a = (d("sy") - b * d("sx")) / dn
    val fit = pts.crossJoin(broadcast(m.select(col("n"), col("sx"),
      col("sxx"), b.as("b"), a.as("a"))))
    val u = fit.select(col("n"), col("sx"), col("sxx"), col("x"),
      floor(col("y").cast("double") - col("a") -
        col("b") * col("x").cast("double")).cast("long").as("ec"))
      .select(col("n"), col("sx"), col("sxx"), col("x"),
        (col("ec").cast("decimal(19,0)") * col("ec").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("u"))
    val aux = u.groupBy(col("n"), col("sx"), col("sxx"))
      .agg(sum(col("u")).as("su"),
        sum((dec(col("x")) * col("u")).cast("decimal(38,0)")).as("sxu"),
        sum((col("u") * col("u")).cast("decimal(38,0)")).as("suu"))
    val covN = dn * d("sxu") - d("sx") * d("su")
    val vxN = dn * d("sxx") - d("sx") * d("sx")
    val vuN = dn * d("suu") - d("su") * d("su")
    val r2 = when(vxN =!= 0.0 && vuN =!= 0.0,
      covN * covN / (vxN * vuN))
    val lm = dn * r2
    aux.select(col("n"), round(lm, 4).cast("float").as("lm"),
      (lm > lit(chi2q95(1))).as("reject_95"))
  }

  /** Grubbs' outlier test (Grubbs 1950): G = max|x−x̄|/s with the
    * offending value — the single-outlier screen before any
    * moment-based readout; its arithmetic is the reason it ships:
    * G = max|n·x − Σx| / √(n·(n·Σx² − (Σx)²)/(n−1)) — the deviation
    * argmax is an EXACT integer struct-max and G is ONE IEEE division
    * of exact values, no per-row float ever.
    *
    * @return one row (n, outlier, g_stat)
    */
  def grubbs(df: DataFrame, valueCol: String): DataFrame = {
    val x = cents(col(valueCol))
    val dfN = df.where(col(valueCol).isNotNull)
    val tot = dfN.agg(count(lit(1)).as("n"),
      sum(x.cast("decimal(38,0)")).as("sx"),
      sum((x.cast("decimal(19,0)") * x.cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("sxx"))
    val dev = dfN.crossJoin(broadcast(tot))
      .select(col("n"), col("sx"), col("sxx"),
        abs(col("n").cast("decimal(19,0)") * x.cast("decimal(19,0)")
          - col("sx")).cast("decimal(38,0)").as("dev"),
        x.as("xv"))
    val top = dev.groupBy(col("n"), col("sx"), col("sxx"))
      .agg(max(struct(col("dev"), col("xv"))).as("m"))
    val dn = col("n").cast("double")
    val den = sqrt(dn * (dn * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")) /
      (dn - lit(1.0)))
    top.select(col("n"),
      round(col("m.xv").cast("double") / lit(100.0), 2)
        .cast("float").as("outlier"),
      round(when(den =!= 0.0, col("m.dev").cast("double") / den), 4)
        .cast("float").as("g_stat"))
  }

  /** Granger-causality F test, lag-1 form (Granger 1969): does
    * yesterday's x improve today's y prediction BEYOND what
    * yesterday's y already gives — the restricted (y_t ~ y_{t−1}) vs
    * unrestricted (y_t ~ y_{t−1} + x_{t−1}) SSE comparison,
    * F = (SSE_r − SSE_u)/(SSE_u/(n−3)) ~ F(1, n−3). Predictive
    * precedence, not causation — but the standard first question for
    * any pair of business series.
    *
    * Determinism: both series in exact cents, the lag pairs one
    * metadata-series window, all ten regression moments exact
    * DECIMAL(38,0); the two-regressor normal equations solved in
    * CLOSED FORM (Cramer) on the n-scaled centered sums — one fixed
    * IEEE sequence on a one-row frame; the n-scaling cancels in F.
    * Reject flag vs the asymptotic F(1,∞) = z² literal 3.841459.
    *
    * @return one row (n, f_stat, x_helps_95)
    */
  def grangerLite(series: DataFrame, keyCol: String, yCol: String,
      xCol: String): DataFrame = {
    val w = Window.orderBy(col("k"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val p = series.select(col(keyCol).as("k"), cents(col(yCol)).as("yv"),
        cents(col(xCol)).as("xv"))
      .select(col("yv").as("y"),
        lag(col("yv"), 1).over(w).as("u"),
        lag(col("xv"), 1).over(w).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
    val m = p.agg(count(lit(1)).as("n"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(col("u").cast("decimal(38,0)")).as("su"),
      sum(col("v").cast("decimal(38,0)")).as("sv"),
      sum((dec(col("y")) * dec(col("y"))).cast("decimal(38,0)")).as("syy"),
      sum((dec(col("y")) * dec(col("u"))).cast("decimal(38,0)")).as("syu"),
      sum((dec(col("y")) * dec(col("v"))).cast("decimal(38,0)")).as("syv"),
      sum((dec(col("u")) * dec(col("u"))).cast("decimal(38,0)")).as("suu"),
      sum((dec(col("u")) * dec(col("v"))).cast("decimal(38,0)")).as("suv"),
      sum((dec(col("v")) * dec(col("v"))).cast("decimal(38,0)")).as("svv"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val cyy = dn * d("syy") - d("sy") * d("sy")
    val cyu = dn * d("syu") - d("sy") * d("su")
    val cyv = dn * d("syv") - d("sy") * d("sv")
    val cuu = dn * d("suu") - d("su") * d("su")
    val cuv = dn * d("suv") - d("su") * d("sv")
    val cvv = dn * d("svv") - d("sv") * d("sv")
    val det = cuu * cvv - cuv * cuv
    val b = (cyu * cvv - cyv * cuv) / det
    val c = (cyv * cuu - cyu * cuv) / det
    val sseU = cyy - b * cyu - c * cyv
    val sseR = cyy - cyu * cyu / cuu
    val f = when(det =!= 0.0 && cuu =!= 0.0 && sseU > 0.0,
      (sseR - sseU) / (sseU / (dn - lit(3.0))))
    m.select(col("n"), round(f, 4).cast("float").as("f_stat"),
      (f > lit(3.841459)).as("x_helps_95"))
  }

  /** ln(maxPeriod − 1) normalizers for [[spectralEntropy]] as
    * PLAN-TIME literals keyed by maxPeriod (r13 advice: the single
    * hardcoded ln 9 silently mis-normalized any maxPeriod ≠ 10 call).
    * Literals rather than `math.log` at plan time so an oracle can
    * quote the exact same 17-digit constant. */
  private val lnPeriods: Map[Int, Double] = Map(
    4 -> 1.0986122886681098, // ln 3
    5 -> 1.3862943611198906, // ln 4
    6 -> 1.6094379124341003, // ln 5
    7 -> 1.791759469228055, // ln 6
    8 -> 1.9459101490553132, // ln 7
    9 -> 2.0794415416798357, // ln 8
    10 -> 2.1972245773362196, // ln 9
    11 -> 2.302585092994046, // ln 10
    12 -> 2.3978952727983707) // ln 11

  /** Spectral entropy over the [[periodogram]] candidate grid
    * (Goerg 2013's forecastability ω, discretized): H = −Σ p̂ ln p̂ /
    * ln k of the re-normalized power fractions — near 0 means one
    * period dominates (forecastable), near 1 means white-noise-flat.
    * The one-number triage in front of the seasonal-decomposition
    * machinery.
    *
    * Determinism: consumes the periodogram's ROUND-4 fractions (the
    * ACF→PACF layering precedent), pivoted wide so normalization and
    * the entropy sum are ONE fixed IEEE sequence on a one-row frame —
    * no float sum over grouped rows; zero fractions contribute 0.
    *
    * @return one row (n_periods, entropy)
    */
  def spectralEntropy(series: DataFrame, keyCol: String,
      valueCol: String, maxPeriod: Int = 10): DataFrame = {
    require(lnPeriods.contains(maxPeriod),
      s"spectralEntropy: maxPeriod=$maxPeriod has no plan-time ln " +
        s"literal (supported: ${lnPeriods.keys.toSeq.sorted})")
    val pg = periodogram(series, keyCol, valueCol, maxPeriod)
      .select(col("period"), col("power_frac").cast("double").as("f"))
    val wide = pg.agg(
      max(when(col("period") === 2, col("f"))).as("f2"),
      (3 to maxPeriod).map(p =>
        max(when(col("period") === p, col("f"))).as(s"f$p")): _*)
    val tot = (2 to maxPeriod).map(p => col(s"f$p")).reduce(_ + _)
    val ent = (2 to maxPeriod).map { p =>
      val q = col(s"f$p") / tot
      when(col(s"f$p") > 0.0, -(q * log(q))).otherwise(lit(0.0))
    }.reduce(_ + _) / lit(lnPeriods(maxPeriod))
    wide.select(lit(maxPeriod - 1).as("n_periods"),
      round(when(tot > 0.0, ent), 4).cast("float").as("entropy"))
  }

  /** Shewhart X̄ control chart over daily subgroups (Shewhart 1931)
    * — the SCHEDULED-subgroup companion of q302's EWMA chart: per
    * day, is the subgroup mean outside x̄ ± 3·s/√n_d? Catches large
    * shifts immediately where the EWMA accumulates small ones.
    *
    * Determinism: per-day and global moments exact DECIMAL off one
    * map-side groupBy; limits and the flag one fixed IEEE sequence
    * per day, flag on UNROUNDED values via the squared form
    * n_d·(x̄_d−x̄)² > 9s² (no sqrt in the decision).
    *
    * @return one row per day (okey, n, xbar, lcl, ucl, out_of_control)
    */
  def xbarChart(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val x = cents(col(valueCol))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val per = df.where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("okey"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast("decimal(38,0)")).as("s"),
        sum((dec(x) * dec(x)).cast("decimal(38,0)")).as("ss"))
    val tot = per.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
      sum(col("ss")).as("sst"))
    val dn = col("nt").cast("double")
    val mu = col("st").cast("double") / dn
    val s2 = (dn * col("sst").cast("double") -
      col("st").cast("double") * col("st").cast("double")) / (dn * dn)
    val j = per.crossJoin(broadcast(tot.select(mu.as("mu"),
      s2.as("s2"))))
    val dnd = col("n").cast("double")
    val xb = col("s").cast("double") / dnd
    val halfW = lit(3.0) * sqrt(col("s2") / dnd)
    // the subgroup mean lands on exact half-cents, where double
    // round(_, 2) diverges between engines — round it as the exact
    // integer (2s+n) div 2n instead (half-up on positives)
    val xbC = expr("(2 * cast(s as bigint) + n) div (2 * n)")
    j.select(col("okey"), col("n"),
      (xbC.cast("double") / lit(100.0)).cast("float").as("xbar"),
      round((col("mu") - halfW) / lit(100.0), 2).cast("float").as("lcl"),
      round((col("mu") + halfW) / lit(100.0), 2).cast("float").as("ucl"),
      (dnd * (xb - col("mu")) * (xb - col("mu")) >
        lit(9.0) * col("s2")).as("out_of_control"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945), normal approximation
    * with tie correction — the PAIRED nonparametric companion of
    * [[mannWhitneyU]]: same units measured twice, ranks of |Δ|, W⁺ =
    * rank-sum of the positive side. Zero differences are dropped
    * (Wilcoxon's rule).
    *
    * Determinism: Δ exact cents, midranks in 2× integer units via the
    * [[graft.ops.Scan.globalRunningSum]] distributed scan (never a
    * per-row rank sort), W⁺·2 and the tie sum exact DECIMAL, z one
    * fixed IEEE sequence; reject on unrounded |z| vs the plan-time
    * literal.
    *
    * @param pairs one row per unit with (x1, x2) value columns
    * @return one row (n, w_plus, z, reject_95)
    */
  def wilcoxonSignedRank(pairs: DataFrame, x1: String = "x1",
      x2: String = "x2"): DataFrame = {
    val nz = pairs.where(col(x1).isNotNull && col(x2).isNotNull)
      .select((cents(col(x2)) - cents(col(x1))).as("d"))
      .where(col("d") =!= 0L)
      .select(abs(col("d")).as("a"), (col("d") > 0L).as("pos"))
    val counts = nz.groupBy(col("a"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
        count(lit(1)).as("ct"))
      .transform(Checkpoints(_)) // feeds the scan AND the totals row
    val n = counts.agg(sum(col("ct")).as("n"))
    val scanned = Scan.globalRunningSum(counts, Seq("a"),
      col("ct"), "rt")
    val ar2 = ((col("rt") - col("ct")) * 2 + col("ct") + 1)
      .cast("decimal(19,0)")
    val tc = col("ct").cast("decimal(12,0)")
    val moments = scanned.agg(
      sum((col("cp").cast("decimal(19,0)") * ar2).cast("decimal(38,0)"))
        .as("w2"),
      sum((tc * tc * tc - tc).cast("decimal(38,0)")).as("ties"))
    val dn = col("n").cast("double")
    val wPlus = col("w2").cast("double") / lit(2.0)
    val mu = dn * (dn + 1.0) / lit(4.0)
    val varW = dn * (dn + 1.0) * (lit(2.0) * dn + 1.0) / lit(24.0) -
      col("ties").cast("double") / lit(48.0)
    val z = when(varW > 0.0, (wPlus - mu) / sqrt(varW))
    moments.crossJoin(broadcast(n)).select(col("n"),
      round(wPlus, 1).cast("float").as("w_plus"),
      round(z, 4).cast("float").as("z"),
      (abs(z) > lit(1.959964)).as("reject_95"))
  }

  /** Shared two-group exact moments: per group g ∈ {g1, g2},
    * (n, Σx, Σx²) in cents as one conditional aggregate.
    */
  private def twoGroupMoments(df: DataFrame, valueCol: String,
      groupCol: String, g1: String, g2: String): DataFrame = {
    val x = cents(col(valueCol))
    def dec(c: Column) = c.cast("decimal(19,0)")
    df.where(col(groupCol).isin(g1, g2) && col(valueCol).isNotNull)
      .agg(
        sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === g1, x.cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("s1"),
        sum(when(col(groupCol) === g1, (dec(x) * dec(x))
          .cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("ss1"),
        sum(when(col(groupCol) === g2, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === g2, x.cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("s2"),
        sum(when(col(groupCol) === g2, (dec(x) * dec(x))
          .cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("ss2"))
  }

  /** TOST equivalence test (Schuirmann 1987): two one-sided tests
    * against a ± margin — the NON-INFERIORITY readout a plain t-test
    * cannot give ("failing to reject ≠ equivalent"): equivalent at
    * 5% iff BOTH t_lower = (Δ+m)/se and t_upper = (m−Δ)/se exceed
    * z₀.₉₅. All moments exact DECIMAL; one fixed IEEE sequence; flag
    * on the unrounded min vs the plan-time 1.644854 literal.
    *
    * @param margin equivalence half-width in VALUE units
    * @return one row (n1, n2, diff, t_lower, t_upper, equivalent_95)
    */
  def tost(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g2: String, margin: Double): DataFrame = {
    val m = twoGroupMoments(df, valueCol, groupCol, g1, g2)
    def d(c: String) = col(c).cast("double")
    val dn1 = d("n1"); val dn2 = d("n2")
    val m1 = d("s1") / dn1; val m2 = d("s2") / dn2
    val v1 = (dn1 * d("ss1") - d("s1") * d("s1")) /
      (dn1 * (dn1 - 1.0))
    val v2 = (dn2 * d("ss2") - d("s2") * d("s2")) /
      (dn2 * (dn2 - 1.0))
    val se = sqrt(v1 / dn1 + v2 / dn2)
    val diff = m2 - m1
    val mc = lit(margin * 100.0)
    val tL = when(se =!= 0.0, (diff + mc) / se)
    val tU = when(se =!= 0.0, (mc - diff) / se)
    m.select(col("n1"), col("n2"),
      round(diff / lit(100.0), 4).cast("float").as("diff"),
      round(tL, 4).cast("float").as("t_lower"),
      round(tU, 4).cast("float").as("t_upper"),
      (least(tL, tU) > lit(1.644854)).as("equivalent_95"))
  }

  /** Cohen's d + Hedges' g standardized effect sizes (Cohen 1969;
    * Hedges 1981) — the PARAMETRIC magnitude companion of q318's
    * ordinal Cliff's δ: pooled-SD standardized mean difference, with
    * Hedges' small-sample bias correction (1 − 3/(4N−9)). Moments
    * exact DECIMAL, one fixed IEEE sequence, scale-invariant (cents
    * cancel).
    *
    * @return one row (n1, n2, cohens_d, hedges_g)
    */
  def cohensD(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g2: String): DataFrame = {
    val m = twoGroupMoments(df, valueCol, groupCol, g1, g2)
    def d(c: String) = col(c).cast("double")
    val dn1 = d("n1"); val dn2 = d("n2")
    val v1 = (dn1 * d("ss1") - d("s1") * d("s1")) /
      (dn1 * (dn1 - 1.0))
    val v2 = (dn2 * d("ss2") - d("s2") * d("s2")) /
      (dn2 * (dn2 - 1.0))
    val sp = sqrt(((dn1 - 1.0) * v1 + (dn2 - 1.0) * v2) /
      (dn1 + dn2 - 2.0))
    val cd = when(sp =!= 0.0, (d("s2") / dn2 - d("s1") / dn1) / sp)
    val g = cd * (lit(1.0) - lit(3.0) /
      (lit(4.0) * (dn1 + dn2) - lit(9.0)))
    m.select(col("n1"), col("n2"),
      round(cd, 4).cast("float").as("cohens_d"),
      round(g, 4).cast("float").as("hedges_g"))
  }

  /** Fixed-effect inverse-variance meta-analysis + heterogeneity
    * (Cochran 1954's Q; Higgins & Thompson 2002's I²) — pool a
    * per-segment treatment effect into one estimate and ask whether
    * the segments even agree: θ̂ = Σwθ/Σw with w = 1/v_g, Q =
    * Σw(θ_g−θ̂)² ~ χ²(k−1), I² = max(0, (Q−(k−1))/Q).
    *
    * Determinism: per-segment arm moments exact DECIMAL off ONE
    * conditional groupBy; θ_g/v_g/w one fixed IEEE sequence per
    * segment in VALUE units, w and wθ MICRO-floored before the
    * cross-segment sums (CMH discipline); θ̂/se one division pair;
    * the Q pass re-walks the bounded segment frame with micro-floored
    * terms. Segments need n ≥ 2 per arm and v > 0 (same rule both
    * engines).
    *
    * @return one row (k, theta, se, q_stat, i2)
    */
  def metaFixed(df: DataFrame, segmentCol: String, valueCol: String,
      groupCol: String, g1: String, g2: String): DataFrame = {
    val x = cents(col(valueCol))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val per = df.where(col(groupCol).isin(g1, g2) &&
        col(valueCol).isNotNull && col(segmentCol).isNotNull)
      .groupBy(col(segmentCol).as("seg"))
      .agg(
        sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === g1, x.cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("s1"),
        sum(when(col(groupCol) === g1, (dec(x) * dec(x))
          .cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("ss1"),
        sum(when(col(groupCol) === g2, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === g2, x.cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("s2"),
        sum(when(col(groupCol) === g2, (dec(x) * dec(x))
          .cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("ss2"))
    def d(c: String) = col(c).cast("double")
    val dn1 = d("n1"); val dn2 = d("n2")
    // effect and variance in VALUE units (cents/100)
    val th = (d("s2") / dn2 - d("s1") / dn1) / lit(100.0)
    val v1 = (dn1 * d("ss1") - d("s1") * d("s1")) /
      (dn1 * (dn1 - 1.0)) / lit(1e4)
    val v2 = (dn2 * d("ss2") - d("s2") * d("s2")) /
      (dn2 * (dn2 - 1.0)) / lit(1e4)
    val vg = v1 / dn1 + v2 / dn2
    val eligible = per
      .where(col("n1") >= 2L && col("n2") >= 2L)
      .select(col("seg"), th.as("th"), vg.as("vg"))
      .where(col("vg") > 0.0)
      .select(col("seg"), col("th"),
        floor(lit(1e6) / col("vg")).cast("long").as("w_u"),
        floor(lit(1e6) * col("th") / col("vg")).cast("long").as("wt_u"))
      .transform(Checkpoints(_)) // feeds the pool row AND the Q pass
    val pool = eligible.agg(count(lit(1)).as("k"),
      sum(col("w_u")).as("sw"), sum(col("wt_u")).as("swt"))
    val theta = col("swt").cast("double") / col("sw").cast("double")
    val qRows = eligible.crossJoin(broadcast(
        pool.select(col("k"), col("sw"), col("swt"), theta.as("theta"))))
      .select(col("k"), col("sw"), col("theta"),
        floor(col("w_u").cast("double") *
          (col("th") - col("theta")) * (col("th") - col("theta")))
          .cast("long").as("q_u"))
      .groupBy(col("k"), col("sw"), col("theta"))
      .agg(sum(col("q_u")).as("sq"))
    val q = col("sq").cast("double") / lit(1e6)
    val dk = col("k").cast("double")
    qRows.select(col("k"),
      round(col("theta"), 4).cast("float").as("theta"),
      round(lit(1.0) / sqrt(col("sw").cast("double") / lit(1e6)), 6)
        .cast("float").as("se"),
      round(q, 4).cast("float").as("q_stat"),
      round(when(q > 0.0, greatest(lit(0.0), (q - (dk - 1.0)) / q)), 4)
        .cast("float").as("i2"))
  }
}
