package graft.ops

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probability-calibration operators for model-score QA — the
  * post-hoc layer a training pipeline runs between "the quality model
  * scored every document" and "the score gates admission":
  *
  *  - [[isotonicBins]] — reliability binning + ISOTONIC REGRESSION
  *    (pool-adjacent-violators, computed by the Robertson–Wright–
  *    Dykstra minimax identity fit_i = max_{j≤i} min_{k≥i}
  *    avg(y_j..y_k)): the monotone calibration map from raw score to
  *    empirical positive rate. The engine already fits PAV by
  *    ITERATIVE leftmost-violator pooling
  *    ([[Stats.isotonicCalibration]], q287 — bins−1 checkpointed
  *    rounds); this is the CLOSED-FORM twin: one bounded triangle,
  *    zero iterations, zero checkpoints — the plan a scheduler
  *    prefers when the bin count is plan-time — and an independent
  *    derivation of the same unique fixed point.
  *  - [[conformalThreshold]] — split-conformal prediction (Vovk et
  *    al.; the Angelopoulos–Bates tutorial formulation): the
  *    ⌈(n+1)(1−α)⌉-th smallest calibration score is the ONE-SIDED
  *    threshold with a finite-sample ≥ 1−α coverage GUARANTEE,
  *    audited against the held-out remainder — the admission-gate
  *    member beside [[Stats.conformalInterval]]'s per-group μ ± q̂
  *    prediction intervals (q293-family).
  *
  * Determinism: scores quantize to exact cents; bins come from the
  * integer rank rule off the distributed scan (the q379 decile
  * discipline); the isotonic fit is computed on MICRO-FLOORED bin
  * averages — floor is monotone, so max-of-min over floored
  * averages equals the floored true fit exactly, and the whole
  * minimax is integer comparisons. The conformal rank rule is pure
  * integer arithmetic.
  *
  * Scale shape: binning is one bounded groupBy over distinct cents +
  * the two-level scan; the minimax triangle is B³/6 ≈ 20k rows at
  * B = 50 — PLAN-TIME bounded, identical at any data scale, computed
  * on broadcast-joined metadata frames; the conformal threshold is
  * one scan + a broadcast rank probe. Nothing here grows with the
  * fact table except the initial aggregate.
  */
object Calibration {

  private def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** Reliability bins + isotonic fit over (score, label) rows.
    *
    * @param isPos  boolean label column
    * @param nBins  reliability-bin count (plan-time; bounds ALL
    *               downstream work)
    * @return one row per non-empty bin: (bin, n, pos, rate_micro =
    *         raw positive rate, fit_micro = isotonic rate) — both
    *         micro-floored integers; fit_micro is non-decreasing in
    *         bin by construction
    */
  def isotonicBins(df: DataFrame, scoreCol: String, isPos: Column,
      nBins: Int = 50): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, "bins must be in [2, 1000]")
    // per distinct score value: count + positives (bounded key)
    val counts = df.where(col(scoreCol).isNotNull)
      .select(cents(col(scoreCol)).as("v"),
        when(isPos, 1L).otherwise(0L).as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("ct"), sum(col("y")).as("py"))
    val scanned = Scan.globalRunningSums(counts, Seq("v"),
      Seq(col("ct") -> "cum"))
    val n = counts.agg(sum(col("ct")).as("n"))
    // bin of a value = the integer rank rule on its FIRST row
    // ((cum − ct)·B div n — the q379 discipline); a value's rows
    // never split across bins, so the map is deterministic
    val binned = scanned.crossJoin(broadcast(n))
      .select(expr(s"(cast(cum - ct as decimal(38,0)) * $nBins) div n")
          .as("bin"), col("ct"), col("py"))
      .groupBy(col("bin"))
      .agg(sum(col("ct")).as("nb"), sum(col("py")).as("pb"))
    // prefix sums over the ≤ nBins-row metadata frame: a single
    // bounded window is correct here (the Scan discipline's exception)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(Long.MinValue, 0)
    val pre = binned
      .withColumn("cn", sum(col("nb")).over(w))
      .withColumn("cp", sum(col("pb")).over(w))
      .transform(Checkpoints(_)) // three bounded self-joins below
    // interval averages a(j,k) = floor(1e6·(Sk − Sj₋₁)/(Ck − Cj₋₁)):
    // bounded triangle self-join (≤ B²/2 rows)
    val j = pre.select(col("bin").as("j"),
      (col("cn") - col("nb")).as("cnj"), (col("cp") - col("pb")).as("cpj"))
    val k = pre.select(col("bin").as("k"),
      col("cn").as("cnk"), col("cp").as("cpk"))
    val pairs = j.join(k, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(cast(cpk - cpj as decimal(38,0)) * 1000000) " +
          "div (cnk - cnj)").as("a"))
    // fit_i = max_{j≤i} min_{k≥i} a(j,k): attach every (j,k) to each
    // bin i in [j,k] (B³/6 rows, plan-time bounded), min per (i,j),
    // max per i — floor is monotone, so this IS the floored PAV fit
    val i = pre.select(col("bin").as("i"), col("nb"), col("pb"))
    val fit = i.join(pairs,
        col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("nb"), col("pb"), col("j"))
      .agg(min(col("a")).as("mn"))
      .groupBy(col("i"), col("nb"), col("pb"))
      .agg(max(col("mn")).as("fit_micro"))
    fit.select(col("i").cast("int").as("bin"),
      col("nb").as("n"), col("pb").as("pos"),
      expr("(cast(pb as decimal(38,0)) * 1000000) div nb")
        .as("rate_micro"),
      col("fit_micro").cast("long").as("fit_micro"))
  }

  /** Split-conformal threshold + held-out coverage audit.
    *
    * @param isCal  boolean column marking the calibration split
    * @param alpha  miscoverage target as an exact PERCENT (plan-time
    *               integer — keeps the rank rule libm-free)
    * @return one row: (n_cal, k_rank, qhat_cents, n_test, n_covered,
    *         coverage_micro) — coverage_micro ≥ (1−α)·10⁶ in
    *         expectation by the conformal guarantee
    */
  def conformalThreshold(df: DataFrame, scoreCol: String, isCal: Column,
      alphaPct: Int = 10): DataFrame = {
    require(alphaPct >= 1 && alphaPct < 100, "alpha percent in [1, 100)")
    val base = df.where(col(scoreCol).isNotNull)
      .select(cents(col(scoreCol)).as("v"), isCal.as("cal"))
      .transform(Checkpoints(_)) // feeds the scan AND the audit
    val calCounts = base.where(col("cal"))
      .groupBy(col("v")).agg(count(lit(1)).as("ct"))
    val scanned = Scan.globalRunningSum(calCounts, Seq("v"),
      col("ct"), "cum")
    val n = calCounts.agg(sum(col("ct")).as("n_cal"))
    // k = ⌈(n+1)(1−α)⌉ = ((n+1)·(100−α) + 99) div 100 — exact; qhat =
    // smallest score with cum ≥ k (clamped to the max when k > n)
    val qhat = scanned.crossJoin(broadcast(n))
      .select(col("v"), col("cum"), col("n_cal"),
        expr(s"((n_cal + 1) * ${100 - alphaPct} + 99) div 100").as("k"))
      .agg(max(col("n_cal")).as("n_cal"), max(col("k")).as("k_rank"),
        coalesce(min(when(col("cum") >= col("k"), col("v"))),
          max(col("v"))).as("qhat"))
    val audit = base.where(!col("cal"))
      .crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).as("n_cal"), max(col("k_rank")).as("k_rank"),
        max(col("qhat")).as("qhat_cents"),
        count(lit(1)).as("n_test"),
        sum(when(col("v") <= col("qhat"), 1L).otherwise(0L))
          .as("n_covered"))
    audit.select(col("n_cal"), col("k_rank"), col("qhat_cents"),
      col("n_test"), col("n_covered"),
      expr("(cast(n_covered as decimal(38,0)) * 1000000) div n_test")
        .as("coverage_micro"))
  }
}
