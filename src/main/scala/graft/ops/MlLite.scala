package graft.ops

import graft.Checkpoints
import graft.queries.QueryPack.cents
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-warehouse model-training primitives — the "train the filter
  * where the data lives" members beside [[graft.llm.NaiveBayes]]:
  * a one-feature logistic regression fit by Newton's method and an
  * exact CART decision stump. Both are built so the ITERATIVE /
  * SEARCH structure is deterministic cross-engine: exact integer
  * statistics wherever the math allows, pico-floored per-row terms
  * (the q355 JSD discipline) where a sigmoid genuinely needs libm,
  * and every argmax an exact integer compare under a total order.
  */
object MlLite {

  private def pico(x: Column): Column =
    floor(x * lit(1e12)).cast("long").cast("decimal(38,0)")

  /** Logistic regression P(y|x) = σ(b0 + b1·x) fit by `iters` Newton
    * steps from β = 0 — the calibrated-probability upgrade over a
    * hard threshold, trained fully distributed: each step reduces
    * five sufficient statistics (Σw, Σwx, Σwx², Σr, Σrx with
    * w = p(1−p), r = y − p) map-side and applies a CLOSED-FORM 2×2
    * solve (Cramer) — β is threaded between steps as a ONE-ROW FRAME
    * joined back by broadcast, never a driver-side collect (the
    * engine-wide no-collect contract).
    *
    * Determinism: x is exact cents × a plan-time scale; at β = 0 the
    * first step needs no libm at all (p = 1/2, w = 1/4 for every
    * row); later steps compute σ per row on bit-identical double
    * inputs and PICO-floor every term before the cross-row sums, so
    * all five statistics are exact DECIMAL integers and each solve
    * is one fixed IEEE sequence on the one-row frame.
    *
    * @return one row (n, n_pos, intercept, slope) — round-6 floats
    */
  def logisticNewton(df: DataFrame, valueCol: String, isPos: Column,
      xScale: Double = 1e-4, iters: Int = 2): DataFrame = {
    require(iters >= 1, "logistic Newton needs at least one step")
    val base = df.where(col(valueCol).isNotNull)
      .select((cents(col(valueCol)).cast("double") * lit(xScale)).as("x"),
        when(isPos, 1.0).otherwise(0.0).as("y"))
      .transform(Checkpoints(_)) // every Newton step re-reads the frame
    def solve(stats: DataFrame): DataFrame = {
      def d(n: String) = col(n).cast("double") / lit(1e12)
      val (sw, swx, swxx, sr, srx) =
        (d("sw"), d("swx"), d("swxx"), d("sr"), d("srx"))
      val det = sw * swxx - swx * swx
      stats.select(
        (col("b0") + when(det =!= 0.0,
          (swxx * sr - swx * srx) / det).otherwise(lit(0.0))).as("b0"),
        (col("b1") + when(det =!= 0.0,
          (sw * srx - swx * sr) / det).otherwise(lit(0.0))).as("b1"))
    }
    // step 1 at β = 0: p = 1/2 and w = 1/4 exactly for EVERY row —
    // the statistics are exact sums with no libm anywhere
    var beta = solve(base.agg(
      max(lit(0.0)).as("b0"), max(lit(0.0)).as("b1"),
      pico(lit(0.25)).multiply(count(lit(1))).as("sw"),
      sum(pico(col("x") * lit(0.25))).as("swx"),
      sum(pico(col("x") * col("x") * lit(0.25))).as("swxx"),
      sum(pico(col("y") - lit(0.5))).as("sr"),
      sum(pico((col("y") - lit(0.5)) * col("x"))).as("srx")))
    for (_ <- 2 to iters) {
      val eta = col("b0") + col("b1") * col("x")
      val p = lit(1.0) / (lit(1.0) + exp(-eta))
      val w = p * (lit(1.0) - p)
      val stats = base.crossJoin(broadcast(beta))
        .groupBy(col("b0"), col("b1"))
        .agg(sum(pico(w)).as("sw"),
          sum(pico(w * col("x"))).as("swx"),
          sum(pico(w * col("x") * col("x"))).as("swxx"),
          sum(pico(col("y") - p)).as("sr"),
          sum(pico((col("y") - p) * col("x"))).as("srx"))
      beta = solve(stats)
    }
    base.agg(count(lit(1)).as("n"),
        sum(col("y")).cast("long").as("n_pos"))
      .crossJoin(broadcast(beta))
      .select(col("n"), col("n_pos"),
        round(col("b0"), 6).cast("float").as("intercept"),
        round(col("b1"), 6).cast("float").as("slope"))
  }

  /** CART decision stump on one numeric feature against a boolean
    * label — the single best "x ≤ v" split by weighted Gini impurity
    * (Breiman et al. 1984), EXACT end to end: per distinct value a
    * (count, positives) pair, the global prefix scan
    * ([[Scan.globalRunningSums]] — never a single-task sort) gives
    * every candidate split's left/right class counts as exact longs,
    * and the split score Σ_side Σ_class c²/n_side becomes the exact
    * integer (A·n_R + B·n_L)·10⁶ div (n_L·n_R) — the argmax an
    * integer compare with a (score desc, value asc) total order, so
    * both engines pick the identical split (quantization ties break
    * to the smaller value in BOTH). 10⁶ units keep the decimal(38,0)
    * products exact past 10¹⁰ input rows.
    *
    * @return one row (split_cents, n_left, pos_left, n_right,
    *         pos_right, gini) — gini = weighted impurity at the split
    */
  def decisionStump(df: DataFrame, valueCol: String,
      isPos: Column): DataFrame = {
    val counts = df.where(col(valueCol).isNotNull)
      .select(cents(col(valueCol)).as("v"),
        when(isPos, 1L).otherwise(0L).as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val scanned = Scan.globalRunningSums(counts, Seq("v"),
      Seq(col("c") -> "nl", col("p") -> "pl"))
    val tot = counts.agg(sum(col("c")).as("nt"), sum(col("p")).as("pt"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val scored = scanned.crossJoin(broadcast(tot))
      .where(col("nl") < col("nt")) // the last value splits nothing
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("pr", col("pt") - col("pl"))
      .withColumn("ga", dec(col("pl")) * col("pl") +
        dec(col("nl") - col("pl")) * (col("nl") - col("pl")))
      .withColumn("gb", dec(col("pr")) * col("pr") +
        dec(col("nr") - col("pr")) * (col("nr") - col("pr")))
      .withColumn("score_fp", expr("(ga * nr + gb * nl) * 1000000 " +
        "div (cast(nl as decimal(38,0)) * nr)"))
    val best = scored.agg(min_by(
      struct(col("v"), col("nl"), col("pl"), col("nr"), col("pr"),
        col("score_fp"), col("nt")),
      struct((-col("score_fp")).as("ns"), col("v"))).as("s"))
    // degenerate input (no rows, or one distinct value → no candidate
    // split) must yield ZERO rows, matching the oracle's
    // row_number()+rk=1 formulation — not one all-NULL aggregate row
    // (r14 advice).
    best.where(col("s").isNotNull)
      .select(col("s.v").as("split_cents"),
      col("s.nl").as("n_left"), col("s.pl").as("pos_left"),
      col("s.nr").as("n_right"), col("s.pr").as("pos_right"),
      round(lit(1.0) -
        col("s.score_fp").cast("double") / lit(1e6) /
          col("s.nt").cast("double"), 6)
        .cast("float").as("gini"))
  }
}
