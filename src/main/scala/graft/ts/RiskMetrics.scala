package graft.ts

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Risk-adjusted return metrics over daily bars — the quant-desk
  * readouts beside [[Drawdown]]'s max drawdown and [[CrossCorr]]'s
  * lead-lag screen: per-symbol annualized Sharpe and Sortino ratios
  * (crypto trades every day, so the annualizer is √365), and the
  * CAPM regression of each symbol against the equal-weight market
  * return (beta = systematic exposure, alpha = daily excess drift).
  *
  * Returns ride [[CrossCorr]]'s exact fixed-point discipline
  * verbatim: close/prev − 1 guarded against zero closes, winsorized
  * at ±10, 1e-6-rounded to an exact long — so every moment sum is
  * integer arithmetic (order-independent) and the ratios are fixed
  * IEEE sequences per symbol on a bounded per-symbol frame. The
  * market return needs one extra device: the per-day equal-weight
  * mean is a RATIONAL (Σrs / n_symbols), quantized back to the micro
  * grid by a PORTABLE floor division ((s − ((s % n) + n) % n) / n —
  * Spark's `div` truncates toward zero while DuckDB's `//` floors,
  * and market returns go negative, so neither operator is used raw).
  *
  * Scale shape: returns are one symbol-keyed window pass; Sharpe /
  * Sortino are one map-side-combined groupBy(symbol); CAPM adds one
  * day-keyed aggregate (bounded by the calendar) broadcast back onto
  * the return rows, then the same per-symbol moment groupBy.
  */
object RiskMetrics {

  private val sqrt365 = math.sqrt(365.0)

  /** The [[CrossCorr]] return frame: (id, dt, rs) micro-scaled. */
  private def microReturns(bars: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("dt"))
    val prev = lag(col("close"), 1).over(w)
    bars
      .withColumn("r", when(prev =!= 0, col("close") / prev - 1))
      .where(col("r").isNotNull)
      .withColumn("r", least(greatest(col("r"), lit(-10d)), lit(10d)))
      .select(col("id"), col("dt"),
        round(col("r") * 1e6, 0).cast("long").as("rs"))
  }

  /** Annualized Sharpe (rf = 0) and Sortino (MAR = 0) per symbol.
    * @return (id, n, ann_ret, sharpe, sortino)
    */
  def sharpeSortino(bars: DataFrame, minObs: Int = 10): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val m = microReturns(bars).groupBy(col("id"))
      .agg(count(lit(1)).as("n"),
        sum(col("rs")).as("s1"),
        sum(dec(col("rs")) * col("rs")).as("s2"),
        sum(dec(least(col("rs"), lit(0L))) * least(col("rs"), lit(0L)))
          .as("sn2"))
      .where(col("n") >= minObs)
    val nD = col("n").cast("double")
    val s1D = col("s1").cast("double")
    val mean = s1D / nD
    val varS = (nD * col("s2").cast("double") - s1D * s1D) /
      (nD * (nD - 1.0))
    val dd2 = col("sn2").cast("double") / nD
    m.select(col("id"), col("n").cast("int").as("n"),
      round(mean * lit(365.0) / lit(1e6), 6).cast("float").as("ann_ret"),
      round(when(varS > 0.0, mean / sqrt(varS) * lit(sqrt365)), 4)
        .cast("float").as("sharpe"),
      round(when(dd2 > 0.0, mean / sqrt(dd2) * lit(sqrt365)), 4)
        .cast("float").as("sortino"))
  }

  /** CAPM regression per symbol against the equal-weight market:
    * r_i = α + β·r_m. Market return per day = the micro-grid floor
    * of Σrs/n; per-symbol OLS moments exact decimal.
    * @return (id, n, beta, alpha_daily, r2)
    */
  def capm(bars: DataFrame, minObs: Int = 10): DataFrame = {
    val rets = Checkpoints(microReturns(bars))
    // portable floor division (see class doc): ((s % n) + n) % n ≥ 0
    val mkt = rets.groupBy(col("dt"))
      .agg(sum(col("rs")).as("ms"), count(lit(1)).as("mc"))
      .select(col("dt"),
        ((col("ms") - (pmod(col("ms") % col("mc") + col("mc"),
          col("mc")))) / col("mc")).cast("long").as("xm"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val j = rets.join(broadcast(mkt), "dt")
    val g = j.groupBy(col("id"))
      .agg(count(lit(1)).as("n"),
        sum(col("xm")).as("sx"), sum(col("rs")).as("sy"),
        sum(dec(col("xm")) * col("rs")).as("sxy"),
        sum(dec(col("xm")) * col("xm")).as("sxx"),
        sum(dec(col("rs")) * col("rs")).as("syy"))
      .where(col("n") >= minObs)
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val vx = nD * col("sxx").cast("double") - sxD * sxD
    val vy = nD * col("syy").cast("double") - syD * syD
    val cv = nD * col("sxy").cast("double") - sxD * syD
    val beta = cv / vx
    g.select(col("id"), col("n").cast("int").as("n"),
      round(when(vx > 0.0, beta), 4).cast("float").as("beta"),
      round(when(vx > 0.0,
        (syD - beta * sxD) / nD / lit(1e6)), 8)
        .cast("float").as("alpha_daily"),
      round(when(vx > 0.0 && vy > 0.0, cv * cv / (vx * vy)), 4)
        .cast("float").as("r2"))
  }
}
