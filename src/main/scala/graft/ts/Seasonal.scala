package graft.ts

import graft.queries.QueryPack.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** STL-lite additive decomposition of daily closes:
  * close = trend + seasonal + residual, with trend a centered 7-day
  * moving average (full windows only), seasonal the per-(symbol,
  * weekday) mean of the detrended series, and residual the rest —
  * the day-of-week effect extractor ahead of any anomaly/forecast
  * pass.
  *
  * DETERMINISM: trend is rounded to 4 decimals at the point it enters
  * downstream arithmetic; the detrended series is then carried as a
  * SCALED LONG (units of 1e-4) and the seasonal mean is rounded
  * half-up with pure integer arithmetic — `(2|S| + n) div (2n)` —
  * because a mean of 4-decimal values over a small count lands
  * EXACTLY on round-half boundaries, where double `round` is
  * engine-dependent (Spark rounds the binary value's exact decimal
  * expansion via BigDecimal; DuckDB rounds `x*10⁴` whose own FP error
  * can sit on either side). Integer div agrees everywhere; residuals
  * are then exact integer differences rescaled once.
  *
  * Scale shape: one symbol-keyed exchange for the centered window;
  * the seasonal means group on (symbol, weekday) — 7 groups per
  * symbol, partial-aggregated map-side, joined back on the same key
  * prefix (AQE broadcasts the tiny mean table).
  */
object Seasonal {

  /** bars(id, dt, close) → (id, dt, dow, close, trend, seasonal,
    * resid); trend NULL at the edges (no full 7-day window), seasonal
    * and resid NULL with it. */
  def decompose(bars: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("dt"))
      .rowsBetween(-3, 3)
    val trended = bars
      .withColumn("trend",
        when(count(lit(1)).over(w) === 7,
          round(avg(col("close")).over(w), 4)))
      .withColumn("dow", dayofweek(col("dt")))
      .withColumn("detr_s",
        round((col("close") - col("trend")) * 10000).cast("long"))
    val seasonal = trended.where(col("detr_s").isNotNull)
      .groupBy(col("id"), col("dow"))
      .agg(sum(col("detr_s")).as("S"), count(lit(1)).as("n"))
      .select(col("id"), col("dow"),
        (signum(col("S")).cast("long") *
          expr("(2 * abs(S) + n) DIV (2 * n)")).as("seasonal_s"))
    trended.join(seasonal, Seq("id", "dow"), "left_outer")
      .select(col("id"), col("dt"), col("dow"), col("close"),
        col("trend").cast("float").as("trend"),
        when(col("trend").isNotNull,
          col("seasonal_s").cast("double") / 10000d).cast("float")
          .as("seasonal"),
        when(col("trend").isNotNull,
          (col("detr_s") - col("seasonal_s")).cast("double") / 10000d)
          .cast("float").as("resid"))
  }

  /** Trend / seasonal STRENGTH (Hyndman & Athanasopoulos, FPP §
    * "Measuring strength of trend and seasonality") over the
    * [[decompose]] components — the one-number-per-series summaries
    * that decide whether a forecasting pass should model trend,
    * seasonality, both, or neither:
    * {{{
    *   F_T = max(0, 1 − Var(R)/Var(T+R))   (strength of trend)
    *   F_S = max(0, 1 − Var(R)/Var(S+R))   (strength of seasonality)
    * }}}
    * Both in [0, 1]; NULL when the reference variance is 0 (a flat
    * series has no strength to measure — never an ANSI fault).
    *
    * Determinism: the components ride [[decompose]]'s EXACT scaled
    * longs (detr_s, seasonal_s, and trend·10⁴ which is integral by
    * the round-4 contract), so all three variances come from exact
    * DECIMAL moments; the two F readouts are one fixed IEEE sequence
    * under the shared floor rounding.
    *
    * Scale shape: [[decompose]]'s one symbol-keyed exchange + the
    * tiny seasonal join, then ONE map-side-combined 7-moment groupBy
    * to |symbols| rows.
    *
    * @return (id, n, f_trend, f_seasonal) per series
    */
  def strength(bars: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("dt"))
      .rowsBetween(-3, 3)
    val trended = bars
      .withColumn("trend",
        when(count(lit(1)).over(w) === 7,
          round(avg(col("close")).over(w), 4)))
      .withColumn("dow", dayofweek(col("dt")))
      .withColumn("detr_s",
        round((col("close") - col("trend")) * 10000).cast("long"))
    val seasonal = trended.where(col("detr_s").isNotNull)
      .groupBy(col("id"), col("dow"))
      .agg(sum(col("detr_s")).as("S"), count(lit(1)).as("n"))
      .select(col("id"), col("dow"),
        (signum(col("S")).cast("long") *
          expr("(2 * abs(S) + n) DIV (2 * n)")).as("seasonal_s"))
    val rows = trended.join(seasonal, Seq("id", "dow"))
      .where(col("detr_s").isNotNull)
      .select(col("id"),
        (col("detr_s") - col("seasonal_s")).as("rs"),
        col("detr_s").as("srs"),
        (round(col("trend") * 10000).cast("long") +
          (col("detr_s") - col("seasonal_s"))).as("trs"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    def mom(c: String) = Seq(
      sum(dec(col(c)).cast("decimal(38,0)")).as(s"s_$c"),
      sum((dec(col(c)) * dec(col(c))).cast("decimal(38,0)"))
        .as(s"q_$c"))
    val aggs = Seq(count(lit(1)).as("n")) ++
      mom("rs") ++ mom("srs") ++ mom("trs")
    val m = rows.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    def d(c: String) = col(c).cast("double")
    def vr(c: String) =
      (d(s"q_$c") / col("n") -
        (d(s"s_$c") / col("n")) * (d(s"s_$c") / col("n"))) / 1e8
    val ft = when(vr("trs") > 0,
      greatest(lit(0.0), lit(1.0) - vr("rs") / vr("trs")))
    val fs = when(vr("srs") > 0,
      greatest(lit(0.0), lit(1.0) - vr("rs") / vr("srs")))
    m.select(col("id"), col("n"), r6(ft).as("f_trend"),
      r6(fs).as("f_seasonal"))
  }
}
