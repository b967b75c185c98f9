package graft.mart

import graft.functions.TaFunctions
import graft.ts.Bars
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trend-strength extension indicators: ATR(n) and the ADX(n) chain
  * (+DI / −DI / DX / ADX) — Wilder's directional-movement system.
  *
  * Extension territory: the reference's indicator surface
  * (modules/common/calculate_market_indicators.py:29-54) stops at the
  * ten families [[IndicatorDay]] reproduces; ATR/ADX are the canonical
  * next asks of the same mart's users, and they exercise a recurrence
  * shape the existing families don't: a TWO-LEVEL Wilder smoothing
  * (ADX smooths DX, which is itself a ratio of three smoothed series).
  *
  * Definitions (per symbol, bars ordered by time; Wilder 1978):
  *   - TR_t  = max(h−l, |h−prev_c|, |l−prev_c|)           (t ≥ 2)
  *   - +DM_t = h−prev_h if it exceeds prev_l−l and 0, else 0
  *   - −DM_t = prev_l−l if it exceeds h−prev_h and 0, else 0
  *   - ATR / sm(±DM): Wilder smoothing (α = 1/n, SMA-seeded) of the
  *     delta series — defined from the (n+1)-th bar;
  *   - ±DI_t = 100·sm(±DM)_t / ATR_t (0 when ATR = 0);
  *   - DX_t  = 100·|+DI−−DI| / (+DI+−DI) (0 when the sum is 0);
  *   - ADX   = Wilder smoothing of DX — defined from bar 2n.
  *
  * Contract choices (both engine and oracle): the bar-1 TR (= h−l,
  * which has no previous close) is EXCLUDED — every smoothed series
  * consumes exactly the delta rows, so ATR/±DI/DX appear at bar n+1
  * and ADX at bar 2n. DI ratios make the whole chain scale-invariant;
  * ATR itself scales with the [[IndicatorDay]] N_multiple pre-scaling,
  * which is applied identically here for family consistency.
  *
  * Scale shape: one `Window.partitionBy(id).orderBy(tkey)` sort carries
  * the lags, all three first-level Wilder smoothings (native
  * [[graft.functions.Ema]] running aggregates of kind
  * [[graft.functions.Ema.Wilder]]), and the
  * second-level ADX smoothing — the NULL-skip seed rule means DX's
  * n-row warm-up NULLs don't perturb the ADX seed. ONE shuffle total,
  * no joins, no per-symbol driver loop; per-task memory is O(1) per
  * aggregate. Same plan discipline as [[IndicatorDay.indicators]].
  */
object Trend {

  /** Full trend frame over bars (id, tkey, open, high, low, close,
    * volume) + carry columns. Output: carry ++ (id, tkey, atr,
    * plus_di, minus_di, dx, adx), values Double, warm-up rows NULL.
    */
  def indicators(bars: DataFrame, n: Int = 14,
      carry: Seq[String] = Nil): DataFrame = {
    val scaled = MartConfig.crypto.scaledPrices(bars)

    val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)

    // Delta columns: NULL on each symbol's first bar (no previous
    // close), so the NULL-skipping Wilder aggregates consume exactly
    // the delta series and seed on its first n values.
    val s1 = scaled.select(col("*"),
      lag(col("hs"), 1).over(w).as("ph"),
      lag(col("ls"), 1).over(w).as("pl"),
      lag(col("cs"), 1).over(w).as("pc"))
    val up = col("ph").isNotNull // delta-row guard (ph/pl/pc share nullity)
    val s2 = s1.select(col("*"),
      when(up, greatest(col("hs") - col("ls"),
        abs(col("hs") - col("pc")), abs(col("ls") - col("pc")))).as("tr"),
      when(up, when(col("hs") - col("ph") > col("pl") - col("ls") &&
          col("hs") - col("ph") > 0, col("hs") - col("ph"))
        .otherwise(lit(0.0))).as("pdm"),
      when(up, when(col("pl") - col("ls") > col("hs") - col("ph") &&
          col("pl") - col("ls") > 0, col("pl") - col("ls"))
        .otherwise(lit(0.0))).as("mdm"))

    val s3 = s2.select(col("*"),
      TaFunctions.wilderMa(col("tr"), n).over(run).as("atr"),
      TaFunctions.wilderMa(col("pdm"), n).over(run).as("smp"),
      TaFunctions.wilderMa(col("mdm"), n).over(run).as("smm"))

    def di(sm: String) =
      when(col("atr").isNotNull,
        when(col("atr") =!= 0.0, lit(100.0) * col(sm) / col("atr"))
          .otherwise(lit(0.0)))
    val s4 = s3.select(col("*"),
      di("smp").as("plus_di"), di("smm").as("minus_di"))
    val s5 = s4.select(col("*"),
      when(col("plus_di").isNotNull,
        when(col("plus_di") + col("minus_di") =!= 0.0,
          lit(100.0) * abs(col("plus_di") - col("minus_di")) /
            (col("plus_di") + col("minus_di")))
          .otherwise(lit(0.0))).as("dx"))
    val s6 = s5.select(col("*"),
      TaFunctions.wilderMa(col("dx"), n).over(run).as("adx"))

    s6.select((carry.map(col) ++ Seq(col("id"), col("tkey"),
      col("atr"), col("plus_di"), col("minus_di"),
      col("dx"), col("adx"))): _*)
  }

  /** Trend frame on hourly bars, values at REAL precision (absorbing
    * cross-engine double drift like the q32–q41 family; no zero→NULL
    * edge — that quirk is the reference mart's output contract, and
    * these are extension columns). Keyed (id, t: epoch seconds).
    */
  def hourly(events: DataFrame, n: Int = 14): DataFrame = {
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    indicators(bars, n, carry = Seq("t"))
      .select(col("id"), col("t"),
        col("atr").cast("float").as("atr"),
        col("plus_di").cast("float").as("plus_di"),
        col("minus_di").cast("float").as("minus_di"),
        col("dx").cast("float").as("dx"),
        col("adx").cast("float").as("adx"))
  }
}
