package graft.mart

import graft.functions.TaFunctions
import graft.ts.Bars
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Price-channel extension indicators: Donchian(n) breakout channels
  * and Keltner(emaN, mult·ATR(atrN)) volatility bands.
  *
  * Extension territory (the reference's surface ends at the
  * [[IndicatorDay]] families, modules/common/calculate_market_indicators
  * .py:29-54); these are the two channel systems its Bollinger users
  * ask for next, and together they exercise the mart's two recurrence
  * tiers in one frame: Donchian is pure bounded-frame max/min, Keltner
  * composes the native SMA-seeded EMA with the Wilder ATR — both the
  * one [[graft.functions.Ema]] running aggregate (α = 2/(n+1) and 1/n)
  * on the shared (id, tkey) sort.
  *
  * Definitions (per symbol, bars ordered by time; Donchian 1970,
  * Keltner as popularized by Chester 1980s):
  *   - Donchian: upper = max(h, n), lower = min(l, n),
  *     mid = (upper+lower)/2 — defined from bar n;
  *   - Keltner: center = EMA_emaN(tp), tp = (h+l+c)/3; band =
  *     mult·ATR_atrN (delta-series Wilder smoothing, bar-1 TR excluded
  *     exactly as [[Trend]]); upper/lower = center ± band — defined
  *     from bar max(emaN, atrN+1).
  *
  * Scale shape: ONE (id, tkey) exchange+sort carries the frames, the
  * lag, and both running aggregates; no joins. The [[IndicatorDay]]
  * N_multiple pre-scaling applies for family consistency (channels
  * scale like price).
  */
object BandChannels {

  /** Full channel frame over bars (id, tkey, open, high, low, close,
    * volume) + carry: carry ++ (id, tkey, don_upper, don_lower,
    * don_mid, kel_center, kel_upper, kel_lower), warm-up rows NULL.
    */
  def indicators(bars: DataFrame, donN: Int = 20, emaN: Int = 20,
      atrN: Int = 10, mult: Double = 2.0,
      carry: Seq[String] = Nil): DataFrame = {
    val scaled = MartConfig.crypto.scaledPrices(bars)

    val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
    def frame(k: Int) = w.rowsBetween(-(k - 1), 0)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)

    val s1 = scaled.select(col("*"),
      row_number().over(w).as("rn"),
      lag(col("hs"), 1).over(w).as("ph"),
      lag(col("ls"), 1).over(w).as("pl"),
      lag(col("cs"), 1).over(w).as("pc"),
      max(col("hs")).over(frame(donN)).as("hh"),
      min(col("ls")).over(frame(donN)).as("ll"))

    val s2 = s1.select(col("*"),
      when(col("pc").isNotNull, greatest(col("hs") - col("ls"),
        abs(col("hs") - col("pc")), abs(col("ls") - col("pc")))).as("tr"))

    val s3 = s2.select(col("*"),
      TaFunctions.ema(col("tp"), emaN).over(run).as("kel_center"),
      TaFunctions.wilderMa(col("tr"), atrN).over(run).as("atr"))

    val s4 = s3.select(col("*"),
      when(col("rn") >= donN, col("hh")).as("don_upper"),
      when(col("rn") >= donN, col("ll")).as("don_lower"),
      when(col("rn") >= donN, (col("hh") + col("ll")) / lit(2.0))
        .as("don_mid"),
      when(col("kel_center").isNotNull && col("atr").isNotNull,
        col("kel_center") + lit(mult) * col("atr")).as("kel_upper"),
      when(col("kel_center").isNotNull && col("atr").isNotNull,
        col("kel_center") - lit(mult) * col("atr")).as("kel_lower"))

    s4.select((carry.map(col) ++ Seq(col("id"), col("tkey"),
      col("don_upper"), col("don_lower"), col("don_mid"),
      col("kel_center"), col("kel_upper"), col("kel_lower"))): _*)
  }

  /** Channel frame on hourly bars at REAL precision, keyed (id, t).
    * kel_center is masked to the band rows (NULL until the ATR is
    * also warm) so the three Keltner columns share one definition
    * domain.
    */
  def hourly(events: DataFrame, donN: Int = 20, emaN: Int = 20,
      atrN: Int = 10, mult: Double = 2.0): DataFrame = {
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    indicators(bars, donN, emaN, atrN, mult, carry = Seq("t"))
      .select(col("id"), col("t"),
        col("don_upper").cast("float").as("don_upper"),
        col("don_lower").cast("float").as("don_lower"),
        col("don_mid").cast("float").as("don_mid"),
        when(col("kel_upper").isNotNull, col("kel_center"))
          .cast("float").as("kel_center"),
        col("kel_upper").cast("float").as("kel_upper"),
        col("kel_lower").cast("float").as("kel_lower"))
  }
}
