package graft.mart

import graft.ts.Bars
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Price/volume channel extension indicators: session VWAP,
  * Williams %R(n), and CCI(n) — the remaining staples a user of the
  * reference's indicator mart reaches for next (extension territory;
  * the reference's own surface ends at
  * modules/common/calculate_market_indicators.py:29-54).
  *
  * Definitions (per symbol, bars ordered by time; tp = (h+l+c)/3):
  *   - VWAP: Σ(tp·vol)/Σ(vol) cumulative WITHIN the UTC day — the
  *     session-reset definition traders use, which doubles as a test of
  *     a two-level partition key (id, day) sharing the (id, t) sort;
  *   - %R_t = −100·(HH_n − c)/(HH_n − LL_n) over the n-bar channel
  *     (0 when the channel is flat, mirroring the stoch_raw guard);
  *   - CCI_t = (tp − SMA_n(tp)) / (0.015·MD_t), MD_t the mean absolute
  *     deviation of the n-bar window's tp values around the CURRENT
  *     window's SMA (0 when MD = 0). MD depends on both the member row
  *     AND the window anchor, so it is NOT a plain frame aggregate —
  *     it evaluates as a codegen'd HOF fold over the frame's
  *     `collect_list`, keeping the whole mart joinless.
  *
  * Scale shape: ONE (id, t) sort carries every column — the VWAP
  * running sums partition by (id, day), which is a strict refinement of
  * the (id) hash partitioning, so Catalyst appends the day-keyed Window
  * to the same exchange (no second shuffle; the day bound also caps
  * VWAP state). The N_multiple pre-scaling is applied for family
  * consistency ([[IndicatorDay]]); %R and CCI are scale-invariant,
  * VWAP scales like price.
  */
object Channels {

  /** Full channel frame over bars (id, tkey, open, high, low, close,
    * volume) + carry columns: carry ++ (id, tkey, vwap, willr, cci),
    * Double values, warm-up rows NULL (vwap from bar 1, %R from bar n,
    * CCI from bar n of each symbol's history).
    */
  def indicators(bars: DataFrame, n: Int = 14, cciN: Int = 20,
      carry: Seq[String] = Nil): DataFrame = {
    val scaled = MartConfig.crypto.scaledPrices(bars)
      .withColumn("day", expr("tkey div 86400"))

    val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
    def frame(k: Int) = w.rowsBetween(-(k - 1), 0)
    val wd = Window.partitionBy(col("id"), col("day")).orderBy(col("tkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val rn = row_number().over(w)

    val s1 = scaled.select(col("*"), rn.as("rn"),
      sum(col("tp") * col("volume")).over(wd).as("cpv"),
      sum(col("volume")).over(wd).as("cv"),
      max(col("hs")).over(frame(n)).as("hh"),
      min(col("ls")).over(frame(n)).as("ll"),
      avg(col("tp")).over(frame(cciN)).as("tp_sma"),
      collect_list(col("tp")).over(frame(cciN)).as("tp_win"))

    val s2 = s1.select(col("*"),
      when(col("cv") =!= 0.0, col("cpv") / col("cv")).as("vwap"),
      when(col("rn") >= n,
        when(col("hh") =!= col("ll"),
          lit(-100.0) * (col("hh") - col("cs")) / (col("hh") - col("ll")))
          .otherwise(lit(0.0))).as("willr"),
      when(col("rn") >= cciN,
        aggregate(col("tp_win"), lit(0.0),
          (acc, x) => acc + abs(x - col("tp_sma"))) / lit(cciN.toDouble))
        .as("md"))

    val s3 = s2.select(col("*"),
      when(col("md").isNotNull,
        when(col("md") =!= 0.0,
          (col("tp") - col("tp_sma")) / (lit(0.015) * col("md")))
          .otherwise(lit(0.0))).as("cci"))

    s3.select((carry.map(col) ++ Seq(col("id"), col("tkey"),
      col("vwap"), col("willr"), col("cci"))): _*)
  }

  /** Channel frame on hourly bars at REAL precision, keyed (id, t). */
  def hourly(events: DataFrame, n: Int = 14, cciN: Int = 20): DataFrame = {
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    indicators(bars, n, cciN, carry = Seq("t"))
      .select(col("id"), col("t"),
        col("vwap").cast("float").as("vwap"),
        col("willr").cast("float").as("willr"),
        col("cci").cast("float").as("cci"))
  }
}
