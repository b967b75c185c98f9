package graft.mart

import graft.functions.TaFunctions
import graft.ts.Bars
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TRIX(n): 1-bar rate of change of a TRIPLE-smoothed EMA —
  * the momentum oscillator that filters insignificant moves by
  * smoothing three times before differentiating (Hutson 1983).
  *
  * Extension territory beyond the reference's indicator surface
  * (modules/common/calculate_market_indicators.py:29-54); exercises a
  * shape the existing families don't: a CHAIN of three recurrences,
  * each consuming the previous one's output column.
  *
  * Definitions (per symbol, bars ordered by time; SMA-seeded EMAs,
  * matching the reference's pandas `ewm(adjust=False)` seed contract
  * used across the [[IndicatorDay]] family):
  *   - e1 = EMA_n(close)   — defined from bar n;
  *   - e2 = EMA_n(e1)      — NULL-skip seeding ⇒ defined from 2n−1;
  *   - e3 = EMA_n(e2)      — defined from 3n−2;
  *   - TRIX = 100·(e3 − prev e3)/prev e3 — defined from 3n−1 (0 when
  *     the previous e3 is 0, mirroring the family's ratio guards).
  *
  * Scale shape: the three EMA window aggregates stack as three Window
  * nodes LEVELED onto materialized columns over ONE (id, tkey)
  * exchange+sort (each consumes the previous select's column; same
  * partitioning and ordering, so Catalyst plans no further exchange) —
  * the same leveling discipline as the PACF Durbin-Levinson unroll.
  * The NULL-skip seed rule of [[graft.functions.Ema]] makes each
  * stage's warm-up NULLs invisible to the next stage's SMA seed.
  */
object Trix {

  /** TRIX frame over bars: carry ++ (id, tkey, e3, trix), Doubles,
    * warm-up rows NULL. TRIX is price-scale-invariant, so the
    * N_multiple pre-scaling is applied only to keep e3 consistent
    * with the family's scaled closes.
    */
  def indicators(bars: DataFrame, n: Int = 15,
      carry: Seq[String] = Nil): DataFrame = {
    val scaled =
      bars.withColumn("cs", col("close") * MartConfig.crypto.nMultipleCol)

    val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)

    val s1 = scaled.select(col("*"),
      TaFunctions.ema(col("cs"), n).over(run).as("e1"))
    val s2 = s1.select(col("*"),
      TaFunctions.ema(col("e1"), n).over(run).as("e2"))
    val s3 = s2.select(col("*"),
      TaFunctions.ema(col("e2"), n).over(run).as("e3"))
    val s4 = s3.select(col("*"), lag(col("e3"), 1).over(w).as("pe3"))

    val s5 = s4.select(col("*"),
      when(col("pe3").isNotNull,
        when(col("pe3") =!= 0.0,
          lit(100.0) * (col("e3") - col("pe3")) / col("pe3"))
          .otherwise(lit(0.0))).as("trix"))

    s5.select((carry.map(col) ++ Seq(col("id"), col("tkey"),
      col("e3"), col("trix"))): _*)
  }

  /** TRIX on hourly bars at REAL precision, keyed (id, t). */
  def hourly(events: DataFrame, n: Int = 15): DataFrame = {
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    indicators(bars, n, carry = Seq("t"))
      .select(col("id"), col("t"),
        col("e3").cast("float").as("e3"),
        col("trix").cast("float").as("trix"))
  }
}
