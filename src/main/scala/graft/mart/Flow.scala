package graft.mart

import graft.ts.Bars
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Volume-flow extension indicators: MFI(n), the Chaikin
  * accumulation/distribution line + CMF(n), and the Vortex pair VI±(n).
  *
  * Extension territory: the reference's indicator surface
  * (modules/common/calculate_market_indicators.py:29-54) ends at the
  * ten families [[IndicatorDay]] reproduces; these are the standard
  * volume-confirmation asks of the same mart's users, and none of them
  * needs a recurrence — the whole family is lag + bounded-frame sums,
  * so it rides the one (id, tkey) sort with zero joins.
  *
  * Definitions (per symbol, bars ordered by time; tp = (h+l+c)/3):
  *   - MFI_t = 100·posMF/(posMF+negMF) over the last n DELTA rows,
  *     where rawMF = tp·vol splits by sign(tp − prev tp) (equal → both
  *     0); defined from bar n+1 (bar 1 has no previous tp); 0 when
  *     both flows are 0 (flat window), mirroring the stoch_raw guard.
  *   - Chaikin mfm_t = ((c−l)−(h−c))/(h−l) (0 on flat bars),
  *     mfv = mfm·vol; AD = running Σ mfv (defined from bar 1);
  *     CMF_t = Σ_n mfv / Σ_n vol (defined from bar n; volume ≥ 1 per
  *     bar so the denominator never vanishes, guarded anyway).
  *   - Vortex VM+ = |h − prev_l|, VM− = |l − prev_h|, TR as in
  *     [[Trend]]; VI±_t = Σ_n VM± / Σ_n TR over the last n delta rows,
  *     from bar n+1; 0 when Σ TR = 0.
  *
  * Scale shape: ONE `Window.partitionBy(id).orderBy(tkey)` exchange+sort
  * carries every lag, both running sums, and all bounded frames —
  * Catalyst stacks the window specs on a single sort since they share
  * the partitioning and ordering. Per-task state is O(frame) per
  * aggregate. MFI/CMF/VI are scale-invariant ratios; AD scales with
  * volume only, so the [[IndicatorDay]] N_multiple price pre-scaling
  * (applied for family consistency) cancels everywhere it matters.
  */
object Flow {

  /** Full flow frame over bars (id, tkey, open, high, low, close,
    * volume) + carry columns: carry ++ (id, tkey, mfi, ad, cmf,
    * vi_plus, vi_minus), Double values, warm-up rows NULL.
    */
  def indicators(bars: DataFrame, n: Int = 14, cmfN: Int = 20,
      carry: Seq[String] = Nil): DataFrame = {
    val scaled = MartConfig.crypto.scaledPrices(bars)

    val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
    def frame(k: Int) = w.rowsBetween(-(k - 1), 0)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)

    val s1 = scaled.select(col("*"),
      row_number().over(w).as("rn"),
      lag(col("tp"), 1).over(w).as("ptp"),
      lag(col("hs"), 1).over(w).as("ph"),
      lag(col("ls"), 1).over(w).as("pl"),
      lag(col("cs"), 1).over(w).as("pc"))

    // Delta columns: NULL on each symbol's first bar, so the frame
    // sums consume exactly the delta series (sum skips NULLs; the
    // rn >= n+1 gates ensure a full n-delta window).
    val s2 = s1.select(col("*"),
      when(col("ptp").isNotNull,
        when(col("tp") > col("ptp"), col("tp") * col("volume"))
          .otherwise(lit(0.0))).as("posmf"),
      when(col("ptp").isNotNull,
        when(col("tp") < col("ptp"), col("tp") * col("volume"))
          .otherwise(lit(0.0))).as("negmf"),
      when(col("pc").isNotNull, greatest(col("hs") - col("ls"),
        abs(col("hs") - col("pc")), abs(col("ls") - col("pc")))).as("tr"),
      when(col("pl").isNotNull, abs(col("hs") - col("pl"))).as("vmp"),
      when(col("ph").isNotNull, abs(col("ls") - col("ph"))).as("vmm"),
      when(col("hs") =!= col("ls"),
        ((col("cs") - col("ls")) - (col("hs") - col("cs"))) /
          (col("hs") - col("ls"))).otherwise(lit(0.0))
        .multiply(col("volume")).as("mfv"))

    val s3 = s2.select(col("*"),
      sum(col("posmf")).over(frame(n)).as("pos_s"),
      sum(col("negmf")).over(frame(n)).as("neg_s"),
      sum(col("tr")).over(frame(n)).as("tr_s"),
      sum(col("vmp")).over(frame(n)).as("vmp_s"),
      sum(col("vmm")).over(frame(n)).as("vmm_s"),
      sum(col("mfv")).over(run).as("ad"),
      sum(col("mfv")).over(frame(cmfN)).as("mfv_s"),
      sum(col("volume")).over(frame(cmfN)).as("vol_s"))

    val s4 = s3.select(col("*"),
      when(col("rn") >= n + 1,
        when(col("pos_s") + col("neg_s") =!= 0.0,
          lit(100.0) * col("pos_s") / (col("pos_s") + col("neg_s")))
          .otherwise(lit(0.0))).as("mfi"),
      when(col("rn") >= cmfN,
        when(col("vol_s") =!= 0.0, col("mfv_s") / col("vol_s"))
          .otherwise(lit(0.0))).as("cmf"),
      when(col("rn") >= n + 1,
        when(col("tr_s") =!= 0.0, col("vmp_s") / col("tr_s"))
          .otherwise(lit(0.0))).as("vi_plus"),
      when(col("rn") >= n + 1,
        when(col("tr_s") =!= 0.0, col("vmm_s") / col("tr_s"))
          .otherwise(lit(0.0))).as("vi_minus"))

    s4.select((carry.map(col) ++ Seq(col("id"), col("tkey"),
      col("mfi"), col("ad"), col("cmf"),
      col("vi_plus"), col("vi_minus"))): _*)
  }

  /** Flow frame on hourly bars at REAL precision, keyed (id, t). */
  def hourly(events: DataFrame, n: Int = 14, cmfN: Int = 20): DataFrame = {
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    indicators(bars, n, cmfN, carry = Seq("t"))
      .select(col("id"), col("t"),
        col("mfi").cast("float").as("mfi"),
        col("ad").cast("float").as("ad"),
        col("cmf").cast("float").as("cmf"),
        col("vi_plus").cast("float").as("vi_plus"),
        col("vi_minus").cast("float").as("vi_minus"))
  }
}
