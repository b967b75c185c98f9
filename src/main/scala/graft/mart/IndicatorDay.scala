package graft.mart

import graft.functions.TaFunctions
import graft.ts.Bars
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** `crypto_indicator_day` mart — the reference's primary batch product.
  *
  * Reference: airflow/etl_scripts/pyspark/D_Create_crypto_ind_day_001.py
  * :29-246 (per-symbol driver loop + pandas + C# `stock_indicators`),
  * modules/common/calculate_market_indicators.py:29-54 (fixed params:
  * MACD(12,26,9), Bollinger(20,2), Ichimoku(9,26,52), Stoch(14,3,3),
  * RSI(14), OBV, Aroon(25), SMA/EMA 5/10/30), output contract
  * ddl/hive/crypto_mart/crypto_indicator_day.ddl:3-44.
  *
  * Spark-native rewrite: instead of collect-per-symbol + pandas, ONE
  * distributed pass —
  *   - every frame-expressible indicator (SMA, Bollinger, OBV, Stoch,
  *     Ichimoku, Aroon) evaluates over a single
  *     `Window.partitionBy(id).orderBy(t)` sort: one shuffle, all
  *     frames share it;
  *   - the recursive indicators (EMA/MACD/RSI — not expressible as
  *     frame aggregates) evaluate as native Catalyst
  *     `TypedImperativeAggregate` running window functions
  *     ([[graft.functions.Ema]] / [[graft.functions.WilderRsi]]) over
  *     the SAME window sort — so the entire mart is one shuffle, no
  *     separate per-symbol pass, no join. (The equivalent
  *     `groupByKey.flatMapGroups` formulation is kept and verified in
  *     [[graft.ts.Recursive]]; the two agree bit-for-bit —
  *     TaAggregatesSpec.)
  * At 1000 executors this scales with the number of symbols; no stage
  * depends on total history size in one task beyond one symbol's bars.
  *
  * Faithfully-reproduced reference quirks (they ARE the output
  * contract; citations in-line):
  *   - `float(x) if x else None` (D_Create_crypto_ind_day_001.py:87-111)
  *     coerces exact 0.0 to NULL for every indicator value — OBV's
  *     first row (always 0) and Aroon at 0 come out NULL;
  *   - the stoch zip writes `.d` into `stoch_oscillator` and `.k` into
  *     `stoch_signal` (py:100-102 vs columns :130-132) — i.e. the
  *     oscillator column holds %D and the signal column holds %K;
  *   - `macd_single` (sic) is the signal-line column name (ddl:12);
  *   - `get_obv(quotes)` is called without sma periods
  *     (calculate_market_indicators.py:44) so `obv_sma` is always NULL;
  *   - OHLC (not volume) is pre-scaled by `N_multiple` for tiny-price
  *     symbols (py:46-62, calculate_market_indicators.py:10-14); the
  *     history columns in the output stay UN-scaled while indicators
  *     are computed on scaled values, and the multiplier is recorded.
  */
object IndicatorDay {

  /** Stock-indicator columns in reference DDL order (indicator part). */
  val indicatorCols: Seq[String] = Seq(
    "macd", "macd_single", "rsi",
    "bollinger_bands_sma", "bollinger_bands_lower_band",
    "bollinger_bands_upper_band",
    "obv", "obv_sma",
    "ichimoku_chikou_span", "ichimoku_kijun_sen", "ichimoku_tenkan_sen",
    "ichimoku_senkou_span_a", "ichimoku_senkou_span_b",
    "stoch_oscillator", "stoch_signal", "stoch_percent_j",
    "aroon_up", "aroon_down", "aroon_oscillator",
    "sma5", "sma10", "sma30", "ema5", "ema10", "ema30")

  /** The reference's `float(x) if x else None` edge: exact zero → NULL,
    * then FloatType storage.
    */
  private def edge(c: Column): Column = when(c =!= 0.0, c).cast("float")

  /** One bar's OBV step over the scaled close `cs` in window `w`:
    * +volume on an up close, −volume on a down close, 0 on a flat close
    * and on the first bar. */
  private def obvStep(w: WindowSpec): Column = {
    val prev = lag(col("cs"), 1).over(w)
    when(prev.isNull, lit(0.0))
      .when(col("cs") > prev, col("volume"))
      .when(col("cs") < prev, -col("volume"))
      .otherwise(lit(0.0))
  }

  /** Resume-mode helper columns `indicators(resume = true)` expects on
    * its input (all joined per id by [[incrementalFrom]]; the state
    * structs come from [[stateSnapshot]], NULL for ids with no
    * history): `_live` boolean (false on positional-tail rows),
    * `_rn_off` long, `_obv0` double, and the seven aggregate states.
    */
  val resumeCols: Seq[String] = Seq(
    "_rn_off", "_obv0", "_ema5_st", "_ema10_st", "_ema30_st",
    "_ema12_st", "_ema26_st", "_sig9_st", "_rsi_st")

  /** Full indicator frame over bars (id, tkey, open, high, low, close,
    * volume) + any carry columns, prices scaled by `cfg`'s
    * `n_multiple`. Output: carry ++ (id, tkey, open, high, low, close,
    * volume, n_multiple) ++ [[indicatorCols]], all indicator values
    * Double (no edge coercion yet — [[apply]] does that), warm-up rows
    * NULL.
    */
  def indicators(bars: DataFrame, carry: Seq[String] = Nil,
      cfg: MartConfig = MartConfig.crypto,
      resume: Boolean = false): DataFrame = {
    val scaled = bars
      .withColumn("n_multiple", cfg.nMultipleCol)
      .withColumn("hs", col("high") * col("n_multiple"))
      .withColumn("ls", col("low") * col("n_multiple"))
      .withColumn("cs", col("close") * col("n_multiple"))

    val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
    def frame(n: Int) = w.rowsBetween(-(n - 1), 0)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val rn = col("rn")

    def guarded(n: Int, c: Column): Column = when(rn >= n, c)
    def mid(n: Int): Column =
      guarded(n, (max(col("hs")).over(frame(n)) + min(col("ls")).over(frame(n))) / 2)

    // Resume plumbing: recursive aggregates must not re-consume the
    // positional-tail rows their seeds already summarize, so their
    // INPUT is masked to live rows (NULL-skip makes tail rows
    // state-neutral) while the frame aggregates keep reading the tail
    // positionally; rn carries the absolute row offset so warm-up
    // guards line up with the full history.
    def liveOnly(c: Column): Column =
      if (resume) when(col("_live"), c) else c
    def seedOf(name: String): Option[Column] =
      if (resume) Some(col(name)) else None
    def emaR(c: Column, n: Int, st: String): Column = seedOf(st)
      .map(TaFunctions.ema(liveOnly(c), n, _))
      .getOrElse(TaFunctions.ema(c, n))
    def rsiR(c: Column, n: Int, st: String): Column = seedOf(st)
      .map(TaFunctions.wilderRsi(liveOnly(c), n, _))
      .getOrElse(TaFunctions.wilderRsi(c, n))
    val rnExpr =
      if (resume) (row_number().over(w).cast("long") + col("_rn_off")).as("rn")
      else row_number().over(w).cast("long").as("rn")

    // Stage 1: row numbers + every direct frame aggregate. All of these
    // share one (id, tkey) shuffle+sort.
    val s1 = scaled.select(
      (carry.map(col) ++ Seq(
        col("id"), col("tkey"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("n_multiple"),
        col("hs"), col("ls"), col("cs")) ++
        (if (resume) resumeCols.map(col) else Nil)) ++ Seq(
        rnExpr) : _*)

    val s2 = s1.select(col("*"),
      guarded(5,  avg(col("cs")).over(frame(5))).as("sma5"),
      guarded(10, avg(col("cs")).over(frame(10))).as("sma10"),
      guarded(30, avg(col("cs")).over(frame(30))).as("sma30"),
      guarded(20, avg(col("cs")).over(frame(20))).as("bb_sma"),
      // Stock.Indicators uses population std dev over the lookback.
      guarded(20, stddev_pop(col("cs")).over(frame(20))).as("bb_sd"),
      // OBV step needs lag(); the running sum over it goes in stage 2
      // (window-over-window is not expressible in one projection).
      // Resume: tail rows step 0 (their sum lives in _obv0); the first
      // live row still lags into the tail for its direction.
      (if (resume) when(!col("_live"), lit(0.0)).otherwise(obvStep(w))
       else obvStep(w)).as("obv_step"),
      // Raw stochastic %K; 0 when the 14-bar range is flat (the edge
      // coercion turns that 0 into NULL, as the reference's float(x)
      // coercion does).
      guarded(14, {
        val hh = max(col("hs")).over(frame(14))
        val ll = min(col("ls")).over(frame(14))
        when(hh =!= ll, (col("cs") - ll) / (hh - ll) * 100).otherwise(lit(0.0))
      }).as("stoch_raw"),
      mid(9).as("tenkan"),
      mid(26).as("kijun"),
      mid(52).as("mid52"),
      // Aroon(25): periods since the extremum in a 26-bar window
      // (lookback + current). Ties resolve to the EARLIEST bar, like
      // the strict-inequality forward scan in Stock.Indicators; the
      // struct orderings encode that tiebreak.
      guarded(26, col("rn") + max(struct(col("hs").as("h"),
        (-col("rn")).as("nr"))).over(frame(26)).getField("nr")).as("since_high"),
      guarded(26, col("rn") - min(struct(col("ls").as("l"),
        col("rn").as("r"))).over(frame(26)).getField("r")).as("since_low"))

    // Stage 2: windows over stage-1 window results (same shuffle key, so
    // Catalyst appends Window nodes to the existing sort — no new
    // exchange). The recursive indicators ride the same sort as native
    // running aggregates.
    val s3 = s2.select(col("*"),
      emaR(col("cs"), 5, "_ema5_st").over(run).as("ema5"),
      emaR(col("cs"), 10, "_ema10_st").over(run).as("ema10"),
      emaR(col("cs"), 30, "_ema30_st").over(run).as("ema30"),
      (emaR(col("cs"), 12, "_ema12_st").over(run) -
        emaR(col("cs"), 26, "_ema26_st").over(run)).as("macd"),
      rsiR(col("cs"), 14, "_rsi_st").over(run).as("rsi"),
      ((if (resume) coalesce(col("_obv0"), lit(0.0)) else lit(0.0)) +
        sum(col("obv_step")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .as("obv"),
      guarded(16, avg(col("stoch_raw")).over(frame(3))).as("stoch_k"),
      lag((col("tenkan") + col("kijun")) / 2, 26).over(w)
        .as("ichimoku_senkou_span_a"),
      lag(col("mid52"), 26).over(w).as("ichimoku_senkou_span_b"),
      lead(col("cs"), 26).over(w).as("ichimoku_chikou_span"),
      guarded(26, (lit(25) - col("since_high")) * 100.0 / 25).as("aroon_up"),
      guarded(26, (lit(25) - col("since_low")) * 100.0 / 25).as("aroon_down"))

    // Stage 3: %D over %K, the MACD signal line (EMA-over-defined of
    // the macd series — the native ema skips NULL warm-up rows), and
    // arithmetic combinations.
    val s4 = s3.select(col("*"),
      guarded(18, avg(col("stoch_k")).over(frame(3))).as("stoch_d"),
      // Resume: tail rows evaluate macd to the FROZEN seed value (their
      // masked closes never update the EMA states), so the signal-line
      // input masks them too — its seed already summarizes the real
      // macd history the tail rows stand in for.
      emaR(col("macd"), 9, "_sig9_st").over(run).as("macd_single"))

    val withWin = s4.select(col("*"),
      (lit(3) * col("stoch_k") - lit(2) * col("stoch_d")).as("stoch_j"),
      (col("aroon_up") - col("aroon_down")).as("aroon_oscillator"),
      (col("bb_sma") - lit(2) * col("bb_sd")).as("bollinger_bands_lower_band"),
      (col("bb_sma") + lit(2) * col("bb_sd")).as("bollinger_bands_upper_band"))

    withWin
      .select(
        (carry.map(col) ++ Seq(
          col("id"), col("tkey"), col("open"), col("high"), col("low"),
          col("close"), col("volume"), col("n_multiple"),
          col("macd"), col("macd_single"), col("rsi"),
          col("bb_sma").as("bollinger_bands_sma"),
          col("bollinger_bands_lower_band"),
          col("bollinger_bands_upper_band"),
          col("obv"), lit(null).cast("double").as("obv_sma"),
          col("ichimoku_chikou_span"), col("kijun").as("ichimoku_kijun_sen"),
          col("tenkan").as("ichimoku_tenkan_sen"),
          col("ichimoku_senkou_span_a"), col("ichimoku_senkou_span_b"),
          // Reference stores %D in the oscillator column and %K in the
          // signal column (see object doc).
          col("stoch_d").as("stoch_oscillator"),
          col("stoch_k").as("stoch_signal"),
          col("stoch_j").as("stoch_percent_j"),
          col("aroon_up"), col("aroon_down"), col("aroon_oscillator"),
          col("sma5"), col("sma10"), col("sma30"),
          col("ema5"), col("ema10"), col("ema30"))) : _*)
  }

  /** Indicator frame on hourly bars with the mart's output edge applied
    * (zero→NULL + float), keyed (id, t: epoch seconds). Backs the
    * per-family verification queries q32–q39.
    */
  def hourly(events: DataFrame): DataFrame = {
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    applyEdge(indicators(bars, carry = Seq("t")))
  }

  /** Config-driven hourly mart: one engine serving every per-asset
    * clone. `barsRaw` carries (id, t, open, high, low, close,
    * `cfg.volumeCol`); the select projects `cfg.volumeCol AS volume` —
    * the reference's per-asset source-mapping step (`amount as volume`
    * for crypto vs `volume` for forex) — and the scaling path fires
    * only for `cfg.exceptionalIds`. Output = `market` tag + the q32-
    * family indicator frame with the reference output edge applied.
    */
  def hourlyConfigured(cfg: MartConfig)(barsRaw: DataFrame): DataFrame = {
    val bars = barsRaw.select(col("id"), col("t"),
        col("open"), col("high"), col("low"), col("close"),
        col(cfg.volumeCol).as("volume"))
      .withColumn("tkey", col("t"))
    applyEdge(indicators(bars, carry = Seq("t"), cfg = cfg))
      .select(lit(cfg.market).as("market") +: indicatorOutputCols: _*)
  }

  private def indicatorOutputCols: Seq[Column] =
    Seq(col("t"), col("id"), col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("n_multiple")) ++
      indicatorCols.map(col)

  /** Per-id recursion-state snapshot AT THE LAST BAR of `bars` — the
    * sidecar a production incremental refresh persists each run and
    * reads back the next ([[incrementalFrom]]): absolute row count,
    * running OBV, the five close-EMA states, the MACD signal-line EMA
    * state, and the Wilder-RSI state, all in double precision (the
    * published mart's float edge would corrupt a recursion seed).
    * One (id, tkey) window sort + one id-keyed max_by — same scale
    * shape as the mart itself.
    */
  def stateSnapshot(bars: DataFrame): DataFrame = {
    val scaled =
      bars.withColumn("cs", col("close") * MartConfig.crypto.nMultipleCol)
    val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val s1 = scaled.select(col("id"), col("tkey"),
      row_number().over(w).cast("long").as("rn0"),
      obvStep(w).as("obv_step"),
      TaFunctions.emaState(col("cs"), 5).over(run).as("ema5_st"),
      TaFunctions.emaState(col("cs"), 10).over(run).as("ema10_st"),
      TaFunctions.emaState(col("cs"), 30).over(run).as("ema30_st"),
      TaFunctions.emaState(col("cs"), 12).over(run).as("ema12_st"),
      TaFunctions.emaState(col("cs"), 26).over(run).as("ema26_st"),
      TaFunctions.wilderRsiState(col("cs"), 14).over(run).as("rsi_st"))
    // macd value re-derived from the EMA states (acc IS the ema once
    // count ≥ n) — no second value-aggregate pass needed.
    val s2 = s1.select(col("*"),
      sum(col("obv_step")).over(run).as("obv0"),
      when(col("ema12_st").getField("count") >= 12 &&
          col("ema26_st").getField("count") >= 26,
        col("ema12_st").getField("acc") - col("ema26_st").getField("acc"))
        .as("macd"))
    val s3 = s2.select(col("*"),
      TaFunctions.emaState(col("macd"), 9).over(run).as("sig9_st"))
    val stCols = Seq("rn0", "obv0", "ema5_st", "ema10_st", "ema30_st",
      "ema12_st", "ema26_st", "sig9_st", "rsi_st")
    s3.groupBy(col("id"))
      .agg(max_by(struct(stCols.map(col): _*), col("tkey")).as("st"))
      .select(col("id") +: stCols.map(c => col("st").getField(c).as(c)): _*)
  }

  /** Incremental mart refresh: recompute ONLY the rows with
    * `tkey ≥ liveFrom`, exactly equal to a full-history recompute of
    * those rows. Inputs are the new bars plus (a) the per-id
    * [[stateSnapshot]] of everything before `liveFrom` — rederived
    * here; persisted and read back in a production pipeline — and (b)
    * a positional tail of the last `tailBars` bars per id, which feeds
    * the frame aggregates (77 = the deepest positional reach:
    * senkou-B's 26-bar displacement over a 52-bar midpoint frame + the
    * current row). Recursive aggregates never see the tail (masked
    * input; seeds carry their history), so the refresh cost scales
    * with |new bars| + |ids|·tail, NOT with history length — the
    * full-history daily recompute is exactly what stops working at
    * warehouse scale.
    */
  def incrementalFrom(bars: DataFrame, liveFrom: Column,
      carry: Seq[String] = Nil, tailBars: Int = 77): DataFrame =
    incrementalFrom(bars, stateSnapshot(bars.where(col("tkey") < liveFrom)),
      liveFrom, carry, tailBars)

  /** [[incrementalFrom]] over a PRECOMPUTED [[stateSnapshot]] frame —
    * the production form: each refresh persists its snapshot (plain
    * parquet; struct columns round-trip) and the next run reads it
    * back instead of re-deriving it from history. Pinned equal to the
    * self-derived form through a parquet round-trip in
    * IndicatorDaySpec.
    */
  def incrementalFrom(bars: DataFrame, state: DataFrame, liveFrom: Column,
      carry: Seq[String], tailBars: Int): DataFrame = {
    // 77 = senkou-B's 26-bar displacement over a 52-bar midpoint frame
    // + the current row — the deepest positional reach of any frame
    // aggregate. A shorter tail would silently compute WRONG (non-NULL)
    // ichimoku values near the cut: the warm-up guards use absolute
    // row numbers, so truncated frames pass them. Fail fast instead.
    require(tailBars >= 77,
      s"tailBars must be >= 77 (deepest frame reach), got $tailBars")
    val prefix = bars.where(col("tkey") < liveFrom)
    val st = state.select(col("id") +: resumeCols.tail.map(c =>
      col(c.stripPrefix("_")).as(c)) :+ col("rn0"): _*)
    val wd = Window.partitionBy(col("id")).orderBy(col("tkey").desc)
    val tail = prefix.withColumn("_dr", row_number().over(wd))
      .where(col("_dr") <= tailBars).drop("_dr")
    val input = tail.unionByName(bars.where(col("tkey") >= liveFrom))
      .withColumn("_live", col("tkey") >= liveFrom)
    // tail length per id = min(tailBars, rn0), so the absolute row
    // offset needs no extra count pass
    val joined = input.join(st, Seq("id"), "left")
      .withColumn("_rn_off",
        coalesce(greatest(col("rn0") - tailBars, lit(0L)), lit(0L)))
      .drop("rn0")
    indicators(joined, carry = carry :+ "_live", resume = true)
  }

  /** Hourly-mart incremental refresh (the q32-family frame), emitting
    * exactly the rows with `t ≥ fromT − backfillBars·3600` — pinned
    * equal to the full recompute both in IndicatorDaySpec and by the
    * q99 oracle (which uses backfillBars = 0 so the emit window and
    * the data cut coincide).
    *
    * `backfillBars` exists because chikou is FORWARD-looking
    * (lead 26): bars arriving after the cut define the chikou of the
    * last 26 pre-cut rows, so a production refresh sets
    * backfillBars = 26 to re-emit (and re-overwrite, via the
    * trailing-window partition reload) those now-complete rows. The
    * incremental algebra is exact for ANY emit window — the seeds and
    * the positional tail shift with it — so widening the window only
    * widens the rewrite, never changes values (pinned in
    * IndicatorDaySpec).
    */
  def hourlyIncremental(events: DataFrame, fromT: Long,
      backfillBars: Int = 0): DataFrame = {
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    applyEdge(incrementalFrom(bars,
        lit(fromT - backfillBars * 3600L), carry = Seq("t")))
      .where(col("_live")).drop("_live")
  }

  /** The full `crypto_indicator_day` mart on daily bars: DDL column
    * set (id, dt, low, high, open, close, volume, 25 indicators,
    * n_multiple, year, month, day), floats at the edge.
    */
  def apply(events: DataFrame): DataFrame = {
    val bars = Bars.daily(events)
      .withColumn("tkey", datediff(col("dt"), lit("1970-01-01")))
    val ind = applyEdge(indicators(bars, carry = Seq("dt")))
    ind.select(
      Seq(col("id"), col("dt"),
        col("low").cast("float"), col("high").cast("float"),
        col("open").cast("float"), col("close").cast("float"),
        col("volume").cast("float")) ++
      indicatorCols.map(col) ++ Seq(
        col("n_multiple").cast("float"),
        year(col("dt")).cast("int").as("year"),
        month(col("dt")).cast("int").as("month"),
        dayofmonth(col("dt")).cast("int").as("day")) : _*)
  }

  /** Apply the reference's output edge to every indicator column. */
  private def applyEdge(df: DataFrame): DataFrame = {
    val coerced = df.columns.map { c =>
      if (indicatorCols.contains(c)) edge(col(c)).as(c) else col(c)
    }
    df.select(coerced.toIndexedSeq: _*)
  }
}
