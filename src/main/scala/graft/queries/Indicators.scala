package graft.queries

import graft.mart.{BandChannels, Channels, Flow, IndicatorDay, MartConfig, Trend, Trix}
import graft.ts.{Bars, Recursive}
import org.apache.spark.sql.functions.{col, lit, when}

/** Indicator-family verification queries — SURVEY.md §2.6 (I1–I10) and
  * the J4 recursive-kernel replacement.
  *
  * q32–q39 verify each indicator family on HOURLY bars (deep-enough
  * per-symbol series for the long lookbacks; see [[Bars.hourly]]);
  * q40 is the full daily `crypto_indicator_day` mart contract.
  *
  * The oracles re-derive every indicator in pure DuckDB SQL: frame
  * aggregates for the window-expressible families and recursive CTEs
  * for the EMA/MACD-signal/RSI recurrences, stepping rn by 1 per
  * iteration exactly like the Scala kernels ([[graft.ts.TaKernels]]).
  * Double drift between the two engines is absorbed by the FLOAT edge
  * cast; the zero→NULL `float(x) if x else None` reference quirk is
  * applied on both sides (see [[IndicatorDay]] docs).
  */
object Indicators extends QueryPack {

  /** The reference output edge: exact 0 → NULL, then REAL. */
  private def E(x: String): String =
    s"CAST(CASE WHEN $x <> 0 THEN $x END AS REAL)"

  /** Full DuckDB WITH-block computing the indicator frame `ind` over a
    * bars CTE. `key` is the per-symbol ordering column of the bars.
    *
    * Every CTE referenced from the recursive half of a recursive CTE is
    * marked `AS MATERIALIZED`: DuckDB otherwise inlines (re-evaluates)
    * the referenced CTE on EVERY recursion step, so each of the ~N
    * per-symbol iterations recomputed the whole window stack — ~150 s
    * per query at sf0.01 vs ~1 s materialized, identical results.
    */
  private def withBlock(barsCte: String, barsName: String, key: String,
      nmCase: String = defaultNmCase): String = {
    def emaCte(name: String, n: Int): String =
      s"""$name AS (
         |  SELECT id, rn, sma AS ema FROM (
         |    SELECT id, rn, avg(cs) OVER (PARTITION BY id ORDER BY $key
         |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS sma
         |    FROM num) WHERE rn = $n
         |  UNION ALL
         |  SELECT n.id, n.rn,
         |         (CAST(2 AS DOUBLE)/${n + 1}) * n.cs
         |           + (1 - CAST(2 AS DOUBLE)/${n + 1}) * e.ema
         |  FROM num n JOIN $name e ON n.id = e.id AND n.rn = e.rn + 1)"""
        .stripMargin
    val o = s"PARTITION BY id ORDER BY $key"
    def f(n: Int) = s"$o ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
    s"""WITH RECURSIVE
       |$barsCte,
       |scaled AS MATERIALIZED (
       |  SELECT *, open*nm AS os, high*nm AS hs, low*nm AS ls, close*nm AS cs
       |  FROM (SELECT *, $nmCase AS nm
       |        FROM $barsName)),
       |num AS MATERIALIZED (
       |  SELECT *, CAST(row_number() OVER ($o) AS INTEGER) AS rn FROM scaled),
       |win1 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN rn >= 5  THEN avg(cs) OVER (${f(5)}) END AS sma5,
       |    CASE WHEN rn >= 10 THEN avg(cs) OVER (${f(10)}) END AS sma10,
       |    CASE WHEN rn >= 30 THEN avg(cs) OVER (${f(30)}) END AS sma30,
       |    CASE WHEN rn >= 20 THEN avg(cs) OVER (${f(20)}) END AS bb_sma,
       |    CASE WHEN rn >= 20 THEN stddev_pop(cs) OVER (${f(20)}) END AS bb_sd,
       |    CASE WHEN lag(cs) OVER ($o) IS NULL THEN CAST(0 AS DOUBLE)
       |         WHEN cs > lag(cs) OVER ($o) THEN volume
       |         WHEN cs < lag(cs) OVER ($o) THEN -volume
       |         ELSE CAST(0 AS DOUBLE) END AS obv_step,
       |    CASE WHEN rn >= 14 THEN
       |      CASE WHEN max(hs) OVER (${f(14)}) <> min(ls) OVER (${f(14)})
       |           THEN (cs - min(ls) OVER (${f(14)}))
       |                  / (max(hs) OVER (${f(14)}) - min(ls) OVER (${f(14)})) * 100
       |           ELSE CAST(0 AS DOUBLE) END END AS stoch_raw,
       |    CASE WHEN rn >= 9  THEN (max(hs) OVER (${f(9)}) + min(ls) OVER (${f(9)}))/2 END AS tenkan,
       |    CASE WHEN rn >= 26 THEN (max(hs) OVER (${f(26)}) + min(ls) OVER (${f(26)}))/2 END AS kijun,
       |    CASE WHEN rn >= 52 THEN (max(hs) OVER (${f(52)}) + min(ls) OVER (${f(52)}))/2 END AS mid52,
       |    CASE WHEN rn >= 26 THEN
       |      rn + (max(struct_pack(h := hs, nr := -rn)) OVER (${f(26)})).nr END AS since_high,
       |    CASE WHEN rn >= 26 THEN
       |      rn - (min(struct_pack(l := ls, r := rn)) OVER (${f(26)})).r END AS since_low
       |  FROM num),
       |win2 AS MATERIALIZED (
       |  SELECT *,
       |    sum(obv_step) OVER ($o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obv,
       |    CASE WHEN rn >= 16 THEN avg(stoch_raw) OVER (${f(3)}) END AS stoch_k,
       |    lag((tenkan + kijun)/2, 26) OVER ($o) AS senkou_a,
       |    lag(mid52, 26) OVER ($o) AS senkou_b,
       |    lead(cs, 26) OVER ($o) AS chikou,
       |    CASE WHEN rn >= 26 THEN (25 - since_high) * 100.0 / 25 END AS aroon_up,
       |    CASE WHEN rn >= 26 THEN (25 - since_low) * 100.0 / 25 END AS aroon_down
       |  FROM win1),
       |win3 AS MATERIALIZED (
       |  SELECT *, CASE WHEN rn >= 18 THEN avg(stoch_k) OVER (${f(3)}) END AS stoch_d
       |  FROM win2),
       |win AS MATERIALIZED (
       |  SELECT *, 3*stoch_k - 2*stoch_d AS stoch_j,
       |         aroon_up - aroon_down AS aroon_osc,
       |         bb_sma - 2*bb_sd AS bb_lower, bb_sma + 2*bb_sd AS bb_upper
       |  FROM win3),
       |${emaCte("e5", 5)},
       |${emaCte("e10", 10)},
       |${emaCte("e12", 12)},
       |${emaCte("e26", 26)},
       |${emaCte("e30", 30)},
       |macdln AS MATERIALIZED (
       |  SELECT f.id, f.rn, f.ema - s.ema AS macd
       |  FROM e12 f JOIN e26 s ON f.id = s.id AND f.rn = s.rn),
       |sig AS (
       |  SELECT id, rn, s9 AS sig FROM (
       |    SELECT id, rn, avg(macd) OVER (PARTITION BY id ORDER BY rn
       |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS s9
       |    FROM macdln) WHERE rn = 34
       |  UNION ALL
       |  SELECT m.id, m.rn, (CAST(2 AS DOUBLE)/10) * m.macd
       |           + (1 - CAST(2 AS DOUBLE)/10) * g.sig
       |  FROM macdln m JOIN sig g ON m.id = g.id AND m.rn = g.rn + 1),
       |gl AS MATERIALIZED (
       |  SELECT id, rn,
       |         CASE WHEN d > 0 THEN d ELSE CAST(0 AS DOUBLE) END AS g,
       |         CASE WHEN d < 0 THEN -d ELSE CAST(0 AS DOUBLE) END AS l
       |  FROM (SELECT id, rn, cs - lag(cs) OVER ($o) AS d FROM num)
       |  WHERE d IS NOT NULL),
       |wilder AS (
       |  SELECT id, rn, ag, al FROM (
       |    SELECT id, rn,
       |      avg(g) OVER (PARTITION BY id ORDER BY rn
       |        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ag,
       |      avg(l) OVER (PARTITION BY id ORDER BY rn
       |        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS al
       |    FROM gl) WHERE rn = 15
       |  UNION ALL
       |  SELECT n.id, n.rn, (r.ag * 13 + n.g)/14, (r.al * 13 + n.l)/14
       |  FROM gl n JOIN wilder r ON n.id = r.id AND n.rn = r.rn + 1),
       |rsitab AS (
       |  SELECT id, rn, CASE WHEN al = 0 THEN CAST(100 AS DOUBLE)
       |                      ELSE 100 - 100/(1 + ag/al) END AS rsi
       |  FROM wilder),
       |ind AS (
       |  SELECT w.*, e5.ema AS ema5, e10.ema AS ema10, e30.ema AS ema30,
       |         m.macd AS macd, g.sig AS macd_single, r.rsi AS rsi
       |  FROM win w
       |  LEFT JOIN e5     ON w.id = e5.id  AND w.rn = e5.rn
       |  LEFT JOIN e10    ON w.id = e10.id AND w.rn = e10.rn
       |  LEFT JOIN e30    ON w.id = e30.id AND w.rn = e30.rn
       |  LEFT JOIN macdln m ON w.id = m.id AND w.rn = m.rn
       |  LEFT JOIN sig    g ON w.id = g.id AND w.rn = g.rn
       |  LEFT JOIN rsitab r ON w.id = r.id AND w.rn = r.rn)"""
      .stripMargin
  }

  private val defaultNmCase =
    "CASE WHEN id = 7 THEN CAST(1000 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END"

  /** q99 refresh cut: 2024-01-20 00:00 UTC — mid-fixture, so per-id
    * prefixes straddle the EMA30/RSI warm-up boundaries.
    */
  private val incrementalCutT = 1705708800L

  /** The shared 28-column incremental-mart output frame (q99/q109). */
  private def incrementalSelect(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col("id"), col("t"),
      col("sma5"), col("sma10"), col("sma30"),
      col("ema5"), col("ema10"), col("ema30"),
      col("macd"), col("macd_single"), col("rsi"),
      col("bollinger_bands_sma"), col("bollinger_bands_lower_band"),
      col("bollinger_bands_upper_band"),
      col("obv"), col("obv_sma"),
      col("ichimoku_chikou_span"), col("ichimoku_kijun_sen"),
      col("ichimoku_tenkan_sen"), col("ichimoku_senkou_span_a"),
      col("ichimoku_senkou_span_b"),
      col("stoch_oscillator"), col("stoch_signal"),
      col("stoch_percent_j"),
      col("aroon_up"), col("aroon_down"), col("aroon_oscillator"),
      col("n_multiple").cast("float").as("n_multiple"))

  /** One Wilder-smoothing recursive CTE (α = 1/n, SMA seed over the
    * first n rows of `src`): `src` must be dense in rn per id starting
    * at `start`, so the seed row sits at rn = start + n − 1 and the
    * recursion steps rn by 1 — the exact recurrence
    * [[graft.functions.Ema]] evaluates for `wilder_ma`.
    */
  private def wilderCte(name: String, src: String, valCol: String,
      start: Int, n: Int): String =
    s"""$name AS (
       |  SELECT id, rn, sa AS a FROM (
       |    SELECT id, rn, avg($valCol) OVER (PARTITION BY id ORDER BY rn
       |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS sa
       |    FROM $src) WHERE rn = ${start + n - 1}
       |  UNION ALL
       |  SELECT s.id, s.rn, (CAST(1 AS DOUBLE)/$n) * s.$valCol
       |           + (1 - CAST(1 AS DOUBLE)/$n) * e.a
       |  FROM $src s JOIN $name e ON s.id = e.id AND s.rn = e.rn + 1)"""
      .stripMargin

  /** q160 oracle: the full ATR/ADX chain re-derived — deltas (TR, ±DM
    * from bar 2), three first-level Wilder recursions, the DI/DX ratio
    * algebra, and the second-level ADX recursion over the DX line
    * (dense in rn from n+1, so its seed lands at rn = 2n). Mirrors
    * [[graft.mart.Trend.indicators]] operation-for-operation; REAL
    * casts absorb cross-engine double drift as in the q32–q41 family.
    */
  private def trendBlock(n: Int): String =
    s"""WITH RECURSIVE
       |${Bars.oracleCteHourly},
       |scaled AS MATERIALIZED (
       |  SELECT *, high*nm AS hs, low*nm AS ls, close*nm AS cs
       |  FROM (SELECT *, $defaultNmCase AS nm FROM hourly)),
       |num AS MATERIALIZED (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY id ORDER BY t) AS INTEGER) AS rn FROM scaled),
       |deltas AS MATERIALIZED (
       |  SELECT id, rn,
       |         greatest(hs - ls, abs(hs - pc), abs(ls - pc)) AS tr,
       |         CASE WHEN hs - ph > pl - ls AND hs - ph > 0
       |              THEN hs - ph ELSE CAST(0 AS DOUBLE) END AS pdm,
       |         CASE WHEN pl - ls > hs - ph AND pl - ls > 0
       |              THEN pl - ls ELSE CAST(0 AS DOUBLE) END AS mdm
       |  FROM (SELECT *,
       |          lag(hs) OVER (PARTITION BY id ORDER BY rn) AS ph,
       |          lag(ls) OVER (PARTITION BY id ORDER BY rn) AS pl,
       |          lag(cs) OVER (PARTITION BY id ORDER BY rn) AS pc
       |        FROM num)
       |  WHERE pc IS NOT NULL),
       |${wilderCte("watr", "deltas", "tr", 2, n)},
       |${wilderCte("wpdm", "deltas", "pdm", 2, n)},
       |${wilderCte("wmdm", "deltas", "mdm", 2, n)},
       |dxs AS MATERIALIZED (
       |  SELECT id, rn, atr, plus_di, minus_di,
       |         CASE WHEN plus_di + minus_di <> 0
       |              THEN (100 * abs(plus_di - minus_di)) / (plus_di + minus_di)
       |              ELSE CAST(0 AS DOUBLE) END AS dx
       |  FROM (
       |    SELECT a.id, a.rn, a.a AS atr,
       |           CASE WHEN a.a <> 0 THEN (100 * p.a) / a.a
       |                ELSE CAST(0 AS DOUBLE) END AS plus_di,
       |           CASE WHEN a.a <> 0 THEN (100 * m.a) / a.a
       |                ELSE CAST(0 AS DOUBLE) END AS minus_di
       |    FROM watr a
       |    JOIN wpdm p ON a.id = p.id AND a.rn = p.rn
       |    JOIN wmdm m ON a.id = m.id AND a.rn = m.rn)),
       |${wilderCte("wadx", "dxs", "dx", n + 1, n)}""".stripMargin

  /** One SMA-seeded EMA recursive CTE (α = 2/(n+1)): the [[wilderCte]]
    * twin for [[graft.functions.Ema]]'s recurrence. `src` must be dense
    * in rn per id starting at `start`, so the seed (n-row avg) lands at
    * rn = start + n − 1.
    */
  private def emaCteFrom(name: String, src: String, valCol: String,
      start: Int, n: Int): String =
    s"""$name AS (
       |  SELECT id, rn, sa AS a FROM (
       |    SELECT id, rn, avg($valCol) OVER (PARTITION BY id ORDER BY rn
       |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS sa
       |    FROM $src) WHERE rn = ${start + n - 1}
       |  UNION ALL
       |  SELECT s.id, s.rn, (CAST(2 AS DOUBLE)/${n + 1}) * s.$valCol
       |           + (1 - CAST(2 AS DOUBLE)/${n + 1}) * e.a
       |  FROM $src s JOIN $name e ON s.id = e.id AND s.rn = e.rn + 1)"""
      .stripMargin

  /** q342 oracle: Keltner bands — EMA(tp, 20) recursion + Wilder
    * ATR(10) over the delta rows, joined back to the bar spine.
    */
  private val keltnerBlock: String =
    s"""WITH RECURSIVE
       |${Bars.oracleCteHourly},
       |scaled AS MATERIALIZED (
       |  SELECT *, high*nm AS hs, low*nm AS ls, close*nm AS cs,
       |         (high*nm + low*nm + close*nm) / 3.0 AS tp
       |  FROM (SELECT *, $defaultNmCase AS nm FROM hourly)),
       |num AS MATERIALIZED (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY id ORDER BY t) AS INTEGER) AS rn FROM scaled),
       |deltas AS MATERIALIZED (
       |  SELECT id, rn,
       |         greatest(hs - ls, abs(hs - pc), abs(ls - pc)) AS tr
       |  FROM (SELECT *,
       |          lag(cs) OVER (PARTITION BY id ORDER BY rn) AS pc
       |        FROM num)
       |  WHERE pc IS NOT NULL),
       |${emaCteFrom("kema", "num", "tp", 1, 20)},
       |${wilderCte("katr", "deltas", "tr", 2, 10)}""".stripMargin

  /** q343 oracle: the TRIX triple-EMA chain — each stage's recursive
    * CTE consumes the previous stage's (dense-from-seed) output.
    * Each stage reads the PREVIOUS stage through a MATERIALIZED
    * snapshot (te1m/te2m/te3m): DuckDB inlines non-materialized CTE
    * references, so a recursion joining another recursion directly
    * re-runs the inner recursion once per outer STEP — O(n³) for the
    * chain; the r15 gate timing caught q343 at 500 s of the 502 s
    * total. Snapshots make each stage run once (~1 s).
    */
  private val trixBlock: String =
    s"""WITH RECURSIVE
       |${Bars.oracleCteHourly},
       |scaled AS MATERIALIZED (
       |  SELECT *, close*nm AS cs
       |  FROM (SELECT *, $defaultNmCase AS nm FROM hourly)),
       |num AS MATERIALIZED (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY id ORDER BY t) AS INTEGER) AS rn FROM scaled),
       |${emaCteFrom("te1", "num", "cs", 1, 15)},
       |te1m AS MATERIALIZED (SELECT * FROM te1),
       |${emaCteFrom("te2", "te1m", "a", 15, 15)},
       |te2m AS MATERIALIZED (SELECT * FROM te2),
       |${emaCteFrom("te3", "te2m", "a", 29, 15)},
       |te3m AS MATERIALIZED (SELECT * FROM te3)""".stripMargin

  /** q338–q340 oracle prefix: the [[graft.mart.Flow]] delta/frame-sum
    * stack re-derived as pure window SQL (no recursion in this family).
    * Mirrors `Flow.indicators` operation-for-operation; REAL edge casts
    * absorb the engines' different sliding-sum summation trees.
    */
  private val flowBlock: String =
    s"""WITH ${Bars.oracleCteHourly},
       |scaled AS (
       |  SELECT *, high*nm AS hs, low*nm AS ls, close*nm AS cs,
       |         (high*nm + low*nm + close*nm) / 3.0 AS tp
       |  FROM (SELECT *, $defaultNmCase AS nm FROM hourly)),
       |s1 AS (
       |  SELECT *,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY t) AS INTEGER) AS rn,
       |    lag(tp) OVER (PARTITION BY id ORDER BY t) AS ptp,
       |    lag(hs) OVER (PARTITION BY id ORDER BY t) AS ph,
       |    lag(ls) OVER (PARTITION BY id ORDER BY t) AS pl,
       |    lag(cs) OVER (PARTITION BY id ORDER BY t) AS pc
       |  FROM scaled),
       |s2 AS (
       |  SELECT *,
       |    CASE WHEN ptp IS NOT NULL THEN
       |      CASE WHEN tp > ptp THEN tp * volume
       |           ELSE CAST(0 AS DOUBLE) END END AS posmf,
       |    CASE WHEN ptp IS NOT NULL THEN
       |      CASE WHEN tp < ptp THEN tp * volume
       |           ELSE CAST(0 AS DOUBLE) END END AS negmf,
       |    CASE WHEN pc IS NOT NULL THEN
       |      greatest(hs - ls, abs(hs - pc), abs(ls - pc)) END AS tr,
       |    CASE WHEN pl IS NOT NULL THEN abs(hs - pl) END AS vmp,
       |    CASE WHEN ph IS NOT NULL THEN abs(ls - ph) END AS vmm,
       |    (CASE WHEN hs <> ls THEN ((cs - ls) - (hs - cs)) / (hs - ls)
       |          ELSE CAST(0 AS DOUBLE) END) * volume AS mfv
       |  FROM s1),
       |s3 AS (
       |  SELECT *,
       |    sum(posmf)  OVER w14 AS pos_s,
       |    sum(negmf)  OVER w14 AS neg_s,
       |    sum(tr)     OVER w14 AS tr_s,
       |    sum(vmp)    OVER w14 AS vmp_s,
       |    sum(vmm)    OVER w14 AS vmm_s,
       |    sum(mfv)    OVER (PARTITION BY id ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad,
       |    sum(mfv)    OVER w20 AS mfv_s,
       |    sum(volume) OVER w20 AS vol_s
       |  FROM s2
       |  WINDOW w14 AS (PARTITION BY id ORDER BY t
       |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
       |         w20 AS (PARTITION BY id ORDER BY t
       |           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))"""
      .stripMargin

  private val hourlyBlock =
    withBlock(Bars.oracleCteHourly, "hourly", "t")
  private val dailyBlock =
    withBlock(Bars.oracleCte, "daily", "dt")
  // The forex-family block: no exceptional-symbol scaling path.
  /** √365 as the SAME Scala-rendered double in both engines (q393's
    * annualizer — never sqrt(365) in a query path). */
  private val sqrt365Lit: Double = math.sqrt(365.0)

  private val hourlyBlockNoScale =
    withBlock(Bars.oracleCteHourly, "hourly", "t",
      nmCase = "CAST(1 AS DOUBLE)")

  val queries: Map[String, Q] = Map(
    // I2 EMA 5/10/30 + I10 N_multiple (J4 distributed kernel).
    "q32_ema" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("ema5"), col("ema10"), col("ema30"),
        col("n_multiple").cast("float").as("n_multiple"))),
    // I3 MACD(12,26,9).
    "q33_macd" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("macd"), col("macd_single"))),
    // I4 RSI(14) Wilder.
    "q34_rsi" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("rsi"))),
    // I5 Bollinger(20,2).
    "q35_bollinger" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("bollinger_bands_sma"),
        col("bollinger_bands_lower_band"), col("bollinger_bands_upper_band"))),
    // I6 OBV (+ always-NULL obv_sma, as the reference produces).
    "q36_obv" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("obv"), col("obv_sma"))),
    // I8 Stochastic(14,3,3) — column/value mapping per reference quirk.
    "q37_stoch" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("stoch_oscillator"),
        col("stoch_signal"), col("stoch_percent_j"))),
    // I7 Ichimoku(9,26,52).
    "q38_ichimoku" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("ichimoku_chikou_span"),
        col("ichimoku_kijun_sen"), col("ichimoku_tenkan_sen"),
        col("ichimoku_senkou_span_a"), col("ichimoku_senkou_span_b"))),
    // I9 Aroon(25).
    "q39_aroon" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("aroon_up"), col("aroon_down"),
        col("aroon_oscillator"))),
    // I1 SMA 5/10/30 with warm-up NULL guard.
    "q41_sma" -> ((s, d) => IndicatorDay.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("sma5"), col("sma10"), col("sma30"))),
    // The full daily mart — J1-composed 36-column contract.
    "q40_indicator_day" -> ((s, d) => IndicatorDay(t("events")(s, d))),

    // Config-driven multi-asset run: ONE IndicatorDay engine serving
    // ALL SIX of the reference's per-asset clone mappings in one query —
    // the crypto source arrives with its volume column named `amount`
    // (projected via MartConfig.crypto, scaling path live for id 7);
    // forex/gold/crude_oil/natural_gas/stock_index read `volume`
    // directly with NO scaling path (the reference's five forex-shaped
    // templates). Proves the six ~200-line clones collapse to config.
    "q91_multi_asset" -> ((s, d) => {
      val bars = Bars.hourly(t("events")(s, d))
      val cryptoSrc = bars.withColumnRenamed("volume", "amount")
      MartConfig.all.map { cfg =>
        val src = if (cfg.market == "crypto") cryptoSrc else bars
        IndicatorDay.hourlyConfigured(cfg)(src)
      }.reduce(_ unionByName _)
        .select(col("market"), col("id"), col("t"), col("volume"),
          col("ema5"), col("rsi"), col("obv"),
          col("n_multiple").cast("float").as("n_multiple"))
    }),

    // Incremental mart refresh: ONLY rows with t >= the cut are
    // recomputed, seeded from the per-id stateSnapshot + a 77-bar
    // positional tail — while the ORACLE recomputes the full history
    // and filters. Equality proves the incremental algebra is exact
    // across every indicator family (recursive EMAs/RSI/OBV continue
    // from state; frame aggregates read the tail positionally). The
    // production shape persists the snapshot per run, so refresh cost
    // scales with the new data, not history length.
    "q99_incremental_mart" -> ((s, d) =>
      incrementalSelect(
        IndicatorDay.hourlyIncremental(t("events")(s, d), incrementalCutT))),

    // The PRODUCTION refresh configuration: backfillBars = 26 re-emits
    // the last 26 pre-cut rows, whose forward-looking chikou (lead 26)
    // only became complete once post-cut bars arrived — the rows the
    // trailing-window partition reload overwrites each run. Same
    // incremental algebra, wider emit window; the oracle is the full
    // recompute filtered to the widened window.
    "q109_incremental_backfill" -> ((s, d) =>
      incrementalSelect(
        IndicatorDay.hourlyIncremental(t("events")(s, d), incrementalCutT,
          backfillBars = 26))),

    // Extension: ATR(14) + the ADX(14) directional-movement chain — a
    // TWO-LEVEL Wilder recurrence (ADX smooths DX, itself a ratio of
    // three smoothed delta series), all in the mart's one-shuffle
    // window pass via the native wilder_ma running aggregate.
    "q160_atr_adx" -> ((s, d) => Trend.hourly(t("events")(s, d))),

    // Extension: session VWAP (day-reset running sums on a refined
    // (id, day) window key sharing the (id, t) sort), Williams %R(14),
    // and CCI(20) — whose mean-deviation term depends on both window
    // member and anchor, evaluated as a HOF fold over the frame's
    // collect_list (no self-join).
    "q161_vwap_channel" -> ((s, d) => Channels.hourly(t("events")(s, d))),

    // Extension: MFI(14) — the volume-weighted RSI sibling; typical-
    // price money flow split by delta sign, ratio over the last 14
    // delta rows. Lag + frame sums only, same one-sort plan as q160.
    "q338_mfi" -> ((s, d) => Flow.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("mfi"))),

    // Extension: Chaikin A/D line (running Σ of money-flow volume)
    // + CMF(20) — the close-location volume-confirmation pair.
    "q339_chaikin_ad" -> ((s, d) => Flow.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("ad"), col("cmf"))),

    // Extension: Vortex VI±(14) — |h−prev_l| / |l−prev_h| sums over
    // true range, the crossover trend-reversal pair.
    "q340_vortex" -> ((s, d) => Flow.hourly(t("events")(s, d))
      .select(col("id"), col("t"), col("vi_plus"), col("vi_minus"))),

    // Extension: Donchian(20) breakout channel — pure bounded-frame
    // max/min on the shared one-sort mart plan.
    "q341_donchian" -> ((s, d) => BandChannels.hourly(t("events")(s, d))
      .select(col("id"), col("t"),
        col("don_upper"), col("don_lower"), col("don_mid"))),

    // Extension: Keltner(EMA20 of tp, ±2·ATR(10)) — the native
    // SMA-seeded EMA composed with the Wilder ATR, both running
    // aggregates on one (id, t) sort.
    "q342_keltner" -> ((s, d) => BandChannels.hourly(t("events")(s, d))
      .select(col("id"), col("t"),
        col("kel_center"), col("kel_upper"), col("kel_lower"))),

    // Extension: TRIX(15) — 1-bar ROC of a TRIPLE EMA chain, three
    // recurrences leveled onto materialized columns over one sort.
    "q343_trix" -> ((s, d) => Trix.hourly(t("events")(s, d))),

    // Extension: daily TWAP — each price weighted by how long it held
    // (to the next event, the last to midnight); the benchmark-
    // execution twin of q161's volume-weighted VWAP over the SAME
    // irregular event spacing. One (id, day) exchange shared by the
    // lead window and the aggregate.
    "q171_twap" -> ((s, d) => graft.ts.Twap.daily(t("events")(s, d))),

    // Extension: rolling z-score anomaly flags on daily closes —
    // trailing 20-bar mean/stddev (rounded BEFORE the division and
    // the threshold compare, the cross-engine determinism contract),
    // warm-up rows NULL.
    "q181_anomaly" -> ((s, d) =>
      graft.ts.Anomaly.rollingZ(Bars.daily(t("events")(s, d)))),

    // Extension: maximum drawdown per symbol — ratios of raw closes
    // against a running max (picks, never sums), so even unrounded
    // doubles agree bit-for-bit; trough tie-break is a struct min.
    "q190_drawdown" -> ((s, d) =>
      graft.ts.Drawdown.maxDrawdown(Bars.daily(t("events")(s, d)))),

    // Extension: STL-lite additive decomposition (centered 7-day
    // trend, per-(symbol, weekday) seasonal means, residual) — trend
    // rounded at the point it enters downstream arithmetic; the
    // seasonal mean decimal-summed so it is order-independent
    // (engines slide windowed aggregates with different summation
    // trees).
    "q191_seasonal" -> ((s, d) =>
      graft.ts.Seasonal.decompose(Bars.daily(t("events")(s, d)))),

    // Trend/seasonal strength (Hyndman & Athanasopoulos FPP) over
    // the q191 decomposition: F_T/F_S per symbol off exact scaled
    // moments — model trend, seasonality, both, or neither?
    "q321_seasonal_strength" -> ((s, d) =>
      graft.ts.Seasonal.strength(Bars.daily(t("events")(s, d)))),

    // Extension: Holt's linear (double exponential) smoothing — the
    // one-step forecast on top of the EMA family, via the J4
    // groupByKey kernel path; expression shapes match the recursive
    // CTE oracle op-for-op, so the doubles are bit-identical before
    // the rounded float edge.
    "q186_holt" -> ((s, d) => {
      val bars = Bars.daily(t("events")(s, d))
        .select(col("id"),
          org.apache.spark.sql.functions.unix_timestamp(
            col("dt").cast("timestamp")).as("tkey"),
          col("close"))
      Recursive.applyKernel(bars, Seq("level", "trend", "fcast"))(
          c => graft.ts.TaKernels.holt(c))
        .select(col("id"), col("tkey"),
          org.apache.spark.sql.functions.round(col("level"), 4)
            .cast("float").as("level"),
          org.apache.spark.sql.functions.round(col("trend"), 4)
            .cast("float").as("trend"),
          org.apache.spark.sql.functions.round(col("fcast"), 4)
            .cast("float").as("fcast"))
    }),

    // Extension: local-level Kalman filter (Harvey 1989) on daily
    // closes — the adaptive-gain smoother the EMA family approximates
    // with a constant gain; J4 groupByKey kernel, recursion mirrored
    // op-for-op by the oracle's recursive CTE.
    // Annualized Sharpe + Sortino per symbol (rf = 0, MAR = 0, √365
    // — crypto trades every day) over the q189 micro-scaled exact
    // returns: integer moment sums, fixed IEEE ratios per symbol.
    "q393_sharpe_sortino" -> ((s, d) =>
      graft.ts.RiskMetrics.sharpeSortino(
        Bars.daily(t("events")(s, d)))),

    // CAPM per symbol against the equal-weight market return (beta /
    // daily alpha / R²): the per-day market mean quantized back to
    // the micro grid by a PORTABLE floor division (Spark div
    // truncates, DuckDB // floors — market returns go negative), then
    // exact decimal OLS moments per symbol.
    "q394_capm" -> ((s, d) =>
      graft.ts.RiskMetrics.capm(Bars.daily(t("events")(s, d)))),

    "q371_kalman" -> ((s, d) => {
      val bars = Bars.daily(t("events")(s, d))
        .select(col("id"),
          org.apache.spark.sql.functions.unix_timestamp(
            col("dt").cast("timestamp")).as("tkey"),
          col("close"))
      Recursive.applyKernel(bars, Seq("level", "gain", "innovation"))(
          c => graft.ts.TaKernels.kalman(c))
        .select(col("id"), col("tkey"),
          org.apache.spark.sql.functions.round(col("level"), 4)
            .cast("float").as("level"),
          org.apache.spark.sql.functions.round(col("gain"), 6)
            .cast("float").as("gain"),
          org.apache.spark.sql.functions.round(col("innovation"), 4)
            .cast("float").as("innovation"))
    }),

    // Extension: Kaufman adaptive MA (1995) on daily closes — the
    // EMA whose gain ADAPTS to the efficiency ratio; J4 kernel with
    // the sc constants string-interpolated into the oracle so both
    // engines inline identical doubles.
    "q373_kama" -> ((s, d) => {
      val bars = Bars.daily(t("events")(s, d))
        .select(col("id"),
          org.apache.spark.sql.functions.unix_timestamp(
            col("dt").cast("timestamp")).as("tkey"),
          col("close"))
      Recursive.applyKernel(bars, Seq("kama", "er"))(
          c => graft.ts.TaKernels.kama(c))
        .select(col("id"), col("tkey"),
          org.apache.spark.sql.functions.round(col("kama"), 4)
            .cast("float").as("kama"),
          org.apache.spark.sql.functions.round(col("er"), 6)
            .cast("float").as("er"))
    }),

    // Extension: rolling-origin one-step forecast BACKTEST — the
    // forecast-accuracy report the smoothing family exists for: per
    // symbol, every bar from the second on is predicted by (a) the
    // Holt forecast carried from the PREVIOUS bar and (b) the naive
    // random-walk carry (yesterday's close), and the two MAEs meet in
    // MASE = Σ|e_holt| / Σ|e_naive| (< 1 ⇔ the model beats the
    // carry). Determinism: per-row errors are floor-rounded into
    // exact 1e−4 integer units BEFORE summation (the chi2
    // order-independence discipline over the kernel's bit-identical
    // doubles); each shipped stat is ONE division of exact longs.
    // Banded dynamic-time-warping distance (Sakoe–Chiba) between the
    // q189-style watchlist and a cohort of symbols, over hourly-bar
    // closes quantized to the exact 1e-4 grid — the elastic shape
    // similarity fixed-offset cross-correlation cannot align. The DP
    // runs as a native codegen'd kernel; the pair space is
    // watchlist×cohort with the watchlist broadcast.
    "q257_dtw" -> ((s, d) => graft.ts.Dtw.pairDistances(
      Bars.hourly(t("events")(s, d)),
      col("id") % 100 === 0, col("id") % 13 === 3)),

    "q247_forecast_backtest" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{abs, count, floor, lag, sum}
      def r4(c: org.apache.spark.sql.Column) =
        (floor(c * 1e4 + 0.5) / 1e4).cast("float")
      val bars = Bars.daily(t("events")(s, d))
        .select(col("id"),
          org.apache.spark.sql.functions.unix_timestamp(
            col("dt").cast("timestamp")).as("tkey"),
          col("close"))
      // the kernel frame carries (id, tkey, kernel cols) — join the
      // close back on the (id, tkey) key for the error terms
      val k = bars.join(
        Recursive.applyKernel(bars, Seq("level", "trend", "fcast"))(
          c => graft.ts.TaKernels.holt(c))
          .select(col("id"), col("tkey"), col("fcast")),
        Seq("id", "tkey"))
      val w = Window.partitionBy(col("id")).orderBy(col("tkey"))
      val er = k.select(col("id"), col("close"),
          lag(col("fcast"), 1).over(w).as("fp"),
          lag(col("close"), 1).over(w).as("cp"))
        .where(col("fp").isNotNull && col("cp").isNotNull)
        .select(col("id"),
          floor(abs(col("close") - col("fp")) * 1e4 + 0.5).as("ehi"),
          floor(abs(col("close") - col("cp")) * 1e4 + 0.5).as("eni"))
      er.groupBy(col("id"))
        .agg(count(lit(1)).as("n_evals"),
          sum(col("ehi")).as("sh"), sum(col("eni")).as("sn"))
        .select(col("id"), col("n_evals"),
          r4(col("sh").cast("double") / 1e4 / col("n_evals"))
            .as("mae_holt"),
          r4(col("sn").cast("double") / 1e4 / col("n_evals"))
            .as("mae_naive"),
          when(col("sn") > 0,
            r4(col("sh").cast("double") / col("sn").cast("double")))
            .as("mase"))
    }),

    // Extension: Holt–Winters additive triple smoothing — q186's
    // level/trend plus a period-7 seasonal state on the same kernel
    // path; the oracle's recursive CTE carries the trailing 7
    // seasonals as a LIST and replays the recurrence op-for-op.
    "q223_holt_winters" -> ((s, d) => {
      val bars = Bars.daily(t("events")(s, d))
        .select(col("id"),
          org.apache.spark.sql.functions.unix_timestamp(
            col("dt").cast("timestamp")).as("tkey"),
          col("close"))
      Recursive.applyKernel(bars,
          Seq("level", "trend", "seasonal", "fcast"))(
          c => graft.ts.TaKernels.holtWinters(c))
        .select(col("id"), col("tkey"),
          org.apache.spark.sql.functions.round(col("level"), 4)
            .cast("float").as("level"),
          org.apache.spark.sql.functions.round(col("trend"), 4)
            .cast("float").as("trend"),
          org.apache.spark.sql.functions.round(col("seasonal"), 4)
            .cast("float").as("seasonal"),
          org.apache.spark.sql.functions.round(col("fcast"), 4)
            .cast("float").as("fcast"))
    }),

    // J4: the groupByKey.flatMapGroups kernel path ([[Recursive]]) —
    // the mart itself runs the native TypedImperativeAggregate path
    // (graft.functions), so this keeps the distributed-kernel
    // formulation independently oracle-verified.
    "q42_recursive_kernel" -> ((s, d) => {
      val scaledClose =
        (col("close") * MartConfig.crypto.nMultipleCol).as("close")
      val bars = Bars.hourly(t("events")(s, d))
        .select(col("id"), col("t").as("tkey"), scaledClose)
      val rec = Recursive.withTa(bars)
      def e(name: String) =
        when(col(name) =!= 0.0, col(name)).cast("float").as(name)
      rec.select(col("id"), col("tkey").as("t"),
        e("ema5"), e("ema10"), e("ema30"),
        e("macd"), e("macd_single"), e("rsi"))
    }))

  /** Full-history recompute of the 28-column incremental frame,
    * filtered to rows with `t >= emitFromT` (q99/q109 share this with
    * their respective emit windows).
    */
  private def incrementalOracle(emitFromT: Long): String =
    s"""$hourlyBlock
       |SELECT id, t,
       |       ${E("sma5")} AS sma5, ${E("sma10")} AS sma10,
       |       ${E("sma30")} AS sma30,
       |       ${E("ema5")} AS ema5, ${E("ema10")} AS ema10,
       |       ${E("ema30")} AS ema30,
       |       ${E("macd")} AS macd, ${E("macd_single")} AS macd_single,
       |       ${E("rsi")} AS rsi,
       |       ${E("bb_sma")} AS bollinger_bands_sma,
       |       ${E("bb_lower")} AS bollinger_bands_lower_band,
       |       ${E("bb_upper")} AS bollinger_bands_upper_band,
       |       ${E("obv")} AS obv, CAST(NULL AS REAL) AS obv_sma,
       |       ${E("chikou")} AS ichimoku_chikou_span,
       |       ${E("kijun")} AS ichimoku_kijun_sen,
       |       ${E("tenkan")} AS ichimoku_tenkan_sen,
       |       ${E("senkou_a")} AS ichimoku_senkou_span_a,
       |       ${E("senkou_b")} AS ichimoku_senkou_span_b,
       |       ${E("stoch_d")} AS stoch_oscillator,
       |       ${E("stoch_k")} AS stoch_signal,
       |       ${E("stoch_j")} AS stoch_percent_j,
       |       ${E("aroon_up")} AS aroon_up,
       |       ${E("aroon_down")} AS aroon_down,
       |       ${E("aroon_osc")} AS aroon_oscillator,
       |       CAST(nm AS REAL) AS n_multiple
       |FROM ind WHERE t >= $emitFromT""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q32_ema" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("ema5")} AS ema5, ${E("ema10")} AS ema10,
         |       ${E("ema30")} AS ema30, CAST(nm AS REAL) AS n_multiple
         |FROM ind""".stripMargin,
    "q33_macd" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("macd")} AS macd,
         |       ${E("macd_single")} AS macd_single
         |FROM ind""".stripMargin,
    "q34_rsi" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("rsi")} AS rsi FROM ind""".stripMargin,
    "q35_bollinger" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("bb_sma")} AS bollinger_bands_sma,
         |       ${E("bb_lower")} AS bollinger_bands_lower_band,
         |       ${E("bb_upper")} AS bollinger_bands_upper_band
         |FROM ind""".stripMargin,
    "q36_obv" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("obv")} AS obv, CAST(NULL AS REAL) AS obv_sma
         |FROM ind""".stripMargin,
    "q37_stoch" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("stoch_d")} AS stoch_oscillator,
         |       ${E("stoch_k")} AS stoch_signal,
         |       ${E("stoch_j")} AS stoch_percent_j
         |FROM ind""".stripMargin,
    "q38_ichimoku" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("chikou")} AS ichimoku_chikou_span,
         |       ${E("kijun")} AS ichimoku_kijun_sen,
         |       ${E("tenkan")} AS ichimoku_tenkan_sen,
         |       ${E("senkou_a")} AS ichimoku_senkou_span_a,
         |       ${E("senkou_b")} AS ichimoku_senkou_span_b
         |FROM ind""".stripMargin,
    "q39_aroon" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("aroon_up")} AS aroon_up,
         |       ${E("aroon_down")} AS aroon_down,
         |       ${E("aroon_osc")} AS aroon_oscillator
         |FROM ind""".stripMargin,
    "q41_sma" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("sma5")} AS sma5, ${E("sma10")} AS sma10,
         |       ${E("sma30")} AS sma30
         |FROM ind""".stripMargin,
    "q42_recursive_kernel" ->
      s"""$hourlyBlock
         |SELECT id, t, ${E("ema5")} AS ema5, ${E("ema10")} AS ema10,
         |       ${E("ema30")} AS ema30, ${E("macd")} AS macd,
         |       ${E("macd_single")} AS macd_single, ${E("rsi")} AS rsi
         |FROM ind""".stripMargin,
    "q160_atr_adx" ->
      s"""${trendBlock(14)}
         |SELECT n.id, n.t,
         |       CAST(d.atr AS REAL) AS atr,
         |       CAST(d.plus_di AS REAL) AS plus_di,
         |       CAST(d.minus_di AS REAL) AS minus_di,
         |       CAST(d.dx AS REAL) AS dx,
         |       CAST(x.a AS REAL) AS adx
         |FROM num n
         |LEFT JOIN dxs  d ON n.id = d.id AND n.rn = d.rn
         |LEFT JOIN wadx x ON n.id = x.id AND n.rn = x.rn""".stripMargin,
    // VWAP / %R / CCI: the mean-deviation fold is replayed with the
    // exact left-fold order (list_reduce over a 0.0-prepended list)
    // so even the CCI denominator matches the engine's HOF fold
    // bit-for-bit before the REAL edge.
    "q161_vwap_channel" ->
      s"""WITH ${Bars.oracleCteHourly},
         |scaled AS (
         |  SELECT *, high*nm AS hs, low*nm AS ls, close*nm AS cs,
         |         (high*nm + low*nm + close*nm) / 3.0 AS tp,
         |         t // 86400 AS day
         |  FROM (SELECT *, $defaultNmCase AS nm FROM hourly)),
         |s1 AS (
         |  SELECT *,
         |    CAST(row_number() OVER (PARTITION BY id ORDER BY t) AS INTEGER) AS rn,
         |    sum(tp * volume) OVER (PARTITION BY id, day ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpv,
         |    sum(volume) OVER (PARTITION BY id, day ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv,
         |    max(hs) OVER (PARTITION BY id ORDER BY t
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh,
         |    min(ls) OVER (PARTITION BY id ORDER BY t
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll,
         |    avg(tp) OVER (PARTITION BY id ORDER BY t
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS tp_sma,
         |    list(tp) OVER (PARTITION BY id ORDER BY t
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS tp_win
         |  FROM scaled),
         |s2 AS (
         |  SELECT *,
         |    CASE WHEN cv <> 0 THEN cpv / cv END AS vwap,
         |    CASE WHEN rn >= 14 THEN
         |      CASE WHEN hh <> ll THEN ((-100) * (hh - cs)) / (hh - ll)
         |           ELSE CAST(0 AS DOUBLE) END END AS willr,
         |    CASE WHEN rn >= 20 THEN
         |      list_reduce(
         |        list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(tp_win, x -> abs(x - tp_sma))),
         |        (a, x) -> a + x) / 20.0 END AS md
         |  FROM s1)
         |SELECT id, t, CAST(vwap AS REAL) AS vwap,
         |       CAST(willr AS REAL) AS willr,
         |       CAST(CASE WHEN md IS NOT NULL THEN
         |         CASE WHEN md <> 0 THEN (tp - tp_sma) / (0.015 * md)
         |              ELSE CAST(0 AS DOUBLE) END END AS REAL) AS cci
         |FROM s2""".stripMargin,
    // MFI(14): the flow block's sign-split money-flow ratio.
    "q338_mfi" ->
      s"""$flowBlock
         |SELECT id, t,
         |       CAST(CASE WHEN rn >= 15 THEN
         |         CASE WHEN pos_s + neg_s <> 0
         |              THEN (100 * pos_s) / (pos_s + neg_s)
         |              ELSE CAST(0 AS DOUBLE) END END AS REAL) AS mfi
         |FROM s3""".stripMargin,
    // Chaikin A/D running sum + CMF(20) frame ratio.
    "q339_chaikin_ad" ->
      s"""$flowBlock
         |SELECT id, t, CAST(ad AS REAL) AS ad,
         |       CAST(CASE WHEN rn >= 20 THEN
         |         CASE WHEN vol_s <> 0 THEN mfv_s / vol_s
         |              ELSE CAST(0 AS DOUBLE) END END AS REAL) AS cmf
         |FROM s3""".stripMargin,
    // Vortex VI±(14): movement sums over the true-range sum.
    "q340_vortex" ->
      s"""$flowBlock
         |SELECT id, t,
         |       CAST(CASE WHEN rn >= 15 THEN
         |         CASE WHEN tr_s <> 0 THEN vmp_s / tr_s
         |              ELSE CAST(0 AS DOUBLE) END END AS REAL) AS vi_plus,
         |       CAST(CASE WHEN rn >= 15 THEN
         |         CASE WHEN tr_s <> 0 THEN vmm_s / tr_s
         |              ELSE CAST(0 AS DOUBLE) END END AS REAL) AS vi_minus
         |FROM s3""".stripMargin,
    // Donchian(20): bounded-frame max/min channel.
    "q341_donchian" ->
      s"""WITH ${Bars.oracleCteHourly},
         |scaled AS (
         |  SELECT *, high*nm AS hs, low*nm AS ls
         |  FROM (SELECT *, $defaultNmCase AS nm FROM hourly)),
         |s1 AS (
         |  SELECT *,
         |    CAST(row_number() OVER (PARTITION BY id ORDER BY t)
         |      AS INTEGER) AS rn,
         |    max(hs) OVER (PARTITION BY id ORDER BY t
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS hh,
         |    min(ls) OVER (PARTITION BY id ORDER BY t
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ll
         |  FROM scaled)
         |SELECT id, t,
         |       CAST(CASE WHEN rn >= 20 THEN hh END AS REAL) AS don_upper,
         |       CAST(CASE WHEN rn >= 20 THEN ll END AS REAL) AS don_lower,
         |       CAST(CASE WHEN rn >= 20 THEN (hh + ll) / 2.0 END AS REAL)
         |         AS don_mid
         |FROM s1""".stripMargin,
    // Keltner: EMA(tp,20) center ± 2·ATR(10), masked to rows where
    // both recurrences are warm.
    "q342_keltner" ->
      s"""$keltnerBlock
         |SELECT n.id, n.t,
         |       CAST(CASE WHEN e.a IS NOT NULL AND a.a IS NOT NULL
         |            THEN e.a END AS REAL) AS kel_center,
         |       CAST(e.a + 2.0 * a.a AS REAL) AS kel_upper,
         |       CAST(e.a - 2.0 * a.a AS REAL) AS kel_lower
         |FROM num n
         |LEFT JOIN kema e ON n.id = e.id AND n.rn = e.rn
         |LEFT JOIN katr a ON n.id = a.id AND n.rn = a.rn""".stripMargin,
    // TRIX(15): the third EMA stage plus its 1-bar ROC, both off the
    // te3 recursion joined back to the bar spine.
    "q343_trix" ->
      s"""$trixBlock
         |SELECT n.id, n.t, CAST(e.a AS REAL) AS e3,
         |       CAST(CASE WHEN p.a IS NOT NULL THEN
         |         CASE WHEN p.a <> 0 THEN (100 * (e.a - p.a)) / p.a
         |              ELSE CAST(0 AS DOUBLE) END END AS REAL) AS trix
         |FROM num n
         |LEFT JOIN te3m e ON n.id = e.id AND n.rn = e.rn
         |LEFT JOIN te3m p ON n.id = p.id AND n.rn = p.rn + 1""".stripMargin,
    // The local-level recursion replayed: (l, p) state stepped rn by
    // rn, the gain expression repeated where the kernel names it —
    // same value, deterministic.
    // q189's return CTEs + the same exact moment algebra per symbol.
    "q393_sharpe_sortino" ->
      s"""WITH ${Bars.oracleCte},
         |r0 AS (
         |  SELECT id, dt,
         |         CASE WHEN lag(close) OVER (PARTITION BY id ORDER BY dt)
         |                   <> 0
         |              THEN close / lag(close)
         |                     OVER (PARTITION BY id ORDER BY dt) - 1
         |         END AS r
         |  FROM daily),
         |r AS (SELECT id, dt,
         |        CAST(round(LEAST(GREATEST(r, -10), 10) * 1e6, 0)
         |          AS BIGINT) AS rs
         |      FROM r0 WHERE r IS NOT NULL),
         |g AS (SELECT id, count(*) AS n,
         |        CAST(sum(rs) AS BIGINT) AS s1,
         |        CAST(sum(CAST(rs AS HUGEINT) * rs) AS HUGEINT) AS s2,
         |        CAST(sum(CAST(LEAST(rs, 0) AS HUGEINT)
         |          * LEAST(rs, 0)) AS HUGEINT) AS sn2
         |      FROM r GROUP BY 1 HAVING count(*) >= 10)
         |SELECT id, CAST(n AS INTEGER) AS n,
         |  CAST(round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
         |    * 365.0 / 1e6, 6) AS REAL) AS ann_ret,
         |  CAST(round(CASE WHEN
         |      (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
         |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0.0
         |    THEN CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
         |      / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
         |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
         |      * $sqrt365Lit
         |    END, 4) AS REAL) AS sharpe,
         |  CAST(round(CASE WHEN CAST(sn2 AS DOUBLE)
         |        / CAST(n AS DOUBLE) > 0.0
         |    THEN CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
         |      / sqrt(CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE))
         |      * $sqrt365Lit
         |    END, 4) AS REAL) AS sortino
         |FROM g""".stripMargin,

    // The same return CTEs + the portable-floor market mean + exact
    // per-symbol OLS moments.
    "q394_capm" ->
      s"""WITH ${Bars.oracleCte},
         |r0 AS (
         |  SELECT id, dt,
         |         CASE WHEN lag(close) OVER (PARTITION BY id ORDER BY dt)
         |                   <> 0
         |              THEN close / lag(close)
         |                     OVER (PARTITION BY id ORDER BY dt) - 1
         |         END AS r
         |  FROM daily),
         |r AS MATERIALIZED (SELECT id, dt,
         |        CAST(round(LEAST(GREATEST(r, -10), 10) * 1e6, 0)
         |          AS BIGINT) AS rs
         |      FROM r0 WHERE r IS NOT NULL),
         |mkt AS (SELECT dt,
         |          CAST((ms - ((ms % mc) + mc) % mc) / mc AS BIGINT)
         |            AS xm
         |        FROM (SELECT dt, CAST(sum(rs) AS BIGINT) AS ms,
         |                count(*) AS mc
         |              FROM r GROUP BY 1)),
         |g AS (SELECT id, count(*) AS n,
         |        CAST(sum(xm) AS BIGINT) AS sx,
         |        CAST(sum(rs) AS BIGINT) AS sy,
         |        CAST(sum(CAST(xm AS HUGEINT) * rs) AS HUGEINT) AS sxy,
         |        CAST(sum(CAST(xm AS HUGEINT) * xm) AS HUGEINT) AS sxx,
         |        CAST(sum(CAST(rs AS HUGEINT) * rs) AS HUGEINT) AS syy
         |      FROM r JOIN mkt USING (dt)
         |      GROUP BY 1 HAVING count(*) >= 10),
         |v AS (SELECT id, n,
         |        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         |        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
         |        CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cv,
         |        CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
         |      FROM g)
         |SELECT id, CAST(n AS INTEGER) AS n,
         |  CAST(round(CASE WHEN vx > 0.0 THEN cv / vx END, 4) AS REAL)
         |    AS beta,
         |  CAST(round(CASE WHEN vx > 0.0 THEN
         |      (syd - cv / vx * sxd) / CAST(n AS DOUBLE) / 1e6
         |    END, 8) AS REAL) AS alpha_daily,
         |  CAST(round(CASE WHEN vx > 0.0 AND vy > 0.0 THEN
         |      cv * cv / (vx * vy) END, 4) AS REAL) AS r2
         |FROM v""".stripMargin,

    "q371_kalman" ->
      s"""WITH RECURSIVE ${Bars.oracleCte},
         |num AS MATERIALIZED (
         |  SELECT id, dt, close,
         |         CAST(row_number() OVER (PARTITION BY id ORDER BY dt)
         |           AS INTEGER) AS rn
         |  FROM daily),
         |k AS (
         |  SELECT id, rn, close AS l, CAST(4 AS DOUBLE) AS p,
         |         CAST(NULL AS DOUBLE) AS g, CAST(NULL AS DOUBLE) AS e
         |  FROM num WHERE rn = 1
         |  UNION ALL
         |  SELECT n.id, n.rn,
         |    k.l + ((k.p + 1.0) / ((k.p + 1.0) + 4.0)) * (n.close - k.l),
         |    (1 - (k.p + 1.0) / ((k.p + 1.0) + 4.0)) * (k.p + 1.0),
         |    (k.p + 1.0) / ((k.p + 1.0) + 4.0),
         |    n.close - k.l
         |  FROM num n JOIN k ON n.id = k.id AND n.rn = k.rn + 1)
         |SELECT n.id,
         |       CAST(floor(epoch(CAST(n.dt AS TIMESTAMP))) AS BIGINT)
         |         AS tkey,
         |       CAST(round(k.l, 4) AS REAL) AS level,
         |       CAST(round(k.g, 6) AS REAL) AS gain,
         |       CAST(round(k.e, 4) AS REAL) AS innovation
         |FROM num n LEFT JOIN k ON n.id = k.id AND n.rn = k.rn"""
        .stripMargin,

    // ER off a materialized lag/frame CTE, then the adaptive-gain
    // recursion with the interpolated sc constants.
    "q373_kama" -> {
      val df = graft.ts.TaKernels.kamaFastSlowDiff
      val sl = graft.ts.TaKernels.kamaSlow
      s"""WITH RECURSIVE ${Bars.oracleCte},
         |num AS MATERIALIZED (
         |  SELECT id, dt, close,
         |         CAST(row_number() OVER (PARTITION BY id ORDER BY dt)
         |           AS INTEGER) AS rn
         |  FROM daily),
         |d1 AS MATERIALIZED (
         |  SELECT *, abs(close - lag(close) OVER
         |    (PARTITION BY id ORDER BY rn)) AS ad
         |  FROM num),
         |erc AS MATERIALIZED (
         |  SELECT id, rn, dt, close,
         |    CASE WHEN rn >= 11 THEN
         |      CASE WHEN den <> 0 THEN abs(close - l10) / den
         |           ELSE CAST(0 AS DOUBLE) END END AS er
         |  FROM (SELECT *,
         |          lag(close, 10) OVER (PARTITION BY id ORDER BY rn)
         |            AS l10,
         |          sum(ad) OVER (PARTITION BY id ORDER BY rn
         |            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS den
         |        FROM d1)),
         |k AS (
         |  SELECT id, rn, close AS kama FROM erc WHERE rn = 10
         |  UNION ALL
         |  SELECT e.id, e.rn,
         |    k.kama + ((e.er * $df + $sl) * (e.er * $df + $sl))
         |      * (e.close - k.kama)
         |  FROM erc e JOIN k ON e.id = k.id AND e.rn = k.rn + 1)
         |SELECT n.id,
         |       CAST(floor(epoch(CAST(n.dt AS TIMESTAMP))) AS BIGINT)
         |         AS tkey,
         |       CAST(round(k.kama, 4) AS REAL) AS kama,
         |       CAST(round(n2.er, 6) AS REAL) AS er
         |FROM num n
         |LEFT JOIN k ON n.id = k.id AND n.rn = k.rn
         |LEFT JOIN erc n2 ON n.id = n2.id AND n.rn = n2.rn
         |  AND n2.er IS NOT NULL""".stripMargin
    },

    // The incremental-refresh gate: FULL-history recompute, filtered to
    // the engine's refresh window.
    "q99_incremental_mart" -> incrementalOracle(incrementalCutT),
    // Production backfill window: full recompute filtered to the
    // 26-bar-widened emit window (the chikou re-emit rows included).
    "q109_incremental_backfill" ->
      incrementalOracle(incrementalCutT - 26 * 3600L),
    // The five forex-shaped markets are value-identical by construction
    // (same config content, different tag), so the oracle evaluates the
    // no-scale block ONCE and fans the tag out with a VALUES cross join
    // — semantically the same as five copies of the block.
    "q91_multi_asset" ->
      s"""SELECT * FROM (
         |$hourlyBlock
         |SELECT 'crypto' AS market, id, t, volume,
         |       ${E("ema5")} AS ema5, ${E("rsi")} AS rsi,
         |       ${E("obv")} AS obv, CAST(nm AS REAL) AS n_multiple
         |FROM ind)
         |UNION ALL
         |SELECT * FROM (
         |$hourlyBlockNoScale
         |SELECT m.market AS market, id, t, volume,
         |       ${E("ema5")} AS ema5, ${E("rsi")} AS rsi,
         |       ${E("obv")} AS obv, CAST(nm AS REAL) AS n_multiple
         |FROM ind, (VALUES ('forex'), ('gold'), ('crude_oil'),
         |           ('natural_gas'), ('stock_index')) AS m(market))"""
        .stripMargin,
    "q40_indicator_day" ->
      s"""$dailyBlock
         |SELECT id, dt,
         |       CAST(low AS REAL) AS low, CAST(high AS REAL) AS high,
         |       CAST(open AS REAL) AS open, CAST(close AS REAL) AS close,
         |       CAST(volume AS REAL) AS volume,
         |       ${E("macd")} AS macd, ${E("macd_single")} AS macd_single,
         |       ${E("rsi")} AS rsi,
         |       ${E("bb_sma")} AS bollinger_bands_sma,
         |       ${E("bb_lower")} AS bollinger_bands_lower_band,
         |       ${E("bb_upper")} AS bollinger_bands_upper_band,
         |       ${E("obv")} AS obv, CAST(NULL AS REAL) AS obv_sma,
         |       ${E("chikou")} AS ichimoku_chikou_span,
         |       ${E("kijun")} AS ichimoku_kijun_sen,
         |       ${E("tenkan")} AS ichimoku_tenkan_sen,
         |       ${E("senkou_a")} AS ichimoku_senkou_span_a,
         |       ${E("senkou_b")} AS ichimoku_senkou_span_b,
         |       ${E("stoch_d")} AS stoch_oscillator,
         |       ${E("stoch_k")} AS stoch_signal,
         |       ${E("stoch_j")} AS stoch_percent_j,
         |       ${E("aroon_up")} AS aroon_up, ${E("aroon_down")} AS aroon_down,
         |       ${E("aroon_osc")} AS aroon_oscillator,
         |       ${E("sma5")} AS sma5, ${E("sma10")} AS sma10,
         |       ${E("sma30")} AS sma30,
         |       ${E("ema5")} AS ema5, ${E("ema10")} AS ema10,
         |       ${E("ema30")} AS ema30,
         |       CAST(nm AS REAL) AS n_multiple,
         |       CAST(year(dt) AS INTEGER) AS year,
         |       CAST(month(dt) AS INTEGER) AS month,
         |       CAST(day(dt) AS INTEGER) AS day
         |FROM ind""".stripMargin,

    "q190_drawdown" ->
      s"""WITH ${Bars.oracleCte},
         |d AS (
         |  SELECT id, dt,
         |         CASE WHEN max(close) OVER (PARTITION BY id ORDER BY dt
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                <> 0
         |         THEN round(close / max(close) OVER (PARTITION BY id
         |                ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING
         |                AND CURRENT ROW) - 1, 4)
         |         END AS dd
         |  FROM daily)
         |SELECT id, CAST(count(*) AS INTEGER) AS n_days,
         |       (min(struct_pack(dd := dd, dt := dt))).dt AS trough_dt,
         |       CAST(min(dd) AS REAL) AS max_dd
         |FROM d GROUP BY 1""".stripMargin,

    "q191_seasonal" ->
      s"""WITH ${Bars.oracleCte},
         |tr AS (
         |  SELECT id, dt, close,
         |         CASE WHEN count(*) OVER w = 7
         |              THEN round(avg(close) OVER w, 4) END AS trend,
         |         CAST(dayofweek(dt) + 1 AS INTEGER) AS dow
         |  FROM daily
         |  WINDOW w AS (PARTITION BY id ORDER BY dt
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |de AS (SELECT *, CAST(round((close - trend) * 10000) AS BIGINT)
         |         AS detr_s FROM tr),
         |se AS (SELECT id, dow,
         |         CASE WHEN sum(detr_s) >= 0
         |              THEN (2 * sum(detr_s) + count(*)) // (2 * count(*))
         |              ELSE -((2 * -sum(detr_s) + count(*)) // (2 * count(*)))
         |         END AS seasonal_s
         |       FROM de WHERE detr_s IS NOT NULL GROUP BY 1, 2)
         |SELECT de.id, de.dt, de.dow, de.close,
         |       CAST(de.trend AS REAL) AS trend,
         |       CAST(CASE WHEN de.trend IS NOT NULL
         |            THEN se.seasonal_s / 10000.0 END AS REAL) AS seasonal,
         |       CAST(CASE WHEN de.trend IS NOT NULL
         |            THEN (de.detr_s - se.seasonal_s) / 10000.0 END AS REAL)
         |         AS resid
         |FROM de LEFT JOIN se USING (id, dow)""".stripMargin,

    // q191's tr/de/se CTEs, exact scaled component moments, the two
    // guarded F readouts.
    "q321_seasonal_strength" ->
      s"""WITH ${Bars.oracleCte},
         |tr AS (
         |  SELECT id, dt, close,
         |         CASE WHEN count(*) OVER w = 7
         |              THEN round(avg(close) OVER w, 4) END AS trend,
         |         CAST(dayofweek(dt) + 1 AS INTEGER) AS dow
         |  FROM daily
         |  WINDOW w AS (PARTITION BY id ORDER BY dt
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |de AS (SELECT *, CAST(round((close - trend) * 10000)
         |         AS BIGINT) AS detr_s FROM tr),
         |se AS (SELECT id, dow,
         |         CASE WHEN sum(detr_s) >= 0
         |              THEN (2 * sum(detr_s) + count(*))
         |                // (2 * count(*))
         |              ELSE -((2 * -sum(detr_s) + count(*))
         |                // (2 * count(*)))
         |         END AS seasonal_s
         |       FROM de WHERE detr_s IS NOT NULL GROUP BY 1, 2),
         |ro AS (SELECT de.id,
         |         de.detr_s - se.seasonal_s AS rs,
         |         de.detr_s AS srs,
         |         CAST(round(de.trend * 10000) AS BIGINT)
         |           + (de.detr_s - se.seasonal_s) AS trs
         |       FROM de JOIN se USING (id, dow)
         |       WHERE de.detr_s IS NOT NULL),
         |m AS (SELECT id, CAST(count(*) AS BIGINT) AS n,
         |        sum(CAST(rs AS HUGEINT)) AS s_rs,
         |        sum(CAST(rs AS HUGEINT) * rs) AS q_rs,
         |        sum(CAST(srs AS HUGEINT)) AS s_srs,
         |        sum(CAST(srs AS HUGEINT) * srs) AS q_srs,
         |        sum(CAST(trs AS HUGEINT)) AS s_trs,
         |        sum(CAST(trs AS HUGEINT) * trs) AS q_trs
         |      FROM ro GROUP BY 1),
         |v AS (SELECT id, n,
         |        (CAST(q_rs AS DOUBLE) / n
         |          - (CAST(s_rs AS DOUBLE) / n)
         |            * (CAST(s_rs AS DOUBLE) / n)) / 1e8 AS vr,
         |        (CAST(q_srs AS DOUBLE) / n
         |          - (CAST(s_srs AS DOUBLE) / n)
         |            * (CAST(s_srs AS DOUBLE) / n)) / 1e8 AS vsr,
         |        (CAST(q_trs AS DOUBLE) / n
         |          - (CAST(s_trs AS DOUBLE) / n)
         |            * (CAST(s_trs AS DOUBLE) / n)) / 1e8 AS vtr
         |      FROM m)
         |SELECT id, n,
         |  CASE WHEN vtr > 0 THEN
         |    CAST(floor(greatest(0.0, 1.0 - vr / vtr) * 1e6 + 0.5)
         |      / 1e6 AS REAL)
         |  END AS f_trend,
         |  CASE WHEN vsr > 0 THEN
         |    CAST(floor(greatest(0.0, 1.0 - vr / vsr) * 1e6 + 0.5)
         |      / 1e6 AS REAL)
         |  END AS f_seasonal
         |FROM v""".stripMargin,

    "q186_holt" ->
      s"""WITH RECURSIVE ${Bars.oracleCte},
         |num AS MATERIALIZED (
         |  SELECT id, dt, close,
         |         CAST(row_number() OVER (PARTITION BY id ORDER BY dt)
         |           AS INTEGER) AS rn
         |  FROM daily),
         |x2 AS MATERIALIZED (SELECT id, close AS c2 FROM num WHERE rn = 2),
         |h AS (
         |  SELECT n.id, n.rn, n.close AS l, (x2.c2 - n.close) AS b
         |  FROM num n JOIN x2 ON n.id = x2.id WHERE n.rn = 1
         |  UNION ALL
         |  SELECT n.id, n.rn,
         |    0.2 * n.close + (1 - 0.2) * (h.l + h.b),
         |    0.1 * ((0.2 * n.close + (1 - 0.2) * (h.l + h.b)) - h.l)
         |      + (1 - 0.1) * h.b
         |  FROM num n JOIN h ON n.id = h.id AND n.rn = h.rn + 1)
         |SELECT n.id,
         |       CAST(floor(epoch(CAST(n.dt AS TIMESTAMP))) AS BIGINT)
         |         AS tkey,
         |       CAST(round(h.l, 4) AS REAL) AS level,
         |       CAST(round(h.b, 4) AS REAL) AS trend,
         |       CAST(round(h.l + h.b, 4) AS REAL) AS fcast
         |FROM num n LEFT JOIN h ON n.id = h.id AND n.rn = h.rn"""
        .stripMargin,

    // The banded DP replayed as an anti-diagonal recursive CTE: state
    // rows carry diagonals d (age 0) and d−1 (age 1); each step the
    // age-0 cells feed (i+1,j)/(i,j+1), the age-1 cells feed
    // (i+1,j+1), a min-merge + banded-cost join produces diagonal
    // d+1, and age-0 rows re-emit as age-1 until the pair's final
    // diagonal. Identical exact-integer arithmetic to the kernel —
    // min over EXISTING cells only, so no infinity sentinel is needed
    // on either side.
    "q257_dtw" ->
      s"""WITH RECURSIVE
         |${Bars.oracleCteHourly},
         |ser AS MATERIALIZED (
         |  SELECT id,
         |         list(CAST(floor(close * 1e4 + 0.5) AS BIGINT)
         |              ORDER BY t) AS q,
         |         count(*) AS len
         |  FROM hourly GROUP BY 1),
         |pr AS MATERIALIZED (
         |  SELECT a.id AS ida, b.id AS idb, a.q AS qa, b.q AS qb,
         |         a.len AS la, b.len AS lb,
         |         6 + abs(a.len - b.len) AS w
         |  FROM ser a, ser b WHERE a.id % 100 = 0 AND b.id % 13 = 3),
         |lens AS MATERIALIZED (SELECT ida, idb, la, lb FROM pr),
         |ci AS (SELECT ida, idb, qa, qb, lb, w,
         |              unnest(range(1, la + 1)) AS i
         |       FROM pr),
         |cost AS MATERIALIZED (
         |  SELECT ida, idb, i, j, abs(qa[i] - qb[j]) AS c FROM (
         |    SELECT ida, idb, qa, qb, i,
         |           unnest(range(greatest(1, i - w),
         |                        least(lb, i + w) + 1)) AS j
         |    FROM ci) t),
         |dp AS (
         |  SELECT c.ida, c.idb, 2 AS diag, 1 AS i, c.c AS val, 0 AS age
         |  FROM cost c WHERE c.i = 1 AND c.j = 1
         |  UNION ALL
         |  SELECT * FROM (
         |    WITH feeds AS (
         |      SELECT ida, idb, diag + 1 AS nd, i + 1 AS ni, val
         |      FROM dp WHERE age = 0
         |      UNION ALL
         |      SELECT ida, idb, diag + 1, i, val FROM dp WHERE age = 0
         |      UNION ALL
         |      SELECT ida, idb, diag + 2, i + 1, val FROM dp WHERE age = 1),
         |    mn AS (SELECT ida, idb, nd, ni, min(val) AS mv
         |           FROM feeds GROUP BY 1, 2, 3, 4)
         |    SELECT m.ida, m.idb, m.nd AS diag, m.ni AS i,
         |           c.c + m.mv AS val, 0 AS age
         |    FROM mn m JOIN cost c
         |      ON c.ida = m.ida AND c.idb = m.idb AND c.i = m.ni
         |     AND c.j = m.nd - m.ni
         |    UNION ALL
         |    SELECT p.ida, p.idb, p.diag, p.i, p.val, 1
         |    FROM dp p JOIN lens l ON l.ida = p.ida AND l.idb = p.idb
         |    WHERE p.age = 0 AND p.diag < l.la + l.lb))
         |SELECT d.ida AS id_a, d.idb AS id_b,
         |       CAST(l.la AS INTEGER) AS len_a,
         |       CAST(l.lb AS INTEGER) AS len_b,
         |       d.val AS dtw
         |FROM dp d JOIN lens l ON l.ida = d.ida AND l.idb = d.idb
         |WHERE d.age = 0 AND d.i = l.la AND d.diag = l.la + l.lb""".stripMargin,

    // The backtest replays q186's recursion, carries each bar's
    // forecast to the NEXT bar via lag, floor-rounds per-row errors
    // into exact integer 1e−4 units before summation, and ships each
    // stat as one division of exact longs (CAST the HUGEINT sums).
    "q247_forecast_backtest" ->
      s"""WITH RECURSIVE ${Bars.oracleCte},
         |num AS MATERIALIZED (
         |  SELECT id, dt, close,
         |         CAST(row_number() OVER (PARTITION BY id ORDER BY dt)
         |           AS INTEGER) AS rn
         |  FROM daily),
         |x2 AS MATERIALIZED (SELECT id, close AS c2 FROM num WHERE rn = 2),
         |h AS (
         |  SELECT n.id, n.rn, n.close AS l, (x2.c2 - n.close) AS b
         |  FROM num n JOIN x2 ON n.id = x2.id WHERE n.rn = 1
         |  UNION ALL
         |  SELECT n.id, n.rn,
         |    0.2 * n.close + (1 - 0.2) * (h.l + h.b),
         |    0.1 * ((0.2 * n.close + (1 - 0.2) * (h.l + h.b)) - h.l)
         |      + (1 - 0.1) * h.b
         |  FROM num n JOIN h ON n.id = h.id AND n.rn = h.rn + 1),
         |j AS MATERIALIZED (
         |  SELECT n.id, n.rn, n.close, h.l + h.b AS f
         |  FROM num n JOIN h ON n.id = h.id AND n.rn = h.rn),
         |er AS (
         |  SELECT id, close,
         |         lag(f) OVER (PARTITION BY id ORDER BY rn) AS fp,
         |         lag(close) OVER (PARTITION BY id ORDER BY rn) AS cp
         |  FROM j),
         |ei AS (
         |  SELECT id,
         |         CAST(floor(abs(close - fp) * 10000 + 0.5) AS BIGINT)
         |           AS ehi,
         |         CAST(floor(abs(close - cp) * 10000 + 0.5) AS BIGINT)
         |           AS eni
         |  FROM er WHERE fp IS NOT NULL AND cp IS NOT NULL),
         |ag AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_evals,
         |         CAST(sum(ehi) AS BIGINT) AS sh,
         |         CAST(sum(eni) AS BIGINT) AS sn
         |  FROM ei GROUP BY 1)
         |SELECT id, n_evals,
         |  CAST(floor(CAST(sh AS DOUBLE) / 10000.0 / n_evals * 10000
         |             + 0.5) / 10000 AS REAL) AS mae_holt,
         |  CAST(floor(CAST(sn AS DOUBLE) / 10000.0 / n_evals * 10000
         |             + 0.5) / 10000 AS REAL) AS mae_naive,
         |  CAST(CASE WHEN sn > 0 THEN
         |    floor(CAST(sh AS DOUBLE) / CAST(sn AS DOUBLE) * 10000 + 0.5)
         |      / 10000 END AS REAL) AS mase
         |FROM ag""".stripMargin,

    // Holt–Winters: the recursion needs s_{t−7}, so the recursive CTE
    // carries the trailing 7 seasonals as a LIST — sl[1] is always
    // the seasonal from 7 steps back, and each step appends the new
    // one to sl[2:]. Level seeds from the rn=7 trailing-window avg
    // (the emaCte seed discipline), trend from the two season means.
    "q223_holt_winters" ->
      s"""WITH RECURSIVE ${Bars.oracleCte},
         |num AS MATERIALIZED (
         |  SELECT id, dt, close,
         |         CAST(row_number() OVER (PARTITION BY id ORDER BY dt)
         |           AS INTEGER) AS rn,
         |         avg(close) OVER (PARTITION BY id ORDER BY dt
         |           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS avg7
         |  FROM daily),
         |q AS MATERIALIZED (SELECT id, max(rn) AS nn FROM num GROUP BY id),
         |m1 AS MATERIALIZED (
         |  SELECT n.id, n.avg7 AS m1 FROM num n JOIN q ON n.id = q.id
         |  WHERE n.rn = 7 AND q.nn >= 14),
         |m2 AS MATERIALIZED (SELECT id, avg7 AS m2 FROM num WHERE rn = 14),
         |sinit AS MATERIALIZED (
         |  SELECT n.id, list(n.close - m1.m1 ORDER BY n.rn) AS sl
         |  FROM num n JOIN m1 ON n.id = m1.id
         |  WHERE n.rn <= 7 GROUP BY n.id),
         |h AS (
         |  SELECT m1.id, 7 AS rn, m1.m1 AS l, (m2.m2 - m1.m1) / 7 AS b,
         |         CAST(NULL AS DOUBLE) AS snew, si.sl AS sl
         |  FROM m1 JOIN m2 ON m1.id = m2.id
         |  JOIN sinit si ON m1.id = si.id
         |  UNION ALL
         |  SELECT n.id, n.rn,
         |    0.2 * (n.close - h.sl[1]) + (1 - 0.2) * (h.l + h.b),
         |    0.1 * ((0.2 * (n.close - h.sl[1])
         |             + (1 - 0.2) * (h.l + h.b)) - h.l)
         |      + (1 - 0.1) * h.b,
         |    0.3 * (n.close - (0.2 * (n.close - h.sl[1])
         |                       + (1 - 0.2) * (h.l + h.b)))
         |      + (1 - 0.3) * h.sl[1],
         |    list_append(h.sl[2:],
         |      0.3 * (n.close - (0.2 * (n.close - h.sl[1])
         |                         + (1 - 0.2) * (h.l + h.b)))
         |        + (1 - 0.3) * h.sl[1])
         |  FROM num n JOIN h ON n.id = h.id AND n.rn = h.rn + 1)
         |SELECT n.id,
         |       CAST(floor(epoch(CAST(n.dt AS TIMESTAMP))) AS BIGINT)
         |         AS tkey,
         |       CAST(round(h.l, 4) AS REAL) AS level,
         |       CAST(round(h.b, 4) AS REAL) AS trend,
         |       CAST(round(CASE WHEN n.rn <= 7 THEN n.close - m1.m1
         |                       ELSE h.snew END, 4) AS REAL) AS seasonal,
         |       CAST(round(h.l + h.b + h.sl[1], 4) AS REAL) AS fcast
         |FROM num n
         |LEFT JOIN h ON n.id = h.id AND n.rn = h.rn
         |LEFT JOIN m1 ON n.id = m1.id""".stripMargin,

    "q181_anomaly" ->
      s"""WITH ${Bars.oracleCte},
         |r AS (
         |  SELECT id, dt, close,
         |         count(*) OVER w AS nw,
         |         round(avg(close) OVER w, 4) AS mean_r,
         |         round(stddev_samp(close) OVER w, 4) AS std_r
         |  FROM daily
         |  WINDOW w AS (PARTITION BY id ORDER BY dt
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |SELECT id, dt, close,
         |  CAST(CASE WHEN nw >= 20 THEN mean_r END AS REAL) AS mean_w,
         |  CAST(CASE WHEN nw >= 20 THEN std_r END AS REAL) AS std_w,
         |  CAST(CASE WHEN nw >= 20 AND std_r IS NOT NULL AND std_r > 0
         |       THEN round((close - mean_r) / std_r, 4) END AS REAL) AS z,
         |  CASE WHEN nw >= 20 AND std_r IS NOT NULL AND std_r > 0
         |       THEN abs(round((close - mean_r) / std_r, 4)) > 3.0
         |  END AS is_anomaly
         |FROM r""".stripMargin,

    "q171_twap" ->
      """WITH x AS (
        |  SELECT user_id AS id, CAST(ts AS DATE) AS dt,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id, value
        |  FROM events),
        |dd AS (
        |  SELECT *,
        |    coalesce(lead(t) OVER (PARTITION BY id, dt ORDER BY t, event_id),
        |      CAST(floor(epoch(CAST(dt AS TIMESTAMP))) AS BIGINT) + 86400)
        |      - t AS dur
        |  FROM x)
        |SELECT id, dt, CAST(count(*) AS INTEGER) AS n_events,
        |       CAST(sum(dur) AS BIGINT) AS dur_total_s,
        |       CAST(round(sum(value * dur) / sum(dur), 4) AS REAL) AS twap
        |FROM dd GROUP BY 1, 2""".stripMargin)
}
