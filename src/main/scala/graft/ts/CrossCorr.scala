package graft.ts

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise LEAD-LAG cross-correlation of daily returns — the quant
  * screen for "does symbol A's move today predict symbol B's move in
  * k days": Pearson correlation of r_A(t) against r_B(t+k) for each
  * symbol pair and each lag in `lags`.
  *
  * Returns (close/prev − 1), not raw closes — the stationary series
  * correlation is meaningful on. Determinism contract (the
  * [[graft.ops.Stats]] fixed-point discipline): each return is
  * rounded to 1e-6 and scaled to an exact LONG, so the five moment
  * sums are integer-exact and order-independent by construction — no
  * float-summation drift across partitionings — and the variance
  * guard is an EXACT `> 0` (a constant-return series gives exactly
  * zero), not an epsilon. Returns are winsorized at ±10 first —
  * robust-statistics hygiene (one corrupt bar must not dominate
  * every pair it touches) that doubles as the arithmetic bound: with
  * |r| ≤ 10 at 1e-6 scale, per-row products are ≤ 1e14 and a
  * 20-year daily history keeps every sum under ~5e17, well inside
  * BIGINT — so the five moment sums stay whole-stage-codegen'd long
  * sums (a DECIMAL(38) sum here measured 2.3× slower, object-based),
  * and ANSI overflow faults loudly rather than wrapping if data ever
  * exceeds the design bound. Only the final correlation drops to
  * doubles, through one fixed IEEE expression both engines share.
  *
  * Scale shape: returns are one symbol-keyed window pass; the pair
  * frame joins on the DATE key with the lag pre-exploded on one side
  * — per-date fan-out is |symbols|²·|lags|, so cost scales with the
  * symbol universe squared (the correct axis: cross-correlation IS a
  * pairwise statistic) and linearly in history; the correlation
  * itself is one hash aggregate keyed (pair, lag) with map-side
  * partials.
  */
object CrossCorr {

  /** bars(id, dt, close) → (id_a, id_b, k, n, corr) for id_a < id_b,
    * r_B shifted k days forward; pairs/lags with fewer than `minObs`
    * matched days (or degenerate variance) are dropped/NULL.
    */
  def leadLag(bars: DataFrame, lags: Seq[Int] = Seq(-2, -1, 0, 1, 2),
      minObs: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("dt"))
    // a zero prior close makes the return undefined (and faults ANSI
    // division) — such bars are degenerate data, guarded to NULL and
    // dropped exactly like the series head (sf0.1 has one such bar)
    val prev = lag(col("close"), 1).over(w)
    val rets = bars
      .withColumn("r", when(prev =!= 0, col("close") / prev - 1))
      .where(col("r").isNotNull)
      // winsorize at ±10: a correlation screen must not let one
      // >1000%-"move" data error dominate every pair it touches
      // (standard robust practice), and the bound is what makes the
      // fixed-point arithmetic safe — see the contract above
      .withColumn("r", least(greatest(col("r"), lit(-10d)), lit(10d)))
      // fixed-point: 1e-6-rounded return as an exact long, so every
      // downstream sum is integer-exact and order-independent
      .select(col("id"), col("dt"),
        round(col("r") * 1e6, 0).cast("long").as("rs"))
      .transform(Checkpoints(_)) // both sides of the pair join
    // pair r_A(t) with r_B(t + k): B's row at dt matches A's date
    // dt − k, so positive k asks "does A's move predict B's k days on"
    val bSide = rets
      .withColumn("k", explode(array(lags.map(lit): _*)))
      .select(col("id").as("id_b"), col("k"),
        date_add(col("dt"), -col("k")).as("mdt"), col("rs").as("rb"))
    val joined = rets.as("a").join(bSide,
        col("a.dt") === col("mdt") && col("a.id") < col("id_b"))
      .select(col("a.id").as("id_a"), col("id_b"), col("k"),
        col("a.rs").as("ra"), col("rb"))
    // per-row products of 1e6-scaled returns stay inside BIGINT, so
    // the five moment sums are codegen'd long sums — exact, fast
    val agg = joined.groupBy(col("id_a"), col("id_b"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("ra")).as("sx"), sum(col("rb")).as("sy"),
        sum(col("ra") * col("rb")).as("sxy"),
        sum(col("ra") * col("ra")).as("sxx"),
        sum(col("rb") * col("rb")).as("syy"))
      .where(col("n") >= minObs)
    // per-GROUP (≪ rows) each exact long sum takes ONE correctly-
    // rounded BIGINT→DOUBLE conversion — identical doubles in any
    // engine — and the variance formula runs in doubles in one fixed
    // operation order, so vx/vy/num are bit-identical everywhere (a
    // degenerate constant series still hits the `> 0` guard exactly:
    // n·sxx and sx·sx are the SAME integer, so fl(a)−fl(a) = 0).
    // The 4-decimal rounding is floor(y·1e4 + 0.5)/1e4 spelled out,
    // NOT the engines' round(): Spark rounds the exact decimal view
    // of the double (HALF_UP) while DuckDB rounds the float product
    // — at an exact grid tie (integer-ratio corr values land there)
    // they disagree by one grid step. floor over bit-identical
    // doubles can't, and it never yields −0.0.
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val vx = (nD * col("sxx").cast("double") - sxD * sxD).as("vx")
    val vy = (nD * col("syy").cast("double") - syD * syD).as("vy")
    val num = (nD * col("sxy").cast("double") - sxD * syD).as("num")
    agg.select(col("id_a"), col("id_b"), col("k"), col("n"), vx, vy, num)
      .select(col("id_a"), col("id_b"), col("k"),
        col("n").cast("int").as("n"),
        when(col("vx") > 0 && col("vy") > 0,
          floor(col("num") / sqrt(col("vx") * col("vy")) * 1e4 + 0.5)
            / 1e4)
          .cast("float").as("corr"))
  }
}
