package graft.ops

import graft.Checkpoints
import graft.queries.QueryPack.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Concentration analytics: the Gini coefficient and top-share table
  * of a value distribution (revenue per customer, tokens per source,
  * traffic per key) — the whale-detector behind skew planning and
  * marketplace health metrics, and a composition showcase for
  * [[Scan.globalRunningSum]]: global ranks WITHOUT a single-partition
  * window.
  *
  * Arithmetic contract: values arrive as exact integers (cents,
  * tokens); ranks come off the scan; Σ rank·x and Σ x are DECIMAL
  * sums of integer products (order-independent, overflow-safe to
  * 10³⁸); the closed-form Gini
  * `(2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` (xᵢ ascending) and the shares
  * then divide identical doubles. No float enters before the edge.
  */
object Concentration {

  /** units(idCol, centsCol) → one row:
    * (n_units, total, gini, top1_share, top10_share). `centsCol`
    * must be integral ≥ 0; ties rank deterministically by `idCol`.
    */
  def gini(units: DataFrame, centsCol: String, idCol: String): DataFrame = {
    val ranked = Scan.globalRunningSum(
        units.select(col(idCol).as("uid"), col(centsCol).as("x")),
        Seq("x", "uid"), lit(1L), run = "rk")
      .transform(Checkpoints(_)) // consumed by moments + both share sums
    val moments = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("t"),
      sum(col("rk").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
        .as("s"))
    val shares = ranked.crossJoin(broadcast(moments.select("n")))
      .agg(
        sum(when(col("rk") > col("n") - expr("n DIV 100"),
          col("x").cast("decimal(38,0)"))).as("x1"),
        sum(when(col("rk") > col("n") - expr("n DIV 10"),
          col("x").cast("decimal(38,0)"))).as("x10"))
    moments.crossJoin(broadcast(shares))
      .select(col("n").as("n_units"), col("t").cast("long").as("total"),
        round((lit(2.0) * col("s").cast("double") -
          (col("n") + 1).cast("double") * col("t").cast("double")) /
          (col("n").cast("double") * col("t").cast("double")), 4)
          .cast("float").as("gini"),
        round(coalesce(col("x1").cast("double"), lit(0.0)) /
          col("t").cast("double"), 4).cast("float").as("top1_share"),
        round(coalesce(col("x10").cast("double"), lit(0.0)) /
          col("t").cast("double"), 4).cast("float").as("top10_share"))
  }

  /** Herfindahl–Hirschman index (Hirschman 1945; Herfindahl 1950) —
    * the market-concentration number antitrust and marketplace-health
    * reviews quote, plus its inverse (the "effective number of
    * players", Laakso & Taagepera 1979):
    * {{{
    *   HHI = Σ_g s_g²  = Σ_g x_g² / (Σx)²   ∈ (0, 1]
    *   effective_n = 1 / HHI
    * }}}
    * EXACT to the division: per-group integer sums, Σx_g² and (Σx)²
    * as DECIMAL products, ONE IEEE division for HHI and one for the
    * inverse — no per-group float share ever materializes (the
    * share-squared sum over groups would be order-dependent).
    *
    * Scale shape: one map-side-combined groupBy to |groups| rows,
    * one 3-moment aggregate, a broadcast max row.
    *
    * @return one row (n_groups, hhi, effective_n, top_share)
    */
  def hhi(units: DataFrame, centsCol: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val m = units.select(col(centsCol).as("x"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("x").cast("decimal(38,0)")).as("t"),
        sum((dec(col("x")) * dec(col("x"))).cast("decimal(38,0)"))
          .as("q"),
        max(col("x")).as("mx"))
    def d(c: String) = col(c).cast("double")
    val h = when(col("t") > 0, d("q") / (d("t") * d("t")))
    m.select(col("n_groups"),
      r6(h).as("hhi"),
      when(h > 0, r6(lit(1.0) / h)).as("effective_n"),
      when(col("t") > 0, r6(d("mx") / d("t"))).as("top_share"))
  }

  /** Theil T inequality index (Theil 1967) — the entropy-based
    * inequality measure beside [[gini]], the one that DECOMPOSES
    * additively across subgroups (why economists reach for it):
    * {{{
    *   T = (1/N)·Σ_i (x_i/μ)·ln(x_i/μ)   ∈ [0, ln N]
    * }}}
    * 0 = perfect equality; ln N = one unit holds everything.
    *
    * Determinism: μ is one exact ratio of DECIMAL sums; each unit's
    * term is a fixed IEEE sequence (one ln), FLOOR-SCALED to
    * micro-units and integer-summed across units (the [[graft.ops
    * .Stats.cmh]] discipline — a double sum over units would be
    * order-dependent); zero-value units contribute exactly 0 (the
    * x·ln x → 0 limit), never a ln(0) fault.
    *
    * @return one row (n_units, theil_t)
    */
  def theil(units: DataFrame, centsCol: String): DataFrame = {
    val base = units.select(col(centsCol).as("x"))
      .transform(Checkpoints(_)) // totals row AND the term pass
    val tot = broadcast(base.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("t")))
    val mu = col("t").cast("double") / col("n")
    val r = col("x") / mu
    val term = when(col("x") > 0, r * log(r)).otherwise(lit(0.0))
    base.crossJoin(tot)
      .select(col("n"),
        floor(term * 1e6 + 0.5).cast("long").as("t6"))
      .groupBy(col("n")) // constant → one map-side group
      .agg(sum(col("t6").cast("decimal(38,0)")).as("st"))
      .select(col("n").as("n_units"),
        r6(col("st").cast("double") / col("n") / 1e6).as("theil_t"))
  }
}
