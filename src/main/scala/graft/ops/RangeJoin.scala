package graft.ops

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CHUNKED RANGE JOIN — the band-join-to-equi-join rewrite Spark has
  * no native optimization for (a plain `lo <= v AND v < hi` join
  * plans as BroadcastNestedLoopJoin — every fact row probed against
  * every band): each band row explodes into the fixed-width CHUNKS
  * it overlaps, each fact row computes its single chunk key, and the
  * join becomes a hash EQUI-join on the chunk plus the residual
  * range predicate. Shuffle/probe cost drops from |facts|·|bands| to
  * |facts| + Σ band-widths/chunk — the standard trick for joining
  * measurements into irregular calibration/tier tables at warehouse
  * scale.
  *
  * [[bandRollup]] is the oracle-gated composition: the band table is
  * DERIVED (decile boundaries of the value column via the exact
  * order-statistic scan — a data table, not plan-time literals, which
  * is what makes it a genuine join), facts are routed through the
  * chunked join, and the readout is per-band counts/mass. PlanSpec
  * gates the plan: no nested-loop, no cartesian — an equi hash join.
  */
object RangeJoin {

  /** Facts (with `v`) ⋈ bands (band_id, lo, hi; [lo, hi) longs) via
    * the chunked rewrite. Empty bands (lo ≥ hi) drop out before the
    * explode (Spark's `sequence` would otherwise run backwards).
    */
  def chunked(facts: DataFrame, bands: DataFrame,
      chunkWidth: Long): DataFrame = {
    require(chunkWidth > 0, "range join needs a positive chunk width")
    val c = lit(chunkWidth)
    val exploded = bands.where(col("lo") < col("hi"))
      .select(col("band_id"), col("lo"), col("hi"),
        explode(sequence(expr(s"lo div $chunkWidth"),
          expr(s"(hi - 1) div $chunkWidth"))).as("chunk"))
    facts.withColumn("chunk", expr(s"v div $chunkWidth"))
      .join(exploded, Seq("chunk"))
      .where(col("v") >= col("lo") && col("v") < col("hi"))
      .drop("chunk")
  }

  /** Decile band table of a positive integer column off the exact
    * order-statistic scan: boundary k = the smallest v whose
    * cumulative count reaches (k·n) div 10 + 1; band k = [b_k,
    * b_{k+1}) with the last band closed by max+1. The 10-row band
    * frame is the documented metadata window exception.
    */
  def decileBands(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scanned = Scan.globalRunningSum(counts, Seq("v"), col("c"), "cum")
    val tot = counts.agg(sum(col("c")).as("n"), max(col("v")).as("vmax"))
    val bounds = scanned.crossJoin(broadcast(tot))
      .select(col("v"), col("cum"), col("n"), col("vmax"),
        explode(sequence(lit(0), lit(9))).as("band_id"))
      .where(col("cum") >= expr("band_id * n div 10 + 1"))
      .groupBy(col("band_id"))
      .agg(min(col("v")).as("lo"), max(col("vmax")).as("vmax"))
    val w = Window.orderBy(col("band_id"))
    bounds.select(col("band_id").cast("int").as("band_id"), col("lo"),
      coalesce(lead(col("lo"), 1).over(w), col("vmax") + 1).as("hi"))
  }

  /** The oracle-gated composition over a money-like column: derive
    * the decile bands, route the facts through the chunked join,
    * roll up per band. Ties at a boundary go to the RIGHT band by
    * construction; duplicate boundaries (heavy ties) make the left
    * band empty and it drops from the output — both engines agree.
    *
    * @return (band_id, lo, hi, n, mass) — mass = Σ value, round-2
    */
  def bandRollup(df: DataFrame, valueCol: String,
      chunkWidth: Long = 4096L): DataFrame = {
    val cents = (col(valueCol).cast("decimal(18,2)") * 100)
      .cast("long")
    val base = df.where(col(valueCol).isNotNull)
      .select(cents.as("v"))
      .transform(Checkpoints(_)) // feeds the band derivation AND the join
    val counts = base.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val bands = decileBands(counts)
    chunked(base, bands, chunkWidth)
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("mass_c"))
      .select(col("band_id"), col("lo"), col("hi"), col("n"),
        round(col("mass_c").cast("double") / lit(100.0), 2)
          .cast("float").as("mass"))
  }
}
