package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss peeling (Cohen 2008) — the cohesion subgraph between
  * triangles and cliques: iteratively drop every edge supported by
  * fewer than k−2 triangles, so what survives is the maximal subgraph
  * where EVERY edge sits in ≥ k−2 triangles (a stronger community
  * signal than k-core's degree peel, which keeps hub spokes a truss
  * rejects).
  *
  * Rounds are a fixed count (the [[PageRank]] batch-pipeline form):
  * each round re-enumerates triangles on the SURVIVING edge set via
  * the degree-oriented, bloom-gated stream ([[Triangles.trianglesOf]]
  * — O(|E|^1.5) with wedges generated only at the lowest-(deg, id)
  * corner), explodes each triangle into its three canonical edges,
  * and keeps edges whose exact integer support ≥ k−2. Everything is
  * counts and comparisons — no floats — and the surviving set is the
  * [[graft.Rounds]] state.
  *
  * Scale shape: per round one wedge join + one (u, v)-keyed count
  * with map-side partials + one edge filter; peeling monotonically
  * SHRINKS the edge set, so round r+1 is never costlier than round r.
  *
  * @return (u, v, support) — surviving canonical edges after `rounds`
  *         peels, with support recounted on the FINAL surviving graph
  */
object Truss {

  def kTruss(edges: DataFrame, k: Int,
      rounds: Int = 3): DataFrame = Checkpoints.scoped {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    // each support count checkpoints its own orientation, which the
    // scope of the round (or of this call) releases
    def support(canon: DataFrame): DataFrame =
      Triangles.trianglesOf(
          Triangles.orientedOf(canon, Triangles.degreesOf(canon)))
        .select(explode(array(
          array(least(col("n1"), col("n2")),
            greatest(col("n1"), col("n2"))),
          array(least(col("n1"), col("n3")),
            greatest(col("n1"), col("n3"))),
          array(least(col("n2"), col("n3")),
            greatest(col("n2"), col("n3"))))).as("e"))
        .select(element_at(col("e"), 1).as("u"),
          element_at(col("e"), 2).as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
    val canon = Rounds.iterate(Triangles.canonical(edges), rounds) {
      (canon, _) =>
        canon.join(support(canon), Seq("u", "v"), "left_outer")
          .where(coalesce(col("sup"), lit(0L)) >= k - 2)
          .select(col("u"), col("v"))
    }(Rounds.fixed)
    canon.join(support(canon), Seq("u", "v"), "left_outer")
      .select(col("u"), col("v"),
        coalesce(col("sup"), lit(0L)).as("support"))
  }
}
