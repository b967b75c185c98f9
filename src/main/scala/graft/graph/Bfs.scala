package graft.graph

import graft.{Checkpoints, Rounds}
import graft.queries.QueryPack.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: hop distance from a seed set
  * over an undirected edge list — the reachability/radius primitive
  * beside [[ConnectedComponents]] (which answers "same component?"
  * but not "how far?"), [[PageRank]] (authority) and [[KCore]]
  * (density).
  *
  * Frontier form of the Pregel round: round r joins ONLY the frontier
  * (nodes first reached at r−1) against the edge list, then left-anti
  * subtracts everything already labeled — so per-round shuffle cost
  * tracks the frontier × degree fan-out, not the accumulated labeled
  * set, and rounds are hash-partitioned equi-joins end to end. The
  * labeled set is the [[graft.Rounds]] state; the frontier is its rows
  * of the previous hop.
  *
  * Hop distances are small exact integers — bit-identical in any
  * engine, no float anywhere — and the algorithm is
  * ORDER-INDEPENDENT: a node's hop is the minimum round it is
  * reachable in, whatever partitioning or join order produced it.
  * Nodes unreached within `rounds` carry hop = −1 (the bounded-radius
  * contract; raise `rounds` for full reachability).
  *
  * @param nodes one row per vertex, column `id`
  * @param edges undirected adjacency as directed rows (`a`, `b`) —
  *              pass both directions (or symmetrize upstream)
  * @param seeds frame with column `id` — the hop-0 set
  */
object Bfs {

  def hops(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    // the labeled set grows by round r's frontier; it stops growing
    // once a frontier is empty
    val labeled = Rounds.iterate(seeds.select(col("id")).distinct()
        .withColumn("hop", lit(0)), rounds) { (labeled, r) =>
      labeled.unionByName(e
        .join(labeled.where(col("hop") === r - 1)
          .select(col("id").as("a")), "a")
        .select(col("b").as("id")).distinct()
        .join(labeled.select("id"), Seq("id"), "left_anti")
        .withColumn("hop", lit(r)))
    }(Rounds.until(count(lit(1)))((prev, n) => prev.contains(n)))
    nodes.select(col("id"))
      .join(labeled, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("hop"), lit(-1)).as("hop"))
  }

  /** Hop plot + effective diameter (the ANF-style reachability
    * summary of Palmer, Gibbons & Faloutsos 2002, here EXACT over
    * the seeded BFS instead of sketched): per hop h, how many nodes
    * are FIRST reached at h, the cumulative reach, its fraction of
    * everything reachable within `rounds`, and the 90%-effective
    * diameter — the smallest h covering ≥ 90% of the reached set
    * (the standard "how wide is this graph really" readout).
    *
    * Determinism: hop labels are [[hops]]' exact integers; the
    * 90% rule is the INTEGER compare cum·10 ≥ total·9 (no float
    * fraction in the decision); the reported fraction is one IEEE
    * division under the shared floor rounding. The per-hop frame is
    * ≤ rounds+1 rows — the documented metadata-sized window
    * exception.
    *
    * @return (hop, n_first, cum_reached, frac, eff_diameter) — one
    *         row per hop 0..rounds with eff_diameter repeated
    */
  def hopPlot(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = hops(nodes, edges, seeds, rounds)
      .where(col("hop") >= 0)
      .groupBy(col("hop")).agg(count(lit(1)).as("n_first"))
      .transform(Checkpoints(_)) // the cum window AND the total row
    val tot = broadcast(per.agg(sum(col("n_first")).as("tot")))
    val w = Window.orderBy(col("hop"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("cum_reached", sum(col("n_first")).over(w))
      .crossJoin(tot)
      .transform(Checkpoints(_)) // feeds the diameter row AND the output
    val ed = broadcast(cum
      .where(col("cum_reached") * 10 >= col("tot") * 9)
      .agg(min(col("hop")).as("eff_diameter")))
    cum.crossJoin(ed)
      .select(col("hop"), col("n_first"), col("cum_reached"),
        r6(col("cum_reached").cast("double") / col("tot")).as("frac"),
        col("eff_diameter"))
  }
}
