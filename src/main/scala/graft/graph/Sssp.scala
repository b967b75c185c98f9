package graft.graph

import graft.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round single/multi-source shortest paths over a weighted
  * edge list — the weighted companion of [[Bfs]] (hop counts answer
  * "how many steps?", this answers "how cheap?" when edges carry
  * costs), completing the graph family beside [[PageRank]] (authority),
  * [[KCore]] (density) and [[ConnectedComponents]] (reachability).
  *
  * Frontier Bellman–Ford: round r relaxes ONLY edges leaving nodes
  * whose tentative distance improved in round r−1, so per-round
  * shuffle cost tracks frontier × degree, not |V|; each round is a
  * hash-partitioned equi-join + map-side-combined min aggregate + a
  * full-outer min merge — no global sort, no priority queue (Dijkstra's
  * heap is inherently sequential; Bellman–Ford rounds are the
  * distributed formulation). The distance state is the [[graft.Rounds]]
  * state; it feeds two consumers, the merge and the next frontier, and
  * the loop stops on the first round that improves nothing.
  *
  * DETERMINISM: with integer edge lengths every tentative distance is
  * an exact BIGINT and `min` is order-independent, so the result is
  * bit-identical across engines, partitionings and retries — the
  * [[PageRank]] fixed-point contract. After `rounds` rounds the
  * distance is exactly min-cost over paths of ≤ `rounds` edges (the
  * bounded-radius contract, same as [[Bfs.hops]]); unreached nodes
  * carry −1.
  *
  * @param nodes one row per vertex, column `id`
  * @param edges directed rows (`a`, `b`, `len`) with non-negative
  *              integral `len`; symmetrize upstream for undirected
  * @param seeds frame with column `id` — the distance-0 set
  */
object Sssp {

  def distances(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("a"), col("b"), col("len").cast("long"))
    // state (id, d, improved): the frontier is the improved rows, and
    // the loop stops once a round improves nothing
    val dist = Rounds.iterate(seeds.select(col("id")).distinct()
        .select(col("id"), lit(0L).as("d"), lit(true).as("improved")),
        rounds) { (st, _) =>
      val relaxed = e.join(st.where(col("improved"))
          .select(col("id").as("a"), col("d")), "a")
        .groupBy(col("b").as("id"))
        .agg(min(col("d") + col("len")).as("nd"))
      st.select(col("id"), col("d"))
        .join(relaxed, Seq("id"), "full_outer")
        .select(col("id"),
          least(coalesce(col("d"), col("nd")),
            coalesce(col("nd"), col("d"))).as("d"),
          (col("d").isNull || col("nd") < col("d")).as("improved"))
    }(Rounds.until(count(when(col("improved"), 1)))((_, n) => n == 0L))
    nodes.select(col("id"))
      .join(dist.select(col("id"), col("d")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("d"), lit(-1L)).as("dist"))
  }
}
