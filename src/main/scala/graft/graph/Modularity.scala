package graft.graph

import graft.Checkpoints
import graft.queries.QueryPack.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Newman modularity of a GIVEN vertex partition — "are edges
  * concentrated inside the communities?" (Q ∈ [−0.5, 1); ≳ 0.3 reads
  * as real community structure): the evaluation half of community
  * detection, scoring any labeling — an attribute partition (brand,
  * language), connected components, a k-core split — against the
  * configuration-model null.
  *
  * On the symmetric distinct directed edge set (both directions
  * present, no loops; M = directed edge count = 2·|undirected|):
  * Q = Σ_c ( e_c/M − (d_c/M)² ) with e_c = directed intra-community
  * edges and d_c = Σ degrees in c — which over a COMMON denominator
  * is the exact integer form (M·Σe_c − Σd_c²) / M². Every aggregate
  * here is an exact long, the one division happens once per row on
  * integers that fit doubles exactly, so Q is order-independent and
  * bit-identical cross-engine under the shared floor rounding.
  *
  * Scale shape: two broadcast label joins onto the edge list, two
  * map-side-combined groupBys (|communities| rows), a 1-row total
  * broadcast back. No per-community shuffle, nothing quadratic.
  */
object Modularity {

  /** edges(a, b) symmetric distinct; labels(id, community). Isolated
    * vertices carry no degree and cannot move Q — communities report
    * only their edge-touched nodes.
    * @return (community, n_nodes, deg_sum, intra_edges, contrib,
    *         q_mod) — q_mod repeated (broadcast-total pattern)
    */
  def byPartition(edges: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("id").as("a"), col("community").as("ca"))
    val lb = labels.select(col("id").as("b"), col("community").as("cb"))
    val e = Checkpoints( // feeds m, degrees and intra counts
      edges.join(broadcast(la), "a").join(broadcast(lb), "b"))
    val m = e.agg(count(lit(1)).as("m"))
    val degC = e.groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("deg_sum"),
        count_distinct(col("a")).cast("int").as("n_nodes"))
    val intra = e.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val cells = degC.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .transform(Checkpoints(_)) // feeds rows and the 1-row total
    val tot = cells.agg(sum(col("intra_edges")).as("si"),
      sum(col("deg_sum") * col("deg_sum")).as("sd"))
    val mD = col("m").cast("double") * col("m")
    cells.crossJoin(broadcast(m)).crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        col("intra_edges"),
        // empty edge set → m = 0 and Q is undefined — NULL, not an
        // ANSI 0/0 fault (labels with no edges produce no rows anyway,
        // but compositions may feed a filtered-empty edge frame)
        when(col("m") > 0,
          r6((col("m") * col("intra_edges")
            - col("deg_sum") * col("deg_sum")).cast("double") / mD))
          .as("contrib"),
        when(col("m") > 0,
          r6((col("m") * col("si") - col("sd")).cast("double") / mD))
          .as("q_mod"))
  }
}
