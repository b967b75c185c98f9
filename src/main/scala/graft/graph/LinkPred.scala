package graft.graph

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link prediction by the Resource-Allocation index (Zhou, Lü & Zhang
  * 2009) — for every non-adjacent pair (a, b) with common neighbors,
  * score = Σ_{z ∈ N(a) ∩ N(b)} 1/deg(z): each shared neighbor
  * "allocates" its unit of resource equally across its links, so a
  * low-degree mutual contact predicts a future link far more strongly
  * than a hub. RA is the EXACT-arithmetic member of the classic
  * index family (Adamic–Adar's 1/ln deg would put libm in the sum;
  * 1/deg is a rational of integers): score_fp = Σ 10⁶ div deg(z) is
  * an exact long, so the whole prediction — including the
  * (ra desc, a, b) top-k order — sits under the hash gate.
  *
  * Scale shape: candidates generate ONLY through wedges (neighbor-
  * list self-join per center z, Σ deg(z)² pairs — the same bound the
  * triangle family lives under), never all-pairs; existing edges
  * leave via an anti-join; the final top-k is TakeOrdered (no global
  * sort). On the registered repeat-co-purchase (w ≥ 2) subgraph
  * Σ deg² is thousands at every SF; on a denser graph the q172
  * degree-orientation / df-cap discipline applies to the wedge join.
  */
object LinkPred {

  /** @param edges (a, b) undirected edge rows (any orientation)
    * @return top-`topK` predicted links (a, b, n_common, ra_fp),
    *         a < b canonical, ra_fp in 10⁻⁶ units
    */
  def resourceAllocation(edges: DataFrame, topK: Int = 50): DataFrame = {
    val canon = Checkpoints(Triangles.canonical(edges))
    val deg = Triangles.degreesOf(canon)
    val nb = canon.select(col("u").as("z"), col("v").as("n"))
      .unionByName(canon.select(col("v").as("z"), col("u").as("n")))
    val wedges = nb.select(col("z"), col("n").as("a"))
      .join(nb.select(col("z"), col("n").as("b")), "z")
      .where(col("a") < col("b"))
    wedges
      .join(canon.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg.select(col("id").as("z"), col("d")), "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000L div d")).as("ra_fp"))
      .orderBy(col("ra_fp").desc, col("a"), col("b")).limit(topK)
  }
}
