package graft.graph

import graft.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the dense-subgraph
  * extractor beside [[Triangles]] (local density) and
  * [[ConnectedComponents]] (reachability): the k-core is the maximal
  * subgraph where every vertex keeps degree ≥ k after all lower-degree
  * vertices are recursively removed. On co-occurrence graphs it
  * separates genuinely dense communities (boilerplate clusters,
  * co-purchase cliques) from star-shaped noise a raw degree filter
  * can't tell apart.
  *
  * Algorithm: repeat { degree-count surviving edges; drop vertices
  * with degree < k; semi-join edges to survivors on BOTH endpoints }
  * until the edge set stops shrinking or `maxRounds` is reached. The
  * result is the fixed point when it converges within the cap and the
  * exact `maxRounds`-step peel otherwise — further rounds are no-ops
  * at the fixed point, so ANY oracle unrolled ≥ the convergence round
  * count produces the identical answer, and the engine's early exit
  * is pure savings.
  *
  * Scale shape: each round is one bounded map-side-combined degree
  * aggregate plus two id-keyed left-semi hash joins over the
  * [[graft.Rounds]] edge state; the fixpoint test is the state's
  * observed row count. Rounds on real co-occurrence graphs are
  * few (peeling cascades are short once cliques dominate); a
  * pathological path graph peels O(n) ends, which the cap bounds
  * deterministically.
  */
object KCore {

  /** Undirected edges (`a`, `b`; dups/loops/direction ignored) →
    * (id, core_deg): the vertices surviving `maxRounds` rounds of
    * k-peeling with their degree inside the surviving subgraph.
    *
    * @param symmetricDistinct input-contract flag (the
    *        [[Triangles.perNodeBundle]] rule): true promises a
    *        loop-free distinct directed symmetric pair set, replacing
    *        the canonicalization dedup exchange with a map-side
    *        `a < b` filter — identical canonical edge set. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 8,
      symmetricDistinct: Boolean = false): DataFrame = {
    require(k >= 1 && maxRounds >= 1, s"bad k-core params ($k, $maxRounds)")
    // a round that drops no edge is the fixed point
    val e = Rounds.iterate(
        Triangles.canonical(edges, symmetricDistinct), maxRounds) { (e, _) =>
      val keep = e.select(col("u").as("id"))
        .unionByName(e.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k)
      e.join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }(Rounds.until(count(lit(1)))((prev, n) => prev.contains(n)))
    e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("core_deg"))
  }

  /** DuckDB oracle: the same peel unrolled `rounds` times over an
    * edge CTE named `e0` (columns u, v — canonical distinct; declare
    * it MATERIALIZED). Each round is MATERIALIZED too: every e_i is
    * referenced three times, so inlined CTEs would expand to 3^rounds
    * scans. Leaves the survivors' degree table as the top SELECT.
    */
  def oracleSql(k: Int, rounds: Int): String = {
    val steps = (0 until rounds).map { i =>
      s"""e${i + 1} AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$i e
         |  JOIN (SELECT id FROM (SELECT u AS id FROM e$i
         |                        UNION ALL SELECT v FROM e$i)
         |        GROUP BY 1 HAVING count(*) >= $k) ku ON e.u = ku.id
         |  JOIN (SELECT id FROM (SELECT u AS id FROM e$i
         |                        UNION ALL SELECT v FROM e$i)
         |        GROUP BY 1 HAVING count(*) >= $k) kv ON e.v = kv.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""$steps
       |SELECT id, CAST(count(*) AS INTEGER) AS core_deg
       |FROM (SELECT u AS id FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |GROUP BY 1""".stripMargin
  }
}
