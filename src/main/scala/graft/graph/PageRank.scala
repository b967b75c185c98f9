package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in EXACT fixed-point integer arithmetic.
  *
  * The ranking primitive for graph-shaped curation signals (source
  * authority over a link/co-occurrence graph — the web-graph side of
  * quality scoring next to the text-side gates in
  * [[graft.llm.TextOps]]).
  *
  * Every arithmetic step is 64-bit integer (scale = 10^12): the
  * initial rank and teleport term are integer floor-divisions of the
  * scale by N, each edge contribution is `rank div outdeg`, the
  * damping is `(85 · Σ) div 100`, and the per-node Σ is a sum of
  * longs — associative and order-free. So the result is BIT-IDENTICAL
  * across engines, partitionings, and retries: no float accumulation
  * order, no rounding hedge, and the oracle re-derives all rounds
  * exactly (the determinism discipline of [[graft.functions]] sketches
  * applied to an ITERATIVE algorithm). The ~10^-12-per-op downward
  * bias of floor division is orders below any ranking decision.
  *
  * Dangling nodes (outdeg 0) leak their mass — the standard simplified
  * formulation; total mass is not conserved but relative ranking
  * semantics hold. Nodes never referenced keep the teleport floor.
  *
  * Scale shape: each round is one (src-keyed) join of the edge list
  * against the rank frame, a dst-keyed long-sum with map-side
  * partials, and a left join back to the node spine — all
  * hash-partitioned equi-operations, one [[graft.Rounds]] state per
  * round. Rounds are a fixed count, not a convergence loop — the
  * batch-pipeline form (rank deltas after ~5 damped rounds are below
  * decision relevance for curation weighting; run more rounds where
  * needed).
  */
object PageRank {

  val scale = 1000000000000L // 10^12 fixed-point

  /** @param nodes one row per vertex, column `id` (long)
    * @param edges directed edges (`src`, `dst`); pre-dedup if edge
    *              multiplicity should not weight the walk
    * @param iters fixed round count
    * @return (id, rank_fp) — rank in 10^-12 fixed-point units
    */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int = 5): DataFrame =
    rankLoop(uniform(nodes), edges, lit(1L), iters)

  /** WEIGHTED [[run]]: each edge carries a long weight `w` (e.g.
    * co-occurrence multiplicity) and a node's mass splits
    * proportionally — contribution = (r·w) div Σw — so a pair
    * co-purchased in fifty orders pulls fifty times the rank of a
    * one-off. Same exact-integer contract: r ≤ 10¹² and fixture
    * weights keep r·w far inside 64 bits (ANSI faults loudly if a
    * graph ever exceeds it).
    */
  def runWeighted(nodes: DataFrame, edges: DataFrame,
      iters: Int = 5): DataFrame =
    rankLoop(uniform(nodes), edges, col("w"), iters)

  /** PERSONALIZED [[run]]: the random surfer teleports only to a seed
    * set instead of uniformly — rank becomes "proximity to the seeds"
    * (the recommendation / related-entities primitive: seed = a user's
    * parts, ranks = what the co-purchase graph pulls toward them).
    * Same exact-integer contract: r0 = scale div |S| on seeds (0
    * elsewhere), teleport term = (15·scale/100) div |S| on seeds (0
    * elsewhere), every other step identical to [[run]] — so all
    * rounds stay bit-exact under the hash gate.
    *
    * Scale shape: identical to [[run]] plus one broadcast-joined seed
    * flag on the node spine (seeds are a tiny set by construction).
    *
    * @param seeds one row per seed vertex, column `id`
    */
  def runPersonalized(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int = 5): DataFrame = {
    val sd = seeds.select(col("id")).distinct()
    val nS = broadcast(sd.agg(count(lit(1)).as("n_seeds")))
    rankLoop(nodes.select(col("id"))
      .join(broadcast(sd.withColumn("is_seed", lit(1))), Seq("id"),
        "left_outer")
      .crossJoin(nS)
      .select(col("id"),
        when(col("is_seed") === 1,
          expr(s"${scale * 15 / 100} div n_seeds"))
          .otherwise(lit(0L)).as("tele"),
        when(col("is_seed") === 1, expr(s"$scale div n_seeds"))
          .otherwise(lit(0L)).as("r0")), edges, lit(1L), iters)
  }

  /** The spine where every node is a seed: tele = (15·scale/100) div N
    * and r0 = scale div N on all N nodes. */
  private def uniform(nodes: DataFrame): DataFrame = {
    val n = nodes.select(col("id"))
    n.crossJoin(broadcast(n.agg(count(lit(1)).as("n_nodes"))))
      .select(col("id"), expr(s"${scale * 15 / 100} div n_nodes").as("tele"),
        expr(s"$scale div n_nodes").as("r0"))
  }

  /** The rank loop over a node spine (id, tele, r0) and edges carrying
    * weight `w` per row: contribution (r·w) div Σw, so w = 1 is
    * exactly `r div outdeg`. */
  private def rankLoop(spine: DataFrame, edges: DataFrame, w: Column,
      iters: Int): DataFrame = Checkpoints.scoped {
    val sp = Checkpoints(spine)
    val eDeg = Checkpoints(edges.join(
      edges.groupBy(col("src")).agg(sum(w).as("d")), "src"))
    val out = Rounds.iterate(sp.select(col("id"), col("r0").as("r")),
        iters) { (ranks, _) =>
      val sums = eDeg.join(ranks, col("src") === col("id"))
        .select(col("dst"), (col("r") * w).as("rw"), col("d"))
        .select(col("dst"), expr("rw div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      sp.join(sums, col("id") === col("dst"), "left_outer")
        .select(col("id"),
          (col("tele") + expr("(85 * coalesce(s, 0)) div 100")).as("r"))
    }(Rounds.fixed)
    out.select(col("id"), col("r").as("rank_fp"))
  }

  /** Unrolled DuckDB CTE chain re-deriving [[runPersonalized]]
    * exactly: expects CTEs `n(id)`, `e(src, dst)`, `sd(id)` (distinct
    * seeds) in scope; select from `r$iters`. */
  def oracleCtePersonalized(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT sp.id, sp.tele + (85 * coalesce(x.s, 0)) // 100 AS r
         |  FROM sp LEFT JOIN (
         |    SELECT e.dst, sum(p.r // deg.d) AS s
         |    FROM e JOIN r${i - 1} p ON e.src = p.id
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY 1) x ON sp.id = x.dst)""".stripMargin
    }
    (s"""deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |ns AS (SELECT count(*) AS c FROM sd),
        |sp AS (
        |  SELECT n.id,
        |         CASE WHEN sd.id IS NOT NULL
        |              THEN ${scale * 15 / 100} // (SELECT c FROM ns)
        |              ELSE 0 END AS tele,
        |         CASE WHEN sd.id IS NOT NULL
        |              THEN $scale // (SELECT c FROM ns)
        |              ELSE 0 END AS r0
        |  FROM n LEFT JOIN sd ON n.id = sd.id),
        |r0 AS (SELECT id, r0 AS r FROM sp)""".stripMargin +: rounds)
      .mkString(",\n")
  }

  /** Unrolled DuckDB CTE chain re-deriving [[runWeighted]] exactly:
    * expects CTEs `n(id)` and `e(src, dst, w)` in scope. */
  def oracleCteWeighted(iters: Int): String = {
    val tele = s"${scale * 15 / 100} // (SELECT count(*) FROM n)"
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.id, ($tele) + (85 * coalesce(x.s, 0)) // 100 AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, sum((p.r * e.w) // deg.d) AS s
         |    FROM e JOIN r${i - 1} p ON e.src = p.id
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY 1) x ON n.id = x.dst)""".stripMargin
    }
    (s"""deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT id, $scale // (SELECT count(*) FROM n) AS r FROM n)"""
      .stripMargin +: rounds).mkString(",\n")
  }

  /** Unrolled DuckDB CTE chain re-deriving [[run]] exactly: expects
    * CTEs `n(id)` and `e(src, dst)` in scope, emits `deg` and
    * `r0..r$iters`; select from `r$iters`. */
  def oracleCte(iters: Int): String = {
    val tele = s"${scale * 15 / 100} // (SELECT count(*) FROM n)"
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.id, ($tele) + (85 * coalesce(x.s, 0)) // 100 AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, sum(p.r // deg.d) AS s
         |    FROM e JOIN r${i - 1} p ON e.src = p.id
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY 1) x ON n.id = x.dst)""".stripMargin
    }
    (s"""deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT id, $scale // (SELECT count(*) FROM n) AS r FROM n)"""
      .stripMargin +: rounds).mkString(",\n")
  }
}
