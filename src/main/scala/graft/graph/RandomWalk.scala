package graft.graph

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic seeded random walks — the corpus generator for
  * graph-embedding training data (DeepWalk, Perozzi et al. 2014;
  * node2vec's p=q=1 case, Grover & Leskovec 2016): short walks from
  * seed nodes whose node sequences feed a skip-gram model exactly
  * like token windows feed word2vec.
  *
  * "Random" here is the COMMON-RANDOM-NUMBER discipline the sampling
  * operators already use (the md5 row-hash order of
  * [[graft.functions.BottomKSketch]]): at step t of walk w sitting on
  * node u, the next hop is the neighbor v minimizing
  * `md5(w ':' t ':' v)` — a per-(walk, step) pseudo-uniform draw over
  * the neighbor set that both engines re-derive bit-identically, so
  * even this stochastic-by-nature operator carries the full hash-gate
  * oracle. Walks at a dead-end node simply stop (no self-padding); a
  * seed with no neighbors contributes only its step-0 row.
  *
  * Scale shape: one frontier row per live walk per step — each step
  * is a src-keyed equi-join frontier×edges (shuffle O(Σ deg(frontier)),
  * never the whole graph), followed by a single hash-aggregate argmin
  * `min(struct(h, dst))` per walk (no window sort), checkpointed per
  * step with fresh statistics. Every step's frame stays in the output
  * union, so this loop is not a [[graft.Rounds]] loop: the call's
  * scope releases only the edge checkpoint. Walk count scales with the
  * seed set, independent of |V|.
  */
object RandomWalk {

  /** @param pairs symmetric directed pair set (`a`, `b`) — the
    *              co-purchase frame contract
    * @param seeds one row per walk start, column `id`
    * @param steps fixed hop count (walk length − 1)
    * @return (walk_id, step, node) — step 0 is the seed itself
    */
  def walks(pairs: DataFrame, seeds: DataFrame,
      steps: Int = 4): DataFrame = Checkpoints.scoped {
    val e = Checkpoints(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    var cur = seeds.select(col("id").as("walk_id"), col("id").as("node"))
    var out = cur.select(col("walk_id"), lit(0).cast("int").as("step"),
      col("node"))
    for (t <- 1 to steps) {
      cur = Checkpoints(cur
        .join(e, col("node") === col("src"))
        .select(col("walk_id"), col("dst"),
          md5(concat_ws(":", col("walk_id"), lit(t), col("dst"))).as("h"))
        .groupBy(col("walk_id"))
        .agg(min(struct(col("h"), col("dst"))).as("m"))
        .select(col("walk_id"), col("m.dst").as("node")))
      out = out.unionByName(cur.select(col("walk_id"),
        lit(t).cast("int").as("step"), col("node")))
    }
    out
  }

  /** Unrolled DuckDB CTE chain re-deriving [[walks]] exactly: expects
    * a symmetric `e(src, dst)` and seed set `sd(id)` in scope, emits
    * `w0..w$steps`; the caller unions
    * `SELECT walk_id, t, node FROM w$t` for t = 0..steps. */
  def oracleCte(steps: Int): String = {
    val hops = (1 to steps).map { t =>
      s"""x$t AS MATERIALIZED (
         |  SELECT w.walk_id, e.dst,
         |         md5(CAST(w.walk_id AS VARCHAR) || ':$t:' ||
         |             CAST(e.dst AS VARCHAR)) AS h
         |  FROM w${t - 1} w JOIN e ON e.src = w.node),
         |w$t AS MATERIALIZED (
         |  SELECT walk_id, dst AS node FROM (
         |    SELECT walk_id, dst, row_number() OVER (PARTITION BY walk_id
         |      ORDER BY h, dst) AS rn FROM x$t)
         |  WHERE rn = 1)""".stripMargin
    }
    (s"w0 AS (SELECT id AS walk_id, id AS node FROM sd)" +: hops)
      .mkString(",\n")
  }

  /** The UNION-ALL select list completing [[oracleCte]]. */
  def oracleSelect(steps: Int): String =
    (0 to steps).map { t =>
      s"SELECT walk_id, CAST($t AS INTEGER) AS step, node FROM w$t"
    }.mkString("\nUNION ALL ")
}
