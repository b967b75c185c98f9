package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan,
  * Albert & Kumara 2007) — the near-linear community primitive next
  * to the metric in [[Modularity]] and the cores in [[KCore]]/
  * [[Truss]]: labels start as node ids and each round every node
  * adopts the most frequent label among its neighbors.
  *
  * This is the DETERMINISTIC synchronous variant: all nodes update
  * simultaneously from the round-(r−1) labels, and frequency ties
  * break to the SMALLEST label — so there is no asynchronous visit
  * order, no RNG, and every round is a pure function of the previous
  * one. Labels are node ids (exact 64-bit integers end to end), so
  * all rounds sit bit-identical under the hash gate — the
  * [[PageRank]] determinism contract applied to community detection.
  * Rounds are a fixed count, not a convergence loop (synchronous LPA
  * can 2-cycle on bipartite-ish regions; a fixed horizon is the
  * batch-pipeline form and the oracle unrolls exactly that many).
  *
  * Scale shape: each round is one src-keyed equi-join of the
  * symmetric pair set against the label frame, a (dst, lbl) count
  * with map-side partials, and a single hash-aggregate argmin
  * `min(struct(-cnt, lbl))` per node — no window sort anywhere, and
  * shuffle volume is O(|E|) per round on the join key; the label
  * frame is the [[graft.Rounds]] state.
  */
object LabelProp {

  /** @param pairs symmetric directed pair set (`a`, `b`): both
    *              orientations present, no loops (the co-purchase
    *              frame contract; symmetrize first otherwise)
    * @param rounds fixed synchronous round count
    * @return (id, lbl, csize) — final label + its community size
    */
  def run(pairs: DataFrame, rounds: Int = 4): DataFrame = Checkpoints.scoped {
    val e = Checkpoints(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    val lbl = Rounds.iterate(e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")), rounds) { (lbl, _) =>
      // argmax count, ties to the smallest label, as ONE hash
      // aggregate: min over (−cnt, lbl) struct ordering
      e.join(lbl, col("src") === col("id"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl"))).as("m"))
        .select(col("dst").as("id"), col("m.lbl").as("lbl"))
    }(Rounds.fixed)
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("csize"))
    lbl.join(sizes, "lbl").select(col("id"), col("lbl"), col("csize"))
  }

  /** Unrolled DuckDB CTE chain re-deriving [[run]] exactly: expects a
    * symmetric `e(src, dst)` in scope, emits `l0..l$rounds` and
    * `csz`; select `id, lbl, csize` from `l$rounds JOIN csz`. */
  def oracleCte(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst AS id, l.lbl, count(*) AS cnt
         |  FROM e JOIN l${i - 1} l ON l.id = e.src GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY cnt DESC, lbl) AS rn FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }
    (s"""l0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS id, src AS lbl FROM e)""".stripMargin
      +: steps :+
      s"""csz AS (SELECT lbl, count(*) AS csize
         |       FROM l$rounds GROUP BY 1)""".stripMargin)
      .mkString(",\n")
  }
}
