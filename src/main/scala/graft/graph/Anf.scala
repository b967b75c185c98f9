package graft.graph

import graft.{Checkpoints, Rounds}
import graft.queries.QueryPack.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate Neighborhood Function — the ACTUAL sketched algorithm
  * of Palmer, Gibbons & Faloutsos 2002 ("ANF: a fast and scalable tool
  * for data mining in massive graphs"), completing the seeded-exact
  * hop plot in [[Bfs.hopPlot]]: every node carries a small mergeable
  * distinct-count sketch of its h-ball, and one round of register-wise
  * max along the edges advances ALL balls from radius h to h+1 —
  * per-node neighborhood sizes for the WHOLE graph in
  * O(rounds·|E|·m) work, where the exact alternative is all-pairs BFS.
  *
  * Sketch: HLL registers as in [[graft.functions.HllFrame]] but at
  * m = 16 (p = 4) — ANF's precision trade; per-node state is ≤ 16
  * rows, so the propagation join fans each edge out at most 16×. The
  * md5 register/rank derivation is HllFrame's exactly (first nibble =
  * register, rank = 49 − bitlength of the next 48 bits).
  *
  * Estimate: raw HLL (α₁₆ = 0.673) with the LINEAR-COUNTING
  * small-range correction — required here, unlike HllFrame's
  * large-cardinality uses, because hop-0 balls have size 1 where the
  * raw estimator reads ~11. With m fixed at 16, m·ln(m/V) takes only
  * 15 possible values, so the correction is a CASE of PLAN-TIME
  * LITERALS shared textually with the oracle (the z-quantile
  * discipline: libm never runs in either engine's query path). The
  * harmonic denominator is the exact integer Σ2^(49−mr); per-node
  * estimates are one fixed IEEE sequence floor-scaled to centi-units;
  * cross-node sums are exact longs — bit-identical cross-engine.
  *
  * Scale shape: init is a pure map over the node list; each round is
  * one src-keyed equi-join (|E|·≤m rows) + one (id, reg) groupBy with
  * map-side max-combine, checkpointed per round with fresh statistics
  * in a [[graft.Rounds]] loop whose state is the list of every round's
  * frame, because each feeds the union of hop readouts materialized
  * after the last round (the call's scope releases the frames once it
  * is); each hop readout is one map-side-combined per-id aggregate →
  * one exact-long global sum. Nothing quadratic, no window over
  * data-sized frames.
  */
object Anf {

  /** Registers m = 2^p (ANF precision/state trade). */
  val m = 16

  /** α₁₆ (Flajolet et al. 2007's bias constant for m = 16). */
  val alpha = 0.673

  private val pow49 = 1L << 49 // 2^(wBits+1), wBits = 48

  /** The 15 linear-counting literals m·ln(m/V), V = 1..15 — computed
    * once at PLAN TIME and inlined into both engines' expressions. */
  val lcLiterals: Seq[(Int, Double)] =
    (1 to (m - 1)).map(v => v -> m * math.log(m.toDouble / v))

  /** Small-range cutoff: linear counting applies when raw ≤ 2.5·m. */
  val lcCutoff = 2.5 * m

  /** Per-node singleton sketch (id, reg, mr) — one register row per
    * node (hashing the node's own id). */
  def init(nodes: DataFrame): DataFrame = {
    val h = md5(col("id").cast("string"))
    val w = conv(substring(h, 2, 12), 16, 10).cast("long")
    nodes.select(col("id"),
      conv(substring(h, 1, 1), 16, 10).cast("int").as("reg"),
      when(w === 0, lit(49)).otherwise(lit(49) - length(bin(w)))
        .cast("int").as("mr"))
  }

  /** One propagation round: ball(a, h+1) = ball(a, h) ∪
    * ⋃_{(a,b)∈E} ball(b, h) — union of register frames is register-
    * wise max. */
  def round(frame: DataFrame, edges: DataFrame): DataFrame =
    frame.unionByName(
        edges.select(col("a"), col("b").as("id"))
          .join(frame, "id")
          .select(col("a").as("id"), col("reg"), col("mr")))
      .groupBy(col("id"), col("reg"))
      .agg(max(col("mr")).as("mr"))

  /** Per-node ball-size estimate in exact CENTI-UNITS off a register
    * frame: raw HLL with the literal-CASE linear-counting correction.
    * @return (id, est_c long) */
  def estimateC(frame: DataFrame): DataFrame = {
    val g = frame.groupBy(col("id"))
      .agg(count(lit(1)).as("nr"),
        sum(expr("shiftleft(1L, 49 - mr)")).as("sp"))
    val v = lit(m.toLong) - col("nr") // empty registers
    val sTot = (col("sp") + v * lit(pow49)).cast("double")
    val raw = lit(alpha * m * m) * lit(pow49.toDouble) / sTot
    val lc = lcLiterals.foldLeft(lit(Double.NaN)) { case (acc, (vv, x)) =>
      when(v === vv, lit(x)).otherwise(acc)
    }
    val est = when(v > 0 && raw <= lit(lcCutoff), lc).otherwise(raw)
    g.select(col("id"), floor(est * 100 + 0.5).cast("long").as("est_c"))
  }

  /** The neighborhood function: per hop 0..rounds, the exact-long sum
    * of all nodes' ball-size estimates (centi-units), its fraction of
    * the final hop's mass, and the 90%-effective diameter by the
    * integer rule 10·anf(h) ≥ 9·anf(rounds).
    *
    * @param nodes one row per vertex, column `id`
    * @param edges symmetric directed pair set (`a`, `b`), no loops
    * @return (hop, n_nodes, anf_c, frac, eff_diameter) — one row per
    *         hop with eff_diameter repeated
    */
  def neighborhood(nodes: DataFrame, edges: DataFrame,
      rounds: Int = 4): DataFrame = Checkpoints.scoped {
    val e = Checkpoints(edges.select(col("a"), col("b")))
    val frames = Rounds.fold(Seq(Checkpoints(init(nodes))), rounds)(
      (frames, _) => frames :+ Checkpoints(round(frames.last, e)))
    val per = frames.zipWithIndex.map { case (frame, h) =>
        estimateC(frame)
          .agg(count(lit(1)).as("n_nodes"), sum(col("est_c")).as("anf_c"))
          .select(lit(h).as("hop"), col("n_nodes"), col("anf_c"))
      }.reduce(_ unionByName _)
      .transform(Checkpoints(_)) // feeds the total row AND the output
    val tot = broadcast(per.where(col("hop") === rounds)
      .select(col("anf_c").as("tot")))
    val cum = per.crossJoin(tot)
    val ed = broadcast(cum
      .where(col("anf_c") * 10 >= col("tot") * 9)
      .agg(min(col("hop")).as("eff_diameter")))
    cum.crossJoin(ed)
      .select(col("hop"), col("n_nodes"), col("anf_c"),
        r6(col("anf_c").cast("double") / col("tot")).as("frac"),
        col("eff_diameter"))
  }

  /** Unrolled DuckDB CTE chain re-deriving [[neighborhood]] exactly:
    * expects `e(src, dst)` (symmetric) and `nds(id)` in scope; emits
    * `f0..f$rounds` register frames, `a0..a$rounds` per-hop readouts
    * and `anf` (their UNION ALL); select from `anf` joined with the
    * total/diameter rows. The linear-counting CASE inlines the SAME
    * Scala-computed literals the Spark plan carries. */
  def oracleCte(rounds: Int): String = {
    // hex-nibble slice → BIGINT (self-contained md5IntN, the q221
    // oracle idiom): Σ nibble_i · 16^(n−1−i)
    def md5IntN(hexCol: String, start: Int, nNibbles: Int): String = {
      val terms = (0 until nNibbles).map { i =>
        val pow = math.pow(16, nNibbles - 1 - i).toLong
        s"(strpos('0123456789abcdef', substr($hexCol, ${start + i}, 1)) - 1)" +
          s" * $pow.0"
      }.mkString("\n  + ")
      s"CAST(($terms) AS BIGINT)"
    }
    val reg = md5IntN("h", 1, 1)
    val w = md5IntN("h", 2, 12)
    val lcCase = lcLiterals.map { case (vv, x) =>
      s"WHEN ${m}.0 - nr = $vv THEN $x" }.mkString("\n  ")
    val est =
      s"""CASE WHEN ${m}.0 - nr > 0
         |  AND $alpha * ${m * m} * ${pow49.toDouble}
         |      / CAST(sp + (${m.toLong} - nr) * $pow49 AS DOUBLE)
         |      <= $lcCutoff THEN
         |  CASE $lcCase END
         |ELSE $alpha * ${m * m} * ${pow49.toDouble}
         |     / CAST(sp + (${m.toLong} - nr) * $pow49 AS DOUBLE)
         |END""".stripMargin
    val rnds = (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT id, reg, max(mr) AS mr FROM (
         |    SELECT id, reg, mr FROM f${i - 1}
         |    UNION ALL
         |    SELECT e.src AS id, f.reg, f.mr
         |    FROM e JOIN f${i - 1} f ON f.id = e.dst)
         |  GROUP BY 1, 2)""".stripMargin
    }
    val reads = (0 to rounds).map { i =>
      s"""a$i AS (SELECT $i AS hop,
         |    CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(est_c) AS BIGINT) AS anf_c
         |  FROM (SELECT id,
         |      CAST(floor(($est) * 100 + 0.5) AS BIGINT) AS est_c
         |    FROM (SELECT id, CAST(count(*) AS BIGINT) AS nr,
         |        CAST(sum(1::BIGINT << (49 - mr)) AS BIGINT) AS sp
         |      FROM f$i GROUP BY 1) g$i) e$i)""".stripMargin
    }
    val f0 =
      s"""hh AS (SELECT id, md5(CAST(id AS VARCHAR)) AS h FROM nds),
         |f0 AS MATERIALIZED (
         |  SELECT id, CAST($reg AS INTEGER) AS reg,
         |    CAST(CASE WHEN $w = 0 THEN 49
         |      ELSE 49 - length(bin($w)) END AS INTEGER) AS mr
         |  FROM hh)""".stripMargin
    val anf =
      s"""anf AS (${(0 to rounds).map(i => s"SELECT * FROM a$i")
          .mkString("\n  UNION ALL ")})""".stripMargin
    (Seq(f0) ++ rnds ++ reads :+ anf).mkString(",\n")
  }
}
