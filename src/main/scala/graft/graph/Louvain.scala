package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-level Louvain modularity ascent (Blondel et al. 2008, phase 1)
  * — the OPTIMIZATION half of community detection beside the scorer in
  * [[Modularity]] and the propagation heuristic in [[LabelProp]]:
  * nodes start as singleton communities and greedily move to the
  * neighboring community with the largest modularity gain.
  *
  * The classic sweep is serial (visit nodes in order, apply each move
  * immediately); a naive synchronous parallelization loses the ascent
  * guarantee (two adjacent nodes can swap into each other's old
  * communities and DECREASE Q). This variant keeps both parallelism
  * and exact ascent with a deterministic COMMUNITY HANDSHAKE: each
  * round every node computes its single best positive-ΔQ move (ties to
  * the smallest target community), and a move applies only if it is
  * the best move touching BOTH its source and its target community
  * (rank = (ΔQ desc, id, target)). Applied moves therefore touch
  * pairwise-disjoint community pairs; ΔQ depends only on the mover's
  * degree, its edge counts into the two communities, and the two
  * community degree sums, so disjoint moves are exactly independent
  * and the round's total gain is the exact SUM of the applied ΔQs —
  * every round is a strict ascent while any positive move exists, and
  * the globally best move always survives the handshake.
  *
  * ΔQ is the exact integer numerator of [[Modularity]]'s
  * common-denominator form (directed convention, M = directed edges):
  * {{{
  *   ΔQ · M² / 2 = M·(k_{i,b} − k_{i,a\i}) − k_i·(d_b − d_a + k_i)
  * }}}
  * where a/b are the source/target communities, d the community
  * degree sums (d_a including i), and k_{i,c} the mover's edge count
  * into c. All longs, no division until [[Modularity]] scores the
  * result — rounds are bit-identical cross-engine (the [[LabelProp]]
  * determinism contract) and the oracle unrolls them exactly.
  *
  * Scale shape per round: the edge frame is checkpointed once,
  * hash-partitioned on `src`, with each node's strength on its rows
  * and one (i, i, 0) marker row per node; one [[graft.Rounds]] node
  * state `(id, c, k, dc, moved)` carries each node's community,
  * strength, community degree sum (a window column) and whether it
  * just moved (the fixpoint test counts those). The state joins the edges
  * ONCE, on `dst`, with no broadcast hint — the marker's join brings
  * the node's own state — and its measured checkpoint size lets the
  * planner broadcast it while it is small; a state too big to
  * broadcast is shuffle-joined instead (the edges shuffle on `dst`,
  * then once more on `src` for the aggregates). The per-(node,
  * community) weights and each node's best move are two `src`-keyed
  * aggregates with no exchange between them; the handshake is one
  * aggregate of at most |communities| rows, whose winners are counted
  * and applied in one id-keyed aggregate over state ∪ winners; the
  * window's shuffle on c closes the round. 5 Spark jobs a round under
  * AQE at bench scale. The call's scope releases the edge checkpoint.
  */
object Louvain {

  /** @param pairs symmetric directed pair set (`a`, `b`): both
    *              orientations present, no loops ([[LabelProp]]'s
    *              contract)
    * @param rounds fixed handshake-move round count
    * @return (id, community, csize) — final community + its size
    */
  def oneLevel(pairs: DataFrame, rounds: Int = 4): DataFrame =
    oneLevelW(pairs.select(col("a"), col("b"), lit(1L).as("w")), rounds)

  /** WEIGHTED one-level ascent — the form the CONTRACTED graph of
    * [[twoLevel]] needs: `edges(a, b, w)` symmetric directed with
    * self-loops allowed (a = b). A supernode's strength k_i = Σw over
    * its out-edges INCLUDING the self-loop (the intra-community mass
    * travels with the node), while k_{i,c} — the mover's weight into a
    * candidate community — EXCLUDES it (a self-loop contributes the
    * same intra mass wherever i sits, so it cancels out of ΔQ). With
    * those two conventions the exact-integer gain formula is unchanged:
    * ΔQ·M²/2 = M·(k_{i,b} − k_{i,a\i}) − k_i·(d_b − d_a + k_i), all
    * long sums of long weights ([[oneLevel]] is the w = 1 no-loop
    * special case).
    */
  def oneLevelW(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val lbl = oneLevelLabelsW(edges, rounds)
    val sizes = lbl.groupBy(col("c")).agg(count(lit(1)).as("csize"))
    lbl.join(sizes, "c")
      .select(col("id"), col("c").as("community"), col("csize"))
  }

  /** Bare final labels of [[oneLevelW]] — the checkpointed state
    * (id, c, k, dc, moved) — for composed callers ([[twoLevel]]) that do
    * not need the size decoration: the terminal groupBy + join (and
    * one more checkpoint of their output) is skipped (r17, guide
    * §1.2).
    */
  private[graft] def oneLevelLabelsW(edges: DataFrame,
      rounds: Int = 4): DataFrame = Checkpoints.scoped {
    // edges hash-partitioned on src ONCE (an explicit count, so AQE
    // cannot coalesce it away): every src-keyed step below reads the
    // checkpoint in place. Each row carries its src's strength k;
    // self-loops are then dropped (a loop only adds to k) and each
    // node's first row also emits an (i, i, 0) MARKER, whose dst-side
    // join brings the node's own state to its src partition.
    val bySrc = Window.partitionBy(col("src")).orderBy(col("dst"))
    val e = Checkpoints.partitioned(edges.select(
        col("a").as("src"), col("b").as("dst"),
        col("w").cast("long").as("w"))
      .repartition(edges.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, col("src"))
      .select(col("src"), col("dst"), col("w"),
        sum(col("w")).over(bySrc.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("k"),
        row_number().over(bySrc).as("rn"))
      .select(col("src"), col("k"), explode(array(
        struct(col("dst"), col("w"), (col("src") =!= col("dst")).as("keep")),
        struct(col("src").as("dst"), lit(0L).as("w"),
          (col("rn") === 1).as("keep")))).as("x"))
      .where(col("x.keep")).select("src", "k", "x.dst", "x.w"))
    val nodes = e.where(col("src") === col("dst"))
    val m = nodes.agg(coalesce(sum(col("k")), lit(0L))).head().getLong(0)
    // node state (id, c, k, dc, moved): community c, strength k, the
    // community's degree sum dc — singletons start with dc = k — and
    // whether the node's label is new this round. FIXPOINT EARLY EXIT
    // (identical output): no applied moves ⇒ the state is unchanged ⇒
    // every remaining round is a no-op.
    val st = Rounds.iterate(nodes.select(col("src").as("id"),
        col("src").as("c"), col("k"), col("k").as("dc"),
        lit(true).as("moved")), rounds) { (st, _) =>
      // k_{i,b} per (node, community b of a neighbor) with b's degree
      // sum d_b; the marker's group is the node's own community a
      // (its kc is k_{i,a\i}). Then each node's best move: ΔQ(b) =
      // 2(M·k_{i,b} − k_i·d_b) + a per-node constant, so the argmax
      // ranks by that term alone (ties to the smallest b) and the
      // exact ΔQ is formed for the winner only. One join, and two
      // src-keyed aggregates with no exchange between them.
      val kc = e.join(st.select(col("id").as("dst"), col("c").as("cn"),
          col("dc").as("db")), "dst")
        .groupBy(col("src"), col("k"), col("cn"), col("db"))
        .agg(sum(col("w")).as("kc"),
          max(col("src") === col("dst")).as("own"))
      val nb = kc.groupBy(col("src").as("id"), col("k"))
        .agg(max(when(col("own"), struct(col("cn").as("a"),
            col("db").as("da"), col("kc").as("ka")))).as("o"),
          min(when(!col("own"), struct(
            (col("k") * col("db") - lit(m) * col("kc")).as("r"),
            col("cn").as("b"), col("kc").as("kb"), col("db")))).as("mv"))
        .select(col("id"), col("o.a"), col("mv.b"),
          (lit(2) * (lit(m) * (col("mv.kb") - col("o.ka")) - col("k") *
            (col("mv.db") - col("o.da") + col("k")))).as("dq"))
        .where(col("dq") > 0)
      // community handshake: each touched community's winner is its
      // first move by (ΔQ desc, id, b); a move applies iff it wins both
      // its source and its target community — counted, and applied, by
      // one id-keyed aggregate over the state and the winners
      val best = nb.select(explode(array(col("a"), col("b"))).as("comm"),
          col("id"), col("b"), col("dq")).groupBy(col("comm"))
        .agg(min(struct((-col("dq")).as("nd"), col("id"), col("b"))).as("w"))
      val wins = sum(col("win"))
      st.select(col("id"), col("c"), col("k"), lit(0).as("win"))
        .unionByName(best.select(col("w.id").as("id"), col("w.b").as("c"),
          lit(null).cast("long").as("k"), lit(1).as("win")))
        .groupBy(col("id"))
        .agg(max(col("k")).as("k"), (wins === 2).as("moved"),
          when(wins === 2, max_by(col("c"), col("win")))
            .otherwise(min_by(col("c"), col("win"))).as("c"))
        .select(col("id"), col("c"), col("k"),
          sum(col("k")).over(Window.partitionBy(col("c"))).as("dc"),
          col("moved"))
    }(Rounds.until(count(when(col("moved"), 1)))((_, n) => n == 0L))
    st
  }

  /** MULTI-LEVEL Louvain (Blondel et al. 2008, the full algorithm):
    * after the level-1 ascent converges its rounds, the graph is
    * CONTRACTED — every community becomes a supernode, parallel edges
    * sum into weights, intra-community edges become self-loops — and a
    * second weighted ascent runs on the contracted graph. One level
    * alone leaves mega-communities unsplit on large graphs; the
    * contraction step is what lets later levels merge whole
    * communities at once. Because the contraction preserves M, the
    * degree sums, and the intra masses, modularity of the level-2
    * labeling ON THE ORIGINAL GRAPH is exactly the contracted graph's
    * modularity — so Q(level 2) ≥ Q(level 1) by the same per-round
    * ascent guarantee (pinned in LouvainSpec via [[Modularity]]).
    *
    * Scale shape: level 1 is [[oneLevel]] (O(|E|)-shuffle rounds); the
    * contraction is ONE groupBy on the label-annotated edge list
    * (|communities|² worst-case but ≤ |E| rows real); level 2 runs on
    * the contracted graph — orders of magnitude smaller, the whole
    * point of the method.
    *
    * @return (id, c1, community, csize) — the node's level-1 and final
    *         level-2 communities + the level-2 community's ORIGINAL
    *         node count
    */
  def twoLevel(pairs: DataFrame, rounds1: Int = 4,
      rounds2: Int = 4): DataFrame = Checkpoints.scoped {
    // the level-1 label frame is already checkpointed by the ascent
    // loop — read it bare instead of decorating it with sizes and
    // re-checkpointing the projection (r17, guide §1.2: the old form
    // paid a groupBy + join + one more full-frame materialization for
    // columns twoLevel never reads)
    val st1 = oneLevelLabelsW(
      pairs.select(col("a"), col("b"), lit(1L).as("w")), rounds1)
    val lbl1 = st1.select(col("id"), col("c").as("c1"))
    val e2 = pairs
      .join(lbl1.select(col("id").as("a"), col("c1").as("ca")), "a")
      .join(lbl1.select(col("id").as("b"), col("c1").as("cb")), "b")
      .groupBy(col("ca").as("a"), col("cb").as("b"))
      .agg(count(lit(1)).as("w"))
    // level 2 likewise needs only the labels — its csize is recomputed
    // over ORIGINAL nodes below, never read from the contracted ascent
    val st2 = oneLevelLabelsW(e2, rounds2)
    val fin = Checkpoints(
      lbl1.join(st2.select(col("id").as("c1"), col("c").as("c2")), "c1"))
    val sizes = fin.groupBy(col("c2")).agg(count(lit(1)).as("csize"))
    fin.join(sizes, "c2")
      .select(col("id"), col("c1"), col("c2").as("community"),
        col("csize"))
  }

  /** Unrolled DuckDB CTE chain re-deriving [[oneLevel]] exactly:
    * expects a symmetric `e(src, dst)` in scope, emits `deg`, `mm`,
    * `l0..l$rounds` and `csz`; select `id, c, csize` from
    * `l$rounds JOIN csz`. */
  def oracleCte(rounds: Int): String = oracleCteW(rounds, "", "e",
    weighted = false)

  /** The weighted/suffixed generalization ([[oneLevelW]]'s oracle):
    * reads `$edges(src, dst, w)` (self-loops allowed), emits
    * `deg$sfx`, `mm$sfx`, `l$sfx0..l$sfx$rounds`, `csz$sfx` — the
    * suffix keeps a level-2 unroll from colliding with level-1's CTE
    * names in the same WITH chain. `weighted = false` reproduces
    * [[oracleCte]]'s count-based text exactly (no `w` column read). */
  def oracleCteW(rounds: Int, sfx: String, edges: String,
      weighted: Boolean = true): String = {
    val wSum = if (weighted) "sum(w)" else "count(*)"
    // self-loop guard only matters when loops can exist (weighted /
    // contracted graphs) — the unweighted pair-set contract has none
    val noLoop = if (weighted) "WHERE e.src <> e.dst " else ""
    val steps = (1 to rounds).map { i =>
      s"""dc$sfx$i AS (SELECT c, CAST(sum(k) AS BIGINT) AS dc
         |  FROM l$sfx${i - 1} JOIN deg$sfx USING (id) GROUP BY 1),
         |kc$sfx$i AS MATERIALIZED (
         |  SELECT e.src AS id, l.c AS cn, CAST($wSum AS BIGINT) AS kc
         |  FROM $edges e JOIN l$sfx${i - 1} l ON l.id = e.dst
         |  ${noLoop}GROUP BY 1, 2),
         |cand$sfx$i AS (
         |  SELECT k0.id, l.c AS a, k0.cn AS b,
         |         2 * (mm$sfx.m * (k0.kc - coalesce(ka.kc, 0))
         |              - d.k * (dcb.dc - dca.dc + d.k)) AS dq
         |  FROM kc$sfx$i k0
         |  JOIN l$sfx${i - 1} l USING (id)
         |  JOIN deg$sfx d USING (id)
         |  JOIN dc$sfx$i dca ON dca.c = l.c
         |  JOIN dc$sfx$i dcb ON dcb.c = k0.cn
         |  LEFT JOIN kc$sfx$i ka ON ka.id = k0.id AND ka.cn = l.c
         |  CROSS JOIN mm$sfx
         |  WHERE k0.cn <> l.c),
         |nb$sfx$i AS (SELECT id, a, b, dq FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY dq DESC, b) AS rn
         |    FROM cand$sfx$i WHERE dq > 0) WHERE rn = 1),
         |tch$sfx$i AS (SELECT a AS comm, id, b, dq FROM nb$sfx$i
         |          UNION ALL SELECT b AS comm, id, b, dq FROM nb$sfx$i),
         |bst$sfx$i AS (SELECT comm, id, b FROM (
         |    SELECT *, row_number() OVER (PARTITION BY comm
         |      ORDER BY dq DESC, id, b) AS rn
         |    FROM tch$sfx$i) WHERE rn = 1),
         |mv$sfx$i AS (SELECT n.id, n.b FROM nb$sfx$i n
         |  JOIN bst$sfx$i p ON p.comm = n.a AND p.id = n.id AND p.b = n.b
         |  JOIN bst$sfx$i q ON q.comm = n.b AND q.id = n.id AND q.b = n.b),
         |l$sfx$i AS MATERIALIZED (
         |  SELECT l.id, coalesce(m.b, l.c) AS c
         |  FROM l$sfx${i - 1} l LEFT JOIN mv$sfx$i m USING (id))""".stripMargin
    }
    (s"""deg$sfx AS MATERIALIZED (
        |  SELECT src AS id, CAST($wSum AS BIGINT) AS k
        |  FROM $edges GROUP BY 1),
        |mm$sfx AS (SELECT CAST($wSum AS BIGINT) AS m FROM $edges),
        |l${sfx}0 AS MATERIALIZED (SELECT id, id AS c FROM deg$sfx)""".stripMargin
      +: steps :+
      s"""csz$sfx AS (SELECT c, CAST(count(*) AS BIGINT) AS csize
         |        FROM l$sfx$rounds GROUP BY 1)""".stripMargin)
      .mkString(",\n")
  }
}
