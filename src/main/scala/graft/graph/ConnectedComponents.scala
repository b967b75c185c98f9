package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list —
  * the reusable primitive behind near-dup clustering
  * ([[graft.llm.Dedup.dupClusters]]) and any other entity-resolution
  * grouping (user stitching, trade-chain grouping).
  *
  * Algorithm: iterated min-label propagation with one POINTER JUMP per
  * round (label ← label's label — Shiloach–Vishkin shortcutting, the
  * same round-compression idea as Large-Star/Small-Star [Kiveris et
  * al., Connected Components in MapReduce and Beyond]), run to a
  * fixpoint. Rounds are O(log diameter): measured 5 (with the fused
  * seed round below) vs 13 for plain propagation on the sf0.1
  * near-dup graph.
  *
  * Two structural savings before any round runs:
  *   - Only the EDGE-INDUCED subgraph iterates. A near-dup graph over
  *     a deduplicated corpus is sparse — the overwhelming majority of
  *     docs touch no edge, and their component is trivially their own
  *     id, so they are left-joined back in once at the end instead of
  *     being carried through every round. At warehouse scale this
  *     shrinks the iterated frame from |corpus| to |dup candidates|.
  *   - Labels seed at `min(id, min neighbor)` — the first propagation
  *     round fused into edge prep as one aggregate.
  *
  * Scale shape: every round is one edge→label equi-join plus a
  * node-keyed min aggregate (partial aggregation applies) plus the
  * jump join — all hash-partitioned on the node key, nothing
  * collected. The labels are the [[graft.Rounds]] state (they feed the
  * next round twice). Convergence is a Σlabel fixpoint test observed on
  * that state — labels only ever decrease, so the sum strictly
  * decreases until done (decimal sum: Σ of 64-bit ids overflows a long
  * at warehouse row counts, and ANSI mode would rightly abort).
  */
object ConnectedComponents {

  /** @param nodes one row per vertex, column `id` (long)
    * @param edges  undirected edges as (`a`, `b`) rows (any direction,
    *               duplicates fine)
    * @return (id, component) — component = smallest reachable id
    */
  def run(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 50): DataFrame = Checkpoints.scoped {
    // materialize the caller's edge derivation BEFORE the orientation
    // union: the union's two branches are separate physical subtrees,
    // so a heavy pair producer (banded fingerprint join over an audio
    // DSP chain, LSH cosine stage) would otherwise execute once per
    // branch — plus once more for a broadcast build side, which
    // ReuseExchange shares but a re-planned union branch does not
    val e0 = edges.select(col("a").as("src"), col("b").as("dst"))
      .transform(Checkpoints(_))
    val e = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .transform(Checkpoints(_))
    // round 0 fused: label(v) = min(v, min neighbor); also defines the
    // active (edge-touched) vertex set — isolated nodes skip the loop
    var done = false
    val labels = Rounds.iterate(e.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), first(col("src"))).as("component")),
        maxIters) { (labels, _) =>
      val prop = e
        .join(labels.select(col("id").as("src"), col("component")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nc"))
      val m1 = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nc"), col("component")))
            .as("component"))
      // pointer jump — component values are always node ids, so the
      // self-lookup hits
      m1.join(
          m1.select(col("id").as("component"), col("component").as("c2")),
          Seq("component"), "left")
        .select(col("id"),
          coalesce(col("c2"), col("component")).as("component"))
    }(Rounds.until(sum(col("component").cast("decimal(38,0)"))) {
      (prev, s) => done = prev.contains(s); done
    })
    // A silent partial merge would give callers (dupClusters,
    // clusterDedup) wrong clusters with no signal — fail loudly.
    // Pointer jumping converges in O(log diameter), so hitting the
    // default cap means something structural broke, not a big graph.
    if (!done) throw new IllegalStateException(
      s"connected components did not converge in $maxIters iterations")
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** INCREMENTAL connected components — the day-2 refresh: given the
    * standing labels of yesterday's graph (`prior`: (id, component),
    * component = min id of the old component — [[run]]'s own output
    * contract) and ONLY the new edges, produce labels equal to a full
    * recompute over old ∪ new — without iterating the old graph.
    *
    * GRAPH CONTRACTION, the provably-equivalent formulation: every
    * new-edge endpoint maps to its representative (its prior label if
    * it has one, else itself — reps ARE their cluster's min id by
    * [[run]]'s contract), [[run]] clusters the CONTRACTED graph (≤
    * 2·|new edges| nodes, however large the accumulated graph), and
    * the result expands back through the prior labels with one
    * id-keyed join. Contraction preserves connectivity exactly, and
    * chained merges (A–B via one new edge, B–C via another) resolve
    * inside the contracted CC — no one-hop remap approximation.
    *
    * @return (id, component) over `nodes`, identical to a full [[run]]
    */
  def runIncremental(nodes: DataFrame, newEdges: DataFrame,
      prior: DataFrame, maxIters: Int = 50): DataFrame = {
    val pri = prior.select(col("id"), col("component"))
    val contracted = newEdges
      .join(pri.select(col("id").as("a"), col("component").as("pa")),
        Seq("a"), "left")
      .join(pri.select(col("id").as("b"), col("component").as("pb")),
        Seq("b"), "left")
      .select(coalesce(col("pa"), col("a")).as("a"),
        coalesce(col("pb"), col("b")).as("b"))
      // reps reads this twice and run() once more — and the new-edge
      // producer is typically a heavy delta pair family; materialize
      .transform(Checkpoints(_))
    val reps = contracted.select(col("a").as("id"))
      .unionByName(contracted.select(col("b").as("id"))).distinct()
    // rep → merged component over the contracted graph; each rep is
    // its old cluster's min id (or a new node's own id), so the
    // contracted minimum IS the global minimum of the merged component
    val merged = run(reps, contracted, maxIters)
      .select(col("id").as("rep"), col("component").as("mc"))
    nodes.join(pri, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("rep"))
      .join(merged, Seq("rep"), "left")
      .select(col("id"), coalesce(col("mc"), col("rep")).as("component"))
  }
}
