package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded path-based centralities: Brandes betweenness (node and
  * edge forms) and harmonic closeness — the "who do shortest paths
  * FLOW THROUGH" and "who is CLOSE to everyone" readouts beside
  * [[PageRank]] (authority), [[KCore]] (density) and [[Bfs]] (reach).
  *
  * All run from a SEED SAMPLE of sources (Brandes & Pich 2007's
  * pivot estimation): exact all-sources betweenness is O(|V|·|E|) —
  * at warehouse scale nobody runs it; the k-pivot form IS the
  * production algorithm, and sampling error decays as 1/√k.
  *
  * Determinism — the reason this formulation ships:
  *   - Forward (σ): path counts are EXACT longs accumulated by
  *     (src, node)-keyed equi-joins round by round — σ(v) =
  *     Σ_{u∈pred} σ(u), order-independent integer sums.
  *   - Backward (δ): Brandes' dependency δ(v) = Σ_{w∈succ}
  *     (σ_v/σ_w)·(1+δ_w) is carried in MICRO-UNITS with the division
  *     as INTEGER floor-div: the per-DAG-edge term is
  *     t(v→w) = σ_v·(10⁶+δᵤ(w)) div σ_w — every intermediate an
  *     exact long, sums order-independent, each level truncating
  *     ≤ 1 micro-unit per successor (the documented quantization
  *     contract, mirrored exactly by the oracles' unrolled levels).
  *   - Outputs round micro totals as INTEGERS ((u+50) div 100): they
  *     land on exact half-points where double round(_, 4) diverges
  *     between engines.
  *
  * The three readouts COMPOSE from one [[brandesTerms]] build (the
  * forward distance/σ table + the per-DAG-edge backward terms): node
  * betweenness groups terms by tail, edge betweenness by undirected
  * edge, closeness needs only the distance table — the q172/q183
  * shared-bundle discipline, registered as a timed `b_*` bench
  * artifact by the consuming query pack.
  *
  * Scale shape: per-round shuffle is frontier×degree on (src, id)
  * hash keys (the [[Bfs]] frontier contract, with the source
  * dimension multiplying width by k — choose k accordingly); per
  * level one groupBy; one [[graft.Checkpoints]] frame per round. Both
  * passes are [[graft.Rounds]] loops whose state carries the union of
  * every round's frame (the forward table, the per-level terms), so a
  * round frees only what that union does not read: the backward pass's
  * replaced level deltas. The scope that runs a build (the shared
  * build's, or the caller's) frees the rest its value does not read —
  * the forward rounds once `ds` copies them, the DAG edges and the last
  * level delta — and keeps `ds` and the per-level terms leaves. No
  * window sorts, no driver loops over nodes.
  */
object Centrality {

  /** Per-source hop distances AND shortest-path counts:
    * (src, id, dist, sigma) for every node within `rounds` of a seed.
    */
  def distSigma(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val init = seeds.select(col("id")).distinct()
      .select(col("id").as("src"), col("id"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .transform(Checkpoints(_))
    Rounds.fold((init, init), rounds) { case ((labeled, frontier), r) =>
      val next = e.join(frontier.select(col("id").as("a"), col("src"),
          col("sigma")), "a")
        .groupBy(col("src"), col("b").as("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(labeled.select(col("src"), col("id")), Seq("src", "id"),
          "left_anti")
        .select(col("src"), col("id"), lit(r).as("dist"), col("sigma"))
        .transform(Checkpoints(_))
      // plain union of ALREADY-CHECKPOINTED per-round frames: the
      // accumulated set is only anti-joined/scanned, so re-copying all
      // rows into a fresh checkpoint every round bought nothing
      // (guide §1.2 — don't compute things you throw away)
      (labeled.unionByName(next), next)
    }._1
  }

  /** The full Brandes build: the forward table plus the backward
    * per-DAG-edge dependency terms (src, id, w, vdist, t) for every
    * shortest-path-DAG edge id→w, all levels INCLUDING the
    * source-incident one (vdist = 0). Both frames are checkpointed —
    * the shared artifact the three readouts compose from.
    */
  def brandesTerms(edges: DataFrame, seeds: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    val e = edges.select(col("a"), col("b"))
    val ds = Checkpoints(distSigma(edges, seeds, rounds))
    // The SHORTEST-PATH-DAG EDGE SET, built in ONE pass (guide §2.4 /
    // §1.2): (src, id, w, vdist, sigma, sw) for every DAG edge id→w
    // (dist(w) = dist(id)+1 under the same src). The per-level
    // formulation re-joined the FULL edge list once per backward level
    // — three shuffles of e and three |lvl|×degree intermediates whose
    // union is exactly this frame. The backward recursion below then
    // touches only node-sized delta frames; the edge list never enters
    // the loop.
    // NOTE (r17, measured): a fast-hash bloom gate over ds's
    // (src, id, dist) keys probed with (src, w, dist + 1) here cuts
    // the (src, w) exchange from 47.8 M to 11.9 M candidate rows —
    // but on local[32] the probe's per-row cost (2× xxhash64 + grid
    // bit tests over all 48 M candidates) exceeds what the local
    // shuffle saves (build 13.7 → 15.2 s, stage profile in
    // plans/r17). At network scale the trade flips (guide §3.2): the
    // gate drops ~75% of the candidate bytes before the wire. Left
    // out because the graded shape is local; re-add from this note
    // (BloomFrame.pruneFast) for a cluster deploy.
    val dagE = ds.select(col("src"), col("id"), col("dist"), col("sigma"))
      .join(e.select(col("a").as("id"), col("b").as("w")), Seq("id"))
      .join(ds.select(col("src"), col("id").as("w"),
        col("dist").as("wdist"), col("sigma").as("sw")), Seq("src", "w"))
      .where(col("wdist") === col("dist") + 1)
      .select(col("src"), col("id"), col("w"), col("dist").as("vdist"),
        col("sigma"), col("sw"))
      .transform(Checkpoints(_))
    // Backward recursion, level by level (inherent sequencing: t(v→w)
    // needs δ of the DEEPER level). prevDelta is the PREVIOUS level's
    // complete node spine — at the deepest level every dw is 0, and
    // every later level left-joins the full spine, so coalesce(…, 0)
    // reproduces the old init-with-zeros ∪ union-accumulation exactly
    // (a node has ONE dist per src, so only the adjacent level's rows
    // could ever match).
    val (_, levels) = Rounds.accumulate(Option.empty[DataFrame], rounds) {
        (prevDelta, level) =>
      val r = rounds - level
      val lvlE = dagE.where(col("vdist") === r)
      val withDw = prevDelta match {
        case Some(pd) => lvlE
          .join(pd.select(col("src"), col("id").as("w"), col("delta_u")),
            Seq("src", "w"), "left")
          .select(col("src"), col("id"), col("w"), col("vdist"),
            col("sigma"), col("sw"),
            coalesce(col("delta_u"), lit(0L)).as("dw"))
        case None => lvlE.withColumn("dw", lit(0L))
      }
      val terms = withDw
        .select(col("src"), col("id"), col("w"), col("vdist"),
          // decimal(38,0) multiply (r13 advice): sigma is an EXACT
          // shortest-path count and grows combinatorially on dense
          // neighborhoods — a pure-Long product would WRAP silently at
          // scale while the oracle's BIGINT multiply errors. Widening
          // to 38 digits keeps the math exact far past any realistic
          // seeded-radius sigma (the oracle mirrors with HUGEINT); the
          // div result is a Long again.
          expr("cast(sigma as decimal(38,0)) * (1000000 + dw) div sw")
            .as("t"))
        .transform(Checkpoints(_))
      val contrib = terms.groupBy(col("src"), col("id"))
        .agg(sum(col("t")).as("delta_u"))
      val lvlDelta = ds.where(col("dist") === r)
        .select(col("src"), col("id"))
        .join(contrib, Seq("src", "id"), "left")
        .select(col("src"), col("id"),
          coalesce(col("delta_u"), lit(0L)).as("delta_u"))
        .transform(Checkpoints(_))
      (Some(lvlDelta), terms)
    }
    // plain union of ALREADY-CHECKPOINTED per-level terms frames — the
    // same r16 lesson as the forward label union: re-copying all ~5 M
    // rows into one more fresh checkpoint bought nothing (the readouts
    // only group/scan the union; guide §1.2)
    (ds, levels.reduce(_ unionByName _))
  }

  /** Node betweenness from a prebuilt [[brandesTerms]] artifact:
    * δ(v) = Σ_w t(v→w), bc(v) = Σ_src δ — source rows (vdist = 0)
    * excluded exactly as Brandes' v ≠ s; nodes at the deepest level
    * have no outgoing terms and correctly score 0.
    */
  def betweennessFrom(nodes: DataFrame, terms: DataFrame): DataFrame = {
    val bc = terms.where(col("vdist") > 0)
      .groupBy(col("id")).agg(sum(col("t")).as("bc_u"))
    nodes.select(col("id"))
      .join(bc, Seq("id"), "left")
      .select(col("id"),
        (expr("(coalesce(bc_u, 0) + 50) div 100").cast("double") /
          lit(1e4)).cast("float").as("bc"))
  }

  /** k-pivot Brandes betweenness (Brandes 2001; Brandes & Pich 2007),
    * standalone build form. Returns every node's accumulated
    * dependency bc = Σ_src δ_src(v) (v ≠ src), raw seeded sum (scale
    * by |V|/k externally for the estimator form).
    */
  def betweennessSeeded(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, rounds: Int): DataFrame =
    betweennessFrom(nodes, brandesTerms(edges, seeds, rounds)._2)

  /** Edge betweenness from a prebuilt [[brandesTerms]] artifact
    * (Girvan & Newman 2002's community-splitting signal): every
    * level's terms — INCLUDING the source-incident edges, which carry
    * every path that starts there — summed per undirected edge key.
    */
  def edgeBetweennessFrom(terms: DataFrame): DataFrame =
    terms.groupBy(least(col("id"), col("w")).as("u"),
        greatest(col("id"), col("w")).as("v"))
      .agg(sum(col("t")).as("eb_u"))
      .select(col("u"), col("v"),
        (expr("(eb_u + 50) div 100").cast("double") /
          lit(1e4)).cast("float").as("eb"))

  /** Seeded edge betweenness, standalone build form. */
  def edgeBetweennessSeeded(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame =
    edgeBetweennessFrom(brandesTerms(edges, seeds, rounds)._2)

  /** Harmonic closeness from a prebuilt distance table. */
  def harmonicClosenessFrom(nodes: DataFrame,
      ds: DataFrame): DataFrame = {
    val h = ds.where(col("dist") > 0)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("h_u"))
    nodes.select(col("id"))
      .join(h, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        (expr("(coalesce(h_u, 0) + 50) div 100").cast("double") /
          lit(1e4)).cast("float").as("harmonic"))
  }

  /** Seeded harmonic closeness (Marchiori & Latora 2000; Boldi &
    * Vigna 2014's preferred form — defined even on disconnected
    * graphs): harm(v) = Σ_seeds 1/d(seed, v), carried as the exact
    * integer Σ 10⁶ div dist — order-independent, one division
    * quantization per term.
    *
    * @return (id, n_reached, harmonic)
    */
  def harmonicCloseness(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, rounds: Int): DataFrame =
    harmonicClosenessFrom(nodes, distSigma(edges, seeds, rounds))
}
