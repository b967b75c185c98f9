package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal independent set by Luby's algorithm (Luby 1986) — the
  * classic parallel graph primitive the sequential greedy MIS cannot
  * scale to (it is P-complete): per round, every ACTIVE vertex draws
  * a priority, joins the set iff its priority beats every active
  * neighbor's, and winners' neighborhoods deactivate. In a dedup
  * pipeline this is the conflict-free ANCHOR selection over a
  * similarity graph: the MIS is a set of mutually-dissimilar
  * representatives touching every cluster.
  *
  * Determinism (the repo's hash-randomness discipline): priorities
  * are 48-bit md5 integers salted by round — no `rand`, so both
  * engines draw identical values — and the win test compares the
  * (priority, id) STRUCT, a total order (ties impossible with
  * distinct ids), making every round's winner set exact. Adjacent
  * winners cannot happen: of two active neighbors, the larger tuple
  * sees the smaller as its neighborhood min and loses — independence
  * holds by construction, every round, in both engines.
  *
  * Bounded rounds (the q209 BFS contract): Luby decides a constant
  * expected fraction of edges per round, so a fixed small `rounds`
  * decides almost everything; still-active vertices report state 0
  * ("undecided") rather than pretending completion — the honest
  * fixed-round contract.
  *
  * Scale shape: each round is one (id-keyed) equi-join of the edge
  * list against the ≤|V|-row priority frame + one grouped min — the
  * frontier-join family's cost (|E_active| shuffle rows/round), no
  * collect, a [[graft.Rounds]] state of one int per vertex, rounds
  * plan-time.
  *
  * @return (id, state) — 1 in the MIS, −1 excluded (has an MIS
  *         neighbor), 0 undecided after `rounds`
  */
object Mis {

  private def prio(round: Int, id: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(s"mis$round:"), id.cast("string"))),
      1, 12), 16, 10).cast("long")

  /** @param edgeShape input-contract flag (guide §2.4 — skip shuffles
    *        the caller can prove unnecessary), one of:
    *        - `"raw"` (default): arbitrary directed pairs — symmetrize
    *          with a union and dedup with a distinct, as always;
    *        - `"symmetric"`: already a loop-free DISTINCT directed
    *          symmetric pair set (both orientations present once — the
    *          co-purchase frame) — used as-is, no union, no distinct;
    *        - `"canonical"`: loop-free UNIQUE one-orientation pairs
    *          (src < dst per row — the near-dup pair contract) — union
    *          of the two orientations is distinct by construction, so
    *          only the distinct is skipped.
    *        All three yield the identical undirected edge set. */
  def luby(vertices: DataFrame, edges: DataFrame, rounds: Int = 3,
      edgeShape: String = "raw"): DataFrame = Checkpoints.scoped {
    require(rounds >= 1, "Luby needs at least one round")
    // both directions once: the neighborhood tests below are symmetric
    val swapped = edges.select(col("dst").as("src"), col("src").as("dst"))
    val und = (edgeShape match {
      case "symmetric" => edges.select(col("src"), col("dst"))
      case "canonical" =>
        edges.select(col("src"), col("dst")).unionByName(swapped)
      case _ =>
        edges.select(col("src"), col("dst")).unionByName(swapped)
          .distinct()
    }).transform(Checkpoints(_))
    // each round's priority frame feeds both join sides and the
    // winners; the round's scope releases it
    val st = Rounds.iterate(vertices.select(col("id"), lit(0).as("state")),
        rounds) { (st, r) =>
      val pri = Checkpoints(
        st.where(col("state") === 0)
          .select(col("id"), prio(r, col("id")).as("p")))
      // min (priority, id) over ACTIVE neighbors (both ends active)
      val nb = und
        .join(pri.select(col("id").as("dst"), col("p").as("pd")), "dst")
        .join(pri.select(col("id").as("src")), "src")
        .groupBy(col("src").as("id"))
        .agg(min(struct(col("pd"), col("dst"))).as("mn"))
      val winners = pri.join(nb, Seq("id"), "left")
        .where(col("mn").isNull ||
          struct(col("p"), col("id")) < col("mn"))
        .select(col("id"))
      val excluded = und
        .join(winners.select(col("id").as("src")), "src")
        .select(col("dst").as("id")).distinct()
      // winners and excluded are DISJOINT (two adjacent winners are
      // impossible), so both verdicts ride ONE mark union and one join
      val marks = winners.select(col("id"), lit(1).as("mk"))
        .unionByName(excluded.select(col("id"), lit(-1).as("mk")))
      st.join(marks, Seq("id"), "left")
        .select(col("id"),
          when(col("state") =!= 0, col("state"))
            .otherwise(coalesce(col("mk"), lit(0))).as("state"))
    }(Rounds.fixed)
    st.select(col("id"), col("state").cast("int").as("state"))
  }
}
