package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The round loop of the iterative graph operators (PageRank, LabelProp,
  * HITS, SSSP, BFS, k-core, connected components, Luby MIS, k-truss,
  * Louvain) and of PCA's power iteration.
  *
  * The per-round discipline, stated once:
  *   - Every state — `init` and each round's output — is a
  *     [[Checkpoints]] leaf. Without the lineage cut the un-executed
  *     plan of round r would hold round r−1's plan once per read (the
  *     GraphX Pregel pattern), and the measured statistics keep the
  *     join-size estimate from compounding across rounds.
  *   - Each round is a [[Checkpoints]] scope that also owns the state it
  *     replaces: when the next state is materialized, the replaced
  *     state and every checkpoint the round made for itself (Luby's
  *     priorities, k-truss's orientation) are released unless the new
  *     state reads them, so a run holds one round of checkpoint blocks
  *     at a time. The caller's `init` is never released; the returned
  *     state passes to the caller's scope.
  *   - An early exit reads an [[Observation]] on the state's own
  *     checkpoint ([[until]]): no separate `count`, `sum().first` or
  *     `isEmpty` job per round.
  *
  * Three loops keep a hand-written form because a union over every
  * round's frame is read after the last round: [[graph.Anf]]'s hop
  * readouts, [[graph.RandomWalk]]'s step union and
  * [[graph.Centrality]]'s `distSigma`/`brandesTerms` level unions. The
  * scope that encloses each of them frees what its result does not
  * read.
  */
object Rounds {

  /** When a loop may stop before `maxRounds`: `metric`, one aggregate
    * over a state's rows, is observed as each state is checkpointed
    * (`init` included), and the loop stops once
    * `stop(previous, current)` holds (`previous` is None for `init`). */
  final class Until private[Rounds] (private[Rounds] val metric: Option[Column],
      private[Rounds] val stop: (Option[Any], Any) => Boolean)

  /** Run every round. */
  val fixed: Until = new Until(None, (_, _) => false)

  def until(metric: Column)(stop: (Option[Any], Any) => Boolean): Until =
    new Until(Some(metric), stop)

  /** `step(state, round)` for rounds 1..`maxRounds` from `init`, each
    * round a scope that replaces the previous state (see above).
    * @return the last state, a checkpoint leaf */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(converged: Until): DataFrame =
    Checkpoints.scoped {
      def checkpoint(df: DataFrame): (DataFrame, Option[Any]) =
        converged.metric match {
          case Some(m) =>
            val obs = Observation()
            val cp = Checkpoints(df.observe(obs, m.as("metric")))
            (cp, Some(obs.get("metric")))
          case None => (Checkpoints(df), None)
        }
      var (state, value) = checkpoint(init)
      var done = value.exists(converged.stop(None, _))
      var round = 0
      while (!done && round < maxRounds) {
        round += 1
        val (next, v) =
          Checkpoints.replacing(state)(checkpoint(step(state, round)))
        done = v.exists(converged.stop(value, _))
        state = next
        value = v
      }
      state
    }
}
