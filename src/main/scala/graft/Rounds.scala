package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Observation}

/** The round loop of the iterative graph operators (PageRank, LabelProp,
  * HITS, SSSP, BFS, k-core, connected components, Luby MIS, k-truss,
  * Louvain) and of PCA's power iteration: one place that owns each
  * round's checkpoint and its release.
  *
  * The per-round discipline, stated once:
  *   - Every state — `init` and each round's output — is eagerly
  *     checkpointed through [[GraftSqlShims.localCheckpointFreshStats]].
  *     Without the lineage cut the un-executed plan of round r would
  *     hold round r−1's plan once per read (the GraphX Pregel pattern),
  *     and the fresh measured statistics keep the join-size estimate
  *     from compounding across rounds.
  *   - Once the next state is materialized, the state it replaces is
  *     released (`releaseCheckpoint`, blocking), so a run holds one
  *     round of checkpoint blocks at a time instead of every round's
  *     until a GC lets the ContextCleaner run. Only checkpoints made
  *     here are released: never the caller's `init`, never the state
  *     returned.
  *   - An early exit reads an [[Observation]] on the state's own
  *     checkpoint ([[until]]): no separate `count`, `sum().first` or
  *     `isEmpty` job per round.
  *
  * Frames a loop checkpoints for itself outside the state (edge or spine
  * frames, per-round scratch such as Luby's priorities) are the loop's
  * to release before it returns, unless its result reads them.
  *
  * Three loops keep a hand-written form because a union over every
  * round's frame is read after the last round, so no round can be
  * released early: [[graph.Anf]]'s hop readouts (its frames are
  * released once that union is checkpointed), [[graph.RandomWalk]]'s
  * step union and [[graph.Centrality]]'s `distSigma`/`brandesTerms`
  * level unions.
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
    * state checkpointed and the replaced one released (see above).
    * @return the last state, a checkpoint leaf */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(converged: Until): DataFrame = {
    def checkpoint(df: DataFrame): (DataFrame, Option[Any]) =
      converged.metric match {
        case Some(m) =>
          val obs = Observation()
          val cp = GraftSqlShims.localCheckpointFreshStats(
            df.observe(obs, m.as("metric")))
          (cp, Some(obs.get("metric")))
        case None => (GraftSqlShims.localCheckpointFreshStats(df), None)
      }
    var (state, value) = checkpoint(init)
    var done = value.exists(converged.stop(None, _))
    var round = 0
    while (!done && round < maxRounds) {
      round += 1
      val (next, v) = checkpoint(step(state, round))
      GraftSqlShims.releaseCheckpoint(state)
      done = v.exists(converged.stop(value, _))
      state = next
      value = v
    }
    state
  }
}
