package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** The one loop of every operator that materializes a state per round:
  * the iterative graph operators (PageRank, LabelProp, HITS, SSSP, BFS,
  * k-core, connected components, Luby MIS, k-truss, Louvain, ANF,
  * random walks, the Brandes passes), PCA's power iteration, the ALS,
  * BPE/WordPiece and unigram-LM training loops, MMR re-ranking, the
  * PACF recursion and isotonic PAV.
  *
  * The per-round discipline, stated once:
  *   - The state is any value a [[Checkpoints]] scope walks: a
  *     DataFrame, or a tuple, option or collection of them. Every frame
  *     a round's state keeps is a [[Checkpoints]] leaf. Without the
  *     lineage cut the un-executed plan of round r would hold round
  *     r−1's plan once per read (the GraphX Pregel pattern), and the
  *     measured statistics keep the join-size estimate from compounding
  *     across rounds.
  *   - Each round is a [[Checkpoints]] scope that also owns the state it
  *     replaces: when the next state is materialized, the replaced
  *     state and every checkpoint the round made for itself (Luby's
  *     priorities, k-truss's orientation, the unigram E-step's scored
  *     vocabulary) are released unless the new state reads them, so a
  *     run holds one round of checkpoint blocks at a time. A loop whose
  *     result is a union over every round keeps those frames in its
  *     state ([[accumulate]]), and the same rule keeps them because the
  *     state reads them. The caller's `init` is never released; the
  *     returned state passes to the caller's scope.
  *   - An early exit reads an [[Observation]] on the state's own
  *     checkpoint ([[until]]): no separate `count`, `sum().first` or
  *     `isEmpty` job per round.
  */
object Rounds {

  /** When a loop may stop before `maxRounds`: `metric`, one aggregate
    * over a state's rows, is observed as each state is checkpointed,
    * and the loop stops once `stop(previous, current)` holds
    * (`previous` is None when the state before had no observation). */
  final class Until private[Rounds] (private[Rounds] val metric: Option[Column],
      private[Rounds] val stop: (Option[Any], Any) => Boolean)

  /** Run every round. */
  val fixed: Until = new Until(None, (_, _) => false)

  def until(metric: Column)(stop: (Option[Any], Any) => Boolean): Until =
    new Until(Some(metric), stop)

  /** `step(state, round)` for rounds 1..`maxRounds` from `init`, each
    * round's frame checkpointed with `converged`'s metric observed.
    * `init` is checkpointed (and observed) too, unless it already is a
    * checkpoint leaf: a copy would only re-store its blocks, so such an
    * init stays the caller's and has no observation.
    * @return the last state, a checkpoint leaf */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(converged: Until): DataFrame = {
    def checkpoint(df: DataFrame): (DataFrame, Option[Any]) =
      converged.metric match {
        case Some(m) =>
          val obs = Observation()
          val cp = Checkpoints(df.observe(obs, m.as("metric")))
          (cp, Some(obs.get("metric")))
        case None => (Checkpoints(df), None)
      }
    loop(init.queryExecution.analyzed match {
        case _: LogicalRDD => (init, None)
        case _ => checkpoint(init)
      }, maxRounds, converged)((state, round) =>
      checkpoint(step(state, round)))
  }

  /** `step(state, round)` for every round 1..`rounds` from `init`, over
    * any state: the step checkpoints the frames it makes, and `init`
    * is used as it is.
    * @return the last state */
  def fold[S](init: S, rounds: Int)(step: (S, Int) => S): S =
    loop((init, None), rounds, fixed)((state, round) =>
      (step(state, round), None))

  /** [[fold]] whose rounds each also emit an output that is read after
    * the last round (a union over every round's frame): the outputs
    * ride in the state, so each round's scope keeps them.
    * @return the last state and the outputs of rounds 1..`rounds` */
  def accumulate[S, O](init: S, rounds: Int)(
      step: (S, Int) => (S, O)): (S, Seq[O]) =
    fold((init, Vector.empty[O]), rounds) { case ((state, outs), round) =>
      val (next, out) = step(state, round)
      (next, outs :+ out)
    }

  private def loop[S](init: => (S, Option[Any]), maxRounds: Int,
      converged: Until)(round: (S, Int) => (S, Option[Any])): S =
    Checkpoints.scoped {
      var (state, value) = init
      var done = value.exists(converged.stop(None, _))
      var r = 0
      while (!done && r < maxRounds) {
        r += 1
        val (next, v) = Checkpoints.replacing(state)(round(state, r))
        done = v.exists(converged.stop(value, _))
        state = next
        value = v
      }
      state
    }
}
