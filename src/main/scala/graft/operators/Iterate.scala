package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{col, max}

/** One loop for every DataFrame iteration: connected components,
  * PageRank, Lloyd k-means, power iteration, MMR and BPE all hand it a
  * plan step and a round policy. Each round composes plan; the only
  * work it runs on the spot is the eager `localCheckpoint` that cuts
  * lineage.
  *
  *  - [[rounds]] runs a fixed count, cutting after every k-th round
  *    (k = 0 never cuts: the whole chain stays one lazy plan).
  *  - [[untilStable]] cuts every round. The step also yields a boolean
  *    change column, aggregated through `Dataset.observe` inside that
  *    round's checkpoint — Pregel's superstep-with-aggregator shape
  *    (Malewicz et al., SIGMOD 2010) — so the convergence check runs no
  *    job of its own. A state still changing after `maxRounds` is never
  *    returned as an answer: `untilStable` throws instead.
  */
object Iterate {

  /** `n` rounds of `step(state, round)`, rounds numbered from 1; the
    * state is checkpointed after every `checkpointEvery`-th round
    * (0 = never). */
  def rounds(init: DataFrame, n: Int, checkpointEvery: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(init, n, checkpointEvery, None)(step)._1

  /** `step` until its boolean `changed` column is false (or null) on
    * every row, at most `maxRounds` times; the returned state drops
    * `changed`. Throws IllegalStateException, naming `what`, when the
    * last allowed round still changed something. */
  def untilStable(init: DataFrame, changed: String, maxRounds: Int,
      what: String)(step: DataFrame => DataFrame): DataFrame = {
    val (state, stable) =
      loop(init, maxRounds, 1, Some(changed))((st, _) => step(st))
    if (!stable) throw new IllegalStateException(
      s"$what did not converge within $maxRounds rounds")
    state
  }

  private def loop(init: DataFrame, maxRounds: Int, checkpointEvery: Int,
      changed: Option[String])(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    var state = init
    var stable = false
    var round = 0
    while (!stable && round < maxRounds) {
      round += 1
      val next = step(state, round)
      state = changed match {
        case Some(c) =>
          val seen = Observation()
          val cut = next.observe(seen, max(col(c)).as(c)).localCheckpoint()
          stable = seen.get(c) != true
          cut.drop(c)
        case None if checkpointEvery > 0 && round % checkpointEvery == 0 =>
          next.localCheckpoint()
        case None => next
      }
    }
    (state, stable)
  }
}
