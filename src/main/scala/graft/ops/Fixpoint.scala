package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** The one skeleton of the iterative DataFrame loops (Graph, Dedup
  * components, the Markov recursions). A `localCheckpoint()` costs a job
  * and cuts the lineage each un-checkpointed round adds to the plan:
  * `every = 4` suits node-sized state read once per round (PageRank,
  * label propagation); `every = 1` suits rounds that read their
  * predecessor several times (every-4th k-core checkpoints re-derived
  * the LSH pair source between them: 36 s at the 3× probe), test
  * convergence, or whose every state is a result (BFS, Markov). A
  * checkpoint drops its physical partitioning (r16: a src-partitioned
  * k-core state read back `UnknownPartitioning`); a persisted asset
  * keeps it.
  *
  * `init` and `assets` are the caller's; `init` is never released. A
  * checkpoint the loop makes is released once the next is materialized,
  * so only the returned state (always a checkpoint) outlives the call.
  * `assets` are released when the loop ends, also when a step throws. */
object Fixpoint {

  /** The last state, and whether `until` ended the loop early. */
  final case class Result(state: DataFrame, converged: Boolean)

  /** Fold `step(state, round)` over rounds 1 to `rounds`, checkpointing
    * at rounds `every`, 2·`every`, … and the last; stop at the first
    * checkpoint that satisfies `until`. */
  def run(init: DataFrame, rounds: Int, every: Int = 1,
      assets: Seq[DataFrame] = Nil,
      until: DataFrame => Boolean = _ => false)(
      step: (DataFrame, Int) => DataFrame): Result = {
    require(rounds >= 1 && every >= 1, s"rounds $rounds, every $every")
    var state = init
    var made: Option[DataFrame] = None // the loop's live checkpoint
    var converged = false
    var round = 0
    try {
      while (!converged && round < rounds) {
        round += 1
        state = step(state, round)
        if (round % every == 0 || round == rounds) {
          state = state.localCheckpoint()
          made.foreach(GraftBridge.release)
          made = Some(state)
          converged = until(state)
        }
      }
      made = None // handed to the caller
      Result(state, converged)
    } finally (assets ++ made).foreach(GraftBridge.release)
  }
}
