package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointShim

/** The superstep loop of the engine's single-state iterative
  * operators (the Pregelix shape: each superstep is a join plus a
  * group-by over the dataflow engine, and one function owns the loop).
  * Each round computes `step(state, round)`, materializes it once, frees
  * the state it replaced and asks `stop(next, round)` whether to end
  * early. The materialization is a `localCheckpoint`, or with
  * `durable = Some(dir)` a committed [[DurableIters]] snapshot of the
  * round; a re-run with the same directory resumes after the highest
  * committed round ≤ `rounds`, so `step` sees only the rounds still owed.
  *
  * Only states `Iterate` materialized are freed. `ownInit = true`
  * checkpoints `init` first and then owns it; `ownInit = false` starts
  * from the caller's frame as is and never frees it — the choice when
  * `init` is lazy on purpose or is a projection over a checkpoint the
  * caller still reads (freeing it would free the caller's blocks). The
  * returned state is the caller's to free.
  *
  * Loops whose state is not one frame replacing the last stay
  * hand-written: [[GraphAlgs.bfs]] and [[GraphAlgs.neighborhoodFunction]]
  * output the union of every frontier, [[GraphAlgs.randomWalks]] and
  * [[GraphAlgs.node2vecWalks]] output every hop,
  * [[GraphAlgs.betweennessFromSeeds]] re-reads its persisted level frames
  * in the backward pass, [[GraphAlgs.hits]] carries two alternating
  * states, and the in-memory [[PageRank.ranks]] stacks every round and
  * checkpoints once (PlanSpec inspects that plan).
  */
object Iterate {

  def apply(init: DataFrame, rounds: Long, durable: Option[String] = None,
      ownInit: Boolean = true)(
      step: (DataFrame, Long) => DataFrame,
      stop: (DataFrame, Long) => Boolean = (_, _) => false): DataFrame = {
    var (round, state, owned) =
      durable.flatMap(DurableIters.latest(init.sparkSession, _, upTo = rounds)) match {
        case Some((k, snapshot)) => (k, snapshot, true)
        case None if ownInit => (0L, init.localCheckpoint(true), true)
        case None => (0L, init, false)
      }
    var done = false
    while (!done && round < rounds) {
      round += 1
      val plan = step(state, round)
      val next = durable.fold(plan.localCheckpoint(true))(DurableIters.save(plan, _, round))
      if (owned) CheckpointShim.freeLocalCheckpointIfAny(state)
      state = next
      owned = true
      done = stop(state, round)
    }
    state
  }
}
