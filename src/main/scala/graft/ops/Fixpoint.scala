package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.PlanBridge

/** The one driver for the library's iterative algorithms (connected
  * components, the PageRanks, HITS, k-core, shortest paths, BFS and
  * the BPE merge loop) — Spark SQL's model of an iteration as one
  * DataFrame plan per round, driven from the driver. It owns:
  *
  *  - round materialization: each round's frame is eagerly
  *    `localCheckpoint`ed, re-wrapped as a fresh-statistics leaf
  *    ([[PlanBridge.freshLeaf]]: a plain checkpoint copies the source
  *    plan's estimates, which compound round over round until planning
  *    drowns in BigInt arithmetic), and the previous round's blocks are
  *    freed. Without the checkpoint an iterated self-join doubles the
  *    logical plan per round;
  *  - the round cap and count;
  *  - convergence: a round's progress signal is an aggregate over its
  *    own output, observed (`Dataset.observe`) by the checkpoint job
  *    itself, so no round pays a second action to ask whether anything
  *    changed. A retried task can only over-count the signal and only a
  *    value `≤ tol` (an exact zero for counts) ends a run, so a retry can
  *    add a round but never end one early. A null signal (say, the L1
  *    delta against a state with no previous vector) ends nothing.
  *
  * Checkpoint blocks live on the executors: on a cluster with dynamic
  * allocation, set a reliable checkpoint dir and swap `localCheckpoint`
  * for `checkpoint` here — executor loss discards local checkpoint
  * blocks.
  */
object Fixpoint {

  /** A finished run: the last round's materialized state (registered
    * with [[CacheScope]]), the rounds stepped after the initial state,
    * and whether the signal reached `tol`. */
  final case class Run(state: DataFrame, rounds: Int, converged: Boolean)

  /** Eagerly materialize `df` as a fresh-statistics leaf (one action).
    * The caller owns the blocks: [[free]] them or register the leaf. */
  def materialize(df: DataFrame): DataFrame =
    PlanBridge.freshLeaf(df.localCheckpoint(eager = true))

  /** [[materialize]], also returning the aggregate `signal` over `df`'s
    * rows as observed by that same action (None when it is null). */
  def materialize(df: DataFrame, signal: Column): (DataFrame, Option[Double]) = {
    val observed = df.observe("fixpoint", signal)
    val leaf = materialize(observed)
    val v = observed.queryExecution.observedMetrics("fixpoint").get(0)
    (leaf, Option(v).map(_.asInstanceOf[Number].doubleValue))
  }

  /** Drop the blocks behind a leaf [[materialize]] returned. */
  def free(leaf: DataFrame): Unit = CacheScope.freeCheckpointBlocks(leaf)

  /** Materialize `init`, then `step(state, round)` for round = 1, 2, …
    * until the round's `signal` is `≤ tol` or `maxRounds` rounds have
    * run. With no signal the run is exactly `maxRounds` rounds and
    * never converged. `init` is measured too: a state that is already
    * a fixpoint runs no round. */
  def run(init: DataFrame, maxRounds: Int, signal: Option[Column],
          tol: Double = 0.0)(step: (DataFrame, Int) => DataFrame): Run = {
    def round(df: DataFrame): (DataFrame, Boolean) = signal match {
      case Some(s) =>
        val (leaf, v) = materialize(df, s)
        (leaf, v.exists(_ <= tol))
      case None => (materialize(df), false)
    }
    var (state, done) = round(init)
    var rounds = 0
    while (!done && rounds < maxRounds) {
      rounds += 1
      val (next, d) = round(step(state, rounds))
      free(state)
      state = next
      done = d
    }
    Run(CacheScope.register(state), rounds, done)
  }
}
