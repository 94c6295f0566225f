package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one loop for iterative DataFrame algorithms: step a state from
  * `init` for at most `cap` rounds, or until the probe is ≤ `tol`. A
  * fixed-round oracle form is the cap with no probe; its converged
  * production twin is the same call with a probe, so each algorithm is
  * one function with two stop rules.
  *
  * Owner rule (probed loops only): once round i's probe action has
  * returned, round i's checkpoint is materialised and round i−1's is
  * dead, so its `localCheckpoint` blocks are unpersisted then instead
  * of waiting for the ContextCleaner. The initial state is never
  * released (it may belong to the caller or a [[SessionMemo]] entry),
  * nor is anything in an unprobed loop, whose rounds are still lazy.
  * Checkpoints taken inside a round stay with the GC. */
object Rounds {

  type Probe[S] = Option[(S, S) => Long]

  /** Steps a single-relation state; returns (final state, rounds run).
    * `probe(prev, next)` is the convergence scalar, computed by an
    * action over `next`. */
  def apply(init: DataFrame, cap: Int, probe: Probe[DataFrame] = None,
      tol: Long = 0L)(step: DataFrame => DataFrame): (DataFrame, Int) =
    run[DataFrame](init, cap, Seq(_), probe, tol)(step)

  /** [[apply]] over any state; `frames` lists its relations, and those
    * that are checkpoints are what the owner rule releases. */
  def run[S](init: S, cap: Int, frames: S => Seq[DataFrame],
      probe: Probe[S], tol: Long)(step: S => S): (S, Int) = {
    var s = init
    var n = 0
    var done = false
    while (!done && n < cap) {
      val next = step(s)
      probe.foreach { p =>
        done = p(s, next) <= tol
        if (n > 0) frames(s).foreach(release)
      }
      s = next
      n += 1
    }
    (s, n)
  }

  /** Unpersist the local checkpoint behind `df`, if it is one. */
  private def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }
}
