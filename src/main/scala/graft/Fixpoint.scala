package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import org.apache.spark.graft.CheckpointDirAccessor

/** The one driver for the engine's iterative algorithms: both
  * connected-components modes, convergence-mode PageRank and the
  * probe-seeded near-dup closure run their rounds through [[iterate]].
  *
  * A round is one materialization. The step builds the next state and
  * one boolean aggregate over it, `changed`. The driver wraps the
  * step's frame in `observe`, truncates it with an eager checkpoint and
  * reads the flag from that frame's own `queryExecution.observedMetrics`,
  * so the convergence test rides in the round's own jobs instead of a
  * second action.
  *
  * `changed` must be a max or an any-flag (`max(cond)`, `bool_or`),
  * never a count or a sum. Observed metrics are accumulators that the
  * round's tasks fill, and a task or stage that Spark re-runs adds its
  * rows again: a sum could read a retried round as changed, or a
  * shrinking statistic as flat. A max of flags is the same however
  * often a task contributes.
  *
  * The flag is read from `observedMetrics`, not through an
  * `Observation`: `Observation.get` waits for the query-execution
  * listener bus, so one slow listener on the session would stall every
  * round, while the metrics sit in the executed plan as soon as the
  * eager checkpoint returns.
  *
  * The checkpoint also truncates the plan: a step that reads its state
  * twice (a union branch plus a join) would otherwise double its plan
  * every round. Given a `checkpointDir`, the truncation is a reliable
  * `checkpoint` into that shared-storage directory, which survives
  * executor loss, instead of `localCheckpoint`; the session's own
  * checkpoint directory (even an unset one) is put back afterwards.
  */
object Fixpoint {

  /** One round as the step sees it: the current `state` and the
    * round's 1-based `index`. [[checkpoint]] truncates an intermediate
    * the round reads more than once; it is freed as soon as the round's
    * state is materialized. */
  final class Round private[Fixpoint] (val state: DataFrame, val index: Int,
                                       eager: DataFrame => DataFrame) {
    private var scoped = List.empty[DataFrame]

    def checkpoint(df: DataFrame): DataFrame = {
      val c = eager(df)
      scoped ::= c
      c
    }

    private[Fixpoint] def release(): Unit = scoped.foreach(SessionCaches.free)
  }

  private val Flag = "fixpoint.changed"

  /** Run `step` from `init` until a round reports no change or
    * `maxIters` rounds have run. `init` is truncated first; the state
    * keeps its columns, so a step's frame may carry extra columns for
    * its flag to read, which are dropped before the checkpoint. A round
    * whose frame is empty has a null flag and counts as converged.
    *
    * No round outlives its successor: each superseded state (the
    * truncated `init` included) is freed through [[SessionCaches.free]]
    * as soon as the next one is materialized, which in reliable mode
    * also deletes its checkpoint files. The returned state is the
    * caller's to free, converged or not.
    *
    * @return the last state, the number of rounds run, and whether the
    *         last round changed nothing
    */
  def iterate(init: DataFrame, maxIters: Int, checkpointDir: Option[String] = None)
             (step: Round => (DataFrame, Column)): (DataFrame, Int, Boolean) = {
    val columns = init.columns.toSeq.map(col)
    withCheckpointDir(init.sparkSession.sparkContext, checkpointDir) {
      val eager = truncation(checkpointDir)
      var state = eager(init)
      var rounds = 0
      var changed = true
      while (changed && rounds < maxIters) {
        rounds += 1
        val round = new Round(state, rounds, eager)
        state = try {
          val (next, flag) = step(round)
          val kept = next.observe(Flag, flag).select(columns: _*)
          val materialized = eager(kept)
          changed = kept.queryExecution.observedMetrics.get(Flag)
            .exists(row => !row.isNullAt(0) && row.getBoolean(0))
          materialized
        } finally {
          round.release()
          SessionCaches.free(state)
        }
      }
      (state, rounds, !changed)
    }
  }

  /** One eager truncation of `df` outside a loop, with [[iterate]]'s
    * checkpoint-directory scoping. */
  def truncate(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    withCheckpointDir(df.sparkSession.sparkContext, checkpointDir) {
      truncation(checkpointDir)(df)
    }

  private def truncation(checkpointDir: Option[String]): DataFrame => DataFrame =
    if (checkpointDir.isDefined) _.checkpoint(true) else _.localCheckpoint(true)

  /** Run `body` with the global checkpoint directory set to
    * `checkpointDir`, then put the session's own setting back, so the
    * override never leaks to other users of a shared session. */
  private def withCheckpointDir[A](sc: SparkContext, checkpointDir: Option[String])
                                  (body: => A): A = {
    val prior = CheckpointDirAccessor.get(sc)
    checkpointDir.foreach(sc.setCheckpointDir)
    try body
    finally CheckpointDirAccessor.restore(sc, prior)
  }
}
