package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.checkpointDir` is `private[spark]`, so restoring it
  * (including back to None) after a scoped override needs an accessor
  * inside the `org.apache.spark` namespace. Used by [[graft.Fixpoint]]
  * to keep a loop's reliable-mode checkpoint directory from leaking
  * into global session state for every other user of a shared
  * SparkSession: the public
  * `setCheckpointDir` can only ever SET, never unset. */
object CheckpointDirAccessor {

  def get(sc: SparkContext): Option[String] = sc.checkpointDir

  /** Restore a previously-read value verbatim — unlike
    * `setCheckpointDir` this can put back None and does not create
    * directories as a side effect. */
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
