package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Scoped reliable-checkpoint posture for specs. `SparkContext` has no
  * public way to unset a checkpoint directory, so the previous one (often
  * none) is put back through the `private[spark]` field.
  */
object CheckpointDirs {
  def withDir[A](sc: SparkContext, dir: String)(body: => A): A = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
