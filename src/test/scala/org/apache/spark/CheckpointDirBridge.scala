package org.apache.spark

/** Sets the application's checkpoint dir for the span of a test body and
  * restores the previous value afterwards. Spark can set the dir
  * (`setCheckpointDir`) but has no public way to unset it, and a dir left
  * set would switch every later spec's lineage cuts to reliable checkpoints.
  */
object CheckpointDirBridge {
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val previous = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = previous
  }
}
