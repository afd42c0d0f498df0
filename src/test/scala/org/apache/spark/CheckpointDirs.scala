package org.apache.spark

/** Runs a block under a session checkpoint dir and then restores the
  * context's previous one: `SparkContext` can set a checkpoint dir but not
  * unset it, and the specs share one context. */
object CheckpointDirs {
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
