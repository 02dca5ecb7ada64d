package org.apache.spark

/** Runs a body under a session checkpoint dir, then unsets it again.
  * `SparkContext` has no public way to clear the dir once set, and a dir
  * left behind would turn every later materialization in the shared test
  * session into a reliable checkpoint; the setter is `private[spark]`,
  * hence this package. */
object CheckpointDirs {
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = SparkContext.getActive.getOrElse(
      throw new IllegalStateException("no active SparkContext"))
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = None
  }
}
