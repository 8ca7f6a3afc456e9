package org.apache.spark

/** Write access to the context's checkpoint dir, which Spark keeps
  * package-private: `setCheckpointDir` has no inverse and always creates a
  * fresh subdirectory, so a test that sets a dir on the shared context
  * restores the previous value (usually `None`) through here. */
object CheckpointDirAccess {
  def restore(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
