package org.apache.spark

import java.nio.file.Files

import org.apache.spark.util.Utils

/** The only way a spec sets the checkpoint directory. The test session is
  * shared and `SparkContext` has no public way to unset the directory, so a
  * directory left set would switch every later spec's cuts to reliable
  * checkpoints; this clears it (and deletes it) however `body` ends. */
object CheckpointDirProbe {
  /** Runs `body` with a fresh checkpoint directory set on `sc`, passing
    * the directory Spark writes `rdd-<id>` checkpoints into. */
  def withDir[T](sc: SparkContext)(body: String => T): T = {
    val root = Files.createTempDirectory("graft_ck_").toFile
    sc.setCheckpointDir(root.getPath)
    try body(new java.net.URI(sc.getCheckpointDir.get).getPath)
    finally {
      sc.checkpointDir = None
      Utils.deleteRecursively(root)
    }
  }
}
