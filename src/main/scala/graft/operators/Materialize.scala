package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place a frame's lineage is cut. Iterative operators
  * materialize per-round frames so plans stay flat and upstream work runs
  * once; every such cut goes through here, eagerly, as one job.
  *
  * FAILURE STORY. Local or reliable is decided by Spark's own checkpoint
  * directory (`SparkContext.setCheckpointDir`, or the `spark.checkpoint.dir`
  * conf). Without one, a cut is a `localCheckpoint`: its blocks live only
  * in the block managers, so a lost block or executor fails the query
  * loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), never with a wrong answer.
  * With one, every cut is a `Dataset.checkpoint` into that directory: the
  * same rows, at the cost of writing each cut once and reading its files
  * on every use, and block or executor loss is survived. */
object Materialize {

  /** Cut of a NODE-sized (or smaller) frame, deserialized: these frames
    * are small and re-read constantly. */
  def apply(df: DataFrame): DataFrame = cut(df, None)

  /** Cut of an EDGE-sized (or bigger) frame, SERIALIZED. The default
    * MEMORY_AND_DISK stores deserialized row objects (~3-5x the
    * serialized bytes) and — the real hazard at scale — re-expands any
    * block evicted to disk back into a deserialized array on its next read
    * (BlockManager.maybeCacheDiskValuesInMemory): at 540 M edges that
    * single re-expansion OOMed a 64 g probe JVM even though the serialized
    * bytes fit comfortably. Serialized blocks cost one deserialization pass
    * per read (the graph loops read their edge frame 1-3 times per round)
    * and stay byte-sized in memory and on the disk read-back path. */
  def edges(df: DataFrame): DataFrame =
    cut(df, Some(StorageLevel.MEMORY_AND_DISK_SER))

  private def cut(df: DataFrame, level: Option[StorageLevel]): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else level.fold(df.localCheckpoint(eager = true))(df.localCheckpoint(true, _))

  /** Release every cut `ds`'s analyzed plan reaches: unpersist its blocks
    * and delete its reliable checkpoint files (`Dataset.unpersist` only
    * clears CacheManager entries, so a loop that re-cuts per round would
    * otherwise pin every superseded round for the session's life). No-op
    * on frames that reach no cut. Only for DEAD cuts: the walk covers the
    * WHOLE plan, and a live cut released here fails its next read loudly
    * (block or file not found) — it is never recomputed. */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach(delete(lr.rdd.sparkContext, _))
      case _ => ()
    }

  private def delete(sc: SparkContext, file: String): Unit = {
    val p = new Path(file)
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }

  private def checkpointFiles(sc: SparkContext): Set[String] =
    sc.getCheckpointDir.fold(Set.empty[String]) { dir =>
      val p = new Path(dir)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath)
        .filter(_.getName.startsWith("rdd-")).map(_.toString).toSet
    }

  /** Runs `body`, then releases every persisted RDD and reliable
    * checkpoint it left behind, and nothing that existed before it — for
    * harnesses that run whole queries back to back in one session, where
    * leftover cuts would pile up and a blanket unpersist would make any
    * intentionally shared cache silently recompute. */
  def releasingNew[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val (rdds, files) = (sc.getPersistentRDDs.keySet, checkpointFiles(sc))
    try body
    finally {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!rdds.contains(id)) rdd.unpersist(blocking = false) }
      (checkpointFiles(sc) -- files).foreach(delete(sc, _))
    }
  }
}
