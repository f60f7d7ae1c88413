package graft.ops

import org.apache.spark.NarrowDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Explicit release of the RDD blocks behind a Dataset. `unpersist` on a
  * `localCheckpoint()`ed Dataset frees nothing: it only drops cache-manager
  * entries, and the blocks belong to the RDD under its `LogicalRDD`. Left
  * alone they stay in the block manager until a driver GC lets the
  * ContextCleaner drop them, so an iterative driver loop releases each
  * step's blocks itself. */
object Checkpoints {

  /** Unpersists, for every RDD leaf of each Dataset's plan, the first
    * persisted RDD on each path of its narrow lineage: the leaf itself for
    * an eager or lazy `localCheckpoint`, the persisted input of a
    * [[Curation.runningOffset]] rank. The walk stops at shuffles, so
    * nothing a leaf's stage merely reads (a cached table upstream) is
    * touched. Call it once every consumer of the Datasets has run. */
  def release(dss: Dataset[_]*): Unit = {
    def firstPersisted(rdd: RDD[_]): Seq[RDD[_]] =
      if (rdd.getStorageLevel != StorageLevel.NONE) Seq(rdd)
      else rdd.dependencies.collect { case d: NarrowDependency[_] => d.rdd }.flatMap(firstPersisted)
    dss.flatMap(_.queryExecution.logical.collectLeaves())
      .collect { case r: LogicalRDD => r.rdd }
      .flatMap(firstPersisted).distinct
      .foreach(_.unpersist(blocking = false))
  }
}
