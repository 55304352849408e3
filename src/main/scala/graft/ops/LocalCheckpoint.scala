package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** An eager local checkpoint that can be released.
  *
  * `Dataset.unpersist` frees nothing that `localCheckpoint` stored: the
  * blocks belong to the checkpointed RDD, which no cache entry tracks, so
  * they stay in executor storage until a driver GC lets the
  * ContextCleaner drop them. A per-trigger caller (a streaming batch, an
  * ingest call) would pile every batch's payload up in the meantime.
  */
object LocalCheckpoint {

  /** `ds`, checkpointed eagerly, and a release that unpersists the
    * checkpointed RDD. The frame must not be used after the release.
    */
  def apply[T](ds: Dataset[T]): (Dataset[T], () => Unit) = {
    val pinned = ds.localCheckpoint()
    val rdds = pinned.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    (pinned, () => rdds.foreach(_.unpersist(blocking = false)))
  }
}
