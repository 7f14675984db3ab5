package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` storage (r18, guide §5).
  *
  * `spark.catalog.clearCache()` does NOT free localCheckpoint blocks —
  * they are RDD storage, reclaimed only when the ContextCleaner notices
  * the dead RDD after a driver GC (ADVICE r17). Inside an ITERATIVE loop
  * that is too late by construction: round N+1's checkpoint is written
  * while round N's blocks are still strongly referenced by the loop
  * variable, so a K-round loop holds K live copies of the (largest)
  * relation where one would do. At 100 TB each round's edge/label/rank
  * table is cluster-storage-sized, so the loops below release round N−1
  * explicitly the moment round N is materialized.
  *
  * Safety contract: a localCheckpoint truncates lineage, so a released
  * Dataset must never be computed again — callers only release a
  * checkpoint AFTER its sole successor (the next round's checkpoint) is
  * eagerly materialized, and never release the value they return.
  */
private[graft] object Ckpt {

  /** Free the storage blocks behind an (already materialized) eager
    * `localCheckpoint` Dataset. Only a plan whose ROOT is the checkpointed
    * RDD is released: a composite plan (a join or projection over one or
    * more checkpoints) reads checkpoints that other Datasets still own, so
    * it is left alone and the skip is logged. Non-blocking: removal
    * proceeds asynchronously.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case other =>
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"Ckpt.release: plan root is ${other.nodeName}, not a checkpoint; nothing released")
  }
}
