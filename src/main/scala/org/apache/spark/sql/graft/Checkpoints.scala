package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releasing what an iterative operator persisted with `localCheckpoint()`. */
object Checkpoints {

  /**
   * Release a `localCheckpoint()`ed frame's blocks. `Dataset.unpersist()` goes through
   * the CacheManager, which never holds a checkpoint, so on one it does nothing; the
   * blocks belong to the persisted RDD under the frame's `LogicalRDD`. Non-blocking:
   * the caller must not read `ckpt` afterwards, nor any frame that reads it without a
   * checkpoint of its own in between. Goes through the SparkContext rather than
   * `RDD.unpersist`, which logs a warning for every locally checkpointed RDD — once
   * per round of every iterative operator here.
   */
  def release(ckpt: DataFrame): Unit = ckpt.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
    case _             =>
  }
}
