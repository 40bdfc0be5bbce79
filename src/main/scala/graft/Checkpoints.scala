package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one lifecycle rule for [[org.apache.spark.sql.Dataset.localCheckpoint]]
  * blocks: a checkpoint lives as long as the frame that reads it.
  *
  *   - A checkpoint the RETURNED frame reads is a plain eager
  *     `localCheckpoint()`. Its RDD is registered with Spark's
  *     `ContextCleaner`, which unpersists the blocks once no frame
  *     referencing them is reachable — so a bench loop's finished
  *     generations are freed by garbage collection, and any number of
  *     frames built from one call site (by one caller or by concurrent
  *     sessions) stay executable until they are dropped.
  *   - A checkpoint only the call itself reads (a loop's previous round,
  *     a pair input once its consumer has materialized, a written
  *     segment's encode) is freed by that call with [[free]] as soon as
  *     its consumer has materialized.
  *
  * A truncated lineage cannot recompute a freed block, so nothing frees a
  * checkpoint that a frame still reachable by a caller reads.
  */
object Checkpoints {
  /** Free the blocks of the checkpoint `df` reads, once no frame that
    * reads it will run again. */
  def free(df: DataFrame): Unit = leaves(df).foreach(_.unpersist(blocking = false))

  /** The checkpoint RDDs under `df`: the Dataset API has no public
    * handle for them, so reach through the analyzed plan's LogicalRDD
    * leaves (public in org.apache.spark.sql.execution). */
  private def leaves(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
