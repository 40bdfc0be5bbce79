package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** The reference's mutable scalar counter (`plan-joined-count`,
  * `/root/reference/src/plan-server.ts:50-83`) as a 1-row snapshot table:
  * INCR/DECR/SET are read-modify-overwrite, GET defaults a missing table
  * to 0 (matching `plan-server.ts:80-82`).
  *
  * Within one process every operation is atomic, as the reference's
  * Redis INCR/DECR are: get/set/incr/decr hold one lock per qualified
  * path, shared by every `Counter` handle on that path, so concurrent
  * increments are never lost and a get never sees `set`'s overwrite
  * half done. Updates from different processes are NOT synchronized.
  *
  * This is the batch form (§2a rows 10–11); the streaming form — a
  * running aggregate over a ±1 event stream — lives in
  * [[graft.streaming.StreamingOps.runningCounter]] and is the shape that
  * scales (the snapshot overwrite here is inherently serial, which is
  * exactly what the reference's Redis counter was).
  */
final class Counter(spark: SparkSession, path: String) {

  private val lock = Counter.lockFor(spark, path)

  /** One job: the table is always the single row `set` wrote, read with
    * its fixed schema (no footer-inference job, no aggregation). */
  def get(): Long = lock.synchronized {
    import spark.implicits._
    try spark.read.schema("value BIGINT").parquet(path)
      .as[Long].collect().headOption.getOrElse(0L)
    catch { case _: org.apache.spark.sql.AnalysisException => 0L } // absent → 0
  }

  def set(v: Long): Long = lock.synchronized {
    import spark.implicits._
    Seq(v).toDF("value").coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
    v
  }

  def incr(): Long = lock.synchronized(set(get() + 1))
  def decr(): Long = lock.synchronized(set(get() - 1))
}

object Counter {
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  private def lockFor(spark: SparkSession, path: String): AnyRef = {
    val p = new Path(path)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    locks.computeIfAbsent(key, _ => new Object)
  }
}
