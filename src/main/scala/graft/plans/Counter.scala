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

  private val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualified = fs.makeQualified(new Path(path))
  private val lock = Counter.locks.computeIfAbsent(qualified.toString, _ => new Object)

  /** One job: the table is always the single row `set` wrote, read with
    * its fixed schema (no footer-inference job, no aggregation). An
    * absent table reads as 0 with no job: the path is checked first, so
    * Spark never logs its missing-path WARN and stack trace. */
  def get(): Long = lock.synchronized {
    import spark.implicits._
    if (!fs.exists(qualified)) 0L
    else try spark.read.schema("value BIGINT").parquet(path)
      .as[Long].collect().headOption.getOrElse(0L)
    // deleted by another process between the check and the read
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }
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
}
