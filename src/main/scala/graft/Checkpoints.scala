package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Rotation registry for [[org.apache.spark.sql.Dataset.localCheckpoint]]
  * blocks that must OUTLIVE the function that created them.
  *
  * A query builder like l28 checkpoints its exact-dedup output because six
  * downstream branches re-read it; the returned DataFrame references those
  * blocks, so the builder cannot free them before returning. But the
  * blocks are only needed until the NEXT invocation of the same query
  * builds its own checkpoint — in a bench loop (warm-up + timed run ×
  * 29 queries) the un-freed generations otherwise accumulate in the
  * storage pool and turn into GC pressure: the same sf0.1 pipeline
  * measured anywhere from 12.7 s to 160 s run-to-run before this and the
  * heap fix, with single-task stages stalling 30–120 s in collector
  * pauses.
  *
  * `rotate(key, df)` checkpoints `df`, frees the blocks registered under
  * `key` by the PREVIOUS call, and registers the new ones. Keys are
  * per-call-site constants, so each query keeps exactly one live
  * checkpoint generation per site.
  */
object Checkpoints {
  /** Default generations retained per key. 2, not 1: parity specs
    * routinely build BOTH sides of an A/B comparison (direct path vs
    * index path) before executing either — depth-1 rotation would free
    * blocks the not-yet-executed side still needs, and a
    * localCheckpoint's truncated lineage cannot recompute them. Depth 2
    * keeps every build-build-execute-execute pattern sound while still
    * bounding the storage pool.
    *
    * THE CALLER CONTRACT (per key, process-wide — keys are global, so
    * it spans every query that shares the call site): at most `depth`
    * DataFrames referencing the same key may be un-executed when the
    * (depth+1)-th build under that key happens — eviction frees blocks
    * whose truncated lineage CANNOT be recomputed, so a still-pending
    * older frame would fail with a missing-block error at execution. A
    * caller that builds more variants up front before executing any
    * (e.g. a sweep spec constructing k query shapes) must pass a
    * matching `depth`. Evictions log the key + RDD ids at debug level
    * so a later missing-block crash is attributable to its eviction. */
  val DefaultDepth = 2

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  private val live = new java.util.concurrent.ConcurrentHashMap[
    String, List[Seq[org.apache.spark.rdd.RDD[_]]]]()

  private def push(key: String, rdds: Seq[org.apache.spark.rdd.RDD[_]],
                   depth: Int): Unit = {
    require(depth >= 1, s"checkpoint rotation depth must be >= 1, got $depth")
    val evicted = live.synchronized {
      val gens = rdds :: Option(live.get(key)).getOrElse(Nil)
      val (keep, drop) = gens.splitAt(depth)
      live.put(key, keep)
      drop
    }
    if (evicted.nonEmpty && logger.isDebugEnabled)
      logger.debug(s"evicting checkpoint generation(s) under '$key': rdds " +
        evicted.flatten.map(_.id).mkString("[", ",", "]") +
        s" (depth $depth) — any still-unexecuted frame built from them will fail")
    evicted.flatten.foreach(_.unpersist(blocking = false))
  }

  /** The ids of every checkpoint RDD still registered, under any key —
    * a call that registered a new generation changes this set. */
  private[graft] def liveIds: Set[Int] = live.synchronized {
    live.values().toArray(Array.empty[List[Seq[org.apache.spark.rdd.RDD[_]]]])
      .iterator.flatMap(_.flatten).map(_.id).toSet
  }

  /** Eagerly checkpoint `df`; evict generations beyond `depth` under
    * `key`. See the [[DefaultDepth]] caller contract. */
  def rotate(key: String, df: DataFrame, depth: Int = DefaultDepth): DataFrame =
    adopt(key, df.localCheckpoint(), depth)

  /** Register an ALREADY-checkpointed frame under `key`, evicting stale
    * generations — for checkpoints built inside operators that manage
    * their own intermediate lifecycle (e.g. the iterative
    * label-propagation loop, which frees per-round checkpoints itself
    * but must hand its final labels to the caller). See the
    * [[DefaultDepth]] caller contract. */
  def adopt(key: String, ck: DataFrame, depth: Int = DefaultDepth): DataFrame = {
    push(key, leaves(ck), depth)
    ck
  }

  /** Free the blocks of the checkpoint `df` reads, once no frame that
    * reads it will run again — for checkpoints an operator manages
    * itself (per-round loop tables, a written segment's encode). */
  def free(df: DataFrame): Unit = leaves(df).foreach(_.unpersist(blocking = false))

  /** The checkpoint RDDs under `df`: the Dataset API has no public
    * handle for them, so reach through the analyzed plan's LogicalRDD
    * leaves (public in org.apache.spark.sql.execution). */
  private def leaves(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
