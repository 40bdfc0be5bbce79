package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session-scoped METADATA cache for immutable store directories — the
  * manifest-table answer to repeated directory listings (optimization
  * guide §6: "table formats with manifest metadata avoid directory
  * listing altogether").
  *
  * Every persisted-tier read ([[DedupIndex.readBands]],
  * [[AnnStore.postings]]/[[AnnStore.centroids]]) used to call
  * `spark.read.parquet` afresh, and each call re-ran partition
  * discovery over the store's directories — a 256-task "Listing leaf
  * files" job (~0.5 s at local scale, a paginated LIST per segment on
  * an object store) per read of a file set that is IMMUTABLE by the
  * commit protocol's own contract: segments, tombstones, meta, centroid
  * and codebook generations are written once under UUID-suffixed names
  * and never modified (mutations commit fresh directories plus a
  * manifest commit).
  *
  * Keys are PER DIRECTORY ([[directory]]): each segment or tombstone
  * directory resolves once, under its own path, and the stores union
  * the cached per-directory relations for whatever list a manifest
  * names. A commit therefore costs a reader exactly the listing of the
  * directories it added — the segments an earlier generation already
  * resolved are reused as they are.
  *
  * What this caches is FILE METADATA, plan resolution and small index
  * parameters only ([[scalar]]): every query still scans the parquet
  * bytes itself (no result or data caching — re-running a query
  * re-reads the files). Keys embed the session's UUID (plans are
  * session-bound, and a UUID, unlike an identity hash, is never reused
  * by a later session) and the full directory path, whose UUID'd
  * generation name makes a rebuild into the same store path miss the
  * stale entry. Bounded LRU of [[MaxEntries]] per kind, shared by every
  * store and session in the process; evicted entries simply re-list on
  * next use. The bound counts DIRECTORIES, and a reader resolves a
  * store's directories in the same order on every read, so once the
  * live directories of all open stores exceed it, LRU order evicts
  * each one before its next use and every read re-lists everything.
  * Nothing compacts automatically and every append adds a segment, so
  * [[DedupIndex.compact]] / [[Similarity.compactIvfIndex]] must run
  * before a process's live segment and tombstone count nears the
  * bound; an entry is a resolved relation (its file listing), not
  * data, so the bound sits far above a compacted store's directory
  * count. Vacuumed directories age out of the manifest first, so a cached
  * frame can only outlive its files if a caller holds it across its own
  * retention window — the same loud FileNotFoundException contract as
  * an uncached snapshot read.
  */
private[graft] object GenerationCache {
  private[graft] val MaxEntries = 4096

  private final class Lru[V] extends java.util.LinkedHashMap[String, V](32, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      size() > MaxEntries
  }

  private val frames = new Lru[DataFrame]
  private val scalars = new Lru[AnyRef]

  private def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.graftbridge.SessionBridge.uuid(spark)

  /** The resolved relation of ONE immutable directory — a segment,
    * tombstone, centroid or codebook generation. A directory this
    * session wrote resolves with the schema its writer recorded
    * ([[written]]): parquet schema inference reads a footer in a Spark
    * job, which the first read after every commit would otherwise pay. */
  def directory(spark: SparkSession, path: String): DataFrame =
    cached(frames, spark, path) {
      val schema = scalars.synchronized(Option(scalars.get(key(spark, s"schema|$path"))))
      schema.fold(spark.read)(s => spark.read.schema(s.asInstanceOf[StructType])).parquet(path)
    }

  /** Record the file schema of the fresh directory `path`, just written
    * by this session ([[Segments.write]]). */
  def written(spark: SparkSession, path: String, schema: StructType): Unit =
    scalar(spark, s"schema|$path")(schema): Unit

  /** A small driver-side value derived from an immutable generation set
    * (a row count for wave sizing, a decoded parameter table). Same
    * immutability argument as [[directory]]; never query results. */
  def scalar[T <: AnyRef](spark: SparkSession, key: String)(make: => T): T =
    cached(scalars, spark, key)(make).asInstanceOf[T]

  private def key(spark: SparkSession, k: String): String = sessionKey(spark) + "|" + k

  private def cached[V](lru: Lru[V], spark: SparkSession, k0: String)(make: => V): V = {
    val k = key(spark, k0)
    lru.synchronized { Option(lru.get(k)) } match {
      case Some(v) => v
      case None =>
        val v = make
        lru.synchronized { lru.put(k, v) }
        v
    }
  }
}
