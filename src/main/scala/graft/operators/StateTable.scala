package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed MAINTAINED TABLE — the commit primitive for the
  * incremental tiers' state (the s12 HLL sketch table, the s13 quantile
  * bucket table, any read-merge-publish fold): each publish writes the
  * new state into a FRESH generation directory and claims the next
  * manifest version naming it (via [[ManifestCommit]] — the shared
  * Hadoop-FileSystem commit module, so the store runs against
  * `file://`/`hdfs://` URIs, not just local paths), so
  *
  *   - a reader mid-publish sees the old generation or the new one,
  *     never a half-written overwrite (the plain `mode("overwrite")`
  *     read-merge-overwrite loop deletes files under concurrent
  *     readers);
  *   - the EXACTLY-ONCE stamp rides the same claim: `publish` records
  *     the micro-batch id in the manifest, so "state updated" and
  *     "batch committed" are one atomic event — a redelivered batch is
  *     skipped by reading the stamp back ([[lastBatchId]]). The stamp
  *     means "highest ingest batch APPLIED", not "was the last
  *     mutation a batch": an unstamped publish (a manual fix-up, a
  *     compaction) CARRIES the stamp forward, because the batches it
  *     folded in are still applied — clearing it would let a
  *     redelivered batch through the `exists(_ >= bid)` guard and
  *     double-apply a non-idempotent fold (count sums corrupt; HLL
  *     maxima only tolerate it by accident of idempotence);
  *   - snapshot reads and retention come for free, the same
  *     `MANIFEST.v<N>` + retention-vacuum scheme as [[DedupIndex]] and
  *     [[AnnStore]].
  *
  * The manifest is the one [[ManifestCommit.Record]] codec:
  * `store=state-table`, the generation as `gen=`, and the stamp.
  *
  * This is the [[DedupIndex]]/[[AnnStore]] commit discipline with a
  * whole-table generation instead of segment lists — right for state
  * that each fold REWRITES (merged sketch tables are cell-grained and
  * small); the index tiers keep their segmented form because their data
  * is append-mostly and corpus-sized. Because a publish REPLACES the
  * state wholesale, a lost commit race cannot be list-merged: publish
  * claims exactly one version and throws
  * [[ManifestCommit.CommitConflict]] when another writer got there
  * first — the caller re-reads and re-folds (`expectedVersion` makes
  * the read-state→publish window explicit for callers that want to pin
  * it). The streaming sinks are single-writer per checkpoint, so the
  * conflict path never fires there. */
object StateTable {

  final case class Manifest(version: Long, gen: String, batchId: Option[Long]) {
    private[graft] def record =
      ManifestCommit.Record(version, Store, Map("gen" -> gen), batchId = batchId)
  }

  private val Store = "state-table"

  private def manifest(r: ManifestCommit.Record): Manifest =
    Manifest(r.version, r("gen"), r.batchId)

  def exists(dir: String): Boolean = ManifestCommit.exists(dir)

  def readManifest(dir: String): Manifest = manifest(ManifestCommit.read(dir, Store))

  /** Snapshot manifest of a past publish (retention permitting). */
  def readManifestAt(dir: String, version: Long): Manifest =
    manifest(ManifestCommit.readAt(dir, version, Store))

  /** The highest batch id any committed publish has applied — the
    * exactly-once check: a foreachBatch sink skips a redelivered batch
    * iff `lastBatchId(dir).exists(_ >= bid)` (batch ids are monotone).
    * Survives unstamped publishes in between (see the object doc). */
  def lastBatchId(dir: String): Option[Long] = ManifestCommit.lastBatchId(dir, Store)

  /** The current state. One manifest resolve — the DataFrame keeps
    * seeing its generation even if a publish lands mid-query. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/${readManifest(dir).gen}")

  /** A past state, exactly as committed. */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    spark.read.parquet(s"$dir/${readManifestAt(dir, version).gen}")

  /** Commit a new state: materialize `state` into a fresh generation
    * directory, then claim the next version in one atomic put-if-absent
    * of its manifest. Reading the CURRENT state while computing `state`
    * is safe — the write targets a different directory, so no
    * localCheckpoint fence is needed. Returns the new version.
    *
    * `expectedVersion`: optimistic-concurrency pin — when set, the
    * publish throws [[ManifestCommit.CommitConflict]] unless the store
    * is still at that version, closing the read→fold→publish window
    * against a concurrent writer (whole-state rewrites cannot be
    * merged; the caller must re-read and re-fold). Unset, the publish
    * still claims its version atomically — a concurrent publish makes
    * one of the two writers throw rather than silently dropping the
    * other's state. */
  def publish(
      state: DataFrame,
      dir: String,
      batchId: Option[Long] = None,
      expectedVersion: Option[Long] = None): Long = {
    val cur = ManifestCommit.readOption(dir, Store).map(manifest)
    val curV = cur.map(_.version).getOrElse(0L)
    expectedVersion.foreach { ev =>
      if (curV != ev)
        throw new ManifestCommit.CommitConflict(
          s"state table at $dir is at version $curV, expected $ev — " +
            "re-read and re-fold")
    }
    val v = curV + 1
    val gen = ManifestCommit.uniqueName("gen", v)
    state.write.mode("overwrite").parquet(s"$dir/$gen")
    // stamp = highest batch applied; carried through unstamped publishes
    ManifestCommit.publish(dir,
      Manifest(v, gen, ManifestCommit.mergeStamp(cur.flatMap(_.batchId), batchId)).record)
    v
  }

  /** Drop generations and snapshot manifests outside the retention
    * window. Unreferenced directories younger than `minAgeMs` survive —
    * they may be a concurrent publish's generation, written ahead of
    * its commit (the [[ManifestCommit.vacuum]] in-flight age guard). */
  def vacuum(
      dir: String,
      retainVersions: Int = 0,
      minAgeMs: Long = ManifestCommit.DefaultVacuumMinAgeMs): Unit =
    ManifestCommit.vacuum(dir, Store, retainVersions, minAgeMs)
}
