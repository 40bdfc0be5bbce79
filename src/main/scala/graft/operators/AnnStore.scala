package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-manifest commits for the persisted ANN index tier — the
  * [[DedupIndex]] commit discipline applied to the vector indexes
  * ([[Similarity.buildIvfIndex]] / [[Similarity.buildPqIndex]] and
  * their append/delete/compact maintenance ops).
  *
  * Layout under an index `dir`:
  *   - `MANIFEST.v<N>` — one small immutable text file per committed
  *     version, in the one [[ManifestCommit.Record]] codec
  *     (`store=ann-index`): the version, the `cent=` centroid
  *     generation, the optional `codebooks=` generation (PQ), the live
  *     posting SEGMENT and TOMBSTONE directories, the per-cell vector
  *     counts (`counts=`, `cell:n` pairs) and the ingest stamp. The
  *     newest one is the CURRENT state. Every mutation writes its data
  *     into FRESH directories and then claims the next version in one
  *     atomic put-if-absent — a reader resolves the manifest once and
  *     sees exactly one generation, never a half-written mix (the
  *     object-store commit shape: the Delta log; on S3 the claim is a
  *     conditional PUT of the version object).
  *   - `seg_<v>_<hex>/` — posting segments in the one [[Segments]]
  *     layout: plain files sorted by (`cell`, `vec_id`), each cell in
  *     exactly one file, `cell` a plain last column. Segments written in
  *     the former `cell=<c>/` layout resolve to the same columns and
  *     stay readable without a reader branch until the next compact.
  *   - `cent_<v>_<hex>/` — the centroid table (cell, centroid, cnorm,
  *     nshards), written once by the build. Every column is fixed for
  *     the index's life; the counts that appends and deletes change
  *     ride the manifest instead, so no mutation rewrites this table.
  *   - `cb_<v>_<hex>/` — PQ codebook generations (immutable after build —
  *     appends reuse them bit-identically).
  *   - `del_<v>_<hex>/` — tombstones: one `vec_id` column, the ids a delete
  *     removed, in the same [[Segments]] layout. Readers drop them with a broadcast anti-join (skipped
  *     entirely when no tombstones exist, keeping the fresh-index plan
  *     byte-identical to the pre-manifest one); [[Similarity
  *     .compactIvfIndex]] materializes them and clears the list.
  *
  * Concurrency (same discipline as [[DedupIndex]]): append deltas
  * commute — a segment joins the list and its per-cell counts add, and
  * a lost version claim re-applies the same delta to the winner
  * ([[ManifestCommit.commitDelta]]; two interleaved appends both land
  * with posting-exact counts, spec-pinned with real threads). A delete
  * recomputes its tombstone and counts against the winner, and a
  * compact merges a racing append or delete
  * ([[ManifestCommit.commitCompact]]); a build throws
  * [[ManifestCommit.CommitConflict]] on a race. A tombstoned id stays
  * suppressed until a compact clears the tombstone list, so re-ingesting
  * a previously deleted id requires a compact first — ENFORCED by the
  * appends' tombstone-intersection guard, not just documented. */
object AnnStore {

  /** `counts`: live vectors per cell (cells with none are absent).
    * `batchId`: the exactly-once ingest stamp — the highest ingest batch
    * APPLIED, riding the same atomic version claim as the batch's
    * effects, so a streaming embedding sink skips a redelivered batch
    * via [[lastBatchId]]; carried forward through unstamped mutations
    * (delete, compact). */
  final case class Manifest(
      version: Long,
      cent: String,
      codebooks: Option[String],
      segments: Seq[String],
      tombstones: Seq[String],
      batchId: Option[Long] = None,
      counts: Map[Int, Long] = Map.empty) {
    private[graft] def record = ManifestCommit.Record(version, Store,
      Map("cent" -> cent) ++ codebooks.map("codebooks" -> _),
      segments, tombstones, counts, batchId)
  }

  private[operators] val Store = "ann-index"

  private def manifest(r: ManifestCommit.Record): Manifest =
    Manifest(r.version, r("cent"), r.own.get("codebooks"), r.segments,
      r.tombstones, r.batchId, r.counts)

  /** Does `dir` hold a committed index? (One listing.) */
  def exists(dir: String): Boolean = ManifestCommit.exists(dir)

  /** Resolve the current manifest — one small driver-side read; the
    * 100 TB analog is one LIST of the manifest prefix and one GET. */
  def read(dir: String): Manifest = manifest(ManifestCommit.read(dir, Store))

  /** Resolve a PAST committed state (snapshot read / time travel) —
    * every publish also writes an immutable `MANIFEST.v<N>`, so any
    * version a retention-aware [[vacuum]] kept reads back exactly: the
    * reproducibility hook for pinning the index snapshot a serving or
    * eval run used. */
  def readAt(dir: String, version: Long): Manifest =
    manifest(ManifestCommit.readAt(dir, version, Store))

  /** The highest ingest batch id any committed mutation applied
    * ([[ManifestCommit.lastBatchId]]) — survives interleaved unstamped
    * mutations (delete, compact). */
  def lastBatchId(dir: String): Option[Long] = ManifestCommit.lastBatchId(dir, Store)

  /** The live centroid table: the build's (cell, centroid, cnorm,
    * nshards) rows with `n_vectors` from the manifest's counts (0 for a
    * cell with no live vector). */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    centroids(spark, dir, read(dir))

  private[graft] def centroids(
      spark: SparkSession, dir: String, m: Manifest): DataFrame = {
    import spark.implicits._
    GenerationCache.directory(spark, s"$dir/${m.cent}")
      .join(broadcast(m.counts.toSeq.toDF("cell", "n_vectors")), Seq("cell"), "left")
      .na.fill(0L, Seq("n_vectors"))
  }

  /** The live PQ codebook table (build-immutable). */
  def codebooks(spark: SparkSession, dir: String): DataFrame = {
    val m = read(dir)
    val cb = m.codebooks.getOrElse(
      sys.error(s"index at $dir has no codebook generation (int8 tier?)"))
    GenerationCache.directory(spark, s"$dir/$cb")
  }

  /** The live posting view: a union by name of the manifest's segment
    * relations (one per segment directory, whatever its layout), minus
    * tombstoned ids via a broadcast anti-join that disappears entirely
    * when no delete is outstanding.
    * A fresh single-segment index therefore reads with a plan
    * byte-identical to the pre-manifest layout. Resolved from ONE
    * manifest read, so a DataFrame built here keeps seeing the
    * generation it opened even if a compact/append publishes a newer
    * one mid-query. Each segment and tombstone directory is write-once
    * (UUID'd, committed by a version claim), so its resolved relation —
    * its file listing — is cached per directory
    * ([[GenerationCache.directory]]): after an append, a reader lists
    * only the appended segment. Queries still scan the bytes. */
  def postings(spark: SparkSession, dir: String): DataFrame =
    postings(spark, dir, read(dir))

  private[graft] def postings(
      spark: SparkSession, dir: String, m: Manifest): DataFrame = {
    val segs = m.segments.map(s => GenerationCache.directory(spark, s"$dir/$s"))
      .reduce(_.unionByName(_))
    tombstoned(spark, dir, m).fold(segs)(dead =>
      segs.join(broadcast(dead), Seq("vec_id"), "left_anti"))
  }

  /** The distinct tombstoned ids of a manifest — None when no delete is
    * outstanding (so callers can skip the anti-join/guard entirely). */
  private[operators] def tombstoned(
      spark: SparkSession, dir: String, m: Manifest): Option[DataFrame] =
    if (m.tombstones.isEmpty) None
    else Some(m.tombstones.map(t => GenerationCache.directory(spark, s"$dir/$t"))
      .reduce(_.unionByName(_)).select(col("vec_id")).distinct())

  /** Absolute paths of the live posting segments (footprint
    * accounting — ScaleBench's bytes-on-disk comparisons). */
  def postingsPaths(dir: String): Seq[String] =
    read(dir).segments.map(s => s"$dir/$s")

  /** Remove directories and snapshot manifests outside the retention
    * window (post-compact/append garbage). Deliberately separate from
    * the mutations so a reader that resolved an old generation survives
    * a concurrent compact — run vacuum when those are known drained
    * (the deployment analog: object-store lifecycle rules on
    * unreferenced prefixes). `retainVersions` keeps that many versions
    * before the current one readable via [[readAt]]: their manifests
    * and every directory any retained version references survive;
    * directories are immutable and shared across versions, so retention
    * usually costs only the delta. */
  def vacuum(
      dir: String,
      retainVersions: Int = 0,
      minAgeMs: Long = ManifestCommit.DefaultVacuumMinAgeMs): Unit =
    ManifestCommit.vacuum(dir, Store, retainVersions, minAgeMs)
}
