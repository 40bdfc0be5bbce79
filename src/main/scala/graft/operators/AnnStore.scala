package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-pointer commits for the persisted ANN index tier — the
  * [[DedupIndex]] commit discipline applied to the vector indexes
  * ([[Similarity.buildIvfIndex]] / [[Similarity.buildPqIndex]] and
  * their append/delete/compact maintenance ops).
  *
  * Layout under an index `dir`:
  *   - `MANIFEST` — one small text file naming the CURRENT state: a
  *     version, the live centroid generation, the optional codebook
  *     generation (PQ), the live posting SEGMENT directories, and the
  *     live TOMBSTONE directories. Every mutation writes its data into
  *     FRESH directories and then swaps the manifest in one atomic
  *     rename — a reader resolves the pointer once and sees exactly one
  *     generation, never a half-written mix. This is the object-store
  *     commit shape (Iceberg/Delta-style pointer swap; on S3 the rename
  *     becomes a conditional PUT of the pointer object) and it replaces
  *     the former layout's in-place `postings/` appends and
  *     dynamic-partition delete rewrites, which were atomic only per
  *     file and raced readers that listed partitions mid-mutation.
  *   - `seg_<v>_<hex>/` — posting segments in the one [[Segments]]
  *     layout: plain files sorted by (`cell`, `vec_id`), each cell in
  *     exactly one file, `cell` a plain last column. Segments written in
  *     the former `cell=<c>/` layout resolve to the same columns and
  *     stay readable without a reader branch until the next compact.
  *   - `cent_<v>_<hex>/` — centroid-table generations (cell, centroid, cnorm,
  *     nshards, n_vectors). Appends and deletes refresh the counts by
  *     writing a new generation, never by overwriting the live one
  *     under a reader.
  *   - `cb_<v>_<hex>/` — PQ codebook generations (immutable after build —
  *     appends reuse them bit-identically).
  *   - `del_<v>_<hex>/` — tombstones: one `vec_id` column, the ids a delete
  *     removed, in the same [[Segments]] layout. Readers drop them with a broadcast anti-join (skipped
  *     entirely when no tombstones exist, keeping the fresh-index plan
  *     byte-identical to the pre-manifest one); [[Similarity
  *     .compactIvfIndex]] materializes them and clears the list.
  *
  * Concurrency (round-13, same discipline as [[DedupIndex]]): append
  * and delete deltas commute — [[Similarity]]'s maintenance paths
  * retry a lost version claim by re-deriving the count-refreshed
  * centroid generation against the winner's base (two interleaved
  * appends both land with posting-exact counts, spec-pinned with real
  * threads); compact and build throw
  * [[ManifestCommit.CommitConflict]] on a race (their segment lists
  * REPLACE — no merge exists). A tombstoned id stays suppressed until
  * a compact clears the tombstone list, so re-ingesting a previously
  * deleted id requires a compact first — ENFORCED by the appends'
  * tombstone-intersection guard, not just documented. */
object AnnStore {

  /** `batchId` (round-14): the exactly-once ingest stamp the other two
    * persisted tiers already carry — the highest ingest batch APPLIED,
    * riding the same atomic manifest swap as the batch's effects, so a
    * streaming embedding sink skips a redelivered batch via
    * [[lastBatchId]] with no state-written-but-not-marked window.
    * Monotone under max; carried forward through unstamped mutations
    * (delete, compact) — their effects never un-apply a batch. */
  final case class Manifest(
      version: Long,
      cent: String,
      codebooks: Option[String],
      segments: Seq[String],
      tombstones: Seq[String],
      batchId: Option[Long] = None)

  /** Does `dir` hold a committed index? (One pointer-file stat.) */
  def exists(dir: String): Boolean = ManifestCommit.exists(dir)

  /** Layout version tag, line 1 of every manifest (line 0 stays the
    * commit version — the protocol-wide convention). A future layout
    * change bumps the tag so old stores fail LOUDLY at parse instead of
    * being misread silently. Stores written before tagging shipped (no
    * tag line; fields one position earlier, no batch stamp) are still
    * readable — a centroid-generation name can never collide with the
    * `graft-ann-index/` prefix, so the legacy layout is unambiguous; a
    * DIFFERENT tag under the prefix is the only loud-fail case. */
  private[graft] val FormatTag = "graft-ann-index/1"
  private val TagPrefix = "graft-ann-index/"

  private def parse(lines: Array[String]): Manifest = {
    def list(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def at(i: Int): String = if (lines.length > i) lines(i).trim else ""
    def opt(s: String): Option[String] = Option(s).filter(x => x.nonEmpty && x != "-")
    if (at(1) == FormatTag)
      Manifest(at(0).toLong, at(2), opt(at(3)), list(at(4)), list(at(5)),
        opt(at(6)).map(_.toLong))
    else if (at(1).startsWith(TagPrefix))
      throw new IllegalArgumentException(
        s"unrecognized ann-index manifest format '${at(1)}' — this reader " +
          s"understands $FormatTag (layout change?)")
    else // pre-tag legacy layout: version, cent, codebooks, segments, tombstones
      Manifest(at(0).toLong, at(1), opt(at(2)), list(at(3)), list(at(4)), None)
  }

  /** Resolve the current manifest — one small driver-side read; the
    * 100 TB analog is one GET of the pointer object. */
  def read(dir: String): Manifest =
    parse(ManifestCommit.readPointer(dir))

  /** Resolve a PAST committed state (snapshot read / time travel) —
    * every publish also writes an immutable `MANIFEST.v<N>`, so any
    * version a retention-aware [[vacuum]] kept reads back exactly: the
    * reproducibility hook for pinning the index snapshot a serving or
    * eval run used. */
  def readAt(dir: String, version: Long): Manifest =
    parse(ManifestCommit.readVersioned(dir, version))

  private def serialize(m: Manifest): Seq[String] = Seq(
    m.version.toString, FormatTag, m.cent, m.codebooks.getOrElse("-"),
    m.segments.mkString(","), m.tombstones.mkString(","),
    m.batchId.map(_.toString).getOrElse("-"))

  /** The highest ingest batch id any committed mutation applied — the
    * exactly-once predicate for a streaming embedding-ingest sink: skip
    * a redelivered batch iff `lastBatchId(dir).exists(_ >= bid)` (batch
    * ids are monotone). Survives interleaved unstamped mutations
    * (delete, compact) — see [[Manifest.batchId]]. */
  def lastBatchId(dir: String): Option[Long] =
    if (!exists(dir)) None else read(dir).batchId

  /** Publish a new index state at exactly `m.version`: write the
    * immutable versioned manifest (an atomic no-overwrite claim), then
    * swap the pointer. A reader resolves either the old pointer or the
    * new one — never a mix. Throws [[ManifestCommit.CommitConflict]]
    * when another writer claimed the version first — the mutation was
    * computed against a stale base; [[Similarity]]'s append/delete
    * paths catch it and retry against the fresh base (their deltas
    * commute — segment/tombstone lists union, centroid counts re-add),
    * compact aborts (its segment list REPLACES, no merge exists). */
  private[operators] def publish(dir: String, m: Manifest): Unit =
    ManifestCommit.commit(dir, m.version, serialize(m))

  /** The live centroid table of the manifest's current generation. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    centroids(spark, dir, read(dir))

  private[graft] def centroids(
      spark: SparkSession, dir: String, m: Manifest): DataFrame =
    // centroid generations are write-once (mutations publish a fresh
    // `cent_<v>_<hex>` dir) — resolve once per generation per session
    GenerationCache.directory(spark, s"$dir/${m.cent}")

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
    * (UUID'd, committed by manifest swap), so its resolved relation —
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
    ManifestCommit.vacuum(dir,
      lines => {
        val m = parse(lines)
        m.segments ++ m.tombstones ++ m.codebooks.toSeq :+ m.cent
      },
      Set.empty, retainVersions, minAgeMs)
}
