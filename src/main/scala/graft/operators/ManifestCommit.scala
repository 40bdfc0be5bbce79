package graft.operators

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** THE manifest-commit primitive shared by every persisted tier
  * ([[DedupIndex]], [[AnnStore]], [[StateTable]], and the plan counter
  * [[graft.plans.Counter]], whose whole state is one manifest field) —
  * one implementation of the versioned-log commit protocol, on the
  * Hadoop [[FileSystem]] / [[FileContext]] API so the SAME code runs
  * against `file://`, `hdfs://`, or any other registered scheme (the
  * former per-store `java.nio` copies could only open local paths — on
  * the tier whose entire rationale is the object store).
  *
  * Protocol (the Delta Lake log: claim = commit):
  *
  *   1. The writer prepares its DATA in fresh, uniquely-named
  *      directories ([[uniqueName]] — a random suffix so two concurrent
  *      writers can never collide on a data path, whatever versions
  *      they end up committing as).
  *   2. `MANIFEST.v<N>` — the immutable versioned manifest — is CLAIMED
  *      by writing the full manifest to a temp name and atomically
  *      publishing it onto the versioned name via the scheme's
  *      [[CommitOwner]] (put-if-absent). Exactly one writer can own a
  *      version, and the primitive is genuinely atomic per scheme:
  *      HDFS-style schemes use a no-overwrite rename (atomic at the
  *      namenode); LOCAL-backed schemes use hard-link creation —
  *      `link(2)` fails `EEXIST` atomically in the kernel, closing the
  *      check-then-rename TOCTOU `RawLocalFileSystem.rename` carries
  *      (its `AbstractFileSystem.renameInternal` existence pre-check let
  *      two racing writers both "own" a version — the round-13
  *      lost-visible-update). Object stores without an atomic primitive
  *      register their own owner (a conditional-PUT implementation)
  *      via [[registerOwner]]; nothing silently falls back to a
  *      non-atomic rename. Because the claim publishes a COMPLETE file,
  *      a version that exists is always fully readable — the loser of a
  *      race reads the newest version to learn the winner's state and
  *      retries above it with a merged manifest ([[commitLoop]]).
  *
  * The claim IS the commit: the current state is the newest
  * `MANIFEST.v<N>` a prefix listing finds ([[readCurrent]]). There is no
  * second copy of it to keep in step, so there is nothing a crashed or
  * stalled writer can leave behind that a reader must repair, and no
  * step that needs an overwriting rename (which a conditional-PUT store
  * does not have).
  *
  * In-process writers additionally serialize per store through a
  * striped JVM lock around the claim (the Delta local-LogStore pattern)
  * — cheap (metadata-file IO only; all Spark jobs writing data run
  * OUTSIDE the lock). Cross-process safety comes from the atomic claim
  * alone.
  *
  * Write path detail: manifests are written through a PRIVATE
  * FileSystem instance with checksums disabled — on the local scheme
  * the default `ChecksumFileSystem` would strew `.crc` sidecars through
  * the store directory (object stores and HDFS have no such sidecar);
  * the instance is private ([[FileSystem.newInstance]]) so the setting
  * never leaks into Spark's own cached FileSystem. On the local schemes
  * the hard-link claim already maps to OS paths, manifest writes and the
  * version listing go to the OS directly ([[osPath]]): the same
  * operations, without the process the local FileSystem forks per file
  * when Hadoop's native library is absent.
  *
  * The stores write ONE manifest codec ([[Record]]: version,
  * [[FormatTag]], then `key=value` fields with a `store=` kind) and
  * share its merges: the compare-and-swap of a record built from the
  * current one ([[commitRecord]]), the commuting append/delete delta
  * ([[commitDelta]]), the compact merge ([[commitCompact]]) and the
  * ingest-stamp rule ([[mergeStamp]]). The raw line API below
  * ([[readCurrent]], [[tryCommit]], [[commitLoop]]) is the protocol the
  * codec runs on.
  *
  * [[vacuum]] distinguishes three kinds of non-live entry:
  *   - manifests/directories REFERENCED by some on-disk manifest
  *     version outside the retention window — published garbage,
  *     reclaimed immediately;
  *   - entries referenced by NO manifest at all — an in-flight writer's
  *     not-yet-committed data or claim, or a crashed writer's orphan:
  *     reclaimed only past [[DefaultVacuumMinAgeMs]] (the age guard; a
  *     vacuum racing a live append must not eat the segment the append
  *     is about to commit);
  *   - hidden (dot-prefixed) entries — never touched.
  * The current version is the newest one in the vacuum's own listing. A
  * version claimed after that listing is not in it, so the vacuum never
  * touches it; the directories it adds are unreferenced in the listing
  * and fall under the age guard.
  */
object ManifestCommit {

  /** A publish lost the version-claim race (or an expected-version
    * check failed): the caller's base state is stale. Recoverable —
    * re-read the current state and retry (what [[commitLoop]] does
    * automatically for mergeable mutations); whole-state rewrites
    * (compact, StateTable folds) must recompute instead. */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** Age below which an UNREFERENCED directory survives [[vacuum]]:
    * it may be an in-flight writer's data, written ahead of its commit.
    * One hour covers any realistic single-commit write; a crashed
    * writer's orphans fall to the next vacuum after aging out. */
  val DefaultVacuumMinAgeMs: Long = 60L * 60 * 1000

  // ------------------------------------------------------------------
  // CommitOwner — the pluggable atomic put-if-absent, per scheme
  // ------------------------------------------------------------------

  /** The ONE primitive the protocol needs from a scheme: atomically
    * publish the complete file at `tmp` onto `dst` iff `dst` does not
    * exist. Returns true iff this call claimed `dst`; must NEVER
    * overwrite an existing `dst`, and must delete `tmp` on either
    * outcome. Implementations exist for HDFS-style schemes (atomic
    * no-overwrite rename) and local-backed schemes (atomic hard-link
    * creation); an object store plugs a conditional-PUT owner in via
    * [[registerOwner]]. */
  trait CommitOwner {
    def putIfAbsent(f: FileSystem, base: Path, tmp: Path, dst: Path): Boolean
    /** Short tag for diagnostics and specs. */
    def name: String
  }

  /** HDFS-style claim: `FileContext.rename` with `Options.Rename.NONE`
    * — atomic no-overwrite rename at the namenode. NOT safe on
    * local-backed schemes (RawLocalFileSystem pre-checks existence —
    * TOCTOU) — those resolve to [[LinkOwner]] instead. */
  object RenameOwner extends CommitOwner {
    val name = "rename-if-absent"
    def putIfAbsent(f: FileSystem, base: Path, tmp: Path, dst: Path): Boolean =
      try { fcFor(base).rename(tmp, dst); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          f.delete(tmp, false); false
        case _: org.apache.hadoop.fs.PathExistsException =>
          f.delete(tmp, false); false
      }
  }

  /** POSIX-local claim: hard-link creation. `link(2)` is the kernel's
    * put-if-absent — it fails `EEXIST` atomically, with no userspace
    * check-then-act window at all. Used for any scheme whose FileSystem
    * is local-disk-backed (the default `file` scheme and wrappers like
    * the spec's `graftfs`), where the rename form is a documented
    * TOCTOU. */
  object LinkOwner extends CommitOwner {
    val name = "hard-link"
    def putIfAbsent(f: FileSystem, base: Path, tmp: Path, dst: Path): Boolean = {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      try { java.nio.file.Files.createLink(d, t); f.delete(tmp, false); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); false
      }
    }
  }

  // ------------------------------------------------------------------
  // Observability — cross-process contention is invisible in logs-only
  // form. Monotone process-lifetime counters a metrics exporter (or a
  // spec) can read and diff.
  // ------------------------------------------------------------------

  /** Named monotone counters: `claims_lost` (a tryCommit that lost its
    * version claim — cross-writer contention). */
  object metrics {
    private val counters = scala.collection.concurrent.TrieMap
      .empty[String, java.util.concurrent.atomic.AtomicLong]
    private[ManifestCommit] def inc(name: String): Unit =
      counters.getOrElseUpdate(
        name, new java.util.concurrent.atomic.AtomicLong).incrementAndGet(): Unit
    /** Current value of a counter (0 if never incremented). */
    def get(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)
    /** All counters, for an exporter loop. */
    def snapshot: Map[String, Long] = counters.map { case (k, v) => k -> v.get }.toMap
  }

  /** Reference adapter for OBJECT-STORE schemes: turns a store's
    * conditional-PUT call into a [[CommitOwner]]. The store call is the
    * ONLY thing a concrete owner supplies — `put(dst, bytes)` must
    * atomically create the object at `dst` with exactly `bytes` and
    * return true, or return false when `dst` already exists, with the
    * store's API deciding existence atomically (the S3
    * `If-None-Match: *` PUT, GCS `ifGenerationMatch=0`, ABFS
    * conditional create). The adapter owns the file plumbing the
    * contract requires of every owner: it reads the COMPLETE tmp
    * payload before calling the store (a conditional PUT uploads whole
    * objects — there is no partial-visibility window, which is exactly
    * why the protocol's claim can double as publication) and deletes
    * tmp on BOTH outcomes. CommitOwnerContractSpec is the compliance
    * suite an owner built on this (or from scratch) must pass:
    * exactly-one-winner under contention, tmp cleanup both ways,
    * complete-file visibility after a successful claim. */
  final class ConditionalPutOwner(
      val name: String)(put: (Path, Array[Byte]) => Boolean)
      extends CommitOwner {
    def putIfAbsent(f: FileSystem, base: Path, tmp: Path, dst: Path): Boolean = {
      val in = f.open(tmp)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](64 * 1024)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          buf.toByteArray
        } finally in.close()
      try put(dst, bytes) finally f.delete(tmp, false): Unit
    }
  }

  private val owners =
    scala.collection.concurrent.TrieMap.empty[String, CommitOwner]

  /** Plug a scheme-specific claim implementation (e.g. an S3
    * conditional-PUT owner — see [[ConditionalPutOwner]]). Takes
    * precedence over the built-in resolution. Implementations must pass
    * the CommitOwnerContractSpec compliance suite. */
  def registerOwner(scheme: String, owner: CommitOwner): Unit =
    owners.put(scheme, owner): Unit

  /** Is this FileSystem ultimately a RawLocalFileSystem? (LocalFileSystem
    * and custom local-backed schemes wrap one in a ChecksumFileSystem.) */
  private def isLocalBacked(f: FileSystem): Boolean = f match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem =>
      c.getRawFileSystem.isInstanceOf[RawLocalFileSystem]
    case _: RawLocalFileSystem => true
    case _ => false
  }

  // schemes whose URI-path → OS-path mapping has been probe-verified
  // as 1:1 (what LinkOwner's toUri.getPath conversion assumes), by
  // `scheme://authority`
  private val linkSafe = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def authorityKey(p: Path): String =
    s"${Option(p.toUri.getScheme).getOrElse("file")}://${Option(p.toUri.getAuthority).getOrElse("")}"

  /** LinkOwner converts Hadoop paths to OS paths via `toUri.getPath` —
    * correct only when the local-backed wrapper maps URI paths 1:1 to OS
    * paths. A translating wrapper (chroot-style FilterFileSystem) would
    * hard-link at the WRONG OS location while reads go through the FS's
    * mapping (round-14 ADVICE — a silent mismatch). Verified ONCE per
    * (scheme, authority): stat a probe file through BOTH APIs. A
    * non-identity mapping fails LOUDLY at first commit — such schemes
    * must [[registerOwner]] their own claim primitive. */
  private def verifyIdentityMapping(f: FileSystem, base: Path): Boolean = {
    val probe = new Path(base,
      s".graft_linkprobe_${UUID.randomUUID().toString.take(8)}")
    try {
      f.mkdirs(base)
      val out = f.create(probe, true); out.write('p'); out.close()
      java.nio.file.Files.exists(java.nio.file.Paths.get(probe.toUri.getPath))
    } finally { try f.delete(probe, false): Unit catch { case _: java.io.IOException => () } }
  }

  /** The claim owner for a store — registered owner first, then the
    * hard-link owner for local-backed schemes (after a once-per-scheme
    * probe that the URI→OS path mapping is identity — see
    * [[verifyIdentityMapping]]), then the rename owner (atomic on
    * HDFS-style schemes). Exposed for specs, which pin that local-backed
    * schemes NEVER resolve to the TOCTOU rename form. */
  private[graft] def ownerFor(dir: String): CommitOwner = {
    val (f, base) = fsFor(dir)
    val scheme = Option(base.toUri.getScheme).getOrElse("file")
    owners.getOrElse(scheme,
      if (isLocalBacked(f)) {
        if (!linkSafe.getOrElseUpdate(authorityKey(base), verifyIdentityMapping(f, base)))
          throw new IllegalStateException(
            s"scheme '$scheme' is local-backed but does not map URI paths " +
              "1:1 to OS paths — the hard-link claim would land at the " +
              "wrong location; register a CommitOwner for it " +
              "(ManifestCommit.registerOwner)")
        LinkOwner
      } else RenameOwner)
  }

  // ------------------------------------------------------------------
  // Per-store in-JVM serialization (the claim only)
  // ------------------------------------------------------------------

  private val stripes = Array.fill(64)(new Object)
  private def stripeFor(base: Path): Object =
    stripes((base.toString.hashCode & 0x7fffffff) % stripes.length)

  /** The Hadoop configuration in force: the ACTIVE session's (so a
    * store addressed under a non-default scheme or customized FS config
    * commits through exactly the filesystems the data plane uses), then
    * the DEFAULT session's (threads that didn't inherit the thread-local
    * — streaming callbacks, executor-side hooks — still see the
    * session's FS settings), then one shared fallback `Configuration`.
    * The fallback is a single val, NOT `new Configuration()` per call:
    * per-call confs made every no-session fsFor cache (and leak) a fresh
    * FileSystem instance (round-14 ADVICE). */
  private lazy val fallbackConf = new Configuration()
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(fallbackConf)

  // private per-(conf, scheme, authority) instances — never Spark's
  // cached ones (we disable write checksums, see the scaladoc). The
  // OUTER key is the Configuration OBJECT (an identity map holding a
  // strong reference): a later session with different FS settings must
  // not silently reuse an instance built from the old conf, and the
  // strong key makes the round-14 identityHashCode hazards impossible —
  // no GC-reuse aliasing, and growth is bounded by the number of
  // distinct conf objects ever used (≈ sessions, now that the
  // no-session fallback is one shared conf) rather than call count.
  private val fsCache = new java.util.concurrent.ConcurrentHashMap[
    Configuration, scala.collection.concurrent.TrieMap[String, FileSystem]]()

  private[graft] def fsFor(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val conf = hadoopConf
    val uri = p.toUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    val perConf = fsCache.computeIfAbsent(conf,
      _ => scala.collection.concurrent.TrieMap.empty[String, FileSystem])
    val f = perConf.getOrElseUpdate(key, {
      val inst = FileSystem.newInstance(p.getFileSystem(conf).getUri, conf)
      inst.setWriteChecksum(false)
      inst.setVerifyChecksum(false)
      inst
    })
    (f, f.makeQualified(p))
  }

  private def fcFor(p: Path): FileContext =
    FileContext.getFileContext(p.toUri, hadoopConf)

  private def versionPath(base: Path, v: Long): Path = new Path(base, s"MANIFEST.v$v")
  private val VersionName = "MANIFEST\\.v(\\d+)".r

  /** Does the store at `dir` have a committed state? One listing. */
  def exists(dir: String): Boolean = {
    val (f, base) = fsFor(dir)
    latestVersionOnDisk(f, base).isDefined
  }

  /** All committed versions on disk, by a PREFIX-SCOPED listing:
    * `globStatus("MANIFEST.v*")`, not a listStatus of the whole base —
    * the base also holds every segment/tombstone/generation directory,
    * so a full listing makes each read O(#entries) (a paginated
    * LIST per read on an object store with thousands of segments —
    * round-14 ADVICE). On a local OS path ([[osPath]]) the names come
    * from one directory read with no per-entry stat. Exposed for
    * [[Catalog.history]]-style walks over the RETAINED versions only. */
  private[operators] def versionsOnDisk(f: FileSystem, base: Path): Seq[Long] =
    try {
      val names = osPath(f, base) match {
        case Some(o) =>
          val ds = java.nio.file.Files.newDirectoryStream(o, "MANIFEST.v*")
          try ds.iterator().asScala.map(_.getFileName.toString).toList finally ds.close()
        case None =>
          Option(f.globStatus(new Path(base, "MANIFEST.v*"))).toSeq.flatten.map(_.getPath.getName)
      }
      names.collect { case VersionName(n) => n.toLong }
    } catch {
      // no directory yet is an empty store; any other listing failure
      // propagates, since an empty answer would read as "no state"
      case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => Seq.empty
    }

  /** Retained committed versions of a store, ascending — the manifest
    * versions a snapshot read ([[readVersioned]]) can still resolve. */
  def retainedVersions(dir: String): Seq[Long] = {
    val (f, base) = fsFor(dir)
    versionsOnDisk(f, base).sorted
  }

  private def latestVersionOnDisk(f: FileSystem, base: Path): Option[Long] =
    versionsOnDisk(f, base).reduceOption(_ max _)

  private def readLines(f: FileSystem, p: Path): Array[String] = {
    val in = f.open(p)
    try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
    finally in.close()
  }

  /** `p` as an OS path when its scheme is local-backed and its URI paths
    * are probe-verified to be OS paths (the [[LinkOwner]] schemes), None
    * on any other scheme. Manifest writes and the version listing go
    * straight to the OS there: without Hadoop's native library the local
    * FileSystem forks a process per file it creates (`chmod` in
    * `create`), about 4 ms each. */
  private def osPath(f: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (isLocalBacked(f) && linkSafe.get(authorityKey(p)).contains(true))
      Some(java.nio.file.Paths.get(p.toUri.getPath))
    else None

  private def writeLines(f: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val bytes = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    osPath(f, p) match {
      case Some(o) => java.nio.file.Files.write(o, bytes): Unit
      case None =>
        val out = f.create(p, true)
        try out.write(bytes) finally out.close()
    }
  }

  /** Current manifest lines, None when the store has no committed
    * version. One prefix listing plus one read of the newest version it
    * finds — the 100 TB analog is one LIST of the manifest prefix and
    * one GET. A version that is gone by the time it is read was
    * reclaimed by a vacuum, which only happens once newer versions
    * exist, so the read lists again and finds one of those. */
  @scala.annotation.tailrec
  def readCurrent(dir: String): Option[Array[String]] = {
    val (f, base) = fsFor(dir)
    latestVersionOnDisk(f, base) match {
      case None => None
      case Some(v) =>
        val lines =
          try Some(readLines(f, versionPath(base, v)))
          catch { case _: java.io.FileNotFoundException => None }
        if (lines.isDefined) lines else readCurrent(dir)
    }
  }

  /** The immutable manifest of a PAST version (snapshot read / time
    * travel). Throws FileNotFoundException if never published or
    * vacuumed away. */
  def readVersioned(dir: String, version: Long): Array[String] = {
    val (f, base) = fsFor(dir)
    readLines(f, versionPath(base, version))
  }

  /** The newest committed version, 0 when the store is empty. One
    * listing, no read. */
  def currentVersion(dir: String): Long = {
    val (f, base) = fsFor(dir)
    latestVersionOnDisk(f, base).getOrElse(0L)
  }

  /** A fresh data-directory name for a commit targeting version `v`:
    * version-stamped for the human reading a listing, random-suffixed
    * so concurrent writers (who may both be preparing "version v+1")
    * can never collide on a data path. The manifest references names,
    * not conventions — the suffix is free. */
  def uniqueName(prefix: String, v: Long): String =
    s"${prefix}_${v}_${UUID.randomUUID().toString.take(8)}"

  /** Try to commit `lines` as version `v`: claim `MANIFEST.v<v>` via
    * the scheme's atomic put-if-absent. Returns false iff the version
    * was already claimed by another writer (the caller's base is stale —
    * re-read and retry). */
  def tryCommit(dir: String, v: Long, lines: Seq[String]): Boolean = {
    val (f, base) = fsFor(dir)
    f.mkdirs(base)
    val owner = ownerFor(dir)
    // the claim runs under the store's JVM stripe: in-process writers
    // serialize here (metadata-file IO only — data writes happen before
    // this call); cross-process atomicity comes from the owner's claim.
    stripeFor(base).synchronized {
      // v or a later version on disk means the caller's base is stale.
      // Checking the newest version, not just v, keeps a stale writer
      // from re-claiming a version [[vacuum]] already reclaimed: that
      // now takes the other writers' whole retention window of commits
      // landing between this listing and the claim below.
      val claimed = latestVersionOnDisk(f, base).forall(_ < v) && {
        val tmp = new Path(base, s"MANIFEST.tmp.${UUID.randomUUID()}")
        writeLines(f, tmp, lines)
        owner.putIfAbsent(f, base, tmp, versionPath(base, v))
      }
      if (!claimed) metrics.inc("claims_lost")
      claimed
    }
  }

  /** Single-shot commit at exactly version `v`; throws
    * [[CommitConflict]] if another writer claimed it first. The right
    * primitive for whole-state mutations (compact, build, StateTable
    * publishes), where a lost race means the state the mutation was
    * computed FROM is gone and a list-merge would be wrong — the caller
    * must recompute. The data directories already written stay
    * unreferenced and age out via [[vacuum]]. */
  def commit(dir: String, v: Long, lines: Seq[String]): Unit =
    if (!tryCommit(dir, v, lines))
      throw new CommitConflict(
        s"version $v at $dir was committed by another writer — " +
          "re-read the current state and recompute")

  /** Optimistic-concurrency commit for MERGEABLE mutations (append a
    * segment, add a tombstone — deltas that commute with any concurrent
    * commit): `make(v, baseLines)` builds the manifest for version `v`
    * from the base state (None when the store is empty); on a lost
    * claim the loop re-reads the newest committed state — the winner's
    * `MANIFEST.v<N>` or a later one, complete by construction, the
    * claim publishes whole files — and retries against it. This is the
    * conditional-PUT loop the single-writer contract previously
    * delegated to "an external lock"; two interleaved appends now both
    * land, in either order. */
  def commitLoop(dir: String)(
      make: (Long, Option[Array[String]]) => Seq[String]): Long = {
    def current(): (Long, Option[Array[String]]) = {
      val l = readCurrent(dir); (l.fold(0L)(_(0).trim.toLong), l)
    }
    var base = current()
    var guard = 0
    while (guard < 10000) {
      val v = base._1 + 1
      if (tryCommit(dir, v, make(v, base._2))) return v
      // lost the claim: the current read resolves at least the winner's
      // version, even once a vacuum reclaimed that version
      base = current()
      guard += 1
    }
    sys.error(s"commit loop at $dir failed to converge after $guard rounds")
  }

  // ------------------------------------------------------------------
  // The manifest codec — one format for every store
  // ------------------------------------------------------------------

  /** Line 1 of every store manifest. Line 0 stays the commit version
    * (what [[commitLoop]] reads; it is the N of `MANIFEST.v<N>`); the
    * lines after the tag are `key=value`, one of them `store=<kind>`. A
    * layout change bumps the tag, so a reader fails loudly on a layout
    * it does not know instead of misreading it. */
  private[graft] val FormatTag = "graft-manifest/1"

  /** One store manifest, as the codec reads and writes it. The fields
    * the stores share are typed here, so the merges below own them once:
    * the live segment and tombstone directories, the per-cell vector
    * counts (ANN), the ingest stamp — the highest batch applied — and
    * the scalar `value` of a store that is just a number (the plan
    * counter, `store=counter`). `own` holds the store's other fields,
    * each the name of a generation directory the manifest references
    * (dedup `meta`, ANN `cent`/`codebooks`, state-table `gen`), which is
    * what [[vacuum]] keeps alive. On disk a list is comma-joined, counts
    * are `cell:count` pairs, and an empty list, empty map or absent
    * value writes no line. */
  final case class Record(
      version: Long,
      store: String,
      own: Map[String, String],
      segments: Seq[String] = Nil,
      tombstones: Seq[String] = Nil,
      counts: Map[Int, Long] = Map.empty,
      batchId: Option[Long] = None,
      value: Option[Long] = None) {
    /** A required `own` field — a manifest without it fails loudly. */
    def apply(key: String): String = own.getOrElse(key,
      throw new IllegalArgumentException(s"$store manifest v$version has no '$key' field"))
  }

  private val SharedKeys = Set("store", "segments", "tombstones", "counts", "batch", "value")

  private[graft] def encode(r: Record): Seq[String] = {
    val fields = r.own ++ Map(
      "segments" -> r.segments.mkString(","),
      "tombstones" -> r.tombstones.mkString(","),
      "counts" -> r.counts.toSeq.sorted.map { case (c, n) => s"$c:$n" }.mkString(","),
      "batch" -> r.batchId.fold("")(_.toString),
      "value" -> r.value.fold("")(_.toString))
    Seq(r.version.toString, FormatTag, s"store=${r.store}") ++
      fields.toSeq.filter(_._2.nonEmpty).sorted.map { case (k, v) => s"$k=$v" }
  }

  private def decode(dir: String, store: String)(lines: Array[String]): Record = {
    val tag = lines.lift(1).fold("")(_.trim)
    if (tag != FormatTag)
      throw new IllegalArgumentException(s"unrecognized manifest format '$tag' at " +
        s"$dir — this reader understands $FormatTag (layout change?)")
    val fields = lines.drop(2).map(_.trim).filter(_.nonEmpty).map { l =>
      val i = l.indexOf('=')
      if (i <= 0) throw new IllegalArgumentException(s"malformed manifest line '$l' at $dir")
      l.take(i) -> l.drop(i + 1)
    }.toMap
    val found = fields.getOrElse("store", "")
    if (found != store)
      throw new IllegalArgumentException(s"$dir holds a '$found' manifest, not a '$store' one")
    def list(k: String): Seq[String] = fields.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Record(lines(0).trim.toLong, store, fields -- SharedKeys,
      list("segments"), list("tombstones"),
      list("counts").map { e =>
        val i = e.indexOf(':'); e.take(i).toInt -> e.drop(i + 1).toLong
      }.toMap,
      fields.get("batch").map(_.toLong),
      fields.get("value").map(_.toLong))
  }

  /** The current manifest of the `store` at `dir`, None when it has no
    * committed version — one small driver-side read ([[readCurrent]]). */
  def readOption(dir: String, store: String): Option[Record] =
    readCurrent(dir).map(decode(dir, store))

  /** [[readOption]] of a store that must exist. */
  def read(dir: String, store: String): Record =
    readOption(dir, store).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed $store manifest at $dir"))

  /** The manifest committed as `version` (snapshot read / time travel).
    * Throws FileNotFoundException if never published or vacuumed away. */
  def readAt(dir: String, version: Long, store: String): Record =
    decode(dir, store)(readVersioned(dir, version))

  /** The highest ingest batch id any committed mutation applied (None
    * before the store exists or before any stamped mutation) — the
    * exactly-once predicate of a streaming sink: skip a redelivered
    * batch iff `lastBatchId(dir, store).exists(_ >= bid)`. The stamp
    * rode the same version claim that published the batch's effects, so
    * there is no state-written-but-not-marked window. */
  def lastBatchId(dir: String, store: String): Option[Long] =
    readOption(dir, store).flatMap(_.batchId)

  /** The stamp rule: the highest batch APPLIED — monotone under max and
    * carried through unstamped mutations (delete, compact, a manual
    * publish). Their effects never un-apply a batch, and clearing the
    * stamp would let a redelivered batch through [[lastBatchId]]'s
    * guard and apply it twice. */
  def mergeStamp(base: Option[Long], supplied: Option[Long]): Option[Long] =
    (base.toSeq ++ supplied.toSeq).reduceOption(_ max _)

  /** Single-shot commit of `r` at exactly `r.version` ([[commit]]) —
    * builds and whole-state publishes; throws [[CommitConflict]]. */
  def publish(dir: String, r: Record): Unit = commit(dir, r.version, encode(r))

  /** [[publish]] that returns false instead of throwing on a lost claim. */
  def tryPublish(dir: String, r: Record): Boolean = tryCommit(dir, r.version, encode(r))

  /** `base` with a mergeable delta applied, as version `v`: segment and
    * tombstone lists append, per-cell counts add (a cell that reaches 0
    * leaves the map) and the stamp merges ([[mergeStamp]]). */
  def withDelta(
      base: Record,
      v: Long,
      segments: Seq[String] = Nil,
      tombstones: Seq[String] = Nil,
      counts: Map[Int, Long] = Map.empty,
      batchId: Option[Long] = None): Record =
    base.copy(version = v,
      segments = base.segments ++ segments,
      tombstones = base.tombstones ++ tombstones,
      counts = (base.counts.keySet ++ counts.keySet).iterator
        .map(c => c -> (base.counts.getOrElse(c, 0L) + counts.getOrElse(c, 0L)))
        .filter(_._2 != 0L).toMap,
      batchId = mergeStamp(base.batchId, batchId))

  /** [[commitLoop]] over codec records: `next(v, base)` builds version
    * `v` from the current record (None when the store is empty), and a
    * lost claim calls it again on the winner's record. Returns the
    * record that committed. */
  def commitRecord(dir: String, store: String)(
      next: (Long, Option[Record]) => Record): Record = {
    var out: Record = null
    commitLoop(dir) { (v, base) =>
      out = next(v, base.map(decode(dir, store)))
      encode(out)
    }
    out
  }

  /** Commit a delta that commutes with any concurrent commit — an
    * append's segment and count delta, a dedup delete's tombstone: on a
    * lost claim the loop applies the same delta to the winner's
    * manifest and retries ([[commitRecord]]), so two interleaved appends
    * both land, in either order, with counts that add up. A delta that
    * is a function of the base's live view (the ANN delete's counts)
    * must recompute against the winner instead. Returns the version. */
  def commitDelta(
      dir: String,
      store: String,
      segments: Seq[String] = Nil,
      tombstones: Seq[String] = Nil,
      counts: Map[Int, Long] = Map.empty,
      batchId: Option[Long] = None): Long =
    commitRecord(dir, store) { (v, base) =>
      val b = base.getOrElse(throw new java.io.FileNotFoundException(
        s"no $store at $dir — build it first"))
      withDelta(b, v, segments, tombstones, counts, batchId)
    }.version

  /** Commit a compaction of `from`: one fresh `segment` holding `from`'s
    * live rows replaces its segments and materializes its tombstones.
    * It commutes with the deltas — on a lost claim the winner's NEW
    * segments and tombstones apply on top of the compacted segment (the
    * serialization "compact at its read point, then the winner"), and
    * the winner's counts and stamp carry over. A winner with another
    * build identity (`own`), or one that dropped part of `from`'s lists
    * (a rebuild or another compact), has no merge: [[CommitConflict]]. */
  def commitCompact(dir: String, from: Record, segment: String): Unit = {
    var base = from
    while (!tryPublish(dir, base.copy(version = base.version + 1,
        segments = segment +: base.segments.filterNot(from.segments.contains),
        tombstones = base.tombstones.filterNot(from.tombstones.contains)))) {
      base = read(dir, from.store)
      if (base.own != from.own || !from.segments.forall(base.segments.contains) ||
          !from.tombstones.forall(base.tombstones.contains))
        throw new CommitConflict(s"$dir was rebuilt or compacted since version " +
          s"${from.version} — re-run the compact")
    }
  }

  /** Reclaim entries outside the retention window. `refsOf` maps a
    * store's manifest lines to the data-directory names it references.
    * Retention keeps `retainVersions` versions BEFORE the current one —
    * the newest version in this vacuum's one listing — readable. See the
    * object scaladoc for the three-way classification (published
    * garbage / in-flight age guard / hidden). */
  def vacuum(
      dir: String,
      refsOf: Array[String] => Seq[String],
      retainVersions: Int,
      minAgeMs: Long): Unit = {
    val (f, base) = fsFor(dir)
    val entries = f.listStatus(base)
    val versions = entries.toSeq.map(_.getPath.getName).collect { case VersionName(n) => n.toLong }
    val curV = versions.maxOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no versioned manifest at $dir"))
    val onDisk: Map[Long, Array[String]] = versions.flatMap { v =>
      try Some(v -> readLines(f, versionPath(base, v)))
      catch { case _: java.io.IOException => None }
    }.toMap
    // the current version is gone only if a concurrent vacuum that saw a
    // newer one reclaimed it; that vacuum covers this pass
    if (!onDisk.contains(curV)) return
    val retained = (curV - retainVersions).max(1L) to curV
    val live = retained.flatMap(onDisk.get).flatMap(refsOf).toSet ++
      retained.map(v => s"MANIFEST.v$v")
    // referenced by ANY manifest still on disk → was published → its
    // age is irrelevant, only liveness matters
    val published = onDisk.values.flatMap(refsOf).toSet
    val now = System.currentTimeMillis()
    entries.foreach { e =>
      val name = e.getPath.getName
      val drop =
        if (live.contains(name) || name.startsWith(".")) false
        else if (name.startsWith("MANIFEST.v") || published.contains(name)) true
        // everything else — MANIFEST.tmp.* included: a tmp file younger
        // than the guard may be a live commit's claim in flight — waits
        // out the in-flight age guard
        else now - e.getModificationTime > minAgeMs
      if (drop) f.delete(e.getPath, true): Unit
    }
  }

  /** [[vacuum]] for a codec store: a manifest references its segments,
    * its tombstones and every `own` generation. */
  def vacuum(dir: String, store: String, retainVersions: Int, minAgeMs: Long): Unit =
    vacuum(dir, lines => {
      val r = decode(dir, store)(lines); r.own.values.toSeq ++ r.segments ++ r.tombstones
    }, retainVersions, minAgeMs)
}
