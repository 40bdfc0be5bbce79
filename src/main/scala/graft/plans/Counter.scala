package graft.plans

import graft.operators.ManifestCommit
import graft.operators.ManifestCommit.Record
import org.apache.spark.sql.SparkSession

/** The reference's mutable scalar counter (`plan-joined-count`,
  * `/root/reference/src/plan-server.ts:50-83`) as a `store=counter`
  * record on the manifest commit log the persisted stores share
  * ([[ManifestCommit]]). INCR/DECR/SET are one compare-and-swap each: a
  * [[ManifestCommit.commitRecord]] claim of the next version carrying
  * the new value, where a lost claim re-reads the winner's value and
  * retries. So every update is atomic across threads, handles and
  * processes, as the reference's Redis INCR/DECR are, with no lock of
  * its own: the version claim is the lock. GET is one listing and one
  * read of the newest version, and an absent counter reads 0 (`plan-server.ts:80-82`). No operation
  * launches a Spark job.
  *
  * A path that holds entries but no manifest (the one-row parquet
  * snapshot earlier versions wrote there) fails on every operation
  * rather than reading as 0.
  *
  * Every update publishes one version, so every update also vacuums
  * the log down to the last [[Counter.RetainVersions]] versions before
  * the current one. The value has its own codec field
  * ([[Record.value]]), so the codec's vacuum sees no directory
  * references in a counter manifest. The vacuum keeps its default age
  * guard: a `MANIFEST.tmp.*` file may be another process's claim in
  * flight.
  *
  * The session argument is the caller's context only: the log is read
  * and written on the driver through [[ManifestCommit]], which resolves
  * its filesystems with the active session's Hadoop configuration, or a
  * default one in a process with no session (`new Counter(path)`).
  *
  * This is the batch form (§2a rows 10–11); the streaming form — a
  * running aggregate over a ±1 event stream — lives in
  * [[graft.streaming.StreamingOps.runningCounter]].
  */
final class Counter(path: String) {

  def this(spark: SparkSession, path: String) = this(path)

  import Counter._

  def get(): Long = ManifestCommit.readOption(path, Store) match {
    case Some(r) => valueOf(r)
    case None => requireFresh(); 0L
  }

  def set(v: Long): Long = update(_ => v)
  def incr(): Long = update(_ + 1)
  def decr(): Long = update(_ - 1)

  private def update(f: Long => Long): Long = {
    val r = ManifestCommit.commitRecord(path, Store) { (v, base) =>
      val cur = base match {
        case Some(b) => valueOf(b)
        case None => requireFresh(); 0L
      }
      Record(v, Store, Map.empty, value = Some(f(cur)))
    }
    ManifestCommit.vacuum(path, Store, RetainVersions, ManifestCommit.DefaultVacuumMinAgeMs)
    r.value.get
  }

  private def valueOf(r: Record): Long = r.value.getOrElse(
    throw new IllegalStateException(s"counter manifest v${r.version} at $path has no value"))

  /** No manifest yet: an absent or empty path is a fresh counter. Any
    * other visible entry (a parquet part file, `_SUCCESS`) means the
    * path holds something else, and the op fails. Dot-prefixed entries
    * (checksums, a claim's link probe) and `MANIFEST.*` files (an
    * in-flight first claim) are not counted. */
  private def requireFresh(): Unit = {
    val (fs, base) = ManifestCommit.fsFor(path)
    val foreign =
      try fs.listStatus(base).map(_.getPath.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("MANIFEST."))
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    if (foreign.nonEmpty)
      throw new IllegalStateException(s"$path holds no counter manifest but " +
        s"${foreign.sorted.take(3).mkString(", ")} — a parquet counter snapshot? " +
        "Move it aside; the counter starts at 0 on an absent path")
  }
}

object Counter {
  private val Store = "counter"

  /** Versions kept readable before the current one. Versions past it
    * are reclaimed on the next update. A writer whose base went stale
    * loses its claim and retries on the newest value; a writer stalled
    * between its last check and its claim for this many other commits
    * could re-claim a reclaimed version number, so the window is kept
    * well above the number of writers contending on one counter. */
  private[graft] val RetainVersions = 8
}
