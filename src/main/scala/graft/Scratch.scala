package graft

import java.nio.file.{Files, Path}

/** The one scratch root for every directory a declared query writes
  * (round-trip tables, index and store generations): created on first
  * use, deleted recursively at JVM exit, so repeated Verify/Bench
  * invocations leave nothing behind under the system temp directory. */
object Scratch {
  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p.toFile)))
    p
  }

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** A fresh, empty directory under the root — one per call. */
  def dir(prefix: String): String = Files.createTempDirectory(root, prefix).toString

  /** A fixed path under the root: the same `name` names the same path for
    * the life of the process (a session-cached store, or one rebuilt in
    * place on every invocation). */
  def path(name: String): String = root.resolve(name).toString
}
