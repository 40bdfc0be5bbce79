package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source-level checks' view of the main sources: each file's method
  * chains, for rules such as "one segment writer" ([[SegmentWriterSpec]])
  * or "one sub-floor sampler" ([[DriverBatchSpec]]). */
object SourceCheck {

  /** Method chains of a source text, one per element: comments dropped,
    * and every line that starts with `.` joined onto the line it
    * continues. */
  def chains(text: String): Seq[String] = {
    val code = text.linesIterator
      .map(_.replaceAll("""(^|\s)//.*$""", ""))
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") }
      .map(_.trim).filter(_.nonEmpty).toSeq
    code.foldLeft(Vector.empty[String]) { (acc, l) =>
      if (l.startsWith(".") && acc.nonEmpty) acc.init :+ (acc.last + l) else acc :+ l
    }
  }

  /** Every main source as (path under src/main, text), sorted by path. */
  def mainSources: Seq[(String, String)] = {
    val main = Paths.get("src", "main")
    assert(Files.isDirectory(main), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(main)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString -> Files.readString(p)).toSeq.sortBy(_._1)
    finally walk.close()
  }
}
