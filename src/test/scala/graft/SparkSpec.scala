package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession =
    Engine.session("local[4]", "graft-test", shufflePartitions = Some(4))
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh local temp directory, deleted recursively when the test
    * that made it ends (store specs write hundreds of partition files
    * each, so suites must not leave them behind). */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p.toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(tempDirs.poll()).takeWhile(_ != null)
      .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
}
