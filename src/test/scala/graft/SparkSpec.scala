package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = Engine.session("local[4]", "graft-test")
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

  /** The one segment layout ([[graft.operators.Segments]]): `segDir`
    * holds plain parquet files and no `<column>=<value>` directory,
    * every file is sorted by `sortCols`, and each value of the first
    * sort column lands in exactly one file. Returns the segment's files. */
  def assertOneLayout(segDir: String, sortCols: String*): Seq[java.io.File] = {
    val entries = new java.io.File(segDir).listFiles().toSeq
    val files = entries.filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && !entries.exists(f => f.isDirectory && f.getName.contains("=")),
      s"$segDir must hold plain parquet files and no partition directories")
    val keys = sortCols.map(org.apache.spark.sql.functions.col)
    val perFile = files.map { f =>
      val df = spark.read.parquet(f.getAbsolutePath).select(keys: _*)
      val rows = df.collect().toSeq
      assert(rows == df.orderBy(keys: _*).collect().toSeq,
        s"$f must be sorted by (${sortCols.mkString(", ")})")
      rows.map(_.get(0)).toSet
    }
    assert(perFile.map(_.size).sum == perFile.reduce(_ ++ _).size,
      s"every ${sortCols.head} must land in exactly one file of $segDir")
    files
  }

  /** Jobs `f` launches from this thread, counted by a listener. Listener
    * events arrive in order, so a marker job run after `f` drains them. */
  def jobsLaunched(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"spec-${System.nanoTime()}"
    val marker = "drain"
    val seen = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("graft.spec.tag") == tag).foreach { p =>
          if (p.getProperty("spark.job.description") == marker) drained.countDown()
          else seen.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      f
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      seen.get
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(tempDirs.poll()).takeWhile(_ != null)
      .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
}
