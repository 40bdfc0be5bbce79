package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.internal.SQLConf

/** One engine profile: every session in the repository is built by
  * [[Engine.session]], and the shared test session carries that profile,
  * so the oracle dump, the benches and the suites run one configuration. */
class EngineProfileSpec extends SparkSpec {

  test("Engine.scala is the only source file that builds a SparkSession") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val builder = """SparkSession\s*\.\s*builder""".r
    val walk = Files.walk(src)
    val builders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .map(p => src.relativize(p).toString).toSeq.sorted
      finally walk.close()
    assert(builders == Seq(Paths.get("main", "scala", "graft", "Engine.scala").toString))
  }

  test("the shared test session resolves the profile and parallelism-sized shuffles") {
    val conf = spark.conf
    assert(conf.get(SQLConf.SHUFFLE_PARTITIONS.key) ==
      spark.sparkContext.defaultParallelism.toString)
    Engine.profile.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    // the read paths the oracle must share with the benches
    val pinned = Map(
      "spark.sql.parquet.pushdown.inFilterThreshold" -> "600",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.sql.GraftSqlExtensions")
    pinned.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(JavaUtils.byteStringAsBytes(conf.get(SQLConf.FILES_MAX_PARTITION_BYTES.key)) ==
      SQLConf.FILES_MAX_PARTITION_BYTES.defaultValue.get)
    assert(conf.getOption(SQLConf.FILES_MIN_PARTITION_NUM.key).isEmpty)
  }
}
