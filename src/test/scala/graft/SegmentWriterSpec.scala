package graft

import java.nio.file.Paths

import graft.SourceCheck.{chains, mainSources}
import org.scalatest.funsuite.AnyFunSuite

/** One segment writer: every persisted-store segment and tombstone set
  * is written by [[graft.operators.Segments.write]], so no main source
  * picks a layout of its own — no `DataFrameWriter.partitionBy`, no
  * `coalesce(1)` before a segment or tombstone write, and the Parquet
  * layout options live in one file. A source-level check, like
  * [[EngineProfileSpec]]'s single session builder. */
class SegmentWriterSpec extends AnyFunSuite {

  private val writerPartitionBy = """\.write\b.*\.partitionBy\(""".r
  private val coalescedStoreWrite =
    """\.coalesce\(1\).*\.write\b.*\.parquet\([^)]*\b(seg|del|tomb)""".r

  /** The chains of `text` that choose a segment layout by hand. */
  private def violations(text: String): Seq[String] =
    chains(text).filter(c =>
      writerPartitionBy.findFirstIn(c).isDefined || coalescedStoreWrite.findFirstIn(c).isDefined)

  test("the check sees hand-picked layouts and ignores window partitioning") {
    val bad = Seq(
      """rows.repartition(n, col("cell"))
        |  .write.mode("overwrite").option("compression", "zstd")
        |  .partitionBy("cell").parquet(s"$dir/$seg")""".stripMargin,
      """present.select(col("vec_id")).distinct()
        |  .coalesce(1).write.mode("overwrite").parquet(s"$dir/$tomb")""".stripMargin,
      """ids.distinct().coalesce(1).write.parquet(s"$dir/$del")""")
    bad.foreach(src => assert(violations(src).size == 1, src))
    val fine = Seq(
      """val w = Window.partitionBy(col("qid"))
        |  .orderBy(col("cos").desc, col("nid"))""".stripMargin,
      """Seq(v).toDF("value").coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)""",
      """// .write.partitionBy("cell") in a comment""")
    fine.foreach(src => assert(violations(src).isEmpty, src))
  }

  test("no main source writes with partitionBy or a coalesce(1) segment, except the partitioned-output queries") {
    val found = mainSources.map { case (f, text) => f -> violations(text).size }.filter(_._2 > 0)
    // a4_partitioned_write and m5_dynamic_overwrite are declared queries
    // whose subject IS Hive-style partitioned output (a materialized
    // view's layout and its dynamic partition overwrite), not a store
    assert(found.toMap == Map(
      Paths.get("scala", "graft", "plans", "PlanPipeline.scala").toString -> 2,
      Paths.get("scala", "graft", "queries", "CoreQueries.scala").toString -> 1), found)
  }

  test("the Parquet segment layout options appear in the one writer only") {
    val layout = """"compression"|parquet\.block\.size|parquet\.bloom\.filter""".r
    val writers = mainSources.collect {
      case (f, text) if layout.findFirstIn(text).isDefined => f
    }
    assert(writers == Seq(Paths.get("scala", "graft", "operators", "Segments.scala").toString))
  }
}
