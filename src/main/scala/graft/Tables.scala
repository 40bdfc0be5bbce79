package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry over the driver-generated fixture tables (TESTDATA.md).
  *
  * Scale note (100 TB): every table is read through `spark.read.parquet`,
  * so Catalyst/DataSource-V2 predicate pushdown, column pruning and
  * partition pruning apply unchanged when the path points at a large
  * partitioned dataset instead of a single local file. Nothing here
  * assumes single-file or single-partition input.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table as a DataFrame.
    *
    * `events.ts` has shipped in two physical forms across fixture
    * generations: Parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]), so it is read as a raw
    * nanosecond Long (the profile's legacy conf, see [[Engine]]) and
    * truncated to microseconds — and plain TIMESTAMP(MICROS), which
    * arrives as TIMESTAMP_NTZ. Both
    * normalize to the session-zone TimestampType every downstream query
    * and oracle was written against (session TZ is pinned UTC, so the
    * NTZ→TZ cast is value-preserving and DuckDB comparisons stay
    * exact).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
        case _ =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** Register every fixture table as a temp view (for spark.sql queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
