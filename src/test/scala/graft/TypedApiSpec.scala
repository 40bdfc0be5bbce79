package graft

import graft.plans.Counter
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Line(l_orderkey: Long, l_quantity: Double, l_returnflag: String)

/** Typed Dataset surface (SURVEY §1.4: case-class views where type safety
  * helps) + the streaming counter wired to the Counter snapshot via
  * foreachBatch — the full §2a#10 shape: delta stream → stateful fold →
  * serving snapshot. */
class TypedApiSpec extends SparkSpec {

  test("typed Dataset: case-class encoder, typed filter/groupByKey") {
    import spark.implicits._
    val ds = Tables(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .as[Line]
    val typedCounts = ds
      .filter(_.l_returnflag == "R")
      .groupByKey(_.l_orderkey % 10)
      .count()
      .collect().toMap
    val untyped = Tables(spark, sf, "lineitem")
      .filter($"l_returnflag" === "R")
      .groupBy(($"l_orderkey" % 10).as("k")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(typedCounts == untyped)
  }

  test("streaming counter feeds the Counter snapshot via foreachBatch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val path = tempDir("graft_cnt_stream") + "/c"
    val counter = new Counter(spark, path)
    val stream = MemoryStream[(String, Long)]
    val folded = StreamingOps.runningCounter(stream.toDS()).toDF("key", "value")
    val q = folded.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.filter($"key" === "plan-joined-count").collect()
          .foreach(r => counter.set(r.getLong(1)))
      }
      .start()
    try {
      stream.addData(Seq(("plan-joined-count", 1L), ("plan-joined-count", 1L)))
      q.processAllAvailable()
      assert(counter.get() == 2L)
      stream.addData(Seq(("plan-joined-count", -1L)))
      q.processAllAvailable()
      assert(counter.get() == 1L)
    } finally q.stop()
  }
}
