package graft

import graft.operators.SketchRollup
import org.apache.spark.sql.functions._

class SketchRollupSpec extends SparkSpec {

  private lazy val events = Tables(spark, sf, "events")
    .withColumn("day", to_date(col("ts")))

  private def estimates(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("rollup from per-day parts equals sketching the whole (merge law)") {
    val fine = SketchRollup.buildSketchTable(events, Seq("event_type", "day"), "user_id")
    val merged = estimates(SketchRollup.rollup(fine, Seq("event_type")))
    val whole = estimates(SketchRollup.rollup(
      SketchRollup.buildSketchTable(events, Seq("event_type"), "user_id"),
      Seq("event_type")))
    // HLL registers are stream-order-independent maxima, so the union
    // of the per-day sketches carries the same registers as the
    // single-pass sketch — the estimates must agree exactly
    assert(merged === whole, s"merged=$merged whole=$whole")
  }

  test("estimates are within HLL accuracy of exact distinct counts") {
    val fine = SketchRollup.buildSketchTable(events, Seq("event_type", "day"), "user_id")
    val approx = estimates(SketchRollup.rollup(fine, Seq("event_type")))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val e = approx(k)
      // default lgConfigK = 12 → relative error ~1.6%/sqrt-bound; 5%
      // here means a broken sketch, not bad luck
      assert(math.abs(e - n) <= math.max(1L, (0.05 * n).toLong),
        s"$k: approx $e vs exact $n")
    }
  }

  test("incremental merge fold equals building over the union (s12's maintenance law)") {
    import spark.implicits._
    val dims = Seq("event_type", "day")
    // fold three disjoint ingest slices through merge()...
    val batches = (0 to 2).map(i => events.filter(pmod($"event_id", lit(3)) === i))
    val folded = batches.tail.foldLeft(
      SketchRollup.buildSketchTable(batches.head, dims, "user_id")) {
      (st, b) => SketchRollup.merge(
        st, SketchRollup.buildSketchTable(b, dims, "user_id"), dims)
    }
    // ...and in a DIFFERENT batch order — register-wise max is
    // commutative, so both folds and the single pass must agree exactly
    val reordered = Seq(batches(2), batches(0)).foldLeft(
      SketchRollup.buildSketchTable(batches(1), dims, "user_id")) {
      (st, b) => SketchRollup.merge(
        st, SketchRollup.buildSketchTable(b, dims, "user_id"), dims)
    }
    val whole = estimates(SketchRollup.rollup(
      SketchRollup.buildSketchTable(events, dims, "user_id"), Seq("event_type")))
    assert(estimates(SketchRollup.rollup(folded, Seq("event_type"))) === whole)
    assert(estimates(SketchRollup.rollup(reordered, Seq("event_type"))) === whole)
    // and the folded table keeps the fine grain intact (one row per cell)
    assert(folded.groupBy(dims.map(col): _*).count()
      .filter($"count" > 1).isEmpty)
  }

  test("streaming sketch maintenance: foreachBatch fold equals the batch table (s12's streaming shape)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dims = Seq("event_type", "day")
    val stream = MemoryStream[(String, String, Long)]
    var state: org.apache.spark.sql.DataFrame = null
    val q = stream.toDF().toDF("event_type", "day_s", "user_id")
      .withColumn("day", to_date($"day_s")).drop("day_s")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bs = SketchRollup.buildSketchTable(batch, dims, "user_id")
        state = (if (state == null) bs
                 else SketchRollup.merge(state, bs, dims)).localCheckpoint()
      }.start()
    val rows = Seq(
      Seq(("click", "2024-01-01", 1L), ("click", "2024-01-01", 2L), ("view", "2024-01-02", 3L)),
      Seq(("click", "2024-01-01", 2L), ("click", "2024-01-02", 4L)),
      Seq(("view", "2024-01-02", 3L), ("view", "2024-01-02", 5L)))
    try rows.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    val got = estimates(SketchRollup.rollup(state, Seq("event_type")))
    val whole = estimates(SketchRollup.rollup(
      SketchRollup.buildSketchTable(
        rows.flatten.toDF("event_type", "day_s", "user_id")
          .withColumn("day", to_date($"day_s")).drop("day_s"),
        dims, "user_id"),
      Seq("event_type")))
    assert(got === whole, s"stream=$got batch=$whole")
    assert(got("click") === 3L && got("view") === 2L) // tiny cardinalities: HLL exact mode
  }

  test("persisted sketch table answers the same rollup after a parquet round-trip") {
    val dir = tempDir("graft_sketch_")
    try {
      val fine = SketchRollup.buildSketchTable(events, Seq("event_type", "day"), "user_id")
      fine.write.mode("overwrite").parquet(dir)
      val live = estimates(SketchRollup.rollup(fine, Seq("event_type")))
      val persisted = estimates(SketchRollup.rollup(spark.read.parquet(dir), Seq("event_type")))
      assert(persisted === live)
      // and a DIFFERENT grain from the same persisted table — the point
      // of materializing sketches instead of answers
      val perDay = SketchRollup.rollup(spark.read.parquet(dir), Seq("day"))
      assert(perDay.count() === events.select(col("day")).distinct().count())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
