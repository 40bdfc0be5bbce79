package graft

import graft.operators.QuantileRollup
import org.apache.spark.sql.functions._

class QuantileRollupSpec extends SparkSpec {

  private lazy val events = Tables(spark, sf, "events")
    .withColumn("day", to_date(col("ts")))

  private def ests(df: org.apache.spark.sql.DataFrame): Map[(String, Double), Double] =
    df.collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap

  private val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 1.0)

  test("rollup from per-day parts is BIT-identical to sketching the whole (merge law)") {
    val fine = QuantileRollup.buildSketchTable(events, Seq("event_type", "day"), "value")
    val wholeTable = QuantileRollup.buildSketchTable(events, Seq("event_type"), "value")
    // stronger than the HLL tier's estimate equality: bucket counts are
    // exact integers, so the per-day table merged down to per-type must
    // equal the directly-built per-type table row for row
    val mergedDown = fine.groupBy(col("event_type"), col("sgn"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    assert(mergedDown.collect().map(_.toSeq).toSet ==
      wholeTable.collect().map(_.toSeq).toSet)
    // and therefore every quantile estimate agrees exactly
    assert(ests(QuantileRollup.quantiles(fine, Seq("event_type"), qs)) ==
      ests(QuantileRollup.quantiles(wholeTable, Seq("event_type"), qs)))
  }

  test("every estimate is within the deterministic α relative bound of the exact rank-value") {
    val fine = QuantileRollup.buildSketchTable(events, Seq("event_type", "day"), "value")
    val approx = ests(QuantileRollup.quantiles(fine, Seq("event_type"), qs))
    // exact lower discrete quantile (rank = max(1, ceil(q·n))) per type
    val byType = events.select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sorted }
    val alpha = (QuantileRollup.DefaultGamma - 1.0) / (QuantileRollup.DefaultGamma + 1.0)
    for ((k, sortedVals) <- byType; q <- qs) {
      val exact = sortedVals(
        math.max(1L, math.ceil(q * sortedVals.length).toLong).toInt - 1)
      val e = approx((k, q))
      // α ≈ 0.99% is a WORST-CASE guarantee (DDSketch bucket geometry),
      // not a confidence bound — any excess is a bug, not bad luck
      assert(math.abs(e / exact - 1.0) <= alpha + 1e-9,
        s"$k q=$q: approx $e vs exact $exact (bound $alpha)")
    }
  }

  test("bucket-cap collapse: memory bounded, counts preserved, high quantiles bit-identical, low ones only round UP") {
    val cap = 24
    val full = QuantileRollup.buildSketchTable(events, Seq("event_type"), "value")
    val collapsed = QuantileRollup.collapse(full, Seq("event_type"), cap)
    // the point of the cap: per-cell bucket count bounded under any
    // value range — and the fixture must actually exceed it pre-collapse
    val per = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"), sum(col("cnt")).as("tot"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (pf, pc) = (per(full), per(collapsed))
    assert(pf.exists(_._2._1 > cap), "fixture must exceed the cap somewhere")
    assert(pc.values.forall(_._1 <= cap), s"collapse must bound buckets: $pc")
    // ranks never shift: total counts preserved per cell
    assert(pf.view.mapValues(_._2).toMap == pc.view.mapValues(_._2).toMap)
    // the surviving guarantee: every quantile above the collapsed mass
    // reads back BIT-identical (collapse never touches retained
    // buckets); anything inside the collapsed mass only rounds UP to
    // the boundary bucket (one-sided widening)
    val f = ests(QuantileRollup.quantiles(full, Seq("event_type"), qs))
    val c = ests(QuantileRollup.quantiles(collapsed, Seq("event_type"), qs))
    // collapsed mass fraction per cell = count in merged-away buckets
    val collapsedMass = full.collect()
      .map(r => (r.getString(0), (r.getInt(1), r.getInt(2)), r.getLong(3)))
      .groupBy(_._1).map { case (k, rows) =>
        // descending value order — the same (sgn, sgn·bucket) ordering
        val sorted = rows.sortBy { case (_, (s, b), _) => (-s, -s.toLong * b) }
        val total = rows.map(_._3).sum.toDouble
        k -> sorted.drop(cap - 1).map(_._3).sum / total
      }
    var exactChecked = 0
    for (((k, q), cv) <- c) {
      val fv = f((k, q))
      // rank = ceil(q·n) counts from the BOTTOM, where the collapsed
      // victims sit: q strictly above the collapsed fraction lands in a
      // retained bucket whose cumulative position collapse cannot move
      if (q - collapsedMass(k) > 1e-12) {
        assert(cv == fv, s"$k q=$q above collapsed mass: $cv != $fv")
        exactChecked += 1
      } else assert(cv >= fv - 1e-12,
        s"$k q=$q inside collapsed mass must only round up: $cv < $fv")
    }
    assert(exactChecked > 0, "fixture must exercise the exact-preservation branch")
  }

  test("merge fold order never changes the table; zero and negative values bucket correctly") {
    import spark.implicits._
    val dims = Seq("event_type", "day")
    val batches = (0 to 2).map(i => events.filter(pmod($"event_id", lit(3)) === i))
    def fold(order: Seq[Int]) = order.tail.foldLeft(
      QuantileRollup.buildSketchTable(batches(order.head), dims, "value")) {
      (st, i) => QuantileRollup.merge(
        st, QuantileRollup.buildSketchTable(batches(i), dims, "value"), dims)
    }
    val whole = QuantileRollup.buildSketchTable(events, dims, "value")
      .collect().map(_.toSeq).toSet
    assert(fold(Seq(0, 1, 2)).collect().map(_.toSeq).toSet == whole)
    assert(fold(Seq(2, 0, 1)).collect().map(_.toSeq).toSet == whole)

    // sign handling: negatives sort before zero before positives, and
    // estimates carry the sign; exact zero estimates as exactly 0
    val mixed = Seq(("a", -100.0), ("a", -1.0), ("a", 0.0), ("a", 1.0), ("a", 100.0))
      .toDF("g", "v")
    val sk = QuantileRollup.buildSketchTable(mixed, Seq("g"), "v")
    val got = QuantileRollup.quantiles(sk, Seq("g"), Seq(0.2, 0.4, 0.6, 0.8, 1.0))
      .orderBy(col("q")).collect().map(r => r.getDouble(1) -> r.getDouble(2))
    assert(got.map(_._1).sameElements(Array(0.2, 0.4, 0.6, 0.8, 1.0)))
    val vals = got.map(_._2)
    assert(math.abs(vals(0) / -100.0 - 1.0) < 0.011 && vals(0) < 0)
    assert(math.abs(vals(1) / -1.0 - 1.0) < 0.011 && vals(1) < 0)
    assert(vals(2) == 0.0)
    assert(math.abs(vals(3) / 1.0 - 1.0) < 0.011)
    assert(math.abs(vals(4) / 100.0 - 1.0) < 0.011)
  }

  test("persisted bucket table answers the same rollups after a parquet round-trip") {
    val dir = tempDir("graft_qsketch_")
    try {
      val fine = QuantileRollup.buildSketchTable(events, Seq("event_type", "day"), "value")
      fine.write.mode("overwrite").parquet(dir)
      val persisted = spark.read.parquet(dir)
      assert(ests(QuantileRollup.quantiles(persisted, Seq("event_type"), qs)) ==
        ests(QuantileRollup.quantiles(fine, Seq("event_type"), qs)))
      // a different grain from the same persisted table — the point of
      // materializing sketches instead of answers; global rollup too
      assert(QuantileRollup.quantiles(persisted, Seq("day"), Seq(0.5)).count() ==
        events.select(col("day")).distinct().count())
      val global = QuantileRollup.quantiles(persisted, Seq.empty, Seq(0.5))
        .collect()
      assert(global.length == 1)
      val exactMedian = {
        val v = events.select(col("value")).collect().map(_.getDouble(0)).sorted
        v(math.max(1L, math.ceil(0.5 * v.length).toLong).toInt - 1)
      }
      assert(math.abs(global(0).getDouble(1) / exactMedian - 1.0) < 0.011)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
