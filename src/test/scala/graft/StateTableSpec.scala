package graft

import org.apache.spark.sql.functions._

import graft.operators.StateTable

/** Laws of the manifest-committed maintained table — the commit
  * primitive behind the s12/s13 streaming sinks. */
class StateTableSpec extends SparkSpec {

  private def rows(n: Int, tag: String) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, tag)).toDF("k", "v")
  }
  private def got(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
  private def want(n: Int, tag: String): Set[(Long, String)] =
    (1 to n).map(i => (i.toLong, tag)).toSet

  test("publish/read round-trip; versions are immutable snapshots") {
    val dir = tempDir("graft_st")
    assert(!StateTable.exists(dir))
    assert(StateTable.publish(rows(3, "a"), dir) == 1L)
    assert(StateTable.publish(rows(5, "b"), dir) == 2L)
    assert(got(StateTable.read(spark, dir)) == want(5, "b"))
    // snapshots: each version reads back exactly as committed
    assert(got(StateTable.readAt(spark, dir, 1L)) == want(3, "a"))
    assert(got(StateTable.readAt(spark, dir, 2L)) == want(5, "b"))
  }

  test("the batch stamp rides the swap: lastBatchId reflects exactly the committed publishes") {
    val dir = tempDir("graft_st_bid")
    assert(StateTable.lastBatchId(dir).isEmpty)
    StateTable.publish(rows(1, "x"), dir, Some(0L))
    StateTable.publish(rows(2, "x"), dir, Some(1L))
    assert(StateTable.lastBatchId(dir).contains(1L))
    // the exactly-once predicate: a redelivered batch (id ≤ stamp) skips
    assert(StateTable.lastBatchId(dir).exists(_ >= 1L))
    assert(!StateTable.lastBatchId(dir).exists(_ >= 2L))
    // the stamp means "highest batch APPLIED", so an unstamped publish
    // (fix-up, compaction) CARRIES it: batches 0-1 are still folded
    // into the state, and clearing the stamp would let a redelivery of
    // batch 1 through the exists(_ >= bid) guard — double-applying a
    // non-idempotent fold
    StateTable.publish(rows(3, "x"), dir)
    assert(StateTable.lastBatchId(dir).contains(1L),
      "unstamped publish must carry the highest-applied stamp forward")
    assert(StateTable.lastBatchId(dir).exists(_ >= 1L),
      "batch 1 redelivered after the fix-up must still skip")
    // a LOWER stamped batch id never regresses the stamp either
    StateTable.publish(rows(4, "x"), dir, Some(0L))
    assert(StateTable.lastBatchId(dir).contains(1L))
  }

  test("publish claims exactly one version: a stale expectedVersion (or a lost race) conflicts instead of dropping state") {
    val dir = tempDir("graft_st_cas")
    assert(StateTable.publish(rows(2, "a"), dir, expectedVersion = Some(0L)) == 1L)
    // writer computed its fold against version 0 but version 1 landed
    // meanwhile: the publish must refuse (whole-state rewrites cannot
    // be merged — the caller re-reads and re-folds)
    intercept[graft.operators.ManifestCommit.CommitConflict] {
      StateTable.publish(rows(9, "stale"), dir, expectedVersion = Some(0L))
    }
    assert(got(StateTable.read(spark, dir)) == want(2, "a"),
      "conflicting publish must not replace committed state")
    // re-read + re-fold at the current version succeeds
    assert(StateTable.publish(rows(3, "b"), dir,
      expectedVersion = Some(StateTable.readManifest(dir).version)) == 2L)
    assert(got(StateTable.read(spark, dir)) == want(3, "b"))
  }

  test("mid-publish reader keeps its generation; computing the next state from the current one needs no fence") {
    val dir = tempDir("graft_st_gen")
    StateTable.publish(rows(4, "g1"), dir)
    val reader = StateTable.read(spark, dir) // pins gen_1
    // the merge-loop shape: next state DERIVED from the current state,
    // published while `reader` is still open — legal because the write
    // targets a fresh generation directory, never the one being read
    val next = StateTable.read(spark, dir)
      .withColumn("v", lit("g2")).filter(col("k") <= 2)
    StateTable.publish(next, dir)
    assert(got(reader) == want(4, "g1"), "open reader must keep its generation")
    assert(got(StateTable.read(spark, dir)) == Set((1L, "g2"), (2L, "g2")))
  }

  test("retention vacuum: retained snapshots survive, older generations and manifests drop") {
    val dir = tempDir("graft_st_vac")
    StateTable.publish(rows(1, "v1"), dir)
    StateTable.publish(rows(2, "v2"), dir)
    StateTable.publish(rows(3, "v3"), dir)
    StateTable.vacuum(dir, retainVersions = 1)
    assert(got(StateTable.readAt(spark, dir, 2L)) == want(2, "v2"))
    assert(got(StateTable.read(spark, dir)) == want(3, "v3"))
    intercept[java.io.IOException] { StateTable.readManifestAt(dir, 1L) }
    StateTable.vacuum(dir)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left == Set("MANIFEST.v3", StateTable.readManifest(dir).gen),
      s"unexpected survivors: $left")
    assert(got(StateTable.read(spark, dir)) == want(3, "v3"))
  }

  test("vacuum age guard: an unreferenced young directory (an in-flight publish) survives the default vacuum") {
    val dir = tempDir("graft_st_age")
    StateTable.publish(rows(2, "v1"), dir)
    // simulate a concurrent writer's generation written AHEAD of its
    // commit: a parquet directory no manifest references yet
    rows(5, "inflight").write.parquet(s"$dir/gen_2_inflight")
    StateTable.vacuum(dir) // default minAge — must NOT eat the in-flight dir
    assert(new java.io.File(s"$dir/gen_2_inflight").exists(),
      "vacuum reclaimed a young unreferenced directory (in-flight writer data)")
    // past the age guard (forced to 0) the orphan is reclaimable garbage
    StateTable.vacuum(dir, minAgeMs = 0L)
    assert(!new java.io.File(s"$dir/gen_2_inflight").exists(),
      "aged-out orphan must be reclaimed")
    assert(got(StateTable.read(spark, dir)) == want(2, "v1"))
  }
}
