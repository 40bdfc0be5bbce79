package graft

import java.net.URI

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import graft.operators.{AnnStore, DedupIndex, ManifestCommit, Similarity, StateTable}

/** A LocalFileSystem under a NON-DEFAULT scheme — the "non-default
  * Hadoop FS config" the commit layer must run against: nothing in
  * graft may assume `java.nio` local paths or even the `file` scheme;
  * everything must flow through the FileSystem/FileContext plugin
  * surface that hdfs:// and s3a:// enter by. */
class GraftTestRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
}
class GraftTestFs extends org.apache.hadoop.fs.LocalFileSystem(new GraftTestRawFs()) {
  override def getScheme: String = "graftfs"
}
/** FileContext-side twin (rename claims/swaps go through this). */
class GraftTestAbstractFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new GraftTestFs(), conf, "graftfs", false)

/** A TRANSLATING local-backed wrapper (chroot-style): FS operations land
  * under a shifted OS prefix while `toUri.getPath` still names the
  * unshifted path — the scheme shape the hard-link owner must REFUSE
  * (its link(2) would claim at the wrong OS location while reads go
  * through the FS's mapping; round-14 ADVICE). */
object ChrootFsRoot {
  lazy val prefix: String =
    java.nio.file.Files.createTempDirectory("graft_chroot").toString
}
class ChrootRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("chrootfs:///")
  override def pathToFile(path: org.apache.hadoop.fs.Path): java.io.File =
    new java.io.File(ChrootFsRoot.prefix + super.pathToFile(path).getPath)
}
class ChrootFs extends org.apache.hadoop.fs.LocalFileSystem(new ChrootRawFs()) {
  override def getScheme: String = "chrootfs"
}

/** Laws of the shared Hadoop-FS manifest-commit module, plus the
  * store-level concurrency behaviors built on it. */
class ManifestCommitSpec extends SparkSpec {

  private def tmp(tag: String): String =
    tempDir(s"graft_mc_$tag")

  private lazy val docs = Tables(spark, sf, "documents")

  test("version claims are exclusive; the loser of an interleaved race merges and lands at the next version") {
    val dir = "file:" + tmp("cas")
    assert(!ManifestCommit.exists(dir))
    assert(ManifestCommit.tryCommit(dir, 1L, Seq("1", "base")))
    assert(!ManifestCommit.tryCommit(dir, 1L, Seq("1", "usurper")),
      "a committed version must be unclaimable")
    assert(ManifestCommit.readCurrent(dir).get.toSeq == Seq("1", "base"))

    // two writers interleaved: both read version 1. Writer A commits
    // first; writer B (latched inside its make callback, so the
    // interleaving is deterministic) loses the claim for version 2,
    // re-reads A's committed manifest, and lands at 3 with BOTH deltas.
    val aCommitted = new java.util.concurrent.CountDownLatch(1)
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val makeCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val fB = Future {
      ManifestCommit.commitLoop(dir) { (v, base) =>
        makeCalls.incrementAndGet()
        bStarted.countDown()
        aCommitted.await()
        val items = base.get(1).split(",").map(_.trim).filter(_.nonEmpty)
        Seq(v.toString, (items :+ "segB").mkString(","))
      }
    }
    bStarted.await()
    assert(ManifestCommit.tryCommit(dir, 2L, Seq("2", "base,segA")))
    aCommitted.countDown()
    val vB = Await.result(fB, 60.seconds)
    assert(vB == 3L, s"loser must land at the next version, got $vB")
    assert(makeCalls.get() == 2, "loser must have retried exactly once")
    assert(ManifestCommit.readCurrent(dir).get.toSeq == Seq("3", "base,segA,segB"),
      "both writers' deltas must survive")
    // versioned history is immutable and complete
    assert(ManifestCommit.readVersioned(dir, 2L).toSeq == Seq("2", "base,segA"))
  }

  test("a claimed version is current at once") {
    val dir = "file:" + tmp("lag")
    ManifestCommit.tryCommit(dir, 1L, Seq("1", "a"))
    // another process claims v2 and exits: its complete MANIFEST.v2 is
    // all it leaves, and it is the current state with no further step
    val hc = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST.v2")
    val out = p.getFileSystem(hc).create(p, false)
    out.write("2\na,ghost\n".getBytes("UTF-8")); out.close()
    assert(ManifestCommit.readCurrent(dir).get.toSeq == Seq("2", "a,ghost"),
      "a reader must resolve the newest claimed version")
    assert(ManifestCommit.currentVersion(dir) == 2L)
    // a commitLoop builds on v2 and commits v3 on top of it
    val v = ManifestCommit.commitLoop(dir) { (vv, base) =>
      Seq(vv.toString, base.get(1) + ",mine")
    }
    assert(v == 3L)
    assert(ManifestCommit.readCurrent(dir).get.toSeq == Seq("3", "a,ghost,mine"),
      "the crashed writer's committed claim must be honored, not overwritten")
  }

  test("two interleaved DedupIndex appends both land; stamps ride as highest-applied") {
    import spark.implicits._
    val dir = "file:" + tmp("dix2w")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir,
      batchId = Some(0L))
    val v0 = DedupIndex.readManifest(dir).version
    // two appends racing from two threads (real concurrent Spark jobs);
    // the optimistic commit loop serializes them in either order
    val fa = Future(DedupIndex.append(
      docs.filter($"doc_id" % 4 === 1), "doc_id", "text", dir, Some(1L)))
    val fb = Future(DedupIndex.append(
      docs.filter($"doc_id" % 4 === 2), "doc_id", "text", dir, Some(2L)))
    Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    val m = DedupIndex.readManifest(dir)
    assert(m.version == v0 + 2 && m.segments.size == 3,
      s"both appended segments must be live, got $m")
    val ids = DedupIndex.readBands(spark, dir)
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids.exists(_ % 4 == 1) && ids.exists(_ % 4 == 2),
      "band rows of both appends must be readable")
    assert(m.batchId.contains(2L), "stamp = max applied batch id")
    // an interleaved DELETE carries the stamp (the ADVICE fix): a
    // redelivery of batch 2 after the weekly delete must still skip
    DedupIndex.delete(docs.filter($"doc_id" % 8 === 1).select($"doc_id"),
      "doc_id", dir)
    assert(DedupIndex.lastBatchId(dir).contains(2L),
      "delete must not erase the exactly-once ingest stamp")
    DedupIndex.compact(spark, dir)
    assert(DedupIndex.lastBatchId(dir).contains(2L),
      "compact must not erase the exactly-once ingest stamp")
  }

  test("two interleaved ANN appends both land; centroid counts stay posting-exact (commitWithCounts)") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val dir = "file:" + tmp("ann2w")
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 4 === 0), dir).count()
    val fa = Future(Similarity.appendToIvfIndex(
      emb.filter($"vec_id" % 4 === 1), dir).count())
    val fb = Future(Similarity.appendToIvfIndex(
      emb.filter($"vec_id" % 4 === 2), dir).count())
    Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    val man = AnnStore.read(dir)
    assert(man.segments.size == 3, s"both appended segments must be live: $man")
    val posted = AnnStore.postings(spark, dir).count()
    assert(posted == emb.filter($"vec_id" % 4 =!= 3).count())
    // the integrity invariant the l29/l32/l62 gates check: whatever
    // serialization the race took, the count-refreshed centroid
    // generation must sum to the live posting view
    val centSum = AnnStore.centroids(spark, dir)
      .agg(sum($"n_vectors")).collect()(0).getLong(0)
    assert(centSum == posted, s"centroid counts $centSum != postings $posted")
  }

  test("commitWithCounts retry: a deterministic lost claim re-derives the centroid generation against the new base") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val dir = "file:" + tmp("annlost")
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 2 === 0), dir).count()
    val man = AnnStore.read(dir)
    // pose as a racing writer: claim the NEXT version with a manifest
    // that re-commits the current state (valid, just version-bumped) —
    // the append's first commit attempt must lose and retry on top
    assert(ManifestCommit.tryPublish(dir, man.copy(version = man.version + 1).record))
    Similarity.appendToIvfIndex(emb.filter($"vec_id" % 2 =!= 0), dir).count()
    val after = AnnStore.read(dir)
    assert(after.version == man.version + 2,
      s"append must land after the usurped version, got $after")
    val posted = AnnStore.postings(spark, dir).count()
    assert(posted == emb.count())
    val centSum = AnnStore.centroids(spark, dir)
      .agg(sum($"n_vectors")).collect()(0).getLong(0)
    assert(centSum == posted,
      "retried commit must re-derive counts against the winner's base")
  }

  test("vacuum age guard: an in-flight writer's unpublished segment survives; aged orphans and published garbage do not") {
    import spark.implicits._
    val dir = "file:" + tmp("dixvac")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir)
    DedupIndex.compact(spark, dir) // makes the build segment published garbage
    // a concurrent append's segment, written ahead of its commit:
    // referenced by NO manifest, younger than the guard
    docs.limit(5).select($"doc_id", $"text")
      .write.parquet(s"$dir/seg_99_inflight")
    val before = DedupIndex.readBands(spark, dir).count()
    DedupIndex.vacuum(dir) // default age guard
    assert(new java.io.File(dir.stripPrefix("file:") + "/seg_99_inflight").exists(),
      "vacuum must not reclaim a young unreferenced directory (in-flight append)")
    assert(DedupIndex.readBands(spark, dir).count() == before)
    // the pre-compact segment WAS published (an old manifest references
    // it) — reclaimed immediately regardless of age
    val m = DedupIndex.readManifest(dir)
    val left = new java.io.File(dir.stripPrefix("file:"))
      .listFiles().map(_.getName).toSet
    assert(left == Set(s"MANIFEST.v${m.version}", m.meta,
      "seg_99_inflight") ++ m.segments, s"unexpected survivors: $left")
    // past the age guard the orphan is reclaimable
    DedupIndex.vacuum(dir, minAgeMs = 0L)
    assert(!new java.io.File(dir.stripPrefix("file:") + "/seg_99_inflight").exists())
  }

  test("file:// URI round-trip: all three stores commit, read, snapshot and vacuum through the Hadoop API") {
    import spark.implicits._
    // StateTable
    val st = "file:" + tmp("st")
    StateTable.publish((1 to 3).map(i => (i, "a")).toDF("k", "v"), st, Some(0L))
    StateTable.publish((1 to 5).map(i => (i, "b")).toDF("k", "v"), st, Some(1L))
    assert(StateTable.read(spark, st).count() == 5)
    assert(StateTable.readAt(spark, st, 1L).count() == 3)
    assert(StateTable.lastBatchId(st).contains(1L))
    StateTable.vacuum(st)
    assert(StateTable.read(spark, st).count() == 5)
    // DedupIndex (build→append→query→snapshot→compact→vacuum)
    val dix = "file:" + tmp("dix")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dix)
    val v1 = DedupIndex.readManifest(dix).version
    DedupIndex.append(docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text", dix)
    assert(DedupIndex.readBandsAt(spark, dix, v1)
      .select($"doc_id").distinct().collect().map(_.getLong(0))
      .forall(_ % 2 == 0), "snapshot read must see the pre-append corpus")
    val probe = docs.limit(20)
    val q = DedupIndex.query(probe, "doc_id", "text", dix).count()
    DedupIndex.compact(spark, dix)
    DedupIndex.vacuum(dix, minAgeMs = 0L)
    assert(DedupIndex.query(probe, "doc_id", "text", dix).count() == q)
    // AnnStore (IVF build → postings → append → delete → compact → vacuum)
    val emb = Tables(spark, sf, "embeddings")
    val ann = "file:" + tmp("ann")
    Similarity.buildIvfIndex(
      emb.filter($"vec_id" % 2 === 0).select($"vec_id", $"embedding"), ann).count()
    val n0 = Similarity.indexPostings(spark, ann).count()
    Similarity.appendToIvfIndex(
      emb.filter($"vec_id" % 2 =!= 0).select($"vec_id", $"embedding"), ann).count()
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 10 === 0).select($"vec_id"), ann).count()
    val live = Similarity.indexPostings(spark, ann).count()
    assert(live == emb.count() - emb.filter($"vec_id" % 10 === 0).count())
    assert(n0 > 0 && live > 0)
    Similarity.compactIvfIndex(spark, ann)
    AnnStore.vacuum(ann, minAgeMs = 0L)
    assert(Similarity.indexPostings(spark, ann).count() == live)
  }

  test("claim owners: local-backed schemes resolve to the atomic hard-link owner, never the TOCTOU rename") {
    // RawLocalFileSystem.rename pre-checks existence (check-then-act) —
    // the round-13 lost-visible-update let two racing writers both "own"
    // a version. The claim path must use link(2)'s kernel-atomic EEXIST
    // on every local-backed scheme, including custom wrappers like the
    // graftfs spec scheme; a silent fallback to plain rename would
    // reintroduce the race invisibly.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl",
      classOf[GraftTestAbstractFs].getName)
    assert(ManifestCommit.ownerFor("file:" + tmp("own")).name == "hard-link")
    assert(ManifestCommit.ownerFor("graftfs:" + tmp("own2")).name == "hard-link")
  }

  test("registerOwner: a scheme's registered claim owner handles EVERY claim (the conditional-PUT seam is real)") {
    // the object-store path: a store without atomic no-overwrite rename
    // registers its own put-if-absent (a conditional PUT). Pin that a
    // registered owner takes precedence over the built-in resolution
    // AND that every claim of a full store lifecycle routes through it
    // — zero silent fallbacks to the rename path.
    val claims = new java.util.concurrent.atomic.AtomicInteger(0)
    val countingOwner = new ManifestCommit.CommitOwner {
      val name = "test-conditional-put"
      def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
          base: org.apache.hadoop.fs.Path,
          tmp: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = {
        claims.incrementAndGet()
        // emulate a store's conditional PUT with the kernel primitive
        ManifestCommit.LinkOwner.putIfAbsent(f, base, tmp, dst)
      }
    }
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl",
      classOf[GraftTestAbstractFs].getName)
    ManifestCommit.registerOwner("graftfs", countingOwner)
    try {
      assert(ManifestCommit.ownerFor("graftfs:" + tmp("own3")).name ==
        "test-conditional-put", "registered owner must take precedence")
      import spark.implicits._
      val dir = "graftfs:" + tmp("ownlife")
      DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir)
      DedupIndex.append(docs.filter($"doc_id" % 4 === 1), "doc_id", "text", dir)
      DedupIndex.delete(docs.filter($"doc_id" % 8 === 0).select($"doc_id"),
        "doc_id", dir)
      DedupIndex.compact(spark, dir)
      val v = DedupIndex.readManifest(dir).version
      assert(v == 4L, s"four mutations = four committed versions, got $v")
      assert(claims.get() >= 4,
        s"every version claim must route through the registered owner " +
          s"(got ${claims.get()} for 4 commits)")
    } finally {
      // restore the default resolution for the other graftfs specs
      ManifestCommit.registerOwner("graftfs", ManifestCommit.LinkOwner)
    }
  }

  test("version claim is atomic under many racing writers: exactly one winner per version, winner's content on disk") {
    // 8 writers × 25 rounds hammering the SAME version number. The
    // pre-fix TOCTOU double-claim let writer A pass the existence check,
    // writer B claim, then A's rename overwrite B's manifest — two
    // "successes", one surviving content. With the hard-link claim the
    // kernel serializes: one true per version, and the committed file
    // must carry the winner's own payload.
    val dir = "file:" + tmp("hammer")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      (1 to 25).foreach { v =>
        val wins = (1 to 8).map { w =>
          Future(ManifestCommit.tryCommit(dir, v.toLong,
            Seq(v.toString, s"writer-$w")))(ec)
        }.map(Await.result(_, 60.seconds))
        assert(wins.count(identity) == 1,
          s"version $v: expected exactly one winner, got ${wins.count(identity)}")
        val winner = wins.indexOf(true) + 1
        assert(ManifestCommit.readVersioned(dir, v.toLong).toSeq ==
          Seq(v.toString, s"writer-$winner"),
          s"version $v must hold the winning writer's content")
      }
      assert(ManifestCommit.readCurrent(dir).get(0) == "25")
    } finally pool.shutdown()
  }

  test("a stray `MANIFEST` file is never read and vacuum reclaims it") {
    // the single-file pointer earlier versions kept beside the log: a
    // store they last wrote may still hold one, naming an older version
    val dir = "file:" + tmp("regress")
    val local = dir.stripPrefix("file:")
    ManifestCommit.tryCommit(dir, 1L, Seq("1", "old"))
    ManifestCommit.tryCommit(dir, 2L, Seq("2", "old,newer"))
    val w = new java.io.FileWriter(new java.io.File(local, "MANIFEST"))
    w.write("1\nold\n"); w.close()
    assert(ManifestCommit.readCurrent(dir).get.toSeq == Seq("2", "old,newer"),
      "the current state is the newest claimed version, whatever the stray file says")
    assert(ManifestCommit.currentVersion(dir) == 2L)
    val v = ManifestCommit.commitLoop(dir) { (vv, base) =>
      Seq(vv.toString, base.get(1) + ",mine")
    }
    assert(v == 3L, "the next commit must build on the committed v2")
    ManifestCommit.vacuum(dir, _ => Nil, retainVersions = 0, minAgeMs = 0L)
    assert(new java.io.File(local).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet == Set("MANIFEST.v3"),
      "vacuum reclaims the stray file and the versions outside the window")
    assert(ManifestCommit.readCurrent(dir).get.toSeq == Seq("3", "old,newer,mine"))
  }

  test("readers racing commits and vacuums: every read is complete and decodable, never goes back, never throws") {
    // each commit is followed by a vacuum that keeps only the newest
    // version, so a reader's listed version is often reclaimed before
    // it is read; the read must then list again, never fail
    val dir = "file:" + tmp("race")
    val store = "race"
    def commit(): ManifestCommit.Record =
      ManifestCommit.commitRecord(dir, store) { (v, _) =>
        ManifestCommit.Record(v, store, Map.empty, segments = (1L to v).map(i => s"s$i"),
          value = Some(v))
      }
    commit()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (1 to 2).map { _ =>
      Future {
        var last = 0L
        var reads = 0
        while (!done.get) {
          val r = ManifestCommit.read(dir, store)
          assert(r.value.contains(r.version) && r.segments.size == r.version,
            s"incomplete record: $r")
          assert(r.version >= last, s"read went back from v$last to v${r.version}")
          last = r.version
          reads += 1
        }
        reads
      }
    }
    try (2 to 200).foreach { _ =>
      commit()
      ManifestCommit.vacuum(dir, store, retainVersions = 0, minAgeMs = 0L)
    } finally done.set(true)
    val reads = readers.map(Await.result(_, 60.seconds))
    assert(reads.forall(_ > 0), s"every reader must have read: $reads")
    assert(ManifestCommit.read(dir, store).version == 200L)
  }

  test("manifest format tags: an unknown layout fails loudly at parse, never misreads") {
    val st = "file:" + tmp("fmt")
    import spark.implicits._
    StateTable.publish(Seq((1, "a")).toDF("k", "v"), st)
    // corrupt the format line (simulating a future-layout store read by
    // this binary) — the parse must throw, not misinterpret fields
    val local = st.stripPrefix("file:")
    val v = ManifestCommit.currentVersion(st)
    val lines = ManifestCommit.readCurrent(st).get
    val forged = lines.updated(1, "graft-state-table/999")
    val w = new java.io.FileWriter(new java.io.File(local, s"MANIFEST.v$v"))
    w.write(forged.mkString("", "\n", "\n")); w.close()
    val e = intercept[IllegalArgumentException] {
      StateTable.readManifest(st)
    }
    assert(e.getMessage.contains("graft-state-table/999"),
      s"error must name the unknown format: ${e.getMessage}")
  }

  test("a translating local-backed scheme fails LOUDLY at owner resolution — the hard-link claim never lands at a remapped path") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.chrootfs.impl", classOf[ChrootFs].getName)
    val e = intercept[IllegalStateException] {
      ManifestCommit.ownerFor("chrootfs:" + tmp("chroot"))
    }
    assert(e.getMessage.contains("registerOwner"),
      s"the error must point at the registerOwner escape hatch: ${e.getMessage}")
    // identity-mapped schemes keep resolving to the hard-link owner (the
    // probe is once-per-scheme and must not break the default path)
    assert(ManifestCommit.ownerFor("file:" + tmp("ident")).name == "hard-link")
  }

  test("metrics: lost claims are counted (observable, not stderr-only)") {
    val dir = "file:" + tmp("metrics")
    val lost0 = ManifestCommit.metrics.get("claims_lost")
    assert(ManifestCommit.tryCommit(dir, 1L, Seq("1", "a")))
    assert(!ManifestCommit.tryCommit(dir, 1L, Seq("1", "b")))
    assert(ManifestCommit.metrics.get("claims_lost") >= lost0 + 1,
      "a lost version claim must increment claims_lost")
    assert(ManifestCommit.metrics.snapshot.contains("claims_lost"))
  }

  test("concurrent overlapping ANN deletes: counts stay posting-exact (no double-decrement)") {
    import spark.implicits._
    // two racing deleteFromIvfIndex calls with OVERLAPPING id sets — the
    // round-13 ADVICE hole: the loser re-applying its ORIGINAL delta
    // against the winner's base double-decremented ids both deleted
    // (reads dedup tombstones via distinct, so sum(n_vectors) diverged
    // permanently). The retry now recomputes present/delta against the
    // winner, so overlapping ids contribute 0 in whichever serialization.
    val emb = Tables(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val dir = "file:" + tmp("dd")
    Similarity.buildIvfIndex(emb, dir).count()
    val a = emb.filter($"vec_id" % 10 === 0).select($"vec_id")   // overlap:
    val b = emb.filter($"vec_id" % 5 === 0).select($"vec_id")    // %10==0 ⊂ %5==0
    val fa = Future(Similarity.deleteFromIvfIndex(a, dir).count())
    val fb = Future(Similarity.deleteFromIvfIndex(b, dir).count())
    Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    val posted = AnnStore.postings(spark, dir).count()
    assert(posted == emb.filter($"vec_id" % 5 =!= 0).count(),
      "both deletes' ids must be gone from the live view")
    val centSum = AnnStore.centroids(spark, dir)
      .agg(sum($"n_vectors")).collect()(0).getLong(0)
    assert(centSum == posted,
      s"overlapping racing deletes must not double-decrement: " +
        s"counts $centSum vs postings $posted")
  }

  test("compact merges racing appends/deletes instead of aborting: maintenance never blocks ingest") {
    import spark.implicits._
    // round-14: a compact's delta commutes with the mergeable mutations
    // — the winner's new segment/tombstone applies ON TOP of the
    // compacted generation (serialization: compact at its read point,
    // then the winner). Whichever way the race lands, the read must be
    // row-identical to a fresh build over the final corpus.
    val dir = "file:" + tmp("cmpmerge")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir)
    DedupIndex.append(docs.filter($"doc_id" % 4 === 1), "doc_id", "text", dir)
    val fa = Future(DedupIndex.compact(spark, dir))
    val fb = Future(DedupIndex.append(
      docs.filter($"doc_id" % 4 === 2), "doc_id", "text", dir))
    Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    val refDir = tmp("cmpref")
    DedupIndex.build(docs.filter($"doc_id" % 4 =!= 3), "doc_id", "text", refDir)
    def rows(d: String) = DedupIndex.readBands(spark, d)
      .select($"doc_id", $"band", $"bkey").collect()
      .map(_.toSeq).toSet
    assert(rows(dir) == rows(refDir),
      "compact racing append must preserve BOTH effects (band rows ≡ fresh build over the union)")
    // now compact racing a DELETE: the winner's tombstone must keep
    // applying to the compacted segment
    val del = docs.filter($"doc_id" % 8 === 1).select($"doc_id")
    val fc = Future(DedupIndex.compact(spark, dir))
    val fd = Future(DedupIndex.delete(del, "doc_id", dir))
    Await.result(fc, 5.minutes); Await.result(fd, 5.minutes)
    val refDir2 = tmp("cmpref2")
    DedupIndex.build(docs.filter($"doc_id" % 4 =!= 3)
      .filter($"doc_id" % 8 =!= 1), "doc_id", "text", refDir2)
    assert(rows(dir) == rows(refDir2),
      "compact racing delete must keep the tombstone applied to the compacted rows")
  }

  test("ANN ingest stamp: exactly-once appends; redelivery skipped; delete/compact carry the stamp") {
    import spark.implicits._
    // round-14: the ANN tier gets the exactly-once ingest discipline the
    // dedup index and state tables already carry — the batch stamp rides
    // the SAME manifest swap as the batch's postings, so a streaming
    // embedding sink has no state-written-but-not-marked window.
    val emb = Tables(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val dir = "file:" + tmp("annstamp")
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 4 === 0), dir).count()
    assert(AnnStore.lastBatchId(dir).isEmpty, "a fresh build is unstamped")
    def ingest(b: org.apache.spark.sql.DataFrame, bid: Long): Boolean =
      if (AnnStore.lastBatchId(dir).exists(_ >= bid)) false
      else { Similarity.appendToIvfIndex(b, dir, batchId = Some(bid)).count(); true }
    assert(ingest(emb.filter($"vec_id" % 4 === 1), 1L))
    assert(ingest(emb.filter($"vec_id" % 4 === 2), 2L))
    assert(AnnStore.lastBatchId(dir).contains(2L), "stamp = max applied batch")
    assert(!ingest(emb.filter($"vec_id" % 4 === 2), 2L),
      "a redelivered batch must be skipped by the stamp predicate")
    val expected = emb.filter($"vec_id" % 4 =!= 3).count()
    assert(AnnStore.postings(spark, dir).count() == expected,
      "the redelivery must not have double-appended")
    // unstamped mutations CARRY the stamp — a weekly delete/compact
    // between micro-batches must not reopen the redelivery window
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 8 === 1).select($"vec_id"), dir).count()
    assert(AnnStore.lastBatchId(dir).contains(2L),
      "delete must not erase the exactly-once stamp")
    Similarity.compactIvfIndex(spark, dir)
    assert(AnnStore.lastBatchId(dir).contains(2L),
      "compact must not erase the exactly-once stamp")
    val posted = AnnStore.postings(spark, dir).count()
    val centSum = AnnStore.centroids(spark, dir)
      .agg(sum($"n_vectors")).collect()(0).getLong(0)
    assert(centSum == posted, "counts stay posting-exact through the flow")
  }

  test("ANN compact merges a racing append: postings complete, centroid counts posting-exact") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val dir = "file:" + tmp("anncmp")
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 2 === 0), dir).count()
    val fa = Future(Similarity.compactIvfIndex(spark, dir))
    val fb = Future(Similarity.appendToIvfIndex(
      emb.filter($"vec_id" % 2 =!= 0), dir).count())
    Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    val posted = AnnStore.postings(spark, dir).count()
    assert(posted == emb.count(),
      "compact racing append must keep the appended postings live")
    val centSum = AnnStore.centroids(spark, dir)
      .agg(sum($"n_vectors")).collect()(0).getLong(0)
    assert(centSum == posted, s"counts $centSum must match postings $posted")
  }

  test("vacuum vs pinned snapshot readers: retention keeps them whole; a reclaimed version fails LOUDLY, never partial rows") {
    import spark.implicits._
    // the Delta-documented contract this store shares: a snapshot reader
    // is safe iff its version is inside the vacuum retention window —
    // "retention ≥ max query duration" (SCALE.md). Outside it, the
    // failure mode must be a loud missing-file error, NEVER partial rows
    // (ignoreMissingFiles=false is the Spark default this relies on).
    assert(spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false",
      "partial-row protection rests on the ignoreMissingFiles default")
    def isLoudMissingFile(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage)
            .matches("(?s).*(FILE_NOT_FOUND|does not exist|PATH_NOT_FOUND).*"))
    val dir = "file:" + tmp("vacpin")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir)
    val v1 = DedupIndex.readManifest(dir).version
    val n1 = DedupIndex.readBandsAt(spark, dir, v1).count()
    // a COMPACT replaces the segment list; a reader pinned at v1 (and
    // one that already opened its DataFrame) keeps its generation —
    // directories are immutable, mutations only write fresh ones
    val dfPre = DedupIndex.readBandsAt(spark, dir, v1)
    DedupIndex.compact(spark, dir)
    assert(dfPre.count() == n1,
      "a DataFrame opened before the compact must keep seeing its generation")
    // retention window honored: retainVersions=1 keeps v1 readable
    DedupIndex.vacuum(dir, retainVersions = 1, minAgeMs = 0L)
    assert(DedupIndex.readBandsAt(spark, dir, v1).count() == n1,
      "a retained snapshot version must stay byte-identically readable")
    // age the snapshot out: another mutation + a zero-retention vacuum
    DedupIndex.append(docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text", dir)
    DedupIndex.vacuum(dir, retainVersions = 0, minAgeMs = 0L)
    // (a) a FRESH snapshot read of the reclaimed version: loud FNF at
    // manifest resolution
    intercept[java.io.FileNotFoundException] {
      DedupIndex.readBandsAt(spark, dir, v1)
    }
    // (b) the PRE-OPENED DataFrame whose segment the vacuum reclaimed:
    // loud missing-file failure at scan time — never a partial count
    val e = intercept[Throwable] { dfPre.count() }
    assert(isLoudMissingFile(e),
      s"an aged-out pinned reader must fail loudly, got: ${e.getMessage}")
    // StateTable readAt shares the law (one commit module, one contract)
    val st = "file:" + tmp("vacpin_st")
    StateTable.publish((1 to 3).map(i => (i, "a")).toDF("k", "v"), st)
    StateTable.publish((1 to 5).map(i => (i, "b")).toDF("k", "v"), st)
    StateTable.vacuum(st, retainVersions = 0, minAgeMs = 0L)
    intercept[java.io.FileNotFoundException] {
      StateTable.readAt(spark, st, 1L)
    }
    // the live read is untouched by either vacuum
    assert(StateTable.read(spark, st).count() == 5)
    assert(DedupIndex.readBands(spark, dir).count() > 0)
  }

  test("non-default FS scheme: a DedupIndex lives end-to-end under graftfs:// (commit plane AND data plane)") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl",
      classOf[GraftTestAbstractFs].getName)
    val dir = "graftfs:" + tmp("gfs")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    DedupIndex.build(corpus, "doc_id", "text", dir)
    DedupIndex.append(docs.filter($"doc_id" % 4 === 1), "doc_id", "text", dir)
    val refDir = tmp("gfs_ref")
    DedupIndex.build(corpus.unionByName(docs.filter($"doc_id" % 4 === 1)),
      "doc_id", "text", refDir)
    val probe = docs.filter($"doc_id" % 4 === 3)
    val got = DedupIndex.query(probe, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val want = DedupIndex.query(probe, "doc_id", "text", refDir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, "graftfs-addressed index must answer like a local one")
    DedupIndex.compact(spark, dir)
    DedupIndex.vacuum(dir, minAgeMs = 0L)
    assert(DedupIndex.query(probe, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet == want)
  }
}
