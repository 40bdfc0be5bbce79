package graft

import java.net.URI

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Options, Path}

import graft.operators.ManifestCommit

/** A "namenode-atomic rename" scheme for exercising [[ManifestCommit
  * .RenameOwner]]'s contract: HDFS's no-overwrite rename is atomic
  * because the NAMENODE serializes metadata operations — emulated here
  * by serializing `renameInternal` (the FileContext entry point whose
  * local implementation is the documented check-then-act TOCTOU) under
  * one lock. RenameOwner is NOT contract-compliant on raw local
  * schemes — that is precisely why [[ManifestCommit.ownerFor]] resolves
  * local-backed schemes to the hard-link owner — so its compliance run
  * uses the scheme shape it is FOR. */
object MockNamenode { val lock = new Object }
class MockNnRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("mocknn:///")
}
class MockNnFs extends org.apache.hadoop.fs.LocalFileSystem(new MockNnRawFs()) {
  override def getScheme: String = "mocknn"
}
class MockNnAbstractFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new MockNnFs(), conf, "mocknn", false) {
  override def renameInternal(src: Path, target: Path): Unit =
    MockNamenode.lock.synchronized(super.renameInternal(src, target))
  override def renameInternal(src: Path, target: Path, overwrite: Boolean): Unit =
    MockNamenode.lock.synchronized(super.renameInternal(src, target, overwrite))
}

/** A mock OBJECT STORE: no rename, no link — the only write primitive
  * is a conditional PUT whose if-absent decision is made atomically at
  * the store API (one `putIfAbsent` on the bucket's key index — the
  * single-server serialization S3's `If-None-Match: *` PUT provides).
  * Objects land on the local FS for reads; the key index is the
  * existence authority for claims, exactly the split a real object
  * store has between its metadata service and its blob storage. */
object MockObjectStore {
  private val keys =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private val lock = new Object
  /** The store API call a [[ManifestCommit.ConditionalPutOwner]] wraps:
    * atomically create `dst` with `bytes` iff absent.
    *
    * Two visibility laws a REAL store's conditional PUT provides, which
    * the first cut of this mock broke (the protocol found it: a loser's
    * `exists()` fast-path read a 0-byte manifest mid-write and handed
    * commitLoop an empty base):
    *   - all-or-nothing blob: a reader sees the complete object or no
    *     object — never a torn one. Modeled by writing a side tmp and
    *     renaming it in (atomic visibility on the local blob backing);
    *     `f.create(dst)` exposed an empty dst for the whole write.
    *   - loser-implies-visible: a PUT that loses the condition loses
    *     only AGAINST A COMPLETED winner (S3 evaluates If-None-Match at
    *     completion, strong read-after-write), so a reader acting on
    *     "false" finds the winner's object. Modeled by one store lock
    *     around decide+publish — the single-server serialization the
    *     scaladoc above already claimed. */
  def conditionalPut(f: FileSystem, dst: Path, bytes: Array[Byte]): Boolean =
    lock.synchronized {
      if (keys.putIfAbsent(dst.toString, java.lang.Boolean.TRUE) != null) false
      else {
        val tmp = new Path(dst.getParent,
          dst.getName + ".puttmp." + java.util.UUID.randomUUID().toString.take(8))
        val out = f.create(tmp, false)
        try out.write(bytes) finally out.close()
        require(f.rename(tmp, dst), s"mock blob publish rename failed: $tmp -> $dst")
        true
      }
    }
}

/** The COMPLIANCE CONTRACT every [[ManifestCommit.CommitOwner]] must
  * pass — the reusable kit the round-14 verdict asked for: an owner for
  * a new scheme (an S3/GCS conditional-PUT implementation, a custom
  * rename shim) mixes this into a suite, points `freshStore()` at its
  * scheme, and gets the three laws the commit protocol rests on:
  *
  *   1. EXACTLY ONE WINNER: N racing claimants of one dst — exactly one
  *      `putIfAbsent` returns true, and dst holds that winner's payload
  *      byte-exactly (a second "winner" whose content was overwritten
  *      is the round-13 lost-visible-update).
  *   2. TMP CLEANUP ON BOTH OUTCOMES: neither winners nor losers leak
  *      their tmp files (a vacuum-visible litter and, worse, a
  *      retention hazard on stores that bill per object).
  *   3. COMPLETE-FILE VISIBILITY: the instant a claim returns true, a
  *      reader of dst sees the ENTIRE payload — the protocol publishes
  *      whole manifests through the claim, so a torn read here would
  *      tear every loser's retry base.
  */
trait CommitOwnerContract { self: SparkSpec =>
  /** The owner under test. */
  def owner: ManifestCommit.CommitOwner
  /** A fresh, empty store directory URI under the owner's scheme. */
  def freshStore(): String

  private def fsOf(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val f = FileSystem.newInstance(p.toUri, spark.sparkContext.hadoopConfiguration)
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    (f, f.makeQualified(p))
  }

  private def write(f: FileSystem, p: Path, payload: String): Unit = {
    val out = f.create(p, true)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
  }

  private def readAll(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test(s"contract[${owner.name}]: exactly one winner per dst under racing claimants; dst holds the winner's payload") {
    val (f, base) = fsOf(freshStore())
    f.mkdirs(base)
    val writers = 12
    (1 to 10).foreach { round =>
      val dst = new Path(base, s"MANIFEST.v$round")
      // per-writer payloads are DISTINCT, so an overwritten winner (two
      // trues, one surviving content) cannot hide
      val tmps = (1 to writers).map { w =>
        val t = new Path(base, s"MANIFEST.tmp.r$round.w$w")
        write(f, t, s"$round\nwriter-$w\n" + (s"filler-$w-" * 40))
        t
      }
      val startGate = new java.util.concurrent.CountDownLatch(1)
      val results = (1 to writers).map { w =>
        Future {
          startGate.await()
          owner.putIfAbsent(f, base, tmps(w - 1), dst)
        }
      }
      startGate.countDown()
      val wins = results.map(Await.result(_, 60.seconds))
      assert(wins.count(identity) == 1,
        s"round $round: expected exactly one winner, got ${wins.count(identity)}")
      val winner = wins.indexOf(true) + 1
      assert(readAll(f, dst) ==
        s"$round\nwriter-$winner\n" + (s"filler-$winner-" * 40),
        s"round $round: dst must hold the winning claimant's payload intact")
      tmps.foreach(t => assert(!f.exists(t),
        s"round $round: tmp $t must be deleted on both outcomes"))
    }
  }

  test(s"contract[${owner.name}]: claiming an existing dst returns false, leaves dst intact, deletes tmp") {
    val (f, base) = fsOf(freshStore())
    f.mkdirs(base)
    val dst = new Path(base, "MANIFEST.v1")
    val t1 = new Path(base, "MANIFEST.tmp.first")
    write(f, t1, "1\noriginal\n")
    assert(owner.putIfAbsent(f, base, t1, dst), "first claim must win")
    val t2 = new Path(base, "MANIFEST.tmp.second")
    write(f, t2, "1\nusurper\n")
    assert(!owner.putIfAbsent(f, base, t2, dst),
      "a claim of an existing dst must lose")
    assert(readAll(f, dst) == "1\noriginal\n",
      "a losing claim must never touch the committed content")
    assert(!f.exists(t1) && !f.exists(t2), "tmps deleted on both outcomes")
  }

  test(s"contract[${owner.name}]: a successful claim publishes the COMPLETE file — large payload read-back is byte-exact") {
    val (f, base) = fsOf(freshStore())
    f.mkdirs(base)
    val payload = (1 to 20000).map(i => s"segment_${i}_" + ("x" * 32)).mkString("\n")
    val tmp = new Path(base, "MANIFEST.tmp.large")
    write(f, tmp, payload)
    val dst = new Path(base, "MANIFEST.v1")
    assert(owner.putIfAbsent(f, base, tmp, dst))
    assert(readAll(f, dst) == payload,
      "the claim publishes whole files — a torn dst would tear every loser's retry base")
    assert(!f.exists(tmp))
  }
}

/** LinkOwner (hard-link claim) — the local-backed scheme owner. */
class LinkOwnerContractSpec extends SparkSpec with CommitOwnerContract {
  def owner: ManifestCommit.CommitOwner = ManifestCommit.LinkOwner
  def freshStore(): String =
    "file:" + tempDir("graft_coc_link")
}

/** RenameOwner (no-overwrite rename claim) on the namenode-atomic mock
  * scheme — the HDFS shape it exists for. */
class RenameOwnerContractSpec extends SparkSpec with CommitOwnerContract {
  def owner: ManifestCommit.CommitOwner = ManifestCommit.RenameOwner
  def freshStore(): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mocknn.impl", classOf[MockNnFs].getName)
    hc.set("fs.AbstractFileSystem.mocknn.impl", classOf[MockNnAbstractFs].getName)
    "mocknn:" + tempDir("graft_coc_nn")
  }
}

/** The reference [[ManifestCommit.ConditionalPutOwner]] adapter over the
  * mock object store — PUT-if-absent decided at the store API, the S3
  * shape (no rename, no link anywhere in the claim path). */
class ConditionalPutOwnerContractSpec extends SparkSpec with CommitOwnerContract {
  def owner: ManifestCommit.CommitOwner = ConditionalPutOwnerContractSpec.owner
  def freshStore(): String =
    "file:" + tempDir("graft_coc_cput")

  test("conditional-PUT owner end-to-end: a registered object-store scheme sustains the full commit protocol under contention") {
    // beyond the primitive's contract: the protocol built ON it (version
    // claims, loser merges, reads of the newest version) must hold
    // on a scheme whose ONLY atomic write is the conditional PUT. 8
    // in-JVM writers × 25 contended versions through commitLoop — every
    // writer's item lands exactly once.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockos.impl", classOf[MockOsFs].getName)
    hc.set("fs.AbstractFileSystem.mockos.impl", classOf[MockOsAbstractFs].getName)
    ManifestCommit.registerOwner("mockos", ConditionalPutOwnerContractSpec.owner)
    val dir = "mockos:" +
      tempDir("graft_coc_os")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { w =>
        Future {
          (1 to 25).foreach { r =>
            ManifestCommit.commitLoop(dir) { (v, base) =>
              val items = base.map(_(1).split(",").toSeq).getOrElse(Seq.empty)
              Seq(v.toString, (items :+ s"w$w-r$r").mkString(","))
            }
          }
        }(ec)
      }
      futures.foreach(Await.result(_, 5.minutes))
      val lines = ManifestCommit.readCurrent(dir).get
      assert(lines(0).toLong == 200L, s"200 commits → version 200, got ${lines(0)}")
      val items = lines(1).split(",").toSet
      val want = (for (w <- 1 to 8; r <- 1 to 25) yield s"w$w-r$r").toSet
      assert(items == want,
        s"every writer's every item must land exactly once; missing=" +
          s"${want.diff(items).take(5)} extra=${items.diff(want).take(5)}")
    } finally pool.shutdown()
  }
}

object ConditionalPutOwnerContractSpec {
  // one checksum-free blob-side FS per scheme (a real store's client is
  // long-lived; per-call newInstance would leak handles)
  private val blobFs = scala.collection.concurrent.TrieMap.empty[String, FileSystem]
  private def fsForBlob(dst: Path): FileSystem =
    blobFs.getOrElseUpdate(Option(dst.toUri.getScheme).getOrElse("file"), {
      val f = FileSystem.newInstance(
        dst.toUri, TestSpark.spark.sparkContext.hadoopConfiguration)
      f.setWriteChecksum(false)
      f
    })

  /** One shared adapter instance: the store call writes through a
    * checksum-free FS so the blob side stays sidecar-free like a real
    * object store. */
  lazy val owner: ManifestCommit.CommitOwner =
    new ManifestCommit.ConditionalPutOwner("mock-object-store")({ (dst, bytes) =>
      MockObjectStore.conditionalPut(fsForBlob(dst), dst, bytes)
    })
}

/** The mock object-store SCHEME (local-backed wrapper like graftfs) the
  * end-to-end conditional-PUT test registers its owner for. */
class MockOsRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("mockos:///")
}
class MockOsFs extends org.apache.hadoop.fs.LocalFileSystem(new MockOsRawFs()) {
  override def getScheme: String = "mockos"
}
class MockOsAbstractFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new MockOsFs(), conf, "mockos", false)
