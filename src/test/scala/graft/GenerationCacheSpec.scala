package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.{AnnStore, DedupIndex, GenerationCache, Similarity}

/** The per-directory resolution cache behind every persisted-store read:
  * a commit costs a reader only the listing of the directories it added,
  * and entries never cross sessions. */
class GenerationCacheSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf, "documents")
  private lazy val emb = Tables(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** Descriptions of the partition-discovery ("Listing leaf files") jobs
    * `f` launches, with every multi-directory listing forced onto the
    * cluster (the default threshold lists up to 32 directories on the
    * driver, which would hide a spec-sized store's listings). Listener
    * events arrive asynchronously, in order, so a marker job run after
    * `f` is seen only once every earlier job start has been delivered. */
  private def listingJobs(f: => Unit): Seq[String] = {
    val marker = s"listing-drain-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach { d =>
            if (d == marker) drained.countDown()
            else if (d.startsWith("Listing leaf files")) seen.add(d)
          }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(threshold, "1")
    try {
      f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      seen.asScala.toSeq
    } finally {
      spark.conf.unset(threshold)
      sc.removeSparkListener(listener)
    }
  }

  test("after an append, re-resolving either store lists none of its older segments") {
    import spark.implicits._
    val dix = tempDir("graft_gc_dix")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dix)
    val base = DedupIndex.readManifest(dix).segments
    // the listener does see listing jobs: the first resolve of the
    // prefix-layout segment discovers its partition directories
    val cold = listingJobs(DedupIndex.readBands(spark, dix))
    assert(cold.exists(d => base.exists(d.contains)),
      s"a cold resolve must list the base segment: $cold")
    DedupIndex.append(docs.filter($"doc_id" % 4 === 2), "doc_id", "text", dix)
    val warm = listingJobs(DedupIndex.readBands(spark, dix).count())
    assert(!warm.exists(d => base.exists(d.contains)),
      s"re-resolve after an append re-listed an older segment: $warm")

    val ivf = tempDir("graft_gc_ivf")
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 10 =!= 0), ivf,
      cellCap = Some(256)).count()
    val annBase = AnnStore.read(ivf).segments
    val annCold = listingJobs(AnnStore.postings(spark, ivf).count())
    assert(annCold.exists(d => annBase.exists(d.contains)),
      s"a cold resolve must list the base segment: $annCold")
    Similarity.appendToIvfIndex(emb.filter($"vec_id" % 10 === 0), ivf).count()
    val annWarm = listingJobs(AnnStore.postings(spark, ivf).count())
    assert(!annWarm.exists(d => annBase.exists(d.contains)),
      s"re-resolve after an ANN append re-listed an older segment: $annWarm")
  }

  test("entries are keyed per session: a second session resolves its own relations") {
    import spark.implicits._
    val dix = tempDir("graft_gc_sessions")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dix)
    val seg = s"$dix/${DedupIndex.readManifest(dix).segments.head}"
    val other = spark.newSession()
    val mine = GenerationCache.directory(spark, seg)
    val theirs = GenerationCache.directory(other, seg)
    assert(mine eq GenerationCache.directory(spark, seg), "same session must hit")
    assert(theirs eq GenerationCache.directory(other, seg), "same session must hit")
    assert(!(mine eq theirs), "two sessions must not share one cached relation")
    assert((mine.sparkSession eq spark) && (theirs.sparkSession eq other),
      "each cached relation belongs to the session that resolved it")
    assert(DedupIndex.readBands(other, dix).sparkSession eq other)
    assert(DedupIndex.readBands(other, dix).count() == DedupIndex.readBands(spark, dix).count())
  }

  test("a store with 200 live directories hits the cache on every re-read") {
    import spark.implicits._
    // an uncompacted store grows one segment per append; a reader
    // resolves its directories in manifest order every time, so a bound
    // below the live count would evict each entry before its next use
    val root = tempDir("graft_gc_many")
    val first = s"$root/d0"
    Seq(1L, 2L).toDF("doc_id").coalesce(1).write.parquet(first)
    val dirs = first +: (1 until 200).map { i =>
      val d = s"$root/d$i"
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(first), new java.io.File(d))
      d
    }
    assert(dirs.size < GenerationCache.MaxEntries)
    val cold = dirs.map(GenerationCache.directory(spark, _))
    val warm = dirs.map(GenerationCache.directory(spark, _))
    assert(cold.zip(warm).forall { case (a, b) => a eq b },
      "re-reading every directory in the same order must hit the cache")
  }
}
