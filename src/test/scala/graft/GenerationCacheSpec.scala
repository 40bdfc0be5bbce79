package graft

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions._

import graft.operators.{AnnStore, DedupIndex, GenerationCache, Similarity}

/** The per-directory resolution cache behind every persisted-store read:
  * a commit costs a reader only the listing of the directories it added,
  * and entries never cross sessions. */
class GenerationCacheSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf, "documents")
  private lazy val emb = Tables(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** Files listed while `f` runs, driver-side and parallel listings
    * alike: every file-index listing adds what it found to Spark's
    * `filesDiscovered` metric. */
  private def filesListed(f: => Unit): Long = {
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    f
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
  }

  /** What listing `dir` alone costs: an uncached read always lists it. */
  private def listingOf(dir: String): Long = filesListed(spark.read.parquet(dir))

  test("after an append, re-resolving either store lists none of its older segments") {
    import spark.implicits._
    val dix = tempDir("graft_gc_dix")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dix)
    val base = DedupIndex.readManifest(dix).segments
    // the metric does see the listings: the first resolve lists the
    // base segment (one directory, listed on the driver)
    val cold = filesListed(DedupIndex.readBands(spark, dix))
    assert(cold > 0 && cold == base.map(s => listingOf(s"$dix/$s")).sum,
      s"a cold resolve must list the base segment: $cold files")
    DedupIndex.append(docs.filter($"doc_id" % 4 === 2), "doc_id", "text", dix)
    val added = DedupIndex.readManifest(dix).segments.filterNot(base.contains)
    val warm = filesListed(DedupIndex.readBands(spark, dix).count())
    assert(warm == added.map(s => listingOf(s"$dix/$s")).sum,
      s"re-resolve after an append must list only the new segment, listed $warm files")

    val ivf = tempDir("graft_gc_ivf")
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 10 =!= 0), ivf,
      cellCap = Some(256)).count()
    val annBase = AnnStore.read(ivf).segments
    val annCold = filesListed(AnnStore.postings(spark, ivf).count())
    assert(annCold > 0 && annCold == annBase.map(s => listingOf(s"$ivf/$s")).sum,
      s"a cold resolve must list the base segment: $annCold files")
    Similarity.appendToIvfIndex(emb.filter($"vec_id" % 10 === 0), ivf).count()
    val annAdded = AnnStore.read(ivf).segments.filterNot(annBase.contains)
    val annWarm = filesListed(AnnStore.postings(spark, ivf).count())
    assert(annWarm == annAdded.map(s => listingOf(s"$ivf/$s")).sum,
      s"re-resolve after an ANN append must list only the new segment, listed $annWarm files")
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

  test("a directory this session wrote resolves with its written schema: no inference job") {
    import spark.implicits._
    val dix = tempDir("graft_gc_schema")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dix)
    val ivf = tempDir("graft_gc_schema_ivf")
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 10 =!= 0), ivf).count()
    DedupIndex.append(docs.filter($"doc_id" % 4 === 2), "doc_id", "text", dix)
    Similarity.appendToIvfIndex(emb.filter($"vec_id" % 10 === 0), ivf).count()
    val fresh = Seq(s"$dix/${DedupIndex.readManifest(dix).segments.last}",
      s"$ivf/${AnnStore.read(ivf).segments.last}")
    val other = spark.newSession()
    fresh.foreach { d =>
      assert(jobsLaunched(GenerationCache.directory(spark, d)) == 0,
        s"$d: the writing session must not infer the schema it wrote")
      assert(jobsLaunched(GenerationCache.directory(other, d)) == 1,
        s"$d: another session infers the schema in one job")
      assert(GenerationCache.directory(spark, d).schema == GenerationCache.directory(other, d).schema)
      assert(GenerationCache.directory(spark, d).count() == spark.read.parquet(d).count())
    }
  }
}
