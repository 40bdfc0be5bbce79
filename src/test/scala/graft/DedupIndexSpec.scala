package graft

import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, DedupIndex, DriverBatch, LlmQueries, ManifestCommit, Segments}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

class DedupIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val docs = Tables(spark, sf, "documents")

  private def parquetFiles(d: java.io.File): Seq[java.io.File] =
    d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  private def prefixDirs(segDir: String): Seq[java.io.File] =
    new java.io.File(segDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bprefix=")).toSeq

  /** The pushed-down data filters of every index scan in `df`'s plan. */
  private def pushedFilters(df: org.apache.spark.sql.DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metadata.getOrElse("PushedFilters", ""))

  test("index query equals the batch pair rule restricted to probe × index") {
    import spark.implicits._
    val dir = tempDir("dix_spec")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 =!= 0)
    DedupIndex.build(corpus, "doc_id", "text", dir)
    val got = DedupIndex.query(incoming, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // reference semantics: the full-corpus minhashLsh pair set (same
    // constants), restricted to (odd, even) pairs — an odd doc with any
    // even partner at est_jaccard >= 0.5 must drop, everything else
    // must survive
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dropped = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .collect { case (i, e) if i % 2 != 0 && e % 2 == 0 => i }.toSet
    val all = incoming.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture must exercise the drop rule")
    assert(got == all -- dropped,
      s"extra=${(got -- (all -- dropped)).take(5)} missing=${((all -- dropped) -- got).take(5)}")
    // deterministic (seeded signatures, pure probes)
    val again = DedupIndex.query(incoming, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got)
  }

  test("append ≡ fresh rebuild; self-guard; prefix pruning reaches the scan") {
    import spark.implicits._
    // l43 (build %4==0 then append %4==2) must be row-identical to l42
    // (fresh build over %2==0): band rows are row-local per doc, no
    // global state to refresh
    val fresh = LlmQueries.l42DedupIndexQuery.run(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val appended = LlmQueries.l43DedupIndexAppend.run(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(fresh == appended, "appended index diverged from fresh rebuild")
    // self-guard: querying the indexed corpus against its own index
    // never drops a doc for matching ITSELF — docs without a distinct
    // near-dup partner all survive
    val dir = tempDir("dix_self")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    DedupIndex.build(corpus, "doc_id", "text", dir)
    val survivors = DedupIndex.query(corpus, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val evenPairs = Dedup.minhashLsh(corpus, "doc_id", "text")
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val evenAll = corpus.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == evenAll -- evenPairs,
      "self-query must drop exactly the docs with a DISTINCT near-dup partner")
    // the serving claim: the probe's band prefixes and its band keys
    // reach the index scan as pushed data filters (row-group skipping,
    // not a full-table scan) — on the driver-built probe a 3-doc batch
    // takes, and on the distributed probe (floor 0), whose prefixes and
    // keys are collected from its checkpoint
    val tiny = docs.filter($"doc_id" % 2 =!= 0).limit(3)
    for (floor <- Seq(DriverBatch.Floor, 0)) {
      val pushed = DriverBatch.withFloor(floor)(
        pushedFilters(DedupIndex.query(tiny, "doc_id", "text", dir)))
      assert(pushed.exists(f => f.contains("In(bprefix,") && f.contains("In(bkey,")),
        s"floor $floor: expected bprefix IN and bkey IN among the index scan's pushed filters: $pushed")
    }
  }

  /** Whether every index join in `df`'s plan (the one keyed on `bkey`)
    * is a broadcast hash join whose BUILD side is the probe (`__qid`).
    * Planned with size-based broadcasts off, as at 10⁷ where the index
    * is far too big and the probe's size unknown: at fixture scale the
    * planner would broadcast the probe without being told to. */
  private def probeIsBroadcast(df: org.apache.spark.sql.DataFrame): Boolean = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val plan = try df.select(df.columns.map(col): _*).queryExecution.executedPlan
    finally spark.conf.set(key, prev)
    val joins = collect(plan) {
      case j: BroadcastHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "bkey")) => j
    }
    joins.nonEmpty && joins.forall { j =>
      val build = if (j.buildSide == BuildLeft) j.left else j.right
      build.output.exists(_.name == "__qid")
    }
  }

  test("query broadcasts a batch-sized probe; shuffle branch is result-identical") {
    import spark.implicits._
    // the round-15 10⁷ root cause: without the probe-side broadcast the
    // planner sort-merges, shuffling the ENTIRE index scan for a
    // 500-doc probe (26 GB spill at 10⁷ — AQE's BHJ conversion lands
    // after the big side's shuffle write). Pin (a) the default plan
    // broadcasts the probe, (b) forcing the over-cap branch through the
    // session conf yields the identical survivor set.
    // Both probe paths are pinned: the driver-built probe this 250-doc
    // batch takes, and the checkpointed distributed probe (floor 0) the
    // 10⁷ fix was made on.
    val dir = tempDir("dix_bcast")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 =!= 0)
    DedupIndex.build(corpus, "doc_id", "text", dir)
    val survivors = Seq(DriverBatch.Floor, 0).map { floor =>
      val q = DriverBatch.withFloor(floor)(DedupIndex.query(incoming, "doc_id", "text", dir))
      assert(probeIsBroadcast(q),
        s"floor $floor: batch-sized probe must be the broadcast side of the index join:\n" +
          q.queryExecution.executedPlan)
      val broadcast = q.select($"doc_id").collect().map(_.getLong(0)).toSet
      spark.conf.set(DedupIndex.BroadcastProbeCapKey, "-1")
      try {
        val shuffled = DriverBatch.withFloor(floor)(DedupIndex.query(incoming, "doc_id", "text", dir))
          .select($"doc_id").collect().map(_.getLong(0)).toSet
        assert(shuffled == broadcast,
          s"floor $floor: shuffle-branch survivors diverged from the broadcast branch")
      } finally spark.conf.unset(DedupIndex.BroadcastProbeCapKey)
      broadcast
    }
    assert(survivors.distinct.length == 1, "driver-built and distributed probes diverged")
  }

  test("ingestFold ≡ naive query+append composition; probe-row reuse writes identical bands") {
    import spark.implicits._
    val batches = (0 to 3).map(i => docs.filter(pmod($"doc_id", lit(4)) === i))
    // the fold (probe-row-reuse append path)
    val foldDir = tempDir("dix_fold")
    val fold = DedupIndex.ingestFold(batches, "doc_id", "text", foldDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the same schedule composed naively from the public primitives,
    // with appends that RECOMPUTE survivor signatures from text
    val naiveDir = tempDir("dix_naive")
    var expected = Map.empty[Long, Int]
    batches.zipWithIndex.foreach { case (b, i) =>
      val kept =
        if (i == 0) { DedupIndex.build(b, "doc_id", "text", naiveDir); b }
        else {
          val s = DedupIndex.query(b, "doc_id", "text", naiveDir)
            .localCheckpoint()
          DedupIndex.append(s, "doc_id", "text", naiveDir)
          s
        }
      expected ++= kept.select($"doc_id").collect().map(_.getLong(0) -> i)
    }
    assert(fold.nonEmpty && fold.size < docs.count(),
      "fixture must exercise both keep and drop")
    assert(fold == expected, {
      val extra = fold.toSet -- expected.toSet
      val missing = expected.toSet -- fold.toSet
      s"fold diverged: extra=${extra.take(5)} missing=${missing.take(5)}"
    })
    // and the reused band rows persisted by the fold are row-identical
    // to the recomputed ones (same sig, band, bkey, bprefix per doc)
    val canon = (d: String) => DedupIndex.readBands(spark, d)
      .select($"doc_id", $"sig", $"band", $"bkey", $"bprefix")
      .collect().map(_.toSeq).toSet
    assert(canon(foldDir) == canon(naiveDir),
      "probe-row-reuse append wrote different band rows than the recompute path")
    // the fold's seed build and its appends all write the one layout,
    // and the grown generation holds exactly a fresh build's band rows
    DedupIndex.readManifest(foldDir).segments.foreach(s => assertOneLayout(s"$foldDir/$s", "bprefix", "bkey"))
    val freshDir = tempDir("dix_fold_fresh")
    DedupIndex.build(docs.join(fold.keys.toSeq.toDF("doc_id"), "doc_id"),
      "doc_id", "text", freshDir)
    assert(canon(foldDir) == canon(freshDir),
      "an append-grown fold index diverged from a fresh build over its survivors")
  }

  test("compact: append-grown index collapses to one segment with one file per prefix, rows and query identical") {
    import spark.implicits._
    val dir = tempDir("dix_compact")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir)
    DedupIndex.append(docs.filter($"doc_id" % 4 === 2), "doc_id", "text", dir)
    DedupIndex.append(docs.filter($"doc_id" % 4 === 1), "doc_id", "text", dir)
    assert(DedupIndex.readManifest(dir).segments.size == 3,
      "three writes must be three live segments pre-compaction")
    val incoming = docs.filter($"doc_id" % 4 === 3)
    val before = DedupIndex.query(incoming, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val rowsBefore = DedupIndex.readBands(spark, dir)
      .collect().map(_.toSeq).toSet

    DedupIndex.compact(spark, dir)

    val m = DedupIndex.readManifest(dir)
    assert(m.segments.size == 1 && m.tombstones.isEmpty,
      s"compaction must publish exactly one segment, got $m")
    // every prefix lands in exactly one (bprefix, bkey)-sorted file
    assertOneLayout(s"$dir/${m.segments.head}", "bprefix", "bkey")
    val rowsAfter = DedupIndex.readBands(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(rowsAfter == rowsBefore, "compaction must not change row content")
    val after = DedupIndex.query(incoming, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(after == before, "query results must be identical post-compaction")
    // vacuum reclaims the pre-compaction segment directories (now
    // unreferenced) and leaves the live generation + meta intact
    DedupIndex.vacuum(dir)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left == Set(s"MANIFEST.v${m.version}", m.meta) ++ m.segments,
      s"vacuum left unexpected entries: $left")
    assert(DedupIndex.query(incoming, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet == before)
  }

  test("delete: every read path ≡ fresh build without the deleted docs; compact materializes") {
    import spark.implicits._
    // the parity law behind l57: build full, delete a slice, and the
    // index must answer query/selfPairs EXACTLY as a fresh index built
    // over corpus-minus-deleted would
    val dir = tempDir("dix_del")
    DedupIndex.build(docs, "doc_id", "text", dir)
    val deleted = docs.filter($"doc_id" % 5 === 2).select($"doc_id")
    DedupIndex.delete(deleted, "doc_id", dir)
    // a tombstone set is a segment too: one batch-sized, doc_id-sorted file
    assert(assertOneLayout(s"$dir/${DedupIndex.readManifest(dir).tombstones.head}",
      "doc_id").size == 1)
    val refDir = tempDir("dix_del_ref")
    DedupIndex.build(docs.filter($"doc_id" % 5 =!= 2), "doc_id", "text", refDir)

    val pairsGot = DedupIndex.selfPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairsRef = DedupIndex.selfPairs(spark, refDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsGot == pairsRef,
      s"extra=${(pairsGot -- pairsRef).take(5)} missing=${(pairsRef -- pairsGot).take(5)}")
    assert(pairsGot.nonEmpty, "fixture must keep some pairs post-delete")
    // the delete must actually remove pair coverage (some pair involved
    // a deleted doc), or the fixture proves nothing
    val pairsFull = Dedup.minhashLsh(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsFull != pairsGot, "deleted slice must have carried pairs")

    val probe = docs.filter($"doc_id" % 5 === 4)
    val qGot = DedupIndex.query(probe, "doc_id", "text", dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val qRef = DedupIndex.query(probe, "doc_id", "text", refDir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(qGot == qRef, "query through tombstones diverged from rebuild")
    // re-delete is idempotent
    DedupIndex.delete(deleted, "doc_id", dir)
    assert(DedupIndex.selfPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == pairsGot)
    // compact materializes the tombstones: band rows shrink to the
    // surviving docs and the tombstone list empties, same answers
    DedupIndex.compact(spark, dir)
    val m = DedupIndex.readManifest(dir)
    assert(m.tombstones.isEmpty && m.segments.size == 1)
    val delIds = deleted.collect().map(_.getLong(0)).toSet
    val liveIds = DedupIndex.readBands(spark, dir)
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(liveIds.intersect(delIds).isEmpty,
      "compaction must physically drop tombstoned docs")
    assert(DedupIndex.selfPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == pairsGot)
  }

  test("manifest swap: a reader that resolved before a compact keeps its generation") {
    import spark.implicits._
    val dir = tempDir("dix_gen")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir)
    DedupIndex.append(docs.filter($"doc_id" % 4 === 2), "doc_id", "text", dir)
    // resolve NOW: the returned frame is pinned to this manifest
    val pinned = DedupIndex.readBands(spark, dir)
    val expect = pinned.count()
    // a concurrent writer compacts AND appends a new batch
    DedupIndex.compact(spark, dir)
    DedupIndex.append(docs.filter($"doc_id" % 4 === 1), "doc_id", "text", dir)
    // the pinned reader still sees exactly the generation it opened
    // (its old segment directories were swapped out of the manifest but
    // never touched — vacuum is deliberately separate)
    assert(pinned.count() == expect,
      "reader resolved pre-compact must keep seeing its own generation")
    // a fresh resolve sees the post-append state: one compacted segment
    // + one appended segment, covering %4∈{0,1,2}
    val now = DedupIndex.readManifest(dir)
    assert(now.segments.size == 2, s"got $now")
    val ids = DedupIndex.readBands(spark, dir)
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids.forall(_ % 4 != 3) && ids.exists(_ % 4 == 1))
  }

  test("selfPairs from the index equals minhashLsh's pair set (the l55 pair stage)") {
    import spark.implicits._
    val dir = tempDir("dix_selfpairs")
    DedupIndex.build(docs, "doc_id", "text", dir)
    val fromIndex = DedupIndex.selfPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same constants, same pair rule (shared band + est agreement >=
    // 0.5), so the index self-join must reproduce the batch operator's
    // pair set exactly — the equality that lets l55 share l26's oracle
    val batch = Dedup.minhashLsh(docs, "doc_id", "text")
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex.nonEmpty, "fixture must produce near-dup pairs")
    assert(fromIndex == batch,
      s"extra=${(fromIndex -- batch).take(5)} missing=${(batch -- fromIndex).take(5)}")
  }

  test("band segments carry bkey bloom filters: footer offsets present, filter readable, members hit") {
    import spark.implicits._
    val dir = tempDir("dix_bloom")
    DedupIndex.build(docs.filter($"doc_id" % 3 === 0), "doc_id", "text", dir)
    // a batch-sized append (~167 docs) writes one file
    DedupIndex.append(docs.filter($"doc_id" % 3 === 1), "doc_id", "text", dir)
    val Seq(seg, delta) = DedupIndex.readManifest(dir).segments
    assert(assertOneLayout(s"$dir/$delta", "bprefix", "bkey").size == 1,
      "a batch-sized append must write ONE file")
    val conf = spark.sparkContext.hadoopConfiguration
    def assertBloom(pfile: java.io.File): Unit = {
      val path = new org.apache.hadoop.fs.Path(pfile.getAbsolutePath)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
      // the file's bkeys in row order: row groups are stored in order, so
      // the footer's per-group row counts slice them into groups
      val keys = {
        val rows = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), path)
          .withConf(conf).build()
        try Iterator.continually(rows.read()).takeWhile(_ != null)
          .map(_.getLong("bkey", 0)).toVector
        finally rows.close()
      }
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        assert(blocks.map(_.getRowCount).sum == keys.size)
        val starts = blocks.scanLeft(0L)(_ + _.getRowCount)
        blocks.zip(starts).foreach { case (block, start) =>
          val chunk = block.getColumns.asScala.find(_.getPath.toDotString == "bkey").get
          assert(chunk.getBloomFilterOffset >= 0,
            "every bkey column chunk must carry a bloom filter offset")
          val bf = reader.readBloomFilter(chunk)
          val groupKeys = keys.slice(start.toInt, (start + block.getRowCount).toInt)
          // no false negatives: every key of the group hits its filter
          // (the property pushed-Eq row-group filtering relies on)
          assert(bf != null && groupKeys.forall(k => bf.findHash(bf.hash(k))),
            "every key a row group holds must hit its bloom filter")
          // sized to the group: within the bound, and within ~4× the
          // ~1.21 B per distinct key a 1 % filter needs (1 KB floor)
          assert(bf.getBitsetSize <= Segments.BloomMaxBytes,
            s"filter ${bf.getBitsetSize} B exceeds the ${Segments.BloomMaxBytes} B bound")
          assert(bf.getBitsetSize <= math.max(1024, 5 * groupKeys.distinct.size),
            s"filter ${bf.getBitsetSize} B for ${groupKeys.distinct.size} keys is not sized to its group")
        }
      } finally reader.close()
    }
    assertOneLayout(s"$dir/$seg", "bprefix", "bkey").foreach(assertBloom)
    parquetFiles(new java.io.File(s"$dir/$delta")).foreach(assertBloom)
  }

  test("a large append stays a parallel delta write: disjoint (bprefix, bkey)-sorted files") {
    import spark.implicits._
    // shrink AQE's coalescing target so a spec-sized append spans
    // several shuffle partitions, as a corpus-sized one does at the
    // default target: the delta write must keep one writer per
    // partition, never fold the batch into one task
    val confs = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k")
    val batch = docs.filter($"doc_id" >= 50)
    val dir = tempDir("dix_big_append")
    DedupIndex.build(docs.filter($"doc_id" < 50), "doc_id", "text", dir)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try DedupIndex.append(batch, "doc_id", "text", dir)
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    val files = assertOneLayout(s"$dir/${DedupIndex.readManifest(dir).segments.last}", "bprefix", "bkey")
    assert(files.size > 1, s"a large append must write several files, got ${files.size}")
    val ref = tempDir("dix_big_ref")
    DedupIndex.build(docs, "doc_id", "text", ref)
    assert(DedupIndex.readBands(spark, dir).collect().map(_.toSeq).toSet ==
      DedupIndex.readBands(spark, ref).collect().map(_.toSeq).toSet)
  }

  test("mixed-layout generations read row-identically to a fresh build") {
    import spark.implicits._
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bandRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // a current-layout base, a hand-written LEGACY prefix-layout segment
    // (partitioned by bprefix, one bkey-sorted file per prefix
    // directory, as build and compact wrote before) committed on top,
    // then a current-layout append
    val dir = tempDir("dix_mixed")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir)
    val scratch = tempDir("dix_mixed_scratch")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 2), "doc_id", "text", scratch)
    val base = DedupIndex.readManifest(dir)
    val legacy = ManifestCommit.uniqueName("seg", base.version + 1)
    DedupIndex.readBands(spark, scratch).repartition($"bprefix")
      .sortWithinPartitions($"bprefix", $"bkey")
      .write.partitionBy("bprefix").parquet(s"$dir/$legacy")
    assert(prefixDirs(s"$dir/$legacy").nonEmpty &&
      prefixDirs(s"$dir/$legacy").forall(parquetFiles(_).size == 1))
    val v1 = base.version + 1
    ManifestCommit.publish(dir,
      base.copy(version = v1, segments = base.segments :+ legacy, tombstones = Nil, batchId = None).record)
    val batch = docs.filter($"doc_id" % 4 === 1)
    DedupIndex.append(batch, "doc_id", "text", dir)
    val segs = DedupIndex.readManifest(dir).segments
    assert(segs.size == 3 && segs(1) == legacy, s"got $segs")
    Seq(segs(0), segs(2)).foreach(s => assertOneLayout(s"$dir/$s", "bprefix", "bkey"))
    val ref = tempDir("dix_mixed_ref")
    DedupIndex.build(docs.filter($"doc_id" % 4 =!= 3), "doc_id", "text", ref)
    val refV1 = tempDir("dix_mixed_ref_v1")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", refV1)

    assert(bandRows(DedupIndex.readBands(spark, dir)) == bandRows(DedupIndex.readBands(spark, ref)))
    assert(bandRows(DedupIndex.readBandsAt(spark, dir, v1)) ==
      bandRows(DedupIndex.readBands(spark, refV1)), "snapshot read of the first append")
    assert(bandRows(spark.sql(s"SELECT * FROM graft_dedup_bands('$dir')")) ==
      bandRows(DedupIndex.readBands(spark, ref)), "graft_dedup_bands over a mixed generation")
    val probe = docs.filter($"doc_id" % 4 === 3)
    assert(ids(DedupIndex.query(probe, "doc_id", "text", dir)) ==
      ids(DedupIndex.query(probe, "doc_id", "text", ref)))
    val selfGot = pairs(DedupIndex.selfPairs(spark, dir))
    assert(selfGot.nonEmpty && selfGot == pairs(DedupIndex.selfPairs(spark, ref)))
    val newGot = pairs(DedupIndex.pairsWithNew(spark, dir, batch, "doc_id", "text"))
    assert(newGot.nonEmpty &&
      newGot == pairs(DedupIndex.pairsWithNew(spark, ref, batch, "doc_id", "text")))
    // the IN filters reach the legacy segment's scan as partition
    // filters and the current segments' scans as pushed data filters
    val tiny = docs.filter($"doc_id" % 4 === 3).limit(3)
    val scans = collect(DedupIndex.query(tiny, "doc_id", "text", dir)
      .queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.exists(_.metadata.getOrElse("PartitionFilters", "").contains("bprefix")),
      "the legacy segment's scan must prune bprefix directories")
    assert(pushedFilters(DedupIndex.query(tiny, "doc_id", "text", dir))
      .count(_.contains("In(bprefix,")) >= 2,
      "both current-layout segments' scans must push the bprefix IN")
    // the next compact rewrites the legacy segment into the one layout
    DedupIndex.compact(spark, dir)
    assertOneLayout(s"$dir/${DedupIndex.readManifest(dir).segments.head}", "bprefix", "bkey")
    assert(bandRows(DedupIndex.readBands(spark, dir)) == bandRows(DedupIndex.readBands(spark, ref)))
  }

  test("selfPairs edge inputs: exact twins pair, null-text and disjoint docs contribute nothing") {
    import spark.implicits._
    val dir = tempDir("dix_selfpairs_edge")
    val tiny = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),        // exact twin of 1 — must pair
      (3L, null.asInstanceOf[String]), // null text — no band rows at build
      (4L, "z y x w v u t s"))         // disjoint shingles — no shared band
      .toDF("doc_id", "text")
    DedupIndex.build(tiny, "doc_id", "text", dir)
    val pairs = DedupIndex.selfPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // id ordering canonical (id_a < id_b), no self-pairs by construction
    assert(pairs.forall { case (a, b) => a < b })
  }
}
