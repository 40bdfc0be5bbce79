package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnStore, DedupIndex, ManifestCommit, StateTable}

/** The one manifest codec ([[ManifestCommit.Record]]): every store's
  * manifest round-trips through it, and anything it did not write —
  * the former positional layouts, another tag, another store's
  * manifest — fails loudly at parse instead of being misread. The last
  * case is a source-level check, like [[SegmentWriterSpec]]'s: no main
  * source outside the codec reads raw manifest lines. */
class ManifestCodecSpec extends AnyFunSuite {

  private def dir(tag: String): String =
    "file:" + Files.createTempDirectory(s"graft_codec_$tag").toString

  /** Publish `r` into a fresh store directory, check the on-disk
    * layout, and return the directory. */
  private def committed(tag: String, r: ManifestCommit.Record): String = {
    val d = dir(tag)
    ManifestCommit.publish(d, r)
    val lines = ManifestCommit.encode(r)
    assert(lines.take(3) == Seq(r.version.toString, ManifestCommit.FormatTag, s"store=${r.store}"))
    assert(lines.drop(2).forall(l => l.indexOf('=') > 0 && !l.endsWith("=")),
      s"every field line is a non-empty key=value: $lines")
    d
  }

  test("store manifests round-trip through the one codec") {
    val dedup = Seq(
      DedupIndex.Manifest(1L, "meta_1_aa", Seq("seg_1_aa"), Nil),
      DedupIndex.Manifest(3L, "meta_1_aa", Nil, Nil, Some(0L)),
      DedupIndex.Manifest(7L, "meta_1_aa", Seq("seg_1_aa", "seg_2_bb"),
        Seq("del_3_cc"), Some(Long.MaxValue)))
    dedup.zipWithIndex.foreach { case (m, i) =>
      val d = committed(s"dix$i", m.record)
      assert(DedupIndex.readManifest(d) == m)
      assert(DedupIndex.readManifestAt(d, m.version) == m)
      assert(DedupIndex.lastBatchId(d) == m.batchId)
    }
    val ann = Seq(
      AnnStore.Manifest(1L, "cent_1_aa", None, Seq("seg_1_aa"), Nil),
      AnnStore.Manifest(2L, "cent_1_aa", Some("cb_1_aa"), Nil, Nil, Some(0L),
        Map(0 -> 5L)),
      AnnStore.Manifest(9L, "cent_1_aa", Some("cb_1_aa"), Seq("seg_1_aa", "seg_4_dd"),
        Seq("del_5_ee", "del_6_ff"), Some(Long.MaxValue),
        Map(0 -> 1L, 3 -> Long.MaxValue, 4095 -> 2L)))
    ann.zipWithIndex.foreach { case (m, i) =>
      val d = committed(s"ann$i", m.record)
      assert(AnnStore.read(d) == m)
      assert(AnnStore.readAt(d, m.version) == m)
      assert(AnnStore.lastBatchId(d) == m.batchId)
    }
    Seq(StateTable.Manifest(1L, "gen_1_aa", None),
      StateTable.Manifest(4L, "gen_4_bb", Some(0L)),
      StateTable.Manifest(5L, "gen_5_cc", Some(Long.MaxValue))).zipWithIndex.foreach {
      case (m, i) =>
        val d = committed(s"st$i", m.record)
        assert(StateTable.readManifest(d) == m)
        assert(StateTable.readManifestAt(d, m.version) == m)
        assert(StateTable.lastBatchId(d) == m.batchId)
    }
    // empty lists, empty counts and an absent stamp write no line at all
    assert(ManifestCommit.encode(ann.head.record) ==
      Seq("1", ManifestCommit.FormatTag, "store=ann-index", "cent=cent_1_aa", "segments=seg_1_aa"))
  }

  test("the shared delta adds counts, appends lists and keeps the highest stamp") {
    val base = AnnStore.Manifest(4L, "cent_1_aa", None, Seq("seg_1_aa"), Nil, Some(3L),
      Map(0 -> 2L, 1 -> 5L)).record
    val next = ManifestCommit.withDelta(base, 5L, segments = Seq("seg_5_bb"),
      tombstones = Seq("del_5_bb"), counts = Map(0 -> -2L, 2 -> 1L), batchId = Some(1L))
    assert(next == base.copy(version = 5L, segments = Seq("seg_1_aa", "seg_5_bb"),
      tombstones = Seq("del_5_bb"), counts = Map(1 -> 5L, 2 -> 1L)),
      "a cell that reaches 0 leaves the map; a lower stamp never replaces a higher one")
    assert(ManifestCommit.mergeStamp(None, None).isEmpty)
    assert(ManifestCommit.mergeStamp(Some(Long.MaxValue), Some(0L)).contains(Long.MaxValue))
  }

  test("pre-codec, unknown-tag and wrong-store manifests fail loudly") {
    def loud(d: String, needle: String)(read: String => Any): Unit = {
      val e = intercept[IllegalArgumentException](read(d))
      assert(e.getMessage.contains(needle), s"error must name '$needle': ${e.getMessage}")
    }
    // the positional layouts the stores wrote before the codec: tagged
    // (version, tag, fields by position) and pre-tag (no tag line)
    val annTagged = dir("ann_tagged")
    ManifestCommit.tryCommit(annTagged, 1L,
      Seq("1", "graft-ann-index/1", "cent_1_aa", "-", "seg_1_aa", "", "-"))
    loud(annTagged, "graft-ann-index/1")(AnnStore.read)
    val annPreTag = dir("ann_pretag")
    ManifestCommit.tryCommit(annPreTag, 1L, Seq("1", "cent_1_aa", "-", "seg_1_aa,seg_2_bb", ""))
    loud(annPreTag, "cent_1_aa")(AnnStore.read)
    val dixPreTag = dir("dix_pretag")
    ManifestCommit.tryCommit(dixPreTag, 1L, Seq("1", "seg_1_cc", "", "3"))
    loud(dixPreTag, "seg_1_cc")(DedupIndex.readManifest)
    loud(dixPreTag, "seg_1_cc")(DedupIndex.lastBatchId)
    val stTagged = dir("st_tagged")
    ManifestCommit.tryCommit(stTagged, 1L, Seq("1", "graft-state-table/1", "gen_1_aa", "7"))
    loud(stTagged, "graft-state-table/1")(StateTable.readManifest)
    // a future codec version
    val future = dir("future")
    ManifestCommit.tryCommit(future, 1L,
      Seq("1", "graft-manifest/999", "store=dedup-index", "meta=meta_1_aa"))
    loud(future, "graft-manifest/999")(DedupIndex.readManifest)
    // another store's manifest, through the codec
    val ann = dir("ann_as_dedup")
    ManifestCommit.publish(ann,
      AnnStore.Manifest(1L, "cent_1_aa", None, Seq("seg_1_aa"), Nil, counts = Map(0 -> 1L)).record)
    loud(ann, "ann-index")(DedupIndex.readManifest)
    loud(ann, "ann-index")(StateTable.readManifest)
    assert(AnnStore.read(ann).counts == Map(0 -> 1L))
    // a store field the reader needs but the manifest lacks
    val noMeta = dir("no_meta")
    ManifestCommit.tryCommit(noMeta, 1L,
      Seq("1", ManifestCommit.FormatTag, "store=dedup-index", "segments=seg_1_aa"))
    loud(noMeta, "meta")(DedupIndex.readManifest)
  }

  test("only ManifestCommit reads raw manifest lines; the format tag is defined once") {
    val sources = SourceCheck.mainSources
    val rawRead = """\b(readCurrent|readVersioned)\s*\(""".r
    val commit = Paths.get("scala", "graft", "operators", "ManifestCommit.scala").toString
    assert(sources.collect {
      case (f, t) if rawRead.findFirstIn(SourceCheck.chains(t).mkString("\n")).isDefined => f
    } == Seq(commit))
    assert(sources.flatMap { case (f, t) => "graft-manifest/".r.findAllIn(t).map(_ => f) } == Seq(commit))
    // the current state is the newest MANIFEST.v<N>: no source names a
    // single-file manifest beside the log
    val pointerFile = "\"MANIFEST\""
    assert(sources.collect { case (f, t) if t.contains(pointerFile) => f }.isEmpty)
  }

}
