package graft

import org.apache.spark.sql.functions._

import graft.operators.{Catalog, DedupIndex, StateTable}

/** The name→location registry over the persisted tiers: registration,
  * re-pointing, snapshot pins, and name-addressed reads. */
class CatalogSpec extends SparkSpec {

  private def tmp(tag: String): String =
    tempDir(s"graft_cat_$tag")

  test("register/resolve/list; re-register re-points; reads resolve by name; pins resolve snapshots") {
    import spark.implicits._
    val cat = tmp("reg")
    val docs = Tables(spark, sf, "documents")

    // a dedup index registered under a NAME — no path at the call sites
    val idx = tmp("idx")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", idx)
    val v1 = DedupIndex.readManifest(idx).version
    Catalog.register(spark, cat, "docs-index", "dedup-index", idx)
    assert(Catalog.resolve(spark, cat, "docs-index") == ("dedup-index", idx, None))
    val liveDocs = Catalog.dedupIndexBands(spark, cat, "docs-index")
      .select($"doc_id").distinct().count()

    // a state table under another name
    val st = tmp("st")
    StateTable.publish(Seq((1, "a"), (2, "a")).toDF("k", "v"), st)
    Catalog.register(spark, cat, "daily-state", "state-table", st)
    assert(Catalog.stateTable(spark, cat, "daily-state").count() == 2)
    assert(Catalog.list(spark, cat).count() == 2)

    // the index grows; the LIVE name follows, a PINNED name does not —
    // snapshot reproducibility as a one-line lookup
    DedupIndex.append(docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text", idx)
    Catalog.register(spark, cat, "docs-index@train-run-7", "dedup-index", idx,
      pinVersion = Some(v1))
    val live = Catalog.dedupIndexBands(spark, cat, "docs-index")
      .select($"doc_id").distinct().count()
    val pinned = Catalog.dedupIndexBands(spark, cat, "docs-index@train-run-7")
      .select($"doc_id").distinct().count()
    assert(live > liveDocs, "live name must see the append")
    assert(pinned == liveDocs, "pinned name must keep the snapshot")

    // re-register re-points a name (one row per name, newest wins)
    val idx2 = tmp("idx2")
    DedupIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", idx2)
    Catalog.register(spark, cat, "docs-index", "dedup-index", idx2)
    assert(Catalog.resolve(spark, cat, "docs-index")._2 == idx2)
    assert(Catalog.list(spark, cat).count() == 3)
    // unknown names fail loudly
    intercept[IllegalArgumentException] {
      Catalog.resolve(spark, cat, "nope")
    }
    // the registry is itself a StateTable: its history is versioned —
    // last week's catalog reads back exactly
    val old = StateTable.readAt(spark, cat, 1L)
    assert(old.count() == 1 &&
      old.select($"path").collect()(0).getString(0) == idx)
    // Catalog.history answers "what did this name point at over time"
    // directly: oldest first, one row per retained version holding it
    val hist = Catalog.history(spark, cat, "docs-index")
      .select($"catalog_version", $"path").collect()
    assert(hist.map(_.getString(1)).toSeq.distinct == Seq(idx, idx2),
      s"history must show the re-point $idx -> $idx2: ${hist.toSeq}")
    assert(hist.map(_.getLong(0)).toSeq == hist.map(_.getLong(0)).toSeq.sorted)
  }

  test("registerAll: the live-name + pinned-name deployment pair publishes in ONE catalog commit") {
    import spark.implicits._
    val cat = tmp("pair")
    val docs = Tables(spark, sf, "documents")
    val idx = tmp("pairidx")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", idx)
    val v1 = DedupIndex.readManifest(idx).version
    Catalog.register(spark, cat, "seed", "state-table", "/tmp/seed")
    val before = StateTable.readManifest(cat).version
    // the former TWO-register deployment flow had a window where a
    // reader saw the re-pointed live name without its pinned snapshot
    // name — registerAll makes the pair one atomic generation: exactly
    // one catalog version is claimed, and NO committed catalog state
    // (current or versioned history) ever contains one of the pair
    // without the other
    Catalog.registerAll(spark, cat, Seq(
      ("docs-index", "dedup-index", idx, None),
      ("docs-index@run-1", "dedup-index", idx, Some(v1))))
    val after = StateTable.readManifest(cat).version
    assert(after == before + 1,
      s"the pair must cost exactly one commit, got $before -> $after")
    assert(Catalog.resolve(spark, cat, "docs-index") == ("dedup-index", idx, None))
    assert(Catalog.resolve(spark, cat, "docs-index@run-1") ==
      ("dedup-index", idx, Some(v1)))
    // the versioned history has NO half-published state: every committed
    // version contains either neither name or both
    (1L to after).foreach { v =>
      val names = StateTable.readAt(spark, cat, v)
        .select($"name").collect().map(_.getString(0)).toSet
      val got = names.intersect(Set("docs-index", "docs-index@run-1"))
      assert(got.isEmpty || got.size == 2,
        s"catalog v$v is half-published: $got")
    }
    // duplicate names in one batch fail loudly
    intercept[IllegalArgumentException] {
      Catalog.registerAll(spark, cat, Seq(
        ("x", "state-table", "/tmp/a", None),
        ("x", "state-table", "/tmp/b", None)))
    }
  }

  test("concurrent registers of different names both land (register retry-merges on a lost claim)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val cat = tmp("race")
    Catalog.register(spark, cat, "seed", "state-table", "/tmp/seed")
    // 8 concurrent writers: this interleaving caught a REAL lost-update
    // in the pre-expectedVersion register (a competitor committing
    // between the state read and the publish advanced the version, so
    // the stale publish claimed current+1 successfully and dropped the
    // competitor's row with no conflict thrown)
    val fs = (1 to 8).map { i =>
      Future(Catalog.register(spark, cat, s"name-$i", "state-table", s"/tmp/p$i"))
    }
    fs.foreach(Await.result(_, 5.minutes))
    val names = Catalog.list(spark, cat)
      .select(org.apache.spark.sql.functions.col("name"))
      .collect().map(_.getString(0)).toSet
    assert(names == (1 to 8).map(i => s"name-$i").toSet + "seed",
      s"every racing register must survive: $names")
  }
}
