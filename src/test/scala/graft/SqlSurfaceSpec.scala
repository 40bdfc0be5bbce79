package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnStore, Catalog, DedupIndex, Similarity, StateTable}

/** The SQL surface over the persisted tiers (graft.sql
  * .GraftSqlExtensions): every table function must return EXACTLY what
  * the Scala API returns — same rows, same snapshot semantics, same
  * tombstone handling — because it expands to the same logical plan.
  * Plus the loud-failure contract: non-literal args, wrong arity, and
  * unknown catalog kinds fail analysis, never mis-resolve. */
class SqlSurfaceSpec extends SparkSpec {

  private def tmp(tag: String): String =
    tempDir(s"graft_sqls_$tag")

  private lazy val docs = Tables(spark, sf, "documents")
  private lazy val emb = Tables(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).sorted.toSeq

  test("graft_dedup_bands: SQL ≡ API, live and at a pinned version; composes under SQL aggregation") {
    import spark.implicits._
    val dir = tmp("dix")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir)
    val v1 = DedupIndex.readManifest(dir).version
    DedupIndex.append(docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text", dir)
    assert(rows(spark.sql(s"SELECT * FROM graft_dedup_bands('$dir')")) ==
      rows(DedupIndex.readBands(spark, dir)), "live SQL read ≡ API read")
    assert(rows(spark.sql(s"SELECT * FROM graft_dedup_bands('$dir', $v1)")) ==
      rows(DedupIndex.readBandsAt(spark, dir, v1)),
      "snapshot SQL read ≡ readBandsAt — the VERSION AS OF story")
    // a plain SQL consumer can aggregate/join over it like any table
    val agg = spark.sql(
      s"""SELECT doc_id, count(*) AS n FROM graft_dedup_bands('$dir', $v1)
          GROUP BY doc_id ORDER BY doc_id""").collect()
    assert(agg.nonEmpty && agg.forall(_.getLong(1) == 8L),
      "8 band rows per doc — the posexplode arity, through SQL")
  }

  test("graft_ann_postings / graft_ann_centroids: SQL ≡ API; tombstones stay dropped through SQL") {
    import spark.implicits._
    val dir = tmp("ann")
    Similarity.buildIvfIndex(emb, dir).count()
    val v1 = AnnStore.read(dir).version
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 5 === 0).select($"vec_id"), dir).count()
    assert(rows(spark.sql(
      s"SELECT vec_id FROM graft_ann_postings('$dir')")) ==
      rows(AnnStore.postings(spark, dir).select($"vec_id")),
      "live posting view through SQL drops tombstones like the API")
    assert(rows(spark.sql(
      s"SELECT vec_id FROM graft_ann_postings('$dir', $v1)")) ==
      rows(emb.select($"vec_id")),
      "the pre-delete snapshot still shows every vector")
    val centSum = spark.sql(
      s"SELECT sum(n_vectors) AS s FROM graft_ann_centroids('$dir')")
      .head().getLong(0)
    assert(centSum == AnnStore.postings(spark, dir).count(),
      "centroid counts via SQL stay posting-exact")
  }

  test("graft_state / graft_catalog / graft_table: catalog-resolved pin-aware SQL reads") {
    import spark.implicits._
    val st = tmp("st")
    StateTable.publish((1 to 3).map(i => (i, "a")).toDF("k", "v"), st)
    StateTable.publish((1 to 5).map(i => (i, "b")).toDF("k", "v"), st)
    assert(spark.sql(s"SELECT * FROM graft_state('$st')").count() == 5)
    assert(spark.sql(s"SELECT * FROM graft_state('$st', 1)").count() == 3,
      "versioned state read through SQL")
    val dix = tmp("cat_dix")
    DedupIndex.build(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dix)
    val v1 = DedupIndex.readManifest(dix).version
    DedupIndex.append(docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text", dix)
    val cat = tmp("cat")
    Catalog.registerAll(spark, cat, Seq(
      ("docs-index", "dedup-index", dix, None),
      ("docs-index@v1", "dedup-index", dix, Some(v1)),
      ("counts", "state-table", st, None)))
    assert(spark.sql(s"SELECT name FROM graft_catalog('$cat') ORDER BY name")
      .collect().map(_.getString(0)).toSeq ==
      Seq("counts", "docs-index", "docs-index@v1"))
    assert(rows(spark.sql(
      s"SELECT * FROM graft_table('$cat', 'docs-index@v1')")) ==
      rows(DedupIndex.readBandsAt(spark, dix, v1)),
      "graft_table honors the entry's snapshot pin")
    assert(rows(spark.sql(s"SELECT * FROM graft_table('$cat', 'counts')")) ==
      rows(StateTable.read(spark, st)))
    // SQL can JOIN a catalog-resolved snapshot against a fixture table
    val joined = spark.sql(
      s"""SELECT count(*) AS n FROM graft_table('$cat', 'docs-index@v1') b
          JOIN graft_table('$cat', 'docs-index@v1') b2
            ON b.doc_id = b2.doc_id AND b.band = b2.band""").head().getLong(0)
    assert(joined > 0, "TVF relations must compose under joins")
  }

  test("loud failures: wrong arity, non-literal args, unknown catalog kind") {
    import spark.implicits._
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_dedup_bands('a', 1, 2)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      // a column reference is not a literal — plan-time resolution must
      // refuse it rather than resolve against a garbage path
      spark.sql("SELECT * FROM graft_state(rand()::string)").collect()
    }
    val cat = tmp("badkind")
    StateTable.publish(Seq(("x", "weird-kind", "/nowhere", None: Option[Long]))
      .toDF("name", "kind", "path", "version"), cat)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft_table('$cat', 'x')").collect()
    }
    assert(e.getMessage.contains("weird-kind"),
      s"unknown kind must be named in the error: ${e.getMessage}")
  }
}
