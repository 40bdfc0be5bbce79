package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import graft.operators.{AnnStore, Dedup, DedupIndex, DriverBatch, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch-sized probes and appends built on the driver ([[DriverBatch]]):
  * at or below the floor the dedup, IVF and PQ probes and the ANN append
  * are row-identical to the distributed path and to the reference, run
  * a fixed handful of Spark jobs, and register no checkpoint; and no
  * main source takes a sub-floor branch sample of its own. */
class DriverBatchSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf, "documents")
  private lazy val emb = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))

  /** `df`'s rows as a request payload: a local relation, the way a
    * service hands a caller's batch to the engine. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** `f` with the driver branch off: every batch takes the distributed path. */
  private def distributed[T](f: => T): T = DriverBatch.withFloor(0)(f)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The ids of every RDD the context holds persisted: checkpoints
    * included, whoever made them. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Whether building `f` persisted an RDD that is still held. */
  private def checkpointed[T](f: => T): (T, Boolean) = {
    val before = persisted
    val out = f
    (out, (persisted -- before).nonEmpty)
  }

  private def dedupIndex(): String = {
    val dir = tempDir("dix_driver")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    dir
  }

  private def annIndexes(): (String, String) = {
    val ivf = tempDir("ivf_driver")
    val pq = tempDir("pq_driver")
    Similarity.buildIvfIndex(emb, ivf, cellCap = Some(256)).count()
    Similarity.buildPqIndex(emb, pq, cellCap = Some(256), centroidsFrom = Some(ivf)).count()
    (ivf, pq)
  }

  test("dedup probe: driver-built ≡ distributed ≡ the pair rule, on edge batches") {
    val dir = dedupIndex()
    // the reference: minhashLsh's pair rule over the whole fixture,
    // restricted to (batch doc, indexed doc) pairs with distinct ids
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
    val dropped = pairs.collect { case (d, e) if e % 2 == 0 => d }.toSet
    def truth(batch: DataFrame): Seq[String] = rows(batch.filter(
      col("text").isNull || !col("doc_id").isin(dropped.toSeq: _*)))
    val ordered = docs.orderBy(col("doc_id"))
    val odd = docs.filter(col("doc_id") % 2 =!= 0).orderBy(col("doc_id"))
    val batches = Seq(
      "empty" -> docs.limit(0),
      "null text" -> odd.limit(30).withColumn("text",
        when(col("doc_id") % 3 === 0, lit(null).cast("string")).otherwise(col("text"))),
      "floor" -> ordered.limit(DriverBatch.Floor),
      "floor + 1" -> ordered.limit(DriverBatch.Floor + 1),
      "duplicate ids" -> odd.limit(40).unionAll(odd.limit(40)))
    assert(dropped.intersect(ordered.limit(DriverBatch.Floor).collect()
      .map(_.getLong(0)).toSet).nonEmpty, "the fixture must exercise the drop rule")
    batches.foreach { case (name, batch) =>
      val (small, ck) = checkpointed(DedupIndex.query(batch, "doc_id", "text", dir))
      assert(ck == (name == "floor + 1"),
        s"$name: only a batch above the floor may take the checkpointed path")
      val want = truth(batch)
      assert(rows(small) == want, s"$name: driver-built probe diverged from the pair rule")
      assert(rows(DedupIndex.query(local(batch), "doc_id", "text", dir)) == want,
        s"$name: a local-relation batch diverged")
      assert(rows(distributed(DedupIndex.query(batch, "doc_id", "text", dir))) == want,
        s"$name: the distributed probe diverged from the pair rule")
    }
  }

  test("ingestFold and pairsWithNew: driver-built probes ≡ distributed probes") {
    val batches = (0 to 3).map(i => docs.filter(pmod(col("doc_id"), lit(4)) === i))
    val small = tempDir("dix_fold_small")
    val dist = tempDir("dix_fold_dist")
    val smallFold = rows(DedupIndex.ingestFold(batches, "doc_id", "text", small))
    assert(smallFold == rows(distributed(DedupIndex.ingestFold(batches, "doc_id", "text", dist))),
      "the fold's survivors depend on the probe path")
    def bands(d: String) = rows(DedupIndex.readBands(spark, d)
      .select(col("doc_id"), col("sig"), col("band"), col("bkey"), col("bprefix")))
    assert(bands(small) == bands(dist), "the fold's reused probe rows differ by path")
    // the l59 delta: pairs incident to a batch, both paths
    val dir = dedupIndex()
    val batch = docs.filter(col("doc_id") % 10 === 7)
    DedupIndex.append(batch, "doc_id", "text", dir)
    val want = rows(distributed(DedupIndex.pairsWithNew(spark, dir, batch, "doc_id", "text")))
    assert(want.nonEmpty)
    assert(rows(DedupIndex.pairsWithNew(spark, dir, local(batch), "doc_id", "text")) == want)
  }

  test("ANN probes: driver-built ≡ distributed ≡ ivfTopKInt8 on edge batches, both tiers") {
    val (ivf, pq) = annIndexes()
    val ordered = emb.orderBy(col("vec_id"))
    val serve = emb.filter(col("vec_id") % 20 === 0)
    val batches = Seq(
      "empty" -> emb.limit(0),
      "serve" -> serve,
      "floor" -> ordered.limit(DriverBatch.Floor),
      "floor + 1" -> ordered.limit(DriverBatch.Floor + 1),
      "duplicate ids" -> serve.unionAll(serve))
    batches.foreach { case (name, batch) =>
      val ivfSmall = Similarity.ivfTopKIndexed(batch, emb, ivf, 3)
      val pqSmall = Similarity.pqTopKIndexed(local(batch), emb, pq, 3)
      val ivfDist = rows(distributed(Similarity.ivfTopKIndexed(batch, emb, ivf, 3)))
      val pqDist = rows(distributed(Similarity.pqTopKIndexed(batch, emb, pq, 3)))
      assert(rows(ivfSmall) == ivfDist, s"$name: IVF driver-built probe diverged")
      assert(rows(pqSmall) == pqDist, s"$name: PQ driver-built probe diverged")
      // the branch rule: the driver builds the probe (no assignment in
      // the plan) up to the floor, the distributed probe above it
      val plan = ivfSmall.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("nearestcellsexpr") == (name == "floor + 1"), s"$name:\n$plan")
      if (name != "duplicate ids") {
        val truth = rows(Similarity.ivfTopKInt8(batch, emb, 3))
        assert(ivfDist == truth, s"$name: the IVF index diverged from ivfTopKInt8")
        assert(pqDist == truth, s"$name: the PQ index diverged from ivfTopKInt8")
      }
    }
    assert(rows(Similarity.ivfTopKIndexed(serve, emb, ivf, 3)).size == 3 * serve.count())
  }

  test("ANN append: driver-built ≡ distributed postings; the tombstone guard holds on both paths") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val small = tempDir("ivf_app_small")
    val dist = tempDir("ivf_app_dist")
    Seq(small, dist).foreach(d => Similarity.buildPqIndex(base, d, cellCap = Some(16)).count())
    val (got, ck) = checkpointed(rows(Similarity.appendToPqIndex(local(batch), small)))
    assert(!ck, "a batch-sized append must not checkpoint")
    assert(got == rows(distributed(Similarity.appendToPqIndex(batch, dist))))
    def posts(d: String) = rows(AnnStore.postings(spark, d).select(col("vec_id"),
      hex(col("pqc")), col("rn"), col("nrm"), col("shard"), col("cell")))
    assert(posts(small) == posts(dist), "the two append paths wrote different postings")
    assert(AnnStore.read(small).counts == AnnStore.read(dist).counts)
    val byId = batch.orderBy(col("vec_id"))
    Seq(small, dist).foreach { d =>
      Similarity.deleteFromIvfIndex(byId.limit(3), d).collect()
      val again = byId.limit(5)
      val msgs = Seq(
        intercept[IllegalArgumentException](Similarity.appendToPqIndex(local(again), d)),
        intercept[IllegalArgumentException](distributed(Similarity.appendToPqIndex(again, d))))
      assert(msgs.forall(_.getMessage.contains("tombstoned")), msgs.map(_.getMessage))
    }
  }

  test("serve-sized probes run a fixed handful of jobs: dedup ≤ 4, IVF and PQ ≤ 3, ANN append ≤ 4") {
    val dix = dedupIndex()
    val (ivf, pq) = annIndexes()
    val probeDocs = local(docs.filter(col("doc_id") % 2 =!= 0).orderBy(col("doc_id")).limit(25))
    val probeVecs = local(emb.filter(col("vec_id") % 20 === 0).limit(17))
    def calls(): Seq[(String, Int, () => Unit)] = Seq(
      ("dedup query", 4, () => DedupIndex.query(probeDocs, "doc_id", "text", dix).collect()),
      ("IVF top-k", 3, () => Similarity.ivfTopKIndexed(probeVecs, emb, ivf, 3).collect()),
      ("PQ top-k", 3, () => Similarity.pqTopKIndexed(probeVecs, emb, pq, 3).collect()))
    calls().foreach(_._3()) // resolve each generation's metadata once
    calls().foreach { case (name, cap, f) =>
      val jobs = jobsLaunched(f())
      assert(jobs <= cap, s"$name ran $jobs jobs (cap $cap)")
    }
    val app = tempDir("ivf_app_jobs")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 0), app).count()
    val batches = emb.filter(col("vec_id") % 10 === 0).orderBy(col("vec_id")).collect()
      .grouped(24).map(b => spark.createDataFrame(java.util.Arrays.asList(b: _*), emb.schema))
      .toSeq
    Similarity.appendToIvfIndex(batches.head, app).count()
    val jobs = jobsLaunched(Similarity.appendToIvfIndex(batches(1), app).count())
    assert(jobs <= 4, s"a 24-vector append ran $jobs jobs")
  }

  test("concurrent driver-built probes on one session: row-identical to serial, no checkpoint") {
    val dix = dedupIndex()
    val (ivf, pq) = annIndexes()
    val probes: Seq[() => Seq[String]] = (0 until 6).flatMap { i =>
      val d = local(docs.filter(pmod(col("doc_id"), lit(12)) === 2 * i + 1))
      val v = local(emb.filter(pmod(col("vec_id"), lit(24)) === i))
      Seq(
        () => rows(DedupIndex.query(d, "doc_id", "text", dix)),
        () => rows(Similarity.ivfTopKIndexed(v, emb, ivf, 3)),
        () => rows(Similarity.pqTopKIndexed(v, emb, pq, 3)))
    }
    val serial = probes.map(_())
    val before = persisted
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map(t => pool.submit(new Callable[Seq[(Int, Seq[String])]] {
        def call(): Seq[(Int, Seq[String])] = (0 until 10).map { i =>
          val p = (t * 10 + i) % probes.size
          p -> probes(p)()
        }
      }))
      val results = runs.flatMap(_.get(10, TimeUnit.MINUTES))
      assert(results.size == 40)
      results.foreach { case (p, got) =>
        assert(got == serial(p), s"probe $p diverged from its serial run under concurrency")
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    assert((persisted -- before).isEmpty, "a driver-built probe persisted an RDD")
  }

  /** The chains of `text` that take a `limit(n + 1)` branch sample by hand. */
  private def handSamplers(text: String): Seq[String] = {
    val sample = """\.limit\((?:[^()]|\([^()]*\))*\+\s*1\)\.collect\(\)""".r
    SourceCheck.chains(text).filter(sample.findFirstIn(_).isDefined)
  }

  test("one sub-floor sampler: no main source hand-rolls a limit(n + 1) branch or a floor conf key") {
    val bad = Seq(
      """val sample = edges.select(col("u").cast("long"), col("v").cast("long"))
        |  .limit(cap.toInt + 1).collect()""".stripMargin,
      """vocab.limit(DriverTrainMaxWords + 1).collect()""")
    bad.foreach(src => assert(handSamplers(src).size == 1, src))
    val fine = Seq(
      """// edges.limit(cap + 1).collect() in a comment""",
      """best.orderBy(col("c").desc).limit(1).collect()""")
    fine.foreach(src => assert(handSamplers(src).isEmpty, src))
    val found = SourceCheck.mainSources.flatMap { case (f, text) => handSamplers(text).map(f -> _) }
    val operators = java.nio.file.Paths.get("scala", "graft", "operators")
    // DedupIndex.probeKeys caps how many band keys are pushed down to the
    // index scan; it takes no branch
    assert(found.map(_._1).sorted == Seq(
      operators.resolve("DedupIndex.scala").toString,
      operators.resolve("DriverBatch.scala").toString), found)
    assert(found.exists { case (f, c) =>
      f.endsWith("DedupIndex.scala") && c.contains("""select(col("bkey")).distinct()""")
    }, found)
    val floorKey = """"graft\.(components|bpe)\.""".r
    val keyed = SourceCheck.mainSources.collect { case (f, t) if floorKey.findFirstIn(t).isDefined => f }
    assert(keyed.isEmpty, keyed)
  }
}
