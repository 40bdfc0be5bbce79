package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import graft.operators.{Dedup, DedupIndex, DriverBatch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Millis, Seconds, Span}

/** The one checkpoint lifecycle ([[Checkpoints]]): a checkpoint lives as
  * long as the frame that reads it. Any number of frames built through
  * one call site stay executable until they are dropped, concurrent
  * sessions never free each other's blocks, and once the frames are
  * garbage every block they held is released. */
class CheckpointLifecycleSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf, "documents")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("frames built from one call site before any of them runs: each equals its serial run") {
    import spark.implicits._
    val dir = tempDir("ck_dix")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    // the distributed probe checkpoints its band rows (the returned frame reads them)
    def probe(b: DataFrame) = DriverBatch.withFloor(0)(DedupIndex.query(b, "doc_id", "text", dir))
    val batches = (0 until 3).map(i => docs.filter(pmod(col("doc_id"), lit(6)) === 2 * i + 1))
    val serialProbes = batches.map(b => rows(probe(b)))
    val probes = batches.map(probe)
    assert(probes.map(rows) == serialProbes, "a probe built before the others ran diverged")

    // the distributed closure checkpoints its labels (the returned frame reads them)
    def close(p: DataFrame) = DriverBatch.withFloor(0)(Dedup.connectedComponents(p, "id_a", "id_b"))
    val pairSets = Seq(5, 6, 7).map { seed =>
      val rnd = new scala.util.Random(seed)
      Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)).toDF("id_a", "id_b")
    }
    val serialLabels = pairSets.map(p => rows(close(p)))
    val labels = pairSets.map(close)
    assert(labels.map(rows) == serialLabels, "a closure built before the others ran diverged")
  }

  test("concurrent sessions: l42- and l59-shaped runs equal a serial run; every checkpoint is released") {
    val before = persisted
    // one store: the l59 fixture (index over the base corpus, its closure
    // labels, then the held-out batch appended), probed by both shapes
    val idx = tempDir("ck_store")
    val lab = tempDir("ck_labels")
    DedupIndex.build(docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", idx)
    Dedup.connectedComponents(DedupIndex.selfPairs(spark, idx), "id_a", "id_b")
      .write.mode("overwrite").parquet(lab)
    DedupIndex.append(docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", idx)
    def l42(s: SparkSession): Seq[String] = rows(DriverBatch.withFloor(0)(DedupIndex.query(
      Tables(s, sf, "documents").filter(col("doc_id") % 2 =!= 0), "doc_id", "text", idx))
      .select(col("doc_id")))
    def l59(s: SparkSession): Seq[String] = rows(DriverBatch.withFloor(0)(
      Dedup.incrementalComponents(s.read.parquet(lab), DedupIndex.pairsWithNew(
        s, idx, Tables(s, sf, "documents").filter(col("doc_id") % 10 === 7), "doc_id", "text"))))
    val want = (l42(spark), l59(spark))
    assert(want._1.nonEmpty && want._2.nonEmpty)

    val sessions = Seq(spark.newSession(), spark.newSession())
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map(t => pool.submit(new Callable[Seq[(Seq[String], Seq[String])]] {
        def call(): Seq[(Seq[String], Seq[String])] = {
          val s = sessions(t % 2)
          (0 until 5).map(_ => (l42(s), l59(s)))
        }
      }))
      val results = runs.flatMap(_.get(10, TimeUnit.MINUTES))
      assert(results.size == 20)
      results.zipWithIndex.foreach { case (got, i) =>
        assert(got._1 == want._1, s"run $i: the l42-shaped probe diverged from its serial run")
        assert(got._2 == want._2, s"run $i: the l59-shaped closure diverged from its serial run")
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }

    // every frame above is dropped: the ContextCleaner frees what they held
    System.gc()
    eventually(timeout(Span(10, Seconds)), interval(Span(200, Millis))) {
      System.gc()
      val held = persisted -- before
      assert(held.isEmpty, s"persisted RDDs $held outlived every frame that reads them")
    }
  }

  /** The chains of `text` that call the keyed rotation, or hand a
    * checkpoint call a string key. */
  private def keyedCheckpoints(text: String): Seq[String] = {
    val keyed = """Checkpoints\.(?:rotate|adopt)\b|Checkpoints\.\w+\(\s*s?"""".r
    SourceCheck.chains(text).filter(keyed.findFirstIn(_).isDefined)
  }

  /** The names `text` declares as public members at object-body level. */
  private def publicMembers(text: String): Seq[String] = {
    val decl = """^  (?:(?:override|final|implicit|lazy)\s+)*(?:def|val|var|type|object|class|trait)\s+(\w+)""".r
    text.linesIterator.flatMap(l => decl.findFirstMatchIn(l).map(_.group(1))).toSeq
  }

  /** The chains of `text` that create a temp directory. */
  private def tempDirs(text: String): Seq[String] =
    SourceCheck.chains(text).filter(_.contains("createTempDirectory"))

  test("one checkpoint lifecycle and one scratch root: no keyed rotation, no stray temp directory") {
    val keyedSrc = Seq(
      """val rows = graft.Checkpoints.rotate("dedup_index_probe", df)""",
      """graft.Checkpoints.adopt("dedup.connectedComponentsStars.labels",
        |  labels)""".stripMargin,
      """val s = Checkpoints.rotate(s"dix_ingest_b$i", surv)""")
    keyedSrc.foreach(src => assert(keyedCheckpoints(src).size == 1, src))
    val fine = Seq(
      """// Checkpoints.rotate("k", df) in a comment""",
      """graft.Checkpoints.free(labels)""")
    fine.foreach(src => assert(keyedCheckpoints(src).isEmpty, src))
    assert(publicMembers(
      """object Checkpoints {
        |  val DefaultDepth = 2
        |  private val live = new java.util.concurrent.ConcurrentHashMap[String, Int]()
        |  def rotate(key: String, df: DataFrame): DataFrame = df
        |  private[graft] def liveIds: Set[Int] = Set.empty
        |  def free(df: DataFrame): Unit = ()
        |    def nested = 1
        |}""".stripMargin) == Seq("DefaultDepth", "rotate", "free"))
    assert(tempDirs("""val tmp = java.nio.file.Files.createTempDirectory("graft_a2_csv").toString""").size == 1)

    val main = SourceCheck.mainSources
    def graftFile(name: String) = java.nio.file.Paths.get("scala", "graft", name).toString
    val keyed = main.flatMap { case (f, t) => keyedCheckpoints(t).map(c => s"$f: keyed checkpoint: $c") }
    val exposed = main.collect { case (f, t) if f == graftFile("Checkpoints.scala") => publicMembers(t) }
      .flatten.filter(_ != "free").map(m => s"Checkpoints exposes $m (only free may be public)")
    val owners = Set(graftFile("Scratch.scala"), graftFile("ScaleBench.scala"))
    val strays = main.collect { case (f, t) if !owners(f) && tempDirs(t).nonEmpty =>
      s"$f: a temp directory outside the one scratch root (Scratch)" }
    val problems = keyed ++ exposed ++ strays
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }
}
