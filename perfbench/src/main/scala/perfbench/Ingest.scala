package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{AnnStore, DedupIndex, Similarity}

/** The write side of `serve`, run by one writer after the read clients
  * stop, on the same stores. One cycle of timed ops:
  *   - [[Ingest.Steps]] `ingest` steps, each on its own share of the
  *     seeded batch: probe the dedup index with the step's docs, append
  *     the survivors, append the step's vectors to the IVF and PQ indexes
  *     (all stamped with the step's batch id);
  *   - `read_after_write`: probe all three stores for rows just
  *     appended; every commit changed the stores' generation sets, so
  *     these reads miss the engine's generation cache;
  *   - `maintain`: take seeded rows down, then compact and vacuum all
  *     three stores.
  * Each op writes or reads the three stores concurrently, one thread per
  * store. Results are checked after the window. */
final class Ingest(run: Run, stores: Stores) {
  import run.spark
  import Ingest._

  private val docShape = Stores.DocSchema
  private val vecShape = Stores.VecSchema
  private val docs = Stores.tsv(run.path("ingest_docs.tsv")).map(a => Stores.docRow(a(0), a(1)))
  private val vecs = Stores.tsv(run.path("ingest_vecs.tsv")).map(a => Stores.vecRow(a(0), a(1)))
  // row i goes to step i % Steps, so every step carries the planted share
  private def steps(rows: Seq[Row]): Seq[Seq[Row]] =
    (0 until Steps).map(k => rows.indices.filter(_ % Steps == k).map(rows))
  private val stepDocs = steps(docs)
  private val stepVecs = steps(vecs)
  private val takedown = Stores.tsv(run.path("takedowns.tsv"))
  private val tdDocs = takedown.map(_(0).toLong)
  private val tdVecs = takedown.map(_(1).toLong)
  private val baseDocs = spark.read.parquet(run.path("index_docs.parquet"))
  private val baseVecs = spark.read.parquet(run.path("index_vecs.parquet"))

  private var ingestOps: Seq[Op] = Nil
  private var rawOp: Op = _
  private var maintained = false
  /** Per step, the docs its probe kept (and appended). */
  private val stepSurvivors = Array.fill(Steps)(Seq.empty[Row])
  private var resendLeft = Set.empty[Long]
  private var ivf, pq: Seq[(Long, Int, Long, Double)] = Nil

  private def okSteps: Seq[Int] = ingestOps.indices.filter(ingestOps(_).ok)
  private def survivors: Seq[Row] = okSteps.flatMap(stepSurvivors(_))
  private def appendedVecs: Seq[Row] = okSteps.flatMap(stepVecs)
  def probed: Int = okSteps.map(stepDocs(_).size).sum
  def kept: Int = survivors.size

  /** One step: its docs through the dedup index, its vectors into both
    * ANN tiers, the three stores at once. */
  private def ingest(k: Int): Op = run.op("ingest") {
    val batch = Stores.local(spark, stepVecs(k), vecShape)
    val id = Some(FirstBatchId + k)
    Run.par(
      () => {
        stepSurvivors(k) = run.trace.span("dedup_index.query") {
          DedupIndex.query(Stores.local(spark, stepDocs(k), docShape), "doc_id", "text",
            stores.dedupDir).select(col("doc_id"), col("text")).collect().toSeq
        }
        run.trace.span("dedup_index.append") {
          DedupIndex.append(Stores.local(spark, stepSurvivors(k), docShape), "doc_id", "text",
            stores.dedupDir, batchId = id)
        }
      },
      () => run.trace.span("ann.append") {
        Similarity.appendToIvfIndex(batch, stores.ivfDir, id).count(); ()
      },
      () => run.trace.span("ann.append") {
        Similarity.appendToPqIndex(batch, stores.pqDir, id).count(); ()
      })
  }

  def measure(): Unit = {
    ingestOps = (0 until Steps).map(ingest)
    run.addRows("docs_ingested", probed.toLong)
    run.addRows("vecs_ingested", appendedVecs.size.toLong)
    rawOp = run.op("read_after_write") {
      // appended rows again under fresh ids (a probe never matches its
      // own id): every redelivered doc must be dropped, and every vector
      // must come back as its own top-1
      val resend = survivors.take(ProbeRows)
        .map(r => Row(r.getLong(0) + ResendOffset, r.getString(1)))
      val q = Stores.local(spark, appendedVecs.take(ProbeRows)
        .map(r => Row(r.getLong(0) + ResendOffset, r.getSeq[Float](1))), vecShape)
      val corpus = baseVecs.unionByName(Stores.local(spark, appendedVecs, vecShape))
      Run.par(
        () => resendLeft = run.trace.span("dedup_index.query") {
          DedupIndex.query(Stores.local(spark, resend, docShape), "doc_id", "text",
            stores.dedupDir).select(col("doc_id")).collect().map(_.getLong(0)).toSet
        },
        () => ivf = run.trace.span("ann.ivf_query") {
          Stores.topK(Similarity.ivfTopKIndexed(q, corpus, stores.ivfDir, Serve.K))
        },
        () => pq = run.trace.span("ann.pq_query") {
          Stores.topK(Similarity.pqTopKIndexed(q, corpus, stores.pqDir, Serve.K))
        })
    }
    maintained = run.op("maintain") {
      import spark.implicits._
      def annMaintain(d: String): Unit = run.trace.span("ann.maintain") {
        Similarity.deleteFromIvfIndex(tdVecs.toDF("vec_id"), d).collect()
        Similarity.compactIvfIndex(spark, d)
        AnnStore.vacuum(d, minAgeMs = 0L)
      }
      Run.par(
        () => run.trace.span("dedup_index.maintain") {
          DedupIndex.delete(tdDocs.toDF("doc_id"), "doc_id", stores.dedupDir)
          DedupIndex.compact(spark, stores.dedupDir)
          DedupIndex.vacuum(stores.dedupDir, minAgeMs = 0L)
        },
        () => annMaintain(stores.ivfDir),
        () => annMaintain(stores.pqDir))
    }.ok
  }

  /** The ingest batch's docs, for the caller's pair-rule check. */
  def batchDocs: Seq[Row] = docs

  /** `pairs`: the l42 near-duplicate pairs over the base docs and the
    * batch. A step's probe saw the base index plus the earlier steps'
    * survivors, so it must drop exactly the docs paired with one of those. */
  def check(pairs: Seq[(Long, Long)], baseIds: Set[Long]): Unit = {
    var indexed = baseIds
    ingestOps.zipWithIndex.foreach { case (o, k) =>
      if (o.ok) {
        val ids = stepDocs(k).map(_.getLong(0)).toSet
        val want = ids -- Stores.pairRuleDropped(pairs, indexed)
        val got = stepSurvivors(k).map(_.getLong(0)).toSet
        if (got != want) o.checked = false
        run.check(s"ingest.$k.pair_rule", got == want,
          s"${(got -- want).size} kept wrongly, ${(want -- got).size} dropped wrongly")
        indexed ++= got
      }
    }
    if (rawOp.ok) {
      val top1 = ivf.filter(_._2 == 1).map(r => (r._1 - ResendOffset) -> r._3).toMap
      val fails = Seq(
        "resend_kept" -> resendLeft.nonEmpty,
        "not_found" -> !appendedVecs.take(ProbeRows).map(_.getLong(0))
          .forall(v => top1.get(v).contains(v)),
        "pq_ivf_differ" -> (ivf != pq)).filter(_._2).map(_._1)
      if (fails.nonEmpty) rawOp.checked = false
      run.check("read_after_write.found", fails.isEmpty, fails.mkString(","))
    }
    // final store state: every appended row present, every taken-down row gone
    val docIds = survivors.map(_.getLong(0)).toSet
    val vecIds = appendedVecs.map(_.getLong(0)).toSet
    val deletedDocs = if (maintained) tdDocs.toSet else Set.empty[Long]
    val deletedVecs = if (maintained) tdVecs.toSet else Set.empty[Long]
    val dix = DedupIndex.readBands(spark, stores.dedupDir).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    run.check("maintain.dedup_index_state",
      docIds.subsetOf(dix) && deletedDocs.intersect(dix).isEmpty,
      s"${(docIds -- dix).size} appended missing, ${deletedDocs.intersect(dix).size} deleted present")
    Seq(stores.ivfDir, stores.pqDir).foreach { d =>
      val live = AnnStore.postings(spark, d).select("vec_id").collect().map(_.getLong(0)).toSet
      run.check(s"maintain.${d.split('/').last}_state",
        vecIds.subsetOf(live) && deletedVecs.intersect(live).isEmpty,
        s"${(vecIds -- live).size} appended missing, ${deletedVecs.intersect(live).size} deleted present")
    }
  }

  /** Payload bytes now held by the stores: base plus appended rows. */
  def inputBytes: Double = Stores.payloadBytes(baseDocs, baseVecs) +
    Stores.payloadBytes(Stores.local(spark, survivors, docShape),
      Stores.local(spark, appendedVecs, vecShape))
}

object Ingest {
  /** Ingest steps per cycle; `write_ms` is their sum. The first is the
    * process's first write: cold append code, and a probe the generation
    * cache still serves from the read phase. The second runs on warm code
    * and its probe misses the cache. */
  val Steps = 2
  /** Step k is stamped with batch id FirstBatchId + k. */
  val FirstBatchId = 1L
  /** Rows per read-after-write probe. */
  val ProbeRows = 8
  val ResendOffset = 1000000000L
}
