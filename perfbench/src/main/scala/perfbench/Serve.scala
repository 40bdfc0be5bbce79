package perfbench

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, Similarity}
import graft.plans.{Counter, PlanPipeline}

/** `serve`: the online plan service, in two phases on one set of stores.
  *   - Read phase: a closed loop of [[Serve.Clients]] client threads on
  *     one session, each sending rounds of the five request kinds with
  *     seeded payloads, against stores built in set-up and unchanged
  *     during the phase (the engine's generation cache always hits). The
  *     clients run rounds in step: at least [[Serve.MinRounds]], and
  *     another while under `seconds`, so every run measures the same mix
  *     at the same concurrency.
  *   - Write phase: one writer runs one [[Ingest]] cycle (ingest steps,
  *     read-after-write, maintain) on the same stores. */
final class Serve(run: Run) extends Workload {
  import run.spark
  import Serve._

  /** Per client, its round robin of (request kind, argument). */
  private val schedule: Seq[Seq[(String, Long)]] =
    Stores.tsv(run.path("schedule.tsv")).groupBy(_(0).toInt).toSeq.sortBy(_._1)
      .map(_._2.map(a => (a(1), a(2).toLong)))
  private val docBatches: Map[Int, Seq[Row]] = Stores.tsv(run.path("dedup_probes.tsv"))
    .groupBy(_(0).toInt).map { case (p, rs) => p -> rs.map(a => Stores.docRow(a(1), a(2))) }
  private val vecBatches: Map[Int, Seq[Row]] = Stores.tsv(run.path("vec_probes.tsv"))
    .groupBy(_(0).toInt).map { case (p, rs) => p -> rs.map(a => Stores.vecRow(a(1), a(2))) }
  private val docShape = Stores.DocSchema
  private val vecShape = Stores.VecSchema
  private val corpus = spark.read.parquet(run.path("index_vecs.parquet"))

  private var stores: Stores = _
  private var writer: Ingest = _
  private var entityDir: String = _
  private var counter: Counter = _
  private val counterLock = new Object

  // per-request results, checked after the window
  private val dedupOut = new ConcurrentHashMap[Int, (Op, Set[Long])]()
  private val ivfOut = new ConcurrentHashMap[Int, (Op, Seq[(Long, Int, Long, Double)])]()
  private val pqOut = new ConcurrentHashMap[Int, (Op, Seq[(Long, Int, Long, Double)])]()
  private val getOut = new ConcurrentHashMap[Op, (Long, Seq[Row])]()
  @volatile private var applied = 0L
  private val lockWaitNs = new java.util.concurrent.atomic.AtomicLong
  private val counterOps = new java.util.concurrent.atomic.AtomicLong
  private var commits0 = Map.empty[String, Long]

  private def entities(): DataFrame = PlanPipeline.groupEntities(
    PlanPipeline.plansFrom(spark.read.parquet(run.path("nation.parquet"))),
    PlanPipeline.groupsFrom(spark.read.parquet(run.path("supplier.parquet"))))

  /** Two, not three: a rep builds all three stores, and the run budget of
    * the whole benchmark (NOTES.md) has room for two. */
  override def setupReps: Int = 2

  def setup(i: Int): Unit = {
    stores = new Stores(run, run.workPath(s"serve_$i"))
    entityDir = s"${stores.root}/entities"
    counter = new Counter(spark, s"${stores.root}/counter")
    run.trace.span("setup") {
      Run.par(
        () => stores.build(),
        () => { entities().write.parquet(entityDir); counter.set(0L) })
    }
  }

  /** One request of each kind, concurrently, on payloads the schedule
    * never reaches. */
  def warmUp(): Unit = {
    val last = docBatches.keys.max
    val lastV = vecBatches.keys.max
    val warm = Seq("dedup_probe" -> last.toLong, "ann_probe" -> lastV.toLong,
      "pq_probe" -> lastV.toLong, "entity_get" -> schedule.head.find(_._1 == "entity_get").get._2,
      "counter_incr" -> 0L)
    Run.par(warm.map { case (k, a) => () => request(k, a, record = false) }: _*)
    applied = counter.get() // the warm-up's increment
    writer = new Ingest(run, stores)
  }

  /** One request; `record = false` for warm-up (not timed, not checked). */
  private def request(kind: String, arg: Long, record: Boolean): Unit =
    kind match {
      case "dedup_probe" =>
        val rows = docBatches(arg.toInt)
        timedRecord(kind, record) {
          val out = run.trace.span("dedup_index.query") {
            DedupIndex.query(Stores.local(spark, rows, docShape), "doc_id", "text",
              stores.dedupDir).select(col("doc_id")).collect().map(_.getLong(0)).toSet
          }
          o => dedupOut.put(arg.toInt, (o, out))
        }
      case "ann_probe" =>
        val rows = vecBatches(arg.toInt)
        timedRecord(kind, record) {
          val out = run.trace.span("ann.ivf_query") {
            Stores.topK(Similarity.ivfTopKIndexed(Stores.local(spark, rows, vecShape),
              corpus, stores.ivfDir, K))
          }
          o => ivfOut.put(arg.toInt, (o, out))
        }
      case "pq_probe" =>
        val rows = vecBatches(arg.toInt)
        timedRecord(kind, record) {
          val out = run.trace.span("ann.pq_query") {
            Stores.topK(Similarity.pqTopKIndexed(Stores.local(spark, rows, vecShape),
              corpus, stores.pqDir, K))
          }
          o => pqOut.put(arg.toInt, (o, out))
        }
      case "entity_get" =>
        timedRecord(kind, record) {
          val out = run.trace.span("plans.entity_get") {
            spark.read.parquet(entityDir).filter(col("gid") === arg).collect().toSeq
          }
          o => getOut.put(o, (arg, out))
        }
      case "counter_incr" =>
        timedRecord(kind, record) {
          val w = System.nanoTime()
          counterLock.synchronized {
            if (record) { lockWaitNs.addAndGet(System.nanoTime() - w); counterOps.incrementAndGet() }
            run.trace.span("plans.counter") {
              if (arg >= 0) counter.incr() else counter.decr()
            }
            if (record) applied += (if (arg >= 0) 1 else -1)
          }
          _ => ()
        }
    }

  /** Runs `body` as a timed op (when recording) and hands the op to the
    * continuation `body` returned, so results are filed with their op. */
  private def timedRecord(kind: String, record: Boolean)(body: => Op => Unit): Unit =
    if (!record) { body; () }
    else {
      var k: Op => Unit = null
      val o = run.op(kind) { k = body }
      if (o.ok && k != null) k(o)
    }

  def measure(): Unit = {
    commits0 = Stores.commitMetrics
    val v0 = stores.versions
    val t0 = System.nanoTime()
    val deadline = t0 + (run.seconds * 1e9).toLong
    var done = 0
    @volatile var more = true
    val roundEnd = new CyclicBarrier(Clients, () => {
      done += 1
      more = done < MinRounds || System.nanoTime() < deadline
    })
    val threads = schedule.take(Clients).zipWithIndex.map { case (ops, c) =>
      val t = new Thread(() => {
        val rounds = ops.grouped(Kinds)
        while (more && rounds.hasNext) {
          rounds.next().foreach { case (k, a) => request(k, a, record = true) }
          roundEnd.await()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    run.extra("read_phase_s") = (System.nanoTime() - t0) / 1e9
    writer.measure()
    versions = stores.versions - v0
    val probed = dedupOut.values.asScala.toSeq
    run.addRows("probe_docs", dedupOut.keySet.asScala.toSeq.map(p => docBatches(p).size.toLong).sum)
    run.addRows("probe_vecs", (ivfOut.keySet.asScala.toSeq ++ pqOut.keySet.asScala.toSeq)
      .map(p => vecBatches(p).size.toLong).sum)
    run.addRows("entity_gets", getOut.size.toLong)
    run.addRows("counter_ops", counterOps.get)
    survivors = probed.map(_._2.size).sum
  }
  private var versions = 0L
  private var survivors = 0

  /** The checks are independent and run concurrently. */
  def check(): Unit = Run.par(checkDedupAndWrites _, checkAnn _, checkEntitiesAndCounter _)

  /** Dedup probes (against the base index) and the writer's ingest
    * steps (against the base index and the earlier steps' survivors) by
    * the l42 pair rule via the batch near-dup operator; then the writer's
    * read-after-write and final-state checks. */
  private def checkDedupAndWrites(): Unit = {
    val ids = dedupOut.keySet.asScala.toSeq
    val base = spark.read.parquet(run.path("index_docs.parquet"))
    val baseIds = base.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val pairs = Stores.nearPairs(base.unionByName(
      Stores.local(spark, ids.flatMap(docBatches) ++ writer.batchDocs, docShape)))
    val dropped = Stores.pairRuleDropped(pairs, baseIds)
    if (ids.nonEmpty) {
      var bad = 0
      ids.foreach { p =>
        val (o, got) = dedupOut.get(p)
        val want = docBatches(p).map(_.getLong(0)).toSet -- dropped
        if (got != want) { o.checked = false; bad += 1 }
      }
      run.check("dedup_probe.pair_rule", bad == 0, s"$bad of ${ids.size} probes differ")
    }
    writer.check(pairs, baseIds)
  }

  /** ANN and PQ probes: per-query parity with the direct ivfTopKInt8 path. */
  private def checkAnn(): Unit = {
    val vecIds = (ivfOut.keySet.asScala ++ pqOut.keySet.asScala).toSeq.distinct
    if (vecIds.nonEmpty) {
      val q = Stores.local(spark, vecIds.flatMap(vecBatches), vecShape)
      val want = Stores.topK(Similarity.ivfTopKInt8(q, corpus, K)).groupBy(_._1)
      Seq("ann_probe" -> ivfOut, "pq_probe" -> pqOut).foreach { case (name, outs) =>
        var bad = 0
        outs.asScala.foreach { case (p, (o, got)) =>
          val exp = vecBatches(p).flatMap(r => want.getOrElse(r.getLong(0), Nil)).sorted
          if (got != exp) { o.checked = false; bad += 1 }
        }
        run.check(s"$name.ivf_int8_parity", bad == 0, s"$bad of ${outs.size} probes differ")
      }
    }
  }

  /** Entity gets against the full groupEntities output; the counter's
    * final value against the applied increments and decrements. */
  private def checkEntitiesAndCounter(): Unit = {
    if (!getOut.isEmpty) {
      val full = entities().collect().map(r => r.getLong(0) -> r).toMap
      var bad = 0
      getOut.asScala.foreach { case (o, (gid, got)) =>
        if (got != full.get(gid).toSeq) { o.checked = false; bad += 1 }
      }
      run.check("entity_get.full_output", bad == 0, s"$bad of ${getOut.size} gets differ")
    }
    val v = counter.get()
    run.check("counter.final_value", v == applied, s"counter $v, applied incr-decr $applied")
  }

  def layerCounts(): Map[String, Double] = {
    val c1 = Stores.commitMetrics
    def d(k: String) = (c1.getOrElse(k, 0L) - commits0.getOrElse(k, 0L)).toDouble
    val probedDocs = run.rows.getOrElse("probe_docs", 0L) + writer.probed
    val kept = survivors + writer.kept
    Stores.counts(
      "dedup_index.segments" -> stores.dedupSegments.toDouble,
      "dedup_index.survivor_ratio" -> (if (probedDocs == 0) 0.0 else kept.toDouble / probedDocs),
      "store.bytes_per_input_byte" -> stores.bytes.toDouble / writer.inputBytes,
      "manifest.versions" -> versions.toDouble,
      "manifest.claims_lost" -> d("claims_lost"),
      "manifest.pointer_heals" -> d("pointer_heals"),
      "counter.lock_wait_ms" ->
        (if (counterOps.get == 0) 0.0 else lockWaitNs.get / 1e6 / counterOps.get))
  }
}

object Serve {
  val K = 3
  /** Read-phase client threads: at most two requests in flight keeps
    * within the checkpoint depth-2 contract (NOTES.md). */
  val Clients = 2
  /** Request kinds, one of each per round. */
  val Kinds = 5
  /** Rounds per client at least: 2 x 2 x 5 = 20 requests, 4 of each
    * kind, whose median run.py takes per kind. */
  val MinRounds = 2
}
