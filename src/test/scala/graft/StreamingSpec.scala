package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming behavior tests (SURVEY §5.2): watermark late-data drop,
  * windowed aggregation, session merge, stream dedup, stateful counter —
  * all via MemoryStream so the event-time clock is fully controlled. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class Doc(doc_id: Long, ts: Timestamp, text: String)

  private def runBatches[T](name: String, stream: MemoryStream[T],
      out: org.apache.spark.sql.DataFrame, mode: String)(batches: Seq[T]*): Unit = {
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  case class EvP(event_id: Long, ts: Timestamp, props: String)

  test("trending counts: per-window key counts finalize under the watermark; late key dropped") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[EvP]
    val agg = StreamingOps.trendingCounts(stream.toDF(), "10 minutes", "10 minutes")
    def ev(id: Long, minute: Int, k: Int) = EvP(id, ts(minute), s"""{"k": $k}""")
    runBatches("trend", stream, agg, "append")(
      Seq(ev(1, 0, 7), ev(2, 3, 7), ev(3, 5, 9)),  // window 10:00: k=7 ×2, k=9 ×1
      Seq(ev(4, 40, 9)),                            // watermark -> 10:30, finalizes 10:00
      Seq(ev(5, 2, 7)),                             // LATE 10:02 < wm -> dropped
      Seq(ev(6, 70, 9))                             // advance wm, flush 10:40
    )
    val rows = spark.table("trend")
      .select(date_format($"window_start", "HH:mm").as("w"), $"k", $"n")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows(("10:00", 7L)) == 2, s"late event must not count: $rows")
    assert(rows(("10:00", 9L)) == 1)
    assert(rows(("10:40", 9L)) == 1)
    // the streaming count tier feeds the same rank the s11 replay runs:
    // ranking the finalized table reproduces the replay's top-k shape
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"window_start").orderBy($"n".desc, $"k")
    val ranked = spark.table("trend")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" === 1)
      .select(date_format($"window_start", "HH:mm").as("w"), $"k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranked("10:00") === 7L, s"k=7 should trend in 10:00: $ranked")
  }

  test("tumbling window + watermark: late event beyond watermark is dropped") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = StreamingOps.tumblingCounts(stream.toDF(), "10 minutes", "10 minutes")
    runBatches("tumble", stream, agg, "append")(
      Seq(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(5), 1, "a", 1.0)),   // window 10:00
      Seq(Ev(3, ts(40), 1, "a", 1.0)),                              // watermark -> 10:30
      Seq(Ev(4, ts(2), 1, "a", 1.0)),                               // LATE: 10:02 < wm -> dropped
      Seq(Ev(5, ts(70), 1, "a", 1.0))                               // advance wm, flush
    )
    val rows = spark.table("tumble")
      .select(date_format($"window_start", "HH:mm").as("w"), $"n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("10:00") == 2, s"late event must not be counted: $rows")
    assert(rows("10:40") == 1)
  }

  test("sliding window: one event lands in 4 overlapping windows; late event in none") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = StreamingOps.slidingCounts(stream.toDF(), "20 minutes", "5 minutes", "10 minutes")
    runBatches("slide", stream, agg, "append")(
      Seq(Ev(1, ts(17), 1, "a", 1.0)),  // 10:17 -> windows 10:00/10:05/10:10/10:15
      Seq(Ev(2, ts(60), 1, "a", 1.0)),  // watermark -> 10:50, finalizes them
      Seq(Ev(3, ts(18), 1, "a", 1.0)),  // LATE: 10:18 < 10:50 -> dropped everywhere
      Seq(Ev(4, ts(120), 1, "a", 1.0))  // advance watermark, flush the rest
    )
    val rows = spark.table("slide")
      .select(date_format($"window_start", "HH:mm").as("w"), $"n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (w <- Seq("10:00", "10:05", "10:10", "10:15"))
      assert(rows(w) == 1, s"window $w: late event must not be counted: $rows")
    assert(!rows.values.exists(_ > 1), s"late event leaked into a window: $rows")
  }

  test("session window merges events within gap, splits across it") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = StreamingOps.sessionCounts(stream.toDF(), "30 minutes", "30 minutes")
    runBatches("sess", stream, agg, "append")(
      Seq(Ev(1, ts(0), 7, "a", 0), Ev(2, ts(10), 7, "a", 0),  // one session
          Ev(3, ts(60), 7, "a", 0)),                          // gap > 30m -> new session
      Seq(Ev(9, ts(600), 7, "a", 0))                          // push watermark, finalize
    )
    val rows = spark.table("sess").orderBy($"session_start")
      .select($"n").as[Long].collect().toSeq
    assert(rows == Seq(2, 1), s"got $rows")
  }

  test("dropDuplicatesWithinWatermark removes in-horizon duplicate ids") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    val dedup = StreamingOps.dedupWithinWatermark(stream.toDF(), "10 minutes")
    runBatches("dedup", stream, dedup, "append")(
      Seq(Ev(1, ts(0), 1, "a", 0), Ev(1, ts(1), 1, "a", 0), Ev(2, ts(2), 1, "a", 0)),
      Seq(Ev(1, ts(3), 1, "a", 0), Ev(3, ts(4), 1, "a", 0))
    )
    val ids = spark.table("dedup").select($"event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("stream-stream interval join: in-horizon pairs matched, state bounded") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val joined = StreamingOps.intervalJoin(
      clicks.toDF(), buys.toDF(), "user_id", "5 minutes", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sjoin")
      .outputMode("append").start()
    try {
      clicks.addData(Seq(Ev(1, ts(0), 7, "click", 0), Ev(2, ts(0), 8, "click", 0)))
      buys.addData(Seq(
        Ev(10, ts(3), 7, "purchase", 0),   // in horizon for click 1
        Ev(11, ts(8), 7, "purchase", 0),   // beyond 5-minute horizon
        Ev(12, ts(2), 9, "purchase", 0)))  // no matching click key
      q.processAllAvailable()
      clicks.addData(Seq(Ev(3, ts(60), 7, "click", 0))) // advance watermark
      buys.addData(Seq(Ev(13, ts(61), 7, "purchase", 0)))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("sjoin")
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L), (3L, 13L)), s"got $pairs")
  }

  test("streaming near-dup: in-horizon near-duplicates surface as candidates") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val nearDup = base + " again" // one appended token: shingle jaccard ~0.93
    val other = "completely unrelated content about databases and distributed query engines"
    val stream = MemoryStream[Doc]
    val cands = StreamingOps.streamNearDupCandidates(stream.toDF(), "10 minutes", "10 minutes")
    val q = cands.writeStream.format("memory").queryName("snd").outputMode("append").start()
    try {
      stream.addData(Seq(
        Doc(1, ts(0), base),
        Doc(2, ts(3), nearDup),   // in horizon, near-dup of 1
        Doc(3, ts(4), other)))    // in horizon, unrelated
      q.processAllAvailable()
      stream.addData(Seq(Doc(4, ts(200), base))) // same text, but far outside horizon
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("snd").select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc matched: $pairs")
    assert(!pairs.contains((1L, 4L)), s"out-of-horizon pair must not match: $pairs")
  }

  test("stream-static enrich: dim attributes attach per event, no-dim events drop") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    val dim = Seq((1L, "US"), (2L, "DE")).toDF("cust_id", "country")
    val enriched = StreamingOps.enrich(stream.toDF(), dim, "user_id", "cust_id")
      .select($"event_id", $"country")
    runBatches("enr", stream, enriched, "append")(
      Seq(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 2, "a", 1.0)),
      Seq(Ev(3, ts(2), 99, "a", 1.0)) // no dim row -> dropped (inner)
    )
    val rows = spark.table("enr").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "US"), (2L, "DE")), s"got $rows")
    // same-name key on both sides resolves per-side, no ambiguity
    val ev = Seq((10L, 1L)).toDF("event_id", "cust_id")
    val out = StreamingOps.enrich(ev, dim, "cust_id", "cust_id")
    assert(out.select("country").head().getString(0) == "US")
  }

  test("stateful running counter folds +1/-1 deltas per key (§2a#10)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val counter = StreamingOps.runningCounter(stream.toDS())
    runBatches("cnt", stream, counter.toDF("key", "value"), "update")(
      Seq(("plan-joined-count", 1L), ("plan-joined-count", 1L)),
      Seq(("plan-joined-count", -1L), ("other", 5L))
    )
    // update mode emits one row per batch per key
    val byKey = spark.table("cnt").orderBy($"value").collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
    assert(byKey("plan-joined-count").map(_._2).contains(1L))
    assert(byKey("other").map(_._2).sameElements(Array(5L)))
  }

  test("foreachBatch incremental upsert: folded micro-batches equal global latest-per-key") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    // the materialized snapshot the stream maintains — the reference's
    // refresh target, fed deltas instead of full rewrites (s9's shape)
    var state = Seq.empty[(Long, Long, Timestamp, Double)]
      .toDF("user_id", "event_id", "ts", "value")
    val latestW = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val q = stream.toDF()
      .select($"user_id", $"event_id", $"ts", $"value")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val latest = batch.withColumn("__rn", row_number().over(latestW))
          .filter($"__rn" === 1).drop("__rn")
        // localCheckpoint: the fold would otherwise replay every prior
        // batch's merge lineage on each new batch
        state = graft.operators.MergeUpsert.upsert(state, latest, "user_id")
          .localCheckpoint()
      }.start()
    try {
      stream.addData(Seq(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 2, "a", 2.0)))
      q.processAllAvailable()
      stream.addData(Seq(Ev(3, ts(2), 1, "a", 3.0))) // update user 1
      q.processAllAvailable()
      stream.addData(Seq(Ev(4, ts(3), 2, "a", 4.0), Ev(5, ts(4), 3, "a", 5.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = state.select($"user_id", $"value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 3.0, 2L -> 4.0, 3L -> 5.0), s"got $got")
  }

  test("foreachBatch ingest dedup: streaming fold equals the batch replay, survivor-only append") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // A/B/C unique; doc 11 dups doc 1 across batches (must drop); docs
    // 12 and 13 are WITHIN-batch dups of each other (both kept — the
    // index never probes its own batch); doc 23 dups doc 12 across
    // batches (drops against whichever of 12/13 was appended).
    val uniq = (c: Char) => (1 to 30).map(i => s"$c token$i$c word$i").mkString(" ")
    val b0 = Seq((1L, uniq('a')), (2L, uniq('b')))
    val b1 = Seq((11L, uniq('a')), (12L, uniq('c')), (13L, uniq('c')))
    val b2 = Seq((23L, uniq('c')), (24L, uniq('d')))
    val expected = Map(1L -> 0, 2L -> 0, 12L -> 1, 13L -> 1, 24L -> 2)

    // streaming run: MemoryStream micro-batches through the same
    // query-then-append-survivors loop the replay folds
    val idxDir = tempDir("graft_stream_dix")
    val stream = MemoryStream[(Long, String)]
    var survivors = Seq.empty[(Long, Long)].toDF("doc_id", "ingest_batch")
    var batchNo = -1L
    val q = stream.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchNo += 1
        val kept =
          if (batchNo == 0) {
            graft.operators.DedupIndex.build(batch, "doc_id", "text", idxDir)
            batch
          } else {
            val s = graft.operators.DedupIndex
              .query(batch, "doc_id", "text", idxDir).localCheckpoint()
            graft.operators.DedupIndex.append(s, "doc_id", "text", idxDir)
            s
          }
        survivors = survivors.unionByName(
          kept.select($"doc_id", lit(batchNo).as("ingest_batch")))
          .localCheckpoint()
      }.start()
    try {
      stream.addData(b0); q.processAllAvailable()
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = survivors.collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expected, s"streaming fold: $got")

    // batch replay (the s10 shape) over the same schedule ≡ streaming
    val replayDir = tempDir("graft_replay_dix")
    val replay = graft.operators.DedupIndex.ingestFold(
        Seq(b0, b1, b2).map(_.toDF("doc_id", "text")),
        "doc_id", "text", replayDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(replay == expected, s"batch replay: $replay")
  }

  // --- crash recovery: the half of exactly-once a deployment exercises ---
  // MemoryStream is NOT replayable across query restarts, so these two
  // tests drive a FILE source (one file per micro-batch) with a real
  // checkpointLocation: kill the query mid-stream by throwing from
  // foreachBatch AFTER the batch's effects ran (the crash-before-commit
  // window — Spark wrote the offset log but not the commit log), start a
  // NEW query on the same checkpoint, and assert (a) committed batches
  // are NOT redelivered, (b) the failed batch IS redelivered with the
  // same batchId, and (c) the final state/index is identical to an
  // uninterrupted run.

  test("s9 crash recovery: upsert restarts from its checkpoint; the redelivered batch re-applies idempotently") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(tempDir("graft_s9_recov"))
    val src = root.resolve("src"); java.nio.file.Files.createDirectories(src)
    val chk = root.resolve("chk").toString
    def writeFile(n: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(src.resolve(n), rows.mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id LONG, event_id LONG, seq LONG, value DOUBLE")
    var state = Seq.empty[(Long, Long, Long, Double)]
      .toDF("user_id", "event_id", "seq", "value")
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var poison = false
    val latestW = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"seq".desc, $"event_id".desc)
    // latest-per-key merge is NATURALLY idempotent: re-applying the same
    // batch reproduces the same state, so the redelivered batch needs no
    // ledger — this is the property that makes foreachBatch-upsert safe
    // under at-least-once delivery
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(src.toString)
      .writeStream.option("checkpointLocation", chk).outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        delivered += bid
        val latest = batch.withColumn("__rn", row_number().over(latestW))
          .filter($"__rn" === 1).drop("__rn")
        state = graft.operators.MergeUpsert.upsert(state, latest, "user_id")
          .localCheckpoint()
        if (poison) {
          poison = false
          throw new RuntimeException("injected crash: effects ran, commit log not written")
        }
      }.start()

    writeFile("b0.json", Seq(
      """{"user_id":1,"event_id":1,"seq":1,"value":1.0}""",
      """{"user_id":2,"event_id":2,"seq":2,"value":2.0}"""))
    val q1 = start()
    q1.processAllAvailable()
    writeFile("b1.json", Seq("""{"user_id":1,"event_id":3,"seq":3,"value":3.0}"""))
    poison = true
    intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
    writeFile("b2.json", Seq("""{"user_id":3,"event_id":4,"seq":4,"value":5.0}"""))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // offsets recovered: batch 0 never redelivered; batch 1 redelivered
    // ONCE with its original id; batch 2 fresh
    assert(delivered.toList == List(0L, 1L, 1L, 2L), s"deliveries: $delivered")
    val got = state.select($"user_id", $"value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 3.0, 2L -> 2.0, 3L -> 5.0), s"got $got")
  }

  test("s10 crash recovery: ingest-dedup restarts from checkpoint; marker-guarded append stays exactly-once") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = java.nio.file.Paths.get(tempDir("graft_s10_recov"))
    val src = root.resolve("src"); Files.createDirectories(src)
    val chk = root.resolve("chk").toString
    val idxDir = root.resolve("idx").toString
    val uniq = (c: Char) => (1 to 30).map(i => s"$c token$i$c word$i").mkString(" ")
    def docJson(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    // same corpus/expectations as the ingest-fold test above
    val b0 = Seq((1L, uniq('a')), (2L, uniq('b')))
    val b1 = Seq((11L, uniq('a')), (12L, uniq('c')), (13L, uniq('c')))
    val b2 = Seq((23L, uniq('c')), (24L, uniq('d')))
    val expected = Map(1L -> 0, 2L -> 0, 12L -> 1, 13L -> 1, 24L -> 2)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    var survivors = Seq.empty[(Long, Long)].toDF("doc_id", "ingest_batch")
    @volatile var poison = false
    // UNLIKE the upsert, query+append is NOT idempotent: re-querying a
    // batch against an index that already contains it would let
    // within-batch duplicates (12/13) suppress each other on the second
    // pass. The exactly-once stamp is the batch id RIDING the index's
    // own manifest swap (build/append(batchId = …)) — the batch's
    // effects and the commit marker are ONE atomic event, the
    // Delta/Iceberg commit shape; there is no state-written-but-
    // unmarked window for a crash to land in, which the former separate
    // marker file had.
    def applied(bid: Long) =
      graft.operators.DedupIndex.lastBatchId(idxDir).exists(_ >= bid)
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(src.toString)
      .writeStream.option("checkpointLocation", chk).outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (!applied(bid)) {
          val kept =
            if (bid == 0L) {
              graft.operators.DedupIndex.build(
                batch, "doc_id", "text", idxDir, batchId = Some(bid))
              batch
            } else {
              val s = graft.operators.DedupIndex
                .query(batch, "doc_id", "text", idxDir).localCheckpoint()
              graft.operators.DedupIndex.append(
                s, "doc_id", "text", idxDir, batchId = Some(bid))
              s
            }
          survivors = survivors.unionByName(
            kept.select($"doc_id", lit(bid).as("ingest_batch"))).localCheckpoint()
        }
        if (poison) {
          poison = false
          throw new RuntimeException("injected crash: batch committed to the index, stream commit log not written")
        }
      }.start()

    Files.write(src.resolve("b0.json"),
      b0.map((docJson _).tupled).mkString("\n").getBytes)
    val q1 = start()
    q1.processAllAvailable()
    Files.write(src.resolve("b1.json"),
      b1.map((docJson _).tupled).mkString("\n").getBytes)
    poison = true
    intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
    Files.write(src.resolve("b2.json"),
      b2.map((docJson _).tupled).mkString("\n").getBytes)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = survivors.collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expected, s"recovered fold: $got")
    // the persisted index is IDENTICAL to an uninterrupted batch replay
    // over the same schedule — band row for band row
    val replayDir = tempDir("graft_s10_recov_replay")
    graft.operators.DedupIndex.ingestFold(
      Seq(b0, b1, b2).map(_.toDF("doc_id", "text")),
      "doc_id", "text", replayDir).collect()
    def bandRows(d: String) = graft.operators.DedupIndex.readBands(spark, d)
      .select($"band", $"bkey", $"doc_id")
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(bandRows(idxDir) == bandRows(replayDir),
      "recovered index must equal the uninterrupted replay's band table")
  }

  test("s12 crash recovery: sketch maintenance restarts from checkpoint; HLL-union idempotence absorbs the redelivered batch") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.operators.SketchRollup
    val dims = Seq("event_type", "day")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_type STRING, day_s STRING, user_id LONG")
    def evJson(t: String, d: String, u: Long) =
      s"""{"event_type":"$t","day_s":"$d","user_id":$u}"""
    val b0 = Seq(("click", "2024-01-01", 1L), ("click", "2024-01-01", 2L),
      ("view", "2024-01-02", 3L))
    val b1 = Seq(("click", "2024-01-01", 2L), ("click", "2024-01-02", 4L))
    val b2 = Seq(("view", "2024-01-02", 3L), ("view", "2024-01-02", 5L))

    /** Drive the three batches through a file source with a real
      * checkpoint into a PERSISTED sketch table at `stateDir` —
      * read-merge-PUBLISH per batch through [[graft.operators
      * .StateTable]] (fresh generation + version claim; a mid-publish
      * reader keeps its generation, unlike the former in-place
      * overwrite). `crash` injects a failure AFTER batch 1's effects
      * ran (state committed, stream commit log not) and restarts with
      * the state var pattern of a dead process: everything reloads from
      * disk. Unlike s10's query+append, the fold needs NO batch stamp:
      * an HLL register is a max, so re-merging the redelivered
      * batch's sketch into a state that already contains it leaves
      * every register — and therefore every estimate — unchanged
      * (publish is called WITHOUT a batchId, deliberately, to pin
      * that idempotence). */
    def drive(tag: String, crash: Boolean): org.apache.spark.sql.DataFrame = {
      val root = java.nio.file.Paths.get(tempDir(s"graft_s12_$tag"))
      val src = root.resolve("src"); Files.createDirectories(src)
      val chk = root.resolve("chk").toString
      val stateDir = root.resolve("sketches").toString
      import graft.operators.StateTable
      @volatile var poison = false
      val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
      def start() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
        .writeStream.option("checkpointLocation", chk).outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          delivered += bid
          val bs = SketchRollup.buildSketchTable(
            batch.withColumn("day", to_date($"day_s")).drop("day_s"),
            dims, "user_id")
          val merged =
            if (StateTable.exists(stateDir))
              SketchRollup.merge(StateTable.read(spark, stateDir), bs, dims)
            else bs
          StateTable.publish(merged.coalesce(1), stateDir)
          if (poison) {
            poison = false
            throw new RuntimeException(
              "injected crash: state committed, stream commit log not")
          }
        }.start()
      def writeBatch(n: String, rows: Seq[(String, String, Long)]): Unit =
        Files.write(src.resolve(n),
          rows.map((evJson _).tupled).mkString("\n").getBytes): Unit
      writeBatch("b0.json", b0)
      val q1 = start()
      q1.processAllAvailable()
      writeBatch("b1.json", b1)
      if (crash) {
        poison = true
        intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      } else q1.processAllAvailable()
      writeBatch("b2.json", b2)
      val q2 = if (crash) start() else q1
      try q2.processAllAvailable() finally q2.stop()
      if (crash) // batch 0 committed (never redelivered); batch 1 twice; 2 fresh
        assert(delivered.toList == List(0L, 1L, 1L, 2L), s"deliveries: $delivered")
      graft.operators.StateTable.read(spark, stateDir)
    }

    val recovered = drive("crash", crash = true)
    val clean = drive("clean", crash = false)
    // the maintained table after the crash+restart answers every rollup
    // identically to the uninterrupted run's, cell for cell...
    def cells(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      SketchRollup.rollup(df, dims).collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(cells(recovered) == cells(clean),
      s"recovered=${cells(recovered)} clean=${cells(clean)}")
    // ...and both match exact distinct counts (tiny cardinalities: HLL
    // exact mode), so idempotence held at the VALUE level — the
    // redelivered batch 1 was absorbed, not double-counted (a counting
    // sink would read click@01-01 = 3 users here instead of 2)
    val exact = (b0 ++ b1 ++ b2).groupBy(e => (e._1, e._2))
      .map { case (k, v) => k -> v.map(_._3).distinct.size.toLong }
    assert(cells(recovered) == exact, s"got ${cells(recovered)} want $exact")
  }

  test("s13 crash recovery: quantile-tier maintenance restarts from checkpoint; marker-guarded merge keeps counts exact") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import graft.operators.QuantileRollup
    val dims = Seq("event_type", "day")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_type STRING, day_s STRING, value DOUBLE")
    def evJson(t: String, d: String, v: Double) =
      s"""{"event_type":"$t","day_s":"$d","value":$v}"""
    // negatives and a zero exercise the sign column through the sink
    val b0 = Seq(("click", "2024-01-01", 12.5), ("click", "2024-01-01", 80.0),
      ("view", "2024-01-02", -3.25))
    val b1 = Seq(("click", "2024-01-01", 12.5), ("click", "2024-01-02", 0.0))
    val b2 = Seq(("view", "2024-01-02", 640.0), ("view", "2024-01-02", 2.0))
    def sketchOf(rows: Seq[(String, String, Double)]) =
      QuantileRollup.buildSketchTable(
        rows.toDF("event_type", "day_s", "value")
          .withColumn("day", to_date($"day_s")).drop("day_s"),
        dims, "value")

    /** The s12 drive loop on the QUANTILE tier, with one structural
      * difference: bucket counts are SUMS, so re-merging a redelivered
      * batch would double-count it (HLL register maxima absorbed that
      * for free). The sink therefore publishes through
      * [[graft.operators.StateTable]] WITH the batch stamp: the state
      * write and the exactly-once marker are ONE atomic version claim —
      * there is no window where the state is updated but the batch not
      * recorded (the separate marker-file dance had exactly that
      * window), which is the commit shape a Delta/Iceberg sink
      * provides. */
    def drive(tag: String, crash: Boolean): org.apache.spark.sql.DataFrame = {
      val root = java.nio.file.Paths.get(tempDir(s"graft_s13_$tag"))
      val src = root.resolve("src"); Files.createDirectories(src)
      val chk = root.resolve("chk").toString
      val stateDir = root.resolve("buckets").toString
      import graft.operators.StateTable
      @volatile var poison = false
      val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
      def start() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
        .writeStream.option("checkpointLocation", chk).outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          delivered += bid
          if (!StateTable.lastBatchId(stateDir).exists(_ >= bid)) {
            val bs = QuantileRollup.buildSketchTable(
              batch.withColumn("day", to_date($"day_s")).drop("day_s"),
              dims, "value")
            val merged =
              if (StateTable.exists(stateDir))
                QuantileRollup.merge(StateTable.read(spark, stateDir), bs, dims)
              else bs
            StateTable.publish(merged.coalesce(1), stateDir, Some(bid))
          }
          if (poison) {
            poison = false
            throw new RuntimeException(
              "injected crash: state committed, stream commit log not written")
          }
        }.start()
      def writeBatch(n: String, rows: Seq[(String, String, Double)]): Unit =
        Files.write(src.resolve(n),
          rows.map((evJson _).tupled).mkString("\n").getBytes): Unit
      writeBatch("b0.json", b0)
      val q1 = start()
      q1.processAllAvailable()
      writeBatch("b1.json", b1)
      if (crash) {
        poison = true
        intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      } else q1.processAllAvailable()
      writeBatch("b2.json", b2)
      val q2 = if (crash) start() else q1
      try q2.processAllAvailable() finally q2.stop()
      if (crash) // batch 0 committed; batch 1 redelivered (stamp skips it)
        assert(delivered.toList == List(0L, 1L, 1L, 2L), s"deliveries: $delivered")
      graft.operators.StateTable.read(spark, stateDir)
    }

    val recovered = drive("crash", crash = true)
    val clean = drive("clean", crash = false)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select($"event_type", $"day", $"sgn", $"bucket", $"cnt")
        .collect().map(_.toSeq.toString).sorted.toSeq
    // bucket counts are exact integers: the crash+restart table is
    // BIT-IDENTICAL to the uninterrupted run AND to the one-shot build
    // over the union — merge-equals-whole held through the crash
    assert(rows(recovered) == rows(clean))
    assert(rows(recovered) == rows(sketchOf(b0 ++ b1 ++ b2)))
    // the stamp is load-bearing: re-merging the redelivered batch into
    // the recovered state (what an unstamped sink would have done)
    // double-counts exactly batch 1's rows
    val total = recovered.agg(sum($"cnt")).head().getLong(0)
    assert(total == (b0 ++ b1 ++ b2).size.toLong)
    assert(QuantileRollup.merge(recovered, sketchOf(b1), dims)
      .agg(sum($"cnt")).head().getLong(0) == total + b1.size)
  }

  test("two-store crash consistency: a batch landing in the dedup index but crashing before its ANN append converges on redelivery") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.operators.{AnnStore, DedupIndex, Similarity}
    // THE composed-sink window (round-14 verdict ask #6): one foreachBatch
    // feeds TWO independently-committed stores — the text dedup index and
    // the ANN embedding index — and a crash can land BETWEEN their
    // commits. There is no cross-store transaction; convergence comes
    // from each store's OWN batch stamp riding its own manifest swap:
    // on redelivery the already-committed store skips (stamp >= bid) and
    // the missed store applies, so the pair converges to exactly the
    // uninterrupted run. Both crash points are driven: between the
    // stores (bid 1), and after both but before the stream commit log
    // (bid 2, the s10 window — redelivery skips BOTH).
    val uniq = (c: Char) => (1 to 30).map(i => s"$c token$i$c word$i").mkString(" ")
    def emb(seed: Int): String =
      (1 to 8).map(d => ((seed * 31 + d * 7) % 19 - 9) / 10.0).mkString("[", ",", "]")
    def rowJson(id: Long, c: Char): String =
      s"""{"doc_id":$id,"text":"${uniq(c)}","embedding":${emb(id.toInt)}}"""
    val seed = Seq(1L -> 'a', 2L -> 'b')
    val b0 = Seq(11L -> 'c', 12L -> 'd')
    val b1 = Seq(21L -> 'e', 22L -> 'f')
    val b2 = Seq(31L -> 'g', 32L -> 'h')
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, embedding ARRAY<FLOAT>")

    def drive(tag: String, crash: Boolean): (String, String) = {
      val root = java.nio.file.Paths.get(tempDir(s"graft_twostore_$tag"))
      val src = root.resolve("src"); Files.createDirectories(src)
      val chk = root.resolve("chk").toString
      val dix = root.resolve("dix").toString
      val ann = root.resolve("ann").toString
      // seed both stores before the stream (builds are unstamped; the
      // stream is appends-only, every one stamped)
      val seedDf = seed.map { case (id, c) => (id, uniq(c)) }.toDF("doc_id", "text")
      DedupIndex.build(seedDf, "doc_id", "text", dix)
      Similarity.buildIvfIndex(
        seed.map { case (id, c) =>
          (id, emb(id.toInt).stripPrefix("[").stripSuffix("]")
            .split(",").map(_.toFloat)) }.toDF("vec_id", "embedding"),
        ann, nlistOpt = Some(2)).count()
      @volatile var poisonBetween = false
      @volatile var poisonAfter = false
      val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
      def start() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
        .writeStream.option("checkpointLocation", chk).outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          delivered += bid
          val b = batch.localCheckpoint() // one stable view for both sinks
          // store A: the text dedup index (stamped append)
          if (!DedupIndex.lastBatchId(dix).exists(_ >= bid))
            DedupIndex.append(b.select($"doc_id", $"text"),
              "doc_id", "text", dix, batchId = Some(bid))
          if (poisonBetween) {
            poisonBetween = false
            throw new RuntimeException(
              "injected crash BETWEEN the stores: dedup index committed, ANN not")
          }
          // store B: the ANN embedding index (stamped append)
          if (!AnnStore.lastBatchId(ann).exists(_ >= bid))
            Similarity.appendToIvfIndex(
              b.select($"doc_id".as("vec_id"), $"embedding"),
              ann, batchId = Some(bid)).count()
          if (poisonAfter) {
            poisonAfter = false
            throw new RuntimeException(
              "injected crash AFTER both stores, before the stream commit log")
          }
        }.start()
      def writeBatch(n: String, rows: Seq[(Long, Char)]): Unit =
        Files.write(src.resolve(n),
          rows.map { case (id, c) => rowJson(id, c) }.mkString("\n").getBytes): Unit
      writeBatch("b0.json", b0)
      val q1 = start()
      q1.processAllAvailable()
      writeBatch("b1.json", b1)
      var q = q1
      if (crash) {
        poisonBetween = true
        intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
        q = start()
        q.processAllAvailable() // redelivers b1: dix skips, ann applies
        poisonAfter = true
        writeBatch("b2.json", b2)
        intercept[Exception] { q.processAllAvailable(); q.awaitTermination() }
        q = start()
      } else writeBatch("b2.json", b2)
      try q.processAllAvailable() finally q.stop()
      if (crash)
        assert(delivered.toList == List(0L, 1L, 1L, 2L, 2L), s"deliveries: $delivered")
      (dix, ann)
    }

    val (dixC, annC) = drive("crash", crash = true)
    val (dixU, annU) = drive("clean", crash = false)
    // store A: band-row identical to the uninterrupted run
    def bands(d: String) = DedupIndex.readBands(spark, d)
      .select($"band", $"bkey", $"doc_id")
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(bands(dixC) == bands(dixU),
      "dedup index after both crashes must equal the uninterrupted run")
    // store B: same live postings, posting-exact centroid counts
    def postings(d: String) = AnnStore.postings(spark, d)
      .select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(postings(annC) == postings(annU),
      "ANN postings after both crashes must equal the uninterrupted run")
    assert(postings(annC) == (seed ++ b0 ++ b1 ++ b2).map(_._1).sorted,
      "every ingested vector lands exactly once")
    val centSum = AnnStore.centroids(spark, annC)
      .agg(sum($"n_vectors")).head().getLong(0)
    assert(centSum == postings(annC).size.toLong,
      s"centroid counts $centSum must stay posting-exact through the crashes")
    // both stamps converged to the last applied batch
    assert(DedupIndex.lastBatchId(dixC).contains(2L))
    assert(AnnStore.lastBatchId(annC).contains(2L))
  }
}
