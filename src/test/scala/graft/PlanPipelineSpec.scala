package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.operators.ManifestCommit
import graft.plans.{Counter, PlanPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Reference-semantics tests (SURVEY §5.2): mask edge cases under true
  * 64-bit arithmetic — bit 0, bit 30, bit 31, bit 63, zero mask, missing
  * plan id, multi-bit ordering — plus a differential check of the
  * per-row decode against the explode/join/aggregate formulation. */
class PlanPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The built-in formulation `groupEntities` replaced: explode the set
    * bits, broadcast-join `plans`, nest per gid, left-join back. For
    * unique non-null gids it defines the expected output. */
  private def explodeJoinReference(plans: DataFrame, groups: DataFrame): DataFrame = {
    val exploded = groups
      .withColumn("bit",
        explode(expr("filter(sequence(0, 63), i -> (shiftleft(CAST(1 AS BIGINT), i) & mask) != 0)")))
      .withColumn("plan_id", expr("shiftleft(CAST(1 AS BIGINT), bit)"))
    val nested = exploded
      .join(broadcast(plans), exploded("plan_id") === plans("id"))
      .groupBy(col("gid"))
      .agg(
        count(lit(1)).as("n_plans"),
        concat_ws(",",
          transform(
            sort_array(collect_list(struct(col("bit"), col("title")))),
            p => p.getField("title"))).as("plan_titles"))
    groups.join(nested, Seq("gid"), "left")
      .select(
        col("gid"), col("gtitle").as("title"), col("mask"),
        coalesce(col("n_plans"), lit(0L)).as("n_plans"),
        coalesce(col("plan_titles"), lit("")).as("plan_titles"))
  }

  private def entityRows(df: DataFrame): Seq[(Option[Long], String, Option[Long], Long, String)] =
    df.collect().toSeq.map(r => (
      Option(r.getAs[java.lang.Long]("gid")).map(_.longValue), r.getAs[String]("title"),
      Option(r.getAs[java.lang.Long]("mask")).map(_.longValue),
      r.getAs[Long]("n_plans"), r.getAs[String]("plan_titles")))

  test("bitmask pipeline edge cases: bits 0/30/31/63, zero mask, missing plan, order") {
    import spark.implicits._
    val plans = Seq(
      (1L, "p0", "o0"),                    // bit 0
      (1L << 30, "p30", "o30"),            // bit 30
      (1L << 31, "p31", "o31"),            // bit 31 — broken in the reference's JS, works here
      (Long.MinValue, "p63", "o63")        // bit 63 (sign bit)
    ).toDF("id", "title", "optional")

    val groups = Seq(
      (1L, "g_bit0", 1L),
      (2L, "g_bit30_31", (1L << 30) | (1L << 31)),
      (3L, "g_bit63", Long.MinValue),
      (4L, "g_zero", 0L),
      (5L, "g_missing", 1L | (1L << 7)),   // bit 7 has no plan -> dropped
      (6L, "g_multi", 1L | (1L << 31) | Long.MinValue)
    ).toDF("gid", "gtitle", "mask")

    val got = PlanPipeline.groupEntities(plans, groups)
      .collect().map(r => r.getAs[String]("title") ->
        (r.getAs[Long]("n_plans"), r.getAs[String]("plan_titles"))).toMap

    assert(got("g_bit0") == (1L, "p0"))
    assert(got("g_bit30_31") == (2L, "p30,p31"))
    assert(got("g_bit63") == (1L, "p63"))
    assert(got("g_zero") == (0L, ""))          // empty group still materialized
    assert(got("g_missing") == (1L, "p0"))     // silent drop of id 128
    assert(got("g_multi") == (3L, "p0,p31,p63")) // bit order pinned
  }

  test("per-row decode equals the explode/join/aggregate formulation on random inputs") {
    import spark.implicits._
    // titles that order differently by UTF-16 and by UTF-8 bytes, an
    // empty title (kept by concat_ws) and repeats
    val titlePool = Seq("a", "B", "b", "", "é", "z", "\uFFFD", "\uD835\uDCB3", "p1", "p10", "p2")
    // slot 5 always holds the whole pool and a null title, so the order
    // within a slot is exercised on every seed that has plans
    val slot5 = titlePool.map(Option(_)) :+ None
    for (seed <- Seq(1, 2, 3, 4, 5)) {
      val rnd = new scala.util.Random(seed)
      def bit(): Long = 1L << rnd.nextInt(64)
      val plans = (if (seed == 5) Seq.empty else Seq.fill(40 + rnd.nextInt(40)) {
        val id: Option[Long] = rnd.nextInt(20) match {
          case 0 => None
          case 1 => Some(0L)
          case 2 => Some(bit() | bit() | 3L)       // not a power of two
          case 3 => Some(-1L)
          case 4 => Some(1L << 31)
          case 5 => Some(Long.MinValue)            // bit 63
          case n if n < 12 => Some(1L << rnd.nextInt(8)) // shared slots
          case _ => Some(bit())
        }
        val title = if (rnd.nextInt(6) == 0) None else Some(titlePool(rnd.nextInt(titlePool.size)))
        (id, title, "opt")
      } ++ slot5.map(t => (Some(1L << 5), t, "opt"))).toDF("id", "title", "optional")
      val gids = rnd.shuffle((0L until 600L).toList)
      val groups = gids.map { gid =>
        val mask: Option[Long] = rnd.nextInt(20) match {
          case 0 => None
          case 1 => Some(0L)
          case 2 => Some(-1L)                        // all 64 bits
          case 3 => Some(rnd.nextLong())             // ~half the bits
          case 4 => Some((1L << 31) | Long.MinValue)
          case _ => Some(Seq.fill(1 + rnd.nextInt(13))(bit()).reduce(_ | _))
        }
        (gid, s"g$gid", mask)
      }.toDF("gid", "gtitle", "mask").repartition(3)

      val got = PlanPipeline.groupEntities(plans, groups)
      val want = explodeJoinReference(plans, groups)
      assert(got.schema == want.schema)
      val (g, w) = (entityRows(got).sortBy(_._1), entityRows(want).sortBy(_._1))
      assert(g.size == 600 && g == w,
        s"seed $seed: first difference ${g.zip(w).find(p => p._1 != p._2)}")
      if (seed == 1) assert(g.exists(_._4 > 3) && g.exists(r => r._4 > 0 && r._5.isEmpty),
        "the inputs must reach multi-plan groups and matched null or empty titles")
    }
  }

  test("decode is per row: duplicate and null gids each decode their own mask") {
    import spark.implicits._
    val plans = Seq((1L, "p0"), (2L, "p1")).toDF("id", "title")
    val groups = Seq(
      (Some(7L), "first", 1L), (Some(7L), "second", 2L), (None, "nogid", 3L)
    ).toDF("gid", "gtitle", "mask")
    val got = entityRows(PlanPipeline.groupEntities(plans, groups))
      .map(r => r._2 -> (r._1, r._4, r._5)).toMap
    assert(got == Map(
      "first" -> (Some(7L), 1L, "p0"),
      "second" -> (Some(7L), 1L, "p1"),
      "nogid" -> (None, 2L, "p0,p1")))
  }

  test("group-entity plan: no shuffle or broadcast exchange, only m3's ordering") {
    def exchanges(df: DataFrame): Seq[String] = {
      df.collect() // finalize the adaptive plan
      collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e.outputPartitioning.toString
        case e: BroadcastExchangeLike => "broadcast"
      }
    }
    val entities = PlanPipeline.groupEntities(
      PlanPipeline.plansFrom(Tables(spark, sf, "nation")),
      PlanPipeline.groupsFrom(Tables(spark, sf, "supplier")))
    assert(exchanges(entities).isEmpty, entities.queryExecution.executedPlan)
    // the declared query adds only its ORDER BY gid range exchange
    val m3 = SparkEntry.queries("m3_plan_group_entities")(spark, sf)
    val ex = exchanges(m3)
    assert(ex.size == 1 && ex.head.startsWith("rangepartitioning(gid"), ex)
  }

  test("fixture-derived pipeline: every supplier yields a group row") {
    val supplier = Tables(spark, sf, "supplier")
    val out = plans.PlanPipeline.m3Groups.run(spark, sf)
    assert(out.count() == supplier.count())
    // at least one group exercises the dropped high bits
    assert(out.filter(col("mask") < 0).count() > 0) // bit 63 present
  }

  test("counter: get-default, set, incr, decr, persistence across instances") {
    val path = tempDir("graft_counter") + "/c"
    val c = new Counter(spark, path)
    assert(c.get() == 0L)           // absent reads as 0 (plan-server.ts:80-82)
    assert(c.set(41L) == 41L)
    assert(c.incr() == 42L)
    assert(c.decr() == 41L)
    val c2 = new Counter(spark, path) // fresh handle, same snapshot
    assert(c2.get() == 41L)
  }

  test("counter: get, set, incr and decr each run no Spark job") {
    val c = new Counter(spark, tempDir("graft_counter_jobs") + "/c")
    assert(jobsLaunched(assert(c.set(5L) == 5L)) == 0)
    assert(jobsLaunched(assert(c.get() == 5L)) == 0)
    assert(jobsLaunched(assert(c.incr() == 6L)) == 0)
    assert(jobsLaunched(assert(c.decr() == 5L)) == 0)
  }

  test("counter: after 1 000 ops at most RetainVersions + 1 manifest versions remain, and the value is right") {
    val path = tempDir("graft_counter_vacuum") + "/c"
    val c = new Counter(spark, path)
    var want = 0L
    (1 to 1000).foreach { i =>
      if (i % 100 == 0) { want = i.toLong; assert(c.set(want) == want) }
      else if (i % 4 == 0) { want -= 1; assert(c.decr() == want) }
      else { want += 1; assert(c.incr() == want) }
    }
    assert(c.get() == want && new Counter(spark, path).get() == want)
    val versions = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.matches("MANIFEST\\.v\\d+"))
    assert(versions.length <= Counter.RetainVersions + 1,
      s"the per-update vacuum must bound the log: ${versions.sorted.mkString(", ")}")
    assert(ManifestCommit.currentVersion(path) == 1000L)
  }

  test("counter: a path holding the old one-row parquet snapshot fails on every op, never reads 0") {
    import spark.implicits._
    val path = tempDir("graft_counter_parquet") + "/c"
    Seq(41L).toDF("value").coalesce(1).write.parquet(path)
    val c = new Counter(spark, path)
    for ((name, op) <- Seq[(String, () => Long)]("get" -> (() => c.get()),
        "set" -> (() => c.set(1L)), "incr" -> (() => c.incr()), "decr" -> (() => c.decr()))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("no counter manifest"), s"$name: ${e.getMessage}")
    }
    assert(!ManifestCommit.exists(path), "a failed op must not commit into the snapshot")
  }

  /** WARN-or-worse log events emitted while `f` runs, seen through an
    * appender on the root logger (the session logs at WARN). */
  private def warnings(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender(s"warn-capture-${System.nanoTime()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try f
    finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("counter: a fresh counter's first get reads 0 with no WARN and no job") {
    val path = tempDir("graft_counter_fresh") + "/c"
    // control: the capture does see the WARN a plain read of the absent
    // path logs, so an empty capture below means none was logged
    val control = warnings {
      try spark.read.schema("value BIGINT").parquet(path).collect()
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    assert(control.nonEmpty, "the capture must see Spark's missing-path WARN")
    val c = new Counter(spark, path)
    var jobs = -1
    val logged = warnings { jobs = jobsLaunched(assert(c.get() == 0L)) }
    assert(logged.isEmpty, s"a fresh counter's get logged: $logged")
    assert(jobs == 0, s"a fresh counter's get ran $jobs jobs")
  }

  test("counter: concurrent incr through two handles on one path loses no update") {
    val path = tempDir("graft_counter_mt") + "/c"
    // the second handle spells the same path as a URI: both commit on one log
    val handles = Seq(new Counter(spark, path), new Counter(spark, s"file:$path"))
    val pool = Executors.newFixedThreadPool(4)
    val results = new ConcurrentLinkedQueue[java.lang.Long]
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 25).foreach(_ => results.add(handles(t % 2).incr()))
        })
      }
      futures.foreach(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(handles.map(_.get()) == Seq(100L, 100L))
    // atomic: every increment returned its own value
    assert(results.asScala.map(_.longValue).toSeq.sorted == (1L to 100L))
  }

  test("merge upsert laws: identity, idempotence, NULL-carrying change wins") {
    import spark.implicits._
    import graft.operators.MergeUpsert.upsert
    val base = Seq((1L, Option("a"), 10), (2L, Option("b"), 20), (3L, Option("c"), 30))
      .toDF("id", "name", "v")
    val changes = Seq((2L, None: Option[String], 99), (4L, Option("d"), 40))
      .toDF("id", "name", "v")
    // empty changes -> base unchanged
    val same = upsert(base, changes.limit(0), "id")
    assert(same.orderBy("id").collect().toSeq ==
      base.orderBy("id").collect().toSeq)
    val once = upsert(base, changes, "id")
    val got = once.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2))).toSeq
    // matched key 2 takes the change WHOLESALE (its NULL name included),
    // unmatched key 4 inserts, keys 1/3 pass through
    assert(got == Seq((1L, Some("a"), 10), (2L, None, 99),
      (3L, Some("c"), 30), (4L, Some("d"), 40)), s"got $got")
    // idempotence: re-applying the same changes is a no-op
    val twice = upsert(once, changes, "id")
    assert(twice.orderBy("id").collect().toSeq == once.orderBy("id").collect().toSeq)
    // a NULL-key change row is dropped, never fabricated as an all-NULL row
    val withNullKey = changes.unionByName(
      Seq(("x", 1)).toDF("name", "v")
        .select(lit(null).cast("long").as("id"), $"name".cast("string").as("name"), $"v"))
    val res = upsert(base, withNullKey, "id")
    assert(res.count() == 4 && res.filter($"id".isNull).count() == 0)
  }

  test("merge delete clause: matched deletes drop, unmatched deletes no-op, updates/inserts unaffected, versioned tombstone wins") {
    import spark.implicits._
    import graft.operators.MergeUpsert.merge
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "v")
    val changes = Seq(
      (2L, "B", 99, false),  // matched update
      (3L, "x", 0, true),    // matched delete
      (4L, "d", 40, false),  // unmatched insert
      (9L, "x", 0, true))    // unmatched delete — must NOT insert
      .toDF("id", "name", "v", "del")
    val got = merge(base, changes, "id", deleteWhen = Some($"del"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, "a", 10), (2L, "B", 99), (4L, "d", 40)), s"got $got")
    // deleteWhen = None degenerates to upsert exactly (the tombstone
    // rows are just changes then — nothing drops: keys 2/3 update,
    // keys 4/9 insert, 3 base + 2 inserts = 5 rows)
    assert(merge(base, changes.drop("del"), "id").count() == 5)
    // versioned CDC: per key only the NEWEST change applies — a final
    // tombstone deletes even with older updates in the delta, and an
    // older tombstone superseded by a re-insert does not
    val cdc = Seq(
      (1L, "a2", 11, false, 1L), (1L, "x", 0, true, 2L),   // ends deleted
      (2L, "x", 0, true, 1L), (2L, "b2", 22, false, 2L))   // ends updated
      .toDF("id", "name", "v", "del", "ver")
    val got2 = merge(base, cdc, "id", versionCol = Some("ver"),
      deleteWhen = Some($"del"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got2 == Seq((2L, "b2", 22), (3L, "c", 30)), s"got $got2")
  }

  test("merge delete + SCD2 interaction: a takedown removes the entity's whole history downstream") {
    import spark.implicits._
    // the weekly corpus-maintenance composition: CDC with tombstones
    // merges into the change LOG, then SCD2 rebuilds validity intervals
    // — a deleted entity must vanish from history entirely, everyone
    // else's intervals must be untouched
    val log = Seq(
      (100L, 1L, "2024-01-01", 5.0), (100L, 2L, "2024-02-01", 6.0),
      (200L, 3L, "2024-01-15", 7.0), (300L, 4L, "2024-03-01", 8.0))
      .toDF("cust", "chg", "dt", "val")
    val tombstones = Seq((1L, true), (2L, true))
      .toDF("chg", "del") // cust 100's change rows are taken down
      .join(log.select($"chg", $"cust", $"dt", $"val"), Seq("chg"))
    val merged = graft.operators.MergeUpsert.merge(
      log, tombstones.select($"cust", $"chg", $"dt", $"val", $"del"),
      "chg", deleteWhen = Some($"del"))
    val hist = graft.operators.Scd2.history(merged, "cust", "dt", "chg")
    val byCust = hist.collect().groupBy(_.getAs[Long]("cust"))
    assert(!byCust.contains(100L), "deleted entity must have no history")
    assert(byCust(200L).length == 1 && byCust(300L).length == 1)
    assert(byCust(200L).forall(_.getAs[Boolean]("is_current")))
  }

  test("dynamic partition overwrite: untouched partitions' files survive byte-identical") {
    import spark.implicits._
    val orders = Tables(spark, sf, "orders")
    val tmp = tempDir("graft_m5_spec")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    def partFiles(status: String): Map[String, Long] = {
      val d = new java.io.File(s"$tmp/o_orderstatus=$status")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val oBefore = partFiles("O")
    val pBefore = partFiles("P")
    val fBefore = partFiles("F")
    assert(oBefore.nonEmpty && fBefore.nonEmpty)
    orders.filter($"o_orderstatus" === "F")
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(tmp)
    // untouched partitions: same file names, same mtimes — physically
    // not rewritten (static mode would truncate the whole table root)
    assert(partFiles("O") == oBefore)
    assert(partFiles("P") == pBefore)
    // refreshed partition: new files
    assert(partFiles("F").keySet.intersect(fBefore.keySet).isEmpty)
    // and the data reads back merged: F doubled, O/P original
    val got = spark.read.parquet(tmp)
    val base = orders
    assert(got.count() == base.count())
    val fSum = got.filter($"o_orderstatus" === "F")
      .agg(org.apache.spark.sql.functions.sum($"o_totalprice")).head().getDouble(0)
    val fBase = base.filter($"o_orderstatus" === "F")
      .agg(org.apache.spark.sql.functions.sum($"o_totalprice")).head().getDouble(0)
    assert(math.abs(fSum - 2 * fBase) < 1e-6 * fBase)
  }

  test("scd2 history laws: intervals chain per key, exactly one current row") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, "2024-01-01", "v1"), (1L, 11L, "2024-02-01", "v2"),
      (1L, 12L, "2024-03-01", "v3"), (2L, 20L, "2024-01-15", "w1"),
      // same-timestamp tie broken by the change id — a total order per key
      (3L, 30L, "2024-01-01", "t1"), (3L, 31L, "2024-01-01", "t2")
    ).toDF("k", "cid", "ts_s", "v").withColumn("ts", to_timestamp($"ts_s"))
    val h = graft.operators.Scd2.history(changes, "k", "ts", "cid")
    // exactly one open (current) interval per key
    val currents = h.filter($"is_current").groupBy($"k").count()
      .collect().map(_.getLong(1))
    assert(currents.length == 3 && currents.forall(_ == 1L))
    // intervals chain: sorted by (ts, cid), each row's effective_to is
    // the next row's effective_from
    val rows = h.orderBy($"k", $"ts", $"cid")
      .select($"k", $"effective_from", $"effective_to")
      .collect()
    rows.grouped(1).toSeq // no-op to keep rows strict
    rows.sliding(2).foreach {
      case Array(a, b) if a.getLong(0) == b.getLong(0) =>
        assert(a.getTimestamp(2) == b.getTimestamp(1),
          s"gap between versions of key ${a.getLong(0)}")
      case _ => ()
    }
    // the tie pair: t1 closed by t2 at the same instant, t2 current
    val tied = h.filter($"k" === 3L).orderBy($"cid")
      .select($"v", $"is_current").collect()
    assert(tied.map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
      Seq(("t1", false), ("t2", true)))
  }

  test("merge upsert uniqueness contract: duplicate change keys fail loudly or dedupe by version") {
    import spark.implicits._
    import graft.operators.MergeUpsert.upsert
    val base = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v")
    val dupes = Seq((2L, "old", 1), (2L, "new", 2), (3L, "x", 1))
      .toDF("id", "name", "v")
    // no version column: two change rows for key 2 used to silently emit
    // duplicate output rows — a latent data corruption; now the merge
    // job itself fails, naming the key
    val err = intercept[Exception] { upsert(base, dupes, "id").collect() }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      var m = Option(c.getMessage).getOrElse("")
      while (c.getCause != null) { c = c.getCause; m += " " + Option(c.getMessage).getOrElse("") }
      m
    }
    assert(rootMsg(err).contains("duplicate change rows"), rootMsg(err))
    // keep-latest by version: key 2 collapses to the v=2 row, merge clean
    val got = upsert(base, dupes, "id", versionCol = Some("v"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, "a", 10), (2L, "new", 2), (3L, "x", 1)), s"got $got")
    // ties on the max version are STILL ambiguous -> loud failure too
    val tied = Seq((2L, "p", 7), (2L, "q", 7)).toDF("id", "name", "v")
    val err2 = intercept[Exception] {
      upsert(base, tied, "id", versionCol = Some("v")).collect()
    }
    assert(rootMsg(err2).contains("duplicate change rows"), rootMsg(err2))
    // unique changes with a version column behave exactly as before
    val clean = Seq((2L, "n", 5)).toDF("id", "name", "v")
    assert(upsert(base, clean, "id", versionCol = Some("v")).count() == 2)
  }
}
