package graft

import org.apache.spark.sql.SparkSession

/** The engine profile: the one session configuration every graft
  * pipeline assumes. `Bench`, `Verify`, `JobProf`, `PlanDump`,
  * `ScaleBench`, the test suites and `perfbench` all build their session
  * through [[Engine.session]], so the configuration the DuckDB oracle
  * checks is the one the benches time. Entry points differ only in the
  * master (`local[n]`) they pass.
  *
  * Shuffle partitions are sized to the parallelism, NOT Spark's 200
  * default, which fragments small-to-mid stages: `session` sets them on
  * the session it returns, to the context's `defaultParallelism` (the
  * core count under `local[n]`) unless the caller passes a count. On a
  * cluster, where executors may still be registering when the session
  * starts, pass the real core count.
  *
  * File splitting stays at Spark's defaults (`files.maxPartitionBytes`
  * 128 MB, `files.minPartitionNum` = the leaf parallelism). The fixture
  * tables are single-row-group parquet files, so one task reads each
  * whatever the split size; a multi-file store directory splits by
  * bytes, several small files to a task.
  *
  * AQE's `advisoryPartitionSizeInBytes` stays at Spark's 64 MB
  * DELIBERATELY, and the evidence cuts both ways (round-10 A/B,
  * BENCH_LOCAL.md): at 10⁶ vectors the CPU-dense int8 scoring join
  * coalesced its 2.2 GB shuffle to 34 minute-long tasks on 32 cores
  * (ragged two-wave schedule, 92-180 s swings) and dropping the advisory
  * to 16 MB ran it 49-64 s — but the SAME 16 MB default regressed the
  * sf0.1 relational joins 10-30× (c7 broadcast 0.5 → 14.8 s; AQE replans
  * small-shuffle joins into many under-filled reducers). Round-11: the
  * split is derived per JOB inside the engine — Similarity.denseShuffleSides
  * gives the CPU-dense candidate joins an explicit cores×waves repartition
  * when their estimated shuffle exceeds one 64 MB wave, and leaves every
  * smaller plan byte-identical.
  */
object Engine {
  /** Every conf the profile sets, in the order [[session]] applies them. */
  val profile: Seq[(String, String)] = Seq(
    // AQE on: runtime coalescing, broadcast demotion/promotion, skew
    // join splitting
    "spark.sql.adaptive.enabled" -> "true",
    // `shuffle.partitions` is a CEILING for AQE, not a floor: coalescing
    // only merges partitions below the initial number, it never splits a
    // too-big one (only skew-join handling does, and only for joins). A
    // 10⁸-row candidate shuffle at 32 partitions is 4M rows/task — GC
    // death (the ANN candidate shuffles carry 10⁸ rows at 10⁵+ vectors).
    // Start every shuffle wide and let AQE coalesce small stages back
    // down to the advisory size; large stages keep the parallelism
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512",
    // oracle parity with DuckDB and sane timestamp math
    "spark.sql.session.timeZone" -> "UTC",
    // the `events` fixture carries TIMESTAMP(NANOS), which Spark 4's
    // parquet reader otherwise rejects — read as a raw nanosecond Long
    // and normalised in Tables
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // SQL surface over the persisted tiers (bench row l66):
    // graft_dedup_bands / graft_ann_postings / graft_state / graft_table
    // table functions (snapshot version as a trailing arg) — see graft.sql
    "spark.sql.extensions" -> "graft.sql.GraftSqlExtensions",
    // point-probe IN pushdown (DedupIndex.withProbeKeys; rows l42, l55,
    // l57, l59): above this threshold Spark degrades a pushed IN to a
    // [min,max] range filter, which uniform 64-bit band keys render
    // useless. Every pushed IN is hard-capped at DedupIndex.InKeyCap per
    // scan (512 — parquet's recursive or-chain stack-overflows near
    // ~2000 values, so the threshold must NOT be raised past that);
    // bigger opt-in probes push ⌈K/512⌉ chunked INs over a scan union,
    // each chunk under the same bound
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "600",
    // typed Aggregators (top-k, sketches) run as ObjectHashAggregate,
    // which silently degrades to SORT-BASED aggregation after 128
    // distinct keys per partition by default — a per-query-key top-k
    // has thousands. Keep it hash-based; buffers here are k-row arrays
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    // no web UI: nothing reads it, and it binds a port per driver JVM
    "spark.ui.enabled" -> "false")

  def session(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val s = profile.foldLeft(SparkSession.builder().master(master).appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.shuffle.partitions",
      shufflePartitions.getOrElse(s.sparkContext.defaultParallelism).toLong)
    s
  }
}
