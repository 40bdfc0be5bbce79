package graft.streaming

import graft.{Canon, Q, Scratch, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2b group S — event-time windowing, exercised in BATCH mode:
  * `window()` / `session_window()` are the same Catalyst expressions the
  * streaming path evaluates, so their bucketing/merging semantics are
  * oracle-checkable here; streaming-only behavior (watermarks, late-data
  * drop, incremental state) is covered by StreamingSpec via MemoryStream.
  *
  * s4–s6 are deterministic BATCH REPLAYS of the three stateful streaming
  * semantics (stream dedup, watermark late-drop, running counter): each
  * re-expresses the per-key state machine as a window function over
  * arrival order (event_id), which DuckDB can also run — giving the
  * spec-only streaming operators hash-checked CORRECTNESS rows. The
  * replays are partitioned by their state key (event_id / user_id), so
  * the window shuffle is the same hash partitioning the streaming state
  * store uses — scale-shaped, not a driver-side simulation.
  */
object WindowBatchQueries {

  /** S: tumbling 1-hour window counts — epoch-aligned buckets. */
  val s1Tumbling = Q(
    "s1_tumbling_window",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), Canon.dsumD($"value").as("sum_value"))
        .select(
          date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"event_type", $"n", $"sum_value")
        .orderBy($"window_start", $"event_type")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n,
                   round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
            FROM events
            GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  /** S: sliding window (1 hour every 15 min) — each event lands in 4
    * overlapping windows. */
  val s2Sliding = Q(
    "s2_sliding_window",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"n")
        .orderBy($"window_start")
    },
    Some("""SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15 * k), '%Y-%m-%d %H:%M:%S') AS window_start,
                   count(*) AS n
            FROM events, unnest([0, 1, 2, 3]) AS u(k)
            GROUP BY 1 ORDER BY window_start"""))

  /** S: session windows (30-min gap) per user — merge semantics checked
    * against a gaps-and-islands oracle. */
  val s3Session = Q(
    "s3_session_window",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n_events"), Canon.dsumD($"value").as("sum_value"))
        .select(
          $"user_id",
          date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
          $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH ordered AS (
              SELECT user_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events),
            flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN prev_ts IS NULL
                               OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
              FROM ordered),
            sessions AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged)
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
            FROM sessions
            GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  /** S: stream-dedup replay — the corpus is doubled with each copy's ts
    * shifted +1 minute (a duplicate delivery inside the watermark
    * horizon); keep-first-arrival semantics = row_number over (event_id,
    * arrival ts) — exactly what dropDuplicatesWithinWatermark does to
    * in-horizon duplicates (StreamingSpec covers the streaming run). */
  val s4DedupReplay = Q(
    "s4_stream_dedup_replay",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events").select($"event_id", $"ts", $"event_type")
      val replayed = ev.unionAll(ev.select(
        $"event_id", ($"ts" + expr("INTERVAL 1 MINUTE")).as("ts"), $"event_type"))
      val w = Window.partitionBy($"event_id").orderBy($"ts")
      replayed
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"event_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("first_ts"), $"event_type")
        .orderBy($"event_id")
    },
    Some("""WITH replayed AS (
              SELECT event_id, ts, event_type FROM events
              UNION ALL
              SELECT event_id, ts + INTERVAL 1 MINUTE, event_type FROM events),
            ranked AS (
              SELECT event_id, ts, event_type,
                     row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
              FROM replayed)
            SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts, event_type
            FROM ranked WHERE rn = 1 ORDER BY event_id"""))

  /** S: watermark late-drop replay — per user, events arrive in event_id
    * order; the watermark is the running max event time over PRIOR
    * arrivals minus 10 minutes, and an event older than the watermark at
    * its arrival is late. Counts per user are the deterministic batch
    * image of `withWatermark(...)`'s drop rule (StreamingSpec pins the
    * streaming run; the real watermark is global, the replay keys it per
    * user so the window shuffle stays hash-partitioned). */
  val s5LateDropReplay = Q(
    "s5_late_drop_replay",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "events")
        .withColumn("wm", max($"ts").over(w) - expr("INTERVAL 10 MINUTES"))
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when($"wm".isNotNull && $"ts" < $"wm", 1L).otherwise(0L)).as("n_late"))
        .orderBy($"user_id")
    },
    Some("""WITH marked AS (
              SELECT user_id, ts,
                     max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       - INTERVAL 10 MINUTE AS wm
              FROM events)
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CASE WHEN wm IS NOT NULL AND ts < wm THEN 1 ELSE 0 END) AS BIGINT) AS n_late
            FROM marked GROUP BY user_id ORDER BY user_id"""))

  /** S: running-counter replay (§2a#10 at scale) — ±1 deltas folded in
    * arrival order per key, exactly what mapGroupsWithState accumulates
    * batch-by-batch (StreamingSpec pins the streaming run); final value
    * plus the running extrema prove the whole trajectory, not just the
    * sum. */
  val s6CounterReplay = Q(
    "s6_counter_replay",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables(s, dir, "events")
        .withColumn("delta", when($"event_type" === "click", 1L).otherwise(-1L))
        .withColumn("run", sum($"delta").over(w))
        .groupBy($"user_id")
        .agg(
          sum($"delta").as("final_count"),
          min($"run").as("min_run"),
          max($"run").as("max_run"))
        .orderBy($"user_id")
    },
    Some("""WITH deltas AS (
              SELECT user_id, event_id,
                     CASE WHEN event_type = 'click' THEN 1 ELSE -1 END AS delta
              FROM events),
            runs AS (
              SELECT user_id, delta,
                     sum(delta) OVER (PARTITION BY user_id ORDER BY event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
              FROM deltas)
            SELECT user_id,
                   CAST(sum(delta) AS BIGINT) AS final_count,
                   CAST(min(run) AS BIGINT) AS min_run,
                   CAST(max(run) AS BIGINT) AS max_run
            FROM runs GROUP BY user_id ORDER BY user_id"""))

  /** S: stream-stream interval-join replay — every (click, purchase)
    * pair per user with the purchase inside an hour after the click,
    * the batch image of StreamingOps.intervalJoin (StreamingSpec pins
    * the streaming run with watermark-bounded state). The equi-key +
    * time-band condition is exactly the c9 range-join shape, so
    * Catalyst executes it as a hash join on user_id with a banded
    * residual — no nested loop. */
  val s7IntervalJoinReplay = Q(
    "s7_interval_join_replay",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("l_ts"), $"event_id".as("l_id"))
      val buys = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("r_ts"), $"event_id".as("r_id"))
      clicks.join(buys,
          Seq("user_id")).filter(
          $"r_ts" >= $"l_ts" && $"r_ts" <= $"l_ts" + expr("INTERVAL 60 MINUTES"))
        .select($"user_id", $"l_id".as("click_id"), $"r_id".as("purchase_id"))
        .orderBy($"click_id", $"purchase_id")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE
            ORDER BY click_id, purchase_id"""))

  /** S: stream-static enrichment — the canonical "join the event stream
    * against a slowly-changing dimension" pattern: events ⋈ customer ⋈
    * nation (both dims broadcast — the stream side NEVER shuffles for
    * the join, which is what makes this shape safe at any stream rate),
    * then a tumbling-window count per nation. Batch image of
    * StreamingOps.enrich, whose streaming run (MemoryStream + static
    * dim) StreamingSpec pins. */
  val s8EnrichReplay = Q(
    "s8_enrich_replay",
    (s, dir) => {
      import s.implicits._
      val cust = Tables(s, dir, "customer").select($"c_custkey", $"c_nationkey")
      val nation = Tables(s, dir, "nation").select($"n_nationkey", $"n_name")
      Tables(s, dir, "events")
        .join(broadcast(cust), $"user_id" === $"c_custkey")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .groupBy(window($"ts", "1 hour").as("w"), $"n_name")
        .agg(count(lit(1)).as("n"))
        .select(
          date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"n_name", $"n")
        .orderBy($"window_start", $"n_name")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   n_name, count(*) AS n
            FROM events
            JOIN customer ON user_id = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2 ORDER BY window_start, n_name"""))

  /** S: streaming incremental upsert replay — the reference's refresh
    * as a STREAM: a change feed folded into a materialized snapshot,
    * latest change per key winning (`plan-processor.ts:31-41` rewrites
    * its whole Redis hash per refresh; the streaming form ships each
    * micro-batch's delta through MergeUpsert). The batch image slices
    * `events` into four time-ordered micro-batches (ntile over the
    * total (ts, event_id) order — the slicing is the TEST's
    * deterministic batch schedule; the streaming run is foreachBatch-
    * driven, StreamingSpec pins it with MemoryStream), takes each
    * batch's latest row per user (MergeUpsert's uniqueness contract),
    * and folds upserts left to right. Time-ordered batches + in-batch
    * latest + change-wins-wholesale ⇒ the folded state equals the
    * global latest-per-key, which is exactly what the window oracle
    * computes in one pass. */
  val s9UpsertReplay = Q(
    "s9_upsert_replay",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .select($"user_id", $"event_id", $"ts", $"value")
      val sliceW = org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")
      val sliced = ev.withColumn("slice", ntile(4).over(sliceW))
      val latestW = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val state = (1 to 4)
        .map(i => sliced.filter($"slice" === i).drop("slice"))
        .map(_.withColumn("__rn", row_number().over(latestW))
          .filter($"__rn" === 1).drop("__rn"))
        .reduce((acc, chg) => graft.operators.MergeUpsert.upsert(acc, chg, "user_id"))
      state.select($"user_id", $"value",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, value,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
            FROM (SELECT user_id, value, ts,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id"""))

  /** S: streaming ingest dedup replay — the persisted dedup index
    * ([[graft.operators.DedupIndex]], l42/l43) driven as a STREAM: four
    * time-ordered micro-batches (`doc_id % 4` — the test's deterministic
    * batch schedule, like s9's ntile slices) folded through
    * query-then-append-survivors. This is the end-to-end loop the index
    * tier exists for — each day's ingest probes the survivors of all
    * earlier days instead of re-banding the corpus. The streaming run
    * (MemoryStream + foreachBatch doing the same query/append fold)
    * is pinned by StreamingSpec; the replay's survivor set is
    * deterministic end to end (seeded minhash), so it is value-checked
    * by the Python cross-oracle like l42/l43. */
  val s10IngestDedupReplay = Q(
    "s10_ingest_dedup_replay",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val batches = (0 to 3).map(i =>
        docs.filter(pmod(col("doc_id"), lit(4)) === i))
      // a FRESH directory per invocation, not a reused one: the fold's
      // appends accumulate, so re-running into the same directory would
      // probe a stale, doubly-appended index
      val idx = Scratch.dir("run_")
      graft.operators.DedupIndex.ingestFold(batches, "doc_id", "text", idx)
        .orderBy(col("doc_id"))
    },
    None)

  /** S: streaming MAINTENANCE of the l54 sketch tier, batch replay —
    * each ingest batch sketches only ITSELF per (event_type, day) cell
    * and FOLDS into the maintained sketch table
    * ([[graft.operators.SketchRollup.merge]], a register-wise
    * `hll_union_agg` per cell); the raw history is never rescanned.
    * Because an HLL register is an order-independent max, the table
    * after any batch schedule is identical to building over the union
    * (SketchRollupSpec pins fold ≡ whole exactly), so the folded
    * rollup satisfies the SAME tolerance invariant as l54 — which is
    * what the DuckDB oracle checks: per-type estimate within 5% of the
    * exact distinct count computed in the same plan. */
  val s12SketchMaintainReplay = Q(
    "s12_sketch_maintain_replay",
    (s, dir) => {
      val ev = Tables(s, dir, "events").withColumn("day", to_date(col("ts")))
      val batches = (0 to 2).map(i =>
        ev.filter(pmod(col("event_id"), lit(3)) === i))
      val dims = Seq("event_type", "day")
      val state = batches.tail.foldLeft(
        graft.operators.SketchRollup.buildSketchTable(batches.head, dims, "user_id")) {
        (st, b) => graft.operators.SketchRollup.merge(
          st, graft.operators.SketchRollup.buildSketchTable(b, dims, "user_id"), dims)
      }
      val est = graft.operators.SketchRollup.rollup(state, Seq("event_type"))
      val exact = Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_distinct").cast("double") / col("exact_users") - 1.0)
            <= 0.05).as("within_tol"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
                   CAST(1 AS BOOLEAN) AS within_tol
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** S: streaming MAINTENANCE of the l60 QUANTILE tier, batch replay —
    * the [[s12SketchMaintainReplay]] pattern on the percentile sketch:
    * each ingest batch buckets only ITSELF per (event_type, day) cell
    * ([[graft.operators.QuantileRollup.buildSketchTable]]) and FOLDS
    * into the maintained bucket table ([[graft.operators.QuantileRollup
    * .merge]] — bucket counts ADD, so the folded table is BIT-IDENTICAL
    * to building over the union, a stronger law than the HLL tier's
    * estimate-identity; QuantileRollupSpec pins it). The folded rollup
    * therefore satisfies l60's tolerance invariant verbatim, which is
    * what the oracle checks: per-type p50/p95 within the deterministic
    * α bound of the exact rank-values computed in the same plan.
    * Redelivery is NOT naturally idempotent for count sums (unlike HLL
    * register maxima) — the streaming sink uses the s10 marker
    * discipline; StreamingSpec pins the crash-recovery run. */
  val s13QuantileMaintainReplay = Q(
    "s13_quantile_maintain_replay",
    (s, dir) => {
      val ev = Tables(s, dir, "events").withColumn("day", to_date(col("ts")))
      val batches = (0 to 2).map(i =>
        ev.filter(pmod(col("event_id"), lit(3)) === i))
      val dims = Seq("event_type", "day")
      val state = batches.tail.foldLeft(
        graft.operators.QuantileRollup.buildSketchTable(batches.head, dims, "value")) {
        (st, b) => graft.operators.QuantileRollup.merge(
          st, graft.operators.QuantileRollup.buildSketchTable(b, dims, "value"), dims)
      }
      val est = graft.operators.QuantileRollup
        .quantiles(state, Seq("event_type"), Seq(0.5, 0.95))
        .groupBy(col("event_type"))
        .agg(max(when(col("q") === 0.5, col("est"))).as("p50_est"),
          max(when(col("q") === 0.95, col("est"))).as("p95_est"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wAll = Window.partitionBy(col("event_type"))
      def rank(q: Double) =
        greatest(lit(1L), ceil(lit(q) * col("n")).cast("long"))
      val exact = Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(
          max(when(col("rn") === rank(0.5), col("value"))).as("exact_p50"),
          max(when(col("rn") === rank(0.95), col("value"))).as("exact_p95"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("exact_p50"), col("exact_p95"),
          (abs(col("p50_est") / col("exact_p50") - 1.0) <= 0.0105).as("p50_within_tol"),
          (abs(col("p95_est") / col("exact_p95") - 1.0) <= 0.0105).as("p95_within_tol"))
        .orderBy(col("event_type"))
    },
    Some("""WITH r AS (SELECT event_type, value,
                              row_number() OVER (PARTITION BY event_type
                                                 ORDER BY value) AS rn,
                              count(*) OVER (PARTITION BY event_type) AS n
                       FROM events)
            SELECT event_type,
                   max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                            THEN value END) AS exact_p50,
                   max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
                            THEN value END) AS exact_p95,
                   CAST(1 AS BOOLEAN) AS p50_within_tol,
                   CAST(1 AS BOOLEAN) AS p95_within_tol
            FROM r GROUP BY event_type ORDER BY event_type"""))

  /** S: windowed TRENDING keys — per tumbling 1-hour window, the top-3
    * `props.k` values by count (ties to the smaller key): the
    * streaming heavy-hitter pattern ("what's trending this hour").
    * This is the batch replay of [[StreamingOps.trendingCounts]] — the
    * stream computes the per-(window, key) counts incrementally under
    * a watermark; the rank runs over finalized windows (here: all of
    * them). StreamingSpec pins the MemoryStream run's finalized counts
    * ≡ this replay's count tier; the whole replay incl. the rank is
    * DuckDB-oracled. */
  val s11TrendingReplay = Q(
    "s11_trending_replay",
    (s, dir) => {
      import s.implicits._
      // missing/null $.k coalesces to the -1 sentinel HERE, in the
      // oracle-facing replay only: without it a null key group tying at
      // the top-3 boundary would rank differently across engines (Spark
      // sorts nulls FIRST ascending, DuckDB LAST). The production
      // operator (StreamingOps.trendingCounts) keeps the key nullable —
      // the sentinel is a gate-determinism device, not an operator
      // semantic (the fixture's $.k is never null and never -1, so the
      // two shapes count identical groups there)
      val counts = Tables(s, dir, "events")
        .withColumn("k",
          coalesce(get_json_object($"props", "$.k").cast("long"), lit(-1L)))
        .groupBy(window($"ts", "1 hour").as("w"), $"k")
        .agg(count(lit(1)).as("n"))
      val rk = Window.partitionBy($"w").orderBy($"n".desc, $"k")
      counts
        .withColumn("rank", row_number().over(rk).cast("long"))
        .filter($"rank" <= 3)
        .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"k", $"n", $"rank")
        .orderBy($"window_start", $"rank")
    },
    Some("""WITH c AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                              COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1) AS k,
                              count(*) AS n
                       FROM events GROUP BY 1, 2),
                 r AS (SELECT window_start, k, n,
                              row_number() OVER (PARTITION BY window_start
                                                 ORDER BY n DESC, k) AS rank
                       FROM c)
            SELECT window_start, k, n, rank FROM r WHERE rank <= 3
            ORDER BY window_start, rank"""))

  /** S: EXACTLY-ONCE ACROSS A RESTART, driver-gated — s13's quantile
    * maintenance driven through the persisted [[graft.operators
    * .StateTable]] with the batch stamp riding each commit, and a
    * simulated CRASH+RESTART with a REDELIVERED batch in the middle of
    * the schedule. Nothing is held in memory between applies — every
    * step re-reads `lastBatchId` and the state from the store, exactly
    * what a restarted driver does from its checkpoint — so the
    * redelivered batch 1 hits the `exists(_ >= bid)` guard cold and
    * must be SKIPPED: quantile bucket counts are sums, NOT
    * redelivery-idempotent (a double-apply corrupts them bit-exactly,
    * unlike HLL register maxima). The declared output carries
    * `restart_identical` — an in-plan bit-exact comparison (both-ways
    * exceptAll) of the restarted store against the uninterrupted
    * in-memory fold — plus l60's p50/p95 tolerance columns, so the
    * DuckDB oracle hash-gates exactly-once the way l63 gated time
    * travel: a broken stamp (double-apply OR a lost batch) flips the
    * boolean and fails the gate. The crash-recovery drive previously
    * lived only in StreamingSpec (the r13 verdict's stretch ask). */
  val s14QuantileRestartReplay = Q(
    "s14_quantile_restart_replay",
    (s, dir) => {
      import graft.operators.{QuantileRollup, StateTable}
      val ev = Tables(s, dir, "events").withColumn("day", to_date(col("ts")))
      val batches = (0 to 2).map(i =>
        ev.filter(pmod(col("event_id"), lit(3)) === i))
      val dims = Seq("event_type", "day")
      // fresh per invocation, as s10: a re-run into the same store would
      // read a stale, doubly-folded state (Bench runs each query 3 times)
      val st = Scratch.dir("qrestart_")
      // one micro-batch application, STATELESS between calls: the skip
      // predicate and the fold base both come from the persisted store
      def apply(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
        if (!StateTable.lastBatchId(st).exists(_ >= bid)) {
          val sketch = QuantileRollup.buildSketchTable(b, dims, "value")
          val next =
            if (!StateTable.exists(st)) sketch
            else QuantileRollup.merge(StateTable.read(s, st), sketch, dims)
          StateTable.publish(next, st, batchId = Some(bid)): Unit
        }
      apply(batches(0), 0L)
      apply(batches(1), 1L)
      // ---- simulated crash + restart: the new "driver" holds nothing;
      // the checkpoint redelivers batch 1 — the stamp must skip it ----
      apply(batches(1), 1L)
      apply(batches(2), 2L)
      val restarted = StateTable.read(s, st)
      // the uninterrupted reference fold, computed in the same plan
      val whole = batches.tail.foldLeft(
        QuantileRollup.buildSketchTable(batches.head, dims, "value")) {
        (acc, b) => QuantileRollup.merge(
          acc, QuantileRollup.buildSketchTable(b, dims, "value"), dims)
      }
      // bit-exact state identity (bucket counts are exact integers and
      // the fold law is bit-exact — QuantileRollupSpec): a double-applied
      // or dropped batch cannot hide
      val identical = restarted.exceptAll(whole).isEmpty &&
        whole.exceptAll(restarted).isEmpty
      val est = QuantileRollup
        .quantiles(restarted, Seq("event_type"), Seq(0.5, 0.95))
        .groupBy(col("event_type"))
        .agg(max(when(col("q") === 0.5, col("est"))).as("p50_est"),
          max(when(col("q") === 0.95, col("est"))).as("p95_est"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wAll = Window.partitionBy(col("event_type"))
      def rank(q: Double) =
        greatest(lit(1L), ceil(lit(q) * col("n")).cast("long"))
      val exact = Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(
          max(when(col("rn") === rank(0.5), col("value"))).as("exact_p50"),
          max(when(col("rn") === rank(0.95), col("value"))).as("exact_p95"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("exact_p50"), col("exact_p95"),
          (abs(col("p50_est") / col("exact_p50") - 1.0) <= 0.0105).as("p50_within_tol"),
          (abs(col("p95_est") / col("exact_p95") - 1.0) <= 0.0105).as("p95_within_tol"),
          lit(identical).as("restart_identical"))
        .orderBy(col("event_type"))
    },
    Some("""WITH r AS (SELECT event_type, value,
                              row_number() OVER (PARTITION BY event_type
                                                 ORDER BY value) AS rn,
                              count(*) OVER (PARTITION BY event_type) AS n
                       FROM events)
            SELECT event_type,
                   max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                            THEN value END) AS exact_p50,
                   max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
                            THEN value END) AS exact_p95,
                   CAST(1 AS BOOLEAN) AS p50_within_tol,
                   CAST(1 AS BOOLEAN) AS p95_within_tol,
                   CAST(1 AS BOOLEAN) AS restart_identical
            FROM r GROUP BY event_type ORDER BY event_type"""))

  /** S/L: EXACTLY-ONCE ANN INGEST, driver-gated — the embedding tier's
    * s10: a vector corpus streams in as stamped micro-batch appends
    * ([[graft.operators.Similarity.appendToIvfIndex]] with `batchId`
    * riding the manifest commit, round-14), a restart REDELIVERS a batch,
    * and the [[graft.operators.AnnStore.lastBatchId]] predicate must
    * skip it — a double-append would both duplicate postings and
    * double-count the centroid totals. Nothing is held in memory
    * between applies (the skip predicate reads the persisted manifest —
    * a restarted driver's cold path). Declared output: the live posting
    * count (value-exact against DuckDB counting the ingested slices)
    * plus the redelivery-skipped and counts-match(integrity invariant:
    * sum(n_vectors) == postings) booleans — a broken stamp flips a
    * boolean OR shifts the count and fails the hash gate. */
  val s15AnnIngestReplay = Q(
    "s15_ann_ingest_replay",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{AnnStore, Similarity}
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val idx = Scratch.dir("annri_")
      // batch 0 seeds the index (a build, unstamped); batches 1 and 2
      // are stamped ingest appends
      Similarity.buildIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(4)) === 0), idx).count()
      def ingest(b: org.apache.spark.sql.DataFrame, bid: Long): Boolean =
        if (AnnStore.lastBatchId(idx).exists(_ >= bid)) false
        else {
          Similarity.appendToIvfIndex(b, idx, batchId = Some(bid)).count()
          true
        }
      ingest(emb.filter(pmod(col("vec_id"), lit(4)) === 1), 1L): Unit
      ingest(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 2L): Unit
      // ---- simulated restart: the checkpoint redelivers batch 2; the
      // persisted stamp must skip it ----
      val skipped = !ingest(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 2L)
      val posted = AnnStore.postings(s, idx).count()
      val centSum = AnnStore.centroids(s, idx)
        .agg(sum(col("n_vectors"))).collect()(0).getLong(0)
      Seq((posted, skipped, centSum == posted))
        .toDF("n_postings", "redelivery_skipped", "counts_match")
    },
    Some("""SELECT count(*) AS n_postings,
                   CAST(1 AS BOOLEAN) AS redelivery_skipped,
                   CAST(1 AS BOOLEAN) AS counts_match
            FROM embeddings WHERE vec_id % 4 <> 3"""))

  def all: Seq[Q] = Seq(s1Tumbling, s2Sliding, s3Session,
    s4DedupReplay, s5LateDropReplay, s6CounterReplay, s7IntervalJoinReplay,
    s8EnrichReplay, s9UpsertReplay, s10IngestDedupReplay, s11TrendingReplay,
    s12SketchMaintainReplay, s13QuantileMaintainReplay,
    s14QuantileRestartReplay, s15AnnIngestReplay)
}
