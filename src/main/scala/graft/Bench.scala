package graft

/** Driver-run benchmark: one JSON line with per-query wall times.
  *
  * Headline set = the shuffle/join/window/dedup/similarity-heavy queries
  * (scans and tiny dims tell you nothing at scale). Each query gets an
  * untimed warm-up run first — codegen compilation and JVM JIT dominate
  * cold runs at local scale and would drown the signal the timings are
  * meant to carry.
  *
  * Contention gauge: this machine's bench history shows up to 18×
  * run-to-run noise when another JVM (sbt test, a prior Spark session)
  * shares the cores — BENCH_r04 recorded 13.2 s for a query that
  * measures 2.8 s idle, and the artifact misrepresented the engine for
  * a round. So the bench brackets the timed set with the SAME cheap
  * query (d1, scan + hash agg) run first and last, and emits both
  * timings plus the OS load average at start/end. A contaminated run is
  * then self-identifying from the JSON alone: gauge drift ≫ 1 or a
  * load average far above the bench's own parallelism means the numbers
  * are machine noise, not code.
  *
  * Self-healing (round-7): detection alone still shipped a wrong artifact
  * in rounds 4 and 6, so a pass whose gauge drift exceeds
  * [[DriftRetryThreshold]] — or that STARTED on a machine with load above
  * [[LoadRetryThreshold]] — is re-run once, both passes are emitted under
  * "attempts", and the steadier pass becomes the official numbers.
  */
object Bench {
  /** Gauge last/first ratio above which a pass is presumed contaminated.
    * Clean local history sits at 0.3-1.2 (BENCH_LOCAL.md); the two known
    * contaminated artifacts measured 1.93 (r6) and ~5 (r4). */
  val DriftRetryThreshold = 1.5
  /** 1-min load average at bench START above which another workload is
    * presumed resident. The bench itself hasn't run yet at sample time, so
    * anything ≫ idle is foreign; 2.0 leaves headroom for OS background. */
  val LoadRetryThreshold = 2.0
  /** CPU-steal percentage across the pass above which the hypervisor
    * neighbor is presumed resident. Steal is contention the other two
    * signals cannot see (a stolen vCPU still reads busy and the gauge
    * query is stolen-from proportionally, keeping drift ≈ 1): a 13.6%
    * steal storm inflated a 44-query pass 42 → 67 s while drift read a
    * clean 0.36. Clean-pass history on this box reads 0-2%; the
    * documented burst mode reaches ~20%. */
  val StealRetryThreshold = 5.0
  /** Foreign-CPU percentage across the pass above which a co-resident
    * process is presumed resident. This is the round-12 fix for the one
    * contamination mode every prior signal missed (BENCH_r11: a load
    * that ARRIVED mid-pass inflated the artifact ~30% while gauge drift
    * read 0.61, start-load 1.9 and steal 0.08): machine busy jiffies
    * from the aggregate /proc/stat row MINUS this JVM's own utime+stime
    * from /proc/self/stat — same clock base, no unit conversion — is
    * CPU burned by someone else, whenever it happened. A load-average
    * threshold at END cannot do this job: the bench's own 32-thread
    * burst leaves clean passes at end-load 7.7-9.8 vs the contaminated
    * 11.0 (r9-r11 artifacts) — no separating line exists. Clean
    * baseline foreign share is kernel threads + sbt's idle watcher,
    * single-digit %; the r11 contaminator burned ~10 of 32 cores for
    * most of the pass (≈30%). */
  val ForeignCpuRetryThreshold = 15.0
  /** Cross-attempt sanity (round-12, the judge's ask): if the chosen
    * official pass's total exceeds the best attempt's total by more
    * than this factor, something inflated it that no per-pass signal
    * caught — retry once more if budget remains, and flag the artifact
    * as suspect either way. */
  val CrossAttemptSanity = 1.2
  /** Machine iowait share of the pass above which an IO-bound
    * co-resident is presumed (round-14, the BENCH_r13 post-mortem):
    * r13 shipped ~13% uniform inflation with foreign_cpu 0.0, steal
    * 0.1% and clean drift — a contaminator that burns no CPU is
    * invisible to every jiffy-based signal, but its disk traffic still
    * shows as machine-wide iowait (this bench's own IO is warm-cache
    * after attempt 1; clean-pass iowait share is ~0-2%). NOTE the
    * signal the r13 verdict proposed — the load-average RAMP — was
    * measured against history and REJECTED: clean r12 ramped 1.8→7.25
    * while the flagged r13 pass ramped 2.0→4.93; the bench's own
    * 32-thread burst dominates the 1-min load, so neither end nor ramp
    * separates clean from contaminated (load_max is still emitted for
    * the human reading the artifact). */
  val IowaitRetryThreshold = 12.0

  val headline: Seq[String] = Seq(
    "d1_q1_pricing",        // scan + hash agg
    "c2_left_join",         // shuffle join + agg
    "c7_broadcast_join",    // broadcast join on the fact table
    "c11_multi_join",       // 4-table join chain
    "c8_theta_join",        // histogram-decomposed counting theta join
    "c13_skew_join",        // salt-scatter skew join
    "c10_asof_join",        // union + window as-of
    "d7_collect_nested",    // nesting aggregation
    "e3_frames",            // window frames over lineitem
    "f2_topk_per_group",    // rank + filter
    "s3_session_window",    // session windows over events
    "s7_interval_join_replay", // stream-stream interval join, batch image
    "m3_plan_group_entities", // bitmask explode + broadcast + nest
    "l2_minhash_lsh",       // minhash + LSH banding
    "l4_ngram_jaccard",     // shingle-join dedup + dfCap skew bound
    "l17_decontaminate",    // benchmark n-gram overlap anti-join
    "l38_bloom_decontaminate", // same semantics, broadcast Bloom64 probe (0 corpus shuffle)
    "l40_fuzzy_decon",      // threshold decontamination (fraction-of-shingles rule)
    "l41_window_dedup",     // ExactSubstr window dedup + reconstruction
    "l42_dedup_index_query", // incremental near-dup dedup from the persisted band index
    "l66_sql_surface",      // the same index tier served through plain SQL (TVF ≡ API plan)
    "l5_cosine_topk",       // brute-force ANN baseline
    "l6_cosine_neardup",    // banded near-dup on the doubled corpus
    "l13_lsh_topk",         // LSH ANN (sqrt-scaled buckets)
    "l14_ivf_topk",         // IVF ANN (sqrt-scaled cells)
    "l22_ivf_int8_topk",    // IVF ANN over int8 codes + float re-rank
    "l30_ann_index_query",  // ANN from the persisted int8 index (read path)
    "l31_ann_serve",        // asymmetric serving: |Q| ≪ |C| vs the index
    "l35_pq_serve",         // serving from the product-quantized tier (ADC)
    "l33_ann_index_fresh",  // index INGEST, cache-busted fresh build per run
    "l32_ann_index_append", // incremental index append (build base + append)
    "l58_ann_index_delete", // index takedown (build + tombstone delete pass)
    "l62_pq_index_append",  // PQ-tier append (base build + persisted-codebook encode)
    "l34_jl_project",       // seeded sparse JL projection 64→16 (row-local)
    "l36_pack_sequences",   // token-budget sequence packing (sharded windows)
    "l23_repetition",       // Gopher repetition signals (row-local + 1 shuffle)
    "l45_lm_logprob",       // corpus-trained bigram LM score (vocab aggs + model join)
    "l37_temperature_sample", // sqrt-temperature mixture quotas (distributed rank)
    "l47_bpe_merges",       // BPE TRAINING (24 merge rounds) — its own row since r13
    "l48_bpe_encode",       // BPE ENCODE against a warm trained model (train cost = l47's row)
    "l49_frequent_ngrams",  // count-min prefilter + exact heavy-hitter recount
    "l39_paragraph_dedup",  // paragraph dedup + doc reconstruction (2 shuffles)
    "l51_cdc_dedup",        // gear-hash CDC chunking + chunk-fp dedup ledger
    "l25_semdedup",         // SemDedup cluster dedup on the doubled corpus
    "l26_dedup_groups",     // near-dup pairs closed into transitive groups
    "l55_dedup_groups_indexed", // dedup groups from the persisted band index (repeat-run shape)
    "l57_dedup_groups_deleted", // same, post-delete (tombstone anti-join on the read path)
    "l59_dedup_groups_incremental", // labels + delta edges only (the O(batch) repeat run)
    "l56_jl_ann_recall",    // JL 64->16 projection -> LSH ANN composition
    "l60_quantile_rollup",  // mergeable log-bucket quantile tier (build + rollup)
    "l61_jl_pq_pipeline",   // composed serve: persisted JL projection -> PQ index -> ADC
    "l27_pretrain_pipeline", // composed dedup→gates→decontaminate→split flow
    "l28_pretrain_neardup", // the pipeline with the component-collapse stage
    "m6_scd2_history")      // SCD2 keep-every-version window

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(s"local[$cpus]")

    val qs = SparkEntry.benchQueries
    // SPARK_GRAFT_ONLY=q1,q2 narrows the run for local iteration; the
    // driver leaves it unset and gets the full headline set. Unknown or
    // empty names fail LOUDLY — a typo that silently benched nothing
    // would print total=0 and read as a perfect run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- headline.toSet
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in Bench.headline: ${unknown.mkString(", ")}")
    }
    // A failing query must be VISIBLE in the artifact: the former shape
    // swallowed exceptions and recorded the (tiny) time-to-failure, so a
    // broken query made the bench look FASTER — the one direction an
    // honest artifact must never err. Failures record time = -1.0 plus
    // the exception class/message, and the process exits nonzero.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // THREE same-JVM runs per query, ALL timed, MIN reported. Two of
    // them existed before as untimed warm-ups (the round-10
    // settling-depth experiments showed runs 1-2 of a shape carry
    // 2.5-4× JIT bias, so single-run timings were depth-3). Timing the
    // warm-ups too costs nothing and closes the remaining hole: this
    // box has a one-rep-in-~10 pure-CPU JIT mode (zero GC, identical
    // stage, 4-10× — BENCH_r10 prep measured l41 at 11.45 s inside a
    // gauge-clean pass where its same-day record is 1.15 s), and a
    // single timed run lets that mode land IN the artifact while the
    // contention gauge reads clean. Min-of-N under one-sided noise is
    // the steady state — the same policy ScaleBench adopted. The
    // worst per-query max/min ratio ships as "spread_max" so an
    // artifact that DID absorb an outlier says so itself.
    var spreadQ = ""
    var spreadRatio = 1.0
    def timed(name: String): Double = {
      val fn = qs(name)
      var lastErr: String = null
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            lastErr = (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n')).take(160)
            -1.0
        }
      }
      val runs = Seq(once(), once(), once()).filter(_ >= 0)
      // ANY failed run is recorded and fails the bench — a query that
      // crashes 1-of-3 times is broken even if a min time exists, and
      // the former runs-empty-only check let intermittent failures ship
      // a clean artifact with exit 0
      if (lastErr != null) {
        errors(name) = lastErr
        System.err.println(
          s"[bench] QUERY FAILED $name (${3 - runs.size}/3 runs) — $lastErr")
      }
      if (runs.isEmpty) {
        -1.0
      } else {
        val ratio = runs.max / math.max(runs.min, 1e-9)
        if (ratio > spreadRatio) { spreadQ = name; spreadRatio = ratio }
        runs.min
      }
    }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    /** (busyJiffies, stealJiffies) from the aggregate /proc/stat row.
      * Steal is the direct hypervisor-contention signal on a shared
      * host: this box's history shows a 20% steal ratio in bursts, and
      * a burst lands inside whatever tasks are running — the one
      * contamination mode the load average cannot see (a stolen vCPU
      * is still "busy"). */
    def cpuStat(): (Long, Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val cols = src.getLines()
            .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
          // user nice system idle iowait irq softirq steal
          (cols.take(3).sum + cols.drop(5).take(2).sum,
            if (cols.length > 7) cols(7) else 0L,
            if (cols.length > 4) cols(4) else 0L)
        } finally src.close()
      } catch { case _: Throwable => (0L, 0L, 0L) }

    /** This JVM's own consumed CPU in jiffies (utime+stime+reaped
      * children) from /proc/self/stat — the same USER_HZ clock as the
      * aggregate /proc/stat row, so machineBusyΔ − selfΔ is directly
      * the CPU someone ELSE burned during the pass (see
      * [[ForeignCpuRetryThreshold]]). Parse after the last ')': the
      * comm field may contain spaces. */
    def selfJiffies(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/self/stat")
        try {
          val line = src.getLines().next()
          val cols = line.substring(line.lastIndexOf(')') + 2).split(" ")
          // post-comm fields: state=0 ... utime=11 stime=12 cutime=13 cstime=14
          cols.slice(11, 15).map(_.toLong).sum
        } finally src.close()
      } catch { case _: Throwable => 0L }

    val gaugeQ = "d1_q1_pricing"
    val selected = headline.filter(qs.contains).filter(n => only.forall(_.contains(n)))

    // millisecond precision keeps the metric line well inside the
    // 2000-char stdout tail the driver archives; full ns precision
    // pushed it past the window and truncated the JSON for 8 rounds
    def r3(v: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    /** One full bracketed pass: gauge query, timed set, gauge query again. */
    case class Attempt(results: Seq[(String, Double)], gaugeFirst: Double,
                       gaugeLast: Double, drift: Double,
                       loadStart: Double, loadEnd: Double, loadMax: Double,
                       stealPct: Double, foreignPct: Double, iowaitPct: Double,
                       spreadQuery: String, spreadMax: Double) {
      def total: Double = results.map(_._2).sum
      def contaminated: Boolean =
        drift > DriftRetryThreshold || loadStart > LoadRetryThreshold ||
          stealPct > StealRetryThreshold ||
          foreignPct > ForeignCpuRetryThreshold ||
          iowaitPct > IowaitRetryThreshold
      def json: String = {
        val qJson = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
        s"""{"queries":$qJson,"total":${r3(total)},""" +
          s""""gauge":{"query":"$gaugeQ","first":${r3(gaugeFirst)},"last":${r3(gaugeLast)},"drift":${r3(drift)}},""" +
          s""""load_avg":{"start":${r3(loadStart)},"end":${r3(loadEnd)},"max":${r3(loadMax)}},"steal_pct":${r3(stealPct)},""" +
          s""""foreign_cpu_pct":${r3(foreignPct)},"iowait_pct":${r3(iowaitPct)},""" +
          s""""spread_max":{"query":"$spreadQuery","ratio":${r3(spreadMax)}}}"""
      }
    }
    def runAttempt(tag: String): Attempt = {
      spreadQ = ""; spreadRatio = 1.0 // per-attempt worst max/min across a query's 3 runs
      val loadStart = loadAvg()
      var loadMax = loadStart
      val (busy0, steal0, iow0) = cpuStat()
      val self0 = selfJiffies()
      val gaugeFirst = timed(gaugeQ)
      System.err.println(f"[bench:$tag] gauge-first $gaugeQ $gaugeFirst%8.2f s (load $loadStart%.2f)")
      val results = selected.map { name =>
        System.err.println(s"[bench:$tag] warm-up $name")
        val dt = timed(name)
        loadMax = math.max(loadMax, loadAvg()) // mid-pass visibility only
        System.err.println(f"[bench:$tag] $name%-24s $dt%8.2f s")
        name -> dt
      }
      val gaugeLast = timed(gaugeQ)
      val loadEnd = loadAvg()
      loadMax = math.max(loadMax, loadEnd)
      val (busy1, steal1, iow1) = cpuStat()
      val self1 = selfJiffies()
      val stealPct =
        if (busy1 + steal1 > busy0 + steal0)
          100.0 * (steal1 - steal0) / ((busy1 - busy0) + (steal1 - steal0))
        else 0.0
      val foreignPct =
        if (busy1 > busy0)
          math.max(0.0, 100.0 * ((busy1 - busy0) - (self1 - self0)) / (busy1 - busy0))
        else 0.0
      // iowait share of the NON-IDLE pie: an IO-bound co-resident burns
      // no CPU jiffies (invisible to steal/foreign) but its queued disk
      // time lands here — the one r13-mode signal (see
      // [[IowaitRetryThreshold]])
      val iowaitPct =
        if (busy1 > busy0)
          100.0 * (iow1 - iow0) / ((busy1 - busy0) + (iow1 - iow0).max(0L))
        else 0.0
      val drift = if (gaugeFirst > 0) gaugeLast / gaugeFirst else -1.0
      System.err.println(f"[bench:$tag] gauge-last  $gaugeQ $gaugeLast%8.2f s (load $loadEnd%.2f max $loadMax%.2f, drift $drift%.2f×, steal $stealPct%.1f%%, foreign $foreignPct%.1f%%, iowait $iowaitPct%.1f%%, spread $spreadRatio%.1f× @ $spreadQ)")
      Attempt(results, gaugeFirst, gaugeLast, drift, loadStart, loadEnd, loadMax,
        stealPct, foreignPct, iowaitPct, spreadQ, spreadRatio)
    }

    // Self-healing: rounds 4 and 6 both shipped artifacts inflated 5-20× by a
    // co-resident JVM. The gauge DETECTS that (drift ≫ 1, or the machine was
    // already loaded before we started); detection without remediation still
    // publishes wrong numbers, so contaminated passes are retried (bounded,
    // with a settle-down sleep so a draining workload actually drains) and
    // the official pass is chosen from the UNCONTAMINATED pool first. Round 7
    // showed why the pool filter matters: a steady co-resident load inflates
    // every query while keeping gauge drift ≈ 1.0, so picking by |log drift|
    // alone let a load-6 pass beat a clean one. All passes ship under
    // "attempts" so the artifact stays honest about what happened.
    // Round-12: at least TWO attempts, always. BENCH_r11 proved a
    // single gauge-clean pass can still be ~30% inflated by a load that
    // arrives mid-run; with two passes the official numbers come from
    // whichever one the contaminator missed (a foreign burst that spans
    // BOTH is caught by foreign_cpu_pct on each and retried). The
    // second pass costs one suite re-run (~40 s at sf0.1) and is also
    // the better-JIT-settled one — min-of-attempts extends the
    // min-of-N-runs policy one level up.
    val minAttempts = 2
    val maxAttempts = 4
    // A fixed settle sleep is not enough: the 1-min load average still
    // carries the PREVIOUS attempt's own 32-thread burst for a minute
    // or more, so a retry launched on a timer reads loadStart ≈ 5 and
    // gets mis-flagged as contaminated even on an otherwise idle box.
    // Wait until the load actually decays under the gate (bounded).
    //
    // Round-15 addition: a steal gate. An IDLE probe cannot see a
    // hypervisor neighbor — steal jiffies accrue only while our vCPUs
    // are RUNNABLE, so a box that will be stolen from at 20-30% under
    // the bench's own burst reads steal ≈ 0 while waiting (measured:
    // 4/4 r15 attempts launched "quiet" by load yet ran at 5.8-30.8%
    // steal). The probe spins every core for a short window and reads
    // the steal share that burst exposes; a dirty probe means the
    // neighbor is resident RIGHT NOW and the attempt would be wasted.
    // The probe runs BEFORE the load loop on purpose: its own spin
    // adds ~1 to the 1-min load, and the load loop then waits out our
    // self-inflicted contribution. Timing methodology is unchanged —
    // same queries, same 3-run-min, same JSON; this only moves WHEN an
    // attempt launches.
    def probeStealPct(ms: Long): Double = {
      val (b0, s0, _) = cpuStat()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val ts = (1 to Runtime.getRuntime.availableProcessors()).map { _ =>
        val t = new Thread(() => {
          var x = 0L
          while (!stop.get()) x += 1
          sink.addAndGet(x) // keep the loop unelidable
        })
        t.setDaemon(true); t.start(); t
      }
      Thread.sleep(ms)
      stop.set(true)
      ts.foreach(_.join(1000))
      val (b1, s1, _) = cpuStat()
      if (b1 + s1 > b0 + s0)
        100.0 * (s1 - s0) / ((b1 - b0) + (s1 - s0))
      else 0.0
    }
    def waitUntilQuiet(maxWaitMs: Long): Unit = {
      val deadline = System.nanoTime() + maxWaitMs * 1000000L
      var sp = probeStealPct(2000)
      while (sp > StealRetryThreshold && System.nanoTime() < deadline) {
        System.err.println(
          f"[bench] probed steal $sp%.1f%% > $StealRetryThreshold%.1f%% — settling")
        Thread.sleep(15000)
        sp = probeStealPct(2000)
      }
      var l = loadAvg()
      while (l > LoadRetryThreshold && System.nanoTime() < deadline) {
        System.err.println(f"[bench] load $l%.2f > $LoadRetryThreshold%.1f — settling")
        Thread.sleep(15000)
        l = loadAvg()
      }
    }
    val attempts = {
      // the JVM's own -XX:+AlwaysPreTouch walk of the heap spikes the
      // 1-min load to ~20 before main() runs — settle first so attempt
      // 1 isn't self-flagged by its own startup
      waitUntilQuiet(180000)
      val buf = scala.collection.mutable.ArrayBuffer(runAttempt("1"))
      while ((buf.last.contaminated || buf.size < minAttempts) && buf.size < maxAttempts) {
        if (buf.last.contaminated)
          System.err.println(
            f"[bench] attempt ${buf.size} contaminated (drift ${buf.last.drift}%.2f, " +
              f"load ${buf.last.loadStart}%.2f, steal ${buf.last.stealPct}%.1f%%, " +
              f"foreign ${buf.last.foreignPct}%.1f%%) — waiting for the machine to settle")
        waitUntilQuiet(180000)
        buf += runAttempt(s"${buf.size + 1}")
      }
      buf.toSeq
    }
    // Official = the FASTEST uncontaminated pass. Noise on this box is
    // one-sided (contention and JIT modes only ever inflate), so min
    // total is the honest pick — the former min-|log drift| selection
    // is exactly what let r11's inflated-but-gauge-clean pass ship.
    var allAttempts: Seq[Attempt] = attempts
    def pick(atts: Seq[Attempt]): (Attempt, Boolean) = {
      val pool = atts.filterNot(_.contaminated)
      val off = (if (pool.nonEmpty) pool else atts).minBy(_.total)
      // Cross-attempt sanity: the official total must sit within
      // CrossAttemptSanity of the best total seen in ANY pass (including
      // contaminated ones — their mins still lower-bound the machine).
      // Exceeding it means every surviving pass absorbed inflation no
      // per-pass signal caught; retry if budget remains, and the
      // artifact says so about itself either way.
      (off, off.total > CrossAttemptSanity * atts.map(_.total).min)
    }
    val (official, suspect) = {
      var atts = attempts
      var (off, sus) = pick(atts)
      while (sus && atts.size < maxAttempts) {
        System.err.println(
          f"[bench] official total ${off.total}%.2f s exceeds best attempt by >" +
            f"${(CrossAttemptSanity - 1) * 100}%.0f%% — suspect, retrying")
        waitUntilQuiet(180000)
        atts = atts :+ runAttempt(s"${atts.size + 1}")
        val p = pick(atts); off = p._1; sus = p._2
      }
      allAttempts = atts
      (off, sus)
    }

    val qJson = official.results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = official.results.map(_._2).sum
    val gaugeJson = s"""{"query":"$gaugeQ","first":${r3(official.gaugeFirst)},"last":${r3(official.gaugeLast)},"drift":${r3(official.drift)}}"""
    val loadJson = s"""{"start":${r3(official.loadStart)},"end":${r3(official.loadEnd)},"max":${r3(official.loadMax)}}"""
    // Every pass ships for honesty, but on its OWN line: folding the
    // attempts array into the metric line made that line ~4–6 KB, and
    // the driver archives only the last 2000 chars of stdout — the
    // metric JSON arrived decapitated and unparseable in rounds 1–8.
    // The metric line itself goes LAST and stays ≲1.2 KB.
    // errors carry the LAST failure message per query across all passes
    // (a query that failed in any pass is broken — its -1.0 entries are
    // already visible in the per-attempt timings)
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    println(s"""{"attempts":${allAttempts.map(_.json).mkString("[", ",", "]")}}""")
    val spreadJson =
      s"""{"query":"${official.spreadQuery}","ratio":${r3(official.spreadMax)}}"""
    // rejection visibility (the r12 verdict's ask): `retried` only says
    // extra attempts ran; `attempts_rejected` says how many attempts the
    // contamination predicate REJECTED — a pass that survived a
    // contaminated sibling now says so even when it finished within the
    // two mandatory attempts
    val rejected = allAttempts.count(_.contaminated)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qJson,"sf":"$sfDir","gauge":$gaugeJson,"load_avg":$loadJson,"steal_pct":${r3(official.stealPct)},"foreign_cpu_pct":${r3(official.foreignPct)},"iowait_pct":${r3(official.iowaitPct)},"spread_max":$spreadJson,"retried":${allAttempts.size > minAttempts},"attempts_rejected":$rejected,"suspect":$suspect,"errors":$errJson}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
