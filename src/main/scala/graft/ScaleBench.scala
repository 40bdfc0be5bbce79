package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Large-fixture similarity/near-dup benchmark — the scale companion to
  * [[Bench]].
  *
  * [[Bench]] runs the declared queries at the driver's sf0.1 fixture
  * (2k vectors); the band/cell math all has n in it, so the only honest
  * way to check the documented curves (near-dup candidates ~ n^1.33,
  * ANN work ~ bands·sqrt(n) per query) is to run the SAME operator
  * entry points on a corpus 1–2 orders of magnitude bigger. Input is an
  * embeddings-only directory from `tools/gen_embed.py` (originals + a
  * planted 2% exact-duplicate sliver + seeded random background — the
  * adversarially-orthogonal shape, NOT a wall of copies that bucket
  * joins could answer from alone).
  *
  * Near-dup runs at the PRODUCTION miss budget (1e-2): the declared l6
  * query pins miss = 1e-7 for its fixture-scale DuckDB oracle, but that
  * budget is a fixture luxury — `nearDupPlan` shows it crossing the
  * hyperplane ceiling near n = 2×10⁵, which is exactly the regime this
  * main exists to measure. Planted recall is still exact: cosine-1.0
  * pairs share every band signature regardless of the budget.
  *
  * Usage: SPARK_GRAFT_EMBED_DIR=/tmp/sf_embed100k runMain graft.ScaleBench
  * (SPARK_GRAFT_SCALE_ONLY=ivf_topk,lsh_topk restricts the set — the
  * 10⁶-point runs are ~10 min per operator, so curves are sampled;
  * SPARK_GRAFT_DOCS_DIR adds the text-tier decon_join/decon_bloom A/B
  * over a gen_big docs-only fixture).
  * Emits one JSON line: {"n":…,"queries":{…},"neardup_pairs":…,…}.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_EMBED_DIR", "/tmp/sf_embed100k")
    val only: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def wanted(name: String): Boolean = only.isEmpty || only.contains(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(s"local[$cpus]", "graft-scalebench")

    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val n = emb.count()
    // originals are ids < 5M; exact copies sit at +10M and the
    // near-threshold noised copies at +5M (gen_embed.py contract)
    val planted = emb.filter(col("vec_id") < 5000000L).count()

    // SPARK_GRAFT_SCALE_REPS > 1 runs every timed body N times in the
    // same JVM and reports the MINIMUM — the settling-depth experiments
    // (BENCH_LOCAL.md round-10) showed runs 1-2 of a shape carry 2.5-4×
    // JIT bias even after a full-scale warm-up, so a single-shot number
    // is an upper bound, not a measurement; min-of-N under one-sided
    // contention noise is the steady state. Every rep is printed so the
    // settling curve itself stays visible. NOTE: bodies with side
    // effects (index_build/index_append) repeat those effects — their
    // timings stay honest (build overwrites, append grows the index by
    // another batch) but leave reps at 1 unless that is understood.
    val scaleReps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1").toInt
    // per-rep steal bracketing (same /proc/stat signal as Bench): on a
    // shared host a steal burst lands inside whatever rep is running
    // and load averages cannot see it — printing it per rep is what
    // lets a 103→152 s upward rep drift be attributed to the NEIGHBOR
    // instead of silently poisoning a min-of-N or a sweep comparison
    def cpuStat(): (Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val cols = src.getLines()
            .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
          (cols.take(3).sum + cols.drop(5).take(2).sum, if (cols.length > 7) cols(7) else 0L)
        } finally src.close()
      } catch { case _: Throwable => (0L, 0L) }
    def timed(name: String)(body: => Long): (Double, Long) = {
      val outcomes = (1 to scaleReps).map { i =>
        val (b0, s0) = cpuStat()
        val t0 = System.nanoTime()
        val rows = body
        val dt = (System.nanoTime() - t0) / 1e9
        val (b1, s1) = cpuStat()
        val steal = if (b1 + s1 > b0 + s0)
          100.0 * (s1 - s0) / math.max(1L, (b1 - b0) + (s1 - s0)) else 0.0
        System.err.println(
          f"[scalebench] $name%-22s $dt%8.2f s  ($rows rows, steal $steal%.1f%%)" +
            (if (scaleReps > 1) s"  [rep $i/$scaleReps]" else ""))
        (dt, rows)
      }
      outcomes.minBy(_._1)
    }

    val runs = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    // misc numeric outputs (recall ratios, measured byte footprints)
    val recalls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // SPARK_GRAFT_ND_BITS / SPARK_GRAFT_LSH_BITS override the band
    // widths for curve experiments (derived defaults are the production
    // settings). A COMMA LIST sweeps widths inside ONE warm JVM — the
    // only honest way to compare widths, since a cold first run carries
    // 2+ minutes of JIT warm-up that would be billed to whichever width
    // ran first (measured: 619 s cold vs ~250 s warm for the identical
    // near-dup query in this very harness). Sweep entries are keyed
    // query_b<bits>; a single value keeps the plain key.
    def bitsList(envVar: String): Seq[Option[Int]] =
      sys.env.get(envVar) match {
        case None    => Seq(None)
        case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty)
          .map(v => Some(v.toInt)).toSeq
      }
    val ndBitsList = bitsList("SPARK_GRAFT_ND_BITS")
    val lshBitsList = bitsList("SPARK_GRAFT_LSH_BITS")
    val ndBits = ndBitsList.head
    val lshBits = lshBitsList.head
    // repeated widths get a run suffix (alternating-order sweeps are the
    // bias detector: if _b15_r0 ≠ _b15_r2 the session drifted)
    def sweepKeys(base: String, sweep: Seq[Option[Int]]): Seq[String] =
      if (sweep.size <= 1) Seq(base)
      else sweep.zipWithIndex.map { case (b, i) =>
        if (sweep.count(_ == b) > 1) s"${base}_b${b.get}_r$i" else s"${base}_b${b.get}"
      }
    if (wanted("cosine_neardup")) {
      // warm-up at FULL scale: a sliced warm-up leaves enough JIT depth
      // on the table that the first full run measures ~2-4× its steady
      // state and the sweep's first width eats the bias (measured:
      // b15@10⁶ 508 s as sweep-head vs ~250 s warm; b12@10⁵ 48 s as
      // sweep-head vs 11.5 s in the round-9 record)
      Similarity.cosineNearDup(emb, "vec_id", "embedding",
        threshold = 0.8, bitsPerBand = ndBitsList.head).count()
      for ((b, key) <- ndBitsList.zip(sweepKeys("cosine_neardup", ndBitsList)))
        runs(key) = timed(key) {
          Similarity.cosineNearDup(emb, "vec_id", "embedding",
            threshold = 0.8, bitsPerBand = b).count()
        }
    }
    if (wanted("lsh_topk")) runs("lsh_topk") = timed("lsh_topk") {
      Similarity.lshTopK(emb, emb, 3, bitsPerBand = lshBits,
        codeScreen = false).count()
    }
    // the code-screened two-pass shape, same process — the honest A/B
    // for the branch-and-bound screen (single-shot forks confound JIT)
    if (wanted("lsh_topk_screen")) {
      Similarity.lshTopK(emb, emb, 3, bitsPerBand = lshBitsList.head,
        codeScreen = true).count() // full-scale warm-up (see above)
      for ((b, key) <- lshBitsList.zip(sweepKeys("lsh_topk_screen", lshBitsList)))
        runs(key) = timed(key) {
          Similarity.lshTopK(emb, emb, 3, bitsPerBand = b, codeScreen = true)
            .count()
        }
    }
    // stage isolation for the LSH cost model (mirrors the IVF probes):
    // hash_count builds band keys for the corpus side only (1-row query
    // side — hashing + explode + the band shuffle/sort, no real join
    // output), pairs_count adds the join but prunes the cosine,
    // score_sum forces scoring but skips the top-k aggregation
    if (wanted("lsh_hash_count")) runs("lsh_hash_count") = timed("lsh_hash_count") {
      Similarity.lshScoredPairs(emb.limit(1), emb, corpusSize = Some(n),
        bitsPerBand = lshBits).select(col("qid")).count()
    }
    if (wanted("lsh_pairs_count")) runs("lsh_pairs_count") = timed("lsh_pairs_count") {
      Similarity.lshScoredPairs(emb, emb, corpusSize = Some(n),
        bitsPerBand = lshBits).select(col("qid")).count()
    }
    if (wanted("lsh_score_sum")) runs("lsh_score_sum") = timed("lsh_score_sum") {
      Similarity.lshScoredPairs(emb, emb, corpusSize = Some(n),
        bitsPerBand = lshBits).agg(sum(col("cos"))).collect(); 1L
    }
    if (wanted("lsh_topk_mp")) runs("lsh_topk_mp") = timed("lsh_topk_mp") {
      Similarity.lshTopK(emb, emb, 3, multiProbe = true).count()
    }
    if (wanted("ivf_topk")) runs("ivf_topk") = timed("ivf_topk") {
      Similarity.ivfTopK(emb, emb, 3).count()
    }
    // stage isolation for the IVF cost model (which term dominates at n):
    // pairs_count prunes the cosine (join machinery only), score_sum
    // forces scoring but skips the top-k aggregation — the deltas
    // attribute wall-clock to join vs scoring vs heap
    if (wanted("ivf_pairs_count")) runs("ivf_pairs_count") = timed("ivf_pairs_count") {
      Similarity.ivfScoredPairs(emb, emb, None, 4, int8 = false)
        .select(col("qid")).count()
    }
    if (wanted("ivf_score_sum")) runs("ivf_score_sum") = timed("ivf_score_sum") {
      Similarity.ivfScoredPairs(emb, emb, None, 4, int8 = false)
        .agg(sum(col("cos"))).collect(); 1L
    }
    if (wanted("ivf_int8_topk")) runs("ivf_int8_topk") = timed("ivf_int8_topk") {
      Similarity.ivfTopKInt8(emb, emb, 3).count()
    }
    // the full dedup pipeline: near-dup pairs -> transitive groups
    // (pairs alone can't drive deletion — near-dup isn't transitive)
    if (wanted("dedup_groups")) runs("dedup_groups") = timed("dedup_groups") {
      graft.operators.Dedup.connectedComponents(
        Similarity.cosineNearDup(emb, "vec_id", "embedding", threshold = 0.8),
        "id_a", "id_b").count()
    }
    // stage isolation for dedup_groups: time the COMPONENT CLOSURE
    // alone on a pre-materialized pair input — attributes the
    // dedup_groups total to pair construction vs CC rounds (the
    // full-pipeline number cannot separate them, and at the planted
    // fixture's 6k-edge graph the rounds SHOULD be noise)
    if (wanted("cc_only")) runs("cc_only") = {
      val pairs = Similarity.cosineNearDup(emb, "vec_id", "embedding",
        threshold = 0.8, bitsPerBand = ndBits).localCheckpoint()
      timed("cc_only") {
        graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b").count()
      }
    }

    // ---- the hot-mass adversary (the bucketCap regime): a
    // deterministic ~3% id-hash slice of the corpus replaced by
    // near-identical vectors — at web scale this is the boilerplate
    // mass, and unguarded it concentrates one (band, bkey) bucket per
    // band with the whole slice in it. The A/B measures the triangle
    // guard on the exact same corpus (results are spec-identical, so
    // any delta is physical-bucket shape). NOTE the honest caveat for
    // local[32]: the unguarded run already gets B-way parallelism (one
    // hot bucket per band), so the measured win understates the
    // cluster regime, where cores ≫ bands and the per-key bound is
    // everything.
    lazy val massEmb = {
      val eps = pmod(xxhash64(col("vec_id")), lit(1000L)).cast("double") / 1e5
      val massVec = array(
        (Seq((lit(8.0) + eps).cast("float")) ++
          Seq.fill(63)(lit(0.1f))): _*)
      emb.withColumn("embedding",
        when(pmod(xxhash64(col("vec_id") + 17L), lit(33L)) === 0, massVec)
          .otherwise(col("embedding")))
        .localCheckpoint()
    }
    if (wanted("neardup_mass")) runs("neardup_mass") = timed("neardup_mass") {
      Similarity.cosineNearDup(massEmb, "vec_id", "embedding", threshold = 0.8,
        bitsPerBand = ndBits).count()
    }
    if (wanted("neardup_mass_guard")) runs("neardup_mass_guard") = timed("neardup_mass_guard") {
      Similarity.cosineNearDup(massEmb, "vec_id", "embedding", threshold = 0.8,
        bitsPerBand = ndBits, bucketCap = Some(4096)).count()
    }
    // refinement overhead on the SCATTERED fixture: one Lloyd pass is
    // one extra assignment sweep — the point is the additive cost, the
    // recall effect on clustered data is spec-pinned at fixture scale
    if (wanted("ivf_topk_refined")) runs("ivf_topk_refined") = timed("ivf_topk_refined") {
      Similarity.ivfTopK(emb, emb, 3, refineIters = 1).count()
    }

    // ---- the asymmetric SERVING regime (|Q| ≪ |C|): 1k queries vs the
    // corpus. This is where multi-probe's corpus-side band savings stop
    // being paid for by query-side fanout, and where the persisted
    // index amortizes — the l31 shape at scale.
    // SPARK_GRAFT_SERVE_MOD sizes the query batch (~n/mod queries):
    // 1000 → ~1k queries whose probes cover every cell (dense regime —
    // no pruning possible), 100000 → ~10 queries probing ~1% of cells
    // (sparse regime — the partition-pruned index read's home turf)
    val serveMod = sys.env.getOrElse("SPARK_GRAFT_SERVE_MOD", "1000").toLong
    // id-HASH sampling, not vec_id % mod: fixture ids sit on a lattice
    // (gen ids stride), so a plain modulus over- or under-selects
    lazy val serveQ = emb.filter(pmod(xxhash64(col("vec_id")), lit(serveMod)) === 7)
      .localCheckpoint()
    if (wanted("lsh_serve")) runs("lsh_serve") = timed("lsh_serve") {
      Similarity.lshTopK(serveQ, emb, 3, corpusSize = Some(n)).count()
    }
    if (wanted("lsh_serve_mp")) runs("lsh_serve_mp") = timed("lsh_serve_mp") {
      Similarity.lshTopK(serveQ, emb, 3, corpusSize = Some(n),
        multiProbe = true).count()
    }
    if (wanted("ivf_serve")) runs("ivf_serve") = timed("ivf_serve") {
      Similarity.ivfTopKInt8(serveQ, emb, 3).count()
    }
    if (wanted("ivf_serve_indexed")) runs("ivf_serve_indexed") = timed("ivf_serve_indexed") {
      val idxDir = s"$dir/__graft_ivf_index"
      if (!graft.operators.AnnStore.exists(idxDir)) {
        val t0 = System.nanoTime()
        Similarity.buildIvfIndex(emb, idxDir, cellCap = Some(8192)).count()
        System.err.println(f"[scalebench] (index build: ${(System.nanoTime() - t0) / 1e9}%.2f s, amortized)")
      }
      Similarity.ivfTopKIndexed(serveQ, emb, idxDir, 3).count()
    }
    // PQ tier serving A/B against the int8 index read (same query
    // batch, same cell layout semantics): the postings scan is m bytes
    // per vector instead of d — the claim is IO, and the cost is the
    // wider residual margin's survivor re-rank
    if (wanted("pq_serve_indexed")) runs("pq_serve_indexed") = timed("pq_serve_indexed") {
      val idxDir = s"$dir/__graft_pq_index"
      if (!graft.operators.AnnStore.exists(idxDir)) {
        val t0 = System.nanoTime()
        Similarity.buildPqIndex(emb, idxDir, cellCap = Some(8192)).count()
        System.err.println(f"[scalebench] (pq index build: ${(System.nanoTime() - t0) / 1e9}%.2f s, amortized)")
      }
      Similarity.pqTopKIndexed(serveQ, emb, idxDir, 3).count()
    }
    // ---- the index WRITE path at scale (l33/l32's regime, unamortized):
    // a full fresh build of the int8 postings tier, then a ~1% append
    // batch (id-hash slice re-keyed as new ids) into the touched cell
    // partitions — what a growing deployment pays per ingest cycle.
    // Fresh directory per run; removed afterwards so reruns stay honest.
    if (wanted("index_build") || wanted("index_append")) {
      val wDir = s"$dir/__graft_ivf_index_w_${System.nanoTime()}"
      if (wanted("index_build")) runs("index_build") = timed("index_build") {
        Similarity.buildIvfIndex(emb, wDir, cellCap = Some(8192)).count()
      }
      if (wanted("index_append")) runs("index_append") = timed("index_append") {
        val batch = emb.filter(pmod(xxhash64(col("vec_id")), lit(100L)) === 0)
          .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"))
        Similarity.appendToIvfIndex(batch, wDir).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wDir))
    }
    // PQ build write path, unamortized (codebook training + encode +
    // postings write); also records the measured postings footprint so
    // the 8×-smaller claim is a number, not an estimate
    if (wanted("pq_build") || wanted("pq_append")) {
      val pDir = s"$dir/__graft_pq_w_${System.nanoTime()}"
      if (wanted("pq_build")) runs("pq_build") = timed("pq_build") {
        Similarity.buildPqIndex(emb, pDir, cellCap = Some(8192)).count()
      } else Similarity.buildPqIndex(emb, pDir, cellCap = Some(8192)).count()
      // the PQ ingest cycle's incremental shape (l62): ~1% batch,
      // re-keyed as new ids, encoded with the PERSISTED codebooks
      if (wanted("pq_append")) runs("pq_append") = timed("pq_append") {
        val batch = emb.filter(pmod(xxhash64(col("vec_id")), lit(100L)) === 0)
          .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"))
        Similarity.appendToPqIndex(batch, pDir).count()
      }
      def dirBytes(d: String): Long = {
        def rec(f: java.io.File): Long =
          if (f.isDirectory) { val k = f.listFiles(); if (k == null) 0L else k.map(rec).sum }
          else f.length()
        rec(new java.io.File(d))
      }
      recalls("pq_postings_bytes") = graft.operators.AnnStore
        .postingsPaths(pDir).map(dirBytes).sum.toDouble
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pDir))
    }

    // ---- text-tier decontamination A/B at document scale (l17 vs l38):
    // the join form shuffles every distinct (doc, shingle) pair twice;
    // the Bloom form builds one broadcast filter from the bench side and
    // probes row-locally with ZERO corpus-side shuffle. The fixture is a
    // docs-only gen_big replication (tools/gen_big.py N src out documents
    // — 200 replicas of sf0.1 = 10^6 docs), the regime where the shuffle
    // volume is the whole story. Both stages count survivors, so the
    // workload downstream of the filter decision is identical.
    sys.env.get("SPARK_GRAFT_DOCS_DIR").foreach { ddir =>
      val docs = Tables(spark, ddir, "documents")
        .select(col("doc_id"), col("text"))
      // replica ids shift by 10M ≡ 0 (mod 50), so the bench slice is the
      // same 2% of TEXTS in every replica — the l38 fixture split at scale
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      // l55 at scale: dedup GROUPS answered from the persisted band
      // index (the repeat-run shape). dix_build is the ingest-time
      // cost, paid once; dedup_groups_indexed is what every subsequent
      // dedup run pays — band-table self-join (signatures ride the
      // rows, zero corpus re-shingling/re-banding) + star-contraction
      // closure. Run these against a MOSTLY-UNIQUE fixture
      // (tools/gen_docs.py): on gen_big's 200x-replicated corpus the
      // true pair set itself is ~10^8, so any correct pair/group
      // listing is quadratic in the replication, not operator signal.
      // recorded as dixf_build (Full corpus), NOT dix_build: the 99%-
      // corpus build below already owns that key, and in an unfiltered
      // run the later write would silently overwrite this one
      lazy val dixScaleDir = {
        val outD = java.nio.file.Files
          .createTempDirectory("graft_scale_dix").toString
        val (dt, bandRows) = timed("dixf_build") {
          graft.operators.DedupIndex.build(docs, "doc_id", "text", outD)
          graft.operators.DedupIndex.readBands(spark, outD).count()
        }
        runs("dixf_build") = (dt, bandRows)
        outD
      }
      if (wanted("dedup_groups_indexed"))
        runs("dedup_groups_indexed") = {
          val d = dixScaleDir // force the build OUTSIDE the timed body
          timed("dedup_groups_indexed") {
            graft.operators.Dedup.connectedComponents(
              graft.operators.DedupIndex.selfPairs(spark, d),
              "id_a", "id_b").count()
          }
        }
      // l59 at scale: INCREMENTAL dedup-groups maintenance. The claim
      // being measured is the ask's "Done =" clause — after an append,
      // the per-run cost scales with the BATCH, not the corpus. Base =
      // 99% of docs (index + persisted closure labels, both one-off
      // ingest-time costs, recorded separately); batch = the held-out
      // 1%; dedup_groups_incremental times exactly what a daily run
      // pays: delta pairs incident to the batch (pairsWithNew — batch
      // band rows broadcast against a prefix-pruned corpus scan) +
      // incrementalComponents (closure on the contracted delta graph +
      // ONE broadcast relabel join over the label table). Compare
      // against dedup_groups_indexed above, which re-pays the full
      // corpus self-join + closure every run.
      if (wanted("dedup_groups_incremental")) {
        val outD = java.nio.file.Files
          .createTempDirectory("graft_scale_dixi").toString
        val labD = s"$outD/labels"
        val base = docs.filter(col("doc_id") % 100 =!= 7)
        val batch = docs.filter(col("doc_id") % 100 === 7)
        runs("dixi_build") = timed("dixi_build") {
          graft.operators.DedupIndex.build(base, "doc_id", "text", outD)
          graft.operators.DedupIndex.readBands(spark, outD).count()
        }
        runs("dixi_labels") = timed("dixi_labels") {
          val lab = graft.operators.Dedup.connectedComponents(
            graft.operators.DedupIndex.selfPairs(spark, outD), "id_a", "id_b")
          lab.write.mode("overwrite").parquet(labD)
          spark.read.parquet(labD).count()
        }
        runs("dixi_append") = timed("dixi_append") {
          graft.operators.DedupIndex.append(batch, "doc_id", "text", outD)
          batch.count()
        }
        // stage isolation: the delta-pair probe alone (batch re-band +
        // ONE prefix-pruned band-table scan + broadcast join). For any
        // real batch the 8 keys/doc saturate all 256 prefixes, so this
        // is the corpus-scan floor the incremental run sits on — the
        // same floor as l42's query probe; everything above it
        // (contracted closure + label relabel) is O(batch + touched)
        runs("dixi_delta") = timed("dixi_delta") {
          graft.operators.DedupIndex.pairsWithNew(
            spark, outD, batch, "doc_id", "text").count()
        }
        runs("dedup_groups_incremental") = timed("dedup_groups_incremental") {
          graft.operators.Dedup.incrementalComponents(
            spark.read.parquet(labD),
            graft.operators.DedupIndex.pairsWithNew(
              spark, outD, batch, "doc_id", "text")).count()
        }
      }
      // l60's quantile tier at 10⁶: ONE pass builds the per-(source,
      // lang) log-bucket histograms over token counts; every subsequent
      // rollup (here per-source p50/p95/p99) runs over the persisted
      // bucket table alone — the build-once/ask-forever split the tier
      // exists for. Build forces the bucket table with a count; the
      // rollup is timed against the MATERIALIZED table (localCheckpoint
      // — the honest repeat-query cost, no raw rescan)
      if (wanted("quantile_build") || wanted("quantile_rollup")) {
        val qdims = Seq("source", "lang")
        // full-column read: the `docs` view above projects (doc_id,
        // text) only, and the cells here are (source, lang)
        lazy val buckets = graft.operators.QuantileRollup.buildSketchTable(
          Tables(spark, ddir, "documents")
            .withColumn("toks", size(split(col("text"), " ")).cast("double")),
          qdims, "toks").localCheckpoint()
        if (wanted("quantile_build"))
          runs("quantile_build") = timed("quantile_build") { buckets.count() }
        if (wanted("quantile_rollup"))
          runs("quantile_rollup") = timed("quantile_rollup") {
            graft.operators.QuantileRollup.quantiles(
              buckets, Seq("source"), Seq(0.5, 0.95, 0.99)).count()
          }
      }
      if (wanted("decon_join")) runs("decon_join") = timed("decon_join") {
        graft.operators.Dedup.decontaminate(
          corpus, bench, "doc_id", "text", 8).count()
      }
      if (wanted("decon_bloom")) runs("decon_bloom") = timed("decon_bloom") {
        graft.operators.Dedup.decontaminateBloom(
          corpus, bench, "doc_id", "text", 8).count()
      }
      // stage isolation for the corpus pass (both forms share it):
      // scan = parquet read + text materialization; split adds the
      // regex tokenizer; shingle adds the FNV window hashing — the
      // deltas attribute the floor both decon forms sit on
      if (wanted("decon_scan")) runs("decon_scan") = timed("decon_scan") {
        corpus.agg(sum(length(col("text")))).collect(); n
      }
      if (wanted("decon_split")) runs("decon_split") = timed("decon_split") {
        corpus.agg(sum(size(split(col("text"), " ")))).collect(); n
      }
      if (wanted("decon_shingle")) runs("decon_shingle") = timed("decon_shingle") {
        corpus.agg(sum(size(graft.operators.Dedup.shingleHash64(
          split(col("text"), " "), 8)))).collect(); n
      }
      // the same pass through the fused STRING path (0x20-byte scan, no
      // regex, no token array) — the delta vs decon_shingle is what the
      // fused tokenizer saves every shingle consumer
      if (wanted("decon_shingle_fused")) runs("decon_shingle_fused") = timed("decon_shingle_fused") {
        corpus.agg(sum(size(graft.operators.Dedup.shingleHash64(
          col("text"), 8)))).collect(); n
      }
      // paragraph dedup at the replicated fixture's adversarial extreme:
      // every paragraph repeats ~200× (one per replica), so the
      // min(struct) keeper aggregation sees maximal duplicate mass —
      // the map-side partial combine is the difference between one row
      // per (partition, distinct para) and every occurrence shuffling
      if (wanted("para_dedup")) runs("para_dedup") = timed("para_dedup") {
        graft.operators.Dedup.paragraphDedup(docs, "doc_id", "text", " a ").count()
      }
      // threshold (fuzzy) decontamination A/B — the join form pays the
      // same two pair-set shuffles as decon_join plus the count agg;
      // the Bloom-count form keeps the zero-corpus-shuffle shape, the
      // probe merely loses its short-circuit (full count per row)
      if (wanted("fuzzy_join")) runs("fuzzy_join") = timed("fuzzy_join") {
        graft.operators.Dedup.decontaminateFuzzy(
          corpus, bench, "doc_id", "text", 8, 0.5).count()
      }
      if (wanted("fuzzy_bloom")) runs("fuzzy_bloom") = timed("fuzzy_bloom") {
        graft.operators.Dedup.decontaminateBloomFuzzy(
          corpus, bench, "doc_id", "text", 8, 0.5).count()
      }
      // window-level ExactSubstr dedup at the replicated extreme: every
      // window duplicates ~200× across replicas, so nearly every token
      // of every non-first replica is excised — maximal bad-occurrence
      // explode volume, the operator's worst case
      if (wanted("window_dedup")) runs("window_dedup") = timed("window_dedup") {
        graft.operators.Dedup.windowDedup(docs, "doc_id", "text", 8).count()
      }
      // corpus-trained bigram LM scoring: the vocab count aggs + the
      // model join back over the full bigram stream (43M bigrams at 10⁶)
      if (wanted("lm_logprob")) runs("lm_logprob") = timed("lm_logprob") {
        graft.operators.TextAnalysis.bigramLogProb(docs, "doc_id", "text").count()
      }
      // persisted text-dedup band index: build over 99% of the corpus,
      // probe with the remaining 1% (the daily-ingest serving shape),
      // append that batch — the text analog of index_build/index_append
      if (wanted("dix_build") || wanted("dix_query") || wanted("dix_append") ||
          wanted("dix_query_point") || wanted("dix_query_point_nopush")) {
        val dixDir = s"/tmp/graft_dix_scale_${n}"
        val corpus99 = docs.filter(pmod(col("doc_id"), lit(100L)) =!= 0)
        val batch1 = docs.filter(pmod(col("doc_id"), lit(100L)) === 0)
        if (wanted("dix_build")) runs("dix_build") = timed("dix_build") {
          graft.operators.DedupIndex.build(corpus99, "doc_id", "text", dixDir)
          graft.operators.DedupIndex.readBands(spark, dixDir).count()
        }
        if (wanted("dix_query")) runs("dix_query") = timed("dix_query") {
          graft.operators.DedupIndex.query(batch1, "doc_id", "text", dixDir).count()
        }
        // point-probe serving shape: ~50 docs against the 10⁶ index —
        // the regime the bkey-sorted row groups + pushed IN filter
        // exist for (400 keys ≤ the 512 cap ⇒ pushdown engages and
        // row-group stats skip groups holding none of them); _nopush
        // is the SAME probe with the pushdown capped off (prefix
        // pruning only) — the honest A/B, identical results spec-pinned
        lazy val pointProbe = docs.filter(pmod(col("doc_id"), lit(20000L)) === 3)
        if (wanted("dix_query_point"))
          runs("dix_query_point") = timed("dix_query_point") {
            graft.operators.DedupIndex.query(
              pointProbe, "doc_id", "text", dixDir).count()
          }
        if (wanted("dix_query_point_nopush"))
          runs("dix_query_point_nopush") = timed("dix_query_point_nopush") {
            graft.operators.DedupIndex.query(
              pointProbe, "doc_id", "text", dixDir,
              keyPushdownCap = 0).count()
          }
        // CHUNKED-IN probe (r13): a ~10³-doc daily batch names ~8k
        // distinct band keys — past the 512-key per-scan exact-IN
        // bound, so the opt-in cap splits them into ⌈K/512⌉ contiguous
        // sorted runs, each a pushed-IN scan, unioned (the only form
        // whose group skipping survives UNIFORM hash keys — range
        // coalescing provably covers ≈(K−R)/K of the key space and
        // prunes nothing; measured 2-6× regressions before this
        // design). _nopush is the same probe with pushdown capped off
        // — the honest default for this size locally, where the warm
        // page cache serves the whole table and the ⌈K/512⌉ metadata
        // passes are pure overhead; the chunked row exists to price
        // the opt-in cold-IO regime
        lazy val batchProbe = docs.filter(pmod(col("doc_id"), lit(1000L)) === 3)
        if (wanted("dix_query_batch"))
          runs("dix_query_batch") = timed("dix_query_batch") {
            graft.operators.DedupIndex.query(
              batchProbe, "doc_id", "text", dixDir,
              keyPushdownCap = 65536).count()
          }
        if (wanted("dix_query_batch_nopush"))
          runs("dix_query_batch_nopush") = timed("dix_query_batch_nopush") {
            graft.operators.DedupIndex.query(
              batchProbe, "doc_id", "text", dixDir,
              keyPushdownCap = 0).count()
          }
        if (wanted("dix_append")) runs("dix_append") = timed("dix_append") {
          graft.operators.DedupIndex.append(batch1, "doc_id", "text", dixDir)
          0L
        }
      }
      // BPE tokenizer training/encoding at corpus scale: training's
      // corpus-touching cost is ONE word-count shuffle (the replicated
      // fixture's distinct-word table is tiny, so the 24 merge rounds
      // are driver-paced no-ops — the corpus pass is the measurement);
      // encoding is the row-local broadcast-merge apply with the
      // per-task word memo (hot-vocabulary hits collapse to lookups)
      if (wanted("bpe_train")) runs("bpe_train") = timed("bpe_train") {
        graft.operators.Bpe.bpeTrain(docs, "text").count()
      }
      if (wanted("bpe_encode")) runs("bpe_encode") = timed("bpe_encode") {
        graft.operators.Bpe.bpeEncodeSelf(docs, "doc_id", "text").count()
      }
      // frequent n-grams A/B: exact form (one distinct-gram shuffle)
      // vs the count-min prefiltered form (two corpus passes, zero
      // corpus shuffle). Honest caveat: this fixture's synthetic
      // vocabulary bounds distinct 2-grams at ~10³, so the exact
      // form's shuffle is tiny and the sketch form mostly measures its
      // second corpus pass — the sketch's win (pruning a billions-row
      // distinct-gram shuffle) needs a diversity this fixture lacks.
      // minCount scales with the replication so the survivor set stays
      // the sf0.1 one.
      // a plain val forced OUTSIDE the timed blocks: as a lazy val the
      // docs.count() corpus pass was charged to whichever A/B variant
      // ran first, biasing the comparison this pair exists for
      val scaledMinCount: Long =
        if (wanted("freq_ngrams") || wanted("freq_ngrams_exact")) {
          val nd = docs.count()
          math.max(40L, 40L * (nd / 5000L))
        } else 40L
      if (wanted("freq_ngrams")) runs("freq_ngrams") = timed("freq_ngrams") {
        graft.operators.TextAnalysis.frequentNgrams(
          docs, "text", 2, scaledMinCount).count()
      }
      if (wanted("freq_ngrams_exact")) runs("freq_ngrams_exact") = timed("freq_ngrams_exact") {
        graft.operators.TextAnalysis.frequentNgramsExact(
          docs, "text", 2, scaledMinCount).count()
      }
      // content-defined chunking at corpus scale: the chunk table is a
      // row-local gear-hash byte loop (no shuffle); the dedup ledger
      // adds one chunk-fp hash-agg + a join back. The 200×-replicated
      // fixture is the adversarial duplicate-mass shape: every chunk
      // repeats ~200×, so the ledger join fans every chunk row
      if (wanted("cdc_chunks")) runs("cdc_chunks") = timed("cdc_chunks") {
        graft.operators.Cdc.chunkTable(docs, "doc_id", "text").count()
      }
      if (wanted("cdc_dedup")) runs("cdc_dedup") = timed("cdc_dedup") {
        graft.operators.Cdc.chunkDedupStats(docs, "doc_id", "text").count()
      }
      // epoch-weighted repetition: row-local sequence explode — the
      // measurement is the explode + copy materialization rate
      if (wanted("epoch_mix")) runs("epoch_mix") = timed("epoch_mix") {
        // full table read: the shared `docs` frame is pruned to
        // (doc_id, text) and this operator keys on `source`
        graft.operators.TextAnalysis.epochMix(
          Tables(spark, ddir, "documents"), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.5)).count()
      }
      // the s10 end-to-end loop: fold the corpus through 4 time-ordered
      // ingest batches (build + 3× query-then-append-survivors) — the
      // cost of standing the index UP incrementally, vs dix_build's
      // one-shot; side-effectful, so reps rebuild into a fresh dir
      if (wanted("dix_ingest")) {
        val ctr = new java.util.concurrent.atomic.AtomicInteger(0)
        runs("dix_ingest") = timed("dix_ingest") {
          val d = s"/tmp/graft_dix_ingest_${n}_${ctr.incrementAndGet()}"
          val batches = (0 to 3).map(i =>
            docs.filter(pmod(col("doc_id"), lit(4)) === i))
          val out = graft.operators.DedupIndex
            .ingestFold(batches, "doc_id", "text", d).count()
          out
        }
      }
    }

    // ---- near-threshold banding recall (the round-6 verdict's gap:
    // exact copies share every band signature BY CONSTRUCTION, so the
    // 2000/2000 planted numbers never exercised bandsForRecall's
    // probabilistic math; the +5M tier at cosine ~U[0.81,0.95] does).
    // Ground truth per planted pair is the exact QUANTIZED cosine of
    // (id, id+5M) — a 1:1 equi-join over 2k rows — because the engine's
    // tau gate runs in quantized space; recall divides found pairs by
    // pairs whose true quantized cosine clears tau.
    def nearTruth(): org.apache.spark.sql.DataFrame = {
      val orig = emb.filter(col("vec_id") < 5000000L)
        .select(col("vec_id").as("oid"), col("embedding").as("va"))
      val near = emb.filter(col("vec_id") >= 5000000L && col("vec_id") < 10000000L)
        .select((col("vec_id") - 5000000L).as("oid"), col("embedding").as("vb"))
      orig.join(near, "oid")
        .withColumn("cos", graft.functions.VectorFunctions
          .cosineScaled(col("va"), col("vb")))
        .select(col("oid"), col("cos")).localCheckpoint()
    }
    if (wanted("neardup_recall")) runs("neardup_recall") = timed("neardup_recall") {
      val truth = nearTruth()
      val eligible = truth.filter(col("cos") >= 0.8)
      val elig = eligible.count()
      val found = Similarity.cosineNearDup(emb, "vec_id", "embedding",
          threshold = 0.8, bitsPerBand = ndBits)
        .filter(col("id_b") === col("id_a") + 5000000L)
        .join(eligible, col("id_a") === col("oid"), "left_semi")
        .count()
      recalls("neardup_eligible") = elig.toDouble
      recalls("neardup_found") = found.toDouble
      recalls("neardup_recall") = if (elig == 0) -1.0 else found.toDouble / elig
      found
    }
    if (wanted("lsh_recall")) runs("lsh_recall") = timed("lsh_recall") {
      // does the near twin (expected rank 2, behind the exact twin at
      // cosine 1.0) survive banding into the query's top-3? Split at
      // 0.9 because lshTopK's derived band count TARGETS >=95%
      // retention at cosine >= 0.9 at any corpus size.
      val topk = Similarity.lshTopK(emb, emb, 3).localCheckpoint()
      val truth = nearTruth()
      def recallAt(tau: Double): (Long, Long) = {
        val elig = truth.filter(col("cos") >= tau)
        val hits = topk.join(elig, topk("qid") === elig("oid"))
          .filter(col("nid") === col("qid") + 5000000L).count()
        (hits, elig.count())
      }
      val (h9, e9) = recallAt(0.9)
      val (h8, e8) = recallAt(0.8)
      recalls("lsh_recall_ge090") = if (e9 == 0) -1.0 else h9.toDouble / e9
      recalls("lsh_eligible_ge090") = e9.toDouble
      recalls("lsh_recall_ge080") = if (e8 == 0) -1.0 else h8.toDouble / e8
      recalls("lsh_eligible_ge080") = e8.toDouble
      h8
    }

    val qJson = runs.map { case (k, (t, _)) => s""""$k":$t""" }.mkString(",")
    val rJson = runs.map { case (k, (_, r)) => s""""$k":$r""" }.mkString(",")
    val recJson = recalls.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"n":$n,"planted_dup_pairs":$planted,""" +
      s""""queries":{$qJson},"rows":{$rJson},"recall":{$recJson},"dir":"$dir"}""")
    spark.stop()
  }
}
