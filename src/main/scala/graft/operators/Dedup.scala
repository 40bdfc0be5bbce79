package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY §2b L).
  *
  * Scale design, common to all of them: NOTHING here compares documents
  * pairwise across the full corpus. Candidates come from equality joins
  * on derived keys (shingle hash, LSH band, simhash band) — the only
  * shuffles are hash-partitioned on those keys, so the cost is
  * O(candidates), not O(n²). That is the property that survives 100 TB;
  * a crossJoin-based dedup does not.
  */
object Dedup {

  /** Exact dedup = hash aggregation on the content key: keeps the
    * smallest id per distinct value and counts copies. */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles of a token array (higher-order fns, no UDF).
    * Reference form for specs; the hot paths key shingles by
    * [[shingleHash64]] — HOF lambdas run through interpreted
    * `Expression.eval` per window and thread sampling caught exactly
    * this chain dominating every shingle stage. */
  def shingles(tokens: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(tokens, i, lit(n))))

  /** Native 64-bit shingle fingerprints ([[graft.functions
    * .ShingleHash64Expr]]): one codegen call per row, no shingle
    * strings, no interpreted lambdas. `keepPartial = true` mirrors
    * [[shingles]] (a doc shorter than n yields one partial window);
    * `false` mirrors the gram-counting `when(size >= n)` convention. */
  def shingleHash64(tokens: Column, n: Int, keepPartial: Boolean = true): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.ShingleHash64Expr(
      ColumnBridge.expression(tokens), n, keepPartial))
  }

  /** Native minhash signature ([[graft.functions.MinHashSigExpr]]):
    * rolled-FNV shingle hashes + k splitmix64 seed-mix minima in one
    * codegen call per row — no boxed Seq[String], no ScalaUDF
    * converter round-trip. */
  def minhashSignature(tokens: Column, k: Int, shingleN: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.MinHashSigExpr(
      ColumnBridge.expression(tokens), k, shingleN))
  }

  /** Reference-form signature UDF (kept for the law spec): same rolled
    * shingle-hash + seed-mix structure as [[minhashSignature]], but
    * hashing UTF-16 chars through a boxed Seq[String] — the shape the
    * native expression replaced on the hot path. */
  def minhashSignatureFast(k: Int, shingleN: Int = 3) = udf { (tokens: Seq[String]) =>
    val sig = Array.fill(k)(Long.MaxValue)
    if (tokens != null && tokens.nonEmpty) {
      val th = new Array[Long](tokens.length)
      var t = 0
      while (t < tokens.length) {
        val s = tokens(t)
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
        th(t) = h
        t += 1
      }
      val nSh = math.max(tokens.length - shingleN + 1, 1)
      var p = 0
      while (p < nSh) {
        // combine the n token hashes positionally into one shingle hash
        var h = 0x9e3779b97f4a7c15L
        var j = 0
        while (j < shingleN && p + j < tokens.length) {
          h = (h ^ th(p + j)) * 0x100000001b3L
          j += 1
        }
        var seed = 0
        while (seed < k) {
          var z = h + 0x9e3779b97f4a7c15L * (seed + 1)
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= z >>> 31
          if (z < sig(seed)) sig(seed) = z
          seed += 1
        }
        p += 1
      }
    }
    sig.toSeq
  }

  /** LSH banding: hash each of `bands` contiguous `rowsPerBand`-slices of
    * the signature into a bucket key (native [[graft.functions
    * .BandKeysExpr]] — the HOF slice-and-xxhash form ran an interpreted
    * lambda per band per row). */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.BandKeysExpr(
      ColumnBridge.expression(sig), bands, rowsPerBand))
  }

  /** Estimated Jaccard = fraction of agreeing signature positions
    * (native [[graft.functions.SigAgreeExpr]] — the zip_with/filter
    * form ran interpreted per position per candidate PAIR, the band
    * join's hottest site). */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.SigAgreeExpr(
      ColumnBridge.expression(sigA), ColumnBridge.expression(sigB))) / lit(k.toDouble)
  }

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * docs(idCol, textCol) → (id_a, id_b, est_jaccard) with id_a < id_b and
    * est_jaccard >= threshold. Deterministic (seeded xxhash64 throughout).
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // k must split evenly into bands — integer division would silently
    // ignore the last k % bands minhash rows of every signature
    require(k % bands == 0, s"signature length k=$k must be a multiple of bands=$bands")
    val rowsPerBand = k / bands
    val n = docs.sparkSession.sparkContext.defaultParallelism
    // repartition (with an EXPLICIT count — AQE would coalesce a
    // small-byte shuffle to one task) before the per-row signature work:
    // a small single-file scan is ONE task otherwise (a parquet row
    // group can't be split), and row-local compute must spread
    val sigs = docs.repartition(n, col(idCol)).select(
      col(idCol).as("id"),
      minhashSignature(col(textCol), k, shingleN).as("sig"))

    val banded = sigs.select(
      col("id"), col("sig"),
      posexplode(lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "bkey")))

    val a = banded.select(col("band"), col("bkey"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bkey"), col("id").as("id_b"), col("sig").as("sig_b"))

    a.repartition(n, col("band"), col("bkey"))
      .join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      // dedup candidate PAIRS first: a pair colliding in m bands would
      // otherwise be signature-compared m times
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash/LSH candidates VERIFIED by exact n-gram Jaccard — the
    * classic two-stage near-dup pipeline: band collisions PROPOSE,
    * exact set overlap DISPOSES. Output contract identical to
    * [[ngramJaccard]] (`(id_a, id_b, jaccard)`, jaccard ≥ threshold,
    * exact values), which is what makes this form DuckDB-oracle-able
    * even though the candidate stage is seeded-hash banding. Recall is
    * the only difference: a true pair is missed iff its docs collide
    * in NO band — per-band collision probability is J^(k/bands), so at
    * k=32/bands=8 a J=0.89 pair needs 8 independent ~0.63-probability
    * failures to hide (~2e-4), and exact duplicates share every band
    * deterministically (miss probability 0).
    *
    * 100 TB shape vs [[ngramJaccard]]: banding is row-local and the
    * candidate join keys on (band, bkey) — no shingle-df skew surface,
    * no dfCap machinery; the verify stage re-attaches the two DISTINCT
    * shingle-fingerprint sets by id (the candidate list is pair-count
    * sized, broadcast-able) and intersects row-locally — the exact
    * intersection cost scales with |candidates|, not |corpus|². */
  def minhashLshVerified(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // threshold = 0.0 keeps every band-collision candidate: the exact
    // verify below is the ONLY disposition, so an under-estimated true
    // pair can't be pre-filtered away by its signature estimate
    val cand = minhashLsh(docs, idCol, textCol, shingleN, k, bands, threshold = 0.0)
      .select(col("id_a"), col("id_b"))
    val sets = docs.select(col(idCol).as("__vid"),
      array_distinct(shingleHash64(col(textCol), shingleN)).as("__vsh"))
    cand
      .join(sets.select(col("__vid").as("id_a"), col("__vsh").as("sh_a")), "id_a")
      .join(sets.select(col("__vid").as("id_b"), col("__vsh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("ni"),
        size(col("sh_a")).cast("double").as("na"),
        size(col("sh_b")).cast("double").as("nb"))
      .withColumn("jaccard", col("ni") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard similarity for pairs sharing >= 1 rare shingle —
    * the shingle-equality join IS the candidate pruning (no cross join).
    * Integer intersection/union counts, one double division: exact in any
    * engine, so this one is DuckDB-oracle-checkable.
    *
    * Skew bound (`dfCap`): a ubiquitous shingle ("of the and") appearing in
    * d documents creates a d²-pair bucket in the self-join — at corpus
    * scale one stopword trigram in 10⁶ docs is a 10¹²-pair bucket.
    * Candidate generation therefore drops shingles with document frequency
    * > dfCap (the CCNet/Gopher-style frequency cut), which caps every join
    * bucket at dfCap² pairs. Scores stay EXACT: the capped self-join
    * counts shared rare shingles per pair in its own aggregation, and a
    * second (candidate-bounded) join adds back any shared df>cap
    * shingles, so a detected pair's jaccard is identical to the uncapped
    * one. The only approximation is one-sided recall: a NON-identical
    * pair is missed iff every shared shingle has df > dfCap (DedupSpec
    * checks the subset + score-equality laws, and that capped ==
    * uncapped whenever max df <= dfCap — the fixture regime: max
    * fixture df is 25 at sf0.1, dfCap default 128).
    *
    * Exact-dedup canonicalization runs FIRST (the standard pipeline
    * ordering): texts are grouped, one representative per distinct text
    * is scored, and result pairs expand back through group membership —
    * identical docs pair at jaccard 1.0 regardless of shingle
    * frequencies (immune to the dfCap cut), and on a duplicate-heavy
    * corpus the scoring work collapses to the distinct-text count
    * (measured 43 s → 4.7 s on a 4× replica whose every text has 4
    * copies — BENCH_LOCAL.md). On a duplicate-free corpus the expansion
    * is the identity and the output is byte-identical to scoring
    * directly, at the cost of one extra text-hash aggregation. */
  /** `preDeduped = true` asserts the caller's texts are ALREADY
    * distinct (e.g. the l28 pipeline feeds [[exact]]'s output) and
    * skips the whole canonicalization + group-expansion tier — two
    * whole-text aggregations, one checkpoint and three joins whose
    * work is the identity on distinct input. Results are identical on
    * genuinely distinct texts; on a corpus with duplicates the flag is
    * WRONG to pass (duplicate texts inflate shingle df toward the
    * dfCap cut and duplicate pairs go unreported). */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      dfCap: Int = 128,
      preDeduped: Boolean = false): DataFrame = {
    // exact-dedup canonicalization: one representative id per distinct
    // text; all shingle/candidate/scoring work below runs on reps only.
    // Grouping keys here are the raw texts — exact by construction; at
    // 100 TB the same two aggregations would key on a 128-bit content
    // hash instead (16-byte shuffle keys vs whole documents, collision
    // odds ~n²/2¹²⁹), which changes bytes moved, not the plan shape.
    val base = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
    val groups = base.groupBy(col("txt"))
      .agg(min(col("id")).as("rid"))
    // members is read by FOUR downstream joins (both sides of the
    // rep-pair expansion + both sides of the intra-group self-join),
    // each of which would re-run the whole-text grouping otherwise —
    // materialize the narrow (id, rid) table once per invocation
    lazy val members =
      base.join(groups, "txt").select(col("id"), col("rid")).localCheckpoint()
    val reps =
      if (preDeduped) base else groups.select(col("rid").as("id"), col("txt"))

    // materialize the (id, shingle-key) sets ONCE: four downstream
    // branches (df histogram, rare join, size agg, hot join) would each
    // re-run the scan → text-dedup → shingle-explode → distinct lineage
    // otherwise. localCheckpoint (per-invocation, block-manager-backed,
    // spills to disk) — NOT .cache(), whose plan-keyed entry would
    // survive the call and make a re-run read stale warm state instead
    // of doing its own work.
    // Shingles are keyed by 64-bit fingerprint, not the string
    // ([[shingleHash64]] — native codegen, no interpreted HOF lambdas,
    // no shingle strings): the self-join shuffles ~|sets| rows twice and
    // the distinct/df aggs key on it, so 8-byte keys vs ~20-char strings
    // roughly halve the bytes moved and make every compare primitive.
    // Two distinct shingles colliding would overcount one intersection —
    // odds ~|shingles|²/2⁶⁴ (≈6e-8 at 10⁶ distinct shingles), the
    // standard fingerprint trade every shingle pipeline makes; the
    // DuckDB oracle hash-match (real string sets) would surface a
    // collision at fixture scale (none exists).
    // repartition first: reps often arrives as ONE AQE-coalesced (or
    // checkpointed) partition, and without the spread the explode+hash
    // map side of the distinct runs single-threaded.
    val sets = reps
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"),
        explode(shingleHash64(col("txt"), shingleN)).as("s"))
      .distinct()
      .localCheckpoint()
    val dfs = sets.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // rare shingles only through the self-join — the df histogram is one
    // extra agg on data already shuffled by shingle, and it bounds the
    // worst join bucket at dfCap²
    val rare = sets.join(dfs.filter(col("df") <= dfCap).select(col("s")), "s")
    // candidate generation AND the rare-shingle intersection count are the
    // SAME join+agg: count shared rare shingles per (id_a, id_b) directly.
    // No pair-distinct, no per-pair array ops, no candidate re-fanout —
    // whole-stage codegen end to end. (Round-2's collect_set +
    // array_intersect rescore did interpreted O(|sh_a|·|sh_b|) work per
    // pair and measured 10× slower at sf0.1's 1.1M candidate pairs.)
    // set sizes ride along the self-join rows (2 extra longs) instead of
    // two more 1M-pair joins afterwards; n is constant per doc, so max()
    // in the pair agg just reads it back
    val sizes = sets.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val rareN = rare.join(sizes, "id")
    val nc = rareN.as("x").join(rareN.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("nc"), max(col("x.n")).as("na"), max(col("y.n")).as("nb"))
    // exactness correction: candidates may ALSO share df>cap shingles,
    // which the capped join didn't count. Join those back per candidate
    // pair — the hot set is empty whenever max df <= dfCap (the fixture
    // regime), and tiny otherwise (stopword-grams), so this costs
    // |candidates|·|hot shingles per doc|, never df² on a hot bucket.
    val hot = sets.join(dfs.filter(col("df") > dfCap).select(col("s")), "s")
    val nh = nc.select(col("id_a"), col("id_b"))
      .join(hot.select(col("id").as("id_a"), col("s")), "id_a")
      .join(hot.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("nh"))
    val repPairs = nc
      .join(nh, Seq("id_a", "id_b"), "left")
      .withColumn("ni", col("nc") + coalesce(col("nh"), lit(0L)))
      .withColumn("jaccard", col("ni") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

    if (preDeduped) return repPairs

    // expand back through group membership: a rep-pair score holds for
    // every member cross-pair (identical texts ⇒ identical sets), and
    // each dup group contributes its internal pairs at exactly 1.0. On a
    // duplicate-free corpus both joins are the identity / empty.
    val cross = repPairs
      .join(members.select(col("rid").as("id_a"), col("id").as("ia")), "id_a")
      .join(members.select(col("rid").as("id_b"), col("id").as("ib")), "id_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    if (threshold <= 1.0) {
      val intra = members.as("m1")
        .join(members.as("m2"),
          col("m1.rid") === col("m2.rid") && col("m1.id") < col("m2.id"))
        .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
          lit(1.0).as("jaccard"))
      cross.unionAll(intra)
    } else cross
  }

  /** Benchmark decontamination — drop corpus documents sharing any word
    * n-gram with a held-out benchmark set (the standard training-data
    * hygiene pass: a doc containing an eval set's n-gram leaks the
    * benchmark into training).
    *
    * Shape at scale: both sides shingle row-locally into 64-bit keys,
    * the overlap test is ONE equi-join on shingle key (benchmark side is
    * the small one — Catalyst broadcasts it when it fits, hash-shuffles
    * otherwise), and the final filter is a left_anti join on doc id.
    * Nothing is pairwise in document space; cost is O(shingles), same
    * family as [[ngramJaccard]]'s candidate stage. Shingles are
    * fingerprint-keyed ([[shingleHash64]], 8-byte join keys, ~n²/2⁶⁴
    * collision odds — a
    * collision could only OVER-drop, never leak a benchmark n-gram). */
  /** Benchmark-side contamination AUDIT — the report the corpus-side
    * drop passes (l17/l38/l40) don't produce: for every BENCHMARK
    * document, how exposed is it in the corpus? Per bench doc:
    * `n_shingles` (its distinct n-grams), `n_hit_shingles` (how many
    * appear in some corpus doc), `n_corpus_docs` (distinct corpus docs
    * sharing at least one), `hit_frac`. This is the artifact an eval
    * owner reads to decide whether a benchmark is burned — the reverse
    * direction of decontamination, which decides which corpus docs to
    * drop.
    *
    * Scale shape: the bench shingle set is tiny, so the join
    * broadcasts it; the corpus pass is row-local shingling
    * ([[shingleHash64]]) and only MATCHED (bench-shingle, corpus-doc)
    * rows ever shuffle into the per-bench-doc distinct counts — the
    * corpus itself never reshuffles (the broadcast join needs no
    * co-partitioning, so there is deliberately NO corpus repartition
    * here; scan parallelism comes from the source's file splits).
    * Zero-hit and null-text bench docs survive with zero counts (left
    * join from the bench base). */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 8): DataFrame = {
    val base = bench.select(col(idCol),
      coalesce(size(array_distinct(shingleHash64(col(textCol), shingleN))), lit(0))
        .cast("long").as("n_shingles"))
    val bsh = bench.select(col(idCol),
      explode(array_distinct(shingleHash64(col(textCol), shingleN))).as("s"))
    val csh = corpus
      .select(col(idCol).as("__cid"),
        explode(array_distinct(shingleHash64(col(textCol), shingleN))).as("s"))
    val hits = csh.join(broadcast(bsh), "s")
      .groupBy(col(idCol))
      .agg(countDistinct(col("s")).as("n_hit_shingles"),
        countDistinct(col("__cid")).as("n_corpus_docs"))
    base.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(
            coalesce(col("n_hit_shingles"), lit(0L)).cast("double") / col("n_shingles"),
            6)).as("hit_frac"))
  }

  def decontaminate(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 8): DataFrame = {
    val n = docs.sparkSession.sparkContext.defaultParallelism
    // per-doc distinct is ROW-LOCAL (each doc is one row, so
    // array_distinct ≡ the old shuffle-distinct over (id, s) pairs) —
    // that drops a full shuffle of the exploded pair set; the
    // repartition stays for scan parallelism (single-file fixture
    // parquet = 1 task otherwise)
    val pairs = docs
      .repartition(n, col(idCol))
      .select(col(idCol).as("id"),
        explode(array_distinct(shingleHash64(col(textCol), shingleN))).as("s"))
    // bench side only ever needs the distinct shingle-KEY set — a
    // doc-id-keyed pair shuffle there would be two wasted rounds
    val benchKeys = bench
      .select(explode(array_distinct(shingleHash64(col(textCol), shingleN))).as("s"))
      .distinct()
    val contaminated = pairs.join(benchKeys, "s")
      .select(col("id").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-filter decontamination — the broadcast-filter form of
    * [[decontaminate]] for the regime the 100 TB mandate actually
    * presents: the corpus is enormous and the benchmark suite is not.
    * The bench shingle set compresses into one [[graft.functions
    * .Bloom64]] (built distributed — per-partition filters bit-OR
    * reduced, deterministic under any tree) that ships once per
    * executor, and the corpus pass becomes ROW-LOCAL — one tight
    * any-shingle-hits probe per document, ZERO corpus-side shuffle. The
    * exact join form shuffles every distinct (doc, shingle) pair twice
    * (equi-join + anti-join); this one shuffles nothing, which is the
    * difference between a pass over 100 TB and a re-sort of it.
    *
    * NOT `spark-sketch`'s BloomFilter, deliberately: its 32-bit-hash
    * probe stream has a measured ~1e-4 false-positive FLOOR (it
    * over-dropped 4 of 490 clean fixture docs at a requested 1e-6),
    * which at ~10³ probes per document would over-drop ~10% of a clean
    * corpus — see [[graft.functions.Bloom64]] for the measurement and
    * the 64-bit construction that restores the textbook rate.
    *
    * Error semantics, one-sided in the SAFE direction: no false
    * negatives, so every truly contaminated document is ALWAYS dropped
    * (the decontamination guarantee survives); false positives drop
    * extra clean documents with P ≈ 1 − (1 − fpp)^shingles(doc) —
    * over-deletion, never leakage. DedupSpec pins survivors(bloom) ⊆
    * survivors(exact) and zero over-drop at the declared fpp on the
    * fixture; PropertySpec measures the filter's realized rate.
    *
    * Filter sizing is n·ln(1/fpp)/ln²2 bits — ~3.4 MB per 10⁶ bench
    * shingles at the 1e-6 default, broadcast-friendly for any real
    * contamination suite. If the distinct bench-shingle count would
    * size the filter past `maxFilterBytes` (default 256 MB — past
    * executor-broadcast comfort), the operator FALLS BACK to
    * [[decontaminate]]'s exact join form automatically: same guard
    * philosophy as the auto-engaged bucket/cell caps — a guard the
    * caller must remember to flip is a guard that's off. The fallback
    * is semantics-safe in the conservative direction (the join form is
    * exact, so survivors only GROW to the no-false-positive set). */
  def decontaminateBloom(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 8,
      fpp: Double = 1e-6,
      maxFilterBytes: Long = 256L << 20): DataFrame = {
    val spark = docs.sparkSession
    val benchKeys = bench
      .select(explode(shingleHash64(col(textCol), shingleN)).as("s"))
      .distinct()
    val nKeys = math.max(1L, benchKeys.count())
    // textbook bits for the sizing decision (the filter itself rounds
    // up to pow2, ≤ 2×; the threshold check uses the rounded size so
    // the decision matches the bytes that would actually broadcast)
    val m = math.ceil(-nKeys.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
    val m2 = java.lang.Long.highestOneBit(math.max(64L, m) - 1) << 1
    if (m2 / 8 > maxFilterBytes)
      return decontaminate(docs, bench, idCol, textCol, shingleN)
    // distributed build: one pass over the bench keys, per-partition
    // filters reduced by bit-OR (commutative + idempotent ⇒ the same
    // bits under any tree). treeAggregate ships one empty filter per
    // task — fine at contamination-suite sizes (MBs); a bench set too
    // big for that is too big for the broadcast anyway (see scaladoc)
    import org.apache.spark.sql.Row
    val bf = benchKeys.rdd.treeAggregate(
      graft.functions.Bloom64.create(nKeys, fpp))(
      (b: graft.functions.Bloom64, r: Row) => { b.put(r.getLong(0)); b },
      (a: graft.functions.Bloom64, b: graft.functions.Bloom64) => a.union(b))
    val bfBc = spark.sparkContext.broadcast(bf)
    // native codegen probe (graft.functions.BloomAnyContainExpr): the
    // boxed-Seq UDF form measured 2× slower than the JOIN at 10⁶ docs —
    // the scan was allocation-bound, not probe-bound. Null text ⇒ null
    // shingles ⇒ null hit, coalesced to "no hit" so null-text docs
    // survive exactly as they do through the join form's anti-join.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hit = ColumnBridge.column(graft.functions.BloomAnyContainExpr(
      ColumnBridge.expression(shingleHash64(col(textCol), shingleN)),
      bfBc))
    docs.filter(!coalesce(hit, lit(false)))
  }

  /** Threshold ("fuzzy") decontamination — drop a corpus document when
    * AT LEAST `minFrac` of its distinct n-gram shingles appear in the
    * benchmark shingle set. [[decontaminate]] is the `minFrac -> 0+`
    * special case (any single shared shingle drops the doc); real
    * contamination policies (GPT-3 App. C, PaLM's 70%-of-8-grams rule)
    * use a fraction threshold so that a stray idiom shared with one
    * benchmark question doesn't delete an otherwise-clean document.
    *
    * Scale shape: per-doc distinct shingles come from row-local
    * `array_distinct` (one row per doc — no shuffle-distinct over the
    * exploded pair set), then ONE left join against the distinct bench
    * keys (bench side is aggregation output, so AQE broadcasts it at
    * contamination-suite sizes) and ONE map-side-combining `groupBy(id)`
    * carrying two counts. The threshold compares `hits >= tot*minFrac`
    * in exact integer×double arithmetic on the aggregated counts.
    *
    * Null text yields no shingle rows, so null-text docs survive —
    * same convention as [[decontaminate]]. */
  def decontaminateFuzzy(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 8,
      minFrac: Double = 0.5): DataFrame = {
    require(minFrac > 0, s"minFrac must be positive, got $minFrac")
    val n = docs.sparkSession.sparkContext.defaultParallelism
    // repartition BEFORE the explode: the fixture tables are single
    // parquet files (scan = 1 task under default maxPartitionBytes),
    // and without this the whole explode+join+count pipeline runs on
    // one core — measured 67 s vs 9.7 s for the repartitioned l17 form
    // at 10⁶ docs (ScaleBench fuzzy_join, BENCH_LOCAL round-10)
    val pairs = docs
      .repartition(n, col(idCol))
      .select(col(idCol).as("id"),
        explode(array_distinct(shingleHash64(col(textCol), shingleN))).as("s"))
    val benchKeys = bench
      .select(explode(shingleHash64(col(textCol), shingleN)).as("s"))
      .distinct()
    val contaminated = pairs
      .join(benchKeys.withColumn("hit", lit(1)), Seq("s"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("tot"), count(col("hit")).as("hits"))
      .where(col("hits") >= col("tot") * minFrac)
      .select(col("id").as(idCol))
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Broadcast-Bloom form of [[decontaminateFuzzy]] — the zero-shuffle
    * corpus pass for the 100 TB regime, with the hit COUNT taken by the
    * native [[graft.functions.BloomCountContainExpr]] probe over each
    * document's row-local distinct shingle array. Error stays one-sided
    * in the safe direction: filter false positives can only INFLATE the
    * per-doc hit count, so survivors(bloomFuzzy) ⊆ survivors(fuzzy) at
    * the same threshold and no contaminated document ever leaks
    * (DedupSpec pins the subset law and zero over-drop at the declared
    * fpp). Same automatic size-guard as [[decontaminateBloom]]: past
    * `maxFilterBytes` the operator falls back to the exact join form. */
  def decontaminateBloomFuzzy(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 8,
      minFrac: Double = 0.5,
      fpp: Double = 1e-6,
      maxFilterBytes: Long = 256L << 20): DataFrame = {
    require(minFrac > 0, s"minFrac must be positive, got $minFrac")
    val spark = docs.sparkSession
    val benchKeys = bench
      .select(explode(shingleHash64(col(textCol), shingleN)).as("s"))
      .distinct()
    val nKeys = math.max(1L, benchKeys.count())
    val m = math.ceil(-nKeys.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
    val m2 = java.lang.Long.highestOneBit(math.max(64L, m) - 1) << 1
    if (m2 / 8 > maxFilterBytes)
      return decontaminateFuzzy(docs, bench, idCol, textCol, shingleN, minFrac)
    import org.apache.spark.sql.Row
    val bf = benchKeys.rdd.treeAggregate(
      graft.functions.Bloom64.create(nKeys, fpp))(
      (b: graft.functions.Bloom64, r: Row) => { b.put(r.getLong(0)); b },
      (a: graft.functions.Bloom64, b: graft.functions.Bloom64) => a.union(b))
    val bfBc = spark.sparkContext.broadcast(bf)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sh = array_distinct(shingleHash64(col(textCol), shingleN))
    // threshold decided INSIDE the probe (BloomFracContainExpr): the
    // full-count probe + external size comparison measured ~2× the
    // any-hit probe's corpus pass at 10⁶ docs; the fused form's
    // two-sided early exit restores most of that (Bloom64.fracContain)
    val hit = ColumnBridge.column(graft.functions.BloomFracContainExpr(
      ColumnBridge.expression(sh), bfBc, minFrac))
    // null text ⇒ null shingles ⇒ null predicate; coalesce keeps those
    // docs, matching the join form (no shingles ⇒ never contaminated)
    docs.filter(!coalesce(hit, lit(false)))
  }

  /** Window-level exact substring dedup with document RECONSTRUCTION —
    * the distributed form of the ExactSubstr pass from Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" (ACL
    * 2022): any k-token window that occurs more than once across the
    * corpus keeps only its FIRST global occurrence (smallest
    * `(id, pos)`), and every other occurrence has its covered token
    * range excised from its document; documents are rebuilt from the
    * surviving tokens in order, and documents whose every token is
    * excised drop entirely. Unlike document/paragraph dedup this
    * removes duplicated SPANS — boilerplate sentences, quoted blocks,
    * licence headers — embedded inside otherwise-unique documents.
    *
    * Precise semantics: token `t` of doc `d` is removed iff some window
    * occurrence `(d, pos)` with `pos <= t < pos + k` is a NON-FIRST
    * occurrence of its window fingerprint (global order by
    * `(id, pos)`). The first-occurrence document keeps its copy intact;
    * within-doc repeats dedup the same way (the second occurrence in
    * the same doc is non-first). Docs shorter than k tokens form one
    * partial window covering the whole doc ([[shingleHash64]]
    * `keepPartial` convention), so for them the pass degenerates to
    * exact doc-dedup — consistent at the boundary.
    *
    * Scale shape, all hash shuffles, no windows: window fingerprints
    * are native [[shingleHash64]] over the fused STRING path (one
    * codegen pass, no regex split, no token array, no shingle
    * strings); `min(struct(id, pos))` per fingerprint is a partially-
    * aggregating groupBy (map-side combine ⇒ the shuffle carries one
    * row per distinct window per partition, so a 1000×-duplicated
    * boilerplate sentence arrives pre-combined, not as a hot key);
    * non-first occurrences re-join the per-fingerprint minimum on the
    * same key (AQE reuses the partitioning) and collapse to ONE sorted
    * array of bad window STARTS per document. Excision + rebuild are
    * then ROW-LOCAL in the native [[graft.functions.ExciseTokensExpr]]
    * (two-pointer sweep over the sorted starts, O(bytes+|starts|) per
    * row): the operator never explodes covered positions, never
    * anti-joins per token, never `collect_list`s the corpus tokens —
    * the first shape paid three corpus-scale shuffles for exactly
    * that and measured 50.5 s at 10⁶ docs / 200× duplication; this
    * one ships an int per bad occurrence and rebuilds in the scan.
    * Work tracks corpus tokens + |duplicated occurrences|, never
    * O(n²).
    *
    * Deterministic string math end to end (FNV window fingerprints are
    * only ever compared for equality; the oracle groups on the window
    * STRING itself), so the whole operator — including reconstruction —
    * is DuckDB-hash-oracled. */
  def windowDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    val n = docs.sparkSession.sparkContext.defaultParallelism
    val base = docs
      .repartition(n, col(idCol))
      .select(col(idCol), col(textCol))
    // materialized once: wins feeds BOTH the per-fingerprint minimum
    // and the non-first-occurrence join — unchecked, each reference
    // re-scans and re-fingerprints the whole corpus (the plan audit
    // showed 3 corpus scans; at 100 TB two of them are redundant reads)
    val wins = base.select(col(idCol),
        posexplode(shingleHash64(col(textCol), k)).as(Seq("pos", "w")))
      .localCheckpoint()
    // only DUPLICATED windows can produce bad starts, so the per-window
    // minimum table is filtered to count > 1 BEFORE the join: occurrences
    // of unique windows (the overwhelming mass of a real corpus) then
    // never enter the join at all — and when the duplicated-window table
    // fits the broadcast budget (it usually does: distinct duplicated
    // windows, not occurrences), AQE flips the join to broadcast-hash
    // and the 43M-row occurrence stream never crosses the wire. The
    // unfiltered form shuffled BOTH full sides just to discard every
    // unique-window row one operator later.
    val first = wins.groupBy(col("w"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"),
        count(lit(1)).as("__c"))
      .where(col("__c") > 1).drop("__c")
    val badStarts = wins.join(first, "w")
      .where(struct(col(idCol), col("pos")) =!= col("f"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rebuilt = ColumnBridge.column(graft.functions.ExciseTokensExpr(
      ColumnBridge.expression(col(textCol)),
      ColumnBridge.expression(coalesce(col("starts"), lit(Array.empty[Int]))),
      k))
    base.join(badStarts, Seq(idCol), "left")
      .select(col(idCol), rebuilt.as("text_dedup"))
      // null = every token excised (or null text): the doc drops, the
      // same semantics the join-form rebuild had implicitly
      .where(col("text_dedup").isNotNull)
  }

  /** Paragraph-level exact dedup with document RECONSTRUCTION — the
    * CCNet/RefinedWeb-style pass that removes boilerplate mass exact
    * doc-dedup can't see: a paragraph repeated across thousands of
    * pages (headers, footers, license blocks) keeps exactly its first
    * global occurrence (smallest `(id, pos)`), and every document is
    * rebuilt from its surviving paragraphs in original order. Documents
    * whose every paragraph is owned elsewhere drop entirely.
    *
    * Scale shape: two hash shuffles, no windows, no driver state —
    * posexplode on the separator, `min(struct(id, pos))` per distinct
    * paragraph (a partially-aggregating `groupBy`, NOT a `row_number`
    * window: the partial min combines map-side, so the shuffle carries
    * one row per distinct paragraph per partition rather than every
    * occurrence sorted), then a `groupBy(id)` rebuild via
    * `array_sort(collect_list(struct(pos, para)))`. Both shuffles key
    * on high-cardinality columns (paragraph text, doc id) — no skew
    * beyond a genuinely mega-duplicated paragraph, and that one
    * arrives pre-combined.
    *
    * `sep` is a LITERAL separator (regex-quoted before Spark's
    * `split`), matching non-overlapping left-to-right with limit=-1
    * (trailing/consecutive separators yield empty paragraphs, which
    * dedup like any other) — the same contract as DuckDB's
    * `string_split`, so the l39 oracle hash-matches end to end. Null
    * text yields no paragraphs (the doc drops, both engines). */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val n = docs.sparkSession.sparkContext.defaultParallelism
    val paras = docs
      .repartition(n, col(idCol))
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
    val keepers = paras
      .groupBy(col("para"))
      .agg(min(struct(col(idCol), col("pos"))).as("first"))
      .select(col("first")(idCol).as(idCol), col("first")("pos").as("pos"),
        col("para"))
    keepers
      .groupBy(col(idCol))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x("para"))).as("text_dedup"))
  }

  /** 64-bit SimHash of a token array ([[graft.functions.SimHash64Expr]]
    * — native codegen, no boxed Seq[String] per row). Row-local, no
    * state, no shuffle.
    *
    * Null semantics (DELIBERATE change from the pre-round-9 UDF): a
    * NULL token array yields a NULL hash, so null-text documents drop
    * out of simhash banding entirely — the old UDF mapped null to hash
    * 0L, which silently clustered every null-text doc into one
    * "near-duplicate" group, a wrong answer dressed as a convention.
    * Callers that want null-text docs deduplicated should exact-dedup
    * on a content hash first (the l27/l28 composition does). Token
    * hashing is FNV-1a over UTF-8 BYTES (the UDF hashed UTF-16 chars),
    * so bucket assignments and Hamming distances differ from the old
    * form for non-ASCII text; identical texts still collide under any
    * hash, which is the only property the band join relies on. */
  def simhash64(tokens: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.SimHash64Expr(
      ColumnBridge.expression(tokens)))
  }

  /** SimHash near-dup candidates: split the 64-bit hash into 4 16-bit
    * bands; pairs agreeing on any band (≤3 bit flips always survive by
    * pigeonhole) are candidates; exact Hamming distance filters. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val hashed = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(
        col(idCol).as("id"),
        simhash64(col(textCol)).as("sh"))
    val banded = hashed.select(
      col("id"), col("sh"),
      explode(expr(
        "transform(sequence(0, 3), i -> struct(i AS band, (shiftright(sh, i * 16) & 65535) AS bkey))"))
        .as("bk"))
      .select(col("id"), col("sh"), col("bk.band"), col("bk.bkey"))
    val a = banded.select(col("band"), col("bkey"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bkey"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Canonical edge count at or under which a components closure runs
    * as a driver-side union-find over already-materialized checkpoint
    * rows instead of distributed star contraction — a BOUNDED transfer
    * (≤ cap × 16 B ≈ 64 KB) that replaces 2-4 rounds of shuffled aggs
    * with one collect on any deployment, local or cluster. Shared by
    * [[connectedComponentsStars]] and [[incrementalComponents]] through
    * [[DriverBatch.rows]] (whose `withFloor` seam the branch-equality
    * specs force each side with). */
  private[graft] val DriverUnionFindMaxEdges = 4096

  /** Id types the driver union-find keys on (as Long). */
  private def integral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  /** Min-id union-find over a collected edge list (rows of two longs) —
    * the driver-side closure both sub-floor branches run: returns
    * (id, comp) for every edge endpoint, comp = smallest member id, the
    * star forest's center convention. Path-compressing find; union
    * roots keep the MINIMUM, so labels match [[connectedComponentsStars]]
    * exactly (DedupSpec pins the equality on shared inputs). */
  private def driverComponents(spark: SparkSession, edges: Array[Row]): DataFrame = {
    val es = edges.map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min-id root — the closure's label convention
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    import spark.implicits._
    es.flatMap(e => Seq(e._1, e._2)).distinct.toSeq.map(nd => (nd, find(nd))).toDF("id", "comp")
  }

  /** Connected components over undirected near-dup pairs — the step
    * that turns PAIR output (l2/l3/l4/l6) into dedup GROUPS: near-dup
    * is not transitive (a~b, b~c does not imply a~c), so keeping "one
    * of each pair" under- or over-deletes; the correct unit of
    * deduplication is the transitive component, with one survivor per
    * component (min id, by convention). Returns (id, comp) for every
    * pair endpoint, comp = smallest id in the component.
    *
    * PRODUCTION entry point: alternating large-star/small-star
    * contraction ([[connectedComponentsStars]]) — O(log n) rounds on
    * ANY graph shape, no diameter assumption. The min-label
    * propagation variant ([[connectedComponentsProp]]) remains as the
    * independent cross-check implementation (DedupSpec asserts exact
    * label agreement on random graphs). */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 15): DataFrame =
    connectedComponentsStars(pairs, aCol, bCol, maxIter)

  /** INCREMENTAL component maintenance — close (persisted labels from a
    * prior [[connectedComponents]] run) + (delta edges from an appended
    * batch) without re-deriving or re-closing the old pair graph: the
    * daily shape a 100 TB dedup-groups deployment runs, where the full
    * l55 closure re-pays the corpus-sized pair join per run even though
    * an append can only MERGE existing components, never split them.
    *
    * Contraction argument (why this equals the full closure): collapse
    * every old component to its representative (the min-id label —
    * labels are exactly that map). An appended batch adds edges only
    * incident to new docs (old×old pairs were all present before), so
    * components of the union graph = components of the CONTRACTED delta
    * graph, expanded back through the label map; and since each old
    * rep IS its component's minimum, the min-id label of a contracted
    * component equals the min id over the merged components' full
    * membership. So:
    *
    *   1. rewrite each delta endpoint to its current label (ids with no
    *      label — new docs, or old singletons that had no edges —
    *      represent themselves);
    *   2. run the [[connectedComponentsStars]] closure on that
    *      CONTRACTED edge list — touched-components + batch sized, not
    *      corpus sized;
    *   3. propagate: old labels ride ONE broadcast join against the
    *      (small) rep→newLabel map; contracted nodes that were never in
    *      `labels` (new docs / old singletons) emit their own rows.
    *
    * Cost: the closure runs on |delta| edges; the only corpus-scale
    * work is the single map-side (broadcast) relabel join over the
    * label table — no shuffle of old state, no old-pair re-derivation.
    * Spec-pinned against the full closure on random graph/batch splits
    * (DedupSpec) and gated at the value level by l59, which must
    * hash-match l26's full-corpus oracle. */
  def incrementalComponents(labels: DataFrame, deltaEdges: DataFrame): DataFrame = {
    // 1. contract: endpoint -> its current label; track which endpoints
    // had one, so step 3 can find the never-labeled nodes WITHOUT an
    // anti-join against the corpus-scale label table
    val la = labels.select(col("id").as("id_a"), col("comp").as("ca"))
    val lb = labels.select(col("id").as("id_b"), col("comp").as("cb"))
    // materialize the CONTRACTED edge table itself, not just its (u,v)
    // projection: `rawNodes` below reads the u_raw/v_raw flags, and an
    // unmaterialized `contracted` re-executed the ENTIRE delta-pair
    // producer a second time for them — for the l59 shape that was the
    // probe×index join, its partition-discovery listing and its pruned
    // index scan, all run twice per maintenance cycle (round-15,
    // measured: 2 listing jobs + 2 scan jobs per run collapsed to 1+1).
    val contracted = deltaEdges
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
      .select(
        coalesce(col("ca"), col("id_a")).as("u"),
        col("ca").isNull.as("u_raw"),
        coalesce(col("cb"), col("id_b")).as("v"),
        col("cb").isNull.as("v_raw"))
      .localCheckpoint()
    val edges = contracted.select(col("u"), col("v")).filter(col("u") =!= col("v"))
    // 2. close the contracted graph (touched comps + batch nodes only).
    // Sub-floor skip, the engageCap discipline: a daily append's
    // contracted graph is usually a few hundred edges, and the
    // distributed star-contraction's fixed round overhead (~3 s of an
    // 8 s run at 10⁶ corpus / 58 delta edges, BENCH_LOCAL round-12)
    // dwarfs the work — at or under [[DriverUnionFindMaxEdges]] edges a
    // driver-side union-find over the ALREADY-MATERIALIZED checkpoint
    // rows produces the min-id labels by the same definition (provably
    // identical output, not a heuristic; DedupSpec pins both branches
    // on one input). Count and fetch are ONE bounded job over the
    // checkpoint ([[DriverBatch.rows]], round-15 job fusion — the former
    // count()+collect() pair was two scans of the blocks).
    val relabel = DriverBatch.rows(edges, DriverUnionFindMaxEdges) match {
      case Some(es) => driverComponents(deltaEdges.sparkSession, es)
      case None => connectedComponents(edges, "u", "v")
    }
    // 3a. contracted nodes that never had a label emit their own rows
    val rawNodes = contracted.filter(col("u_raw")).select(col("u").as("id"))
      .unionAll(contracted.filter(col("v_raw")).select(col("v").as("id")))
      .distinct()
    val newPart = relabel.join(broadcast(rawNodes), Seq("id"), "left_semi")
      // a raw node untouched by the closure (only self-edges) keeps itself
      .unionByName(rawNodes.join(relabel, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp")))
    // 3b. old labels relabel through the (touched-comps-sized) rep map —
    // one broadcast join over the label table, untouched comps coalesce
    val repMap = relabel.select(col("id").as("comp"), col("comp").as("newcomp"))
    val oldPart = labels.join(broadcast(repMap), Seq("comp"), "left")
      .select(col("id"), coalesce(col("newcomp"), col("comp")).as("comp"))
    oldPart.unionByName(newPart)
  }

  /** Near-dup group collapse with QUALITY-AWARE keeper selection — the
    * RefinedWeb-style policy: instead of the min-id representative the
    * batch pipelines keep (l27/l28), each near-duplicate component
    * keeps its highest-QUALITY member (here: token count, ties to the
    * smaller id — any deterministic row-local score slots in the same
    * way). Emits one row per component: `(comp, keeper_id, n_members)`,
    * singletons included as their own component of one.
    *
    * Scale shape: the pair graph and closure are [[ngramJaccard]] +
    * [[connectedComponents]] as-is; the selection adds ONE left join of
    * the corpus against the (component-member-sized) label table and
    * ONE `min(struct(-q, id))` groupBy — a partially-aggregating
    * argmax, so the shuffle carries one candidate per partition per
    * component, not the membership. Deterministic integer math ⇒ the
    * whole operator extends l26's recursive-CTE oracle with a windowed
    * argmax and stays hash-checked. */
  def collapseKeepBest(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val pairs = ngramJaccard(docs, idCol, textCol)
    val comps = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    docs
      .select(col(idCol), size(split(col(textCol), " ")).as("q"))
      .join(comps, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
      .groupBy(col("comp"))
      .agg(min(struct((-col("q")).as("nq"), col(idCol).as("kid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("comp"), col("best")("kid").as("keeper_id"), col("n_members"))
  }

  /** Min-label propagation to fixpoint — the diameter-round reference
    * implementation of [[connectedComponents]]. Each round joins the
    * label table to the symmetrized edge list, takes the min neighbor
    * label per node (ONE narrow hash-agg shuffle per round — map-side
    * combining; label rows are two longs), and converges when no label
    * changed. Rounds needed = graph diameter — fine for dedup graphs
    * (cliques/dense clusters, diameter 1–3), quadratic-ish on chains,
    * which is why the star-contraction variant is the production
    * default; `maxIter` bounds the pathological case and the operator
    * THROWS if unconverged rather than returning a silently-wrong
    * partition.
    *
    * Driver-side per round: ONE boolean — the convergence test is a
    * change FLAG computed inside the label-update job itself (it rides
    * the checkpointed rows), probed with a limit-1 scan of the
    * materialized table. The former shape re-joined the new labels to
    * the old and counted — a whole extra join + agg job per round, which
    * at ~3 rounds was most of l26's fixed overhead. Each round's label
    * table is localCheckpoint'd (iterative lineage would otherwise
    * re-run every prior round per action and make round t cost O(t)
    * scans), and the PRIOR round's checkpoint blocks are unpersisted
    * once the new table is materialized — without that, block-manager
    * storage grows linearly with rounds.
    *
    * `maxIter` bounds the round count at graph-diameter semantics:
    * 15 covers any realistic dedup clique/cluster graph, but a
    * bench-scale corpus with long near-dup CHAINS (each doc a near-dup
    * of the next) has diameter O(chain length) — raise maxIter for such
    * shapes, or pre-collapse with exact dedup first (the l27/l28 flow)
    * so chains of identical docs never reach the propagation. */
  def connectedComponentsProp(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 15): DataFrame = {
    // materialize the PAIR INPUT once before symmetrizing: the union's
    // two branches are separate scans of `pairs`, and Spark does not
    // dedupe common subtrees inside a plan — with an expensive producer
    // (the banded near-dup join) the whole pair pipeline executed TWICE
    // (measured: dedup_groups at 10⁵ paid ~2× its near-dup stage before
    // the CC rounds even started)
    val p0 = pairs.select(col(aCol).as("u"), col(bCol).as("v")).localCheckpoint()
    val sym = p0.unionAll(p0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    var labels = sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), "v")
        .groupBy(col("u")).agg(min(col("vcomp")).as("nmin"))
        .select(col("u").as("id"), col("nmin"))
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          (coalesce(col("nmin"), col("comp")) < col("comp")).as("chg"))
        .localCheckpoint() // eager: one job materializes labels AND flags
      converged = next.filter(col("chg")).isEmpty
      graft.Checkpoints.free(labels)
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    require(converged,
      s"connectedComponentsProp did not converge in $maxIter rounds — the " +
        "pair graph has a longer diameter than a dedup workload should; " +
        "raise maxIter or switch to star-contraction for chain graphs")
    graft.Checkpoints.free(sym)
    graft.Checkpoints.free(p0)
    // the final labels checkpoint is what the returned frame reads: it
    // lives as long as that frame (graft.Checkpoints)
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction — the O(log n)-round algorithm for graphs whose
    * diameter min-label propagation cannot assume away (long near-dup
    * CHAINS, dense duplicate mass). Same contract as
    * [[connectedComponents]]: returns (id, comp) for every pair
    * endpoint, comp = smallest id in the component.
    *
    * The algorithm rewrites the EDGE LIST itself instead of propagating
    * labels over a fixed one:
    *
    *   - large-star (per node u over its full neighborhood N(u)):
    *     attach every neighbor v > u directly to m = min(N(u) ∪ {u}) —
    *     strictly-larger neighbors shortcut to the local minimum;
    *   - small-star (per node u over its smaller neighbors N⁻(u)):
    *     attach u and all of N⁻(u) to m = min(N⁻(u) ∪ {u}) — the
    *     smaller side collapses onto its minimum.
    *
    * Both steps preserve connectivity and never attach a node to
    * anything outside its component, and the alternation converges to a
    * forest of STARS centered at each component's minimum id in
    * O(log² n) rounds on any graph (O(log n) observed; 1–2 on dedup
    * clique/cluster graphs). Each round is hash-partitioned
    * groupBy/join/distinct over the current edge list — and the edge
    * list SHRINKS toward (nodes − components) rows as contraction
    * proceeds, where label propagation re-joins the full original edge
    * list every round. That shrinkage plus the round bound is the
    * web-scale story: a 100 TB near-dup graph with chain or mesh
    * structure closes in ~log rounds of ever-smaller shuffles, with no
    * diameter assumption.
    *
    * Convergence detection: a round ending with the SAME edge set it
    * started from is a fixpoint of the (deterministic) round function —
    * the run would reproduce that set forever — and the algorithm's
    * convergence theorem says the run converges to a star forest, so a
    * reached fixpoint IS one. Set equality = equal counts plus an empty
    * anti-join (both sides are distinct sets). The count is a cheap
    * probe of the just-checkpointed round output; the anti-join only
    * runs when counts match.
    *
    * Driver-side per round: two scalars (count + anti-join emptiness).
    * Round edge lists are localCheckpoint'd (iterative lineage would
    * re-run all prior rounds per action) and the previous round's
    * blocks freed once the new one is materialized, exactly like the
    * label-propagation loop. */
  def connectedComponentsStars(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 15): DataFrame = {
    val uv = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    // a local pair relation at or under the floor (a request-sized
    // batch) is its own edge list: it closes on the driver with no job
    // (no pair checkpoint, no edge checkpoint, no sample). Its self-pairs
    // enter the union-find too, so their nodes label themselves. Any
    // other input, or one with a null id, takes the path below.
    val idType = uv.select(col("u")).unionAll(uv.select(col("v").as("u"))).schema("u").dataType
    val localPairs =
      if (!integral(idType)) None
      else DriverBatch.localRows(uv.select(col("u").cast("long"), col("v").cast("long")),
        DriverUnionFindMaxEdges).filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    localPairs match {
      case Some(es) => return driverComponents(pairs.sparkSession, es)
        .select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("comp"))
      case None =>
    }
    // materialize the pair input once (see connectedComponents: the
    // symmetrizing union's branches would re-execute the producer)
    val p0 = uv.localCheckpoint()
    // the every-endpoint output contract survives contraction via this
    // node set, not via the edge list (contraction keeps every node,
    // but nodes from degenerate self-pairs (u == v) leave it). NOT
    // eagerly checkpointed (round-15): it is consumed exactly once — by
    // the final labels join — in either branch, and p0 it derives from
    // is already materialized, so an eager checkpoint here was one
    // whole extra pass over the node set (compute distinct + write
    // blocks + re-read) for zero reuse.
    val nodes = p0.select(col("u")).unionAll(p0.select(col("v").as("u")))
      .distinct().select(col("u").as("id"))
    // canonical directed edge list: u > v, self-loops dropped
    var edges = p0
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()
    // SUB-FLOOR SKIP (round-15, guide §1.2: fix the distributed
    // algorithm where the work no longer justifies it): the same
    // engageCap discipline [[incrementalComponents]] has carried since
    // round-12, now on the FULL closure — a bench-scale or sparse pair
    // graph at ≤ [[DriverUnionFindMaxEdges]] canonical edges pays 2-4
    // star-contraction rounds of fixed per-round overhead (≥6 jobs:
    // two shuffled aggs, two distincts, checkpoint, count, anti-join
    // probe — measured ~1.5-2 s of l26's 3.9 s at sf0.1) to close a
    // graph a driver union-find over the ALREADY-MATERIALIZED
    // checkpoint rows (≤ cap × 16 B collected) closes in microseconds
    // with provably identical min-id labels (DedupSpec pins branch
    // equality on one input; the union-find's min-root rule IS the
    // star forest's center convention). At 100 TB the pair graph is
    // orders past the cap and the distributed path runs unchanged —
    // the cap is a bounded-transfer floor, not a local-mode tune. An
    // empty edge list takes the driver branch too: every node labels
    // itself. Non-integral id types (never produced by the declared
    // operators) keep the distributed path — the driver map is keyed
    // on Long.
    val integralIds = integral(edges.schema("u").dataType) && integral(edges.schema("v").dataType)
    // branch decision and edge fetch fused into ONE bounded job
    // ([[DriverBatch.rows]], as in incrementalComponents)
    val small =
      if (integralIds) DriverBatch.rows(
        edges.select(col("u").cast("long"), col("v").cast("long")), DriverUnionFindMaxEdges)
      else None
    // the star forest as (member u, center v) rows
    val forest = small match {
      case Some(es) =>
        // the union-find labels, broadcast; a center's row maps it to itself
        broadcast(driverComponents(pairs.sparkSession, es).select(
          col("id").cast(edges.schema("u").dataType).as("u"),
          col("comp").cast(edges.schema("v").dataType).as("v")))
      case None =>
        var nEdges = edges.count()
        var iter = 0
        var converged = nEdges == 0L
        while (!converged && iter < maxIter) {
          // large-star over full neighborhoods (symmetrize to see both sides)
          val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
          val mins = sym.groupBy(col("u"))
            .agg(min(col("v")).as("mn"))
            .select(col("u"), least(col("mn"), col("u")).as("m"))
          val ls = sym.join(mins, "u")
            .filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .filter(col("u") =!= col("v"))
            .distinct()
          // small-star over the (already canonical u > v) large-star output
          val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("mn"))
          val ss = ls.join(mins2, "u")
            .select(explode(array(
              struct(col("v").as("a"), col("mn").as("b")),
              struct(col("u").as("a"), col("mn").as("b")))).as("e"))
            .select(greatest(col("e.a"), col("e.b")).as("u"),
              least(col("e.a"), col("e.b")).as("v"))
            .filter(col("u") =!= col("v"))
            .distinct()
            .localCheckpoint()
          val nNew = ss.count()
          converged = nNew == nEdges &&
            ss.join(edges, Seq("u", "v"), "left_anti").isEmpty
          graft.Checkpoints.free(edges)
          edges = ss
          nEdges = nNew
          iter += 1
        }
        require(converged,
          s"connectedComponentsStars did not converge in $maxIter rounds — " +
            "star contraction needs O(log n) alternations on any graph, so " +
            "exhausting a budget this size means the input is degenerate; " +
            "raise maxIter only after inspecting the pair graph")
        edges
    }
    // star forest ⇒ every edge is (member, center); centers and
    // singleton nodes label themselves
    val labels = nodes
      .join(forest.select(col("u").as("id"), col("v").as("c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("comp"))
      .localCheckpoint()
    graft.Checkpoints.free(edges)
    graft.Checkpoints.free(p0)
    labels
  }
}
