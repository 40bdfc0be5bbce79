package graft

import graft.operators.{Dedup, DriverBatch, LlmQueries}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private lazy val docs = Tables(spark, sf, "documents")

  /** exact jaccard ground truth (same formulation as l4, threshold 0.8). */
  private lazy val highJaccardPairs: Set[(Long, Long)] =
    Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("fixture has planted near-duplicates") {
    assert(highJaccardPairs.nonEmpty)
  }

  test("minhash LSH finds every high-jaccard pair (recall @ j>=0.8)") {
    val lsh = LlmQueries.l2MinhashLsh.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = highJaccardPairs -- lsh
    assert(missed.isEmpty, s"LSH missed: $missed")
  }

  test("minhash LSH pairs are genuinely similar (precision: exact j >= 0.2)") {
    val lsh = LlmQueries.l2MinhashLsh.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactAll = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val falsePos = lsh -- exactAll
    assert(falsePos.size <= lsh.size / 5, s"too many false positives: $falsePos")
  }

  test("simhash: identical text -> identical hash; near-dup pairs found") {
    import spark.implicits._
    val t = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w q r t"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(t, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // fixture near-dups overlap with simhash candidates
    val sh = LlmQueries.l3Simhash.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((highJaccardPairs & sh).nonEmpty)
  }

  test("simhash: null text drops out of banding; non-ASCII identical texts pair") {
    import spark.implicits._
    // null semantics (documented in simhash64's scaladoc): NULL text →
    // NULL hash → the doc never enters a band, instead of the old UDF's
    // hash-0 behavior that clustered every null-text doc together
    val t = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String]),
      (3L, "naïve café 東京 résumé Ωmega"),  // UTF-8 multi-byte path
      (4L, "naïve café 東京 résumé Ωmega"),
      (5L, "totally different words here entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(t, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 4L)),
      s"expected only the identical non-ASCII pair, got $pairs")
    val hashed = t.select(Dedup.simhash64(split($"text", " ")).as("sh"))
    assert(hashed.filter($"sh".isNull).count() == 2)
  }

  test("exact dedup collapses doubled corpus to one row per text") {
    val out = LlmQueries.l1ExactDedup.run(spark, sf)
    assert(out.count() == docs.count())
    assert(out.filter(col("n_copies") =!= 2).count() == 0)
  }

  test("dfCap law: capped == uncapped whenever every shingle's df <= cap") {
    // fixture regime: max document frequency of any shingle is far below
    // the default cap, so the frequency cut must be a no-op
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.5, dfCap = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.5,
      dfCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == uncapped)
    assert(capped.nonEmpty)
  }

  test("preDeduped fast path: identical pairs on a distinct-text corpus") {
    // the l28 composition feeds exact-dedup output into the pair stage;
    // preDeduped skips the internal canonicalization tier, which must
    // be the identity whenever texts are genuinely distinct
    val distinctDocs = Dedup.exact(docs, "text", "doc_id")
    def run(fast: Boolean) = Dedup
      .ngramJaccard(distinctDocs, "doc_id", "text", preDeduped = fast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fast = run(fast = true)
    val slow = run(fast = false)
    assert(fast == slow && fast.nonEmpty)
  }

  test("dfCap laws: capped pairs are a subset with identical exact scores") {
    import spark.implicits._
    // synthetic corpus: docs 1..10 are near-identical with a unique tail
    // token each, so their only SHARED shingles are hot (df=10 > cap);
    // docs 21/22 overlap only through rare shingles; docs 31..33 are
    // byte-identical (the exact-dedup canonicalization must find them
    // no matter what the frequency cut drops)
    val hot = (1L to 10L).map(i => (i, s"x y z x y z x y z w$i"))
    val rare = Seq((21L, "a b c d e f"), (22L, "a b c d e g"))
    val dup = (31L to 33L).map(i => (i, "p q r s t u"))
    val t = (hot ++ rare ++ dup).toDF("doc_id", "text")
    def pairs(cap: Int) =
      Dedup.ngramJaccard(t, "doc_id", "text", threshold = 0.5, dfCap = cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = pairs(8)
    val uncapped = pairs(Int.MaxValue)
    // subset law: the cut can only LOSE pairs, never invent them
    assert(capped.keySet.subsetOf(uncapped.keySet))
    // score-equality law: a detected pair's jaccard counts ALL shared
    // shingles (hot correction join), identical to the uncapped run's
    capped.foreach { case (k, j) => assert(uncapped(k) == j, s"$k: $j vs ${uncapped(k)}") }
    // the rare-overlap pair survives the cut (its shingles have df=2)
    assert(capped.contains((21L, 22L)))
    // the one-sided recall loss is real: the near-identical docs share
    // only hot shingles, so all 45 of those pairs are dropped by the cut
    assert(uncapped.count { case ((a, _), _) => a <= 10L } == 45)
    assert(capped.count { case ((a, _), _) => a <= 10L } == 0)
    // ...but EXACT duplicates are immune to it: canonicalization pairs
    // them at exactly 1.0 in both runs
    for (p <- Seq((31L, 32L), (31L, 33L), (32L, 33L))) {
      assert(capped(p) == 1.0 && uncapped(p) == 1.0, s"$p")
    }
  }

  test("winnowing: shared-substring guarantee, locality, determinism") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val core = "the quick brown fox jumps over the lazy dog near the river bank"
    val t = Seq(
      (1L, s"AAAA bbbb cccc $core dddd eeee"),   // core embedded mid-doc
      (2L, s"zz $core yy qq rr ss tt uu vv ww"), // same core, different position
      (3L, "completely different text with no overlap at all here")
    ).toDF("doc_id", "text")
    val fps = t.select($"doc_id", TextAnalysis.winnow()($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // SWA guarantee: a shared substring of length >= w+k-1 (here |core|=63
    // >> 8) forces at least one shared selected hash, wherever it sits
    assert((fps(1L) & fps(2L)).nonEmpty)
    // discrimination: the unrelated doc shares (at most incidental
    // k-gram noise) far less than the core-sharing pair does
    assert((fps(1L) & fps(3L)).size < (fps(1L) & fps(2L)).size)
    assert((fps(2L) & fps(3L)).size < (fps(1L) & fps(2L)).size)
    // density: selected fingerprints are a small fraction of all k-grams
    assert(fps(1L).size < t.filter($"doc_id" === 1L).head.getString(1).length / 2)
    // determinism on the fixture query
    val a = LlmQueries.l16Winnow.run(spark, sf).collect()
    val b = LlmQueries.l16Winnow.run(spark, sf).collect()
    assert(a.sameElements(b))
  }

  test("fingerprint: deterministic, distinct texts -> distinct fps here") {
    val fp1 = LlmQueries.l9Fingerprint.run(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val fp2 = LlmQueries.l9Fingerprint.run(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fp1.sameElements(fp2))
    assert(fp1.map(_._2).distinct.length == fp1.length) // 500 distinct texts
  }

  test("decontaminate: drops exactly the docs sharing an n-gram with the bench set") {
    import spark.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    def text(seed: Int, n: Int): String = {
      val rng = new scala.util.Random(seed)
      Array.fill(n)(words(rng.nextInt(words.length))).mkString(" ")
    }
    val benchText = text(1, 30)
    // doc 10 embeds an 8-gram of the benchmark verbatim; 11/12 are
    // independent (an accidental 8-gram match over a 10-word alphabet is
    // ~10^-8 per position); 13 shares only a 7-gram — must survive
    val gram8 = benchText.split(" ").slice(5, 13)
    val docs = Seq(
      (10L, text(2, 10) + " " + gram8.mkString(" ") + " " + text(3, 10)),
      (11L, text(4, 40)),
      (12L, text(5, 40)),
      (13L, text(6, 15) + " " + gram8.take(7).mkString(" ") + " " + text(7, 15))
    ).toDF("doc_id", "text")
    val bench = Seq((1000L, benchText)).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(docs, bench, "doc_id", "text", shingleN = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L, 13L), s"kept $kept")
    // empty benchmark drops nothing
    val all = Dedup.decontaminate(docs, bench.limit(0), "doc_id", "text", shingleN = 8)
      .count()
    assert(all == 4)
  }

  test("connected components: chains close transitively, min-id labels, convergence guard") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3: the non-transitivity near-dup case),
    // separate pair 10-11, triangle 20-21-22 with redundant edges —
    // checked through BOTH implementations (production star contraction
    // and the propagation reference)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    val comp = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == want)
    val compProp = graft.operators.Dedup.connectedComponentsProp(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compProp == want)
    // the convergence guards fire instead of returning a silently-wrong
    // partition: propagation needs diameter rounds (11 > 2 here), star
    // contraction needs ~log rounds (a 500-chain is no star forest
    // after one alternation)
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.connectedComponentsProp(chain, "id_a", "id_b", maxIter = 2)
    }
    val longChain = (1L to 500L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    // force the DISTRIBUTED branch (499 edges would take the sub-floor
    // driver union-find, which has no round budget to exhaust)
    DriverBatch.withFloor(0)(intercept[IllegalArgumentException] {
      graft.operators.Dedup.connectedComponents(longChain, "id_a", "id_b", maxIter = 1)
    })
    // ...and the same chain converges with the default budget
    val full = graft.operators.Dedup.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.values.toSet == Set(1L) && full.size == 12)
  }

  test("star-contraction CC: same labels as propagation on chains/cliques/random graphs") {
    import spark.implicits._
    import graft.operators.Dedup
    // the hand-checked shapes from the propagation spec
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsStars(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // the regime split that motivates the algorithm: a 500-node chain
    // has diameter 499 — propagation would need 499 rounds, star
    // contraction closes it inside the default 15-round budget
    val chain = (1L to 500L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val chainComp = Dedup.connectedComponentsStars(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainComp.values.toSet == Set(1L) && chainComp.size == 500)
    // seeded random graph: star contraction must agree with label
    // propagation exactly (same node set, same component labels)
    val rnd = new scala.util.Random(42)
    val rndPairs = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .toDF("id_a", "id_b")
    val byStars = Dedup.connectedComponentsStars(rndPairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byProp = Dedup.connectedComponentsProp(rndPairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byStars == byProp)
    // degenerate self-pair keeps its endpoint in the output
    val selfy = Seq((7L, 7L), (1L, 2L)).toDF("id_a", "id_b")
    val selfComp = Dedup.connectedComponentsStars(selfy, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfComp == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("star-contraction CC: sub-floor driver union-find ≡ distributed branch on shared inputs") {
    import spark.implicits._
    import graft.operators.Dedup
    // every shape above runs the ≤4096-edge driver branch by default
    // (round-15 sub-floor skip); this spec pins the branch-equality law
    // the skip rests on — the SAME input closed by both branches, the
    // DriverBatch floor seam forcing each side (the BroadcastProbeCap
    // discipline)
    // `n` distinct canonical (u > v) edges over 3 000 ids, half of them
    // given in the other order
    def canonical(n: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(11)
      Iterator.continually((rnd.nextInt(3000).toLong, rnd.nextInt(3000).toLong))
        .collect { case (a, b) if a != b => (a max b, a min b) }
        .distinct.take(n).toSeq.zipWithIndex
        .map { case ((a, b), i) => if (i % 2 == 0) (a, b) else (b, a) }
    }
    // an empty canonical edge list: self-pairs only
    val selfOnly = Seq((7L, 7L), (8L, 8L), (7L, 7L))
    val shapes = Seq(
      // chain + clique + singleton-ish mixture
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
        (20L, 21L), (21L, 22L), (20L, 22L), (30L, 30L)),
      // seeded random graph (duplicate edges, self-loops, both orders)
      Seq.fill(400)((scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).nextInt(120).toLong, 0L)).zipWithIndex.map {
        case ((a, _), i) =>
          val rnd = new scala.util.Random(i)
          (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)
      },
      // the floor and one edge over it: the default takes the driver
      // branch on the first and the distributed one on the second
      canonical(Dedup.DriverUnionFindMaxEdges),
      canonical(Dedup.DriverUnionFindMaxEdges + 1),
      selfOnly)
    def close(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.connectedComponentsStars(df, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (edges <- shapes) {
      val df = edges.toDF("id_a", "id_b")
      val byDefault = close(df)
      val byDriver = DriverBatch.withFloor(Dedup.DriverUnionFindMaxEdges + 1)(close(df))
      val byStars = DriverBatch.withFloor(0)(close(df))
      assert(byDriver == byStars,
        "driver union-find labels must equal the distributed closure's")
      assert(byDefault == byStars)
    }
    assert(close(selfOnly.toDF("id_a", "id_b")) == Map(7L -> 7L, 8L -> 8L))
    // a local pair relation under the floor closes on the driver: no
    // pair checkpoint, no edge checkpoint, no sample (5 jobs when it
    // checkpointed first, 7 when it took the distributed branch); the
    // one job allowed is the labels' collect
    val jobs = jobsLaunched(close(selfOnly.toDF("id_a", "id_b")))
    assert(jobs <= 1, s"the empty-edge closure ran $jobs jobs")
  }

  test("incremental CC: labels + delta edges ≡ full closure, on random splits") {
    import spark.implicits._
    import graft.operators.Dedup
    // seeded random graph over ids 0..199, split by node parity into an
    // OLD graph (both endpoints old) and the DELTA (edges touching a
    // new node) — exactly an append's edge split: old×old pairs existed
    // before, every delta edge touches a new doc
    for (seed <- Seq(7, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val all = Seq.fill(250)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      def isNew(x: Long) = x % 3 == 0
      val oldPairs = all.filter { case (a, b) => !isNew(a) && !isNew(b) }
      val delta = all.filter { case (a, b) => isNew(a) || isNew(b) }
      assert(oldPairs.nonEmpty && delta.nonEmpty)
      val labels = Dedup.connectedComponents(
        oldPairs.toDF("id_a", "id_b"), "id_a", "id_b").localCheckpoint()
      val incr = Dedup.incrementalComponents(labels, delta.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Dedup.connectedComponents(
        all.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(incr == full, s"seed $seed: incremental diverged from full closure")
    }
    // both closure branches pinned on the SAME construction: the 250-edge
    // graphs above run the sub-floor driver-side union-find (≤4096
    // contracted edges); this >4096-edge delta forces the distributed
    // star-contraction branch, and the output law is identical
    val rnd = new scala.util.Random(5)
    val big = Seq.fill(5000)((rnd.nextInt(3000).toLong, rnd.nextInt(3000).toLong))
    val noLabels = Seq.empty[(Long, Long)].toDF("id", "comp")
    val incrBig = Dedup.incrementalComponents(noLabels, big.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullBig = Dedup.connectedComponents(
      big.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incrBig == fullBig, "distributed branch diverged from full closure")
    // merge case pinned by hand: a new node bridges two old components,
    // and the merged label is the min over BOTH memberships. lab2 is
    // held across TWO incrementalComponents calls
    val lab2 = Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"), "id_a", "id_b")
    val got = Dedup.incrementalComponents(
      lab2, Seq((2L, 50L), (50L, 10L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 50L -> 1L))
    // a new node smaller than every old member becomes the new label
    val got2 = Dedup.incrementalComponents(
      lab2, Seq((0L, 11L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 1L, 0L -> 0L, 10L -> 0L, 11L -> 0L))
  }

  test("dedup-index time travel: every committed version reads back exactly; retention-aware vacuum") {
    import spark.implicits._
    import graft.operators.DedupIndex
    val docs = Tables(spark, sf, "documents")
    val dir = tempDir("dix_tt")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    val base = docs.filter($"doc_id" % 10 =!= 7)
    val batch = docs.filter($"doc_id" % 10 === 7)
    DedupIndex.build(base, "doc_id", "text", dir)            // v1
    DedupIndex.append(batch, "doc_id", "text", dir)          // v2
    DedupIndex.delete(base.filter($"doc_id" % 5 === 0)
      .select($"doc_id"), "doc_id", dir)                     // v3
    DedupIndex.compact(spark, dir)                           // v4
    val all = ids(docs)
    val deleted = ids(docs.filter($"doc_id" % 10 =!= 7 && $"doc_id" % 5 === 0))
    // each snapshot is exactly the state at its commit
    assert(ids(DedupIndex.readBandsAt(spark, dir, 1L)) == ids(base))
    assert(ids(DedupIndex.readBandsAt(spark, dir, 2L)) == all)
    assert(ids(DedupIndex.readBandsAt(spark, dir, 3L)) == all -- deleted)
    assert(ids(DedupIndex.readBandsAt(spark, dir, 4L)) == all -- deleted)
    // retention: keep one version before current — v3 stays readable
    // (its segment dirs are shared with v4-era history and survive),
    // v1/v2's snapshot manifests are dropped
    DedupIndex.vacuum(dir, retainVersions = 1)
    assert(ids(DedupIndex.readBandsAt(spark, dir, 3L)) == all -- deleted)
    assert(ids(DedupIndex.readBands(spark, dir)) == all -- deleted)
    intercept[java.io.IOException] { DedupIndex.readManifestAt(dir, 2L) }
    // full vacuum: only the current generation survives
    DedupIndex.vacuum(dir)
    intercept[Exception] { DedupIndex.readBandsAt(spark, dir, 3L).collect() }
    assert(ids(DedupIndex.readBands(spark, dir)) == all -- deleted)
  }

  test("pairsWithNew: selfPairs(old) ∪ pairsWithNew(batch) ≡ selfPairs(union)") {
    import spark.implicits._
    import graft.operators.{Dedup, DedupIndex}
    val docs = Tables(spark, sf, "documents")
    val dir = tempDir("dix_pairs_new")
    DedupIndex.build(docs.filter($"doc_id" % 10 =!= 7), "doc_id", "text", dir)
    val oldPairs = DedupIndex.selfPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupIndex.append(docs.filter($"doc_id" % 10 === 7), "doc_id", "text", dir)
    val delta = DedupIndex.pairsWithNew(spark, dir,
      docs.filter($"doc_id" % 10 === 7), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta.nonEmpty, "fixture batch must carry near-dup pairs")
    assert(delta.forall { case (a, b) => a % 10 == 7 || b % 10 == 7 },
      "every delta pair must touch the batch")
    val full = DedupIndex.selfPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oldPairs ++ delta == full,
      s"extra=${((oldPairs ++ delta) -- full).take(5)} missing=${(full -- (oldPairs ++ delta)).take(5)}")
  }

  test("point-probe bkey pushdown: identical results with and without the pushed IN filter") {
    import spark.implicits._
    import graft.operators.DedupIndex
    val docs = Tables(spark, sf, "documents")
    val dir = tempDir("dix_pp")
    DedupIndex.build(docs.filter($"doc_id" % 10 =!= 7), "doc_id", "text", dir)
    val probe = docs.filter($"doc_id" % 10 === 7)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    // the filter is semantically a no-op (the join is on bkey anyway):
    // survivors identical with the pushdown FORCED on (cap above the
    // probe's key count) and capped off
    val cap = 100000
    assert(ids(DedupIndex.query(probe, "doc_id", "text", dir, keyPushdownCap = cap)) ==
      ids(DedupIndex.query(probe, "doc_id", "text", dir, keyPushdownCap = 0)))
    DedupIndex.append(probe, "doc_id", "text", dir)
    def pairs(c: Int) =
      DedupIndex.pairsWithNew(spark, dir, probe, "doc_id", "text",
        keyPushdownCap = c)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withPush = pairs(cap)
    assert(withPush.nonEmpty && withPush == pairs(0))
    // CHUNKED-IN form: a probe naming more than InKeyCap distinct band
    // keys (half the corpus × 8 bands ≫ 512) with an EXPLICIT cap
    // splits into ⌈K/512⌉ per-run pushed-IN scans, unioned —
    // result-identical to no pushdown (chunks partition the key set)
    val bigProbe = docs.filter($"doc_id" % 2 === 1)
    assert(ids(DedupIndex.query(bigProbe, "doc_id", "text", dir, keyPushdownCap = cap)) ==
      ids(DedupIndex.query(bigProbe, "doc_id", "text", dir, keyPushdownCap = 0)))
    // and each chunk's IN actually REACHES the parquet scans as a
    // PUSHED filter (In(bkey, …) in PushedFilters metadata, not just a
    // post-scan Filter), across MULTIPLE union branches — widen the
    // metadata render limit so the filter lists aren't truncated
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
      val plan = DedupIndex.query(bigProbe, "doc_id", "text", dir, keyPushdownCap = cap)
        .queryExecution.executedPlan.toString
      // one scan renders on one line; its pushed list also names the
      // bprefix IN, whose value list closes with its own "]"
      val pushedIns = "PushedFilters: \\[[^\n]*?In\\(bkey".r
        .findAllIn(plan).size
      assert(pushedIns >= 2,
        s"expected ≥2 union branches with pushed bkey INs, got $pushedIns:\n${plan.take(1500)}")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("repetition signals: hand-computed fractions, short-doc zero convention") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),        // 3 2-grams all "a a"; 2 3-grams both "a a a"
      (2L, "a b c d"),        // all grams distinct
      (3L, "a b a b a"),      // 2-grams: ab,ba,ab,ba -> 4 total 2 distinct
      (4L, "x"),              // no 2-grams, no 3-grams
      (5L, "x y")             // one 2-gram, no 3-grams
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(1L) == ((3L, 0.666667, 1.0, 2L, 0.5)))
    assert(got(2L) == ((3L, 0.0, 0.333333, 2L, 0.0)))
    assert(got(3L) == ((4L, 0.5, 0.5, 3L, 0.333333)))
    assert(got(4L) == ((0L, 0.0, 0.0, 0L, 0.0)))
    assert(got(5L) == ((1L, 0.0, 1.0, 0L, 0.0)))
  }

  test("chunk laws: coverage, stride starts, exact reconstruction at stride==size") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val toks = (1 to 150).map(i => s"w$i")
    val docs = Seq((1L, toks.mkString(" ")), (2L, "solo"), (3L, toks.take(48).mkString(" ")))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.chunk(docs, "doc_id", "text", chunkSize = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = rows.groupBy(_._1)
    // doc 1: 150 tokens -> chunks at 0,48,96,144 (floor(149/48)=3, +1)
    assert(byDoc(1L).map(_._2).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // full coverage with overlap: every token appears in some chunk
    val covered = byDoc(1L).flatMap(_._4.split(" ")).toSet
    assert(covered == toks.toSet)
    // chunk i starts at token i*stride and has min(64, n - i*48) tokens
    byDoc(1L).foreach { case (_, i, nTok, chunk) =>
      assert(chunk.split(" ").head == s"w${i * 48 + 1}")
      assert(nTok == math.min(64L, 150 - i * 48))
    }
    // single-token and exactly-one-stride docs yield one chunk each
    assert(byDoc(2L).map(_._4).toSeq == Seq("solo"))
    assert(byDoc(3L).length == 1 && byDoc(3L).head._3 == 48L)
    // stride == chunkSize: disjoint chunks concatenate back to the doc
    val flat = TextAnalysis.chunk(docs.filter($"doc_id" === 1L), "doc_id", "text", 50, 50)
      .orderBy("chunk_idx").collect().map(_.getString(3)).mkString(" ")
    assert(flat == toks.mkString(" "))
  }

  test("bloom decontaminate: never leaks a contaminated doc, bounded over-drop, deterministic") {
    import graft.operators.Dedup
    import spark.implicits._
    val bench = docs.filter($"doc_id" % 50 === 0)
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.decontaminate(corpus, bench, "doc_id", "text", 8))
    val bloom = ids(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", 8, fpp = 1e-6))
    // one-sided error, the safe direction: no false negatives means a
    // truly contaminated doc can NEVER survive the bloom form
    assert(bloom.subsetOf(exact), s"bloom leaked ${(bloom -- exact).take(5)}")
    // over-drop bound: expected FP docs ≈ total clean-doc probes × fpp
    // ≈ 0.03 at fixture scale — Bloom64 should over-drop NOTHING here
    // (spark-sketch's 1e-4 floor dropped 4 docs on this very fixture,
    // which is why the operator carries its own filter); ≤ 2 keeps the
    // assertion flake-free across regenerated fixtures
    assert((exact -- bloom).size <= 2,
      s"bloom over-dropped ${(exact -- bloom).size} docs at fpp=1e-6")
    // deterministic (OR-fold filter bits + pure probes)
    val again = ids(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", 8, fpp = 1e-6))
    assert(again == bloom)
    // a looser filter still never leaks
    val loose = ids(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", 8, fpp = 0.05))
    assert(loose.subsetOf(exact))
    // size guard: a bench set whose filter would blow the broadcast
    // budget falls back to the exact join form — identical survivors
    val fallback = ids(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", 8,
      fpp = 1e-6, maxFilterBytes = 1024))
    assert(fallback == exact, "size-guard fallback must be the exact join form")
  }

  test("paragraphDedup: every distinct paragraph survives exactly once, order-preserving subsequence") {
    import graft.operators.Dedup
    import spark.implicits._
    val sep = " a "
    val out = Dedup.paragraphDedup(docs, "doc_id", "text", sep)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val in = docs.select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def paras(s: String): Seq[String] = {
      // literal non-overlapping split, limit=-1 (keep trailing empties)
      val b = Seq.newBuilder[String]
      var i = 0
      var last = 0
      while ({ i = s.indexOf(sep, last); i >= 0 }) { b += s.substring(last, i); last = i + sep.length }
      b += s.substring(last)
      b.result()
    }
    val outParas = out.toSeq.flatMap { case (id, t) => paras(t).map(id -> _) }
    // exactly-once: the multiset of output paragraphs is the distinct
    // set of input paragraphs, no repeats anywhere
    assert(outParas.map(_._2).distinct.size == outParas.size,
      "a paragraph appeared twice in the deduped corpus")
    assert(outParas.map(_._2).toSet ==
      in.values.flatMap(paras).toSet, "paragraph content set changed")
    // each kept doc's paragraphs are an order-preserving subsequence of
    // that doc's original paragraphs, and the keeper is the FIRST
    // global (doc_id, pos) occurrence
    val firstOwner = in.toSeq.flatMap { case (id, t) => paras(t).zipWithIndex.map { case (p, k) => (p, (id, k)) } }
      .groupBy(_._1).map { case (p, occ) => p -> occ.map(_._2).min }
    for ((id, t) <- out) {
      val op = paras(t)
      val ip = paras(in(id))
      var j = 0
      for (p <- op) { j = ip.indexOf(p, j); assert(j >= 0, s"doc $id lost order for '$p'"); j += 1 }
      op.foreach(p => assert(firstOwner(p)._1 == id, s"'$p' kept in doc $id but first seen in ${firstOwner(p)}"))
    }
    // docs with zero surviving paragraphs drop
    assert(out.keySet.subsetOf(in.keySet))
  }

  test("packSequences: total preservation, window budget law, deterministic") {
    import graft.operators.TextAnalysis
    val budget = 256
    val packed = TextAnalysis.packSequences(docs, "doc_id", "text", budget = budget)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // every document assigned exactly once
    assert(packed.length == docs.count())
    assert(packed.map(_._1).distinct.length == packed.length)
    // window laws per shard. A window's short-fall equals the previous
    // window's overshoot (a doc straddling a boundary stays where it
    // started, so the next window begins late by that tail), and the
    // overshoot is strictly less than one document — so every non-final
    // window holds MORE than budget − maxDocLen tokens, and every
    // window's total stays UNDER budget + its own longest member.
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val maxShardDoc = rows.map(_._4).max
      val wins = rows.groupBy(_._3).toSeq.sortBy(_._1)
      val lastWin = wins.map(_._1).max
      wins.foreach { case (w, members) =>
        val tot = members.map(_._4).sum
        val maxDoc = members.map(_._4).max
        if (w != lastWin)
          assert(tot > budget - maxShardDoc,
            s"non-final window $w shorter than one overshoot: $tot")
        assert(tot < budget + maxDoc,
          s"window $w overshoots past one document: $tot")
      }
    }
    // deterministic
    val again = TextAnalysis.packSequences(docs, "doc_id", "text", budget = budget)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(packed.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("temperatureSample: distributed rank equals the plain window rank, quotas exact") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val got = TextAnalysis.temperatureSample(docs, "doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // reference: the single-window form the oracle states (skew-prone —
    // fine at fixture scale, it is the semantics)
    val k = md5(concat(lit("mix#"), $"doc_id".cast("string")))
    val w = Window.partitionBy($"source").orderBy($"__k", $"doc_id")
    val want = docs.select($"doc_id", $"source", k.as("__k"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"source")))
      .filter($"rk" <= floor(sqrt($"n".cast("double"))).cast("long") * 10)
      .select($"doc_id", $"source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // quota exactness: per source, kept count = floor(sqrt(n))·10,
    // capped by n itself
    val bySrc = docs.groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBySrc = got.groupBy(_._2).map { case (s, rows) => s -> rows.size.toLong }
    bySrc.foreach { case (s, n) =>
      val quota = math.min(n, math.floor(math.sqrt(n.toDouble)).toLong * 10)
      assert(keptBySrc.getOrElse(s, 0L) == quota,
        s"source $s: kept ${keptBySrc.getOrElse(s, 0L)}, quota $quota of $n")
    }
  }

  test("decontaminateFuzzy: threshold arithmetic, monotonicity, l17 and no-op limits") {
    import spark.implicits._
    // hand-built overlap fractions at shingleN=2: bench bigrams of
    // "a b c d" = {ab, bc, cd}; docs share exactly 1/3, 2/3, 3/3
    val bench = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b x y z"),   // bigrams {ab,bx,xy,yz}: 1/4 hit
      (2L, "a b c x y"),   // {ab,bc,cx,xy}: 2/4 hit
      (3L, "a b c d"),     // {ab,bc,cd}: 3/3 hit
      (4L, "p q r s")      // 0 hit
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(Dedup.decontaminateFuzzy(corpus, bench, "doc_id", "text", 2, 0.5))
      == Set(1L, 4L))                       // 2/4 and 3/3 >= 0.5 drop
    assert(ids(Dedup.decontaminateFuzzy(corpus, bench, "doc_id", "text", 2, 0.2))
      == Set(4L))                           // 1/4 >= 0.2 too: only the 0-hit doc survives
    assert(ids(Dedup.decontaminateFuzzy(corpus, bench, "doc_id", "text", 2, 1.0))
      == Set(1L, 2L, 4L))                   // only the full-overlap doc drops
    // fixture laws on the l17 split
    val fxBench = docs.filter($"doc_id" % 50 === 0)
    val fxCorpus = docs.filter($"doc_id" % 50 =!= 0)
    val anyHit = ids(Dedup.decontaminate(fxCorpus, fxBench, "doc_id", "text", 8))
    // minFrac -> 0+ recovers l17's any-hit rule exactly
    assert(ids(Dedup.decontaminateFuzzy(fxCorpus, fxBench, "doc_id", "text", 8, 1e-12))
      == anyHit)
    // minFrac > 1 is unsatisfiable: nothing drops
    assert(ids(Dedup.decontaminateFuzzy(fxCorpus, fxBench, "doc_id", "text", 8, 1.000001))
      == ids(fxCorpus))
    // survivors grow monotonically with the threshold
    val s10 = ids(Dedup.decontaminateFuzzy(fxCorpus, fxBench, "doc_id", "text", 8, 0.1))
    val s50 = ids(Dedup.decontaminateFuzzy(fxCorpus, fxBench, "doc_id", "text", 8, 0.5))
    val s90 = ids(Dedup.decontaminateFuzzy(fxCorpus, fxBench, "doc_id", "text", 8, 0.9))
    assert(anyHit.subsetOf(s10) && s10.subsetOf(s50) && s50.subsetOf(s90))
  }

  test("decontaminateBloomFuzzy: one-sided error, parity with the join form, size-guard fallback") {
    import spark.implicits._
    val bench = docs.filter($"doc_id" % 50 === 0)
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.decontaminateFuzzy(corpus, bench, "doc_id", "text", 8, 0.5))
    val bloom = ids(Dedup.decontaminateBloomFuzzy(corpus, bench, "doc_id", "text", 8, 0.5))
    // false positives only inflate hit counts: never leaks, may over-drop
    assert(bloom.subsetOf(exact), s"bloomFuzzy leaked ${(bloom -- exact).take(5)}")
    assert((exact -- bloom).size <= 2,
      s"bloomFuzzy over-dropped ${(exact -- bloom).size} docs at fpp=1e-6")
    // deterministic
    assert(ids(Dedup.decontaminateBloomFuzzy(corpus, bench, "doc_id", "text", 8, 0.5)) == bloom)
    // size guard falls back to the exact join form
    assert(ids(Dedup.decontaminateBloomFuzzy(corpus, bench, "doc_id", "text", 8, 0.5,
      maxFilterBytes = 1024)) == exact)
  }

  test("bigramLogProb: hand-computed MLE scores, short docs absent, scores never positive") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // corpus counts: C2(a,b)=3 C2(b,a)=1 C2(b,c)=1; C1(a)=3 C1(b)=2
    val t = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(t, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L), "single-token docs have no bigrams")
    assert(got(1L)._1 == 3L && got(2L)._1 == 2L)
    assert(math.abs(got(1L)._2 - math.log(0.5) / 3) < 1e-12)
    assert(math.abs(got(2L)._2 - math.log(0.5) / 2) < 1e-12)
    // fixture law: MLE probabilities are <= 1, so every score <= 0;
    // every multi-token doc present exactly once
    val fx = TextAnalysis.bigramLogProb(docs, "doc_id", "text").collect()
    assert(fx.nonEmpty && fx.forall(_.getDouble(2) <= 1e-12))
    val multi = docs.filter(size(split($"text", " ")) >= 2).count()
    assert(fx.length.toLong == multi)
  }

  test("collapseKeepBest: longest member wins, ties to min id, singletons kept") {
    import spark.implicits._
    // 10–11 near-dup (3-gram jaccard 3/4), 11 longer -> keeper; 20–21
    // identical -> tie, min id; 12 singleton
    val t = Seq((10L, "w1 w2 w3 w4 w5"), (11L, "w1 w2 w3 w4 w5 w6"),
      (12L, "z1 z2 z3"), (20L, "p q r s"), (21L, "p q r s")).toDF("doc_id", "text")
    val got = Dedup.collapseKeepBest(t, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 11L, 2L), (12L, 12L, 1L), (20L, 20L, 2L)))
    // fixture laws: components partition the corpus (sum of members =
    // corpus size) and every keeper is its component's (max q, min id)
    val fx = Dedup.collapseKeepBest(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fx.map(_._3).sum == docs.count())
    val comps = Dedup.connectedComponents(
        Dedup.ngramJaccard(docs, "doc_id", "text"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = docs.select($"doc_id", size(split($"text", " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byComp = q.keys.groupBy(id => comps.getOrElse(id, id))
    fx.foreach { case (comp, keeper, n) =>
      val members = byComp(comp)
      assert(members.size.toLong == n, s"comp $comp member count")
      val want = members.minBy(id => (-q(id), id))
      assert(keeper == want, s"comp $comp: keeper $keeper, want $want")
    }
  }

  test("windowDedup: owner keeps its span, duplicates excised, reconstruction exact") {
    import spark.implicits._
    def run(rows: Seq[(Long, String)], k: Int = 8): Map[Long, String] =
      Dedup.windowDedup(rows.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // all-unique corpus: identity
    val uniq = Seq((1L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), (2L, "v1 v2 v3 v4 v5 v6 v7 v8 v9"))
    assert(run(uniq) == uniq.toMap)
    // identical docs: first keeps full text, second drops entirely
    val twins = run(Seq((1L, "s1 s2 s3 s4 s5 s6 s7 s8 s9"), (2L, "s1 s2 s3 s4 s5 s6 s7 s8 s9")))
    assert(twins == Map(1L -> "s1 s2 s3 s4 s5 s6 s7 s8 s9"))
    // shared 8-token span embedded in otherwise-unique docs: the later
    // doc loses exactly the span, the owner is untouched
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val emb = run(Seq((1L, s"u1 u2 $span u3 u4"), (2L, s"v1 v2 $span v3 v4")))
    assert(emb(1L) == s"u1 u2 $span u3 u4")
    assert(emb(2L) == "v1 v2 v3 v4")
    // within-doc repeat: the second occurrence excises
    val rep = run(Seq((1L, s"$span x $span")))
    assert(rep == Map(1L -> s"$span x"))
    // short-doc degeneracy (< k tokens): behaves as exact doc-dedup
    val short = run(Seq((1L, "a b c"), (2L, "a b c"), (3L, "d e f")))
    assert(short == Map(1L -> "a b c", 3L -> "d e f"))
    // fixture law: every surviving text is an order-preserving
    // subsequence of its original tokens
    val fx = Dedup.windowDedup(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val orig = docs.select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fx.nonEmpty && fx.keySet.subsetOf(orig.keySet))
    fx.foreach { case (id, t) =>
      val o = orig(id).split(" ").iterator
      val sub = t.split(" ").forall(tok => o.contains(tok))
      assert(sub, s"doc $id: dedup output is not a subsequence of the original")
    }
  }
  test("contaminationReport: verbatim bench copy is fully hit; disjoint doc is zero") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l"),   // verbatim copy of bench doc 100
      (2L, "z y x w v u t s r q p o")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "a b c d e f g h i j k l"), // every shingle in corpus doc 1
      (101L, "m m m m m m m m m m m m"), // disjoint; all 5 windows identical -> 1 distinct shingle
      (102L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, bench, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rep(100L)._4 === 1.0)
    assert(rep(100L)._3 === 1L, "exactly one contaminating corpus doc")
    assert(rep(101L) === ((1L, 0L, 0L, 0.0)))
    assert(rep(102L) === ((0L, 0L, 0L, 0.0)), "null-text bench doc reports zeros")
  }

  test("minhashLshVerified: exact scores, precision by construction, deterministic planted recall") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val verified = Dedup.minhashLshVerified(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision is STRUCTURAL: the exact-verify stage recomputes the
    // true Jaccard per candidate, so every emitted pair must agree with
    // ngramJaccard's score for the same pair, and no pair may appear
    // under the threshold
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified.nonEmpty)
    assert(verified.values.forall(_ >= 0.5))
    verified.foreach { case (p, j) =>
      assert(exact.get(p).contains(j), s"pair $p: verified=$j exact=${exact.get(p)}")
    }
    // recall on THIS fixture is total (every >=0.5 pair collides in
    // some band — the equality the l2 oracle pins at every SF); a
    // candidate-stage regression shows up here as a missing pair
    assert(verified.keySet == exact.keySet,
      s"missing=${(exact.keySet -- verified.keySet).take(5)}")
    // deterministic planted recall: double the corpus with offset ids —
    // identical texts share every band signature, so each planted pair
    // MUST be found at jaccard exactly 1.0, never probabilistically
    val planted = docs.select(($"doc_id" + 1000000L).as("doc_id"), $"text",
      $"lang", $"source", $"n_chars")
    val doubled = Dedup.minhashLshVerified(
      docs.unionByName(planted), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ids = docs.select($"doc_id").collect().map(_.getLong(0))
    ids.foreach { i =>
      assert(doubled.get((i, i + 1000000L)).contains(1.0),
        s"planted duplicate of $i must pair at jaccard 1.0")
    }
  }
}
