package graft

import graft.functions.VectorFunctions
import graft.operators.{AnnStore, DriverBatch, LlmQueries, ManifestCommit, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val emb = Tables(spark, sf, "embeddings")

  /** corpus doubled with exact duplicates at offset ids — the planted
    * near-dup population the l6 query detects. */
  private lazy val doubled = emb.select(col("vec_id"), col("embedding")).unionAll(
    emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))

  /** exact all-pairs quantized-cosine reference (same math as the engine). */
  private def bfPairs(df: DataFrame, threshold: Double): Map[(Long, Long), Double] = {
    val v = df.select(col("vec_id").as("id"), col("embedding").as("v"),
      VectorFunctions.dotScaledFast(col("embedding"), col("embedding")).as("nrm"))
    v.as("a").crossJoin(v.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("cos",
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0.0))
          .otherwise(VectorFunctions.dotScaledFast(col("a.v"), col("b.v")).cast("double") /
            sqrt((col("a.nrm") * col("b.nrm")).cast("double"))))
      .filter(col("cos") >= threshold)
      .select(col("a.id"), col("b.id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
  }

  test("brute-force top-k: k rows per query, no self matches, cos in [-1,1]") {
    val got = Similarity.bruteForceTopK(emb, emb, 3)
    assert(got.count() == emb.count() * 3)
    assert(got.filter(col("qid") === col("nid")).count() == 0)
    assert(got.filter(abs(col("cos")) > 1.000001).count() == 0)
  }

  test("LSH top-k recall@1 vs brute force is reasonable") {
    val bf1 = Similarity.bruteForceTopK(emb, emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val lsh1 = Similarity.lshTopK(emb, emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = bf1.count { case (q, n) => lsh1.get(q).contains(n) }
    val recall = hits.toDouble / bf1.size
    // fixture embeddings are near-orthogonal (max pairwise cosine ~0.51),
    // the adversarial case for hyperplane LSH — random guessing would be
    // ~1/500; anything two orders above that shows the buckets carry
    // signal. The floor is calibrated to the derived band width: the
    // RECALL CONTRACT (miss ≤ 5% at cosine ≥ 0.9) is held at any width
    // because bandsForRecall re-derives the band count, but a cos≈0.5
    // top-1's survival is 1−(1−p^b)^B with p ≈ 0.67, which the
    // round-10 +1-bit width (measured optimum at 10⁶ on the denser
    // fixture) lowers from ~0.35 to ~0.25 for the best pair — observed
    // ~0.22 over the whole top-1 population (cos 0.3–0.5). Planted
    // ≥0.9-tier recall is asserted by the multi-probe test below and
    // measured at 10⁵/10⁶ in BENCH_LOCAL.md.
    assert(recall >= 0.15, s"recall@1 = $recall")
    // candidates actually pruned: LSH answered from buckets, not all pairs
    assert(lsh1.nonEmpty)
  }

  test("IVF top-k recall@1 vs brute force is reasonable and pruned") {
    val bf1 = Similarity.bruteForceTopK(emb, emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ivf1 = Similarity.ivfTopK(emb, emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = bf1.count { case (q, n) => ivf1.get(q).contains(n) }
    val recall = hits.toDouble / bf1.size
    // near-orthogonal fixture = adversarial for any coarse quantizer;
    // random guessing is ~1/500
    assert(recall >= 0.3, s"IVF recall@1 = $recall")
    // determinism: same centroids, same answer
    val again = Similarity.ivfTopK(emb, emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ivf1 == again)
  }

  test("cosineNearDup @ 0.8: equals brute force, candidates genuinely pruned") {
    // production default miss budget (1e-2): the qualifying pairs are
    // planted EXACT duplicates, whose signatures agree in every band —
    // recall on them is 1 identically, so the exact-match assertion
    // holds at any miss budget
    val got = Similarity.cosineNearDup(doubled, "vec_id", "embedding", threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val want = bfPairs(doubled, 0.8)
    assert(got == want, s"banded=${got.size} brute=${want.size}")
    assert(got.nonEmpty) // the planted duplicate pairs
    // pruning: at τ=0.8 with log2(n)-bit bands the candidate set must be
    // a small fraction of the n(n-1)/2 pairs brute force examines
    val n = doubled.count()
    val cands = Similarity.cosineNearDupCandidates(
      doubled, "vec_id", "embedding", threshold = 0.8).count()
    assert(cands <= n * (n - 1) / 2 * 35 / 100,
      s"candidates $cands vs all-pairs ${n * (n - 1) / 2}")
  }

  test("cosineNearDup @ 0.4 (stress): banding still exact where it can't prune") {
    // low-threshold full-recall banding is intrinsically near-quadratic
    // (see Similarity.cosineNearDup docstring) — kept as a correctness
    // stress case with the round-2 fixed-width bands, NOT a declared query
    val got = Similarity.cosineNearDup(emb, "vec_id", "embedding",
      threshold = 0.4, bitsPerBand = Some(4))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val want = bfPairs(emb, 0.4)
    assert(got == want, s"banded=${got.size} brute=${want.size}")
    assert(got.nonEmpty)
  }

  test("int8-candidate IVF: recall holds, candidates bounded, scores exact float cosine") {
    val bf1 = Similarity.bruteForceTopK(emb, emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val q1 = Similarity.ivfTopKInt8(emb, emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = bf1.count { case (q, n) => q1.get(q).contains(n) }
    val recall = hits.toDouble / bf1.size
    // quantization perturbs only WHICH cells are probed; on the
    // near-orthogonal fixture (random guessing ~1/500) the int8
    // candidate tier must keep the same signal bar as the float path
    assert(recall >= 0.3, s"int8 IVF recall@1 = $recall")
    // candidate tier stays sqrt(n)-bounded like the float path
    val n = emb.count()
    val perQuery = Similarity.ivfCandidatesInt8(emb, emb)
      .groupBy(col("qid")).agg(count(lit(1)).as("c"))
      .agg(avg(col("c"))).head().getDouble(0)
    assert(perQuery <= 16 * math.sqrt(n.toDouble),
      s"avg candidates/query $perQuery at n=$n")
    // re-rank is EXACT float-tier scoring: every (qid,nid) l22 reports
    // must carry the same cosine the float IVF path computes for that
    // pair (banding/quantization choose candidates, never scores)
    val floatScores = Similarity.ivfTopK(emb, emb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val int8Scores = Similarity.ivfTopKInt8(emb, emb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val shared = floatScores.keySet.intersect(int8Scores.keySet)
    assert(shared.nonEmpty)
    shared.foreach { k =>
      assert(floatScores(k) == int8Scores(k), s"score drift at $k")
    }
  }

  test("near-dup parameterization stays under the plane cap at 1e6 and 1e9 vectors") {
    // the round-4 scale-killer: at miss = 1e-7 the derived band count
    // grows ~16·n^0.33 and crossed MaxPlaneBits at n ≈ 2×10⁵, so the
    // DECLARED near-dup operator refused moderate corpora. The fix is
    // two-fold — a practical default miss budget (1e-2) and a band-width
    // cap (20 bits) — and this test pins both at the corpus sizes a
    // 100 TB pipeline actually has.
    for (n <- Seq(1000000L, 1000000000L)) {
      val (b, bands, bits) = Similarity.nearDupPlan(0.8, n, 1e-2)
      assert(bits <= Similarity.MaxPlaneBits,
        s"n=$n: $bands bands × $b bits = $bits exceeds the cap")
      assert(b <= Similarity.MaxBitsPerBand)
      // and the recall the budget buys: (1-p^b)^bands <= 1e-2 at τ=0.8,
      // i.e. >= 99% of true near-dup pairs are examined
      val p = 1.0 - math.acos(0.8) / math.Pi
      val missProb = math.pow(1.0 - math.pow(p, b), bands)
      assert(missProb <= 1e-2, s"n=$n: miss probability $missProb")
    }
    // the old default is honestly documented as fixture-only: at 1e9 it
    // still exceeds the cap and the require fires rather than degrading
    val (_, _, strictBits) = Similarity.nearDupPlan(0.8, 1000000000L, 1e-7)
    assert(strictBits > Similarity.MaxPlaneBits)
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDupCandidates(doubled, "vec_id", "embedding",
        threshold = 0.8, miss = 1e-7, corpusSize = Some(1000000000L)).count()
    }
  }

  test("LSH candidates stay O(sqrt(n)) per query on the doubled fixture") {
    val n = doubled.count()
    val perQuery = Similarity.lshCandidates(doubled, doubled, corpusSize = Some(n))
      .groupBy(col("qid")).agg(count(lit(1)).as("c"))
      .agg(avg(col("c"))).head().getDouble(0)
    // bands=8, buckets≈sqrt(n) ⇒ expect ≈8·sqrt(n); assert 2× headroom
    assert(perQuery <= 16 * math.sqrt(n.toDouble),
      s"avg candidates/query $perQuery at n=$n — bucket keys not scaling")
  }

  test("IVF candidates stay O(sqrt(n)) per query on the doubled fixture") {
    val n = doubled.count()
    val perQuery = Similarity.ivfCandidates(doubled, doubled)
      .groupBy(col("qid")).agg(count(lit(1)).as("c"))
      .agg(avg(col("c"))).head().getDouble(0)
    // nlist≈sqrt(n), nprobe=4 ⇒ expect ≈4·sqrt(n); assert headroom for
    // uneven cell sizes
    assert(perQuery <= 16 * math.sqrt(n.toDouble),
      s"avg candidates/query $perQuery at n=$n — nlist not scaling")
  }

  test("semDedup: exact dups always collapse to lowest id; sub-threshold corpus survives whole") {
    // exact copies share identical centroid scores, so they land in the
    // same cell regardless of clustering — the planted population is
    // IMMUNE to the cluster-boundary miss semantics
    val survivors = Similarity.semDedup(doubled, "vec_id", "embedding", 0.8)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val originals = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(survivors == originals,
      s"survivors=${survivors.size} originals=${originals.size}")
    // keep-lowest-id: every dropped id is the offset twin, never the original
    assert(survivors.forall(_ < 1000000L))
    // a corpus with no pair over the threshold survives intact (fixture
    // max pairwise cosine ≤ 0.60 — checked against numpy ground truth)
    val untouched = Similarity.semDedup(emb, "vec_id", "embedding", 0.8).count()
    assert(untouched == emb.count())
    // deterministic: stride centroids + keep-lowest rule, no randomness
    val again = Similarity.semDedup(doubled, "vec_id", "embedding", 0.8)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(again == survivors)
  }

  /** The pushed filters of every postings-segment scan in the AQE-final
    * plan of an executed `df`. */
  private def postingsPushed(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName.startsWith("seg_")) =>
        s.metadata.getOrElse("PushedFilters", "")
    }

  test("persisted int8 IVF index: complete, parity with l22's direct path, single postings scan") {
    val dir = tempDir("graft_idx_spec")
    val counts = Similarity.buildIvfIndex(
      emb.select(col("vec_id"), col("embedding")), dir, cellCap = Some(256))
    // completeness: every corpus vector posted exactly once, and the
    // persisted metadata agrees (the read path's corpus size comes from
    // the centroid table, never a postings scan)
    assert(counts.agg(sum(col("n_vectors"))).head().getLong(0) == emb.count())
    // the one segment layout: plain files, each cell in exactly one
    assertOneLayout(s"$dir/${AnnStore.read(dir).segments.head}", "cell", "vec_id")
    // the postings ARE the int8 tier: 1 B/elem codes + three scalars
    val post = Similarity.indexPostings(spark, dir)
    assert(post.columns.toSet ==
      Set("vec_id", "codes", "cdot", "m", "nrm", "shard", "cell"))
    val dim = emb.head().getSeq[Float](1).length
    assert(post.select(max(length(col("codes")))).head().getInt(0) == dim)
    // parity: code-space screening + exact re-rank answers EXACTLY what
    // the direct int8 path computes (same int8 cell geometry, same
    // first-max assignment; sound margin ⇒ no true top-k member pruned)
    val idx = Similarity.ivfTopKIndexed(emb, emb, dir, 3)
    val got = idx.collect().map(_.toSeq).sortBy(_.toString)
    val want = Similarity.ivfTopKInt8(emb, emb, 3).collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length == want.length && got.sameElements(want))
    // serving regime (|Q| ≪ |C|, the l31 shape): same parity against
    // the direct path restricted to the query batch
    val qb = emb.filter(col("vec_id") % 20 === 0)
    val serveDf = Similarity.ivfTopKIndexed(qb, emb, dir, 3)
    val serve = serveDf.collect().map(_.toSeq).sortBy(_.toString)
    val serveWant = Similarity.ivfTopKInt8(qb, emb, 3)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(serve.sameElements(serveWant))
    // plan gates, on the AQE-final section: exactly ONE postings scan
    // (the corpus-size/count job is gone — round-7 advisory), and no
    // per-vector recompute on the postings side — the only assignment
    // probe and the only int8 pack belong to the query side, and the
    // only quantize3 pair belongs to the survivor re-rank inputs
    val p = idx.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head.toLowerCase
    def occurrences(needle: String): Int = needle.r.findAllIn(p).size
    assert(p.linesIterator.count(l => l.contains("scan") && l.contains("seg_")) == 1,
      s"read path must scan the postings segments exactly once:\n${p.take(1500)}")
    assert(occurrences("nearestcellsexpr") == 1,
      s"corpus-side assignment recompute detected:\n${p.take(1500)}")
    assert(occurrences("int8packexpr") == 1,
      s"corpus-side re-pack detected:\n${p.take(1500)}")
    // quantize3 belongs to the two survivor re-rank inputs only (AQE
    // prints broadcast build sides as stage references, so the count
    // can collapse to 1 — never more than the two rerank sides)
    val q3 = occurrences("quantize3expr")
    assert(q3 >= 1 && q3 <= 2,
      s"quantize3 outside the re-rank inputs:\n${p.take(1500)}")
    // the serving batch's probe is built on the driver: its plan reads
    // the postings once, filtered to the probed cells, and carries no
    // assignment at all
    val sp = serveDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head.toLowerCase
    assert(sp.linesIterator.count(l => l.contains("scan") && l.contains("seg_")) == 1,
      s"serve path must scan the postings segments exactly once:\n${sp.take(1500)}")
    assert("nearestcellsexpr".r.findAllIn(sp).isEmpty && "scalaudf".r.findAllIn(sp).isEmpty,
      s"per-row probe work in the serve plan:\n${sp.take(1500)}")
    val pushed = postingsPushed(serveDf)
    assert(pushed.nonEmpty && pushed.forall(_.contains("In(cell,")),
      s"the probed cells must reach the postings scan as a pushed filter: $pushed")
  }

  test("persisted PQ index: m-byte postings, serve parity with the int8 tier, sound ADC bounds") {
    val dirA = tempDir("graft_pq_int8")
    val dirB = tempDir("graft_pq_idx")
    val corpus = emb.select(col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(corpus, dirA, cellCap = Some(256)).count()
    val counts = Similarity.buildPqIndex(corpus, dirB, cellCap = Some(256),
      centroidsFrom = Some(dirA))
    // completeness: every corpus vector posted exactly once
    assert(counts.agg(sum(col("n_vectors"))).head().getLong(0) == emb.count())
    assertOneLayout(s"$dirB/${AnnStore.read(dirB).segments.head}", "cell", "vec_id")
    // the postings ARE the PQ tier: m one-byte codes + two scalars
    val post = Similarity.indexPostings(spark, dirB)
    assert(post.columns.toSet ==
      Set("vec_id", "pqc", "rn", "nrm", "shard", "cell"))
    assert(post.select(max(length(col("pqc")))).head().getInt(0) == 8)
    // the compression claim, measured: PQ postings bytes < int8 postings
    // bytes on the same corpus, same cell layout (8 B codes vs 64 B)
    def bytes(d: String): Long = {
      def rec(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(rec).sum else f.length()
      rec(new java.io.File(d))
    }
    def postBytes(d: String): Long =
      graft.operators.AnnStore.postingsPaths(d).map(bytes).sum
    assert(postBytes(dirB) < postBytes(dirA),
      s"pq=${postBytes(dirB)} int8=${postBytes(dirA)}")
    // soundness: EVERY candidate's [lb, ub] contains its exact q3 cosine
    // (the invariant TopKScreenAgg's no-true-member-pruned guarantee
    // rests on)
    val v = corpus.select(col("vec_id"), col("embedding"),
      VectorFunctions.dotScaledFast(col("embedding"), col("embedding")).as("nrm"))
    val cand = Similarity.pqCandidatesIndexed(corpus, dirB, 4,
      graft.operators.AnnStore.read(dirB))
    val checked = cand
      .join(v.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn")), "nid")
      .withColumn("cos",
        when(col("qn") === 0 || col("nn") === 0, lit(0.0))
          .otherwise(VectorFunctions.dotScaledFast(col("qe"), col("ne")).cast("double") /
            sqrt((col("qn") * col("nn")).cast("double"))))
    assert(checked.count() > 0)
    assert(checked.filter(col("cos") < col("lb") - 1e-9 ||
      col("cos") > col("ub") + 1e-9).count() == 0)
    // parity: ADC screening + exact re-rank answers EXACTLY what the
    // int8 index path answers at the shared centroid table (same cells
    // probed, both screens sound, same exact re-rank)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    assert(sorted(Similarity.pqTopKIndexed(corpus, corpus, dirB, 3))
      .sameElements(sorted(Similarity.ivfTopKIndexed(corpus, corpus, dirA, 3))))
    // serving regime (|Q| ≪ |C|, the l35 shape)
    val qb = corpus.filter(col("vec_id") % 20 === 0)
    val pqServe = Similarity.pqTopKIndexed(qb, corpus, dirB, 3)
    assert(sorted(pqServe)
      .sameElements(sorted(Similarity.ivfTopKIndexed(qb, corpus, dirA, 3))))
    // plan gates, on the AQE-final section (same discipline as the int8
    // index test): exactly ONE postings scan, and ZERO assignment
    // probes anywhere in the serve plan — the probe side (cells, LUTs)
    // is built once before the candidate join (a LUT UDF left in the
    // plan re-evaluated per candidate row, 24 s of a 26 s pass at 10⁵),
    // so the executed plan carries neither a corpus-side nor a
    // query-side per-row recompute. Both probe paths: the driver-built
    // one this 25-query batch takes, whose LUTs are local-relation data,
    // and the distributed one (floor 0), whose checkpoint keeps
    // CollapseProject from folding the LUT into the candidate projection
    val pqServeDist = DriverBatch.withFloor(0)(Similarity.pqTopKIndexed(qb, corpus, dirB, 3))
    assert(sorted(pqServeDist).sameElements(sorted(pqServe)))
    for ((served, path) <- Seq(pqServe -> "driver-built", pqServeDist -> "distributed")) {
      val p = served.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head.toLowerCase
      assert(p.linesIterator.count(l => l.contains("scan") && l.contains("seg_")) == 1,
        s"$path: PQ read path must scan the postings segments exactly once:\n${p.take(1500)}")
      assert("nearestcellsexpr".r.findAllIn(p).isEmpty,
        s"$path: per-row assignment recompute in the serve plan:\n${p.take(1500)}")
      assert(!p.contains("pqludf") && !p.contains("udf(") && "scalaudf".r.findAllIn(p).isEmpty,
        s"$path: LUT UDF leaked into the per-candidate serve plan:\n${p.take(1500)}")
    }
    val pushed = postingsPushed(pqServe)
    assert(pushed.nonEmpty && pushed.forall(_.contains("In(cell,")),
      s"the probed cells must reach the PQ postings scan as a pushed filter: $pushed")
  }

  test("PQ codebooks: bit-identical rebuild, ks self-caps on a tiny corpus") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val d1 = tempDir("graft_pq_d1")
    val d2 = tempDir("graft_pq_d2")
    Similarity.buildPqIndex(corpus, d1, cellCap = Some(256)).count()
    Similarity.buildPqIndex(corpus, d2, cellCap = Some(256)).count()
    def cb(d: String) = graft.operators.AnnStore.codebooks(spark, d)
      .orderBy(col("sub"), col("code"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    assert(cb(d1).sameElements(cb(d2)))
    def codes(d: String) = Similarity.indexPostings(spark, d)
      .select(col("vec_id"), col("pqc"), col("rn")).orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getDouble(2)))
    assert(codes(d1).sameElements(codes(d2)))
    // a corpus smaller than ks must still train, cap codewords at the
    // sample size, and keep serve parity against the int8 tier
    val tiny = corpus.orderBy(col("vec_id")).limit(40)
    val tA = tempDir("graft_pq_ta")
    val tB = tempDir("graft_pq_tb")
    Similarity.buildIvfIndex(tiny, tA, nlistOpt = Some(4)).count()
    Similarity.buildPqIndex(tiny, tB, centroidsFrom = Some(tA)).count()
    assert(graft.operators.AnnStore.codebooks(spark, tB)
      .groupBy(col("sub")).agg(countDistinct(col("code")).as("k"))
      .agg(max(col("k"))).head().getLong(0) <= 40)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    assert(sorted(Similarity.pqTopKIndexed(tiny, tiny, tB, 2))
      .sameElements(sorted(Similarity.ivfTopKIndexed(tiny, tiny, tA, 2))))
  }

  test("index append: read path after append is row-identical to a fixed-centroid rebuild") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val dir1 = tempDir("graft_idx_app")
    val dir2 = tempDir("graft_idx_reb")
    Similarity.buildIvfIndex(base.select(col("vec_id"), col("embedding")),
      dir1, cellCap = Some(256)).count()
    // untouched-cell witness: a cell the batch does not post into must
    // keep its file set byte-for-byte (append never rewrites it)
    val appended = Similarity.appendToIvfIndex(
      batch.select(col("vec_id"), col("embedding")), dir1)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(appended.values.sum == batch.count())
    // both segments in the one layout; the batch-sized append is ONE file
    val segs = AnnStore.read(dir1).segments
    assertOneLayout(s"$dir1/${segs.head}", "cell", "vec_id")
    assert(assertOneLayout(s"$dir1/${segs.last}", "cell", "vec_id").size == 1)
    // metadata refresh: centroid table counts now cover the full corpus
    val meta = Similarity.indexCentroids(spark, dir1)
    assert(meta.agg(sum(col("n_vectors"))).head().getLong(0) == emb.count())
    // parity: append ≡ rebuild at the SAME centroids (centroidsFrom)
    Similarity.buildIvfIndex(emb.select(col("vec_id"), col("embedding")),
      dir2, centroidsFrom = Some(dir1)).count()
    def rows(d: String) = Similarity.ivfTopKIndexed(emb, emb, d, 3)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(dir1).sameElements(rows(dir2)))
  }

  test("index delete: read path after delete ≡ fixed-centroid rebuild without the ids; emptied cells drop") {
    val dir1 = tempDir("graft_idx_del")
    val dir2 = tempDir("graft_idx_delref")
    Similarity.buildIvfIndex(emb.select(col("vec_id"), col("embedding")),
      dir1, cellCap = Some(256)).count()
    val delIds = emb.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    val removed = Similarity.deleteFromIvfIndex(delIds, dir1)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(removed.values.sum == delIds.count(), "every id must be removed once")
    assert(assertOneLayout(s"$dir1/${AnnStore.read(dir1).tombstones.head}", "vec_id").size == 1)
    // bookkeeping refresh: counts cover exactly the survivors, and the
    // LIVE posting view agrees (tombstoned rows are invisible to every
    // reader even though no posting file was rewritten)
    val remaining = emb.filter(col("vec_id") % 10 =!= 7)
    val meta = Similarity.indexCentroids(spark, dir1)
    assert(meta.agg(sum(col("n_vectors"))).head().getLong(0) == remaining.count())
    val postIds = Similarity.indexPostings(spark, dir1)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(postIds == remaining.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet)
    // the deletion law: post-delete serve ≡ fresh build over the
    // surviving corpus at the SAME centroids
    Similarity.buildIvfIndex(remaining.select(col("vec_id"), col("embedding")),
      dir2, cellCap = Some(256), centroidsFrom = Some(dir1)).count()
    def rows(d: String) = Similarity.ivfTopKIndexed(remaining, remaining, d, 3)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(dir1).sameElements(rows(dir2)))
    // idempotence: re-deleting the same ids is a no-op
    assert(Similarity.deleteFromIvfIndex(delIds, dir1).count() == 0)
    // emptied-cell handling: delete EVERYTHING in some cell — the LIVE
    // view shows no rows for it, and a compact (which materializes the
    // tombstones) physically drops its rows
    val firstCell = Similarity.indexPostings(spark, dir1)
      .select(col("cell")).orderBy(col("cell")).head().getInt(0)
    val cellIds = Similarity.indexPostings(spark, dir1)
      .filter(col("cell") === firstCell).select(col("vec_id"))
    Similarity.deleteFromIvfIndex(cellIds, dir1).count()
    assert(Similarity.indexPostings(spark, dir1)
      .filter(col("cell") === firstCell).count() == 0)
    // (codes is BINARY — hex it so row equality is value equality)
    def stableRows() = Similarity.indexPostings(spark, dir1)
      .select(col("vec_id"), hex(col("codes")).as("codes"), col("cdot"),
        col("m"), col("nrm"), col("shard"), col("cell"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val preCompact = stableRows()
    Similarity.compactIvfIndex(spark, dir1)
    graft.operators.AnnStore.vacuum(dir1)
    // post-compact: one segment in the one layout, zero tombstones,
    // row-identical view, and the emptied cell's rows are GONE from disk
    val man = graft.operators.AnnStore.read(dir1)
    assert(man.segments.size == 1 && man.tombstones.isEmpty)
    assert(stableRows().sameElements(preCompact))
    assert(assertOneLayout(s"$dir1/${man.segments.head}", "cell", "vec_id")
      .forall(f => spark.read.parquet(f.getAbsolutePath).filter(col("cell") === firstCell).isEmpty),
      "no file of the compacted segment may hold a row of the emptied cell")
  }

  test("PQ index append: serve after append ≡ fixed-centroid+codebook rebuild; delete law holds on the PQ tier") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val base = corpus.filter(col("vec_id") % 10 =!= 0)
    val batch = corpus.filter(col("vec_id") % 10 === 0)
    val dir1 = tempDir("graft_pq_app")
    val dir2 = tempDir("graft_pq_reb")
    Similarity.buildPqIndex(base, dir1, cellCap = Some(256)).count()
    val appended = Similarity.appendToPqIndex(batch, dir1)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(appended.values.sum == batch.count())
    assert(assertOneLayout(s"$dir1/${AnnStore.read(dir1).segments.last}",
      "cell", "vec_id").size == 1)
    // metadata refresh covers the full corpus
    assert(Similarity.indexCentroids(spark, dir1)
      .agg(sum(col("n_vectors"))).head().getLong(0) == corpus.count())
    // appended postings carry codes from the PERSISTED codebooks: the
    // rebuild reuses them via codebooksFrom, and the serve paths agree
    // row for row
    Similarity.buildPqIndex(corpus, dir2,
      centroidsFrom = Some(dir1), codebooksFrom = Some(dir1)).count()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    assert(sorted(Similarity.pqTopKIndexed(corpus, corpus, dir1, 3))
      .sameElements(sorted(Similarity.pqTopKIndexed(corpus, corpus, dir2, 3))))
    // and the appended codes are BIT-identical to the rebuild's for the
    // batch ids (same codebooks ⇒ same encode)
    def codes(d: String) = Similarity.indexPostings(spark, d)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), hex(col("pqc")), col("rn"))
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(codes(dir1) == codes(dir2))
    // deletion law on the PQ tier: deleteFromIvfIndex is
    // posting-schema-agnostic (tombstone + centroid refresh), so the
    // same post-delete ≡ fresh-build parity must hold here
    val delIds = corpus.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    val removed = Similarity.deleteFromIvfIndex(delIds, dir1)
      .collect().map(_.getLong(1)).sum
    assert(removed == delIds.count())
    val remaining = corpus.filter(col("vec_id") % 10 =!= 7)
    val dir3 = tempDir("graft_pq_delref")
    Similarity.buildPqIndex(remaining, dir3,
      centroidsFrom = Some(dir1), codebooksFrom = Some(dir1)).count()
    assert(sorted(Similarity.pqTopKIndexed(remaining, remaining, dir1, 3))
      .sameElements(sorted(Similarity.pqTopKIndexed(remaining, remaining, dir3, 3))))
  }

  test("mixed-layout ANN generations: a legacy cell-partitioned segment reads ≡ a fresh build; compact rewrites it") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val live = corpus.filter(col("vec_id") % 4 =!= 3)
    // binary codes hexed, so row equality is value equality
    def stable(df: DataFrame): Set[Seq[Any]] =
      df.select(df.schema.fields.map(f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType) hex(col(f.name)).as(f.name)
        else col(f.name)).toSeq: _*).collect().map(_.toSeq).toSet
    def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString)
    val ivf = tempDir("graft_mixed_ivf")
    val pq = tempDir("graft_mixed_pq")
    Similarity.buildIvfIndex(corpus.filter(col("vec_id") % 4 === 0), ivf).count()
    Similarity.buildPqIndex(corpus.filter(col("vec_id") % 4 === 0), pq,
      centroidsFrom = Some(ivf)).count()
    val ivfRef = tempDir("graft_mixed_ivf_ref")
    val pqRef = tempDir("graft_mixed_pq_ref")
    for ((dir, append) <- Seq[(String, (DataFrame, String, Option[Long]) => DataFrame)](
        ivf -> Similarity.appendToIvfIndex, pq -> Similarity.appendToPqIndex)) {
      // a current-layout append, re-committed in the LEGACY layout
      // (partitioned by cell, as every ANN writer wrote before) in place
      // of its current-layout copy, then a current-layout append on top
      append(corpus.filter(col("vec_id") % 4 === 2), dir, None).count()
      val m = AnnStore.read(dir)
      val legacy = ManifestCommit.uniqueName("seg", m.version + 1)
      spark.read.parquet(s"$dir/${m.segments(1)}").repartition(col("cell"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.partitionBy("cell").parquet(s"$dir/$legacy")
      assert(new java.io.File(s"$dir/$legacy").listFiles().exists(_.getName.startsWith("cell=")))
      val v = m.version + 1
      ManifestCommit.publish(dir, m.copy(version = v, segments = Seq(m.segments.head, legacy),
        tombstones = Nil, batchId = None).record)
      append(corpus.filter(col("vec_id") % 4 === 1), dir, None).count()
      assert(AnnStore.read(dir).segments.size == 3)
    }
    // fresh fixed-centroid (and fixed-codebook) builds over the same rows
    Similarity.buildIvfIndex(live, ivfRef, centroidsFrom = Some(ivf)).count()
    Similarity.buildPqIndex(live, pqRef, centroidsFrom = Some(pq),
      codebooksFrom = Some(pq)).count()
    def assertReadsLikeRef(): Unit = {
      for ((dir, ref) <- Seq(ivf -> ivfRef, pq -> pqRef)) {
        val got = Similarity.indexPostings(spark, dir)
        assert(got.columns.toSeq == Similarity.indexPostings(spark, ref).columns.toSeq)
        assert(got.columns.last == "cell")
        assert(stable(got) == stable(Similarity.indexPostings(spark, ref)))
        assert(stable(spark.sql(s"SELECT * FROM graft_ann_postings('$dir')")) ==
          stable(spark.sql(s"SELECT * FROM graft_ann_postings('$ref')")))
      }
      assert(sorted(Similarity.ivfTopKIndexed(live, live, ivf, 3))
        .sameElements(sorted(Similarity.ivfTopKIndexed(live, live, ivfRef, 3))))
      assert(sorted(Similarity.pqTopKIndexed(live, live, pq, 3))
        .sameElements(sorted(Similarity.pqTopKIndexed(live, live, pqRef, 3))))
    }
    assertReadsLikeRef()
    // compact rewrites the legacy segment into the one layout
    Seq(ivf, pq).foreach { dir =>
      Similarity.compactIvfIndex(spark, dir)
      val segs = AnnStore.read(dir).segments
      assert(segs.size == 1)
      segs.foreach(s => assertOneLayout(s"$dir/$s", "cell", "vec_id"))
    }
    assertReadsLikeRef()
  }

  test("ANN manifest commits: mid-compact reader keeps its generation; vacuum reclaims only garbage") {
    val dir = tempDir("graft_idx_man")
    Similarity.buildIvfIndex(emb.select(col("vec_id"), col("embedding")),
      dir, cellCap = Some(256)).count()
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 5 === 2).select(col("vec_id")), dir).count()
    // a reader that resolved the pre-compact manifest: its DataFrame
    // pins the old segment+tombstone set (one manifest resolve at open)
    val oldReader = Similarity.indexPostings(spark, dir)
    val before = oldReader.count()
    Similarity.compactIvfIndex(spark, dir)
    // the old generation's files are untouched by the commit, so the
    // in-flight reader still computes — and sees its own generation
    assert(oldReader.count() == before)
    // a NEW reader resolves the new manifest: exactly one segment, no
    // tombstone anti-join, same rows
    val man = graft.operators.AnnStore.read(dir)
    assert(man.segments.size == 1 && man.tombstones.isEmpty, s"got $man")
    assert(Similarity.indexPostings(spark, dir).count() == before)
    // vacuum drops exactly the unreferenced directories; the live
    // generation (and the manifest) survive and the view is unchanged
    graft.operators.AnnStore.vacuum(dir)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left == Set(s"MANIFEST.v${man.version}",
      man.cent, man.segments.head), s"unexpected survivors: $left")
    assert(Similarity.indexPostings(spark, dir).count() == before)
    // snapshot read: the current version reads back through its
    // immutable versioned manifest even after the vacuum
    assert(graft.operators.AnnStore.readAt(dir, man.version) == man)
  }

  test("ANN cell counts ride the manifest: append, delete, compact write no centroids") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val base = corpus.filter(col("vec_id") % 10 =!= 0)
    val batch = corpus.filter(col("vec_id") % 10 === 0)
    val dead = corpus.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    def centDirs(d: String): Set[String] =
      new java.io.File(d).listFiles().map(_.getName).filter(_.startsWith("cent_")).toSet
    def postingCounts(d: String): Map[Int, Long] =
      AnnStore.postings(spark, d).groupBy(col("cell")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    for ((tier, dir) <- Seq("ivf" -> tempDir("graft_counts_ivf"), "pq" -> tempDir("graft_counts_pq"))) {
      if (tier == "ivf") Similarity.buildIvfIndex(base, dir, cellCap = Some(256)).count()
      else Similarity.buildPqIndex(base, dir, cellCap = Some(256)).count()
      val built = AnnStore.read(dir)
      val cent = centDirs(dir)
      assert(cent == Set(built.cent), s"$tier: the build writes one centroid generation")
      assert(built.counts == postingCounts(dir), s"$tier: build counts")
      val steps = Seq[(String, () => Unit)](
        "append" -> (() =>
          (if (tier == "ivf") Similarity.appendToIvfIndex(batch, dir)
           else Similarity.appendToPqIndex(batch, dir)).count(): Unit),
        "delete" -> (() => Similarity.deleteFromIvfIndex(dead, dir).count(): Unit),
        "compact" -> (() => Similarity.compactIvfIndex(spark, dir)))
      steps.foreach { case (step, run) =>
        val before = AnnStore.read(dir)
        run()
        val m = AnnStore.read(dir)
        assert(m.version == before.version + 1, s"$tier $step: one commit")
        assert(centDirs(dir) == cent && m.cent == built.cent,
          s"$tier $step must write no centroid generation: ${centDirs(dir)}")
        assert(m.counts == postingCounts(dir), s"$tier $step: counts ≠ live postings per cell")
        assert(AnnStore.readAt(dir, m.version - 1).counts == before.counts,
          s"$tier $step: the previous version keeps its counts")
        // the centroid table keeps its columns; n_vectors is the manifest's
        val c = AnnStore.centroids(spark, dir)
        assert(c.columns.toSeq == Seq("cell", "centroid", "cnorm", "nshards", "n_vectors"))
        assert(c.filter(col("n_vectors") > 0).collect()
          .map(r => r.getInt(0) -> r.getLong(4)).toMap == m.counts)
      }
      assert(AnnStore.read(dir).counts.values.sum == corpus.count() - dead.count())
      AnnStore.vacuum(dir, retainVersions = 0, minAgeMs = 0L)
      assert(centDirs(dir) == cent, s"$tier: vacuum leaves exactly the one centroid generation")
    }
  }

  test("IVF hot-cell guard: sharding is result-identical and bounds the join bucket") {
    import spark.implicits._
    // the semDedup cellCap fixture shape: a tight 300-member cluster
    // whose ODD ids dodge the stride-centroid seed, so the whole blob
    // lands in one cell — the quadratic-bucket adversary
    val rng = new scala.util.Random(11)
    val dim = 8
    def jitter(i: Int): Seq[Float] =
      (Seq(10.0f) ++ Seq.fill(dim - 1)(0.0f)).zipWithIndex.map {
        case (x, j) => x + (rng.nextGaussian() * 0.02).toFloat + (if (j == i % 7 + 1) 0.01f else 0f)
      }
    val cluster = (0 until 300).map(i => (1001L + 2 * i, jitter(i)))
    val background = (0 until 100).map(i =>
      (i.toLong, Seq.fill(dim)((rng.nextGaussian() * 3).toFloat)))
    val corpus = (cluster ++ background).toDF("vec_id", "embedding")

    // result identity: probe rows replicate across every shard of a hot
    // cell, so the candidate set — and the top-k — cannot change
    def rows(cap: Option[Int]) =
      Similarity.ivfTopKInt8(corpus, corpus, 3, nlist = Some(8), cellCap = cap)
        .collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(Some(32)).sameElements(rows(None)))
    // persisted form of the same guard: no (cell, shard) join bucket in
    // the index exceeds ~2×cap (id-hash sharding is random, not
    // exact-equal slicing — content hashing would pile the near-
    // identical cluster, whose int8 codes collide, back into one
    // shard), while uncapped the hot cell is one bucket
    val dir = tempDir("graft_idx_hot")
    Similarity.buildIvfIndex(corpus, dir, nlistOpt = Some(8),
      cellCap = Some(32)).count()
    val buckets = Similarity.indexPostings(spark, dir)
      .groupBy(col("cell"), col("shard")).agg(count(lit(1)).as("c"))
    assert(buckets.agg(max(col("c"))).head().getLong(0) <= 64,
      "hot cell must shard to ≤ 2×cap per join bucket")
    assert(buckets.filter(col("c") > 0).count() >= 10,
      "the 300-member hot cell must split into ≥ ceil(300/32) shards")
    // indexed read on the clustered corpus still matches the direct path
    val got = Similarity.ivfTopKIndexed(corpus, corpus, dir, 3)
      .collect().map(_.toSeq).sortBy(_.toString)
    val want = Similarity.ivfTopKInt8(corpus, corpus, 3, nlist = Some(8))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.sameElements(want))
  }

  test("semDedup: cascade drops along sub-threshold chains (pinned greedy semantics)") {
    import spark.implicits._
    // a < b < c with cos(a,b) ≈ cos(b,c) ≈ cos(30°) ≈ 0.866 ≥ τ=0.8 but
    // cos(a,c) = cos(60°) = 0.5 < τ: the greedy sweep drops b (near a)
    // AND c (near b), even though c's only qualifying neighbor b does
    // not survive — the documented over-deletion trade. nlist=1 forces
    // one cell so cluster scoping can't hide the chain.
    def v(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat) ++ Seq.fill(6)(0.0f)
    }
    val chain = Seq((1L, v(0)), (2L, v(30)), (3L, v(60)))
      .toDF("vec_id", "embedding")
    val survivors = Similarity
      .semDedup(chain, "vec_id", "embedding", 0.8, nlistOpt = Some(1))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L), s"greedy cascade must leave only the chain head: $survivors")
    // component-exact alternative on the same chain: close qualifying
    // PAIRS (a,b) and (b,c) transitively — one component {a,b,c}, so a
    // component-survivor policy also keeps exactly {a}, while a
    // pair-at-a-time policy without closure would wrongly keep c
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val comps = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("near-dup code prefilter: identical output to the exact-in-join shape") {
    import spark.implicits._
    // the prefilter screens candidates on code-space cosine with a
    // sound margin, then rescores exactly — output must be SET-IDENTICAL
    // to the reference shape on any corpus, including adversarial
    // scales (tiny norms make the margin ≥ 2 ⇒ screen-keep-all)
    def pairs(df: org.apache.spark.sql.DataFrame, pre: Boolean) =
      Similarity.cosineNearDup(df, "vec_id", "embedding", threshold = 0.8,
          codePrefilter = pre)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(doubled, pre = true) == pairs(doubled, pre = false))
    assert(pairs(doubled, pre = true).nonEmpty)

    val rng = new scala.util.Random(5)
    val nasty = ((0 until 200).map { i =>
      // 4f keeps q3-norm² products inside Long (the engine's documented
      // scoring domain — cosCol's na·nb must not overflow)
      val scale = Seq(1e-3f, 1f, 4f)(i % 3)
      (i.toLong, Seq.fill(16)(rng.nextGaussian().toFloat * scale))
    } ++ Seq(
      (900L, Seq.fill(16)(0.0f)),                    // zero vector
      (901L, (Seq(1f) ++ Seq.fill(15)(0f))),         // one-hot
      (902L, (Seq(1f) ++ Seq.fill(15)(0f))),         // its exact twin
      (903L, Seq.fill(16)(1e-4f)))                   // tiny norm
    ).toDF("vec_id", "embedding")
    val got = pairs(nasty, pre = true)
    assert(got == pairs(nasty, pre = false))
    assert(got.contains((901L, 902L))) // the planted exact pair survives
  }

  test("code-prefilter margin is sound: |exact − code cosine| ≤ M (pure JVM law)") {
    // mirrors the engine's bound derivation: a = q3(v), codes =
    // round(127 v/m), r = √len·(0.5 + 500m/127)/‖a‖,
    // M = 2(r_a + r_b) + 4 r_a r_b — Cauchy-Schwarz on the residuals
    val rng = new scala.util.Random(17)
    def q3v(v: Array[Double]): Array[Long] = v.map { x =>
      val d = x * 1000
      (if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)).toLong
    }
    def codes(v: Array[Double]): (Array[Long], Double) = {
      val m = v.map(math.abs).max
      (if (m == 0) v.map(_ => 0L)
       else v.map(x => math.floor(x * 127 / m + 0.5).toLong), m)
    }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val na = math.sqrt(a.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    var checked = 0
    for (t <- 0 until 500) {
      val dim = 8 + rng.nextInt(57)
      val scale = Seq(1e-3, 0.1, 1.0, 30.0, 2000.0)(t % 5)
      def vec() = Array.fill(dim)(rng.nextGaussian() * scale)
      val (va, vb) = (vec(), vec())
      val (qa, qb) = (q3v(va), q3v(vb))
      val ((ca, ma), (cb, mb)) = (codes(va), codes(vb))
      val na = math.sqrt(qa.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(qb.map(x => x * x).sum.toDouble)
      if (na > 0 && nb > 0) {
        val ra = math.sqrt(dim.toDouble) * (0.5 + 500.0 * ma / 127.0) / na
        val rb = math.sqrt(dim.toDouble) * (0.5 + 500.0 * mb / 127.0) / nb
        val m = 2 * (ra + rb) + 4 * ra * rb
        val delta = math.abs(cos(qa, qb) - cos(ca, cb))
        assert(delta <= m + 1e-12, s"margin violated: |Δ|=$delta M=$m dim=$dim scale=$scale")
        checked += 1
      }
    }
    assert(checked > 400)
  }

  test("multi-probe LSH: fewer bands for the same target, superset law, planted recall") {
    import spark.implicits._
    // band-count math: Hamming-1 probing lifts per-band match
    // probability to the ≤1-mismatch binomial tail — at the 10⁹-regime
    // width (b = 15) the SAME 95%-at-cosine-0.9 target needs ~3.5×
    // fewer bands, which is the term corpus shuffle rows and signature
    // flops scale with (SCALE.md's multi-probe section)
    val std15 = Similarity.bandsForRecall(0.9, 15, 0.05)
    val mp15 = Similarity.bandsForRecallMultiProbe(0.9, 15, 0.05)
    assert(mp15 * 3 <= std15, s"expected ≥3× band reduction at b=15: $std15 vs $mp15")

    // planted near-threshold pairs at cosine cos(25°) ≈ 0.906
    val rng = new scala.util.Random(23)
    val dim = 16
    def unit(): Array[Double] = {
      val a = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
    def rotated(v: Array[Double], deg: Double): Array[Double] = {
      val g0 = unit()
      val d = g0.zip(v).map { case (x, y) => x * y }.sum
      val g1 = g0.zip(v).map { case (x, y) => x - d * y }
      val gn = math.sqrt(g1.map(x => x * x).sum)
      val r = math.toRadians(deg)
      v.zip(g1).map { case (x, y) => math.cos(r) * x + math.sin(r) * (y / gn) }
    }
    val bases = (0 until 50).map(i => (i.toLong, unit()))
    val partners = bases.map { case (i, v) => (1000L + i, rotated(v, 25.0)) }
    val background = (0 until 400).map(i => (2000L + i, unit()))
    val corpus = (bases ++ partners ++ background)
      .map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")

    // superset law: with IDENTICAL bands/width/seed, the multi-probe
    // candidate set contains every single-probe candidate (the probe
    // set includes the exact key)
    def pairsOf(mp: Boolean): Set[(Long, Long)] =
      Similarity.lshScoredPairs(corpus, corpus, bands = Some(6),
          bitsPerBand = Some(5), dim = dim, multiProbe = mp)
        .select(col("qid"), col("nid")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairsOf(mp = false)
    val multi = pairsOf(mp = true)
    assert(single.subsetOf(multi), s"probe set must include the exact key")

    // recall with the REDUCED derived band count: each base's partner
    // (cosine ≈ 0.906) lands in its top-3 despite half the bands
    val top = Similarity.lshTopK(corpus, corpus, 3, dim = dim, multiProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = bases.count { case (i, _) => top.contains((i, 1000L + i)) } / 50.0
    assert(recall >= 0.9, s"multi-probe planted recall $recall")
  }

  test("LSH code screen: identical output to the direct fused shape (branch-and-bound law)") {
    import spark.implicits._
    // the two-pass screen keeps, per query, every candidate whose sound
    // interval could reach the top k, then rescores exactly — output
    // must be ROW-identical to scoring every banded candidate exactly,
    // on any corpus, any k, and under multi-probe keys
    def rows(df: org.apache.spark.sql.DataFrame, k: Int, screen: Boolean,
        mp: Boolean = false): Seq[Seq[Any]] =
      Similarity.lshTopK(df, df, k, codeScreen = screen, multiProbe = mp)
        .orderBy(col("qid"), col("rank"))
        .collect().map(_.toSeq).toSeq
    for (k <- Seq(1, 3)) {
      assert(rows(emb, k, screen = true) == rows(emb, k, screen = false),
        s"screened top-$k diverged from the direct shape")
    }
    assert(rows(doubled, 3, screen = true) == rows(doubled, 3, screen = false))
    assert(rows(emb, 3, screen = true, mp = true) ==
      rows(emb, 3, screen = false, mp = true),
      "screened multi-probe top-3 diverged")

    // adversarial norms: tiny/zero/mixed scales make the margin weak
    // (≥ 2 ⇒ screen keeps everything) — output must STILL be identical
    val rng = new scala.util.Random(7)
    val nasty = ((0 until 120).map { i =>
      val scale = Seq(1e-3f, 1f, 4f)(i % 3)
      (i.toLong, Seq.fill(16)(rng.nextGaussian().toFloat * scale))
    } ++ Seq(
      (900L, Seq.fill(16)(0.0f)),
      (901L, (Seq(1f) ++ Seq.fill(15)(0f))),
      (902L, (Seq(1f) ++ Seq.fill(15)(0f))),
      (903L, Seq.fill(16)(1e-4f)))
    ).toDF("vec_id", "embedding")
    assert(rows(nasty, 3, screen = true) == rows(nasty, 3, screen = false))
    assert(rows(nasty, 3, screen = true).nonEmpty)
  }

  test("semDedup cellCap: hot clustered cell is sharded, exact-dup law survives capping") {
    import spark.implicits._
    // adversarial CLUSTERED corpus (the shape stride centroids are
    // flattered to miss on the N(0,1) fixtures): 300 distinct tight
    // perturbations of one direction (pairwise cos > 0.99) + scattered
    // background + one planted EXACT duplicate pair inside the cluster.
    // Uncapped, the whole cluster lands in one cell — a quadratic
    // bucket; capped, it shards at ~cap with content-hash keys.
    val rng = new scala.util.Random(11)
    val dim = 8
    def jitter(i: Int): Seq[Float] =
      (Seq(10.0f) ++ Seq.fill(dim - 1)(0.0f)).zipWithIndex.map {
        case (x, j) => x + (rng.nextGaussian() * 0.02).toFloat + (if (j == i % 7 + 1) 0.01f else 0f)
      }
    // ODD ids keep the cluster out of the stride-seed set (stride is
    // even here), so no centroid lands inside the cluster — the whole
    // blob falls to one nearest background centroid: the hot cell
    val cluster = (0 until 300).map(i => (1001L + 2 * i, jitter(i)))
    val background = (0 until 100).map(i =>
      (i.toLong, Seq.fill(dim)((rng.nextGaussian() * 3).toFloat)))
    val exactPair = Seq((5001L, cluster.head._2)) // copy of id 1001
    val corpus = (cluster ++ background ++ exactPair).toDF("vec_id", "embedding")

    val cap = 32
    val cells = Similarity.semDedupCells(corpus, "vec_id", "embedding",
      nlistOpt = Some(8), cellCap = Some(cap))
    // skew bound: no (cell, shard) comparison bucket exceeds ~2×cap
    // (content-hash sharding is random, not exact-equal slicing)
    val maxBucket = cells.groupBy(col("cell"), col("shard"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
    assert(maxBucket <= 2L * cap, s"hot cell not sharded: max bucket $maxBucket")
    // vs uncapped: the cluster really is one quadratic cell without the guard
    val maxCell = Similarity.semDedupCells(corpus, "vec_id", "embedding",
      nlistOpt = Some(8)).groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
    assert(maxCell >= 300, s"fixture must concentrate the cluster: max cell $maxCell")

    // exact-dup law under capping: identical vectors co-shard (content
    // hash), so the planted copy is ALWAYS dropped and its original kept
    val survivors = Similarity.semDedup(corpus, "vec_id", "embedding", 0.95,
      nlistOpt = Some(8), cellCap = Some(cap))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!survivors.contains(5001L) && survivors.contains(1001L))
    // capping only ever trades recall (fewer drops), never over-deletes:
    // capped survivors ⊇ uncapped survivors
    val uncapped = Similarity.semDedup(corpus, "vec_id", "embedding", 0.95,
      nlistOpt = Some(8))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(uncapped.subsetOf(survivors),
      s"capping must not drop pairs the uncapped sweep keeps")
  }

  test("langid: deterministic and sane on clear-cut samples") {
    import spark.implicits._
    val t = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el la de que y en un los"),
      (3L, "der und das ist ein zu"),
      (4L, "qqq www eee")).toDF("doc_id", "text")
    val got = t.select(col("doc_id"), TextAnalysis.langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "de" && got(4L) == "und")
    val a = LlmQueries.l8LangId.run(spark, sf).collect()
    val b = LlmQueries.l8LangId.run(spark, sf).collect()
    assert(a.sameElements(b))
  }

  test("int8 quantization: codes bounded, zero-vector safe, dequantized cosine close") {
    import spark.implicits._
    val rows = emb.limit(40)
      .withColumn("m", VectorFunctions.maxAbs(col("embedding")))
      .withColumn("codes", VectorFunctions.int8Codes(col("embedding"), col("m")))
      .select($"vec_id", $"embedding", $"m", $"codes")
      .collect()
      .map(r => (r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(2),
        r.getSeq[Long](3).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    rows.foreach { case (v, m, codes) =>
      assert(codes.forall(c => c >= -127 && c <= 127), s"code out of int8 range")
      assert(codes.length == v.length)
      assert(m > 0)
    }
    // dequantized cosine tracks the exact cosine — the property that
    // makes SQ usable as an ANN pre-filter
    val (v0, m0, c0) = rows.head
    val dq0 = c0.map(_ * m0 / 127.0)
    rows.tail.take(20).foreach { case (v, m, c) =>
      val dq = c.map(_ * m / 127.0)
      val err = math.abs(cos(v0, v) - cos(dq0, dq))
      assert(err <= 0.05, s"dequantized cosine drifted by $err")
    }
    // zero vector codes to all zeros, no division blowup
    val z = Seq((1L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
      .withColumn("m", VectorFunctions.maxAbs(col("embedding")))
      .withColumn("codes", VectorFunctions.int8Codes(col("embedding"), col("m")))
      .select($"codes").head().getSeq[Long](0)
    assert(z.forall(_ == 0L))
  }

  test("near-dup hot-bucket guard: triangle sharding is result-identical on a duplicate mass") {
    import spark.implicits._
    // the band-join adversary: a 150-member near-identical mass shares
    // EVERY band key, making one (band, bkey) bucket quadratic; plus
    // scattered background and an exact planted pair far from the mass
    val rng = new scala.util.Random(31)
    val dim = 16
    val mass = (0 until 150).map { i =>
      (i.toLong, (0 until dim).map(j =>
        ((if (j == 0) 8.0 else 0.1) + rng.nextGaussian() * 0.01).toFloat))
    }
    val background = (200 until 300).map(i =>
      (i.toLong, Seq.fill(dim)((rng.nextGaussian() * 2).toFloat)))
    val twinBase = Seq.fill(dim)((rng.nextGaussian() * 2).toFloat)
    val corpus = (mass ++ background ++
      Seq((900L, twinBase), (901L, twinBase))).toDF("vec_id", "embedding")

    def pairs(cap: Option[Int]) =
      Similarity.cosineNearDup(corpus, "vec_id", "embedding", threshold = 0.8,
          dim = dim, bucketCap = cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    val unguarded = pairs(None)
    val guarded = pairs(Some(16))
    // every pair meets at exactly one (band, bkey, s1, s2) key, so the
    // guard changes the physical bucket bound and NOTHING else
    assert(guarded == unguarded,
      s"guarded=${guarded.size} unguarded=${unguarded.size}")
    assert(guarded.contains((900L, 901L)), "planted exact twin must survive")
    // the mass really is the adversary: its pairs dominate the output
    assert(guarded.keys.count { case (a, b) => a < 150 && b < 150 } > 1000)
  }

  test("auto guards: engage on a planted mass, stay off (identical plan) on scattered data") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 16
    // a 4500-member EXACT-duplicate mass — past the guards' 4096-row
    // absolute floor, the regime where one (band, bkey) bucket or one
    // IVF cell is a quadratic join key. Exact copies, not noised ones,
    // BY DESIGN: stride-derived centroids from a merely-noised cluster
    // land ~proportionally inside it and split the mass across many
    // near-identical cells (no hot cell — and the probe correctly
    // declines), while exact copies tie-break to ONE cell, which is
    // precisely the boilerplate-duplicate hazard the guards exist for.
    val massVec = (0 until dim).map(j =>
      (if (j == 0) 8.0f else 0.1f))
    val mass = (0 until 4500).map(i => (i.toLong, massVec))
    val background = (10000 until 10600).map(i =>
      (i.toLong, Seq.fill(dim)((rng.nextGaussian() * 2).toFloat)))
    val clustered = (mass ++ background).toDF("vec_id", "embedding")
    val n0 = clustered.count()

    // the DECISION: clustered corpus engages both guards, the scattered
    // fixture engages neither
    val bits = Similarity.nearDupBits(n0)
    assert(Similarity.autoBucketCap(clustered, "vec_id", "embedding",
      n0, bits, dim = dim).isDefined, "mass must engage the bucket guard")
    // nlist matters for engageability: expected = n/nlist, and a hot
    // cell can never exceed 8× expected when nlist ≤ 8 (that would be
    // the whole corpus) — 64 cells put the 4500-row mass at ~56×
    // expected, well past both the ratio and the 4096 floor
    assert(Similarity.autoCellCapFor(clustered, Some(64)).isDefined,
      "mass must engage the cell guard")
    val scat = emb.select(col("vec_id"), col("embedding"))
    val nScat = scat.count()
    assert(Similarity.autoBucketCap(scat, "vec_id", "embedding",
      nScat, Similarity.nearDupBits(nScat)).isEmpty,
      "scattered fixture must not engage the bucket guard")
    assert(Similarity.autoCellCapFor(scat).isEmpty,
      "scattered fixture must not engage the cell guard")

    // scattered corpora: auto ON must build the BYTE-IDENTICAL plan
    // (the probe runs and declines; nothing else changes)
    // (expression ids and broadcast indices are allocation counters —
    // normalize them; everything structural must match)
    def ndPlan(auto: Boolean) = Similarity.cosineNearDup(scat, "vec_id",
        "embedding", threshold = 0.8, autoGuard = auto)
      .queryExecution.optimizedPlan.toString
      .replaceAll("#\\d+", "#").replaceAll("Broadcast\\(\\d+\\)", "Broadcast()")
    assert(ndPlan(auto = true) == ndPlan(auto = false))

    // clustered corpora: auto-guarded results are row-identical to the
    // unguarded run (narrow band params keep the deliberately-quadratic
    // mass output at spec scale; both sides share them, and the probe's
    // engagement only needs the mass, not the band count)
    def ndChk(auto: Boolean) = {
      val d = Similarity.cosineNearDup(clustered, "vec_id", "embedding",
        threshold = 0.8, bitsPerBand = Some(8), bandsOverride = Some(1),
        dim = dim, autoGuard = auto)
      // bit_xor, not sum: ANSI mode makes a 10M-row hash sum overflow
      d.agg(count(lit(1)), expr("bit_xor(xxhash64(id_a, id_b, cos))"))
        .head.toSeq
    }
    assert(ndChk(auto = true) == ndChk(auto = false))
    def ivfChk(auto: Boolean) = {
      // nlist = 64 so the auto probe actually ENGAGES (see above) and
      // this identity exercises guarded-vs-unguarded, not trivial-equal
      val d = Similarity.ivfTopKInt8(clustered, clustered, 3,
        nlist = Some(64), autoGuard = auto)
      d.agg(count(lit(1)), expr("bit_xor(xxhash64(qid, nid, cos))"))
        .head.toSeq
    }
    assert(ivfChk(auto = true) == ivfChk(auto = false))
  }

  test("JL projection: bit-deterministic, copy-invariant, distortion bounded and shrinking in outDim") {
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    // bit-determinism across invocations (seeded counter-based matrix,
    // fixed-order dot — the property the Python cross-oracle relies on)
    val p1 = Similarity.jlProject(base, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p2 = Similarity.jlProject(base, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p1 == p2)
    assert(p1.head._2.length == 16)
    // exact copies project to identical vectors (row-local determinism)
    val dd = Similarity.jlProject(doubled, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, v) <- p1) assert(dd(id + 1000000L) == v)
    // distance preservation: JL distortion on pairwise cosines is
    // bounded in aggregate and SHRINKS as outDim grows (seeded, so the
    // thresholds are stable, not flaky)
    def meanCosErr(outDim: Int): Double = {
      val proj = Similarity.jlProject(base, "vec_id", "embedding",
        outDim = outDim)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val orig = base.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val ids = orig.keys.toArray.sorted.take(60)
      val errs = for (a <- ids; b <- ids if a < b)
        yield math.abs(cos(proj(a), proj(b)) - cos(orig(a), orig(b)))
      errs.sum / errs.length
    }
    val e8 = meanCosErr(8); val e32 = meanCosErr(32)
    assert(e8 < 0.35, s"mean cosine distortion at outDim=8 is $e8")
    assert(e32 < 0.15, s"mean cosine distortion at outDim=32 is $e32")
    assert(e32 < e8, s"distortion must shrink with outDim: $e32 !< $e8")
  }

  test("centroid refinement: deterministic, refineIters=0 is the seed, alignment improves on clustered data") {
    import spark.implicits._
    // three well-separated direction clusters laid out so the id-stride
    // seed picks 3 seeds from cluster A and 1 from B, and NONE from C —
    // the clustered-corpus adversary where raw stride seeding leaves a
    // whole cluster with no aligned centroid (its members fall into the
    // B seed's cell at cosine ≈ 0)
    val rng = new scala.util.Random(23)
    val dim = 8
    def member(axis: Int): Seq[Float] =
      (0 until dim).map(j =>
        (if (j == axis) 10.0 else 0.0) + rng.nextGaussian() * 0.05).map(_.toFloat)
    val corpus = ((0 until 600).map(i => (i.toLong, member(0))) ++
      (600 until 800).map(i => (i.toLong, member(1))) ++
      (800 until 1000).map(i => (i.toLong, member(2))))
      .toDF("vec_id", "embedding")
    val nlist = 4
    val stride = 1000L / nlist

    def centroids(iters: Int) =
      Similarity.deriveCentroids(corpus, "embedding", nlist, stride, iters)
    val seed = centroids(0)
    val refined = centroids(2)

    // refineIters = 0 IS the stride seed (no hidden refinement)
    assert(seed._1.map(_.toSeq).toSeq == centroids(0)._1.map(_.toSeq).toSeq)
    // determinism: the integer-sum mean makes repeat runs bit-identical
    val again = centroids(2)
    assert(refined._1.map(_.toSeq).toSeq == again._1.map(_.toSeq).toSeq)
    assert(refined._2.toSeq == again._2.toSeq)
    // Lloyd moved the B-cluster seed toward the B∪C mass: mean best-cell
    // alignment strictly improves (cluster C sat at ≈0 under the seed)
    val alignSeed = Similarity.centroidAlignment(corpus, "embedding", seed._1, seed._2)
    val alignRef = Similarity.centroidAlignment(corpus, "embedding", refined._1, refined._2)
    assert(alignRef > alignSeed + 0.02,
      s"refinement must improve alignment on clustered data: $alignSeed -> $alignRef")

    // the refined path still returns a valid, well-formed top-k
    val topk = Similarity.ivfTopK(corpus, corpus, 3, nlist = Some(nlist),
      refineIters = 2)
    assert(topk.filter(col("qid") === col("nid")).count() == 0)
    val perQ = topk.groupBy(col("qid")).agg(count(lit(1)).as("c"))
    assert(perQ.filter(col("c") > 3).count() == 0)
    assert(topk.count() > 0)
  }

  test("clusterAssign: total partition, partitioning-invariant, planted clusters coherent") {
    import spark.implicits._
    // three orthogonal direction clusters in contiguous id ranges with
    // nlist = 3, so the stride seed (ids 0, 300, 600) lands one seed in
    // each cluster — the WELL-CONDITIONED case where k-means must
    // recover the planted structure exactly. (With nlist > #clusters,
    // splitting a cluster across two cells is correct k-means behavior,
    // not a bug — that regime is covered by the refinement-alignment
    // law above, not by a purity assertion.)
    val rng = new scala.util.Random(31)
    val dim = 8
    def member(axis: Int): Seq[Float] =
      (0 until dim).map(j =>
        (if (j == axis) 10.0 else 0.0) + rng.nextGaussian() * 0.05).map(_.toFloat)
    val rows = (0 until 300).map(i => (i.toLong, member(0), 0)) ++
      (300 until 600).map(i => (i.toLong, member(1), 1)) ++
      (600 until 900).map(i => (i.toLong, member(2), 2))
    val corpus = rows.map(r => (r._1, r._2)).toDF("vec_id", "embedding")

    val a = Similarity.clusterAssign(corpus, "vec_id", "embedding",
      nlist = 3, refineIters = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // total partition: one assignment per input id, cells in range
    assert(a.size == 900)
    assert(a.values.forall(c => c >= 0 && c < 3))
    // partitioning invariance: a different physical layout yields the
    // IDENTICAL assignment (the determinism claim the cross-oracle
    // relies on — quantized-long sums make the Lloyd means
    // evaluation-order-independent)
    val b = Similarity.clusterAssign(corpus.repartition(7), "vec_id",
      "embedding", nlist = 3, refineIters = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b, "assignment must not depend on input partitioning")
    // planted coherence: every planted cluster maps into exactly one
    // cell, and distinct clusters land in distinct cells
    val byTruth = rows.groupBy(_._3).map { case (t, ms) =>
      t -> ms.map(m => a(m._1)).distinct
    }
    byTruth.foreach { case (t, cells) =>
      assert(cells.size == 1, s"planted cluster $t split across cells $cells")
    }
    val reps = byTruth.values.map(_.head).toSeq
    assert(reps.distinct.size == 3, s"planted clusters merged: $reps")
  }

  test("multimodal: pack -> decode stub -> frame sample plumbing") {
    val packed = graft.sources.Multimodal.pack(Tables(spark, sf, "documents"), "text")
    val decoded = graft.sources.Multimodal.decodeStub(packed)
    assert(decoded.filter(col("width") < 16 || col("width") > 80).count() == 0)
    val frames = graft.sources.Multimodal.frameSample(packed, frameBytes = 32, stride = 64)
    assert(frames.count() > packed.count()) // multiple frames per doc
    assert(frames.filter(length(col("frame_bytes")) > 32).count() == 0)
  }
}
