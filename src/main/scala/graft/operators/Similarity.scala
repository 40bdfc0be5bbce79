package graft.operators

import graft.functions.{CentroidMatrix, TopKByScore, VectorFunctions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Approximate/exact nearest-neighbor search over an embedding column
  * (SURVEY §2b L — similarity search).
  *
  * Three tiers:
  *   - [[bruteForceTopK]]: exact cosine top-k via join + heap top-k. The
  *     corpus side is broadcast when it fits (dimension-table pattern);
  *     this is the baseline and the recall oracle.
  *   - [[lshTopK]]: random-hyperplane LSH — candidates share a signature
  *     band; the only shuffle is the equality join on band keys.
  *   - [[ivfTopK]]: inverted-file coarse quantizer — candidates share a
  *     centroid cell.
  *
  * Scale parameterization (NOT fixture-tuned — derived from corpus size):
  *   - LSH band width defaults to the measured work optimum
  *     b ≈ log2(n) − log2(log2(n)) bits (see [[lshParams]]) — buckets of
  *     tens, candidates per query O(bands · n/2^b) ≪ O(bands · sqrt(n)).
  *   - IVF nlist defaults to ceil(sqrt(n)), so cells hold ~sqrt(n)
  *     vectors and candidates per query are O(nprobe * sqrt(n)).
  *   - Near-dup band width defaults to ceil(log2(n)) bits — the
  *     total-work optimum (see [[cosineNearDup]]).
  * SimilaritySpec asserts the candidate bounds on a doubled fixture, so
  * the sqrt scaling is pinned by test, not just by this comment.
  *
  * Execution shape (the 10⁵-vector lesson, BENCH_LOCAL.md): scoring is
  * FUSED into the candidate equi-join. Vectors and their precomputed
  * norms ride the band/cell join INPUTS (n·B wide rows — bounded by the
  * corpus, not the candidate count), the pair rows exist only inside the
  * pipelined join→project (wide-row candidates are never materialized to
  * a shuffle), and everything downstream of the join is narrow
  * (qid, nid, cos). The previous ids-only shape — candidate join,
  * pair-distinct over ~n·B·bucket rows, then TWO shuffled joins
  * re-attaching 64-float vectors to every surviving pair — inverts past
  * ~10⁴ vectors: the re-attach shuffles carry candidates × vector-width
  * bytes, which dominates every other term (measured 422 s for IVF at
  * n = 10⁵; the fused shape removes both re-attach joins and, for IVF,
  * the distinct as well).
  */
object Similarity {

  /** ceil(log2(n)), floored at 2. */
  private def log2ceil(n: Long): Int =
    math.ceil(math.log(math.max(n, 4L).toDouble) / math.log(2.0)).toInt

  /** (qid, nid, cos) → k best per qid via the heap Aggregator (see
    * TopKByScore). Output ranks are 1-based in (cos desc, nid asc)
    * order — row-identical to the window formulation, but the shuffle
    * carries k rows per query per partition instead of every scored
    * row. Used where the scored input is UNPRUNED or carries cross-band
    * duplicates: brute force (|Q|·|C| rows — measured 34 s → 7 s at
    * 8k×8k vectors, where the rank window's full-table exchange
    * spilled) and the LSH path (the heap's duplicate-skip replaces a
    * whole groupBy-dedup shuffle). The IVF paths choose SIZE-BASED via
    * [[rankTopK]]: below [[WindowTopKMaxCorpus]] the rank window wins
    * (pair-unique ~√n-per-query candidates, where ObjectHashAggregate's
    * per-row typed-buffer overhead measures ~2× the window sort
    * locally); above it the window's full per-partition sort dies on
    * the 10⁶-scale candidate volume and the heap takes over. */
  private def rankTopKAgg(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // the native TypedImperativeAggregate twin of TopKByScore: same
    // rows, same ObjectHashAggregate plan shape, no per-row object —
    // see TopKAgg's docstring for the 10⁶-scale measurement
    val topk = ColumnBridge.column(graft.functions.TopKAgg(
      ColumnBridge.expression(col("nid")),
      ColumnBridge.expression(col("cos")), k).toAggregateExpression())
    scored.groupBy(col("qid"))
      .agg(topk.as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("p.nid").as("nid"), round(col("p.cos"), 6).as("cos"))
  }

  /** Window form of the same top-k — for candidate-pruned inputs. */
  private def rankTopKWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  /** Exact top-k neighbors (scaled-integer cosine for cross-engine
    * determinism). Excludes self-matches.
    *
    * Norms are computed ONCE per vector before the pairwise join — the
    * pairwise hot loop does a single dot product instead of re-deriving
    * both norms per pair (3× less work, and the shape that matters when
    * the pair count is |Q|·|C|). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val dotF = VectorFunctions.dotScaledFast _
    val n = queries.sparkSession.sparkContext.defaultParallelism
    // spread the pairwise work: a single-file scan is one task, and an
    // EXPLICIT partition count is required — AQE's coalescer folds a
    // small-byte shuffle back to one task even when the per-row compute
    // downstream is the actual cost
    val q = queries.repartition(n, col("vec_id")).select(
      col("vec_id").as("qid"), VectorFunctions.quantize3(col("embedding")).as("qv"),
      dotF(col("embedding"), col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("nid"),
      VectorFunctions.quantize3(col("embedding")).as("nv"),
      dotF(col("embedding"), col("embedding")).as("nn"))
    val scored = q.join(broadcast(c), col("qid") =!= col("nid"))
      .withColumn("cos", cosCol(col("qv"), col("nv"), col("qn"), col("nn")))
      // shed the vectors BEFORE the top-k aggregation: the partial
      // buffers hold (nid, cos) pairs only
      .select(col("qid"), col("nid"), col("cos"))
    rankTopKAgg(scored, k)
  }

  /** Deterministic random hyperplanes: nBits × dim, seeded. */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rng.nextGaussian())
  }

  /** Per-row LSH band keys from seeded hyperplane projections: `bands`
    * keys of `bitsPerBand` sign bits each, as a long array (band widths
    * up to 63 bits — a single packed-long signature caps total bits at
    * 64, which breaks once band width scales with log n). One tight-loop
    * UDF call per row, all primitive arithmetic — the interpreted
    * higher-order form costs ~100× on single-task scans.
    *
    * The plane matrix arrives as a broadcast HANDLE, not a captured
    * array: closure bytes are re-shipped with every task of every
    * stage, and at B·b ≈ 2000 hyperplanes × 64 dims the captured form
    * measurably bloats task binaries (1.5 MiB "large task binary"
    * warnings at sf0.1); a broadcast variable ships once per executor
    * and the closure carries only the handle. */
  /** Shared band-signature core: bands keys of bitsPerBand sign bits. */
  private def computeBandKeys(
      planes: Array[Array[Double]], bands: Int, bitsPerBand: Int,
      a: Array[Float]): Array[Long] = {
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < bitsPerBand) {
        val p = planes(b * bitsPerBand + i)
        var dot = 0.0
        var j = 0
        val len = math.min(p.length, a.length)
        while (j < len) { dot += p(j) * a(j); j += 1 }
        if (dot > 0) key |= (1L << i)
        i += 1
      }
      keys(b) = key
      b += 1
    }
    keys
  }

  private def bandKeysUdf(
      planesBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      bands: Int, bitsPerBand: Int) =
    udf { (v: Seq[Float]) =>
      if (v == null) new Array[Long](bands)
      else computeBandKeys(planesBc.value, bands, bitsPerBand, v.toArray)
    }

  /** Query-side multi-probe keys: per band, the base key FOLLOWED BY its
    * bitsPerBand Hamming-distance-1 perturbations — (b+1) slots per
    * band, so the exploded position maps to band = pos / (b+1). The
    * corpus side keeps single keys; probing is a query-side explode. */
  private def multiProbeKeysUdf(
      planesBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      bands: Int, bitsPerBand: Int) =
    udf { (v: Seq[Float]) =>
      val out = new Array[Long](bands * (bitsPerBand + 1))
      if (v != null) {
        val base = computeBandKeys(planesBc.value, bands, bitsPerBand, v.toArray)
        var b = 0
        while (b < bands) {
          val off = b * (bitsPerBand + 1)
          out(off) = base(b)
          var i = 0
          while (i < bitsPerBand) { out(off + 1 + i) = base(b) ^ (1L << i); i += 1 }
          b += 1
        }
      }
      out
    }

  /** Exact quantized cosine between two attached PRE-QUANTIZED vectors
    * (`array<int>` from [[VectorFunctions.quantize3]]), as a column.
    * Same value as dotScaledFast over the float arrays — quantization
    * happened once on the join-input row, and the pair-time work is one
    * integer dot ([[graft.functions.DotQ3Expr]]). The round-7 stage
    * isolation at 10⁶ vectors measured per-pair RE-quantization (two
    * floor-rounds per element per pair) as ~290 of IVF's 297 s; this
    * split retires it across every fused similarity join.
    *
    * Domain: the q3 norm² PRODUCT na·nb must fit a Long (per-vector
    * norm² ≤ ~3×10⁹, i.e. element magnitudes ≤ ~200 at 64 dims) — the
    * same bound the DuckDB oracle's BIGINT product carries, and far
    * above any normalized-embedding regime. */
  private def cosCol(va: org.apache.spark.sql.Column, vb: org.apache.spark.sql.Column,
      na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
    when(na === 0 || nb === 0, lit(0.0))
      .otherwise(VectorFunctions.dotQ3(va, vb).cast("double") /
        sqrt((na * nb).cast("double")))

  /** Sound code-residual ratio r = E/‖a‖ for one packed side: with
    * a = q3(v) the exact scoring vector and E = √len·(0.5 + 500·m/127)
    * the elementwise residual bound, |cos(a,b) − cos_code(ca,cb)| ≤
    * 2·(r_a + r_b) + 4·r_a·r_b (Cauchy–Schwarz on the reconstruction
    * residuals — full derivation at [[cosineNearDup]]). Zero-norm rows
    * return 2 (margin ≥ 8 ⇒ never screened out; handled exactly
    * downstream). */
  private def screenResid(
      codes: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column,
      nrm: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val e = sqrt(length(codes).cast("double")) * (lit(0.5) + m * (500.0 / 127.0))
    when(nrm === 0, lit(2.0)).otherwise(e / sqrt(nrm.cast("double")))
  }

  /** Code-space cosine of two packed sides (0 when either self-dot is 0). */
  private def screenCosCode(
      ca: org.apache.spark.sql.Column, cda: org.apache.spark.sql.Column,
      cb: org.apache.spark.sql.Column, cdb: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column =
    when(cda === 0 || cdb === 0, lit(0.0))
      .otherwise(VectorFunctions.codeDot(ca, cb).cast("double") /
        sqrt((cda * cdb).cast("double")))

  /** Int8 SQ codes as ready-to-probe doubles — the native
    * [[graft.functions.Int8GeomExpr]] (raw ArrayData in, no boxed Seq
    * per row), bit-identical to `floor(x·127/m + 0.5)` over the
    * built-ins (same IEEE double ops in the same order). */
  private def int8GeomCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Int8GeomExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(v)))

  /** Stride-picked deterministic centroids with PRECOMPUTED norms,
    * broadcast once. k-means would drift per run; determinism matters
    * more here than a few recall points. AT MOST nlist rows reach the
    * driver — the stride filter is limit-capped (documented scalar
    * collect). `codes = true` reads the int8 code view instead of the
    * float embeddings (cosine is scale-invariant, so code-space cell
    * geometry matches float-space up to quantization noise).
    *
    * Norms are hoisted HERE because the per-row assign/probe loop scans
    * all nlist centroids for every corpus and query row: recomputing
    * |c|² inside that loop doubles the centroid-scan flops at
    * nlist ≈ √n — measurably the dominant IVF cost at n = 10⁵. */
  private def strideCentroids(
      df: DataFrame, vecCol: String, nlist: Int, stride: Long)
    : (Array[Array[Double]], Array[Double]) = {
    def pick(cond: org.apache.spark.sql.Column): Array[Array[Double]] = df
      .filter(cond)
      .orderBy(col("vec_id"))
      .limit(nlist)
      .select(col(vecCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    // the id-stride pick assumes roughly DENSE ids (the fixture and
    // warehouse norm). A corpus whose ids share no multiples of the
    // stride (sharded id spaces, a filtered sub-corpus) would get an
    // empty seed — fall back to a deterministic id-hash pick, which
    // samples ~n/stride rows regardless of id layout
    val byStride = pick(pmod(col("vec_id"), lit(stride)) === 0)
    val centroids =
      if (byStride.nonEmpty) byStride
      else pick(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
    val norms = centroids.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    (centroids, norms)
  }

  /** Deterministic Lloyd refinement of a seed centroid set — spherical
    * k-means over the assignment geometry, `iters` passes (the
    * clustered-corpus complement of the [[shardHotCells]] guard: the
    * cap bounds the DAMAGE of a bad cell layout, refinement improves
    * the LAYOUT — stride seeds sit wherever the id order put them,
    * Lloyd moves them to the mass centers, so cell-boundary recall
    * misses and probe waste both shrink on clustered data; scattered
    * corpora are near the fixed point already and see ~no change).
    *
    * DETERMINISM (the reason this is not `ml.KMeans`): distributed
    * float summation is evaluation-order-dependent, and a per-run
    * centroid wobble would unpin every declared-query oracle and spec
    * downstream. Member vectors are summed as exact 1e-3-quantized
    * Longs (floor(x·1000 + 0.5), the [[VectorFunctions.quantize3]]
    * grid — via built-ins because the geometry view may be
    * array<float> OR array<double>): Long addition is associative, so
    * ANY aggregation tree yields the same sums, and the mean
    * (sum / (1000·count)) is divided once on the driver.
    * Assignment uses the same first-max [[NearestCellsExpr]] as
    * production, so ties break identically everywhere.
    *
    * Scale shape: each iteration is one assignment pass (n·nlist·d
    * madds — the same cost the final assignment pays anyway) plus one
    * narrow (cell, pos) hash-agg over n·d exploded elements
    * (map-side-combined to ≤ nlist·d partial rows per task). The
    * driver collect is nlist·d scalar rows (√n·d — at n = 10¹⁰, d = 64
    * that is ~6×10⁶ rows ≈ 50 MB: still driver-safe; past that, keep
    * the means distributed and broadcast-join them back instead).
    * Empty cells keep their previous centroid (no respawn — stride
    * seeding makes true emptiness rare, and a deterministic respawn
    * rule would need a global order anyway). */
  private def refineCentroids(
      df: DataFrame,
      vecCol: String,
      seed: (Array[Array[Double]], Array[Double]),
      iters: Int): (Array[Array[Double]], Array[Double]) = {
    val sc = df.sparkSession.sparkContext
    val n = sc.defaultParallelism
    var centroids = seed._1
    var cnorms = seed._2
    // wide-before-assignment, same as every celled path: the per-row
    // centroid scan is the cost, a parquet scan is ~8 tasks
    val view = df.repartition(n, col("vec_id"))
    var it = 0
    while (it < iters) {
      val matBc = sc.broadcast(CentroidMatrix(centroids, cnorms))
      val sums = view
        .select(nearestCellsCol(matBc, col(vecCol), 1).as("cell"),
          posexplode(transform(col(vecCol),
            x => floor(x.cast("double") * 1000 + 0.5).cast("long")))
            .as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          r.getLong(2).toDouble / (1000.0 * r.getLong(3))
      }
      centroids = next
      cnorms = centroids.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }
        math.sqrt(s)
      }
      it += 1
    }
    (centroids, cnorms)
  }

  /** Seed-then-optionally-refine centroid derivation — the shared stage
    * behind every celled path, also the SimilaritySpec instrument for
    * the refinement laws (determinism, refineIters = 0 ≡ seed,
    * alignment improvement on clustered data). */
  private[graft] def deriveCentroids(
      df: DataFrame,
      vecCol: String,
      nlist: Int,
      stride: Long,
      refineIters: Int): (Array[Array[Double]], Array[Double]) = {
    val seed = strideCentroids(df, vecCol, nlist, stride)
    if (refineIters <= 0) seed
    else refineCentroids(df, vecCol, seed, refineIters)
  }

  /** The k-means objective the refinement improves, as a measurable
    * scalar: mean best-cell cosine alignment (dot(v, c)/(|v||c|),
    * maximized over cells) across the corpus — the SimilaritySpec
    * instrument for "refined centroids fit a clustered corpus better
    * than raw stride seeds". */
  private[graft] def centroidAlignment(
      df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], cnorms: Array[Double]): Double = {
    val sc = df.sparkSession.sparkContext
    val matBc = sc.broadcast(CentroidMatrix(centroids, cnorms))
    val best = nearestCellsCol(matBc, col(vecCol), 1)
    // cosine to the assigned centroid, via one interpreted pass —
    // instrument only, never on a production path
    val cosUdf = udf { (v: Seq[Float], cell: Int) =>
      val c = matBc.value
      var dot = 0.0; var nv = 0.0
      var i = 0
      val len = math.min(v.length, c.dim)
      while (i < len) {
        val x = v(i).toDouble
        dot += x * c.flat(cell * c.dim + i); nv += x * x
        i += 1
      }
      if (nv == 0 || c.norms(cell) == 0) 0.0
      else dot / (math.sqrt(nv) * c.norms(cell))
    }
    df.select(avg(cosUdf(col(vecCol), best)).as("a")).collect()(0).getDouble(0)
  }

  /** Deterministic spherical k-means cluster assignment — the
    * topic-bucketing primitive a curation pipeline runs before mixture
    * balancing (cluster counts feed [[graft.operators.TextAnalysis]]'s
    * temperature sampling when no metadata domain exists) and the
    * first stage of SemDedup exposed as its own operator. Stride seeds
    * ([[strideCentroids]]) → `refineIters` deterministic Lloyd passes
    * (exact quantized-long sums, [[refineCentroids]]) → one full-width
    * assignment pass with the production first-max
    * [[graft.functions.NearestCellsExpr]]. Returns `(idCol,
    * cluster_id)`, one row per input row; null vectors assign to cell 0
    * (the expression's documented guard) and contribute nothing to the
    * Lloyd sums.
    *
    * Deterministic END TO END — seeds are id-arithmetic, sums are
    * associative longs, assignment is strict-order double math — so the
    * whole operator (seed pick, every Lloyd iteration, the final
    * argmax) is re-derived bit-exactly by an independent Python
    * reimplementation in tools/check_oracle.py (l46), the same
    * cross-engine standard as the SQL-oracled queries.
    *
    * Scale shape: per Lloyd pass one assignment scan (n·nlist·d madds)
    * + one narrow map-side-combined (cell, pos) hash-agg; final
    * assignment is another scan; driver traffic is nlist·d scalar rows
    * per pass. No pairwise stage anywhere. */
  def clusterAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      refineIters: Int = 2): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val n = sc.defaultParallelism
    // strideCentroids/refineCentroids key on the `vec_id` column name
    val view = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("__v"))
    val total = view.count()
    val stride = math.max(1L, total / nlist)
    val (centroids, cnorms) =
      deriveCentroids(view, "__v", nlist, stride, refineIters)
    val matBc = sc.broadcast(CentroidMatrix(centroids, cnorms))
    view.repartition(n, col("vec_id"))
      .select(col("vec_id").as(idCol),
        nearestCellsCol(matBc, col("__v"), 1).as("cluster_id"))
  }

  /** Probe column: the `m` nearest centroid indices of `vec` (INT for
    * m = 1, ARRAY<INT> otherwise), ranked by dot(v,c)/|c| — a positive
    * per-row scalar (1/|v|) away from cosine, so the ordering is
    * identical and the row norm never needs computing. A native codegen
    * Expression over the raw ArrayData ([[graft.functions
    * .NearestCellsExpr]]) — the former Scala-UDF form deserialized
    * every vector to a boxed Seq[Double] behind an array<double> cast
    * before scanning, and that conversion tax was the dominant non-join
    * IVF cost at 10⁶ vectors (the round-6 verdict's recorded lever).
    * Null vectors fall back to cell 0, matching the old UDF's guard. */
  private def nearestCellsCol(
      matBc: org.apache.spark.broadcast.Broadcast[CentroidMatrix],
      vec: org.apache.spark.sql.Column, m: Int): org.apache.spark.sql.Column = {
    val nc = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.NearestCellsExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec), matBc, m))
    if (m == 1) coalesce(nc, lit(0)) else coalesce(nc, array(lit(0)))
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer
    * alternative to LSH. `nlist` centroids are chosen deterministically
    * from the corpus (every stride-th vector), every corpus vector is
    * assigned to its nearest centroid cell, and each query probes its
    * `nprobe` nearest cells. The only join is an equality join on cell
    * id: candidates per query are O(corpus/nlist × nprobe), never
    * O(corpus).
    *
    * nlist defaults to ceil(sqrt(n)) so cells hold ~sqrt(n) vectors and
    * the candidate count per query is ~nprobe·sqrt(n) — the balance
    * point between centroid-scan work (nlist per row) and cell-scan work
    * (n/nlist per probe); a FIXED nlist would grow cells linearly with
    * the corpus and quietly stop pruning. */
  /** Corpus-size threshold for the top-k physical choice: below it the
    * rank window wins (ObjectHashAggregate's typed-buffer overhead
    * measures ~2× the window sort on ~√n-per-query inputs); above it
    * the window DIES — at n = 10⁶ the IVF candidate set is
    * n·nprobe·√n ≈ 4×10⁹ rows and the window's full per-partition sort
    * hit `UnsafeExternalSorter: Unable to grow the pointer array` +
    * spill churn and crashed the run, while the heap's k-row map-side
    * buffers never materialize the candidate set at all. Same rows
    * either way (PropertySpec's dedup-sort-take-k law), so this is a
    * size-based physical strategy, not a semantics fork. */
  private[graft] val WindowTopKMaxCorpus = 50000L

  private def rankTopK(scored: DataFrame, k: Int, corpusSize: Long): DataFrame =
    if (corpusSize > WindowTopKMaxCorpus) rankTopKAgg(scored, k)
    else rankTopKWindow(scored, k)

  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Option[Int] = None,
      nprobe: Int = 4,
      cellCap: Option[Int] = None,
      refineIters: Int = 0,
      autoGuard: Boolean = true): DataFrame = {
    val total = corpus.count()
    rankTopK(
      ivfScoredPairs(queries, corpus, nlist, nprobe, int8 = false, Some(total),
        cellCap, refineIters, autoGuard),
      k, total)
  }

  /** IVF top-k with the candidate tier's CELL GEOMETRY computed entirely
    * over int8 scalar-quantization codes — the composition that makes
    * the l21 storage tier real. At 100 TB the point of SQ is that the
    * ANN index (centroids + per-vector cell assignments) is built from
    * vectors 4× smaller than the float corpus; quantization perturbs
    * only WHICH cells are probed (SimilaritySpec bounds the recall cost
    * vs the float path and brute force). Reported scores are exact
    * float cosine, bit-identical to [[ivfTopK]] on the same candidate
    * set — banding/quantization choose candidates, never scores. */
  def ivfTopKInt8(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Option[Int] = None,
      nprobe: Int = 4,
      cellCap: Option[Int] = None,
      refineIters: Int = 0,
      autoGuard: Boolean = true): DataFrame = {
    val total = corpus.count()
    rankTopK(
      ivfScoredPairs(queries, corpus, nlist, nprobe, int8 = true, Some(total),
        cellCap, refineIters, autoGuard),
      k, total)
  }

  /** Scored IVF candidate pairs (qid, nid, cos) — the fused
    * candidate+scoring stage shared by the float and int8 paths.
    *
    * Shape: queries explode to nprobe (qid, qv, qn, cell) rows, the
    * corpus maps to one (nid, nv, nn, cell) row each, and ONE equi-join
    * on cell produces the pairs — cosine is computed in the pipelined
    * join output (codegen: [[VectorFunctions.dotScaledFast]]) and the
    * row is projected to (qid, nid, cos) before anything downstream
    * sees it. The wide inputs shuffled are nprobe·|Q| + |C| rows — NOT
    * candidates × vector-width, which is what the former
    * ids-join → pair-distinct → two re-attach joins shape shuffled
    * (422 s at n = 10⁵; this shape retires it).
    *
    * NO pair-distinct is needed: each nid is assigned to exactly one
    * cell and a query's probed cells are distinct indices, so a
    * (qid, nid) pair can arise from at most one joined cell row. */
  private[graft] def ivfScoredPairs(
      queries: DataFrame,
      corpus: DataFrame,
      nlistOpt: Option[Int],
      nprobe: Int,
      int8: Boolean,
      totalOpt: Option[Long] = None,
      cellCap: Option[Int] = None,
      refineIters: Int = 0,
      autoGuard: Boolean = true): DataFrame = {
    val sc = queries.sparkSession.sparkContext
    val n = sc.defaultParallelism
    val total = totalOpt.getOrElse(corpus.count())
    val nlist = nlistOpt.getOrElse(math.max(16, math.ceil(math.sqrt(total.toDouble)).toInt))
    val stride = math.max(1L, total / nlist)

    // the geometry view: float embeddings, or the int8 code column —
    // cosine is scale-invariant so the per-vector SQ scale m cancels
    // out of cell selection entirely (cos(code·m/127, c) = cos(code, c)).
    // The int8 codes come from one two-pass tight-loop UDF (max-abs,
    // then round-half-up — the same IEEE ops as VectorFunctions
    // .int8Codes, so the geometry is identical): the built-ins form
    // (maxAbs reduce + transform + cast to array<double>) allocates
    // three intermediate arrays per row and measured as most of the
    // int8 path's 3× gap vs float IVF at n = 10⁵. A real deployment
    // PERSISTS the codes once at ingest (they are the 4×-compressed
    // index tier); computing them inline per run is the honest cost of
    // benching without a materialized index.
    def withGeom(df: DataFrame): DataFrame =
      if (int8) df.withColumn("geom", int8GeomCol(col("embedding")))
      else df.withColumn("geom", col("embedding"))

    val (centroids, cnorms) =
      deriveCentroids(withGeom(corpus), "geom", nlist, stride, refineIters)
    val matBc = sc.broadcast(CentroidMatrix(centroids, cnorms))

    val dotF = VectorFunctions.dotScaledFast _
    val q = withGeom(queries.repartition(n, col("vec_id"))).select(
      col("vec_id").as("qid"), VectorFunctions.quantize3(col("embedding")).as("qv"),
      dotF(col("embedding"), col("embedding")).as("qn"),
      explode(nearestCellsCol(matBc, col("geom"), nprobe)).as("cell"))
    // wide-before-assignment: the corpus-side probe scans all nlist ≈ √n
    // centroids per row (~6.4e4 multiplies at 10⁶), and a parquet
    // corpus reads as a handful of 128 MB partitions — one narrow
    // corpus shuffle buys full-width assignment (round-8 find, same
    // fix as the LSH band sides)
    val c = withGeom(corpus.repartition(n, col("vec_id"))).select(
      col("vec_id").as("nid"), VectorFunctions.quantize3(col("embedding")).as("nv"),
      dotF(col("embedding"), col("embedding")).as("nn"),
      nearestCellsCol(matBc, col("geom"), 1).as("cell"))
    // data-driven hot-cell guard: explicit cellCap wins; otherwise the
    // sample probe decides (None on scattered corpora — identical plan)
    val effCellCap = cellCap.orElse(if (autoGuard)
      autoCellCap(withGeom(corpus), "geom", total, nlist, matBc) else None)
    val (qk, ck, joinKeys) = shardHotCells(q, c, effCellCap)
    // CPU-dense wave sizing (see denseShuffleSides): self-join upper
    // bound total·(1+nprobe) rows; each side's payload is the quantize3
    // re-rank vectors + scalars, ~448 B/row measured at dim 64 (the
    // 2.2 GB / 5·10⁶-row int8 shuffle of the round-10 A/B)
    val (qj, cj) = denseShuffleSides(qk, ck, joinKeys,
      total * (1L + nprobe), bytesPerRow = 448)
    qj.join(cj, joinKeys)
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosCol(col("qv"), col("nv"), col("qn"), col("nn")))
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** THE HOT-CELL GUARD for the IVF top-k paths — RESULT-IDENTICAL skew
    * spreading, the counterpart of [[semDedupCells]]' `cellCap` for the
    * query/corpus (rather than self-join) regime.
    *
    * Stride centroids are unbiased on scattered data, but a clustered
    * corpus (a boilerplate-duplicate mass, a dense topic) can put a
    * large fraction of all vectors into ONE cell, and the cell
    * equi-join then has a single join key carrying |Q_probing|·s
    * candidate pairs — one quadratic bucket = one straggler task, no
    * matter how many executors exist. With `cellCap = Some(cap)`, a
    * cell of size s splits into ceil(s/cap) shards keyed by an ID hash
    * — NOT a content hash: correctness here comes from probe
    * replication, not co-sharding, so an exact-duplicate mass (which
    * shares codes, and which content hashing would pile back into one
    * shard) spreads uniformly — and each PROBE row replicates across
    * that cell's shards (an `explode(sequence(...))` fanout — cold
    * cells have one shard, so the fanout touches hot cells only).
    * Contrast [[semDedupCells]], whose cap compares only WITHIN a
    * shard and therefore must content-hash so exact duplicates stay
    * comparable. Every (query, probed cell, member) candidate still
    * arises exactly once — each member sits in exactly one shard and
    * the probe covers all of them — so the output is ROW-IDENTICAL to
    * the unguarded join (SimilaritySpec pins this on the clustered
    * fixture); what changes is the physical bucket bound: ~2·cap rows
    * per (cell, shard) key instead of s. Unlike [[semDedup]]'s cap
    * (which trades recall inside oversized cells for a work bound),
    * top-k sharding trades NOTHING — the candidate volume is inherent
    * to the probe semantics; the guard distributes it.
    *
    * Uncapped (`None`, the default on scattered fixtures) adds no
    * stage. Capped adds one narrow corpus-side count aggregation
    * (≤ nlist rows, broadcast to both sides). */
  private def shardHotCells(
      q: DataFrame, c: DataFrame, cellCap: Option[Int])
    : (DataFrame, DataFrame, Seq[String]) = cellCap match {
    case None => (q, c, Seq("cell"))
    case Some(cap) =>
      require(cap > 0, s"cellCap must be positive, got $cap")
      val shardCounts = c.groupBy(col("cell"))
        .agg(ceil(count(lit(1)) / cap.toDouble).cast("int").as("nshards"))
      val ck = c.join(broadcast(shardCounts), "cell")
        .withColumn("shard",
          pmod(xxhash64(col("nid")), greatest(col("nshards"), lit(1)).cast("long"))
            .cast("int"))
        .drop("nshards")
      val qk = q.join(broadcast(shardCounts), "cell")
        .withColumn("shard",
          explode(sequence(lit(0), greatest(col("nshards"), lit(1)) - 1)))
        .drop("nshards")
      (qk, ck, Seq("cell", "shard"))
  }

  /** Plan-time WAVE SIZING for the CPU-dense candidate joins — the
    * per-regime form of the AQE advisory lever BENCH_LOCAL.md's
    * round-10 addendum measured: AQE's default 64 MB advisory coalesces
    * a multi-GB, compute-bound shuffle to ~one task per core, and a
    * single slow task then doubles the whole wave (10⁶ ivf_int8
    * measured 92–180 s across sessions; 16 MB tasks → ~4 waves →
    * 49–64 s, variance collapsed). A global 16 MB advisory is WRONG for
    * the relational regime (it replans small-shuffle joins into
    * under-filled reducers, 10–30× regressions), so the engine derives
    * the split per JOB from the estimated shuffle width instead:
    *
    *   - below one full 64 MB wave (estBytes ≤ cores · 64 MB) the
    *     inputs return UNTOUCHED — the plan is byte-identical to the
    *     pre-sizing one, AQE manages the shuffle as before (the sf0.1 /
    *     relational regime);
    *   - above it, both join sides repartition EXPLICITLY on the join
    *     keys to ceil(estBytes / 16 MB) tasks (floored at 4 waves,
    *     capped at 32× cores). An explicit-count repartition is exempt
    *     from AQE coalescing, satisfies the join's distribution
    *     requirement (no second exchange), and sizes tasks to
    *     cores × waves — which is what a CPU-bound shuffle wants, vs
    *     the IO-oriented byte advisory.
    *
    * `estRows × bytesPerRow` is a deliberate UPPER BOUND (self-join
    * row counts, measured payload widths): over-engaging on a serving
    * shape only means smaller tasks on a corpus-sized scan. */
  private[operators] def denseShuffleSides(
      q: DataFrame, c: DataFrame, keys: Seq[String],
      estRows: Long, bytesPerRow: Int): (DataFrame, DataFrame) = {
    val cores = q.sparkSession.sparkContext.defaultParallelism
    val estBytes = estRows.toDouble * bytesPerRow
    if (estBytes <= cores * 64d * 1024 * 1024) (q, c)
    else {
      val nTasks = math.min(
        math.max(math.ceil(estBytes / (16d * 1024 * 1024)), 4.0 * cores),
        32.0 * cores).toInt
      (q.repartition(nTasks, keys.map(col): _*),
        c.repartition(nTasks, keys.map(col): _*))
    }
  }

  /** Sampling fraction denominator for the skew probes: ids with
    * xxhash64(id) ≡ 0 (mod k) are sampled, k sized so ~10⁵ rows are
    * probed regardless of corpus size. */
  private def probeModulus(n0: Long): Long = math.max(1L, n0 / 100000L)

  /** Engagement rule shared by both auto guards: the guard turns on
    * when the estimated largest bucket exceeds 8× its expected size AND
    * an absolute floor (4096 rows — below that a "hot" bucket is still
    * one cheap task, and small-corpus noise would flap the decision).
    * The cap, once engaged, bounds per-key join input at ~4× expected
    * (floored at 1024 so shard counts stay sane on tiny expected
    * sizes). Estimates come from an id-hash sample, so a duplicate
    * MASS — the case that matters, ≥ thousands of rows in one bucket —
    * is seen at full statistical strength while the probe stays ~10⁵
    * rows of one-band/one-cell work. */
  private def engageCap(estMax: Double, expected: Double): Option[Int] =
    if (estMax > math.max(8.0 * expected, 4096.0))
      Some(math.max(1024.0, 4.0 * expected).toInt)
    else None

  /** AUTO-ENGAGEMENT probe for [[cosineNearDup]]'s hot-bucket guard.
    *
    * The guards exist (`bucketCap`, `cellCap`) but an OPT-IN guard is a
    * guard that is off when the clustered 100 TB corpus arrives — so
    * when no explicit cap is passed, the operator decides from the data:
    * hash one band's keys (band 0 of the production plane set — the
    * planes are seeded-random, so any single band's histogram sees a
    * duplicate mass at full strength) over an id-hash ~10⁵-row sample,
    * take the largest sampled bucket, scale by the sampling modulus,
    * and engage per [[engageCap]]. Cost: one narrow job of
    * sample·b·dim multiplies (~10⁸ at any corpus size) + a tiny agg —
    * noise next to one band shuffle. A scattered corpus probes under
    * the threshold and the operator builds the EXACT pre-auto plan;
    * SimilaritySpec pins both the engagement decision on a planted
    * mass and the plan identity on the scattered fixture. */
  private[graft] def autoBucketCap(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      n0: Long,
      bitsPerBand: Int,
      dim: Int = 64,
      seed: Long = 42L): Option[Int] = {
    // a corpus at or under the 4096-row absolute floor CANNOT engage
    // ([[engageCap]] requires a bucket > 4096 rows and no bucket can
    // exceed the corpus), so the probe job would be a guaranteed no-op
    // — skip it. This is exactness, not a heuristic: it removes one
    // probe aggregation per call at bench/fixture scale while the
    // 10⁶-scale corpora the guards exist for always probe.
    if (n0 <= 4096L) return None
    val k = probeModulus(n0)
    // hyperplanes() fills sequentially from the seed, so the first
    // `bitsPerBand` planes ARE production band 0 — the probe sees the
    // exact bucket the real join will build
    val planesBc = emb.sparkSession.sparkContext
      .broadcast(hyperplanes(bitsPerBand, dim, seed))
    val band0 = bandKeysUdf(planesBc, 1, bitsPerBand)
    val maxBucket = emb
      .filter(pmod(xxhash64(col(idCol)), lit(k)) === 0)
      .select(band0(col(embCol)).getItem(0).as("k0"))
      .groupBy(col("k0")).agg(count(lit(1)).as("s"))
      .agg(max(col("s"))).head().getAs[Any](0)
    if (maxBucket == null) return None
    val expected = math.max(1.0, n0.toDouble / (1L << math.min(bitsPerBand, 62)))
    engageCap(maxBucket.asInstanceOf[Long].toDouble * k, expected)
  }

  /** AUTO-ENGAGEMENT probe for the IVF paths' hot-cell guard — the
    * [[autoBucketCap]] counterpart over centroid cells: assign an
    * id-hash ~10⁵-row corpus sample to its nearest cell (the production
    * centroid set, already broadcast), histogram, scale, engage per
    * [[engageCap]] with expected = total/nlist. Scattered corpora probe
    * under the threshold and [[shardHotCells]] receives None — the
    * pre-auto plan, byte-identical. */
  private[graft] def autoCellCap(
      corpus: DataFrame,
      geomCol: String,
      total: Long,
      nlist: Int,
      matBc: org.apache.spark.broadcast.Broadcast[CentroidMatrix]): Option[Int] = {
    // same sub-floor skip as [[autoBucketCap]]: no cell of a ≤4096-row
    // corpus can clear engageCap's 4096-row absolute floor, so the
    // probe is a provable no-op — return the identical None without
    // paying the sample-assign-histogram job
    if (total <= 4096L) return None
    val k = probeModulus(total)
    val maxCell = corpus
      .filter(pmod(xxhash64(col("vec_id")), lit(k)) === 0)
      .select(nearestCellsCol(matBc, col(geomCol), 1).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("s"))
      .agg(max(col("s"))).head().getAs[Any](0)
    if (maxCell == null) return None
    val expected = math.max(1.0, total.toDouble / nlist)
    engageCap(maxCell.asInstanceOf[Long].toDouble * k, expected)
  }

  /** Spec entry for [[autoCellCap]]: derives the same float-geometry
    * centroid set an [[ivfTopK]] call would and probes it — so a spec
    * can pin the engagement DECISION without reaching into the
    * broadcast plumbing. */
  private[graft] def autoCellCapFor(
      corpus: DataFrame,
      nlistOpt: Option[Int] = None): Option[Int] = {
    val total = corpus.count()
    val nlist = nlistOpt.getOrElse(
      math.max(16, math.ceil(math.sqrt(total.toDouble)).toInt))
    val stride = math.max(1L, total / nlist)
    val g = corpus.withColumn("geom", col("embedding"))
    val (centroids, cnorms) = deriveCentroids(g, "geom", nlist, stride, 0)
    val matBc = corpus.sparkSession.sparkContext
      .broadcast(CentroidMatrix(centroids, cnorms))
    autoCellCap(g, "geom", total, nlist, matBc)
  }

  /** Seeded sparse Johnson–Lindenstrauss projection matrix — the
    * "database-friendly" construction (Achlioptas 2003): entries are
    * √(3/outDim) · {+1 w.p. 1/6, 0 w.p. 2/3, −1 w.p. 1/6}. Chosen over
    * Gaussian entries for two production reasons: (a) 2/3 of the
    * multiplies vanish, and (b) the matrix is derived COUNTER-BASED —
    * entry (j,i) = f(splitmix64(seed + j·dim + i)) with pure integer
    * arithmetic plus one correctly-rounded sqrt — so any engine (the
    * Python cross-oracle in tools/check_oracle.py) reproduces it
    * BIT-EXACTLY with no dependence on a shared PRNG object, stream
    * order, or transcendental libm quirks (Gaussian generation needs
    * log/cos whose last-ulp behavior differs across fdlibm/glibc).
    * The mod-6 draw over the full 64-bit state carries bias ≤ 2⁻⁶¹. */
  private[graft] def jlMatrix(outDim: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    def splitmix64(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val s = math.sqrt(3.0 / outDim)
    Array.tabulate(outDim, dim) { (j, i) =>
      java.lang.Long.remainderUnsigned(
        splitmix64(seed + j.toLong * dim + i), 6L) match {
        case 0L => s
        case 1L => -s
        case _  => 0.0
      }
    }
  }

  /** Dimensionality reduction for the embedding column by seeded sparse
    * JL projection: outDim ≪ dim with pairwise distances/cosines
    * preserved to the JL distortion √(log n / outDim) in expectation —
    * the standard pre-ANN compression step (project 64 → 16, THEN
    * band/quantize: 4× less band-key arithmetic and 4× smaller codes
    * for the same candidate recall tier, composable with every
    * ANN/near-dup path in this file).
    *
    * 100 TB shape: entirely ROW-LOCAL — one narrow projection per row
    * with a broadcast (outDim × dim) matrix, no shuffle, no global
    * pass (unlike PCA there is no covariance/eigen step, so the
    * operator composes with streaming ingest too). The per-row loop
    * runs in ascending-i order and keeps f32→f64 widening before the
    * multiply; the Python cross-oracle replays the identical IEEE
    * operation sequence, so projections hash-match bit-for-bit. */
  def jlProject(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      outDim: Int = 16,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val matBc = emb.sparkSession.sparkContext.broadcast(jlMatrix(outDim, dim, seed))
    val projUdf = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val m = matBc.value
        val out = new Array[Double](m.length)
        var j = 0
        while (j < m.length) {
          val row = m(j)
          val n = math.min(row.length, v.length)
          var acc = 0.0
          var i = 0
          while (i < n) { acc += row(i) * v(i); i += 1 }
          out(j) = acc
          j += 1
        }
        out
      }
    }
    emb.select(col(idCol), projUdf(col(embCol)).as("proj"))
  }

  /** The live centroid table of a persisted index — resolves the
    * [[AnnStore]] manifest once. */
  def indexCentroids(spark: SparkSession, dir: String): DataFrame =
    AnnStore.centroids(spark, dir)

  /** The live posting view of a persisted index (manifest segments
    * minus tombstones — [[AnnStore.postings]]). */
  def indexPostings(spark: SparkSession, dir: String): DataFrame =
    AnnStore.postings(spark, dir)

  /** Builds the PERSISTED IVF index tier (the "real deployment" this
    * file's ivfScoredPairs comment promises): centroids and cell
    * assignments are computed ONCE at ingest and materialized, so query
    * runs read them instead of re-deriving — at 100 TB the index IS the
    * product, and per-run recompute (the honest cost the benchmarks pay)
    * is amortized away. Two tables under `dir`, committed via
    * [[AnnStore]] manifest generations (an atomic version claim — the
    * object-store commit shape; every mutation writes fresh
    * directories and publishes, readers resolve the manifest once):
    *   - `centroids` (a `cent_<v>` generation): (cell, centroid array<double>, cnorm,
    *     nshards) — nlist rows, written once. The per-cell posting
    *     counts ride the manifest (`counts=`) and the shard widths this
    *     table, so the read path never scans postings for bookkeeping
    *     (the corpus size for the top-k strategy switch is Σ counts) and
    *     the hot-cell probe fanout has its input without a count job.
    *   - `postings` (`seg_<v>` segments): (vec_id, codes BINARY, cdot, m, nrm, shard, cell),
    *     in the one [[Segments]] layout keyed by (cell, vec_id) — each
    *     cell in exactly one file — the INT8 tier made durable: 1 byte per
    *     element ([[graft.functions.Int8PackExpr]] codes) + three
    *     scalars, ~4× smaller than float or quantize3 postings. Scoring
    *     from the index runs in code space with the sound
    *     Cauchy–Schwarz margin and re-ranks survivors against exact
    *     vectors ([[ivfTopKIndexed]]) — compression never changes
    *     results, only candidate screening.
    * A probe joins the postings on (cell, shard) and the scan is not
    * pruned by cell, so a serve reads every posting once, at d (int8)
    * or m (PQ) bytes a row. Cell geometry is the int8 code view
    * (matching [[ivfTopKInt8]] — the l22 parity anchor); `cellCap`
    * persists the hot-cell shard guard: cells larger
    * than the cap get `nshards = ceil(s/cap)` id-hash shards, and
    * probes replicate across them (result-identical, see
    * [[shardHotCells]]).
    *
    * `centroidsFrom`: reuse the centroid set of an existing index
    * instead of deriving from this corpus (shard widths still follow
    * this build's counts and `cellCap`) — the
    * fixed-centroids rebuild that [[appendToIvfIndex]]'s parity
    * contract is stated against.
    * `refineIters`: deterministic Lloyd passes over the seed centroids
    * before assignment ([[refineCentroids]]) — opt-in for clustered
    * corpora, where stride seeds sit wherever the id order put them.
    * Returns per-cell posting counts (cell, n_vectors) — deterministic
    * (stride centroids, first-max assignment). */
  def buildIvfIndex(
      corpus: DataFrame,
      dir: String,
      nlistOpt: Option[Int] = None,
      cellCap: Option[Int] = None,
      centroidsFrom: Option[String] = None,
      refineIters: Int = 0): DataFrame =
    buildIndex(corpus, dir, nlistOpt, cellCap, centroidsFrom, refineIters)(
      (_, _) => (Int8Postings, None))

  /** Appends a vector batch into an EXISTING index — centroids fixed,
    * the batch lands in ONE fresh segment directory ([[Segments]]) and
    * becomes visible in one [[AnnStore]] manifest commit (existing
    * segments are never rewritten or read; a reader mid-append sees
    * either the old segment list or the new one, never a partially
    * listed directory). The m-tier composition (m4 MERGE / m5 dynamic
    * overwrite) applied to the ANN tier: a growing corpus upserts
    * postings instead of rebuilding, and the read path after an append
    * is ROW-IDENTICAL to a fresh [[buildIvfIndex]] over the full corpus
    * at the same centroids (`centroidsFrom` — SimilaritySpec pins the
    * parity). Shard widths stay fixed at append (new rows hash into the
    * existing [0, nshards) range, so probe replication still covers
    * every member); a cell that outgrows its width only loosens the
    * skew bound — rebuild (or re-cap) to restore it, exactly like
    * re-bucketing a table. The batch's per-cell counts add to the
    * manifest's in the same commit, keeping the read path scan-free.
    * `batchId`: optional exactly-once ingest stamp — rides the manifest
    * commit ([[AnnStore.lastBatchId]]), so a streaming embedding sink
    * skips a redelivered batch with no state-written-but-not-marked
    * window (the DedupIndex/StateTable discipline, round-14).
    * Returns per-cell APPENDED counts (cell, n_appended). */
  def appendToIvfIndex(
      batch: DataFrame, dir: String,
      batchId: Option[Long] = None): DataFrame =
    appendToIndex(batch, dir, batchId, "appendToIvfIndex")(_ => Int8Postings)

  /** One ANN tier's per-vector encode — the only part of the build,
    * append and driver-built probe pipelines that differs by tier:
    * `stage` adds the tier's working columns over (vec_id, embedding),
    * and `payload` projects its posting (or probe-row) columns from
    * them. */
  private final case class VectorEncode(
      stage: DataFrame => DataFrame, payload: Seq[org.apache.spark.sql.Column])

  /** The int8 tier: 1 B/elem codes plus their dot and scale
    * ([[graft.functions.Int8PackExpr]]). */
  private val Int8Postings = VectorEncode(
    _.withColumn("pk", VectorFunctions.int8Pack(col("embedding"))),
    Seq(col("pk.codes").as("codes"), col("pk.cdot").as("cdot"), col("pk.m").as("m")))

  /** The PQ tier: m codeword bytes plus the inflated residual norm,
    * encoded with broadcast codebooks. */
  private def pqPostings(
      cbBc: org.apache.spark.broadcast.Broadcast[graft.functions.PqCodebooks]) =
    VectorEncode(
      _.withColumn("qv", VectorFunctions.quantize3(col("embedding")))
        .withColumn("enc", pqEncodeUdf(cbBc)(col("qv"))),
      Seq(col("enc._1").as("pqc"), col("enc._2").as("rn")))

  /** The posting segment key: each cell lands in exactly one file of
    * its segment, sorted by (cell, vec_id) ([[Segments]]). */
  private val PostingKeys = Seq("cell", "vec_id")

  private def centroidMatrix(centRows: Array[Row]): CentroidMatrix =
    CentroidMatrix(centRows.map(_.getSeq[Double](1).toArray), centRows.map(_.getDouble(2)))

  /** The build both tiers share. Derive the centroids (or reuse
    * `centroidsFrom`'s), let `tier` prepare its encode from the view
    * and the build version (PQ trains and writes its codebook
    * generation there and names it), encode and assign once, size each
    * cell's shard width from its count, then write the posting
    * segment and the centroid generation and publish them with the
    * counts. Returns the non-empty cells' counts (cell, n_vectors). */
  private def buildIndex(
      corpus: DataFrame,
      dir: String,
      nlistOpt: Option[Int],
      cellCap: Option[Int],
      centroidsFrom: Option[String],
      refineIters: Int)(
      tier: (DataFrame, Long) => (VectorEncode, Option[String])): DataFrame = {
    cellCap.foreach(cap => require(cap > 0, s"cellCap must be positive, got $cap"))
    val spark = corpus.sparkSession
    // fresh-build commit target: the next version over whatever (if
    // anything) is committed at dir, all data in fresh unique dirs
    val bv = ManifestCommit.currentVersion(dir) + 1
    val view = corpus.select(col("vec_id"), col("embedding"))
    val (centroids, cnorms) = centroidsFrom match {
      case Some(src) =>
        val rows = centroidRows(spark, src, AnnStore.read(src))
        (rows.map(_.getSeq[Double](1).toArray), rows.map(_.getDouble(2)))
      case None =>
        val total = view.count()
        val nlist = nlistOpt.getOrElse(
          math.max(16, math.ceil(math.sqrt(total.toDouble)).toInt))
        val stride = math.max(1L, total / nlist)
        deriveCentroids(view.withColumn("geom", int8GeomCol(col("embedding"))),
          "geom", nlist, stride, refineIters)
    }
    val (encode, codebooks) = tier(view, bv)
    val (rows, counts) = encodePostings(view, CentroidMatrix(centroids, cnorms), encode)
    // per-cell counts drive BOTH the persisted metadata and the shard widths
    val widths = counts.map { case (c, nv) =>
      c -> cellCap.fold(1)(cap => math.max(1, math.ceil(nv / cap.toDouble).toInt))
    }
    val seg = ManifestCommit.uniqueName("seg", bv)
    writePostings(rows, widths, s"$dir/$seg")
    val cent = ManifestCommit.uniqueName("cent", bv)
    import spark.implicits._
    centroids.zip(cnorms).zipWithIndex.map { case ((c, nm), i) =>
      (i, c.toSeq, nm, widths.getOrElse(i, 1))
    }.toSeq.toDF("cell", "centroid", "cnorm", "nshards")
      .write.mode("overwrite").parquet(s"$dir/$cent")
    // fresh-build commit: everything above went into fresh directories;
    // this claim is the moment the index EXISTS for readers. A build
    // REPLACES the index wholesale — CommitConflict on a racing writer
    // (no merge is meaningful), fresh dirs age out via vacuum.
    ManifestCommit.publish(dir,
      AnnStore.Manifest(bv, cent, codebooks, Seq(seg), Nil, counts = counts).record)
    counts.toSeq.sorted.toDF("cell", "n_vectors")
  }

  /** The append both tiers share: centroids, shard widths and (PQ)
    * codebooks stay fixed, so the batch encodes and assigns exactly as
    * a fixed-centroid rebuild would. One commit = one fresh segment +
    * one version claim whose manifest adds the batch's per-cell counts
    * (never an in-place write, and no centroid rewrite). The segment is
    * written ONCE (its content depends only on the fixed
    * centroids/widths); when a concurrent writer claims the version
    * first, [[ManifestCommit.commitDelta]] re-applies the same delta to
    * the winner — an append's rows are new ids, disjoint by
    * construction from anything a concurrent writer appended or
    * tombstoned (a racing delete only tombstones ids present in its
    * base), so its counts stay exact against any winner. Returns
    * per-cell APPENDED counts (cell, n_appended). */
  private def appendToIndex(
      batch: DataFrame, dir: String, batchId: Option[Long], op: String)(
      encode: AnnStore.Manifest => VectorEncode): DataFrame = {
    val spark = batch.sparkSession
    val man = AnnStore.read(dir)
    val small = DriverBatch.gather(batch)
    assertNotTombstoned(small.getOrElse(batch), dir, man, op, small.isDefined)
    val centRows = centroidRows(spark, dir, man)
    val mat = centroidMatrix(centRows)
    val widths = centRows.map(r => r.getInt(0) -> r.getInt(3)).toMap
    val seg = ManifestCommit.uniqueName("seg", man.version + 1)
    val appended = small match {
      case Some(local) =>
        val (rows, counts) = driverPostings(local, mat, widths, encode(man))
        if (counts.nonEmpty) Segments.write(rows, s"$dir/$seg", PostingKeys)
        counts
      case None =>
        val (rows, counts) = encodePostings(batch, mat, encode(man))
        if (counts.nonEmpty) writePostings(rows, widths, s"$dir/$seg")
        counts
    }
    if (appended.nonEmpty)
      ManifestCommit.commitDelta(dir, AnnStore.Store, segments = Seq(seg),
        counts = appended, batchId = batchId)
    import spark.implicits._
    appended.toSeq.sortBy(_._1).toDF("cell", "n_appended")
  }

  /** One encode + assign pass over `vectors`, pinned: the per-cell
    * counts and the posting write both read it (at warehouse scale this
    * would be a persist(DISK_ONLY) staging table instead). Returns the
    * rows (vec_id, payload…, nrm, cell) and the per-cell counts, an
    * nlist-bounded collect. */
  private def encodePostings(
      vectors: DataFrame,
      mat: CentroidMatrix,
      encode: VectorEncode): (DataFrame, Map[Int, Long]) = {
    val sc = vectors.sparkSession.sparkContext
    val rows = postingRows(vectors.select(col("vec_id"), col("embedding"))
        .repartition(sc.defaultParallelism, col("vec_id")), sc.broadcast(mat), encode)
      .localCheckpoint()
    val counts = rows.groupBy(col("cell")).agg(count(lit(1)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (rows, counts)
  }

  /** The posting projection both append paths run: `encode`'s payload,
    * the exact q3 norm² and the nearest cell, over (vec_id, embedding). */
  private def postingRows(
      vectors: DataFrame,
      matBc: org.apache.spark.broadcast.Broadcast[CentroidMatrix],
      encode: VectorEncode): DataFrame =
    encode.stage(vectors)
      .select((col("vec_id") +: encode.payload) ++ Seq(
        VectorFunctions.dotScaledFast(col("embedding"), col("embedding")).as("nrm"),
        nearestCellsCol(matBc, int8GeomCol(col("embedding")), 1).as("cell")): _*)

  /** [[encodePostings]] and [[writePostings]]' shard column for a
    * driver-held batch, computed on the driver: the posting projection
    * and the shard hash are the distributed path's own expressions,
    * evaluated over the local relation ([[DriverBatch.eval]]), and the
    * per-cell counts and widths are looked up in Scala — no checkpoint
    * and no count job. Returns the segment rows (vec_id, payload…, nrm,
    * shard, cell) as a local relation, and the per-cell counts. */
  private def driverPostings(
      local: DataFrame,
      mat: CentroidMatrix,
      widths: Map[Int, Int],
      encode: VectorEncode): (DataFrame, Map[Int, Long]) = {
    val spark = local.sparkSession
    val (enc, schema) = DriverBatch.eval(postingRows(
      local.select(col("vec_id"), col("embedding")), spark.sparkContext.broadcast(mat), encode),
      col("*"))
    val cell = schema.fieldIndex("cell")
    val sized = enc.toSeq.flatMap(r =>
      widths.get(r.getInt(cell)).map(w => Row.fromSeq(r.toSeq :+ w)))
    val (rows, rowSchema) = DriverBatch.eval(
      DriverBatch.relation(spark, sized, schema.add("nshards", IntegerType, nullable = false)),
      withShard(schema.fieldNames.toSeq): _*)
    (DriverBatch.relation(spark, rows.toSeq, rowSchema),
      sized.groupBy(_.getInt(cell)).map { case (c, rs) => c -> rs.size.toLong })
  }

  /** Write [[encodePostings]]' rows as one fresh posting segment, then
    * free their pinned blocks instead of letting per-write generations
    * pile up in the storage pool. */
  private def writePostings(rows: DataFrame, widths: Map[Int, Int], segDir: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    Segments.write(
      rows.join(broadcast(widths.toSeq.toDF("cell", "nshards")), "cell")
        .select(withShard(rows.columns.toSeq): _*),
      segDir, PostingKeys)
    graft.Checkpoints.free(rows)
  }

  /** The posting columns `cols` with their shard: an id hash within the
    * row's cell width `nshards` — id, not content: exact-duplicate
    * masses share codes and must still spread across shards (probe
    * replication covers every shard, so placement is free to be
    * uniform). `cell` stays the last posting column. */
  private def withShard(cols: Seq[String]): Seq[org.apache.spark.sql.Column] =
    cols.filterNot(_ == "cell").map(col) ++ Seq(
      pmod(xxhash64(col("vec_id")), col("nshards").cast("long")).cast("int").as("shard"),
      col("cell"))

  /** The centroid table of `m`'s generation as driver rows (cell,
    * centroid, cnorm, nshards), ordered by cell — the nlist-bounded
    * collect every append and probe reads. Every column is fixed at
    * build, so the rows are decoded once per generation per session
    * ([[GenerationCache.scalar]], as [[loadPqCodebooks]]) — an index
    * parameter, not a query result — and the cache outlives appends and
    * deletes. The counts those change come from the manifest on every
    * call (`m.counts`), never from this cache. */
  private def centroidRows(
      spark: SparkSession, dir: String, m: AnnStore.Manifest): Array[Row] =
    GenerationCache.scalar(spark, s"centrows|$dir/${m.cent}")(
      GenerationCache.directory(spark, s"$dir/${m.cent}").orderBy(col("cell")).collect())

  /** Guard against re-ingesting a tombstoned id: until a compact
    * materializes the deletes, the read path's anti-join would HIDE the
    * re-appended row while the manifest counts grew — permanently
    * diverging `sum(n_vectors)` from the live posting view (the
    * integrity invariant and the top-k strategy-switch input). The
    * "compact first" contract is now enforced, not just documented:
    * one broadcast semi-join against the (small) tombstone set, skipped
    * entirely when no delete is outstanding. A driver-held batch
    * (`local`) instead pushes its own ids into the tombstone scan. */
  private def assertNotTombstoned(
      batch: DataFrame, dir: String, man: AnnStore.Manifest,
      op: String, local: Boolean): Unit =
    AnnStore.tombstoned(batch.sparkSession, dir, man).foreach { dead =>
      val clash =
        if (local) dead.where(col("vec_id").isin(
          batch.select(col("vec_id")).collect().map(_.get(0)).distinct.toIndexedSeq: _*))
          .collect().length.toLong
        else batch.select(col("vec_id"))
          .join(broadcast(dead), Seq("vec_id"), "left_semi").count()
      require(clash == 0,
        s"$op: $clash batch id(s) are tombstoned in $dir — run " +
          "compactIvfIndex first; re-ingesting a deleted id before the " +
          "compact would stay hidden behind the tombstone anti-join " +
          "while inflating the cell counts")
    }

  /** Deletes vectors from an EXISTING index — the takedown/opt-out
    * maintenance op, [[appendToIvfIndex]]'s inverse, O(|deleted ids|)
    * in write volume: the delete writes a TOMBSTONE segment (the ids
    * actually present, one column) and publishes it with the decremented
    * per-cell counts in one [[AnnStore]] manifest commit — no posting or
    * centroid data is rewritten, and a reader mid-delete sees either
    * the old state or the new one.
    * Readers drop tombstoned ids with a broadcast anti-join
    * ([[AnnStore.postings]]); [[compactIvfIndex]] materializes the
    * tombstones and clears the list. Centroids and shard widths stay
    * FIXED — a delete only shrinks cells, and probe replication still
    * covers every shard — so the read path after a delete is
    * result-identical to a fresh [[buildIvfIndex]] over the surviving
    * corpus at the same centroids (the deletion law; SimilaritySpec
    * pins it and l58 gates it per query). An emptied cell simply has no
    * live rows: probes of it match nothing, and its rows fall out at
    * the next compact. Finding the per-cell removed counts costs
    * one postings scan (output nlist-bounded) — the id→cell map is
    * content-derived, not stored; a deployment deleting daily would
    * persist that map at ingest to skip the scan.
    * Returns per-cell removed counts (cell, n_removed). */
  def deleteFromIvfIndex(ids: DataFrame, dir: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val del = ids.select(col("vec_id")).distinct()
    // The delete OWNS its commit retry, unlike the appends'
    // commitDelta: a delete's tombstone AND count delta are functions of
    // the base's LIVE view, so on a lost claim both must be recomputed
    // against the winner — re-applying the original delta when the
    // winner tombstoned an overlapping id would decrement the same
    // posting twice (the read path dedups tombstones via distinct, so
    // sum(n_vectors) would diverge from the live view permanently — the
    // exact invariant the tombstone guard protects). Recomputing
    // `present` against the winner's manifest makes overlapping ids
    // contribute 0, whatever the serialization.
    var man = AnnStore.read(dir)
    var removed = Map.empty[Int, Long]
    var committed = false
    while (!committed) {
      val posts = AnnStore.postings(spark, dir, man)
      // ids actually present in THIS base's live view (re-deleting is a
      // no-op and an id never indexed must not poison a future
      // re-ingest), pinned: the counts collect and the tombstone write
      // both read it
      val present = posts.join(broadcast(del), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("cell")).localCheckpoint()
      // touched cells + per-cell removed counts: nlist-bounded collect
      removed = present
        .groupBy(col("cell")).agg(count(lit(1)).as("n_removed"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      committed = removed.isEmpty || {
        val tomb = ManifestCommit.uniqueName("del", man.version + 1)
        Segments.write(present.select(col("vec_id")).distinct(), s"$dir/$tomb",
          Seq("vec_id"))
        ManifestCommit.tryPublish(dir, ManifestCommit.withDelta(man.record,
          man.version + 1, tombstones = Seq(tomb),
          counts = removed.map { case (c, n) => c -> -n }))
      }
      graft.Checkpoints.free(present)
      // lost the claim — re-derive everything against the winner (the
      // orphan tombstone dir ages out via vacuum)
      if (!committed) man = AnnStore.read(dir)
    }
    removed.toSeq.sortBy(_._1).toDF("cell", "n_removed")
  }

  /** Rewrites the live posting view into ONE fresh segment,
    * MATERIALIZING tombstones — the maintenance pass an
    * append/delete-grown index needs: every append adds a segment
    * (per-commit file sets), every delete adds a broadcast anti-join to
    * the read path; compact collapses both back to the fresh-build
    * shape (one segment, no tombstones) and publishes in one manifest
    * commit. A reader that resolved the old manifest keeps its old
    * segments (they are not touched until [[AnnStore.vacuum]]); a
    * reader arriving after the commit sees exactly the new one. Row
    * content is untouched modulo tombstones: a post-compaction read is
    * row-identical (spec-pinned), only the file layout changes. The
    * centroid generation and the manifest counts carry over unchanged —
    * append/delete already keep the counts current. */
  def compactIvfIndex(spark: SparkSession, dir: String): Unit = {
    val man = AnnStore.read(dir)
    val seg = ManifestCommit.uniqueName("seg", man.version + 1)
    Segments.write(AnnStore.postings(spark, dir, man), s"$dir/$seg", PostingKeys)
    // the compacted segment REPLACES the lists it read; an append or
    // delete that won the race applies on top of it, its counts already
    // in the winner's manifest ([[ManifestCommit.commitCompact]]); a
    // racing rebuild or compact aborts with CommitConflict
    ManifestCommit.commitCompact(dir, man.record, seg)
  }

  /** IVF top-k answered FROM the persisted index: probe cells come from
    * the materialized centroid table (an nlist-row scalar collect, the
    * same documented discipline as the build side) and the corpus side
    * is the int8 postings scan AS-IS — no centroid derivation, no
    * assignment scan, no per-vector recompute anywhere on the postings
    * path (SimilaritySpec gates the executed plan: one postings scan,
    * with pack/probe expressions on the query side only). Candidates
    * score in CODE space from the 64 B posting payload; [[graft
    * .functions.TopKScreenAgg]] keeps, per query, exactly the
    * candidates whose sound interval [cos_code − M, cos_code + M]
    * (Cauchy–Schwarz margin — derivation at [[cosineNearDup]]) could
    * still reach the top k; only that survivor set re-attaches exact
    * vectors — query side from `queries`, corpus side from
    * `corpusExact` (the float source table the index was built from) —
    * and the exact re-rank is ROW-IDENTICAL to [[ivfTopKInt8]] with the
    * same nlist (same int8 cell geometry, same first-max assignment,
    * sound screen ⇒ no true top-k member pruned; the spec pins the
    * parity). Probe rows replicate across hot-cell shards from the
    * persisted widths — result-identical, see [[shardHotCells]].
    *
    * A batch of at most [[DriverBatch.Floor]] queries — every serving
    * request — builds its probe rows on the driver ([[driverProbeJoin]]):
    * codes, nearest cells and the shard fan-out become a local
    * relation, the postings scan reads only the probed cells, and the
    * call costs the final action's jobs alone (≤ 3). A larger batch
    * runs the distributed probe. */
  def ivfTopKIndexed(
      queries: DataFrame,
      corpusExact: DataFrame,
      indexDir: String,
      k: Int,
      nprobe: Int = 4): DataFrame =
    indexedTopK(queries, corpusExact, indexDir, k)(ivfCandidatesIndexed(_, indexDir, nprobe, _, _))

  /** Int8 candidate pairs with their sound code-space screen interval
    * `(qid, nid, lb, ub)` — [[pqCandidatesIndexed]] for the int8 tier.
    * `local`: `queries` is a driver-held batch ([[driverProbeJoin]]);
    * when its ids are unique the pairs also carry each query's exact q3
    * vector and norm² (`__qv`, `__qn`). */
  private def ivfCandidatesIndexed(
      queries: DataFrame,
      indexDir: String,
      nprobe: Int,
      man: AnnStore.Manifest,
      local: Boolean): DataFrame = {
    val postings = AnnStore.postings(queries.sparkSession, indexDir, man).select(
      col("vec_id").as("nid"), col("codes").as("cb"), col("cdot").as("cdb"),
      col("m").as("mb"), col("nrm").as("nb"), col("shard"), col("cell"))
    val joined = probeJoin(queries, indexDir, man, nprobe, Int8Probe, postings, local)
    val ra = screenResid(col("ca"), col("ma"), col("na"))
    val rb = screenResid(col("cb"), col("mb"), col("nb"))
    val cosCode = screenCosCode(col("ca"), col("cda"), col("cb"), col("cdb"))
    val margin = lit(2.0) * (ra + rb) + lit(4.0) * ra * rb
    joined.filter(col("qid") =!= col("nid"))
      .select(Seq(col("qid"), col("nid"),
        (cosCode - margin).as("lb"), (cosCode + margin).as("ub")) ++ carried(joined): _*)
  }

  /** The int8 tier's probe row: the query's codes, their dot and scale
    * ([[graft.functions.Int8PackExpr]]) and its q3 norm². */
  private val Int8Probe = VectorEncode(
    _.withColumn("pk", VectorFunctions.int8Pack(col("embedding"))),
    Seq(col("pk.codes").as("ca"), col("pk.cdot").as("cda"), col("pk.m").as("ma"),
      VectorFunctions.dotScaledFast(col("embedding"), col("embedding")).as("na")))

  /** The query-side columns a driver-built probe carries through the
    * screen to the exact re-rank ([[indexedTopK]]), when it has them. */
  private def carried(probe: DataFrame): Seq[org.apache.spark.sql.Column] =
    Seq("__qv", "__qn").filter(probe.columns.contains).map(col)

  /** The probe side of an index query over a driver-held batch, joined
    * to the postings. Each query's screen columns (`probe`), its exact
    * q3 vector and norm² for the re-rank (`__qv`, `__qn`) and its
    * `nprobe` nearest cells are evaluated on the driver
    * ([[DriverBatch.eval]] — the distributed probe's own expressions),
    * and the cell × shard fan-out runs in Scala from the persisted
    * widths: no repartition, no checkpoint, no scalar collect. The
    * postings scan reads only the probed cells (a pushed `cell IN (…)`,
    * so row-group statistics on the (cell, vec_id)-sorted files skip
    * the rest) and is broadcast to the probe, which streams in ONE
    * partition: the screen aggregate and the re-rank window need no
    * shuffle, and the call costs the broadcasts and the result job.
    * The floor bounds that broadcast to the postings of at most
    * [[DriverBatch.Floor]]·nprobe cells; SCALE.md ("Batch-sized probes
    * on the driver") measures it at 10⁶ vectors against the probe
    * broadcast over streamed postings and against the distributed
    * probe. */
  private def driverProbeJoin(
      queries: DataFrame,
      centRows: Array[Row],
      matBc: org.apache.spark.broadcast.Broadcast[CentroidMatrix],
      nprobe: Int,
      probe: VectorEncode,
      postings: DataFrame): DataFrame = {
    val e = col("embedding")
    val (evaluated, fullSchema) = DriverBatch.eval(probe.stage(queries.select(col("vec_id"), e)),
      (col("vec_id").as("qid") +: probe.payload) ++ Seq(
        VectorFunctions.quantize3(e).as("__qv"),
        VectorFunctions.dotScaledFast(e, e).as("__qn"),
        nearestCellsCol(matBc, int8GeomCol(e), nprobe).as("cells")): _*)
    // the exact q3 vector rides the probe only when it is a function of
    // the query id (see [[indexedTopK]])
    val ids = evaluated.map(_.get(0))
    val keep = fullSchema.fieldNames.indices.filterNot(i =>
      ids.distinct.length < ids.length && fullSchema(i).name.startsWith("__"))
    val schema = StructType(keep.map(fullSchema(_)))
    val qs = evaluated.map(r => Row.fromSeq(keep.map(r.get)))
    val widths = centRows.map(r => r.getInt(0) -> r.getInt(3)).toMap
    val cellsOf = qs.map(_.get(schema.length - 1) match {
      case c: Int => Seq(c)
      case cs: scala.collection.Seq[_] => cs.map(_.asInstanceOf[Int]).toSeq
    })
    val rows = qs.toSeq.zip(cellsOf).flatMap { case (q, cells) =>
      cells.flatMap(c => widths.get(c).toSeq.flatMap(w =>
        (0 until math.max(w, 1)).map(sh => Row.fromSeq(q.toSeq.init ++ Seq(c, sh)))))
    }
    val probeRows = DriverBatch.relation(queries.sparkSession, rows, StructType(schema.init ++ Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("shard", IntegerType, nullable = false))))
    val scan = postings.where(
      col("cell").isin(cellsOf.flatten.distinct.map(Integer.valueOf).toSeq: _*))
    probeRows.coalesce(1).join(broadcast(scan), Seq("cell", "shard"))
  }

  /** The probe side of an index query joined to the postings, shared by
    * both tiers: the tier's probe columns (`probe`) per query, fanned
    * out to its `nprobe` nearest cells and to every shard of each cell
    * (the persisted widths). A driver-held batch (`local`) is built on
    * the driver ([[driverProbeJoin]]); any other batch is repartitioned
    * and probed in parallel, and `materialize` runs on its probe rows
    * before the join (the PQ tier's checkpoint). */
  private def probeJoin(
      queries: DataFrame,
      indexDir: String,
      man: AnnStore.Manifest,
      nprobe: Int,
      probe: VectorEncode,
      postings: DataFrame,
      local: Boolean,
      materialize: DataFrame => DataFrame = identity): DataFrame = {
    val spark = queries.sparkSession
    val sc = spark.sparkContext
    val centRows = centroidRows(spark, indexDir, man)
    val matBc = sc.broadcast(centroidMatrix(centRows))
    if (local) driverProbeJoin(queries, centRows, matBc, nprobe, probe, postings)
    else {
      import spark.implicits._
      val widths = centRows.map(r => (r.getInt(0), r.getInt(3))).toSeq
        .toDF("cell", "nshards")
      val q = probe.stage(queries.repartition(sc.defaultParallelism, col("vec_id")))
        .select((col("vec_id").as("qid") +: probe.payload) :+
          explode(nearestCellsCol(matBc, int8GeomCol(col("embedding")), nprobe))
            .as("cell"): _*)
        .join(broadcast(widths), "cell")
        .withColumn("shard",
          explode(sequence(lit(0), greatest(col("nshards"), lit(1)) - 1)))
        .drop("nshards")
      materialize(q).join(postings, Seq("cell", "shard"))
    }
  }

  /** The read path both index tiers share: resolve the manifest once,
    * gather a batch-sized query set to the driver ([[DriverBatch]]),
    * build the tier's candidate pairs (`candidates(queries, manifest,
    * local)`), then screen and re-rank. [[graft.functions
    * .TopKScreenAgg]] keeps, per query, the candidates whose sound
    * interval could still reach the top k, and only those re-attach
    * exact vectors: the corpus side from `corpusExact`, the query side
    * from `queries` — or, for a driver-built probe with unique query
    * ids, from the q3 vector and norm² the probe rows carried through
    * the screen (grouped with the id they depend on), which saves the
    * query-side join. Duplicate ids keep the join, so every path
    * scores each (query row, survivor) pair the same way. */
  private def indexedTopK(
      queries: DataFrame,
      corpusExact: DataFrame,
      indexDir: String,
      k: Int)(
      candidates: (DataFrame, AnnStore.Manifest, Boolean) => DataFrame): DataFrame = {
    val man = AnnStore.read(indexDir) // ONE manifest resolve per query
    val small = DriverBatch.gather(queries)
    val q = small.getOrElse(queries)
    val cand = candidates(q, man, small.isDefined)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val screen = ColumnBridge.column(graft.functions.TopKScreenAgg(
      ColumnBridge.expression(col("nid")), ColumnBridge.expression(col("lb")),
      ColumnBridge.expression(col("ub")), k).toAggregateExpression())
    val dotF = VectorFunctions.dotScaledFast _
    val withQuery =
      if (cand.columns.contains("__qv"))
        cand.groupBy(col("qid"), col("__qv").as("qv"), col("__qn").as("qn"))
          .agg(screen.as("cands"))
          .select(col("qid"), col("qv"), col("qn"), explode(col("cands")).as("nid"))
      else {
        val surv = cand.groupBy(col("qid")).agg(screen.as("cands"))
          .select(col("qid"), explode(col("cands")).as("nid"))
        val qv = q.select(col("vec_id").as("qid"),
          VectorFunctions.quantize3(col("embedding")).as("qv"),
          dotF(col("embedding"), col("embedding")).as("qn"))
        surv.join(qv, "qid")
      }
    val cv = corpusExact.select(col("vec_id").as("nid"),
      VectorFunctions.quantize3(col("embedding")).as("nv"),
      dotF(col("embedding"), col("embedding")).as("nn"))
    val scored = withQuery.join(cv, "nid")
      .withColumn("cos", cosCol(col("qv"), col("nv"), col("qn"), col("nn")))
      .select(col("qid"), col("nid"), col("cos"))
    rankTopK(scored, k, man.counts.values.sum)
  }

  /** Builds the PRODUCT-QUANTIZED postings tier: same cell layout,
    * shard guard and centroid table as [[buildIvfIndex]], but each
    * posting stores `m` one-byte PQ codeword indices plus two scalars
    * (reconstruction residual `rn`, exact q3 norm² `nrm`) instead of
    * the d-byte int8 blob — codes 8× below int8 at d = 64, m = 8, the
    * storage/IO tier below int8 for a 100 TB corpus whose index must
    * stay scan-able. MEASURED whole-postings footprint: 2.8× smaller
    * at 10⁶ (84 → 30 MB zstd, ScaleBench) — the two per-row scalars
    * dominate once the codes shrink; at production d (768+) the scalar
    * share vanishes and the ratio approaches d/m. The build is also
    * cheaper than the int8 build at 10⁶ (15 vs 22 s: less write IO). Codebooks ([[graft.functions
    * .PqCodebooks]]) are trained ONCE at build on a deterministic
    * hash-ordered sample of `sampleN` q3 vectors (driver-side Lloyd —
    * sampleN·d ints ≈ 4 MB at the 16k default, a documented bounded
    * collect, the standard PQ practice of training on a sample) and
    * persisted as a `cb_<v>` generation so serving and appends reuse them
    * bit-identically. `centroidsFrom` shares a coarse quantizer with an
    * existing index (the spec pins serve parity against the int8 tier
    * through it). Returns the same per-cell histogram as
    * [[buildIvfIndex]]. */
  def buildPqIndex(
      corpus: DataFrame,
      dir: String,
      nlistOpt: Option[Int] = None,
      cellCap: Option[Int] = None,
      centroidsFrom: Option[String] = None,
      refineIters: Int = 0,
      m: Int = 8,
      ks: Int = 256,
      sampleN: Int = 16384,
      trainIters: Int = 6,
      codebooksFrom: Option[String] = None): DataFrame =
    buildIndex(corpus, dir, nlistOpt, cellCap, centroidsFrom, refineIters) { (view, bv) =>
      val spark = view.sparkSession
      // codebooksFrom: reuse an existing index's trained codebooks
      // bit-identically (the fixed-codebooks rebuild that
      // [[appendToPqIndex]]'s parity contract is stated against — a fresh
      // training run over a different corpus sample would encode
      // different bytes). Otherwise train on a TOTAL-deterministic-order
      // sample (hash, then id — ties impossible in practice but the order
      // must not depend on them), bounded collect documented above.
      val cb = codebooksFrom match {
        case Some(src) => loadPqCodebooks(spark, src, AnnStore.read(src))
        case None =>
          val sample = view
            .select(col("vec_id"), VectorFunctions.quantize3(col("embedding")).as("qv"))
            .orderBy(xxhash64(col("vec_id")), col("vec_id"))
            .limit(sampleN)
            .select(col("qv")).collect().map(_.getSeq[Int](0).toArray)
          graft.functions.PqCodebooks.train(sample, m, ks, trainIters)
      }
      import spark.implicits._
      // m·ks rows of dsub doubles — the whole table is ~128 KB at the
      // defaults; serving collects it once per session
      val cbName = ManifestCommit.uniqueName("cb", bv)
      (0 until cb.m).flatMap { sub =>
        (0 until cb.ks).map { code =>
          (sub, code, (0 until cb.dsub).map(j => cb.cw(sub, code, j)))
        }
      }.toDF("sub", "code", "cw")
        .write.mode("overwrite").parquet(s"$dir/$cbName")
      (pqPostings(spark.sparkContext.broadcast(cb)), Some(cbName))
    }

  /** Appends a vector batch into an EXISTING PQ index —
    * [[appendToIvfIndex]] for the PQ tier: centroids AND codebooks stay
    * fixed (the batch encodes with the persisted codebooks
    * bit-identically — training is never re-run, so existing postings
    * and new ones live in one code space), the encoded batch lands in a
    * fresh segment, and one [[AnnStore]] manifest commit publishes it with
    * the batch's per-cell counts added. The
    * parity contract mirrors the int8 tier's: the read path after an
    * append is ROW-IDENTICAL to a fresh [[buildPqIndex]] over the full
    * corpus at the same centroids and codebooks (`centroidsFrom` +
    * `codebooksFrom` — SimilaritySpec pins it, l62 gates the integrity
    * invariant per run). Returns per-cell appended counts. */
  def appendToPqIndex(
      batch: DataFrame, dir: String,
      batchId: Option[Long] = None): DataFrame =
    appendToIndex(batch, dir, batchId, "appendToPqIndex")(man =>
      pqPostings(batch.sparkSession.sparkContext.broadcast(
        loadPqCodebooks(batch.sparkSession, dir, man))))

  /** Reconstruct the persisted codebook table into the flat-array
    * [[graft.functions.PqCodebooks]] the encode/ADC primitives run on —
    * m·ks rows, one bounded driver-side collect (~128 KB at the
    * defaults); shared by serving, [[appendToPqIndex]] and the
    * `codebooksFrom` rebuild so every consumer decodes the SAME bytes.
    * A codebook generation is immutable after build, so the decoded
    * table is an index PARAMETER resolved once per generation per
    * session ([[GenerationCache.scalar]], the [[DedupIndex]] meta
    * precedent) — never a query result. */
  private def loadPqCodebooks(
      spark: SparkSession, indexDir: String,
      man: AnnStore.Manifest): graft.functions.PqCodebooks = {
    val cb = man.codebooks.getOrElse(
      sys.error(s"index at $indexDir has no codebook generation"))
    GenerationCache.scalar(spark, s"pqcb|$indexDir/$cb") {
      val cbRows = GenerationCache.directory(spark, s"$indexDir/$cb")
        .orderBy(col("sub"), col("code")).collect()
      val m = cbRows.map(_.getInt(0)).max + 1
      val ksEff = cbRows.map(_.getInt(1)).max + 1
      val dsub = cbRows(0).getSeq[Double](2).length
      val flat = new Array[Double](m * ksEff * dsub)
      cbRows.foreach { r =>
        val base = (r.getInt(0) * ksEff + r.getInt(1)) * dsub
        val cw = r.getSeq[Double](2)
        var j = 0
        while (j < dsub) { flat(base + j) = cw(j); j += 1 }
      }
      graft.functions.PqCodebooks(flat, m, ksEff, dsub)
    }
  }

  /** q3 vector → (PQ codes, inflated residual norm) with broadcast
    * codebooks — a tight primitive loop per row, the same UDF-with-
    * broadcast-handle precedent as the hyperplane band keys. */
  private def pqEncodeUdf(
      cbBc: org.apache.spark.broadcast.Broadcast[graft.functions.PqCodebooks]) =
    udf { (v: Seq[Int]) =>
      if (v == null) null
      else graft.functions.PqCodebooks.encode(cbBc.value, v.toArray)
    }

  /** The PQ tier's probe row: the query's q3 norm² and its ADC table
    * ([[pqLutUdf]]) — the q3 vector itself stays out of the join
    * payload, which is the 16 KB table and a scalar. */
  private def pqProbe(
      cbBc: org.apache.spark.broadcast.Broadcast[graft.functions.PqCodebooks]) =
    VectorEncode(
      _.withColumn("qv", VectorFunctions.quantize3(col("embedding"))),
      Seq(VectorFunctions.dotScaledFast(col("embedding"), col("embedding")).as("qn"),
        pqLutUdf(cbBc)(col("qv")).as("lut")))

  /** q3 query vector → the m·ks ADC table lut[sub·ks + code] =
    * q̃_sub · codeword(sub, code): one m·ks·dsub pass per QUERY row, so
    * every candidate pair downstream costs m lookups
    * ([[graft.functions.PqAdcExpr]]) instead of d madds. */
  private def pqLutUdf(
      cbBc: org.apache.spark.broadcast.Broadcast[graft.functions.PqCodebooks]) =
    udf { (v: Seq[Int]) =>
      val cb = cbBc.value
      val lut = new Array[Double](cb.m * cb.ks)
      if (v != null) {
        var sub = 0
        while (sub < cb.m) {
          var c = 0
          while (c < cb.ks) {
            var acc = 0.0
            var j = 0
            while (j < cb.dsub) {
              val idx = sub * cb.dsub + j
              if (idx < v.length) acc += v(idx).toDouble * cb.cw(sub, c, j)
              j += 1
            }
            lut(sub * cb.ks + c) = acc
            c += 1
          }
          sub += 1
        }
      }
      lut
    }

  /** PQ candidate pairs with their sound screen interval — the shared
    * derivation under [[pqTopKIndexed]] and the SimilaritySpec
    * soundness instrument (every candidate's [lb, ub] must contain its
    * exact q3 cosine). Bound: cos = q̃·a/(‖q̃‖‖a‖) and
    * |q̃·a − adc| ≤ ‖q̃‖·‖a − x̂‖ ≤ ‖q̃‖·rn (Cauchy–Schwarz; rn stored
    * inflated at encode), so cos ∈ adc/√(qn·nn) ± rn/√nn. Zero-norm
    * rows collapse to [0, 0] — exactly the downstream exact score.
    * `local`: `queries` is a driver-held batch, and each query's LUT is
    * built once on the driver ([[driverProbeJoin]]); when its ids are
    * unique the pairs also carry each query's exact q3 vector and norm²
    * (`__qv`, `__qn`). */
  private[graft] def pqCandidatesIndexed(
      queries: DataFrame,
      indexDir: String,
      nprobe: Int,
      man: AnnStore.Manifest,
      local: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val cbBc = spark.sparkContext.broadcast(loadPqCodebooks(spark, indexDir, man))
    val postings = AnnStore.postings(spark, indexDir, man).select(
      col("vec_id").as("nid"), col("pqc"), col("rn"), col("nrm").as("nb"),
      col("shard"), col("cell"))
    // MATERIALIZE a distributed probe side before the candidate join:
    // without it, CollapseProject folds the LUT UDF into the post-join
    // projection and the m·ks·dsub table is rebuilt (boxed, allocated)
    // once per OCCURRENCE per CANDIDATE row instead of once per probe
    // row — measured 24 s of a 26 s serve pass at 10⁵ corpus / 88-query
    // batch, vs 1.6 s for the join itself (stages timed in isolation).
    // A driver-built probe needs no checkpoint: its LUTs are data in a
    // local relation.
    val joined = probeJoin(queries, indexDir, man, nprobe, pqProbe(cbBc), postings, local,
      _.localCheckpoint())

    import org.apache.spark.sql.graftbridge.ColumnBridge
    val adc = ColumnBridge.column(graft.functions.PqAdcExpr(
      ColumnBridge.expression(col("lut")), ColumnBridge.expression(col("pqc"))))
    // q3 norm² product in double — same documented Long-product domain
    // bound as cosCol
    val base = adc / sqrt((col("qn") * col("nb")).cast("double"))
    val marg = col("rn") / sqrt(col("nb").cast("double"))
    joined.filter(col("qid") =!= col("nid"))
      .select(Seq(col("qid"), col("nid"),
        when(col("qn") === 0 || col("nb") === 0, lit(0.0))
          .otherwise(base - marg).as("lb"),
        when(col("qn") === 0 || col("nb") === 0, lit(0.0))
          .otherwise(base + marg).as("ub")) ++ carried(joined): _*)
  }

  /** ANN top-k answered FROM the persisted PQ index — the read path of
    * [[buildPqIndex]], structurally [[ivfTopKIndexed]] with the int8
    * code screen swapped for ADC: candidates score as m LUT lookups
    * from an m-byte posting payload, [[graft.functions.TopKScreenAgg]]
    * prunes on the sound residual interval, and only survivors
    * re-attach exact vectors. ROW-IDENTICAL to [[ivfTopKIndexed]] over
    * an int8 index sharing the same centroid table (same cells probed,
    * both screens sound, same exact re-rank — SimilaritySpec pins the
    * parity), from a 2.8× smaller postings tier (measured, build
    * docstring above).
    *
    * Screen-width honesty: the sound margin is rn/‖a‖ — on a
    * NEAR-ORTHOGONAL corpus (the fixture's adversarial shape) PQ
    * residuals are large (≈ 0.5 cosine units at m = 8, d = 64:
    * 256 codewords per 8-dim subspace shave only 256^(1/4) off the
    * radius of an unstructured Gaussian), the interval covers the whole
    * score range and the screen degenerates to an exact re-rank of
    * every cell candidate. The smaller scan still wins at scale —
    * ScaleBench 10⁶ serving A/B: pq 8.3 s vs int8 9.0 s warm (at 10⁵
    * the fixed costs dominate and the two tie) — but the
    * PRUNING claim belongs to clustered real-world embeddings, where
    * residuals shrink with cluster tightness; raising `m` tightens the
    * bound as 256^(-2·m/d) (m = 32 → ≈ 0.06) at m bytes per posting. */
  def pqTopKIndexed(
      queries: DataFrame,
      corpusExact: DataFrame,
      indexDir: String,
      k: Int,
      nprobe: Int = 4): DataFrame =
    indexedTopK(queries, corpusExact, indexDir, k)(pqCandidatesIndexed(_, indexDir, nprobe, _, _))

  /** IVF candidate pairs, ids only — the SimilaritySpec instrument for
    * the per-query candidate bound (≤ c·nprobe·sqrt(n)). Same candidate
    * set the production path scores (shared derivation). */
  private[graft] def ivfCandidates(
      queries: DataFrame,
      corpus: DataFrame,
      nlistOpt: Option[Int] = None,
      nprobe: Int = 4): DataFrame =
    ivfScoredPairs(queries, corpus, nlistOpt, nprobe, int8 = false)
      .select(col("qid"), col("nid"))

  /** Int8-geometry IVF candidates, ids only — SimilaritySpec instrument. */
  private[graft] def ivfCandidatesInt8(
      queries: DataFrame,
      corpus: DataFrame,
      nlistOpt: Option[Int] = None,
      nprobe: Int = 4): DataFrame =
    ivfScoredPairs(queries, corpus, nlistOpt, nprobe, int8 = true)
      .select(col("qid"), col("nid"))

  /** SemDedup-style embedding-cluster dedup: assign every vector to its
    * nearest stride centroid (the IVF coarse quantizer), compare pairs
    * ONLY within a cluster, and drop any vector whose cosine to a
    * lower-id cluster member is >= `threshold` (keep-lowest-id
    * representative — deterministic, no iteration order anywhere).
    * Returns the SURVIVORS with their original columns.
    *
    * This is the embedding-space near-dedup that scales past banding:
    * work is Σ cluster_size² ≈ n·√n at nlist = √n (each of n vectors
    * compares against its ~√n-member cluster), vs the LSH route's
    * n^1.33 candidates — and it needs no hyperplane budget at all. The
    * trade is cluster-boundary misses: a near-dup pair split across two
    * cells is never examined (the published SemDedup semantics — recall
    * is traded for a fixed work envelope). EXACT duplicates are immune:
    * identical vectors share identical centroid scores, so they land in
    * the same cell and are always caught — SimilaritySpec pins that law
    * on the planted-duplicate corpus.
    *
    * CASCADE semantics (deliberate, pinned by SimilaritySpec's chain
    * test): the drop test is against ALL lower-id cluster members,
    * including members that were themselves dropped. In a chain
    * a < b < c with cos(a,b) ≥ τ, cos(b,c) ≥ τ but cos(a,c) < τ, both b
    * AND c are dropped — c's only qualifying neighbor (b) does not
    * survive. This is the greedy one-sweep SemDedup trade: it
    * over-deletes along sub-threshold chains but needs no iteration and
    * no per-pair state beyond the single cell join. When
    * component-exact survivors matter (keep one per TRANSITIVE group,
    * never cascade), close the qualifying pairs with
    * [[Dedup.connectedComponents]] and keep the min id per component —
    * the l26/l28 flow.
    *
    * Execution shape matches the fused ANN paths: one cell equi-join
    * with vectors + precomputed norms on the inputs, cosine in the
    * pipelined join output, narrow (dropped-id) rows into the distinct,
    * and one left-anti join to emit survivors. */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      nlistOpt: Option[Int] = None,
      cellCap: Option[Int] = None,
      refineIters: Int = 0): DataFrame = {
    val celled = semDedupCells(emb, idCol, embCol, nlistOpt, cellCap, refineIters)
    val joinKeys = if (cellCap.isDefined) Seq("cell", "shard") else Seq("cell")
    val x = celled.select((Seq(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na")) ++ joinKeys.map(col)): _*)
    val y = celled.select((Seq(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb")) ++ joinKeys.map(col)): _*)
    val dropped = x.join(y, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosCol(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_b").as("__drop_id")).distinct()
    emb.join(dropped, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** The cell (and, with `cellCap`, shard) assignment stage of
    * [[semDedup]] — shared derivation, also the SimilaritySpec
    * instrument for the skew bound.
    *
    * THE HOT-CELL GUARD (`cellCap`): stride centroids are unbiased on
    * scattered data, but a CLUSTERED corpus can put a large fraction of
    * all vectors into one cell, and semDedup's within-cell self-join is
    * quadratic in cell size — one 10⁸-row cell at web scale is a
    * quadratic bucket. With `cellCap = Some(cap)`, a cell of size s
    * splits into ceil(s/cap) shards and comparisons run WITHIN a shard
    * only, bounding the work envelope at Σ ceil(s/cap)·cap² instead of
    * Σ s². The shard key is a CONTENT hash of the quantized vector, so
    * identical vectors always co-shard — the exact-duplicate law
    * (planted copies are ALWAYS caught) survives capping; what is
    * traded is near-dup recall BETWEEN distinct vectors hashed to
    * different shards of the same hot cell — the same fixed-work-for-
    * recall trade SemDedup's cluster scoping already makes at cell
    * boundaries, now also inside oversized cells. Uncapped (`None`,
    * the default and the declared l25 shape) is byte-identical to the
    * round-6 operator. */
  private[graft] def semDedupCells(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      nlistOpt: Option[Int] = None,
      cellCap: Option[Int] = None,
      refineIters: Int = 0): DataFrame = {
    val sc = emb.sparkSession.sparkContext
    val n = sc.defaultParallelism
    val total = emb.count()
    val nlist = nlistOpt.getOrElse(math.max(16, math.ceil(math.sqrt(total.toDouble)).toInt))
    val stride = math.max(1L, total / nlist)
    val view = emb.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val (centroids, cnorms) =
      deriveCentroids(view, "embedding", nlist, stride, refineIters)
    val matBc = sc.broadcast(CentroidMatrix(centroids, cnorms))
    val dotF = VectorFunctions.dotScaledFast _
    val celled = view.repartition(n, col("vec_id")).select(
      col("vec_id").as("id"), VectorFunctions.quantize3(col("embedding")).as("v"),
      dotF(col("embedding"), col("embedding")).as("nrm"),
      nearestCellsCol(matBc, col("embedding"), 1).as("cell"))
    cellCap match {
      case None => celled
      case Some(cap) =>
        require(cap > 0, s"cellCap must be positive, got $cap")
        // ≤ nlist rows — broadcast the per-cell shard counts
        val shardCounts = celled.groupBy(col("cell"))
          .agg(ceil(count(lit(1)) / cap.toDouble).cast("int").as("nshards"))
        celled.join(broadcast(shardCounts), "cell")
          .withColumn("shard",
            pmod(hash(col("v")), greatest(col("nshards"), lit(1))))
          .drop("nshards")
    }
  }

  /** Bands needed so a pair at cosine >= `threshold` is missed with
    * probability <= `miss`: per-hyperplane agreement for angle θ is
    * 1 - θ/π (Goemans–Williamson), a b-bit band agrees with p^b, and
    * B independent bands miss with (1-p^b)^B <= miss. Solved for B. */
  def bandsForRecall(threshold: Double, bitsPerBand: Int, miss: Double): Int = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    math.ceil(math.log(miss) / math.log(1.0 - math.pow(p, bitsPerBand))).toInt
  }

  /** Bands needed under Hamming-1 MULTI-PROBE: a probe set of the base
    * key plus its b single-bit flips matches a band whenever AT MOST
    * one bit disagrees, so per-band match probability rises from p^b to
    * P₁ = p^b + b·p^(b-1)·(1-p) (the binomial ≤1-mismatch tail), and
    * B solves (1-P₁)^B <= miss. At τ = 0.9, b = 15: P₁/p^b ≈ 3.5 —
    * ~3.5× fewer bands for the same recall, paid as a query-side
    * (b+1)-way key explode instead of corpus-side bands (see SCALE.md's
    * 10⁹ cost model: the n·B corpus shuffle rows and B·b·dim signature
    * flops are the binding terms there, and both scale with B). */
  def bandsForRecallMultiProbe(threshold: Double, bitsPerBand: Int, miss: Double): Int = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    val p1 = math.pow(p, bitsPerBand) +
      bitsPerBand * math.pow(p, bitsPerBand - 1) * (1.0 - p)
    math.ceil(math.log(miss) / math.log(1.0 - p1)).toInt
  }

  /** Hyperplane budget ceiling: B·b sign-bit projections per row is the
    * signature cost, and past ~16k the signature stage alone dominates. */
  private[graft] val MaxPlaneBits = 16384

  /** Band-width ceiling. Width b ≈ log2(n) is the total-work optimum,
    * but an UNCAPPED width makes the derived band count B =
    * bandsForRecall(τ, b, miss) grow as miss^... · n^ρ — at τ = 0.8 and
    * miss = 1e-7 that is ≈16·n^0.33, which crosses [[MaxPlaneBits]] at
    * n ≈ 2×10⁵ and made the operator REFUSE moderate corpora. Capping b
    * at 20 bits (bucket collision floor 2⁻²⁰ ≈ 1e-6 of the corpus per
    * band) keeps B flat past n = 10⁶: the trade is more candidates per
    * band at 10⁹+ rows — the standard LSH-forest regime, documented in
    * SCALE.md — instead of a hard failure. */
  private[graft] val MaxBitsPerBand = 20

  /** The (bitsPerBand, bands, totalBits) a [[cosineNearDup]] call would
    * derive for a corpus of `n` vectors — pure arithmetic, exposed so
    * SimilaritySpec can pin the n = 10⁶ / 10⁹ parameterizations under
    * [[MaxPlaneBits]] without materializing such corpora. */
  private[graft] def nearDupPlan(threshold: Double, n: Long, miss: Double): (Int, Int, Int) = {
    val b = nearDupBits(n)
    val bands = bandsForRecall(threshold, b, miss)
    (b, bands, b * bands)
  }

  /** Default near-dup band width: log2(n) − 5, floored at 8 bits and
    * capped at [[MaxBitsPerBand]].
    *
    * b ≈ log2(n) minimizes signatures + CANDIDATE COUNT — the right
    * objective when every candidate pair rides shuffles (the pre-fusion
    * shape). Under fused in-join scoring the cost model changes:
    * candidates are scored in place (~100 ns of codegen each, never
    * shuffled), while every BAND costs n wide shuffle rows and b·dim
    * signature madds per vector — so the optimum shifts toward fewer,
    * narrower bands (B = ln(1/miss)/p^b SHRINKS as b shrinks) until
    * collision scoring grows back: balance at n/2^b ≈ cost_row/
    * cost_pair ≈ 30, i.e. b ≈ log2(n) − 5. Measured sweep (300k:
    * b=19→169 s, 17→103, 15→99, 13→56, 11→88, 9→144; 100k: 17→28,
    * 13→12.6, 11→15.8, 9→37.7 — BENCH_LOCAL.md): the optimum is b ≈ 13
    * at both, squarely on the −5 rule, 3× faster than the old default.
    * The floor of 8 keeps ≥256 buckets per band so fixture-scale
    * corpora still prune (SimilaritySpec's ≤35%-of-all-pairs bound). */
  private[graft] def nearDupBits(n: Long): Int =
    math.min(MaxBitsPerBand, math.max(8, log2ceil(n) - 5))

  /** Shared near-dup parameter derivation + the hyperplane-budget guard. */
  private def nearDupParams(
      threshold: Double, n0: Long, miss: Double,
      bitsPerBandOpt: Option[Int], bandsOverride: Option[Int]): (Int, Int) = {
    val bitsPerBand = bitsPerBandOpt.getOrElse(nearDupBits(n0))
    val bands = bandsOverride.getOrElse(bandsForRecall(threshold, bitsPerBand, miss))
    val nBits = bands * bitsPerBand
    require(nBits <= MaxPlaneBits,
      s"too many hyperplanes ($nBits = $bands bands × $bitsPerBand bits) — " +
        "this threshold/miss combination is not banding-friendly; raise the " +
        "threshold or relax the miss budget (the default 1e-2 stays under " +
        s"$MaxPlaneBits bits through n = 1e9 at τ ≥ 0.8)")
    (bitsPerBand, bands)
  }

  /** Embedding-cosine near-duplicate pairs on LSH-banded candidates — the
    * scale form of "all pairs with cosine >= threshold".
    *
    * Plan shape (this is the point, vs. the naive `id_a < id_b` theta
    * join, which is a BroadcastNestedLoopJoin over n²/2 pairs with the
    * whole corpus broadcast; ExplainSpec pins the executed l6 plan to
    * contain no nested-loop or cartesian join):
    *   1. per-vector seeded hyperplane signatures, split into `bands`
    *      band keys — row-local, one pass; the vector and its
    *      precomputed norm ride along (n·B wide rows — bounded by the
    *      corpus and band count, never by the candidate volume);
    *   2. candidates = equi-join on (band, key); cosine is computed IN
    *      the pipelined join output and the τ filter runs immediately,
    *      so the only rows that reach the pair-dedup shuffle are actual
    *      near-duplicates — narrow (id_a, id_b, cos) rows at roughly
    *      output volume. Background collision pairs are scored (cheap:
    *      one codegen dot product) and dropped in place, never
    *      shuffled. A qualifying pair seen in s shared bands is scored
    *      s times — redundant flops bounded by B·|output|, orders below
    *      the re-attach-join bytes the former ids-only shape paid
    *      (which shuffled EVERY candidate id-pair, then re-joined
    *      vectors to them: the dominant cost at n = 10⁵);
    *   3. distinct() on the narrow qualifying rows (scores are
    *      deterministic per pair, so duplicates collapse exactly).
    *
    * Parameters and the candidate-volume math (also in SCALE.md):
    * a pair at cosine c agrees per hyperplane with p(c) = 1 - acos(c)/π,
    * so B bands of b bits retain it with 1-(1-p^b)^B. Total work =
    * signatures O(n·B·b) + candidates O(B·n²/2^b); the sum is minimized
    * at b ≈ log2(n), which `bitsPerBand = None` selects — giving
    * O(n^(1+ρ)) candidates with ρ = log2(1/p(τ)). At τ = 0.8 (real
    * near-dup regime) ρ ≈ 0.33: genuinely subquadratic, and background
    * (cosine≈0) retention is B/2^b — e.g. 14% at n = 1000. At τ = 0.4,
    * p = 0.63 ⇒ ρ ≈ 0.66 and B = bandsForRecall grows as 16·n^0.66:
    * formally subquadratic but the band count is impractical at scale —
    * low-threshold FULL-recall cosine join is intrinsically near-
    * quadratic, which is why the declared l6 query runs at τ = 0.8 and
    * τ = 0.4 is a SimilaritySpec stress case with fixed narrow bands.
    *
    * Recall: miss probability (1-p^b)^B <= `miss` at the threshold
    * itself (bandsForRecall), and exact duplicates (cosine 1.0) have
    * identical signatures in every band — zero miss risk, not even
    * probabilistic.
    *
    * `bucketCap` is the hot-bucket guard: an id-hash triangle sharding
    * of any (band, key) bucket larger than the cap — result-identical
    * (see the inline derivation at the join), bounding the largest
    * join bucket a boilerplate-duplicate mass can create. With no
    * explicit cap the operator decides FROM THE DATA (`autoGuard`,
    * default on): a one-band sample probe ([[autoBucketCap]]) engages
    * the guard only when a hot bucket actually exists — scattered
    * corpora, where banding keeps buckets at tens of rows, build the
    * identical unguarded plan and skip the guard's banded-row
    * localCheckpoint; a clustered corpus gets the cap without anyone
    * remembering a flag. `autoGuard = false` pins the unguarded plan
    * unconditionally (spec/A-B use).
    *
    * `miss` is the per-pair miss budget and the SCALE lever: production
    * dedup tolerates ~1e-2 (the default — a 99%-recall sweep still
    * removes 99% of the duplicate mass, and B ≈ 4.6·n^0.33 bands at
    * τ = 0.8 stays under [[MaxPlaneBits]] through n = 10⁹ with the
    * [[MaxBitsPerBand]] cap). The fixture-scale l6 oracle query passes
    * miss = 1e-7 explicitly — at 3k vectors the stricter budget is
    * cheap and makes the all-pairs DuckDB hash-match a non-event. */
  def cosineNearDup(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      miss: Double = 1e-2,
      bitsPerBand: Option[Int] = None,
      bandsOverride: Option[Int] = None,
      dim: Int = 64,
      seed: Long = 42L,
      corpusSize: Option[Long] = None,
      codePrefilter: Boolean = true,
      bucketCap: Option[Int] = None,
      autoGuard: Boolean = true): DataFrame = {
    val n0 = corpusSize.getOrElse(emb.count())
    val (b, bands) = nearDupParams(threshold, n0, miss, bitsPerBand, bandsOverride)
    val sc = emb.sparkSession.sparkContext
    val planesBc = sc.broadcast(hyperplanes(bands * b, dim, seed))
    val n = sc.defaultParallelism
    val keysUdf = bandKeysUdf(planesBc, bands, b)
    // data-driven hot-bucket guard (see [[autoBucketCap]]): an explicit
    // bucketCap always wins; otherwise a cheap one-band sample probe
    // decides — None on scattered corpora, so the plan below is
    // byte-identical to the pre-auto shape there
    val effBucketCap: Option[Int] =
      bucketCap.orElse(if (autoGuard && codePrefilter)
        autoBucketCap(emb, idCol, embCol, n0, b, dim, seed) else None)

    if (!codePrefilter) {
      // reference shape: full quantized vectors ride the banded rows and
      // pairs score exactly in the join — kept as the equality oracle
      // for the prefilter path (SimilaritySpec law) and for corpora
      // where the sound margin would be weak (tiny norms)
      val banded = emb
        .repartition(n, col(idCol))
        .select(col(idCol).as("id"), VectorFunctions.quantize3(col(embCol)).as("v"),
          VectorFunctions.dotScaledFast(col(embCol), col(embCol)).as("nrm"),
          posexplode(keysUdf(col(embCol))).as(Seq("band", "bkey")))
      val x = banded.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"), col("band"), col("bkey"))
      val y = banded.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb"), col("band"), col("bkey"))
      return x.join(y, Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", cosCol(col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .distinct()
    }

    // CODE-PREFILTER shape (round 7 — near-dup is band-shuffle-bound at
    // 10⁶: the n·B banded rows, not pair scoring, dominate). Banded
    // rows carry the 64 B int8 code blob + three scalars instead of the
    // 256 B quantized vector (~2.5× less shuffle payload); candidate
    // pairs are screened on code-space cosine with a PROVABLY SOUND
    // margin, and only the ~output-sized survivor set re-attaches exact
    // vectors for scoring (this is NOT the retired re-attach-all shape:
    // the joins here touch survivors, not the 10⁹-row candidate set).
    //
    // Soundness of the margin (so the screen can never lose a true
    // pair, keeping the l6 oracle hash-exact): let a = q3(v_a) be the
    // exact scoring vector, A = s_a·ca its code reconstruction with
    // s_a = 1000·m_a/127, and e_a = a − A the residual. Per element
    // |e_i| ≤ 0.5 + s_a/2 (two round-half-up steps), so
    // E_a = √len·(0.5 + s_a/2) bounds ‖e_a‖. Writing r_a = E_a/‖a‖ and
    // expanding <a,b> = <A+e_a, B+e_b> with Cauchy–Schwarz on every
    // cross term (and ‖A‖ ≤ ‖a‖+E_a, |cos_code| ≤ 1):
    //   |cos(a,b) − cos_code(ca,cb)| ≤ 2·(r_a + r_b) + 4·r_a·r_b =: M.
    // Screen keeps cos_code ≥ τ − M; the exact rescore applies τ
    // exactly. Zero/tiny-norm rows make M ≥ 2 — kept, then dropped
    // exactly. On 64-dim unit-ish embeddings M ≈ 0.05, and background
    // collision pairs sit near cosine 0, so survivors ≈ output.
    val banded = emb
      .repartition(n, col(idCol))
      .withColumn("pk", VectorFunctions.int8Pack(col(embCol)))
      .select(col(idCol).as("id"),
        col("pk.codes").as("codes"), col("pk.cdot").as("cdot"), col("pk.m").as("m"),
        VectorFunctions.dotScaledFast(col(embCol), col(embCol)).as("nrm"),
        posexplode(keysUdf(col(embCol))).as(Seq("band", "bkey")))
    def fields(df: DataFrame, suffix: String) = Seq(
      df("id").as(s"id_$suffix"), df("codes").as(s"c$suffix"),
      df("cdot").as(s"cd$suffix"), df("m").as(s"m$suffix"),
      df("nrm").as(s"n$suffix"))
    // THE HOT-BUCKET GUARD (`bucketCap`) — the self-join counterpart of
    // [[shardHotCells]], for the band join. Banding bounds EXPECTED
    // bucket sizes (2^b keys per band), but a boilerplate mass — 10⁵+
    // near-identical documents, the web-scale norm — shares every band
    // key, and that one (band, bkey) bucket is a quadratic join key no
    // executor count can spread. With a cap, rows of a bucket of size
    // s > cap get an id-hash shard u ∈ [0, m), m = ceil(s/cap), and the
    // join key widens to (band, bkey, s1, s2): the a-side row ships
    // replicas (u, t) for all t, the b-side (t, v) for all t, so a pair
    // with shards (u, v) meets at exactly ONE key — (u, v) — and the
    // output is ROW-IDENTICAL to the unguarded join (SimilaritySpec
    // pins it on a planted duplicate mass). Per-key join input drops
    // from s to ~2·cap; the price is 2m-way replication of hot-bucket
    // rows (cold buckets: m = 1, one replica, key (0, 0) — the plan is
    // unchanged when no bucket exceeds the cap). The hot list itself is
    // tiny by construction (buckets over the cap are the anomaly), so
    // it broadcasts; `banded` is pinned first so the signature UDF runs
    // once, not thrice (count + both sides — at warehouse scale use
    // persist(DISK_ONLY) instead).
    val (xSide, ySide, joinKeys) = effBucketCap match {
      case None =>
        val x = banded.select(fields(banded, "a") ++ Seq(col("band"), col("bkey")): _*)
        val y = banded.select(fields(banded, "b") ++ Seq(col("band"), col("bkey")): _*)
        (x, y, Seq("band", "bkey"))
      case Some(cap) =>
        require(cap > 0, s"bucketCap must be positive, got $cap")
        val mat = banded.localCheckpoint()
        val hot = mat.groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("s"))
          .filter(col("s") > cap)
          .select(col("band"), col("bkey"),
            ceil(col("s") / cap.toDouble).cast("int").as("nsh"))
        val sharded = mat.join(broadcast(hot), Seq("band", "bkey"), "left")
          .withColumn("nsh", coalesce(col("nsh"), lit(1)))
          .withColumn("shard",
            pmod(xxhash64(col("id")), col("nsh").cast("long")).cast("int"))
        val x = sharded.select(fields(sharded, "a") ++ Seq(
          col("band"), col("bkey"), col("shard").as("s1"),
          explode(sequence(lit(0), col("nsh") - 1)).as("s2")): _*)
        val y = sharded.select(fields(sharded, "b") ++ Seq(
          col("band"), col("bkey"),
          explode(sequence(lit(0), col("nsh") - 1)).as("s1"),
          col("shard").as("s2")): _*)
        (x, y, Seq("band", "bkey", "s1", "s2"))
    }
    // r = E/‖a‖ = √len·(0.5 + 500·m/127) / √nrm ; nrm = 0 ⇒ screen-keep
    def rCol(suffix: String) =
      screenResid(col(s"c$suffix"), col(s"m$suffix"), col(s"n$suffix"))
    val cosCode = screenCosCode(col("ca"), col("cda"), col("cb"), col("cdb"))
    val margin = lit(2.0) * (rCol("a") + rCol("b")) + lit(4.0) * rCol("a") * rCol("b")
    val survivors = xSide.join(ySide, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .filter(cosCode >= lit(threshold) - margin)
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact rescore of the survivor set only
    val qv = emb.select(col(idCol).as("rid"),
      VectorFunctions.quantize3(col(embCol)).as("rv"),
      VectorFunctions.dotScaledFast(col(embCol), col(embCol)).as("rn"))
    survivors
      .join(qv.select(col("rid").as("id_a"), col("rv").as("va"), col("rn").as("na")), "id_a")
      .join(qv.select(col("rid").as("id_b"), col("rv").as("vb"), col("rn").as("nb")), "id_b")
      .withColumn("cos", cosCol(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Candidate stage of [[cosineNearDup]], ids only: distinct
    * (id_a < id_b) pairs sharing at least one band key — the
    * SimilaritySpec instrument for the pruning ratio (candidates ≪ n²/2
    * at τ=0.8). Shares [[nearDupParams]] with the production path, so
    * the measured candidate set is exactly what production scores. */
  private[graft] def cosineNearDupCandidates(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      miss: Double = 1e-2,
      bitsPerBandOpt: Option[Int] = None,
      bandsOverride: Option[Int] = None,
      dim: Int = 64,
      seed: Long = 42L,
      corpusSize: Option[Long] = None): DataFrame = {
    val n0 = corpusSize.getOrElse(emb.count())
    val (bitsPerBand, bands) = nearDupParams(threshold, n0, miss, bitsPerBandOpt, bandsOverride)
    val sc = emb.sparkSession.sparkContext
    val planesBc = sc.broadcast(hyperplanes(bands * bitsPerBand, dim, seed))
    val n = sc.defaultParallelism
    val keysUdf = bandKeysUdf(planesBc, bands, bitsPerBand)

    val banded = emb
      .repartition(n, col(idCol))
      .select(col(idCol).as("id"),
        posexplode(keysUdf(col(embCol))).as(Seq("band", "bkey")))
    banded.as("x").repartition(n, col("band"), col("bkey"))
      .join(banded.as("y"), Seq("band", "bkey"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Scored LSH candidate pairs (qid, nid, cos), pair-deduped — the
    * fused candidate+scoring stage. Band width defaults to the measured
    * work optimum ≈ log2(n) − log2(log2(n)) bits (see [[lshParams]]) ⇒
    * buckets of tens ⇒ ~bands·n/2^b candidates per query; a FIXED band
    * width (the round-2 defect) makes
    * buckets — and thus per-query work — grow linearly with the corpus.
    * The band COUNT scales too: per-band agreement for a true neighbor
    * is p^b, so wider bands (growing with log n) shrink it, and a fixed
    * band count would let recall decay silently as the corpus grows (the
    * round-3 advisor finding). Default bands = bandsForRecall(0.9, b,
    * 0.05): a neighbor at cosine ≥ 0.9 survives banding with ≥ 95%
    * probability at ANY corpus size — the recall target is the
    * invariant, the band count is derived (8 at fixture scale, 13 at
    * n = 10⁶, 30 at n = 10⁹; work per query stays ~bands·sqrt(n)).
    *
    * Execution: vectors + norms ride the band join inputs (n·B wide
    * rows), cosine is computed in the pipelined join output, and the
    * result is RAW scored pairs — a pair sharing s bands appears s
    * times, with the identical deterministic score. [[lshTopK]] feeds
    * these straight into the dedup-aware TopKByScore heap (one
    * partial+final aggregation; cross-band duplicates collapse inside
    * the k-row buffers), so no shuffle downstream of the band join ever
    * carries more than k rows per query per partition. The former
    * shape — pair-distinct + two vector re-attach joins + rank window,
    * three shuffles each carrying every candidate row (the re-attach
    * ones at vector width) — measured 510 s at n = 10⁵; this one 35 s. */
  /** Shared LSH top-k parameter derivation: (bitsPerBand, bands). */
  private def lshParams(
      n0: Long, bands: Option[Int], bitsPerBand: Option[Int],
      multiProbe: Boolean): (Int, Int) = {
    // multi-probe WIDENS the band by 4 bits as well as probing: probing
    // (b+1) buckets per band at the single-probe width would grow the
    // candidate volume ~3× (measured as an OOM at 10⁶ — more probed
    // buckets of the same size); +4 bits shrinks every bucket 16×, so
    // the probed volume lands BELOW the single-probe one while the
    // band count still drops ~2× (7 vs 13 at n = 10⁶). Probes trade
    // against BOTH bands and bucket width — the standard multi-probe
    // parameterization.
    // Single-probe band WIDTH minimizes MEASURED total work, not bucket
    // aesthetics. The two b-dependent cost terms are hashing (n·B·b·d
    // multiplies — grows with b via both factors) and candidate
    // processing (B·n²/2^b pairs through score+top-k — shrinks ~(2p)^b
    // per bit); stage-isolated runs at 10⁶ vectors put their unit costs
    // at ~1e-9 s/multiply and ~5.7e-8 s/pair (BENCH_LOCAL.md round-8
    // attribution: at the old b = log2(n)/2 "√n buckets" width, pair
    // scoring alone was 92 of 173 s — the shuffle-bytes theory of the
    // round-7 plan was WRONG, per-pair traffic dominates). Equating the
    // marginal terms gives 2^b·b ≈ n·κc/(κh·d), i.e.
    // b ≈ log2(n) − log2(log2(n)) + log2(κc/(κh·d·0.9)). The cost
    // RATIO is fixture-dependent: on the pre-round-9 data κ-ratio ≈ 1
    // gave b = log2(n) − log2(log2(n)) (16 at 10⁶); the regenerated
    // round-9 fixture carries a ~3× denser near-threshold planted tier,
    // raising per-candidate work enough that a round-10 alternating
    // two-replicate sweep at 10⁶ measured b17 < b15 < b16 in BOTH
    // replicates (b17 median 106 s over five runs vs b16's 150/196 —
    // BENCH_LOCAL.md round-10 sweep table; b18 was 55-206 s across
    // three runs, too contention-variant to prove a second notch).
    // Hence the +1 term: 9 bits at the 2k fixture, 17 at 10⁶, ~26 at
    // 10⁹ — still buckets of tens, not √n. Candidates per query stay
    // B·n/2^b (the √n spec bound still holds, loosely); recall is
    // UNCHANGED by construction because the band count is re-derived
    // from the same miss budget at whatever width (bandsForRecall),
    // which the planted-tier measurements confirm at 10⁵/10⁶.
    val b = bitsPerBand.getOrElse {
      if (multiProbe) math.max(6, (log2ceil(n0) + 1) / 2 + 4)
      else {
        val lg = math.log(math.max(n0, 16L).toDouble) / math.log(2.0)
        math.max(4, math.round(lg - math.log(lg) / math.log(2.0)).toInt + 1)
      }
    }
    // either way the band count is DERIVED from the same recall target:
    // a neighbor at cosine ≥ 0.9 survives with ≥ 95% at any corpus size
    val nBands = bands.getOrElse(
      if (multiProbe) math.max(4, bandsForRecallMultiProbe(0.9, b, 0.05))
      else math.max(8, bandsForRecall(0.9, b, 0.05)))
    (b, nBands)
  }

  private[graft] def lshScoredPairs(
      queries: DataFrame,
      corpus: DataFrame,
      bands: Option[Int] = None,
      bitsPerBand: Option[Int] = None,
      dim: Int = 64,
      seed: Long = 42L,
      corpusSize: Option[Long] = None,
      multiProbe: Boolean = false): DataFrame = {
    val n0 = corpusSize.getOrElse(corpus.count())
    val (b, nBands) = lshParams(n0, bands, bitsPerBand, multiProbe)
    val planesBc = queries.sparkSession.sparkContext
      .broadcast(hyperplanes(nBands * b, dim, seed))
    val keysUdf = bandKeysUdf(planesBc, nBands, b)
    val dotF = VectorFunctions.dotScaledFast _

    val n = queries.sparkSession.sparkContext.defaultParallelism
    val q =
      if (multiProbe) {
        val probeUdf = multiProbeKeysUdf(planesBc, nBands, b)
        queries.repartition(n, col("vec_id")).select(
          col("vec_id").as("qid"), VectorFunctions.quantize3(col("embedding")).as("qv"),
          dotF(col("embedding"), col("embedding")).as("qn"),
          posexplode(probeUdf(col("embedding"))).as(Seq("pos", "bkey")))
          .withColumn("band", (col("pos") / (b + 1)).cast("int"))
          .drop("pos")
      } else {
        queries.repartition(n, col("vec_id")).select(
          col("vec_id").as("qid"), VectorFunctions.quantize3(col("embedding")).as("qv"),
          dotF(col("embedding"), col("embedding")).as("qn"),
          posexplode(keysUdf(col("embedding"))).as(Seq("band", "bkey")))
      }
    // the corpus side must be WIDE before hashing: at the work-optimal
    // band width the per-row key budget is B·b·d ≈ 3.6e4 multiplies,
    // and a parquet corpus naturally reads as a handful of 128 MB
    // partitions — hashing 10⁶ rows on ~8 tasks was a minutes-long
    // sub-parallel straggler (round-8 find). One narrow corpus shuffle
    // (n rows) buys 32-wide hashing of n·B band rows
    val c = corpus.repartition(n, col("vec_id")).select(
      col("vec_id").as("nid"), VectorFunctions.quantize3(col("embedding")).as("nv"),
      dotF(col("embedding"), col("embedding")).as("nn"),
      posexplode(keysUdf(col("embedding"))).as(Seq("band", "bkey")))
    q.join(c, Seq("band", "bkey"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosCol(col("qv"), col("nv"), col("qn"), col("nn")))
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** LSH candidate pairs, ids only and pair-distinct — the
    * SimilaritySpec instrument for the O(sqrt(n))-per-query candidate
    * bound. Derived from the same fused stage the production path
    * runs. */
  private[graft] def lshCandidates(
      queries: DataFrame,
      corpus: DataFrame,
      bands: Option[Int] = None,
      bitsPerBand: Option[Int] = None,
      dim: Int = 64,
      seed: Long = 42L,
      corpusSize: Option[Long] = None): DataFrame =
    lshScoredPairs(queries, corpus, bands, bitsPerBand, dim, seed, corpusSize)
      .select(col("qid"), col("nid")).distinct()

  /** The two-pass branch-and-bound LSH top-k (the round-7 verdict's
    * named lever — at 10⁶ vectors LSH was the one remaining heavy
    * operator, 3× IVF, and its band shuffle carried full 256 B
    * quantized vectors with no τ to screen against).
    *
    * Shape: band rows carry the 64 B int8 code blob + three scalars
    * instead of the quantized vector (~3× less band-shuffle payload —
    * the binding term at 10⁶); the band equi-join scores candidates in
    * CODE space, and [[graft.functions.TopKScreenAgg]] keeps, per
    * query, exactly the candidates whose sound score interval
    * [cos_code − M, cos_code + M] could still reach the top k — the
    * k-th-best lower bound is the branch-and-bound pruning bound,
    * maintained monotonically inside the partial+final aggregation
    * (top-k's missing τ, recovered from the data). Only the survivor
    * set (≈ k + margin-crowd per query, NOT the B·√n-per-query
    * candidate volume) re-attaches exact quantized vectors — two
    * output-sized equi-joins, nothing like the retired re-attach-all
    * shape — and the final exact top-k over survivors is ROW-IDENTICAL
    * to ranking every candidate exactly (margin soundness ⇒ no true
    * top-k member is ever screened out; SimilaritySpec pins the law
    * and the adversarial-norm cases). */
  private def lshScreenedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bands: Option[Int],
      bitsPerBand: Option[Int],
      dim: Int,
      seed: Long,
      corpusSize: Option[Long],
      multiProbe: Boolean): DataFrame = {
    val n0 = corpusSize.getOrElse(corpus.count())
    val (b, nBands) = lshParams(n0, bands, bitsPerBand, multiProbe)
    val sc = queries.sparkSession.sparkContext
    val planesBc = sc.broadcast(hyperplanes(nBands * b, dim, seed))
    val keysUdf = bandKeysUdf(planesBc, nBands, b)
    val n = sc.defaultParallelism
    val dotF = VectorFunctions.dotScaledFast _

    def packed(df: DataFrame): DataFrame =
      df.withColumn("pk", VectorFunctions.int8Pack(col("embedding")))
    val q =
      if (multiProbe) {
        val probeUdf = multiProbeKeysUdf(planesBc, nBands, b)
        packed(queries.repartition(n, col("vec_id"))).select(
          col("vec_id").as("qid"), col("pk.codes").as("ca"),
          col("pk.cdot").as("cda"), col("pk.m").as("ma"),
          dotF(col("embedding"), col("embedding")).as("na"),
          posexplode(probeUdf(col("embedding"))).as(Seq("pos", "bkey")))
          .withColumn("band", (col("pos") / (b + 1)).cast("int"))
          .drop("pos")
      } else {
        packed(queries.repartition(n, col("vec_id"))).select(
          col("vec_id").as("qid"), col("pk.codes").as("ca"),
          col("pk.cdot").as("cda"), col("pk.m").as("ma"),
          dotF(col("embedding"), col("embedding")).as("na"),
          posexplode(keysUdf(col("embedding"))).as(Seq("band", "bkey")))
      }
    // wide-before-hashing, same as the direct shape: the band-key UDF
    // budget per row dwarfs the narrow corpus shuffle that buys 32-way
    val c = packed(corpus.repartition(n, col("vec_id"))).select(
      col("vec_id").as("nid"), col("pk.codes").as("cb"),
      col("pk.cdot").as("cdb"), col("pk.m").as("mb"),
      dotF(col("embedding"), col("embedding")).as("nb"),
      posexplode(keysUdf(col("embedding"))).as(Seq("band", "bkey")))

    val ra = screenResid(col("ca"), col("ma"), col("na"))
    val rb = screenResid(col("cb"), col("mb"), col("nb"))
    val cosCode = screenCosCode(col("ca"), col("cda"), col("cb"), col("cdb"))
    val margin = lit(2.0) * (ra + rb) + lit(4.0) * ra * rb
    // CPU-dense wave sizing (see denseShuffleSides): the corpus side
    // explodes to nBands rows per vector, each carrying the dim-byte
    // code blob + three scalars (~dim + 48 B); in multiProbe mode the
    // QUERY side explodes to nBands·(b+1) rows per vector (the probe
    // fanout), so the former flat 2·nBands·n0 estimate undercounted by
    // ~(b+1)× and a large multi-probe shuffle could miss the wave-sized
    // repartition entirely (r11 ADVICE)
    val qFanout = if (multiProbe) nBands.toLong * (b + 1) else nBands.toLong
    val (qj, cj) = denseShuffleSides(q, c, Seq("band", "bkey"),
      (qFanout + nBands) * n0, bytesPerRow = dim + 48)
    val cand = qj.join(cj, Seq("band", "bkey"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (cosCode - margin).as("lb"), (cosCode + margin).as("ub"))

    import org.apache.spark.sql.graftbridge.ColumnBridge
    val screen = ColumnBridge.column(graft.functions.TopKScreenAgg(
      ColumnBridge.expression(col("nid")), ColumnBridge.expression(col("lb")),
      ColumnBridge.expression(col("ub")), k).toAggregateExpression())
    val surv = cand.groupBy(col("qid")).agg(screen.as("cands"))
      .select(col("qid"), explode(col("cands")).as("nid"))

    // exact rescore of the survivor set only (output-sized joins)
    val qv = queries.select(col("vec_id").as("qid"),
      VectorFunctions.quantize3(col("embedding")).as("qv"),
      dotF(col("embedding"), col("embedding")).as("qn"))
    val cv = corpus.select(col("vec_id").as("nid"),
      VectorFunctions.quantize3(col("embedding")).as("nv"),
      dotF(col("embedding"), col("embedding")).as("nn"))
    val scored = surv.join(qv, "qid").join(cv, "nid")
      .withColumn("cos", cosCol(col("qv"), col("nv"), col("qn"), col("nn")))
      .select(col("qid"), col("nid"), col("cos"))
    rankTopKAgg(scored, k)
  }

  /** LSH-bucketed approximate top-k: rank candidates by exact cosine
    * within the union of matching buckets (see [[lshScoredPairs]] for
    * both scaling laws: band WIDTH ≈ log2(n) − log2(log2(n)) sits at
    * the measured work optimum between hashing and candidate
    * processing, band COUNT = bandsForRecall(0.9, width, 0.05) keeps
    * recall at cosine ≥ 0.9 from decaying as the corpus grows). Seeded
    * hyperplanes → deterministic.
    *
    * `codeScreen = true` (the default and the declared l13 shape) runs
    * the two-pass branch-and-bound screen ([[lshScreenedTopK]]):
    * row-identical output, band shuffle at 64 B code blobs instead of
    * 256 B vectors. `false` keeps the direct fused shape — the
    * equality oracle for the screen's law test and the fallback for
    * corpora where the margin is weak (tiny norms ⇒ survivors ≈
    * candidates, paying the rescore joins for nothing). */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bands: Option[Int] = None,
      bitsPerBand: Option[Int] = None,
      dim: Int = 64,
      seed: Long = 42L,
      multiProbe: Boolean = false,
      codeScreen: Boolean = true,
      corpusSize: Option[Long] = None): DataFrame =
    if (codeScreen)
      lshScreenedTopK(queries, corpus, k, bands, bitsPerBand, dim, seed,
        corpusSize, multiProbe)
    else
      rankTopKAgg(
        lshScoredPairs(queries, corpus, bands, bitsPerBand, dim, seed,
          corpusSize = corpusSize, multiProbe = multiProbe), k)
}
