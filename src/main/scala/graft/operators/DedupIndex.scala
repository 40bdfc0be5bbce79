package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

/** Persisted MinHash/LSH dedup index for the TEXT tier — the analog of
  * the ANN index tier (l29–l32) for near-duplicate detection: at 100 TB
  * the corpus's band table IS the product, and each day's ingest batch
  * probes it instead of re-banding the whole corpus. The batch
  * near-dup queries (l2/l26/l28) cover the corpus×corpus regime; this
  * covers the INCREMENTAL regime — |batch| ≪ |corpus|, the shape a
  * growing deployment pays daily.
  *
  * Layout under `dir` (commits via [[ManifestCommit]] — the shared
  * Hadoop-FileSystem module, so the index runs against `file://`,
  * `hdfs://`, or any registered scheme):
  *   - `MANIFEST.v<N>` — one small immutable text file per committed
  *     version, in the one [[ManifestCommit.Record]] codec
  *     (`store=dedup-index`): the version, the `meta=` generation, the
  *     live band SEGMENT and TOMBSTONE directories and the ingest stamp.
  *     The newest one is the CURRENT state. Every mutation (build /
  *     append / delete / compact) writes its data into a FRESH
  *     uniquely-named directory, then CLAIMS the next `MANIFEST.v<N>`
  *     (the Delta-shaped put-if-absent) — readers resolve the manifest
  *     once and see exactly one generation, never a half-written mix.
  *   - `seg_<v>_<hex>/` — band segments: one row per (doc, band):
  *     `(doc_id LONG, sig ARRAY<LONG>, band INT, bkey LONG, bprefix INT)`
  *     with `bprefix = pmod(bkey, 256)`. The signature rides the band
  *     row (the l6 lesson: carry the comparison payload on the band
  *     shuffle — joining a separate signature table would re-shuffle
  *     the corpus per query). Every writer (build, append, the
  *     [[ingestFold]] appends, compact) writes the one [[Segments]]
  *     layout keyed by (`bprefix`, `bkey`): plain files, each prefix in
  *     exactly one file of its segment, 1 MB row groups, each with a
  *     `bkey` bloom filter sized to the keys it holds. A probe's
  *     `bprefix IN` / `bkey IN` filters reach the files as pushed data
  *     filters, and row-group min/max stats plus the bloom filters skip
  *     the groups holding none of the probe's keys. Segments written in
  *     the former PREFIX layout (partitioned by `bprefix`) stay
  *     readable without a reader branch until the next [[compact]].
  *   - `del_<v>_<hex>/` — tombstone segments: one `doc_id` column, in
  *     the same [[Segments]] layout.
  *     [[delete]] is O(|deleted ids|): it writes ids, not data, and
  *     readers drop tombstoned docs with a broadcast anti-join.
  *     [[compact]] materializes the deletions and clears the list.
  *   - `meta_<v>_<hex>/` — one row `(k, bands, shingle_n)`, so the
  *     index is self-describing and query/append cannot silently mix
  *     parameterizations. Referenced FROM the manifest like any other
  *     generation (round-14): the former fixed `meta/` was overwritten
  *     in place BEFORE the build's version claim, so a rebuild mutated
  *     the live index's parameters under concurrent readers, and a
  *     build that then lost its claim left meta describing constants
  *     the still-live segments were not built with — queries would have
  *     computed wrong band keys silently.
  *
  * Concurrency (OPTIMISTIC, no external lock needed for the mergeable
  * mutations): append and delete commute — on a lost version claim they
  * retry-merge against the winner's committed manifest
  * ([[ManifestCommit.commitDelta]]; two interleaved appends both land,
  * spec-pinned with real threads). A compact merges a racing append or
  * delete on top of its compacted segment
  * ([[ManifestCommit.commitCompact]]); a build, or a compact racing a
  * build or compact, has no valid merge and throws
  * [[ManifestCommit.CommitConflict]] instead of silently dropping the
  * other writer. Vacuum's in-flight age guard keeps a concurrent
  * writer's not-yet-committed segment safe.
  *
  * Determinism: signatures are seeded splitmix64 minima over FNV
  * shingle hashes ([[graft.functions.MinHashSigExpr]]) and band keys
  * are FNV folds ([[graft.functions.BandKeysExpr]]) — the whole
  * index, and therefore the query's survivor set, is bit-deterministic
  * and cross-checked by an independent Python reimplementation
  * (tools/check_oracle.py, l42/l43).
  *
  * Drop rule (query): an incoming doc is a near-duplicate iff some
  * INDEXED doc with a different id shares ≥ 1 band key AND the
  * signature agreement fraction ≥ `threshold` — exactly
  * [[Dedup.minhashLsh]]'s pair rule restricted to (probe × index)
  * pairs. The self-id guard makes re-querying an already-appended
  * batch meaningful (a doc never suppresses itself).
  *
  * Deletion law (spec-pinned, and the l57 gate): after `delete(ids)`,
  * every read path — [[query]], [[selfPairs]], [[ingestFold]]'s probe —
  * is row-identical to the same read against a FRESH index built over
  * the corpus minus the deleted docs. This holds by construction
  * because band rows are row-local per doc: dropping a doc's rows is
  * exactly what a rebuild without it would produce. */
object DedupIndex {

  /** The resolved state of an index: the parameterization (meta)
    * generation, which segment directories are live, which tombstone
    * directories apply, and the ingest stamp — the highest micro-batch
    * id any committed mutation applied, riding the commit itself. */
  final case class Manifest(
      version: Long, meta: String, segments: Seq[String],
      tombstones: Seq[String], batchId: Option[Long] = None) {
    private[graft] def record = ManifestCommit.Record(
      version, Store, Map("meta" -> meta), segments, tombstones, batchId = batchId)
  }

  private val Store = "dedup-index"

  private def manifest(r: ManifestCommit.Record): Manifest =
    Manifest(r.version, r("meta"), r.segments, r.tombstones, r.batchId)

  /** Resolve the current manifest. One small driver-side read — the
    * 100 TB analog is one LIST of the manifest prefix and one GET. */
  def readManifest(dir: String): Manifest = manifest(ManifestCommit.read(dir, Store))

  /** Resolve a PAST committed state (snapshot read / time travel):
    * every publish also writes an immutable `MANIFEST.v<N>`, so any
    * retained version can be read back exactly — the reproducibility
    * hook a training run needs to pin the corpus snapshot it consumed.
    * Throws if the version was never published or its manifest file was
    * vacuumed away. */
  def readManifestAt(dir: String, version: Long): Manifest =
    manifest(ManifestCommit.readAt(dir, version, Store))

  /** The live band table: union of the manifest's segments minus its
    * tombstoned docs. Resolved from ONE manifest read, so a DataFrame
    * built here keeps seeing the generation it opened even if a
    * compact/append publishes a newer one mid-query. A `bprefix` filter
    * reaches every segment scan; the tombstone anti-join is
    * a broadcast of the (small) deleted-id set and disappears entirely
    * when nothing was ever deleted. */
  def readBands(spark: SparkSession, dir: String): DataFrame =
    readBands(spark, dir, readManifest(dir))

  /** Snapshot read: the band table exactly as committed at `version` —
    * valid for any version whose manifest and directories a
    * retention-aware [[vacuum]] kept (directories are immutable and
    * shared across versions, so an old snapshot usually survives many
    * later commits for free). */
  def readBandsAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    readBands(spark, dir, readManifestAt(dir, version))

  private def readBands(spark: SparkSession, dir: String, m: Manifest): DataFrame = {
    require(m.segments.nonEmpty, s"dedup index at $dir has no segments")
    // directory-keyed resolution cache: segment and tombstone
    // directories are immutable (UUID'd, write-once), so each one's
    // file listing runs once per session, and a
    // reader after a commit lists only the directories that commit
    // added — data is still scanned per query
    def dirs(names: Seq[String]): DataFrame =
      names.map(d => GenerationCache.directory(spark, s"$dir/$d")).reduce(_ unionByName _)
    val bands = dirs(m.segments)
    if (m.tombstones.isEmpty) bands
    else bands.join(broadcast(dirs(m.tombstones).select(col("doc_id")).distinct()),
      Seq("doc_id"), "left_anti")
  }

  /** Build the band table from scratch (overwrite: a fresh manifest
    * pointing at one fresh segment — any prior generation's directories
    * become unreferenced and are left for [[vacuum]]). */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      shingleN: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      batchId: Option[Long] = None): Unit = {
    require(k % bands == 0, s"signature length k=$k must be a multiple of bands=$bands")
    val spark = docs.sparkSession
    import spark.implicits._
    val v = ManifestCommit.currentVersion(dir) + 1
    // meta is a GENERATION like any segment — written fresh and
    // referenced from the manifest, so a rebuild never mutates the live
    // index's parameters in place, and a build that loses its claim
    // leaves only an unreferenced directory for vacuum (the former fixed
    // `meta/` was overwritten BEFORE the claim — concurrent readers saw
    // constants the live segments were not built with)
    val metaDir = ManifestCommit.uniqueName("meta", v)
    Seq((k, bands, shingleN)).toDF("k", "bands", "shingle_n")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$metaDir")
    val seg = ManifestCommit.uniqueName("seg", v)
    writeBands(docs, idCol, textCol, dir, shingleN, k, bands, seg)
    // a build REPLACES the index wholesale — no merge with a concurrent
    // writer is meaningful, so claim exactly one version (CommitConflict
    // on a race; the fresh directories age out via vacuum)
    ManifestCommit.publish(dir, Manifest(v, metaDir, Seq(seg), Nil, batchId).record)
  }

  /** Append a new batch's band rows to an existing index (reads the
    * parameterization from the meta generation — a batch can never be
    * banded with different constants than the corpus it joins). The
    * batch lands in its own segment directory — one file when it is
    * batch-sized (see the object doc) — and becomes visible in one
    * version claim; post-append
    * the index is row-identical to a fresh build over the union,
    * because band rows are row-local per doc — no global state to
    * refresh (DedupIndexSpec pins the equivalence). */
  def append(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      batchId: Option[Long] = None): Unit = {
    val (k, bands, shingleN) = meta(docs, dir)
    val seg = ManifestCommit.uniqueName("seg", readManifest(dir).version + 1)
    writeBands(docs, idCol, textCol, dir, shingleN, k, bands, seg)
    ManifestCommit.commitDelta(dir, Store, segments = Seq(seg), batchId = batchId): Unit
  }

  /** The highest ingest batch id any committed mutation has applied
    * (None before the index exists or before any stamped ingest) — the
    * exactly-once predicate for a streaming ingest sink
    * ([[ManifestCommit.lastBatchId]]). The stamp SURVIVES interleaved
    * unstamped mutations: a weekly delete/compact between two
    * micro-batches must not reopen the redelivery window. */
  def lastBatchId(dir: String): Option[Long] = ManifestCommit.lastBatchId(dir, Store)

  /** Delete docs from the index — the takedown/opt-out maintenance op a
    * 100 TB corpus runs weekly. O(|ids|): writes ONE tombstone segment
    * of doc_ids and claims the next manifest version; no band data is rewritten
    * (that's [[compact]]'s job). Every read path honors tombstones via
    * [[readBands]], so post-delete results are row-identical to a fresh
    * build without the deleted docs (the parity law, spec-pinned and
    * gated by l57). Idempotent: re-deleting an id is a no-op by the
    * anti-join's semantics. */
  def delete(ids: DataFrame, idCol: String, dir: String): Unit = {
    val del = ManifestCommit.uniqueName("del", readManifest(dir).version + 1)
    Segments.write(ids.select(col(idCol).cast("long").as("doc_id")).distinct(),
      s"$dir/$del", Seq("doc_id"))
    // no stamp: the delete is no ingest batch, but the commit CARRIES
    // the existing stamp forward — a redelivered micro-batch after a
    // weekly delete must still skip
    ManifestCommit.commitDelta(dir, Store, tombstones = Seq(del)): Unit
  }

  /** Survivors of `incoming` against the indexed corpus: drops every
    * doc with an indexed near-duplicate (shared band + agreement ≥
    * `threshold`). The corpus side is a scan filtered to the probe's
    * own band prefixes (and, up to `keyPushdownCap` keys, its band
    * keys); only the batch is ever re-banded. A batch of at most
    * [[DriverBatch.Floor]] docs — every serving request — is banded on
    * the driver and probes as a local relation, so the call costs the
    * final action's jobs alone (≤ 4: the probe broadcast, the hit
    * distinct, the hit broadcast and the result); a larger batch runs
    * the distributed probe (see [[surviveAgainst]]). */
  def query(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      threshold: Double = 0.5,
      keyPushdownCap: Int = 512): DataFrame =
    surviveAgainst(incoming, idCol, textCol, dir, threshold, keyPushdownCap)._2

  /** The probe/survive core shared by [[query]] and [[ingestFold]]:
    * returns BOTH the probe band rows (`__qid, __qsig, band, bkey,
    * bprefix`) and the survivor frame, so the fold can reuse the probe
    * rows for its append instead of recomputing every survivor's
    * signature a second time.
    *
    * Below the floor the probe rows, their prefix list, distinct keys
    * and band-row count are all computed on the driver ([[driverProbe]])
    * and the survivors are the collected batch minus a broadcast hit
    * set: no checkpoint, no scalar collect. Above it the probe rows are
    * checkpointed once — the prefix-count collect and the key collect
    * both execute them, and without it the signature pass would run
    * again for the join (the l31/l35 probe-side lesson). */
  private def surviveAgainst(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      threshold: Double,
      keyPushdownCap: Int = 512): (DataFrame, DataFrame) = {
    val spark = incoming.sparkSession
    val (k, bands, shingleN) = meta(incoming, dir)
    val small = DriverBatch.gather(incoming)
    val probe = small match {
      case Some(batch) => driverProbe(batch, col(idCol), "__qid", textCol, "__qsig", k, bands, shingleN)
      case None =>
        val n = spark.sparkContext.defaultParallelism
        val rows = bandRows(incoming.repartition(n, col(idCol)), col(idCol), "__qid", textCol,
          "__qsig", k, bands, shingleN).localCheckpoint()
        // ≤ 256 groups by construction — driver-bounded. One job
        // yields BOTH probe-side scalars: the prefix list for the
        // pushed prefix filter AND the probe band-row count the
        // broadcast decision below reads
        val prefixCounts = rows.groupBy(col("bprefix"))
          .agg(count(lit(1)).as("n")).collect()
        BandProbe(rows, prefixCounts.map(_.getInt(0)).toSeq, prefixCounts.map(_.getLong(1)).sum,
          () => probeKeys(rows, keyPushdownCap))
    }
    val index = withProbeKeys(probe.keys, keyPushdownCap,
      readBands(spark, dir).where(col("bprefix").isin(probe.prefixes.map(Integer.valueOf): _*)))
    // SERVING-SHAPE JOIN SIDE (round-15, root-caused at 10⁷): the probe
    // must be the BROADCAST side whenever it is batch-sized, or the
    // plan sort-merges — shuffling the ENTIRE index scan (the 10⁷ sweep
    // measured a ~26 GB band-table shuffle + sort spill for a 50-doc
    // probe before AQE's late BHJ conversion could help: the big side's
    // shuffle write already happened; at 10⁶ it fit in page cache and
    // hid). Broadcast below the bound (~250 B/row ⇒ ≤ ~256 MB
    // payload, the serving and daily-ingest shapes), and above it keep
    // the planner's shuffle: a corpus-sized probe genuinely needs one,
    // and broadcasting gigabytes to every executor would be worse.
    val broadcastCap = spark.conf
      .get(BroadcastProbeCapKey, BroadcastProbeMaxRows.toString).toLong
    val probeSide =
      if (probe.bandRows <= broadcastCap) broadcast(probe.rows) else probe.rows
    val hit = probeSide.join(index, Seq("bprefix", "band", "bkey"))
      .where(col("doc_id") =!= col("__qid"))
      .where(Dedup.estJaccard(col("__qsig"), col("sig"), k) >= threshold)
      .select(col("__qid").as(idCol)).distinct()
    // a driver-held batch is the plan's own local relation, and its
    // hit set (≤ one row per batch doc) is broadcast into the
    // anti-join instead of shuffling both sides
    (probe.rows, small.fold(incoming.join(hit, Seq(idCol), "left_anti"))(
      _.join(broadcast(hit), Seq(idCol), "left_anti")))
  }

  /** A batch's probe band rows with the driver-side scalars a probe
    * needs: the distinct band prefixes (≤ 256), the band-row count
    * and, on demand, up to a cap's worth of distinct band keys. */
  private final case class BandProbe(
      rows: DataFrame, prefixes: Seq[Int], bandRows: Long, keys: () => Array[Long])

  /** The band rows of a driver-held batch, computed on the driver: the
    * signature and band-key expressions are [[bandRows]]' own, evaluated
    * over the local relation ([[DriverBatch.eval]]); only the posexplode
    * and the `pmod` prefix run in Scala. The rows become a local
    * relation, and every probe scalar comes from them without a job. */
  private def driverProbe(
      batch: DataFrame, id: Column, idAs: String, textCol: String, sigAs: String,
      k: Int, bands: Int, shingleN: Int): BandProbe = {
    val (docs, schema) = DriverBatch.eval(
      signatures(batch, id, idAs, textCol, sigAs, k, shingleN), col(idAs), col(sigAs),
      Dedup.lshBandKeys(col(sigAs), bands, k / bands).as("bkeys"))
    val rows = docs.toSeq.flatMap { d =>
      Option(d.getSeq[Long](2)).toSeq.flatMap(_.zipWithIndex.map { case (bkey, band) =>
        Row(d.get(0), d.get(1), band, bkey, Math.floorMod(bkey, 256L).toInt)
      })
    }
    val keyType = schema("bkeys").dataType.asInstanceOf[ArrayType]
    BandProbe(
      DriverBatch.relation(batch.sparkSession, rows, StructType(Seq(
        schema(idAs), schema(sigAs), StructField("band", IntegerType, nullable = false),
        StructField("bkey", keyType.elementType, keyType.containsNull),
        StructField("bprefix", IntegerType, keyType.containsNull)))),
      rows.map(_.getInt(4)).distinct, rows.length.toLong,
      () => rows.map(_.getLong(3)).distinct.toArray)
  }

  /** `(idAs, sigAs)`: each doc's id and MinHash signature. */
  private def signatures(
      docs: DataFrame, id: Column, idAs: String, textCol: String, sigAs: String,
      k: Int, shingleN: Int): DataFrame =
    docs.select(id.as(idAs), Dedup.minhashSignature(col(textCol), k, shingleN).as(sigAs))

  /** The band rows of `docs`: one row `(idAs, sigAs, band, bkey,
    * bprefix)` per (doc, band), `bprefix = pmod(bkey, 256)`. A null
    * text has no signature and yields no rows. */
  private def bandRows(
      docs: DataFrame, id: Column, idAs: String, textCol: String, sigAs: String,
      k: Int, bands: Int, shingleN: Int): DataFrame =
    signatures(docs, id, idAs, textCol, sigAs, k, shingleN)
      .select(col(idAs), col(sigAs),
        posexplode(Dedup.lshBandKeys(col(sigAs), bands, k / bands)).as(Seq("band", "bkey")))
      .withColumn("bprefix", pmod(col("bkey"), lit(256L)).cast("int"))

  /** Fold time-ordered ingest batches through the persisted index —
    * the loop a growing deployment runs daily, composed from the three
    * primitives above: batch 0 seeds the index; every later batch is
    * QUERIED against the survivors of all earlier batches (docs with an
    * indexed near-duplicate drop) and its own survivors are APPENDED.
    * Returns `(idCol, ingest_batch)` — every kept doc tagged with the
    * batch that brought it in.
    *
    * Semantics pinned by the spec + Python cross-oracle:
    *   - only SURVIVORS are appended, so a doc whose only near-match
    *     was itself dropped earlier still survives (the index holds one
    *     representative per cluster — RefinedWeb's ingest discipline);
    *   - within-batch duplicates are BOTH kept: the index covers the
    *     cross-ingest regime, intra-batch dedup is the batch operators'
    *     job (l2/l26) — run them on the batch first if both are wanted;
    *   - null-text docs always survive and contribute no band rows.
    *
    * Each batch's survivor frame is checkpointed BEFORE its append:
    * `query` is lazy and re-resolves the manifest on every execution,
    * so an unmaterialized survivor plan re-executed after later appends
    * would see a bigger index than existed when its batch arrived.
    * Scale shape: per batch this is l42's probe (batch-sized re-band +
    * prefix-filtered scan) + l43's append (row-local) — the corpus is
    * never re-banded, and the append REUSES the probe's band rows (a
    * local relation for a batch at or below [[DriverBatch.Floor]], a
    * checkpoint above it; a semi-join on survivor ids) instead of computing every
    * survivor's signature a second time: band rows are a deterministic
    * row-local function of the text, so the reused rows are identical
    * to what a fresh `append` would write (the spec pins the fold
    * against `query`+`append` composed the naive way). */
  def ingestFold(
      batches: Seq[DataFrame],
      idCol: String,
      textCol: String,
      dir: String,
      shingleN: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(batches.nonEmpty, "ingestFold needs at least one batch")
    batches.zipWithIndex.map { case (b, i) =>
      val kept =
        if (i == 0) {
          build(b, idCol, textCol, dir, shingleN, k, bands, Some(0L)); b
        } else {
          val (probe, surv) = surviveAgainst(b, idCol, textCol, dir, threshold)
          val s = surv.localCheckpoint()
          val seg = ManifestCommit.uniqueName("seg", readManifest(dir).version + 1)
          writeBandRows(
            probe.join(s.select(col(idCol).as("__qid")), Seq("__qid"),
                "left_semi")
              .select(col("__qid").as("doc_id"), col("__qsig").as("sig"),
                col("band"), col("bkey"), col("bprefix")),
            s"$dir/$seg")
          // batch ordinal rides the claim — the fold's appends carry the
          // same atomic exactly-once stamp the streaming sink checks
          ManifestCommit.commitDelta(dir, Store, segments = Seq(seg), batchId = Some(i.toLong))
          s
        }
      kept.select(col(idCol), lit(i).as("ingest_batch"))
    }.reduce(_ unionByName _)
  }

  /** Near-duplicate candidate pairs of the INDEXED corpus with itself —
    * the pair stage of a dedup-groups run answered FROM the persisted
    * band table, zero text scans: the signature rides every band row,
    * so the whole stage is one self-equi-join of the band table on
    * (band, bkey) plus the signature-agreement filter. This is what
    * amortizes the batch closure's dominant cost (at 10⁶ docs, pair
    * construction was ~118 s of l26's 126 s — all re-shingling and
    * re-banding work the index already paid at ingest): a repeat dedup
    * run over an indexed corpus pays only this join + the component
    * closure.
    *
    * Pair rule = [[Dedup.minhashLsh]]'s exactly (shared band +
    * estimated agreement ≥ threshold), so on a corpus whose band table
    * was built with the default parameterization the output pair set is
    * identical to `minhashLsh(corpus)` — and the est-rule/exact-rule
    * sets coincide on well-separated corpora (the l2-vs-l4 equality the
    * oracle gate pins at every fixture SF).
    *
    * 100 TB shape: both join sides are partition-aligned scans of the
    * same table; the shuffle keys on (band, bkey) — band-bucket sized,
    * the same skew surface as the banded self-join inside minhashLsh
    * (a boilerplate mass shares band keys; cap upstream by exact-dedup
    * first, the l27/l28 ordering). Pair-level dropDuplicates before
    * the signature compare, as in minhashLsh. */
  def selfPairs(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.5): DataFrame = {
    // resolve the manifest ONCE so the params and both join sides scan
    // the same generation (two resolves could straddle a compact/build)
    val m = readManifest(dir)
    val k = metaAt(spark, dir, m.meta)._1
    val bandsT = readBands(spark, dir, m)
    val a = bandsT.select(col("band"), col("bkey"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = bandsT.select(col("band"), col("bkey"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    // CPU-dense wave sizing ([[Similarity.denseShuffleSides]]): both
    // sides shuffle every band row with its k-long signature payload
    // (~8k+64 B); the row count is a metadata-only parquet count when
    // nothing is tombstoned (and a counting scan when something is —
    // compact to get the metadata fast path back). The count of an
    // immutable generation set is itself immutable — cached per
    // generation, so repeat runs skip the footer-count job entirely.
    val nBandRows = GenerationCache.scalar(spark,
      s"dixcount|$dir|${m.segments.mkString(",")}|${m.tombstones.mkString(",")}")(
      java.lang.Long.valueOf(bandsT.count())).longValue
    val (aj, bj) = Similarity.denseShuffleSides(a, b, Seq("band", "bkey"),
      2L * nBandRows, 8 * k + 64)
    aj.join(bj, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .filter(Dedup.estJaccard(col("sig_a"), col("sig_b"), k) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Near-dup candidate pairs INCIDENT TO an appended batch — the delta
    * stage of incremental dedup-groups maintenance ([[Dedup
    * .incrementalComponents]], l59): after an [[append]], the only
    * pairs the closure has not already seen are those touching the new
    * docs, so instead of [[selfPairs]]' full corpus×corpus self-join
    * this joins the batch's band rows (RE-BANDED from the batch docs —
    * a row-local, batch-sized pass; band rows are a deterministic
    * function of the text, so they are bit-identical to the rows
    * [[append]] wrote, and the index is never scanned just to recover
    * them) broadcast against a prefix-filtered scan of the prefixes
    * those rows name — the same probe shape as [[query]], emitting
    * pairs instead of a survivor verdict. One index scan total, vs the
    * former id-semi-join form's two (a doc_id lookup gets no prefix
    * filter, so deriving the probe from the index cost a full
    * band-table scan — at 10⁶ docs that was half the delta run).
    * Call AFTER the batch's [[append]]: batch×batch pairs surface from
    * the probe hitting the batch's own indexed rows. Pair rule
    * identical to [[selfPairs]] (shared band + est agreement ≥
    * threshold, canonical id_a < id_b), so selfPairs(union) =
    * selfPairs(old) ∪ pairsWithNew(batch) — agreement is symmetric, so
    * the least/greatest canonicalization can reorder ids without
    * touching the signatures. */
  def pairsWithNew(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      keyPushdownCap: Int = 512): DataFrame = {
    val (k, bands, shingleN) = meta(batch, dir)
    val id = col(idCol).cast("long")
    val probe = DriverBatch.gather(batch) match {
      case Some(local) => driverProbe(local, id, "id_a", textCol, "sig_a", k, bands, shingleN)
      case None =>
        // batch-sized probe, materialized once (prefix list + join
        // probe — the surviveAgainst discipline)
        val n = spark.sparkContext.defaultParallelism
        val nb = bandRows(batch.repartition(n, col(idCol)), id, "id_a", textCol, "sig_a",
          k, bands, shingleN).localCheckpoint()
        // ≤ 256 distinct values by construction — driver-bounded (the
        // same pruning discipline as query's probe); the delta probe
        // always broadcasts, so its band-row count is never needed
        BandProbe(nb, nb.select(col("bprefix")).distinct().collect().map(_.getInt(0)).toSeq,
          -1L, () => probeKeys(nb, keyPushdownCap))
    }
    val nb = probe.rows
    val corpus = withProbeKeys(probe.keys, keyPushdownCap,
      readBands(spark, dir).where(col("bprefix").isin(probe.prefixes.map(Integer.valueOf): _*)))
      .select(col("band"), col("bkey"),
        col("doc_id").as("id_b"), col("sig").as("sig_b"))
    broadcast(nb.drop("bprefix")).join(corpus, Seq("band", "bkey"))
      .filter(col("id_a") =!= col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"),
        col("sig_a"), col("sig_b"))
      .dropDuplicates("u", "v")
      .filter(Dedup.estJaccard(col("sig_a"), col("sig_b"), k) >= threshold)
      .select(col("u").as("id_a"), col("v").as("id_b"))
  }

  /** Rewrite the live band rows into one segment, each prefix in
    * exactly one file, MATERIALIZING tombstones — the maintenance pass
    * an append/delete-grown index needs: every [[append]] (or
    * [[ingestFold]] batch) adds a segment, every [[delete]] adds an
    * anti-join to the read path, so a daily-ingest deployment
    * accumulates per-day file opens and tombstone probes. Compact reads
    * the current generation, writes it into a fresh segment (the one
    * layout of [[writeBandRows]], which also rewrites any legacy
    * prefix-layout segment) and publishes a manifest naming ONLY that segment with an
    * empty tombstone list — one atomic version claim; a reader that
    * resolved the old manifest keeps its old segments (they are not
    * touched), a reader arriving after the claim sees exactly the new
    * one. Unreferenced directories are reclaimed by [[vacuum]], kept
    * separate deliberately so in-flight readers of the old generation
    * survive a concurrent compact. Row content is untouched modulo
    * tombstones: a post-compaction query is row-identical
    * (spec-pinned), only the file layout changes. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val m = readManifest(dir)
    val seg = ManifestCommit.uniqueName("seg", m.version + 1)
    writeBandRows(readBands(spark, dir, m), s"$dir/$seg")
    // the compacted segment REPLACES the lists it read; an append or
    // delete that won the race applies on top of it
    // ([[ManifestCommit.commitCompact]]), a racing rebuild or compact
    // aborts with CommitConflict
    ManifestCommit.commitCompact(dir, m.record, seg)
  }

  /** Remove directories and snapshot manifests outside the retention
    * window (post-compact garbage). Separate from [[compact]] so the
    * old generation outlives the commit for readers that already resolved
    * it — run vacuum when those are known drained (the deployment
    * analog: object-store lifecycle rules on unreferenced prefixes).
    * `retainVersions` keeps that many versions BEFORE the current one
    * readable via [[readBandsAt]] — their manifests and every directory
    * any retained version references survive; older snapshot manifests
    * are dropped along with directories nothing retained names.
    * Directories are immutable and shared across versions, so retention
    * usually costs only the delta (a compacted-away generation, a
    * materialized tombstone list). */
  def vacuum(
      dir: String,
      retainVersions: Int = 0,
      minAgeMs: Long = ManifestCommit.DefaultVacuumMinAgeMs): Unit =
    ManifestCommit.vacuum(dir, Store, retainVersions, minAgeMs)

  private def meta(df: DataFrame, dir: String): (Int, Int, Int) =
    metaAt(df.sparkSession, dir, readManifest(dir).meta)

  /** The (k, bands, shingle_n) parameter row of a meta GENERATION —
    * immutable once written (UUID'd dir, referenced by manifests), so
    * the one-row collect runs once per generation per session. */
  private def metaAt(spark: SparkSession, dir: String, metaDir: String): (Int, Int, Int) =
    GenerationCache.scalar(spark, s"dixmeta|$dir|$metaDir") {
      val row = spark.read.parquet(s"$dir/$metaDir").collect()(0)
      (row.getAs[Int]("k"), row.getAs[Int]("bands"), row.getAs[Int]("shingle_n"))
    }

  private def writeBands(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      shingleN: Int,
      k: Int,
      bands: Int,
      segment: String): Unit = {
    val n = docs.sparkSession.sparkContext.defaultParallelism
    writeBandRows(
      // explicit-count repartition: signature compute must spread over
      // the cores even when the input is one parquet row group
      bandRows(docs.repartition(n, col(idCol)), col(idCol), "doc_id", textCol, "sig",
        k, bands, shingleN),
      s"$dir/$segment")
  }

  /** Exact-IN size cap per scan: parquet evaluates a pushed IN as a
    * recursive or-chain, so a multi-thousand-value list overflows the
    * task stack (measured at ~2000 values) — 512 keeps an
    * order-of-magnitude margin. Requires `spark.sql.parquet.pushdown
    * .inFilterThreshold` above 512 (Engine.session sets 600) — below it
    * Spark degrades the pushed IN to one [min,max] range, which uniform
    * hash keys render useless. */
  private[graft] val InKeyCap = 512

  /** Probe band rows above which [[query]]'s probe side is NOT
    * broadcast (≈250 B/row ⇒ ~256 MB payload at the bound — comfortably
    * inside executor memory, far past any serving or daily-ingest
    * batch; a corpus-sized probe keeps the planner's shuffle join).
    * Overridable per session via [[BroadcastProbeCapKey]] — the seam
    * the branch-equivalence spec uses to force the shuffle form at
    * spec scale, and an operator's escape hatch for executors with
    * unusually tight broadcast memory. */
  private[graft] val BroadcastProbeMaxRows = 1000000L

  /** Session-conf key overriding [[BroadcastProbeMaxRows]]. */
  private[graft] val BroadcastProbeCapKey =
    "graft.dedupIndex.broadcastProbeMaxRows"

  /** Point-probe pushdown — the serving shape's IO lever: when the
    * probe names at most `cap` distinct band keys (a small batch
    * against a big index), attach a band-key filter to the corpus scan.
    * Semantically a no-op (the join is on bkey anyway — spec-pinned
    * both branches), but the filter REACHES the parquet reader, and
    * because [[writeBandRows]] sorts each file by (bprefix, bkey),
    * row-group min/max stats skip every group holding none of the
    * probe's keys — IO proportional to the PROBE, not the corpus.
    *
    *   - ≤ [[InKeyCap]] distinct keys (the default cap): one exact
    *     `bkey IN (…)` — row groups holding none of the keys skip, no
    *     false-positive rows, negligible plan cost. The everyday
    *     serving shape (≤64-doc probes at 8 bands).
    *   - ≤ `cap` keys with an EXPLICIT cap > 512: CHUNKED exact-INs —
    *     the sorted key list splits into ⌈K/512⌉ runs and the scan
    *     becomes a union of per-run pushed-IN scans. This is the only
    *     form that stays group-skipping-exact for UNIFORM hash keys:
    *     coalescing K uniform keys into R ranges covers ≈ (K−R)/K of
    *     the whole key space (the gaps removed are only the R largest
    *     of K ≈ equal gaps), so range predicates prune NOTHING — a
    *     measured dead end (BENCH_LOCAL round-13: the range form cost
    *     2-6× on l42/l59 while skipping zero groups; a large InSet
    *     also ships multi-MB task binaries that every task pays to
    *     deserialize). Chunked INs keep every or-chain inside the
    *     stack bound, each chunk covers a CONTIGUOUS key run (tight
    *     per-scan min/max, sequential group touches), and total group
    *     reads stay ≈ K at object-store geometry. The trade is ⌈K/512⌉
    *     scan passes over the file METADATA — why this regime is
    *     opt-in, not the default: locally the extra scheduling
    *     dominates (warm cache, nothing to skip), and the honest
    *     default for a mid-size probe is the plain prefix-pruned scan.
    * Above `cap` (or > 512 at the default cap) the plain prefix-pruned
    * scan runs. `keys` is called only when `cap > 0`: a driver-built
    * probe hands over its distinct keys directly, a distributed one
    * collects them from its checkpoint ([[probeKeys]] — one batch-sized
    * column read, `cap+1` rows max, 8 B each). */
  private def withProbeKeys(
      keys: () => Array[Long], cap: Int, index: DataFrame): DataFrame = {
    if (cap <= 0) return index
    val ks = keys()
    if (ks.isEmpty || ks.length > cap) index
    else if (ks.length <= InKeyCap)
      index.where(col("bkey").isin(ks.map(java.lang.Long.valueOf).toSeq: _*))
    else
      ks.sorted.grouped(InKeyCap).map(run =>
        index.where(col("bkey").isin(run.map(java.lang.Long.valueOf).toSeq: _*)))
        .reduce(_ unionByName _)
  }

  /** Up to `cap + 1` distinct band keys of a distributed probe. */
  private def probeKeys(probe: DataFrame, cap: Int): Array[Long] =
    probe.select(col("bkey")).distinct().limit(cap + 1).collect().map(_.getLong(0))

  /** Sink for prepared band rows `(doc_id, sig, band, bkey, bprefix)` —
    * shared by build, append, [[ingestFold]]'s probe-row reuse path and
    * [[compact]]: the one [[Segments]] layout keyed by (bprefix, bkey),
    * with a `bkey` bloom filter per row group. */
  private def writeBandRows(rows: DataFrame, segDir: String): Unit =
    Segments.write(rows, segDir, Seq("bprefix", "bkey"), Some("bkey"))
}
