package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{DedupIndex, ManifestCommit, Similarity}

/** The three persisted stores `serve` reads and writes: the dedup index
  * over the base docs, and the IVF (int8) and PQ indexes over the base
  * vectors. */
final class Stores(run: Run, val root: String) {
  import run.spark

  val dedupDir = s"$root/dedup_index"
  val ivfDir = s"$root/ivf_index"
  val pqDir = s"$root/pq_index"
  def dirs: Seq[String] = Seq(dedupDir, ivfDir, pqDir)

  /** Builds all three stores from the base corpora, concurrently. The PQ
    * tier derives its coarse centroids from the same corpus with the same
    * deterministic rule as the IVF tier, so both probe identical cells. */
  def build(): Unit = {
    val docs = spark.read.parquet(run.path("index_docs.parquet"))
    val vecs = spark.read.parquet(run.path("index_vecs.parquet"))
    Run.par(
      () => DedupIndex.build(docs, "doc_id", "text", dedupDir),
      () => { Similarity.buildIvfIndex(vecs, ivfDir, cellCap = Some(256)).count(); () },
      () => { Similarity.buildPqIndex(vecs, pqDir, cellCap = Some(256)).count(); () })
  }

  def versions: Long = dirs.map(ManifestCommit.currentVersion).sum
  def dedupSegments: Int = DedupIndex.readManifest(dedupDir).segments.size
  def bytes: Long = dirs.map(d => Stores.du(new File(d))).sum
}

object Stores {
  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** A small in-memory request payload as a DataFrame (a local relation,
    * the way a service hands a caller's batch to the engine). */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The tab-separated payload file gen.py wrote, one array per line. */
  def tsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
  }
  def docRow(id: String, text: String): Row = Row(id.toLong, text)
  def vecRow(id: String, v: String): Row = Row(id.toLong, v.split(",").map(_.toFloat).toSeq)

  /** Top-k rows as comparable tuples (qid, rank, nid, cos). */
  def topK(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select(col("qid"), col("rank"), col("nid"), col("cos")).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted

  /** The l42 pair rule through an independent path: the batch near-dup
    * operator (Dedup.minhashLsh, same k/bands/shingle/threshold as the
    * index defaults) over `docs`, as (id_a, id_b) pairs. */
  def nearPairs(docs: DataFrame): Seq[(Long, Long)] =
    graft.operators.Dedup.minhashLsh(docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The ids paired with a DIFFERENT indexed id — exactly the docs a
    * DedupIndex.query against the `indexed` docs must drop. */
  def pairRuleDropped(pairs: Seq[(Long, Long)], indexed: Set[Long]): Set[Long] =
    pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .collect { case (p, x) if p != x && indexed(x) => p }.toSet

  /** Raw payload bytes behind a store: UTF-8 text bytes plus 4 bytes per
    * vector element — the denominator of `store.bytes_per_input_byte`. */
  def payloadBytes(docs: DataFrame, vecs: DataFrame): Double = {
    val t = docs.agg(coalesce(sum(octet_length(col("text"))), lit(0L))).head().getLong(0)
    val v = vecs.agg(coalesce(sum(size(col("embedding"))), lit(0L))).head().getLong(0)
    (t + 4 * v).toDouble
  }

  /** Commit-protocol counters, read from outside. */
  def commitMetrics: Map[String, Long] = ManifestCommit.metrics.snapshot

  /** Layer counts every workload reports (0 where it has no such layer). */
  val countNames: Seq[String] = Seq(
    "dedup_index.segments", "dedup_index.survivor_ratio",
    "store.bytes_per_input_byte", "manifest.versions", "manifest.claims_lost",
    "manifest.pointer_heals", "counter.lock_wait_ms")

  def counts(kv: (String, Double)*): Map[String, Double] = {
    val m = kv.toMap
    require(m.keySet.subsetOf(countNames.toSet), m.keySet -- countNames)
    countNames.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

}
