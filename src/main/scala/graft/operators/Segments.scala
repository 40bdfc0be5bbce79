package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one segment layout of every persisted store: dedup band rows,
  * ANN postings and both stores' tombstones are written here and
  * nowhere else.
  *
  * A segment is a FRESH directory of plain parquet files. Rows are
  * repartitioned by the first sort key, so each key value lands in
  * exactly one file, and each file is sorted by all the sort keys, so
  * every 1 MB row group covers a narrow key range and a pushed
  * `key IN (…)` / equality filter skips the groups holding none of its
  * values by min/max statistics. The key is a plain column — no
  * `key=<v>/` directory per value — so a segment's metadata is
  * proportional to its data, not to the key's cardinality. AQE
  * coalesces the shuffle to the data size: a batch-sized append or
  * tombstone set is one file, a corpus-sized build or compact keeps
  * several parallel writers. Every segment uses one codec, zstd:
  * segments are written once and read many times.
  *
  * Readers never branch on the layout: a segment written in the former
  * partitioned layout (`cell=<c>/` or `bprefix=<p>/` directories)
  * resolves, through Spark's partition discovery, to the same columns,
  * and the stores union segments by name — the next compact rewrites
  * it here. Visibility comes from the caller's manifest commit, never
  * from files appearing in a listed directory. */
private[graft] object Segments {

  /** Bloom-filter bound per column chunk, in bytes. A dedup band row
    * carries at least its 8-byte bkey and its k-long signature, so a
    * 1 MB row group holds at most 2²⁰ / (8 + 8·k) distinct keys: 3 971
    * at the default k = 32, 7 710 at k = 16. A 1 %-false-positive
    * split-block filter needs ~1.21 B per key (4.7 KB, 9.3 KB), rounded
    * up to a power of two: 16 KB covers every k ≥ 16. A smaller k can
    * overfill it — the filter's false-positive rate rises, and it never
    * drops a key. */
  private[graft] val BloomMaxBytes = 16 * 1024

  /** Write `rows` into the fresh directory `dir` in the one layout,
    * sorted by `sortCols` (the first is the file key), and record the
    * schema written, so this session's readers skip inferring it
    * ([[GenerationCache.directory]]). `bloomCol` adds
    * a per-row-group bloom filter on that column: the pushed or-of-Eq
    * a ≤512-value IN becomes consults it, so a group whose [min, max]
    * spans a probed value but holds none skips anyway. ADAPTIVE (a
    * writer-wide key; only `bloomCol` has a filter): every value enters
    * each of 5 candidates, [[BloomMaxBytes]] halved down to 1 KB — the
    * smallest Parquet builds — and the footer keeps the smallest that
    * meets 1 % for the values the group holds. */
  private[operators] def write(
      rows: DataFrame,
      dir: String,
      sortCols: Seq[String],
      bloomCol: Option[String] = None): Unit = {
    val w = rows.repartition(col(sortCols.head))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.option("compression", "zstd")
      .option("parquet.block.size", 1024 * 1024)
    bloomCol.fold(w)(c => w
      .option(s"parquet.bloom.filter.enabled#$c", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option(s"parquet.bloom.filter.candidates.number#$c", "5")
      .option("parquet.bloom.filter.max.bytes", BloomMaxBytes.toString))
      .parquet(dir)
    GenerationCache.written(rows.sparkSession, dir, rows.schema)
  }
}
