package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and APPLICATION (Sennrich,
  * Haddow & Birch, ACL 2016) as distributed operators — the
  * vocabulary-learning pass a from-scratch pretraining pipeline runs
  * before anything tokenizes.
  *
  * Semantics (pinned precisely so the independent Python cross-oracle
  * in tools/check_oracle.py can re-derive every byte):
  *
  *   - The corpus collapses ONCE to a distinct-word frequency table
  *     (words = whitespace tokens, empties dropped); training never
  *     touches the corpus again. This is the classical formulation —
  *     pair statistics are per-word-occurrence, so the word table plus
  *     `freq` is a lossless sufficient statistic, and it is orders of
  *     magnitude smaller than the corpus (the one corpus-scale shuffle).
  *   - Each word starts as its sequence of code points ([[symbols]]),
  *     so a supplementary character (a surrogate pair in UTF-16, e.g.
  *     most emoji) is ONE symbol and every symbol is valid UTF-8 — a
  *     half pair would store as "?" in a Spark string column and split
  *     the distributed branch from the driver one. Both training
  *     branches, encoding and the Python cross-oracle split this way.
  *     Per merge round:
  *     count all ADJACENT symbol pairs (overlapping — "aaa" contributes
  *     (a,a) twice), weighted by word freq; the winner is the
  *     lexicographically-least most-frequent pair (count desc, left
  *     asc, right asc — a total order, so training is deterministic);
  *     every word then rewrites that pair in ONE greedy left-to-right
  *     non-overlapping pass ("aaaa" → ["aa","aa"]). Training stops
  *     after `nMerges` rounds or when the best count falls below
  *     `minPairCount`.
  *   - ENCODING a word applies the same per-merge rewrite pass in rank
  *     order, so by construction a training word encodes to exactly its
  *     final training symbols (the law BpeSpec pins).
  *
  * Scale shape: the pair count is `arrays_zip` of two shifted slices —
  * row-local codegen — into one hash-agg whose map side combines, over
  * the WORD table (≪ corpus); the argmax is a 1-row `orderBy.limit(1)`
  * collect; the rewrite is a row-local UDF over the word table. Each
  * round's vocab is localCheckpointed, and the previous round's blocks
  * are freed once the next one is materialized ([[graft.Checkpoints]]),
  * so lineage doesn't stack across rounds.
  * Encoding broadcasts the merge list (KBs) and is purely row-local —
  * the corpus never shuffles.
  */
object Bpe {

  /** A word's initial symbols: one per code point, never half a
    * surrogate pair — the split training (both branches) and encoding
    * share. */
  private[graft] def symbols(w: String): IndexedSeq[String] =
    w.codePoints.toArray.toIndexedSeq.map((cp: Int) => Character.toString(cp))

  /** [[symbols]] as a UDF rather than `split(w, "")`: Java's regex split
    * keeps a trailing empty match under Spark's limit=-1, and the word
    * table this runs over is tiny relative to the corpus. */
  private val initSyms = udf { (w: String) => symbols(w) }

  /** One greedy left-to-right non-overlapping rewrite of (left, right)
    * → left+right — the shared training/encoding pass. */
  private[graft] def mergePass(
      syms: IndexedSeq[String], left: String, right: String): IndexedSeq[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
        out += left + right
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toIndexedSeq
  }

  /** The distinct-word frequency table with each word's initial
    * character symbols — training's whole working set. */
  private def vocabTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), initSyms(col("w")).as("syms"), col("freq"))

  /** Distinct-word count at or under which training runs its merge
    * rounds on the DRIVER over the collected (word, freq) table instead
    * of one count-job + one rewrite-job per round — the
    * [[Dedup.DriverUnionFindMaxEdges]] discipline applied to BPE: the
    * word table is training's COMPLETE sufficient statistic, so at or
    * under the cap the transfer is bounded (≤ cap rows of word+freq)
    * and the loop is the same greedy argmax/rewrite with provably
    * identical output (BpeSpec pins both branches on one corpus). At
    * 100 TB the distinct vocabulary is orders past the cap and the
    * distributed rounds run unchanged — this is a bounded-transfer
    * floor, not a local-mode tune. 2^17 words ≈ a few MB collected;
    * 24 rounds × 10⁵ words × ~15 symbols is millisecond-scale driver
    * arithmetic vs ~48 scheduled jobs. The branch is
    * [[DriverBatch.rows]]; its `withFloor(0)` seam forces the
    * distributed rounds in the branch-equality spec. */
  private[graft] val DriverTrainMaxWords = 131072

  /** Spark/DuckDB/Python-compatible string order: UTF8 BINARY bytes
    * (= code-point order), NOT Java's UTF-16 `compareTo`, which sorts
    * supplementary characters differently — the argmax tie-break must
    * match the distributed `orderBy` exactly. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** The driver-side merge loop — byte-identical semantics to the
    * distributed rounds: overlapping pair counts weighted by freq,
    * winner = (count desc, left asc, right asc) in UTF8-binary order,
    * greedy non-overlapping rewrite via the SHARED [[mergePass]]. */
  private def trainOnDriver(
      words: Array[(String, Long)],
      nMerges: Int,
      minPairCount: Long): (ArrayBuffer[(Int, String, String, Long)], Array[IndexedSeq[String]]) = {
    val syms: Array[IndexedSeq[String]] = words.map(w => symbols(w._1))
    val merges = new ArrayBuffer[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      var i = 0
      while (i < syms.length) {
        val s = syms(i)
        val f = words(i)._2
        var j = 0
        while (j + 1 < s.length) {
          counts.merge((s(j), s(j + 1)), f, _ + _)
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) done = true
      else {
        var bl: String = null; var br: String = null; var bc = Long.MinValue
        counts.forEach { (p, c) =>
          if (c > bc || (c == bc && (utf8Less(p._1, bl) ||
              (p._1 == bl && utf8Less(p._2, br))))) {
            bl = p._1; br = p._2; bc = c
          }
        }
        if (bc < minPairCount) done = true
        else {
          merges += ((rank, bl, br, bc))
          i = 0
          while (i < syms.length) {
            // rewrite only words that can contain the pair (cheap scan;
            // mergePass allocates, the guard keeps untouched words free)
            val s = syms(i)
            var j = 0
            var hit = false
            while (!hit && j + 1 < s.length) {
              hit = s(j) == bl && s(j + 1) == br
              j += 1
            }
            if (hit) syms(i) = mergePass(s, bl, br)
            i += 1
          }
          rank += 1
        }
      }
    }
    (merges, syms)
  }

  /** Train `nMerges` BPE merges over `docs`' text; returns
    * (merges(rank, left, right, pair_count), final vocab(w, syms, freq)).
    * The vocab side is what the encode-consistency law checks against. */
  private[graft] def bpeTrainFull(
      docs: DataFrame,
      textCol: String,
      nMerges: Int,
      minPairCount: Long): (DataFrame, DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val spark = docs.sparkSession
    import spark.implicits._

    var vocab = vocabTable(docs, textCol).localCheckpoint()

    // SUB-FLOOR SKIP (round-15, guide §1.2): one bounded fetch
    // ([[DriverBatch.rows]]) decides the branch AND carries the whole
    // working set — at or under the cap the 2-jobs-per-round
    // distributed loop (~48 scheduled jobs at the nMerges=24 default)
    // collapses to driver arithmetic over the SAME sufficient
    // statistic, with the rewrite pass shared (mergePass) and the
    // argmax tie-break in the same UTF8-binary order. Above the cap the
    // distributed rounds below run unchanged.
    DriverBatch.rows(vocab.select(col("w"), col("freq")), DriverTrainMaxWords) match {
      case Some(sample) =>
        val words = sample.map(r => (r.getString(0), r.getLong(1)))
        val (merges, syms) = trainOnDriver(words, nMerges, minPairCount)
        val freshVocab = words.zip(syms)
          .map { case ((w, f), ss) => (w, ss, f) }.toSeq
          .toDF("w", "syms", "freq")
        graft.Checkpoints.free(vocab)
        return (merges.toSeq.toDF("rank", "left", "right", "pair_count"), freshVocab)
      case None =>
    }

    val merges = new ArrayBuffer[(Int, String, String, Long)]
    var done = false
    var rank = 0
    while (rank < nMerges && !done) {
      val s = col("syms")
      val win = greatest(size(s) - 1, lit(0))
      // (count desc, left asc, right asc) is a total order — the argmax
      // row is unique, so limit(1) is deterministic
      val best = vocab
        .select(explode(arrays_zip(slice(s, lit(1), win), slice(s, lit(2), win))).as("p"),
          col("freq"))
        .groupBy(col("p")("0").as("l"), col("p")("1").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minPairCount) done = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, l, r, c))
        val rewrite = udf { (syms: Seq[String]) =>
          mergePass(syms.toIndexedSeq, l, r)
        }
        val next = vocab.select(col("w"), rewrite(col("syms")).as("syms"), col("freq"))
          .localCheckpoint()
        graft.Checkpoints.free(vocab)
        vocab = next
        rank += 1
      }
    }
    (merges.toSeq.toDF("rank", "left", "right", "pair_count"), vocab)
  }

  /** BPE merge-table training — the declared l47 surface: one row per
    * learned merge, in rank order. */
  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      nMerges: Int = 24,
      minPairCount: Long = 2): DataFrame =
    bpeTrainFull(docs, textCol, nMerges, minPairCount)._1

  /** Apply a trained merge list to every document: per-doc piece
    * statistics (`n_words` whitespace tokens, `n_pieces` BPE symbols
    * after all merges). Row-local over a broadcast merge list; null
    * text yields (0, 0) — the doc row survives, mirroring the other
    * row-local scorers.
    *
    * Encoding is WORD-local, so a word's piece count is memoized in a
    * per-task map (the closure is deserialized once per task and each
    * task is single-threaded, so an unsynchronized map is safe — the
    * standard tokenizer cache). On a zipfian corpus the hot vocabulary
    * hits the cache and the per-token cost collapses to a map lookup;
    * the size cap bounds task memory against adversarial vocabularies
    * (past it, words still encode — they just aren't remembered). */
  def bpeEncodeStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      memoCap: Int = 1 << 20): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(merges.toArray)
    val stats = udf {
      val memo = new java.util.HashMap[String, Long]()
      (text: String) =>
        if (text == null) (0L, 0L)
        else {
          val toks = text.split(" ").filter(_.nonEmpty)
          var pieces = 0L
          var t = 0
          while (t < toks.length) {
            val w = toks(t)
            // a nonEmpty word always has >= 1 piece, so -1 is free as
            // the miss sentinel (avoids a null-unboxing get)
            val cached = memo.getOrDefault(w, -1L)
            if (cached >= 0L) pieces += cached
            else {
              var syms = symbols(w)
              val ms = bc.value
              var m = 0
              while (m < ms.length && syms.length > 1) {
                syms = mergePass(syms, ms(m)._1, ms(m)._2)
                m += 1
              }
              if (memo.size < memoCap) memo.put(w, syms.length.toLong)
              pieces += syms.length
            }
            t += 1
          }
          (toks.length.toLong, pieces)
        }
    }
    docs
      .select(col(idCol), stats(col(textCol)).as("s"))
      .select(col(idCol), col("s")("_1").as("n_words"), col("s")("_2").as("n_pieces"))
  }

  /** Train-then-encode in one declared query (l48): the merge table is
    * `nMerges` rows, so the intermediate collect is a documented
    * scalar-scale driver transfer, same class as the IVF centroid
    * collects. */
  def bpeEncodeSelf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nMerges: Int = 24,
      minPairCount: Long = 2): DataFrame = {
    val merges = bpeTrain(docs, textCol, nMerges, minPairCount)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeStats(docs, idCol, textCol, merges)
  }
}
