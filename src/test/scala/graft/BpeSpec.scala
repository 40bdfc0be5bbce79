package graft

import graft.operators.{Bpe, DriverBatch}
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("bpe training reproduces the hand-computed merge sequence") {
    // word freqs: aaaa×2, ab×1. Round 1: (a,a) = 3 adjacent per "aaaa"
    // (overlapping count) × 2 = 6 beats (a,b) = 1 → "aaaa" rewrites
    // GREEDILY to [aa, aa]. Round 2: (aa,aa) = 2 beats (a,b) = 1.
    // Round 3: only (a,b) = 1 remains.
    val docs = Seq((1L, "aaaa ab"), (2L, "aaaa")).toDF("doc_id", "text")
    val merges = Bpe.bpeTrain(docs, "text", nMerges = 5, minPairCount = 1)
      .orderBy(col("rank"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq === Seq(
      (0, "a", "a", 6L), (1, "aa", "aa", 2L), (2, "a", "b", 1L)))
  }

  test("ties break to the lexicographically least pair") {
    val docs = Seq((1L, "xz xy")).toDF("doc_id", "text")
    val m = Bpe.bpeTrain(docs, "text", nMerges = 1, minPairCount = 1).collect()
    assert(m.length === 1)
    assert((m(0).getString(1), m(0).getString(2)) === ("x", "y"))
  }

  test("minPairCount stops training; merge table is bounded by nMerges") {
    val docs = Seq((1L, "aaaa ab"), (2L, "aaaa")).toDF("doc_id", "text")
    val stopped = Bpe.bpeTrain(docs, "text", nMerges = 5, minPairCount = 2).collect()
    assert(stopped.length === 2) // the count-1 (a,b) merge never happens
    val capped = Bpe.bpeTrain(docs, "text", nMerges = 1, minPairCount = 1).collect()
    assert(capped.length === 1)
  }

  test("encoding a training word yields its final training symbols (consistency law)") {
    val docs = Tables(spark, sf, "documents").limit(120)
    val (mergesDf, vocabDf) = Bpe.bpeTrainFull(docs, "text", nMerges = 16, minPairCount = 2)
    val merges = mergesDf.orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val stats = Bpe.bpeEncodeStats(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val finalLen = vocabDf.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).length).toMap
    assert(merges.nonEmpty && finalLen.nonEmpty)
    docs.select(col("doc_id"), col("text")).collect().foreach { r =>
      val toks = Option(r.getString(1)).map(_.split(" ").filter(_.nonEmpty))
        .getOrElse(Array.empty[String])
      val expected = (toks.length.toLong, toks.map(w => finalLen(w).toLong).sum)
      assert(stats(r.getLong(0)) === expected, s"doc ${r.getLong(0)}")
    }
  }

  test("training is deterministic across runs") {
    val docs = Tables(spark, sf, "documents").limit(80)
    def run() = Bpe.bpeTrain(docs, "text", nMerges = 8, minPairCount = 2)
      .orderBy(col("rank"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(run() === run())
  }

  test("driver and distributed training branches are identical (sub-floor law)") {
    // default cap ≫ fixture vocab → driver loop; floor 0 forces the
    // distributed per-round jobs. Merges AND final vocab must agree
    // exactly — the same branch-equality pin the dedup closures carry.
    val docs = Tables(spark, sf, "documents").limit(150)
    def run(): (Seq[(Int, String, String, Long)], Set[(String, Seq[String], Long)]) = {
      val (m, v) = Bpe.bpeTrainFull(docs, "text", nMerges = 12, minPairCount = 2)
      (m.orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq,
        v.collect().map(r =>
          (r.getString(0), r.getSeq[String](1).toSeq, r.getLong(2))).toSet)
    }
    val fast = run()
    val dist = DriverBatch.withFloor(0)(run())
    assert(fast._1 === dist._1)
    assert(fast._2 === dist._2)
    assert(fast._1.nonEmpty)
  }

  test("a supplementary character starts as one symbol, its code point") {
    // tools/check_oracle.py self-checks its Python twin on the same word
    val word = "a\uD83D\uDE00b"
    val docs = Seq((1L, word)).toDF("doc_id", "text")
    def stats(merges: Seq[(String, String)]) =
      Bpe.bpeEncodeStats(docs, "doc_id", "text", merges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stats(Nil) === Seq((1L, 1L, 3L)))
    assert(stats(Seq(("a", "\uD83D\uDE00"))) === Seq((1L, 1L, 2L)))
    // both pairs count 2; "a" sorts before the emoji in UTF-8 order
    val twice = Seq((1L, s"$word $word")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.bpeTrainFull(twice, "text", nMerges = 1, minPairCount = 1)
    assert(vocab.collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toSeq ===
      Seq(word -> Seq("a\uD83D\uDE00", "b")))
  }

  test("non-BMP text: driver ≡ distributed training, and encoding ≡ the driver vocab") {
    val e = "\uD83D\uDE00"
    val docs = (Seq.fill(3)(s"a${e}b") ++ Seq.fill(2)(s"a${e}c")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def run(): (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
      val (m, v) = Bpe.bpeTrainFull(docs, "text", nMerges = 3, minPairCount = 2)
      (m.orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq,
        v.collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap)
    }
    val driver = run()
    assert(driver._1 === Seq((0, "a", e, 5L), (1, s"a$e", "b", 3L), (2, s"a$e", "c", 2L)))
    assert(DriverBatch.withFloor(0)(run()) === driver)
    val pieces = Bpe.bpeEncodeSelf(docs, "doc_id", "text", nMerges = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val text = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pieces == text.map { case (id, w) => id -> driver._2(w).length.toLong })
  }

  test("null and empty text: zero stats, row survives") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "ab ab"))
      .toDF("doc_id", "text")
    val merges = Seq(("a", "b"))
    val got = Bpe.bpeEncodeStats(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 2L, 2L)))
  }
}
