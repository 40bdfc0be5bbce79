package graft

import graft.operators.{AsOfJoin, Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: empty sides, single rows, empty text —
  * the shapes a 100 TB pipeline hits constantly at partition edges. */
class EdgeCaseSpec extends SparkSpec {

  test("minhash LSH on empty / single-doc input returns no pairs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashLsh(empty, "doc_id", "text").count() == 0)
    val one = Seq((1L, "only one document here")).toDF("doc_id", "text")
    assert(Dedup.minhashLsh(one, "doc_id", "text").count() == 0)
  }

  test("ngram jaccard on empty text does not divide by zero") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")
    // empty text -> single empty shingle -> pair (1,2) with jaccard 1.0
    val out = Dedup.ngramJaccard(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.get((1L, 2L)).contains(1.0))
  }

  test("as-of join with empty right side keeps all left rows, null payload") {
    import spark.implicits._
    val left = Seq((1L, 5L), (2L, 7L)).toDF("k", "t")
    val right = Seq.empty[(Long, Long, Long)].toDF("k", "t", "v")
    val out = AsOfJoin.backward(left, right, "k", "k", "t", "t", Seq("v"))
    assert(out.count() == 2)
    assert(out.filter(col("v").isNotNull).count() == 0)
  }

  test("brute-force top-k with k larger than corpus returns corpus-1 rows per query") {
    import spark.implicits._
    val tiny = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0), (3L, Seq(1f, 1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteForceTopK(tiny, tiny, 10)
    assert(out.count() == 3 * 2)
  }

  test("zero vector cosine is 0, not NaN") {
    import spark.implicits._
    val vs = Seq((1L, Seq(0f, 0f), 0), (2L, Seq(1f, 1f), 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteForceTopK(vs, vs, 1)
      .select($"cos").collect().map(_.getDouble(0))
    assert(out.forall(c => !c.isNaN && c == 0.0))
  }

  test("counter handles negative values and repeated sets") {
    val path = tempDir("graft_cnt_edge") + "/c"
    val c = new plans.Counter(spark, path)
    assert(c.decr() == -1L)
    assert(c.set(0L) == 0L)
    assert(c.get() == 0L)
  }
}
