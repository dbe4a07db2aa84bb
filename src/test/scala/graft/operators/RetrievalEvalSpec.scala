package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** retrievalEvalBm25 contracts: metrics agree with the independently
  * computed BM25 ranking + relevance sets; degenerate queries yield the
  * documented zeros/NULLs; minTf tightens relevance. */
class RetrievalEvalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a a a a a a"), // a-heavy but never contains b
    (2L, "a b"),         // the only (a AND b) document
    (3L, "c d e"),
    (4L, "b c"),
    (5L, "a c b b")      // contains a and b (b twice)
  ).toDF("doc_id", "text")

  test("metrics agree with the separately computed ranking and relevance") {
    val out = Vocabulary.retrievalEvalBm25(
      docs, "text", "doc_id", Seq("q1" -> "a b"), k = 3).collect()
    val ranked = Vocabulary.bm25TopK(
      docs, "text", "doc_id", Seq("q1" -> "a b"), k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(3)))
    val relevant = Set(2L, 5L) // docs containing BOTH a and b
    val hits = ranked.filter { case (doc, _) => relevant(doc) }
    val r = out.head
    assert(r.getString(0) == "q1")
    assert(r.getLong(1) == 3L)                       // n_ret = k (a or b is common)
    assert(r.getLong(2) == 2L)                       // n_rel
    assert(r.getLong(3) == hits.length.toLong)       // hits
    assert(r.getLong(4) == hits.length * 1000000L / 3)
    assert(r.getLong(5) == hits.length * 1000000L / 2)
    assert(r.getLong(6) == 1000000L / hits.map(_._2).min)
    val dcg = hits.map { case (_, rk) =>
      math.log(2.0) / math.log(rk + 1.0) }.sum
    val idcg = (1 to math.min(2, 3)).map(i =>
      math.log(2.0) / math.log(i + 1.0)).sum
    assert(math.abs(r.getDouble(7) - dcg / idcg) < 1e-6)
  }

  test("no relevant documents → zero hits, NULL recall and ndcg, mrr 0") {
    val out = Vocabulary.retrievalEvalBm25(
      docs, "text", "doc_id", Seq("q1" -> "a e"), k = 2).collect()
    val r = out.head
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L)
    assert(r.getLong(4) == 0L)
    assert(r.isNullAt(5))       // recall undefined
    assert(r.getLong(6) == 0L)  // mrr defined as 0 with no hit
    assert(r.isNullAt(7))       // ndcg undefined (idcg 0)
  }

  test("a query with no matching postings still reports a zero row") {
    val out = Vocabulary.retrievalEvalBm25(
      docs, "text", "doc_id", Seq("q1" -> "zz yy"), k = 2).collect()
    val r = out.head
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
  }

  test("minTf tightens relevance: only the double-b document survives tf>=2") {
    val out = Vocabulary.retrievalEvalBm25(
      docs, "text", "doc_id", Seq("q1" -> "b"), k = 5, minTf = 2).collect()
    val r = out.head
    assert(r.getLong(2) == 1L) // only doc 5 has b twice
  }
}
