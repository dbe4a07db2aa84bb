package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** welchT / vocabOverlapTopK contracts: hand-computed Welch statistics,
  * equal-variance agreement with the pooled formula, identical/disjoint
  * vocabulary bounds. */
class WelchVocabSpec extends SparkSpec {
  import spark.implicits._

  test("welch t: hand-computed unequal-variance case") {
    // A = {1,2,3} (v=1), B = {10,14} (v=8): t = (2−12)/√(1/3 + 4)
    val df = (Seq(1L, 2L, 3L).map((_, true)) ++ Seq(10L, 14L).map((_, false)))
      .toDF("v", "a")
    val r = Evaluation.welchT(df, col("v"), col("a")).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 2.0d && r.getDouble(3) == 12.0d)
    val se2 = 1.0 / 3.0 + 8.0 / 2.0
    assert(r.getDouble(4) == math.rint(-10.0 / math.sqrt(se2) * 1e4) / 1e4)
    val dof = se2 * se2 /
      ((1.0 / 3.0) * (1.0 / 3.0) / 2.0 + 4.0 * 4.0 / 1.0)
    assert(r.getDouble(5) == math.rint(dof * 1e4) / 1e4)
  }

  test("welch t: zero-variance cohorts → NULL t") {
    val df = (Seq(5L, 5L).map((_, true)) ++ Seq(7L, 7L).map((_, false)))
      .toDF("v", "a")
    assert(Evaluation.welchT(df, col("v"), col("a")).collect().head.isNullAt(4))
  }

  test("vocab overlap: identical sub-corpora score full overlap, rbo = 1 − p^k") {
    val docs = Seq(
      (1L, "a b c", true), (2L, "a b c", false),
      (3L, "a a b", true), (4L, "a a b", false)).toDF("id", "text", "ina")
    val r = Vocabulary.vocabOverlapTopK(docs, "text", col("ina"), k = 3)
      .collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 3L)
    assert(r.getLong(4) == 1000000L)
    assert(math.abs(r.getDouble(5) - (1.0 - math.pow(0.9, 3))) < 1e-6)
  }

  test("vocab overlap: disjoint vocabularies score zero everywhere") {
    val docs = Seq(
      (1L, "a b c", true), (2L, "x y z", false)).toDF("id", "text", "ina")
    val r = Vocabulary.vocabOverlapTopK(docs, "text", col("ina"), k = 3)
      .collect().head
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
    assert(r.getDouble(5) == 0.0d)
  }

  test("vocab overlap: the cut is by (count DESC, term) — a term outside " +
    "one side's top-k is a miss even if shared") {
    // k=2. A counts: a=3, b=2, c=1 → top {a,b}; B counts: c=3, b=2, a=1
    // → top {c,b}: overlap {b} only
    val docs = Seq(
      (1L, "a a a b b c", true),
      (2L, "c c c b b a", false)).toDF("id", "text", "ina")
    val r = Vocabulary.vocabOverlapTopK(docs, "text", col("ina"), k = 2)
      .collect().head
    assert(r.getLong(3) == 1L)
    // jaccard = 1/(2+2−1)
    assert(r.getLong(4) == 1000000L / 3L)
  }
}
