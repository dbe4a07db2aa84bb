package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** friedmanTest / rboCompare / finishHhi / effectSize contracts:
  * textbook references, zero-fill + tie handling, identical/disjoint
  * ranking bounds, and hand-computed closes. */
class RankDiversitySpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf(rows: Seq[(String, String)]) =
    rows.toDF("s", "t").select(col("s"), to_timestamp(col("t")).as("ts"))

  test("friedman: consistent block-ordering gives the textbook chi2 = 6") {
    // 3 days × 3 series, counts always ordered a < b < c
    val rows = for {
      d <- Seq("2024-01-01", "2024-01-02", "2024-01-03")
      (s, c) <- Seq("a" -> 1, "b" -> 2, "c" -> 3)
      i <- 1 to c * (Seq("2024-01-01", "2024-01-02", "2024-01-03").indexOf(d) + 1)
    } yield (s, s"$d 00:0${i % 6}:0${i % 10}")
    val r = Seasonal.friedmanTest(eventsDf(rows), col("s"), col("ts"))
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 6.0d)
  }

  test("friedman: a series absent on a day is a real zero, not a hole") {
    // day1: a=2,b=1; day2: only b=1 → a gets cnt 0, rank 1 on day2
    val rows = Seq(
      ("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:01:00"),
      ("b", "2024-01-01 00:02:00"),
      ("b", "2024-01-02 00:00:00"))
    val r = Seasonal.friedmanTest(eventsDf(rows), col("s"), col("ts"))
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    // ranks: day1 a=2,b=1; day2 a=1,b=2 → R2 = {6,6}; num = 0 → chi2 = 0
    assert(r.getDouble(2) == 0.0d)
  }

  test("friedman: single treatment or all-tied blocks → NULL") {
    val one = Seq(("a", "2024-01-01 00:00:00"), ("a", "2024-01-02 00:00:00"))
    val r1 = Seasonal.friedmanTest(eventsDf(one), col("s"), col("ts"))
      .collect().head
    assert(r1.isNullAt(2))
    val tied = Seq(
      ("a", "2024-01-01 00:00:00"), ("b", "2024-01-01 00:01:00"),
      ("a", "2024-01-02 00:00:00"), ("b", "2024-01-02 00:01:00"))
    val r2 = Seasonal.friedmanTest(eventsDf(tied), col("s"), col("ts"))
      .collect().head
    assert(r2.isNullAt(2)) // every block fully tied → denominator 0
  }

  test("rbo: identical rankings score 1 − p^k·(residual), disjoint score 0") {
    // uniform doc lengths → b=0.75 and b=0 rank identically
    val docs = Seq(
      (1L, "a a"), (2L, "a b"), (3L, "b b"), (4L, "c c")).toDF("doc_id", "text")
    val out = Vocabulary.rboCompare(docs, "text", "doc_id",
      Seq("q1" -> "a b"), k = 3).collect().head
    assert(out.getLong(1) == 3L && out.getLong(2) == 3L)
    assert(out.getLong(3) == 3L) // full overlap
    // X_d = d at every depth: rbo = (1−p)·Σ p^{d−1} = 1 − p^k = 1 − 0.729
    assert(math.abs(out.getDouble(4) - (1.0 - math.pow(0.9, 3))) < 1e-6)
    val out2 = Vocabulary.rboCompare(docs, "text", "doc_id",
      Seq("q1" -> "zz"), k = 3).collect().head
    assert(out2.getLong(3) == 0L && out2.getDouble(4) == 0.0d)
  }

  test("hhi lens: hand-computed masses {3,1} and the uniform case") {
    val m1 = Seq(("a", 3L), ("b", 1L)).toDF("grp", "x")
    val r1 = CorpusStats.finishHhi(m1).collect().head
    assert(r1.getLong(1) == 4L)
    assert(r1.getLong(2) == 625000L)   // (9+1)/16
    assert(r1.getLong(3) == 1600000L)  // 16/10 effective sources
    val h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(r1.getDouble(4) - math.rint(math.exp(h) * 1e4) / 1e4) < 1e-9)
    val m2 = Seq(("a", 2L), ("b", 2L)).toDF("grp", "x")
    val r2 = CorpusStats.finishHhi(m2).collect().head
    assert(r2.getLong(2) == 500000L && r2.getLong(3) == 2000000L)
    assert(r2.getDouble(4) == 2.0d)
  }

  test("effect size: hand-computed d and Hedges correction") {
    val df = (Seq(2L, 4L).map((_, true)) ++ Seq(1L, 3L).map((_, false)))
      .toDF("v", "a")
    val r = Evaluation.effectSize(df, col("v"), col("a")).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 3.0d && r.getDouble(3) == 2.0d)
    // sp² = 2; d = 1/√2; g = d·(1 − 3/7)
    assert(r.getDouble(4) == math.rint(1.0 / math.sqrt(2.0) * 1e4) / 1e4)
    assert(r.getDouble(5) ==
      math.rint(1.0 / math.sqrt(2.0) * (1.0 - 3.0 / 7.0) * 1e4) / 1e4)
  }

  test("effect size: constant cohorts or tiny n → NULL d") {
    val const = (Seq(5L, 5L).map((_, true)) ++ Seq(5L, 5L).map((_, false)))
      .toDF("v", "a")
    val r = Evaluation.effectSize(const, col("v"), col("a")).collect().head
    assert(r.isNullAt(4) && r.isNullAt(5))
    val tiny = Seq((1L, true), (2L, false), (3L, false)).toDF("v", "a")
    assert(Evaluation.effectSize(tiny, col("v"), col("a"))
      .collect().head.isNullAt(4))
  }
}
