package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** spearmanRho / kendallTauB must implement the exact tie-aware
  * statistics — verified against direct in-memory references. */
class RankCorrelationSpec extends SparkSpec {
  import spark.implicits._

  private def refSpearman(pairs: Seq[(Long, Long)]): Option[Double] = {
    def midranks(vs: Seq[Long]): Map[Long, Double] = {
      val sorted = vs.groupBy(identity).toSeq.sortBy(_._1)
      var below = 0L
      sorted.map { case (v, g) =>
        val t = g.size.toLong
        val r = (2 * below + t + 1) / 2.0
        below += t
        v -> r
      }.toMap
    }
    val n = pairs.size
    if (n < 2) return None
    val rx = midranks(pairs.map(_._1)); val ry = midranks(pairs.map(_._2))
    val rs = pairs.map { case (x, y) => (rx(x), ry(y)) }
    val mx = rs.map(_._1).sum / n; val my = rs.map(_._2).sum / n
    val num = rs.map { case (a, b) => (a - mx) * (b - my) }.sum
    val dx = rs.map { case (a, _) => (a - mx) * (a - mx) }.sum
    val dy = rs.map { case (_, b) => (b - my) * (b - my) }.sum
    if (dx <= 0 || dy <= 0) None else Some(num / math.sqrt(dx * dy))
  }

  private def refKendall(pairs: Seq[(Long, Long)]): Option[Double] = {
    val n = pairs.size
    if (n < 2) return None
    var c = 0L; var d = 0L
    for (i <- pairs.indices; j <- (i + 1) until n) {
      val s = (pairs(j)._1 - pairs(i)._1).sign * (pairs(j)._2 - pairs(i)._2).sign
      if (s > 0) c += 1 else if (s < 0) d += 1
    }
    def tie2(vs: Seq[Long]): Long =
      vs.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1)).sum
    val a = n.toLong * (n - 1) - tie2(pairs.map(_._1))
    val b = n.toLong * (n - 1) - tie2(pairs.map(_._2))
    if (a <= 0 || b <= 0) None
    else Some(2.0 * (c - d) / (math.sqrt(a.toDouble) * math.sqrt(b.toDouble)))
  }

  private def runSpearman(pairs: Seq[(Long, Long)]): (Long, Option[Double]) = {
    val r = Evaluation.spearmanRho(pairs.toDF("x", "y"), col("x"), col("y"),
      roundTo = 8).collect().head
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  private def runKendall(pairs: Seq[(Long, Long)]): (Long, Option[Double]) = {
    val r = Evaluation.kendallTauB(pairs.toDF("x", "y"), col("x"), col("y"),
      roundTo = 8).collect().head
    (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getDouble(3)))
  }

  private val cases = Seq(
    Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 8L)),                // perfect +
    Seq((1L, 9L), (2L, 7L), (3L, 5L), (4L, 1L)),                // perfect −
    Seq((1L, 3L), (1L, 3L), (2L, 3L), (2L, 5L), (3L, 1L),
      (5L, 5L), (5L, 2L), (8L, 8L)),                            // heavy ties
    (1L to 30L).map(i => (i, (i * 7) % 13)),                    // scrambled
    Seq((4L, 4L), (4L, 4L), (4L, 4L)))                          // degenerate

  test("spearmanRho matches the in-memory tie-aware reference") {
    for (c <- cases) {
      val (n, got) = runSpearman(c)
      assert(n == c.size.toLong)
      (got, refSpearman(c)) match {
        case (Some(g), Some(e)) => assert(math.abs(g - e) < 1e-7, s"$c: $g vs $e")
        case (a, b) => assert(a == b, s"$c: $a vs $b")
      }
    }
  }

  test("kendallTauB matches the in-memory pair-counting reference") {
    for (c <- cases) {
      val (n, got) = runKendall(c)
      assert(n == c.size.toLong)
      (got, refKendall(c)) match {
        case (Some(g), Some(e)) => assert(math.abs(g - e) < 1e-7, s"$c: $g vs $e")
        case (a, b) => assert(a == b, s"$c: $a vs $b")
      }
    }
  }

  test("perfect monotone gives rho = tau = 1; reversal gives −1") {
    assert(math.abs(runSpearman(cases(0))._2.get - 1.0) < 1e-9)
    assert(math.abs(runKendall(cases(0))._2.get - 1.0) < 1e-9)
    assert(math.abs(runSpearman(cases(1))._2.get + 1.0) < 1e-9)
    assert(math.abs(runKendall(cases(1))._2.get + 1.0) < 1e-9)
  }

  test("empty and single-row inputs yield n with null statistic") {
    assert(runSpearman(Seq.empty) == ((0L, None)))
    assert(runKendall(Seq.empty) == ((0L, None)))
    assert(runSpearman(Seq((3L, 4L))) == ((1L, None)))
    assert(runKendall(Seq((3L, 4L))) == ((1L, None)))
  }
}
