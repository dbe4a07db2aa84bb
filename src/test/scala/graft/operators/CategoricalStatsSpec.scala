package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** chiSquareIndependence / giniGainScreen / fdAudit — verified against
  * direct in-memory references. */
class CategoricalStatsSpec extends SparkSpec {
  import spark.implicits._

  private def refChi2(xs: Seq[(String, String)]): (Long, Double) = {
    val n = xs.size.toDouble
    val cells = xs.groupBy(identity).view.mapValues(_.size).toMap
    val rows = xs.groupBy(_._1).view.mapValues(_.size).toMap
    val cols = xs.groupBy(_._2).view.mapValues(_.size).toMap
    // full cross product — zero cells contribute their expectation E
    val chi2 = (for (x <- rows.keys.toSeq.sorted; y <- cols.keys.toSeq.sorted)
      yield {
        val obs = cells.getOrElse((x, y), 0).toDouble
        val e = rows(x) * cols(y) / n
        (obs - e) * (obs - e) / e
      }).sum
    (xs.size.toLong, chi2)
  }

  test("chi2 and Cramér's V match the in-memory reference") {
    val cases = Seq(
      // independent-ish 2×2
      Seq.fill(20)(("a", "u")) ++ Seq.fill(20)(("a", "v")) ++
        Seq.fill(20)(("b", "u")) ++ Seq.fill(20)(("b", "v")),
      // perfectly associated 2×2 → V = 1
      Seq.fill(25)(("a", "u")) ++ Seq.fill(25)(("b", "v")),
      // ragged 3×4
      (1 to 60).map(i => (s"r${i % 3}", s"c${(i * 7) % 4}")))
    for (c <- cases) {
      val r = Evaluation.chiSquareIndependence(
        c.toDF("x", "y"), col("x"), col("y"), roundTo = 6).collect().head
      val (n, chi2) = refChi2(c)
      assert(r.getLong(0) == n)
      assert(math.abs(r.getDouble(4) - chi2) < 1e-5, s"chi2 ${r.getDouble(4)} vs $chi2")
      val nRows = c.map(_._1).distinct.size; val nCols = c.map(_._2).distinct.size
      val v = math.sqrt(chi2 / (n * math.min(nRows - 1, nCols - 1)))
      assert(math.abs(r.getDouble(5) - v) < 1e-5)
    }
    // the perfect-association case reads V = 1 exactly
    val perfect = Seq.fill(25)(("a", "u")) ++ Seq.fill(25)(("b", "v"))
    val r = Evaluation.chiSquareIndependence(
      perfect.toDF("x", "y"), col("x"), col("y")).collect().head
    assert(r.getDouble(5) == 1.0)
  }

  test("chi2: a single row/column yields null V (dof 0)") {
    val c = Seq(("a", "u"), ("a", "v"), ("a", "u"))
    val r = Evaluation.chiSquareIndependence(
      c.toDF("x", "y"), col("x"), col("y")).collect().head
    assert(r.getLong(3) == 0L && r.isNullAt(5))
  }

  private def refGini(rows: Seq[(Boolean, Long)]): (Long, Long, Long) = {
    val n = rows.size.toLong; val p = rows.count(_._1).toLong
    def giniPpm(nn: Long, pp: Long, denom: BigInt): Long =
      (BigInt(1000000) * (BigInt(nn) * nn - BigInt(pp) * pp -
        BigInt(nn - pp) * (nn - pp)) / denom).toLong
    val parent = giniPpm(n, p, BigInt(n) * n)
    val children = rows.groupBy(_._2).toSeq.map { case (_, g) =>
      val nv = g.size.toLong; val pv = g.count(_._1).toLong
      (BigInt(1000000) * (BigInt(nv) * nv - BigInt(pv) * pv -
        BigInt(nv - pv) * (nv - pv)) / (BigInt(n) * nv)).toLong
    }.sum
    (parent, children, parent - children)
  }

  test("giniGainScreen matches the floor-exact reference; perfect split gains all") {
    val rows = (1 to 40).map(i => (i % 3 == 0, (i % 5).toLong))
    val r = Evaluation.giniGainScreen(
      rows.toDF("y", "f"), col("y"), Seq("f" -> col("f"))).collect().head
    val (pg, cg, gain) = refGini(rows)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((pg, cg, gain)))
    // feature == label → children pure, gain = parent gini
    val perfect = (1 to 30).map(i => (i % 2 == 0, (i % 2).toLong))
    val r2 = Evaluation.giniGainScreen(
      perfect.toDF("y", "f"), col("y"), Seq("f" -> col("f"))).collect().head
    assert(r2.getLong(3) == 0L && r2.getLong(4) == r2.getLong(2))
  }

  test("fdAudit: exact FD reads 0 ppm, violations counted minimally") {
    val hold = Seq((1L, "x"), (1L, "x"), (2L, "y"), (3L, "x"))
    val broken = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "z"))
    val out = DataQuality.fdAudit(Seq(
      DataQuality.FdCandidate("holds", hold.toDF("a", "b"), col("a"), col("b")),
      DataQuality.FdCandidate("broken", broken.toDF("a", "b"), col("a"), col("b"))))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("holds") == ((4L, 3L, 0L, 0L)))
    // key 1: {x:2, y:1} → 1 deletion; key 2 clean → g3 = 1/4
    assert(out("broken") == ((4L, 2L, 1L, 250000L)))
  }

  test("fdAudit: null lhs/rhs rows are dropped") {
    val rows = Seq((Some(1L), Some("x")), (None, Some("y")), (Some(2L), None))
    val df = rows.toDF("a", "b")
    val r = DataQuality.fdAudit(Seq(
      DataQuality.FdCandidate("nulls", df, col("a"), col("b")))).collect().head
    assert(r.getLong(1) == 1L && r.getLong(3) == 0L)
  }
}
