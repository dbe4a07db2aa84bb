package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** wilcoxonSignedRank must implement the exact midrank signed-rank
  * statistic (doubled-rank integers) and the tie-corrected z — verified
  * against a direct in-memory reference. */
class WilcoxonSpec extends SparkSpec {
  import spark.implicits._

  private def reference(pairs: Seq[(Long, Long)]): (Long, Long, Long, Option[Double]) = {
    val ds = pairs.map(p => p._1 - p._2).filter(_ != 0L)
    val n = ds.size.toLong
    val byMag = ds.groupBy(math.abs).toSeq.sortBy(_._1)
    var below = 0L; var w2p = 0L; var w2m = 0L; var ties3 = BigInt(0)
    for ((_, g) <- byMag) {
      val t = g.size.toLong
      val r2 = 2 * below + t + 1
      val tp = g.count(_ > 0).toLong
      w2p += tp * r2; w2m += (t - tp) * r2
      ties3 += BigInt(t) * t * t - t
      below += t
    }
    val z = if (n < 1) None else Some {
      val a = (BigInt(2) * w2p - BigInt(n) * (n + 1)).toDouble / 4.0
      val b = (BigInt(2) * n * (n + 1) * (2 * n + 1) - ties3).toDouble / 48.0
      BigDecimal(a / math.sqrt(b)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (n, w2p, w2m, z)
  }

  private def run(pairs: Seq[(Long, Long)]): (Long, Long, Long, Option[Double]) = {
    val r = Evaluation.wilcoxonSignedRank(pairs.toDF("a", "b"), col("a"), col("b"))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))
  }

  test("textbook case, ties, zero-diffs dropped — all match the reference") {
    val cases = Seq(
      // classic: distinct magnitudes, mixed signs
      Seq((10L, 7L), (5L, 9L), (8L, 2L), (4L, 4L), (6L, 5L)),
      // heavy ties: same |d| both signs
      Seq((3L, 1L), (1L, 3L), (5L, 3L), (3L, 5L), (9L, 7L), (7L, 9L)),
      // all positive
      Seq((2L, 1L), (4L, 1L), (8L, 1L)),
      // everything cancels (all zero diffs)
      Seq((5L, 5L), (7L, 7L)))
    for (c <- cases) {
      val got = run(c); val exp = reference(c)
      (got._4, exp._4) match {
        case (Some(g), Some(e)) =>
          assert(got._1 == exp._1 && got._2 == exp._2 && got._3 == exp._3)
          assert(math.abs(g - e) < 1e-9, s"$c: z $g vs $e")
        case (a, b) => assert(a == b && got.copy(_4 = None) == exp.copy(_4 = None), s"$c")
      }
    }
  }

  test("antisymmetry: swapping the pair flips w2_plus/w2_minus and negates z") {
    val c = Seq((10L, 7L), (5L, 9L), (8L, 2L), (6L, 5L), (1L, 4L))
    val fwd = run(c); val rev = run(c.map(_.swap))
    assert(fwd._2 == rev._3 && fwd._3 == rev._2)
    assert(math.abs(fwd._4.get + rev._4.get) < 1e-9)
  }

  test("symmetric data gives |z| near 0; one-sided data gives large |z|") {
    val sym = (1L to 40L).map(i => if (i % 2 == 0) (i + 3, i) else (i, i + 3))
    assert(math.abs(run(sym)._4.get) < 0.5)
    val oneSided = (1L to 40L).map(i => (i + i % 7 + 1, i))
    assert(run(oneSided)._4.get > 4.0)
  }
}
