package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** ksTest / twoProportionZ / permutationTest — verified against direct
  * in-memory references (the permutation reference recomputes the md5
  * sign draws with JVM MessageDigest). */
class HypothesisTestsSpec extends SparkSpec {
  import spark.implicits._

  private def refKsD(xs: Seq[(Long, Boolean)]): Option[(Long, Double)] = {
    val a = xs.filter(_._2).map(_._1); val b = xs.filterNot(_._2).map(_._1)
    val n1 = a.size.toLong; val n2 = b.size.toLong
    if (n1 == 0 || n2 == 0) return None
    val vals = xs.map(_._1).distinct.sorted
    val maxd = vals.map { v =>
      (BigInt(n2) * a.count(_ <= v) - BigInt(n1) * b.count(_ <= v)).abs
    }.max
    val dPpm = (BigInt(1000000) * maxd / (BigInt(n1) * n2)).toLong
    val d = maxd.toDouble / (n1.toDouble * n2.toDouble)
    Some((dPpm, d * math.sqrt(n1.toDouble * n2.toDouble / (n1 + n2).toDouble)))
  }

  test("ksTest matches the brute-force ECDF reference") {
    val cases = Seq(
      (1L to 20L).map(i => (i, i % 2 == 0)),                     // interleaved
      (1L to 30L).map(i => (i, i <= 15L)),                       // disjoint
      Seq((5L, true), (5L, false), (5L, true), (7L, false)),     // ties
      (1L to 25L).map(i => ((i * 13) % 9, i % 3 == 0)))          // clumped
    for (c <- cases) {
      val r = Evaluation.ksTest(c.toDF("v", "a"), col("v"), col("a"),
        roundTo = 8).collect().head
      val Some((dPpm, stat)) = refKsD(c)
      assert(r.getLong(2) == dPpm, s"$c: d_ppm ${r.getLong(2)} vs $dPpm")
      assert(math.abs(r.getDouble(3) - stat) < 1e-7, s"$c")
    }
  }

  test("ksTest: identical samples give D = 0; one empty cohort gives null") {
    val same = (1L to 10L).flatMap(i => Seq((i, true), (i, false)))
    val r = Evaluation.ksTest(same.toDF("v", "a"), col("v"), col("a"))
      .collect().head
    assert(r.getLong(2) == 0L && r.getDouble(3) == 0.0)
    val solo = (1L to 5L).map(i => (i, true))
    val r2 = Evaluation.ksTest(solo.toDF("v", "a"), col("v"), col("a"))
      .collect().head
    assert(r2.isNullAt(2) && r2.isNullAt(3))
  }

  private def refW1Ppm(xs: Seq[(Long, Boolean)]): Option[Long] = {
    val a = xs.filter(_._2).map(_._1); val b = xs.filterNot(_._2).map(_._1)
    val n1 = a.size.toLong; val n2 = b.size.toLong
    if (n1 == 0 || n2 == 0) return None
    val vals = xs.map(_._1).distinct.sorted
    val num = vals.zip(vals.drop(1)).map { case (v, nv) =>
      (BigInt(n2) * a.count(_ <= v) - BigInt(n1) * b.count(_ <= v)).abs *
        (nv - v)
    }.sum
    Some((BigInt(1000000) * num / (BigInt(n1) * n2)).toLong)
  }

  test("wasserstein1 matches the brute-force integrated-ECDF reference") {
    val cases = Seq(
      (1L to 20L).map(i => (i, i % 2 == 0)),
      (1L to 30L).map(i => (i, i <= 15L)),                  // disjoint: big W1
      Seq((5L, true), (5L, false), (5L, true), (7L, false)),
      (1L to 25L).map(i => ((i * 13) % 9, i % 3 == 0)),
      (1L to 16L).map(i => (i * 100L, i % 4 == 0)))          // wide gaps
    for (c <- cases) {
      val r = Evaluation.wasserstein1(c.toDF("v", "a"), col("v"), col("a"))
        .collect().head
      assert(r.getLong(2) == refW1Ppm(c).get, s"$c: got ${r.getLong(2)}")
    }
  }

  test("wasserstein1: identical cohorts give 0; shifted cohorts give the shift") {
    val same = (1L to 10L).flatMap(i => Seq((i, true), (i, false)))
    val r = Evaluation.wasserstein1(same.toDF("v", "a"), col("v"), col("a"))
      .collect().head
    assert(r.getLong(2) == 0L)
    // cohort B = cohort A + 7 exactly → W1 = 7
    val shifted = (1L to 10L).map(i => (i, true)) ++
      (1L to 10L).map(i => (i + 7L, false))
    val r2 = Evaluation.wasserstein1(shifted.toDF("v", "a"), col("v"), col("a"))
      .collect().head
    assert(r2.getLong(2) == 7000000L)
  }

  test("twoProportionZ: counts, ppm rates, and the pooled z") {
    // A: 30 of 100; B: 20 of 100
    val rows = Seq.tabulate(200) { i =>
      val a = i < 100
      (a, if (a) i < 30 else i < 120)
    }
    val r = Evaluation.twoProportionZ(rows.toDF("a", "s"), col("a"), col("s"),
      roundTo = 8).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((100L, 30L, 100L, 20L)))
    assert(r.getLong(4) == 300000L && r.getLong(5) == 200000L)
    val p = 50.0 / 200.0
    val expZ = (0.30 - 0.20) / math.sqrt(p * (1 - p) * (1.0 / 100 + 1.0 / 100))
    assert(math.abs(r.getDouble(6) - expZ) < 1e-7)
  }

  test("twoProportionZ: degenerate all-success / all-failure give null z") {
    val allS = Seq((true, true), (false, true))
    val r1 = Evaluation.twoProportionZ(allS.toDF("a", "s"), col("a"), col("s"))
      .collect().head
    assert(r1.isNullAt(6))
    val noneS = Seq((true, false), (false, false))
    val r2 = Evaluation.twoProportionZ(noneS.toDF("a", "s"), col("a"), col("s"))
      .collect().head
    assert(r2.isNullAt(6))
  }

  private def md5SignNeg(b: Int, k: String): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"perm:$b:$k".getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString
    "0123456789abcdef".indexOf(hex.charAt(31)) % 2 == 1
  }

  test("permutationTest matches the md5-replayed reference") {
    val data = (1L to 40L).map(i => (i.toString, (i % 7) - 2))
    val B = 16
    val r = Evaluation.permutationTest(data.toDF("k", "d"), col("k"), col("d"),
      replicates = B).collect().head
    val tObs = data.map(_._2).sum
    val tb = (1 to B).map { b =>
      data.map { case (k, d) => if (md5SignNeg(b, k)) -d else d }.sum
    }
    val nExtreme = tb.count(t => math.abs(t) >= math.abs(tObs)).toLong
    assert(r.getLong(0) == 40L && r.getLong(1) == tObs)
    assert(r.getLong(2) == nExtreme, s"got ${r.getLong(2)} want $nExtreme")
    assert(r.getLong(3) == 1000000L * (nExtreme + 1) / (B + 1))
  }

  test("permutationTest: a strong one-sided effect is never beaten") {
    val data = (1L to 60L).map(i => (i.toString, 5L + i % 2))
    val r = Evaluation.permutationTest(data.toDF("k", "d"), col("k"), col("d"),
      replicates = 64).collect().head
    assert(r.getLong(2) == 0L)             // no replicate reaches |T_obs|
    assert(r.getLong(3) == 1000000L / 65L) // the permutation floor 1/(B+1)
  }

  test("permutationTest: empty input yields n=0 with null p") {
    val r = Evaluation.permutationTest(
      Seq.empty[(String, Long)].toDF("k", "d"), col("k"), col("d"),
      replicates = 8).collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(2) && r.isNullAt(3))
  }
}
