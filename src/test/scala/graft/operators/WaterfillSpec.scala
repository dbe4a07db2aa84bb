package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** weightedTokenWaterfill contracts: the hand-computed redistribution
  * case, budget exactness under the largest-remainder rule, the all-
  * uncapped regime, partitioning independence, and the loud weight-LCM
  * guard. */
class WaterfillSpec extends SparkSpec {
  import spark.implicits._

  private def rows(specs: (String, Long, Long)*) =
    specs.flatMap { case (g, total, w) =>
      // split each source's mass into two rows so the group-by aggregates
      Seq((g, total - total / 2, w), (g, total / 2, w))
    }.toDF("src", "sz", "w")

  test("hand case: capped source's shortfall redistributes in proportion") {
    // a=(10,100,100), w=(1,1,2), B = 50% of 210 = 105.
    // ratio order: s1 (10/1), s3 (100/2), s2 (100/1); s1 caps at 10;
    // R=95 over W=3 → s3: 63 frac 1, s2: 31 frac 2 → leftover 1 → s2.
    val out = MixtureSampling.weightedTokenWaterfill(
      rows(("s1", 10L, 1L), ("s2", 100L, 1L), ("s3", 100L, 2L)),
      col("src"), col("sz"), col("w"), budgetPpm = 500000, weightLcm = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out("s1") == (10L, 1000000L), "capped source takes all, util 100%")
    assert(out("s2") == (32L, 320000L))
    assert(out("s3") == (63L, 630000L))
  }

  test("allocation sums EXACTLY to the budget; all-uncapped stays proportional") {
    val df = rows(("a", 1000L, 10L), ("b", 1000L, 20L), ("c", 1000L, 30L),
      ("d", 1000L, 40L))
    val out = MixtureSampling.weightedTokenWaterfill(
      df, col("src"), col("sz"), col("w"), budgetPpm = 333333, weightLcm = 120)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // B = floor(4000 * 0.333333) = 1333; nobody caps (max share 533 < 1000)
    assert(out.values.sum == 1333L, s"must sum to the budget, got $out")
    assert(out("d") > out("c") && out("c") > out("b") && out("b") > out("a"))
    // proportionality up to the ±1 largest-remainder correction
    assert(math.abs(out("d") - 2 * out("b")) <= 2)
  }

  test("partitioning-independent") {
    val df = rows(("a", 77L, 3L), ("b", 500L, 6L), ("c", 123L, 2L),
      ("d", 9L, 1L))
    def run(parts: Int) = MixtureSampling.weightedTokenWaterfill(
      df.repartition(parts), col("src"), col("sz"), col("w"),
      budgetPpm = 700000, weightLcm = 6)
      .orderBy("grp").collect().toSeq
    assert(run(1) == run(13))
  }

  test("quantileNormalize: hand case — both groups land on pooled order statistics") {
    // pooled sorted: 1,2,3,4,100,200 (N=6)
    // group a (n=4): ranks→positions ⌈r·6/4⌉ = 2,3,5,6 → 2,3,100,200
    // group b (n=2): positions 3,6 → 3,200
    val df = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L), ("a", 4L, 4L),
      ("b", 100L, 5L), ("b", 200L, 6L)).toDF("g", "s", "id")
    val out = SignalFusion.quantileNormalize(df, col("g"), col("s"), col("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 2L, 2L -> 3L, 3L -> 100L, 4L -> 200L,
      5L -> 3L, 6L -> 200L))
  }

  test("quantileNormalize: a group spanning the corpus maps to itself; " +
    "partitioning-independent") {
    val df = (1L to 40L).map(i => ("only", i * 7 % 41, i)).toDF("g", "s", "id")
    val a = SignalFusion.quantileNormalize(df, col("g"), col("s"), col("id"))
      .orderBy("id").collect().toSeq
    assert(a.forall(r => r.getLong(2) == r.getLong(3)),
      "single-group normalization is the identity")
    val b = SignalFusion.quantileNormalize(df.repartition(13),
      col("g"), col("s"), col("id")).orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("randomized invariants: budget-exact, cap-respecting, proportional within one unit") {
    val rnd = new scala.util.Random(42)
    val lcm = 2520L // divisible by 1..10
    (1 to 6).foreach { trial =>
      val nSrc = 2 + rnd.nextInt(11)
      val specs = (0 until nSrc).map(i =>
        (f"s$i%02d", 1L + rnd.nextInt(5000).toLong, 1L + rnd.nextInt(10).toLong))
      val ppm = 1 + rnd.nextInt(999999)
      val df = rows(specs: _*)
      val out = MixtureSampling.weightedTokenWaterfill(df, col("src"),
        col("sz"), col("w"), budgetPpm = ppm, weightLcm = lcm)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val total = specs.map(_._2).sum
      val budget = total * ppm / 1000000L
      assert(out.values.map(_._3).sum == budget,
        s"trial $trial: allocations must sum to the budget")
      out.foreach { case (g, (a, _, alloc)) =>
        assert(alloc >= 0 && alloc <= a, s"trial $trial/$g: 0 <= alloc <= avail")
      }
      // uncapped sources stay proportional within one largest-remainder
      // unit: |alloc·W − R·w| <= W for every uncapped source
      val capped = out.filter { case (_, (a, _, alloc)) => alloc == a }.keySet
      val unc = out.view.filterKeys(!capped.contains(_)).toMap
      if (unc.nonEmpty) {
        val wUnc = unc.values.map(_._2).sum
        val r = budget - out.view.filterKeys(capped).values.map(_._3).sum
        unc.foreach { case (g, (_, w, alloc)) =>
          assert(math.abs(alloc * wUnc - r * w) <= wUnc,
            s"trial $trial/$g: proportionality within one unit")
        }
      }
    }
  }

  test("a weight that does not divide the LCM fails loudly, from the plan") {
    val df = rows(("a", 10L, 3L), ("b", 10L, 7L))
    val ex = intercept[Exception] {
      MixtureSampling.weightedTokenWaterfill(
        df, col("src"), col("sz"), col("w"), budgetPpm = 500000,
        weightLcm = 6).collect()
    }
    assert(ex.getMessage != null)
    assertThrows[IllegalArgumentException] {
      MixtureSampling.weightedTokenWaterfill(
        df, col("src"), col("sz"), col("w"), budgetPpm = 1000000,
        weightLcm = 6)
    }
  }
}
