package graft.operators

import graft.SparkSpec

class MarketBasketSpec extends SparkSpec {

  import spark.implicits._

  // baskets: {1,2,3}, {1,2}, {1,3}, {2,3}, {1,2}
  private val rows = Seq(
    (100L, 1L), (100L, 2L), (100L, 3L),
    (200L, 1L), (200L, 2L),
    (300L, 1L), (300L, 3L),
    (400L, 2L), (400L, 3L),
    (500L, 1L), (500L, 2L))

  test("support/confidence/lift match the hand-computed contingency") {
    val out = MarketBasket.associationRules(rows.toDF("b", "i"), "b", "i",
      minPairCount = 2L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // n=5 baskets; c1=4, c2=4, c3=3; pairs: (1,2)=3, (1,3)=2, (2,3)=2
    val p12 = out((1L, 2L))
    assert(p12.getLong(2) == 3)
    assert(p12.getAs[Double]("support") == 0.6)      // 3/5
    assert(p12.getAs[Double]("confidence_ab") == 0.75) // 3/4
    assert(p12.getAs[Double]("confidence_ba") == 0.75) // 3/4
    assert(p12.getAs[Double]("lift") == 0.9375)      // 3*5/(4*4)
    val p13 = out((1L, 3L))
    assert(p13.getLong(2) == 2 && p13.getAs[Double]("lift") == 0.833333) // 10/12
  }

  test("duplicate item rows in one basket count once; results partition-stable") {
    val dup = rows ++ Seq((100L, 1L), (100L, 1L))
    val a = MarketBasket.associationRules(dup.toDF("b", "i"), "b", "i",
      minPairCount = 2L, topK = 10).orderBy("rank").collect().toSeq
    val b = MarketBasket.associationRules(rows.toDF("b", "i").repartition(7),
      "b", "i", minPairCount = 2L, topK = 10).orderBy("rank").collect().toSeq
    assert(a == b)
  }

  test("guards: empty input and bad parameters fail loudly") {
    val empty = Seq.empty[(Long, Long)].toDF("b", "i")
    assertThrows[IllegalArgumentException] {
      MarketBasket.associationRules(empty, "b", "i")
    }
    val one = Seq((1L, 1L)).toDF("b", "i")
    assertThrows[IllegalArgumentException] {
      MarketBasket.associationRules(one, "b", "i", minPairCount = 0L)
    }
  }
}
