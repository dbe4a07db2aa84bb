package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise association rules over (basket, item) rows — support /
  * confidence / lift, the Agrawal-Srikant market-basket staple (and, in a
  * training-data pipeline, the co-occurrence layer: which sources/tags/
  * shards travel together). Only frequent PAIRS are mined (the 2-itemset
  * level): at web scale the pair level is where co-occurrence signal
  * lives, and it needs no candidate-generation recursion.
  *
  * Scale shape: baskets are deduped to (basket, item), the pair join is a
  * SELF-join on the basket key — both sides the SAME cached projection,
  * so Catalyst reuses one exchange and the join is co-partitioned; pair
  * fanout per basket is (k choose 2) of the BASKET size (bounded by the
  * largest basket, not the catalog), and the minPairCount filter prunes
  * at the first aggregation. All three ratios are exact-integer
  * numerators/denominators divided once at the end — deterministic in
  * any engine (the x108/x112 contract).
  *
  * Output: (item_a, item_b, n_pair, support, confidence_ab,
  * confidence_ba, lift), item_a < item_b, top-`topK` by (lift, item_a,
  * item_b) with lift rounded BEFORE ranking so the cut is reproducible
  * cross-engine. */
object MarketBasket {

  def associationRules(
      df: DataFrame,
      basketCol: String, itemCol: String,
      minPairCount: Long = 3L,
      topK: Int = 100,
      roundTo: Int = 6): DataFrame = {
    require(minPairCount >= 1L, "associationRules: minPairCount >= 1")
    require(topK >= 1, "associationRules: topK >= 1")
    val items = Scope.persist(
      df.select(col(basketCol).cast("long").as("b"), col(itemCol).cast("long").as("it"))
        .distinct())
    val nBaskets = items.select("b").distinct().count()
    require(nBaskets > 0, "associationRules: empty input")

    val itemCounts = items.groupBy("it").agg(count(lit(1)).as("c"))
    val pairs = items.as("a")
      .join(items.as("bb"), col("a.b") === col("bb.b") && col("a.it") < col("bb.it"))
      .groupBy(col("a.it").as("item_a"), col("bb.it").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPairCount)

    val enriched = pairs
      .join(broadcast(itemCounts).withColumnRenamed("it", "item_a")
        .withColumnRenamed("c", "ca"), Seq("item_a"))
      .join(broadcast(itemCounts).withColumnRenamed("it", "item_b")
        .withColumnRenamed("c", "cb"), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        round(col("n_pair") / lit(nBaskets.toDouble), roundTo).as("support"),
        round(col("n_pair") / col("ca"), roundTo).as("confidence_ab"),
        round(col("n_pair") / col("cb"), roundTo).as("confidence_ba"),
        round((col("n_pair") * lit(nBaskets)) / (col("ca") * col("cb")), roundTo)
          .as("lift"))
    // top-K epilogue (the x47/x117 pattern): distributed TakeOrdered FIRST
    // (orderBy+limit → per-partition heaps), then the rank window runs on
    // the ≤ topK-row result — the old global row_number pushed EVERY
    // qualifying pair through one partition. (lift, item_a, item_b) is a
    // total order (pair ids are unique), so "global row_number ≤ K" and
    // "take K by the same order, then number" select and rank identically.
    enriched
      .orderBy(desc("lift"), col("item_a"), col("item_b"))
      .limit(topK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(desc("lift"), col("item_a"), col("item_b")))
        .cast("long"))
  }
}
