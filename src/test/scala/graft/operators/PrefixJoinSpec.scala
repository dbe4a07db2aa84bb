package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The prefix-filtering principle in practice: prefixJaccardPairs must be
  * EXACT (identical to brute-force all-pairs — no recall parameter), while
  * generating candidates only from the df-ordered prefixes. */
class PrefixJoinSpec extends SparkSpec {
  import spark.implicits._

  private def bruteForce(df: org.apache.spark.sql.DataFrame, t: Double) = {
    val sets = df.select(col("id"),
      array_sort(array_distinct(filter(
        split(lower(trim(col("text"))), "\\s+"), x => x =!= "")))
        .as("ws"))
    val a = sets.select(col("id").as("id_a"), col("ws").as("wa"))
    val b = sets.select(col("id").as("id_b"), col("ws").as("wb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("c", size(array_intersect(col("wa"), col("wb"))))
      .withColumn("j", col("c").cast("double") /
        (size(col("wa")) + size(col("wb")) - col("c")).cast("double"))
      .where(col("j") >= t)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("j"))
      .collect().map(_.toString).sorted.toSeq
  }

  test("prefix-filtered join equals brute-force all-pairs at several thresholds") {
    // clusters of near-identical token sets + noise rows, word-level
    // (shingleSize=1) so the brute-force reference stays simple
    val rnd = new scala.util.Random(5)
    val base = Seq("alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine ten")
    val rows = (0L until 120L).map { i =>
      val b = base((i % 2).toInt).split(" ")
      val kept = b.filter(_ => rnd.nextDouble() > 0.15)
      val extra = if (rnd.nextBoolean()) Seq(s"tok${rnd.nextInt(30)}") else Nil
      (i, (kept ++ extra).mkString(" "))
    }
    val df = rows.toDF("id", "text")
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val got = Dedup.prefixJaccardPairs(df, "text", "id", threshold = t,
        shingleSize = 1)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
        .collect().map(_.toString).sorted.toSeq
      val expect = bruteForce(df, t)
      assert(got == expect, s"t=$t: ${got.size} vs ${expect.size} pairs")
      assert(expect.nonEmpty || t > 0.8, s"fixture produced no pairs at t=$t")
    }
  }

  test("empty and sub-shingle documents are handled; determinism across layouts") {
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, ""),
      (4L, "x y"), (5L, "a b c d e f h")).toDF("id", "text")
    val a = Dedup.prefixJaccardPairs(df.repartition(1), "text", "id", 0.5, 3)
      .collect().map(_.toString).sorted.toSeq
    val b = Dedup.prefixJaccardPairs(df.repartition(7), "text", "id", 0.5, 3)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    // docs 1 and 2 are identical (jaccard 1.0); doc 5 shares 4 of 6
    // distinct shingles with them (4/(5+5-4) = 0.666... ≥ 0.5)
    assert(a.size == 3, a.mkString(";"))
  }

  private def bruteContainment(df: org.apache.spark.sql.DataFrame, t: Double) = {
    val sets = df.select(col("id"),
      array_sort(array_distinct(filter(
        split(lower(trim(col("text"))), "\\s+"), x => x =!= "")))
        .as("ws"))
      .where(size(col("ws")) > 0)
    val a = sets.select(col("id").as("id_a"), col("ws").as("wa"))
    val b = sets.select(col("id").as("id_b"), col("ws").as("wb"))
    a.crossJoin(b).where(col("id_a") =!= col("id_b"))
      .withColumn("c", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .where(col("c").cast("double") / size(col("wa")).cast("double") >= t)
      .select(col("id_a"), col("id_b"),
        expr("CAST((c * 1000000) DIV size(wa) AS BIGINT)").as("ppm"))
      .collect().map(_.toString).sorted.toSeq
  }

  test("containment join equals brute-force ordered all-pairs at several thresholds") {
    val rnd = new scala.util.Random(11)
    val base = Seq("alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine ten")
    val rows = (0L until 120L).map { i =>
      val b = base((i % 2).toInt).split(" ")
      val kept = b.filter(_ => rnd.nextDouble() > 0.25)
      val extra = if (rnd.nextBoolean()) Seq(s"tok${rnd.nextInt(30)}") else Nil
      (i, (kept ++ extra).mkString(" "))
    }
    val df = rows.toDF("id", "text")
    for (t <- Seq(0.6, 0.8, 1.0)) {
      val got = Dedup.containmentPairs(df, "text", "id", threshold = t,
        shingleSize = 1)
        .select(col("id_a"), col("id_b"), col("containment_ppm").as("ppm"))
        .collect().map(_.toString).sorted.toSeq
      val expect = bruteContainment(df, t)
      assert(got == expect, s"t=$t: ${got.size} vs ${expect.size} pairs")
      assert(expect.nonEmpty, s"fixture produced no pairs at t=$t")
    }
  }

  test("containment flags a quote inside a long doc that Jaccard misses") {
    val quote = "the quick brown fox jumps over the lazy dog tonight again"
    val long = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 3 + quote
    val df = Seq((1L, quote), (2L, long), (3L, "unrelated words entirely here"))
      .toDF("id", "text")
    val cont = Dedup.containmentPairs(df, "text", "id", 0.9, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont.contains((1L, 2L)), s"quote→long containment missing: $cont")
    assert(!cont.contains((2L, 1L)), "long doc is NOT contained in the quote")
    val jac = Dedup.prefixJaccardPairs(df, "text", "id", 0.5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)),
      "fixture broken: symmetric Jaccard should miss the quote pair")
  }
}
