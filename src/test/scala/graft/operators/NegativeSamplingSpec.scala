package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NegativeSamplingSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog ate the bone"),
    (3L, "a cat and a dog"),
    (4L, "the the the unique"),
    (5L, "bone mat cat the"))
    .toDF("doc_id", "text")

  test("k draws per document, every draw maps into its cumulative range") {
    val out = Vocabulary.negativeSamples(docs, "text", "doc_id", k = 7)
      .collect()
    assert(out.length == 5 * 7)

    // replay the mapping on the driver: vocab ordered by (cnt DESC, token)
    val vocab = docs.as[(Long, String)].collect()
      .flatMap(_._2.toLowerCase.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }
    val total = vocab.map(_._2).sum
    val cum = vocab.scanLeft(("", 0L, 0L)) { case ((_, _, hi), (t, c)) =>
      (t, hi, hi + c)
    }.drop(1)
    out.foreach { r =>
      val draw = r.getAs[Long]("draw")
      val token = r.getAs[String]("token")
      assert(draw >= 0 && draw < total)
      val (expected, _, _) = cum.find { case (_, lo, hi) => draw >= lo && draw < hi }.get
      assert(token == expected, s"draw $draw mapped to $token, expected $expected")
    }
  }

  test("deterministic and partition-invariant") {
    def run(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val r = Vocabulary.negativeSamples(df, "text", "doc_id", k = 3)
        .orderBy("doc_id", "neg_idx").collect().map(_.toString).toSeq
      r
    }
    val a = run(docs)
    val b = run(docs.repartition(7))
    assert(a == b && a.nonEmpty)
  }

  test("draws follow the unigram weights: 'the' dominates a large sample") {
    val out = Vocabulary.negativeSamples(
      docs.withColumn("doc_id", explode(sequence(col("doc_id") * 1000,
        col("doc_id") * 1000 + 199))),
      "text", "doc_id", k = 1)
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 'the' holds 8/24 of the cumulative space; 1000 deterministic draws
    // should land hundreds there and dwarf any singleton token
    assert(out("the") > 200, s"'the' drew only ${out("the")} of 1000")
    assert(out("the") > out.getOrElse("unique", 0L) * 3)
  }

  test("empty corpus fails loudly") {
    intercept[IllegalArgumentException] {
      Vocabulary.negativeSamples(
        docs.where(lit(false)), "text", "doc_id", k = 2).count()
    }
  }
}
