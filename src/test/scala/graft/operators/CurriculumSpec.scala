package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurriculumSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int) = {
    val rng = new scala.util.Random(42)
    (0 until n).map(i => (i.toLong, rng.nextInt(50).toLong))
      .toDF("doc_id", "difficulty")
  }

  test("closed-form buckets equal SQL NTILE for uneven row counts") {
    for (n <- Seq(57, 100, 9); k <- Seq(10, 7)) {
      val d = docs(n)
      val got = Curriculum.difficultyBuckets(d, "difficulty", "doc_id", k)
        .select("doc_id", "bucket")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = d.withColumn("bucket",
        ntile(k).over(Window.orderBy(col("difficulty"), col("doc_id"))).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == ref, s"n=$n k=$k")
    }
  }

  test("fewer rows than buckets: one row per leading bucket") {
    val d = Seq((1L, 5L), (2L, 3L), (3L, 9L)).toDF("doc_id", "difficulty")
    val got = Curriculum.difficultyBuckets(d, "difficulty", "doc_id", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(2L -> 1L, 1L -> 2L, 3L -> 3L), got.toString)
  }

  test("bucket summary: sizes differ by at most one, ranges ascend") {
    val sums = Curriculum.bucketSummary(docs(103), "difficulty", "doc_id", 10)
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sums.map(_._1).toSeq == (1L to 10L))
    assert(sums.map(_._2).sum == 103L)
    assert(sums.map(_._2).max - sums.map(_._2).min <= 1)
    // difficulty ranges are non-decreasing across buckets
    sums.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3 || a._4 <= b._4, s"range inversion: $a then $b")
    }
  }

  test("reserved output column is guarded") {
    val bad = docs(5).withColumn("bucket", lit(1))
    intercept[IllegalArgumentException] {
      Curriculum.difficultyBuckets(bad, "difficulty", "doc_id", 4)
    }
  }
}
