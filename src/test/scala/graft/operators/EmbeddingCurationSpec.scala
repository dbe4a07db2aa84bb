package graft.operators

import org.apache.spark.sql.Row

import graft.SparkSpec

/** TrainingDataPipeline.curateEmbeddings — the composed embedding funnel. */
class EmbeddingCurationSpec extends SparkSpec {
  import spark.implicits._

  test("planted outlier is trimmed, near-duplicates collapse to one representative") {
    // 1-dim: label 1 holds three positive (mutually cosine-1) vectors and
    // one negative outlier (cosine −1 to the centroid). Label 2's vector
    // is ALSO cosine-1 to them — dedup is deliberately label-agnostic
    // (a near-duplicate across labels is still a near-duplicate), so it
    // collapses into the same cluster and the min-id representative wins.
    val df = Seq(
      (1L, Array(1.0f), 1), (2L, Array(1.0f), 1), (3L, Array(1.2f), 1),
      (4L, Array(-1.0f), 1),
      (10L, Array(2.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = TrainingDataPipeline.curateEmbeddings(df,
      "vec_id", "embedding", "label",
      minCosCentroid = 0.0, dupThreshold = 0.9, nCells = 1, passes = 1)
      .orderBy("label").collect().toSeq
    assert(out == Seq(Row(1, 4L, 3L, 1L), Row(2, 1L, 1L, 0L)), out.toString)
  }

  test("funnel is monotone per label on the real fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = TrainingDataPipeline.curateEmbeddings(emb,
      "vec_id", "embedding", "label").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (t, a, b) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(t >= a && a >= b && b >= 0, r.toString)
    }
  }
}
