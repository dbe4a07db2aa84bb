package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.NgramLm

/** The LM-scoring serving shape on a stream: fit the bigram model ONCE on a
  * reference corpus (batch), then score each incoming micro-batch against
  * the static count tables inside foreachBatch. The per-document
  * explode+aggregate stays a plain batch aggregation scoped to the
  * micro-batch — no global streaming state, no watermark needed — which is
  * exactly how a score-as-it-lands intake leg would run it. */
class StreamingLmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches score against the pre-fit model, identical to batch scoring") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the dog sat on the mat")
    ).toDF("doc_id", "text")
    val model = NgramLm.fit(corpus, "text", "doc_id")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.Map[Long, (Double, Long)]()
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        NgramLm.score(batch, "text", "doc_id", model)
          .collect()
          .foreach(r => collected.synchronized {
            collected(r.getLong(0)) = (r.getDouble(1), r.getLong(2))
          })
      }
      .start()
    try {
      input.addData((10L, "the cat sat on the rug"))
      query.processAllAvailable()
      input.addData((11L, "purple quantum dishwasher halberd"), (12L, "solo"))
      query.processAllAvailable()
    } finally query.stop()

    // identical to scoring the same docs in one batch call
    val batchScores = NgramLm.score(
      Seq((10L, "the cat sat on the rug"), (11L, "purple quantum dishwasher halberd"),
        (12L, "solo")).toDF("doc_id", "text"),
      "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap

    assert(collected.toMap == batchScores, s"$collected vs $batchScores")
    assert(collected.contains(10L) && collected.contains(11L))
    assert(!collected.contains(12L)) // 1 token → no bigrams → unscored
    assert(collected(10L)._1 > collected(11L)._1) // in-distribution outranks OOV
  }
}
