package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.{Chunking, NgramLm, SequencePacking, Sharding, TrainingDataPipeline}
import graft.streaming.StreamingDedup.DocEvent

/** The continuous corpus-prep loop, end to end: intake gates (quality +
  * language) → watermark-bounded exact dedup → LM-score gate scored per
  * micro-batch against a pre-fit model → chunk + pack on the sink — one
  * StructuredStreaming pipeline mirroring the x17 batch funnel, asserted
  * for EXACT funnel parity against TrainingDataPipeline.clean on the same
  * event set.
  *
  * Two deliberate asymmetries, both parity-safe:
  *   - the stream dedups BEFORE the LM gate (batch gates first): identical
  *     text scores identically, so a digest's copies pass or fail together
  *     and the survivor SET is order-independent;
  *   - bin layout from packGreedy is micro-batch-local (greedy packing is
  *     input-partition dependent), so the pinned parity is chunk counts
  *     and the per-bin token invariant, not bin numbering.
  */
class StreamingCorpusPrepSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-06-01 10:$min%02d:00")

  test("streaming intake → dedup → LM gate → chunk/pack equals the batch funnel") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val good1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val good2 = "a completely different document with the usual words and a story about the sea"
    val good3 = "the cat sat on the mat and watched the quick brown fox by the river"
    val oov = "the zorblatt quibbles jumped with the frumious bandersnatch and the vorpal blade today"
    val noise = "@@@ 111 222 $$$ ### 333 %%% +++"
    val es = "el gato está en la casa y no quiere salir por la puerta con el perro"

    val events = Seq(
      DocEvent(1L, good1, ts(0)),
      DocEvent(2L, noise, ts(1)),  // quality gate
      DocEvent(3L, good2, ts(2)),
      DocEvent(4L, es, ts(3)),     // language gate
      DocEvent(5L, oov, ts(4)),    // LM gate
      DocEvent(6L, good3, ts(5)),
      DocEvent(7L, good1, ts(6)),  // exact dup of 1, later micro-batch
      DocEvent(8L, good2, ts(7)))  // exact dup of 3, last micro-batch

    val batchDf = events.toDF().withColumnRenamed("docId", "doc_id")

    // LM threshold from the corpus's own score distribution: midpoint
    // between the OOV doc and the worst in-distribution doc — both engines
    // then gate with the same constant
    val lmScores = NgramLm.bigramLmScore(batchDf, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val goodMin = Seq(1L, 3L, 6L, 7L, 8L).map(lmScores).min
    assert(lmScores(5L) < goodMin, s"fixture broken: oov must score lowest ($lmScores)")
    val minLm = (lmScores(5L) + goodMin) / 2

    // ---- batch reference: the x17 funnel on the same events ----
    val (cleanedBatch, report) = TrainingDataPipeline.clean(
      batchDf.select("doc_id", "text"), minQuality = 0.4, keepLangs = Seq("en"),
      nearDupThreshold = 1.01, // > max jaccard: isolate the streaming-covered stages
      minLmScore = Some(minLm))
    val batchIds = cleanedBatch.select("doc_id").collect().map(_.getLong(0)).toSet
    val batchChunks = Chunking.chunkByTokens(cleanedBatch, "text", "doc_id",
      maxTokens = 8, overlap = 2).count()
    cleanedBatch.unpersist()

    assert(report.input == 8L && report.afterQuality == 7L &&
      report.afterLang == 6L && report.afterLmScore.contains(5L) &&
      report.afterExactDedup == 3L && report.afterNearDedup == 3L,
      s"unexpected batch funnel: $report")
    assert(batchIds == Set(1L, 3L, 6L), batchIds.toString)

    // ---- streaming leg ----
    val model = NgramLm.fit(batchDf, "text", "doc_id")
    val input = MemoryStream[DocEvent]
    val cleaned = StreamingIntake.clean(input.toDF(), "text", "ts",
      minQuality = 0.4, keepLangs = Seq("en"))

    val survivors = scala.collection.mutable.Map[Long, Long]() // id -> tokens
    var chunkTotal = 0L
    var binViolations = 0L
    val query = cleaned.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val pass = NgramLm.score(batch, "text", "docId", model)
            .where(col("lm_score") >= minLm)
            .select(col("docId"))
          val surv = batch.join(pass, Seq("docId")).cache()
          surv.select("docId", "__n_tokens").collect().foreach { r =>
            survivors.synchronized { survivors(r.getLong(0)) = r.getLong(1) }
          }
          val chunks = Chunking.chunkByTokens(surv, "text", "docId",
            maxTokens = 8, overlap = 2)
            .withColumn("chunk_id", col("docId") * 1000 + col("chunk_idx"))
          val packed = SequencePacking.packGreedy(
            chunks.select("chunk_id", "n_tokens"), "chunk_id", "n_tokens",
            contextLen = 16L)
          val stats = packed.groupBy("shard", "bin")
            .agg(sum("n_tokens").as("fill"), count(lit(1)).as("n"))
            .collect()
          chunkTotal += stats.map(_.getAs[Long]("n")).sum
          // greedy invariant: a bin only exceeds contextLen when a single
          // chunk alone is bigger than the context (not possible here:
          // chunks are <= 8 tokens < 16)
          binViolations += stats.count(_.getAs[Long]("fill") > 16L)
          surv.unpersist()
          ()
        }
      }
      .start()
    try {
      input.addData(events(0), events(1), events(2))  // 1, 2(noise), 3
      query.processAllAvailable()
      input.addData(events(3), events(4), events(5), events(6)) // 4(es), 5(oov), 6, 7(dup)
      query.processAllAvailable()
      input.addData(events(7)) // 8 (dup of 3, cross-batch state)
      query.processAllAvailable()
    } finally query.stop()

    // funnel parity: same survivor set, same final counts, same tokens
    assert(survivors.keySet == batchIds,
      s"stream survivors ${survivors.keySet} != batch $batchIds")
    assert(survivors.size.toLong == report.afterNearDedup)
    assert(survivors.values.sum == report.totalTokens,
      s"token totals diverged: stream ${survivors.values.sum} vs batch ${report.totalTokens}")
    // sink-leg parity: identical chunking over the survivors, packed bins
    // never overfill
    assert(chunkTotal == batchChunks, s"chunks: stream $chunkTotal vs batch $batchChunks")
    assert(binViolations == 0L)
  }
}
