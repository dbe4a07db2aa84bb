package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.StreamingDedup.{DocEvent, NearDupCandidate}

class StreamingDedupSpec extends SparkSpec {

  private def ts(min: Int) = Timestamp.valueOf(f"2024-06-01 10:$min%02d:00")

  test("exact streaming dedup keeps first arrival per content digest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val deduped = StreamingDedup.exactWithinWatermark(
      input.toDF(), "text", "ts", watermark = "10 minutes")
    val query = deduped.writeStream.format("memory").queryName("dedup_exact")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      DocEvent(1L, "the quick brown fox", ts(0)),
      DocEvent(2L, "the quick brown fox", ts(1)), // exact dup of 1
      DocEvent(3L, "a different document", ts(1)))
    query.processAllAvailable()
    input.addData(
      DocEvent(4L, "the quick brown fox", ts(2)), // still within watermark
      DocEvent(5L, "yet another one", ts(3)))
    query.processAllAvailable()
    query.stop()

    val kept = spark.table("dedup_exact").select("docId")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("streaming minhash candidates collide near-dups, skip unrelated docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val candidates = StreamingDedup.minhashCandidates(input.toDS())
    val query = candidates.writeStream.format("memory").queryName("dedup_near")
      .outputMode(OutputMode.Append()).start()

    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    input.addData(DocEvent(1L, base, ts(0)))
    query.processAllAvailable()
    input.addData(
      DocEvent(2L, base.replace("today", "tonight"), ts(1)), // near dup of 1
      DocEvent(3L, "completely different text about spark dataframes and shuffles", ts(1)))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("dedup_near").as[NearDupCandidate].collect()
    // doc 2 collides with doc 1 in at least one band; doc 3 with nobody
    assert(out.nonEmpty)
    assert(out.forall(c => c.docId == 2L && c.earlierDocId == 1L), out.mkString(","))

    // streaming candidates agree with the batch operator on the same corpus
    val batch = graft.operators.Dedup.minhashNearDuplicates(
      Seq((1L, base), (2L, base.replace("today", "tonight")),
        (3L, "completely different text about spark dataframes and shuffles"))
        .toDF("doc_id", "text"),
      "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((1L, 2L)))
  }

  test("a late-only micro-batch for a group does not kill the query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    // The late doc (10:00) would compute maxTs + TTL = 10:10, BELOW the
    // 10:55 watermark — a timeout Spark rejects. Empirically (verified both
    // ways during the round-3 fix) Spark 4.1 filters the late row before the
    // state function, and the timeout clamp guards the remaining boundary
    // cases (ts == watermark with tiny TTL). Either way the query must
    // survive, the late row must NOT pair, and the bucket state must remain
    // usable by later on-time arrivals.
    val candidates = StreamingDedup.minhashCandidates(
      input.toDS(), watermark = "5 minutes", stateTtlMs = 10 * 60 * 1000L)
    val query = candidates.writeStream.format("memory").queryName("dedup_late")
      .outputMode(OutputMode.Append()).start()

    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    input.addData(DocEvent(1L, base, ts(50)))
    query.processAllAvailable()
    // push the watermark to 10:55
    input.addData(DocEvent(9L, "something else entirely to push the clock",
      Timestamp.valueOf("2024-06-01 11:00:00")))
    query.processAllAvailable()
    // late-only batch: event time 10:00 is far below the watermark
    input.addData(DocEvent(2L, base.replace("today", "tonight"), ts(0)))
    query.processAllAvailable()
    assert(query.exception.isEmpty, query.exception.toString)
    // an on-time near-dup still pairs against the surviving bucket state
    input.addData(DocEvent(3L, base.replace("today", "this morning"), ts(58)))
    query.processAllAvailable()
    assert(query.exception.isEmpty, query.exception.toString)
    query.stop()

    val out = spark.table("dedup_late").as[NearDupCandidate].collect()
    assert(!out.exists(_.docId == 2L), out.mkString(",")) // late row dropped
    assert(out.exists(c => c.docId == 3L && c.earlierDocId == 1L), out.mkString(","))
  }
}
