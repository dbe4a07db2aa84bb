package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.TextAnalysis

object StreamingTclosenessSpec {
  final case class Rec(grp: String, v: String)
}

/** Batch-vs-stream parity for the x139 t-closeness audit: streaming cell
  * counts + the shared finishing view must equal the batch audit over the
  * prefix after EVERY micro-batch — including a batch that flips a group
  * from safe to risky (a rare value concentrating) and a brand-new
  * sensitive value appearing late (every existing group's absent-mass
  * term moves). */
class StreamingTclosenessSpec extends SparkSpec {
  import StreamingTclosenessSpec.Rec

  test("streaming cells + shared finish view equal batch audit after every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batches = Seq(
      Seq(Rec("a", "x"), Rec("a", "y"), Rec("b", "x")),
      // "b" concentrates on a rare value — its TVD must jump
      Seq(Rec("b", "z"), Rec("b", "z"), Rec("a", "x")),
      // a brand-new value in a NEW group: every absent-mass term shifts
      Seq(Rec("c", "w"), Rec("c", "w"), Rec("a", "x")))

    val input = MemoryStream[Rec]
    val cells = StreamingTcloseness.cellCounts(input.toDF(),
      Seq("grp" -> col("grp")), col("v"))
    val name = s"tclose_${System.nanoTime()}"
    val query = cells.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()

    var prefix = Seq.empty[Rec]
    batches.foreach { b =>
      input.addData(b: _*); query.processAllAvailable()
      prefix = prefix ++ b
      val batch = TextAnalysis.tClosenessAudit(prefix.toDF(),
        Seq("grp" -> col("grp")), col("v"), tPpm = 250000)
        .collect().map(_.toString).sorted.toSeq
      val streamed = TextAnalysis.finishTcloseness(spark.table(name),
        Seq("grp"), tPpm = 250000)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch, s"after ${prefix.size} rows")
    }
    query.stop()
  }
}
