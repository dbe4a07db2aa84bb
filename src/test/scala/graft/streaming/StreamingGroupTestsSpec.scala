package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.Evaluation

object StreamingGroupTestsSpec {
  final case class Obs(v: Long, g: String)
}

/** Batch-vs-stream parity for the k-group tests: the running per-group
  * stats / cell counts + the shared finishes equal the batch ANOVA and
  * Kruskal–Wallis over the prefix after EVERY micro-batch, including a
  * group that first appears mid-stream and late values into seen cells. */
class StreamingGroupTestsSpec extends SparkSpec {
  import StreamingGroupTestsSpec.Obs

  test("running group stats + shared finishes equal batch ANOVA and KW " +
    "after every batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val batches = Seq(
      Seq(Obs(1, "a"), Obs(2, "a"), Obs(4, "b")),
      // new group c appears; a late duplicate value lands in (1, a)
      Seq(Obs(6, "c"), Obs(1, "a"), Obs(5, "b")),
      Seq(Obs(7, "c"), Obs(3, "a"), Obs(2, "b")))

    val input = MemoryStream[Obs]
    val anova = StreamingGroupTests.anovaStats(
      input.toDF(), col("v"), col("g"))
    val cells = StreamingGroupTests.rankCells(
      input.toDF(), col("v"), col("g"))
    val nameA = s"anova_${System.nanoTime()}"
    val nameK = s"kw_${System.nanoTime()}"
    val qA = anova.writeStream.format("memory").queryName(nameA)
      .outputMode(OutputMode.Complete()).start()
    val qK = cells.writeStream.format("memory").queryName(nameK)
      .outputMode(OutputMode.Complete()).start()
    try {
      var prefix = Seq.empty[Obs]
      batches.foreach { b =>
        input.addData(b: _*)
        qA.processAllAvailable(); qK.processAllAvailable()
        prefix = prefix ++ b
        val df = prefix.toDF()
        def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
          d.collect().map(_.toString).toSeq
        assert(rows(Evaluation.finishAnova(spark.table(nameA))) ==
          rows(Evaluation.anovaF(df, col("v"), col("g"))),
          s"anova diverged after ${prefix.size} rows")
        val kwBatch = rows(Evaluation.kruskalWallis(df, col("v"), col("g")))
        assert(rows(Evaluation.finishKruskalWallis(
          spark.table(nameK).localCheckpoint())) == kwBatch,
          s"kruskal–wallis diverged after ${prefix.size} rows")
      }
    } finally { qA.stop(); qK.stop() }
  }
}
