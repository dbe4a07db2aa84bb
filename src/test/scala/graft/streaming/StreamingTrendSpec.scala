package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.Seasonal

object StreamingTrendSpec {
  final case class Ev(series: String, ts: Timestamp)
}

/** Batch-vs-stream parity for the trend/periodicity family: ONE running
  * (series × day) count state feeds Mann–Kendall, Theil–Sen, ACF and
  * cross-correlation finishes, each equal to its batch twin after EVERY
  * micro-batch — including late arrivals into already-counted days
  * (which shift pairwise statistics everywhere, so each finish re-reads
  * the whole bounded frame). */
class StreamingTrendSpec extends SparkSpec {
  import StreamingTrendSpec.Ev

  private def ev(series: String, day: String, n: Int): Seq[Ev] =
    (1 to n).map(i =>
      Ev(series, Timestamp.valueOf(s"2024-02-$day 0${i % 9}:00:00")))

  test("one running daily-count state feeds all four trend finishes, " +
    "each matching batch after every micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val batches = Seq(
      ev("a", "01", 2) ++ ev("a", "02", 5) ++ ev("b", "01", 4),
      ev("a", "04", 3) ++ ev("b", "02", 4) ++ ev("b", "03", 1),
      // late arrivals into Feb 1 for both series + a fresh day
      ev("a", "01", 2) ++ ev("b", "01", 1) ++ ev("a", "06", 7))

    val input = MemoryStream[Ev]
    val out = StreamingTrend.dailyCounts(input.toDF(), col("series"), col("ts"))
    val name = s"trend_${System.nanoTime()}"
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    try {
      var prefix = Seq.empty[Ev]
      batches.foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
        prefix = prefix ++ b
        val batchDf = prefix.toDF()
        // snapshot the sink: MemoryPlan is not a MultiInstanceRelation, so
        // the pairwise finishes' self-joins need a dedup-capable leaf
        // (LogicalRDD) — the same materialization a foreachBatch consumer
        // would hand the finishing views
        val state = spark.table(name).localCheckpoint()
        def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.collect().map(_.toString).sorted.toSeq
        assert(rows(Seasonal.finishMannKendall(state)) ==
          rows(Seasonal.mannKendall(batchDf, col("series"), col("ts"))),
          "mann–kendall diverged")
        assert(rows(Seasonal.finishTheilSen(state)) ==
          rows(Seasonal.theilSen(batchDf, col("series"), col("ts"))),
          "theil–sen diverged")
        assert(rows(Seasonal.finishAcf(state, maxLag = 5)) ==
          rows(Seasonal.acf(batchDf, col("series"), col("ts"), maxLag = 5)),
          "acf diverged")
        assert(rows(Seasonal.finishCcf(state, maxLag = 3)) ==
          rows(Seasonal.crossCorrelation(
            batchDf, col("series"), col("ts"), maxLag = 3)),
          "cross-correlation diverged")
        val friedmanBatch =
          rows(Seasonal.friedmanTest(batchDf, col("series"), col("ts")))
        assert(rows(Seasonal.finishFriedman(state)) == friedmanBatch,
          "friedman diverged")
        assert(rows(Seasonal.finishSeasonalStrength(state)) ==
          rows(Seasonal.seasonalStrength(batchDf, col("series"), col("ts"))),
          "seasonal strength diverged")
        assert(rows(Seasonal.finishRunsTest(state)) ==
          rows(Seasonal.runsTest(batchDf, col("series"), col("ts"))),
          "runs test diverged")
        val lbBatch = rows(Seasonal.ljungBox(
          batchDf, col("series"), col("ts"), maxLag = 5))
        assert(rows(Seasonal.finishLjungBox(state, maxLag = 5)) == lbBatch,
          "ljung–box diverged")
      }
    } finally query.stop()
  }
}
