package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.Seasonal

object StreamingSeasonalSpec {
  final case class Ev(series: String, ts: Timestamp)
}

/** Batch-vs-stream parity for the x121 seasonal monitor: streaming daily
  * counts + the shared finishing view must equal the batch report over
  * the prefix after EVERY micro-batch — including late arrivals into an
  * already-counted day (which can move that weekday's median and
  * re-flag a different day). */
class StreamingSeasonalSpec extends SparkSpec {
  import StreamingSeasonalSpec.Ev

  private def ev(day: String, n: Int): Seq[Ev] =
    (1 to n).map(i => Ev("a", Timestamp.valueOf(s"2024-01-$day 0$i:00:00")))

  test("streaming daily counts + shared finish view equal batch report after every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batches = Seq(
      ev("01", 2) ++ ev("08", 2),
      ev("15", 8) ++ ev("02", 3),
      // late arrivals into Jan 1 (moves the Monday median) + a new day
      ev("01", 5) ++ ev("09", 3))

    val input = MemoryStream[Ev]
    val out = StreamingSeasonal.dailyCounts(input.toDF(), col("series"), col("ts"))
    val name = s"seasonal_${System.nanoTime()}"
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()

    var prefix = Seq.empty[Ev]
    batches.foreach { b =>
      input.addData(b: _*); query.processAllAvailable()
      prefix = prefix ++ b
      val batch = Seasonal.weekdayAnomalies(
        prefix.toDF(), col("series"), col("ts"))
        .collect().map(_.toString).sorted.toSeq
      val streamed = Seasonal.finishWeekdayAnomalies(spark.table(name))
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch, s"after ${prefix.size} rows")
      // the SAME running state feeds the CUSUM monitor — both finishing
      // views must agree with their batch twins on every prefix
      val batchCusum = Seasonal.cusumChangepoints(
        prefix.toDF(), col("series"), col("ts"), h = 3)
        .collect().map(_.toString).sorted.toSeq
      val streamedCusum = Seasonal.finishCusum(spark.table(name), h = 3)
        .collect().map(_.toString).sorted.toSeq
      assert(streamedCusum == batchCusum, s"cusum after ${prefix.size} rows")
      // ...and the COMPOSED dashboard: the whole x134 report runs off
      // the identical running state
      val batchHealth = Seasonal.seriesHealthReport(
        prefix.toDF(), col("series"), col("ts"), k = 3, h = 3, season = 7)
        .collect().map(_.toString).sorted.toSeq
      val streamedHealth = Seasonal.finishHealth(spark.table(name),
        k = 3, h = 3, season = 7)
        .collect().map(_.toString).sorted.toSeq
      assert(streamedHealth == batchHealth, s"health after ${prefix.size} rows")
    }
    query.stop()
  }
}
