package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class TemporalSplitSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Long): Timestamp = new Timestamp(minute * 60000L)

  test("walk-forward folds: boundaries are exact order statistics; windows count correctly") {
    // 10 events at minutes 1..10; nFolds=4 → boundaries at the
    // ceil(i*10/5)=2,4,6,8-th smallest (minutes 2,4,6,8); embargo = 1 min
    val events = (1L to 10L).map(i => (i, ts(i))).toDF("event_id", "ts")
    val out = TemporalSplit.walkForwardFolds(events, "ts", "event_id",
      nFolds = 4, embargoMicros = 60L * 1000000)
      .orderBy("fold").collect()
    assert(out.length == 4)
    val byFold = out.map(r => r.getAs[Long]("fold") ->
      (r.getAs[Long]("boundary_us"),
        r.getAs[Long]("n_train"), r.getAs[Long]("n_embargo"),
        r.getAs[Long]("n_val"))).toMap
    // fold 1: b=min2 → train ts<=1 (1), embargo (1,2] (1), val (2,4] (2)
    assert(byFold(1L) == (2L * 60000000L, 1L, 1L, 2L), byFold(1L).toString)
    assert(byFold(2L) == (4L * 60000000L, 3L, 1L, 2L), byFold(2L).toString)
    assert(byFold(3L) == (6L * 60000000L, 5L, 1L, 2L), byFold(3L).toString)
    // fold 4: b=min8, val closes at max ts (min10) → (8,10] = 2 events
    assert(byFold(4L) == (8L * 60000000L, 7L, 1L, 2L), byFold(4L).toString)
  }

  test("purge property: no training observation falls inside the embargo of its fold") {
    val rnd = new scala.util.Random(11)
    val events = (1L to 500L).map(i => (i, ts(rnd.nextInt(100000).toLong)))
      .toDF("event_id", "ts")
    val embargo = 5000L * 60 * 1000000
    val out = TemporalSplit.walkForwardFolds(events, "ts", "event_id",
      nFolds = 4, embargoMicros = embargo).collect()
    // replay driver-side from the raw minutes
    val us = (1L to 500L).map { i => i }.zip(
      events.collect().map(_.getAs[Timestamp]("ts").getTime * 1000L)).map(_._2)
      .sorted
    val n = us.length
    out.foreach { r =>
      val fold = r.getAs[Long]("fold").toInt
      val b = us((fold * n + 4) / 5 - 1)
      assert(r.getAs[Long]("boundary_us") == b)
      val expTrain = us.count(_ <= b - embargo)
      val expEmb = us.count(u => u > b - embargo && u <= b)
      assert(r.getAs[Long]("n_train") == expTrain)
      assert(r.getAs[Long]("n_embargo") == expEmb)
    }
  }

  test("empty input produces no folds (no boundary position exists)") {
    val events = Seq.empty[(Long, Timestamp)].toDF("event_id", "ts")
    val out = TemporalSplit.walkForwardFolds(events, "ts", "event_id",
      nFolds = 4, embargoMicros = 0L)
    assert(out.collect().isEmpty)
  }

  test("deterministic across partition layouts") {
    val events = (1L to 300L).map(i => (i, ts(i * 7 % 997))).toDF("event_id", "ts")
    def run(parts: Int) = {
      val rows = TemporalSplit.walkForwardFolds(events.repartition(parts),
        "ts", "event_id", nFolds = 3, embargoMicros = 60000000L)
        .orderBy("fold").collect().map(_.toString).toSeq
      rows
    }
    assert(run(1) == run(13))
  }

  test("groupKFold: serpentine deal balances fold weights") {
    // groups g01..g10 with sizes 10..1, k=3: blocks [10,9,8]→0,1,2,
    // [7,6,5]→2,1,0 (reversed), [4,3,2]→0,1,2, [1]→2
    val rows = (1 to 10).flatMap(g =>
      (1 to (11 - g)).map(_ => f"g$g%02d")).toDF("g")
    val out = TemporalSplit.groupKFold(rows, col("g"), 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("g01") == (10L, 0L) && out("g02") == (9L, 1L) &&
      out("g03") == (8L, 2L))
    assert(out("g04") == (7L, 2L) && out("g05") == (6L, 1L) &&
      out("g06") == (5L, 0L))
    assert(out("g10") == (1L, 2L))
    val foldW = out.values.groupBy(_._2).view.mapValues(_.map(_._1).sum).toMap
    assert(foldW == Map(0L -> 19L, 1L -> 18L, 2L -> 18L),
      "serpentine packing keeps fold weights within one block step")
  }

  test("groupKFold: deterministic under repartitioning, ties broken by key") {
    val rows = (1 to 40).map(i => s"u${i % 8}").toDF("g")
    val a = TemporalSplit.groupKFold(rows, col("g"), 4)
      .orderBy("group").collect().toSeq
    val b = TemporalSplit.groupKFold(rows.repartition(17), col("g"), 4)
      .orderBy("group").collect().toSeq
    assert(a == b)
    // all 8 groups weigh 5 → rank order is pure key order
    assert(a.map(_.getString(0)) == (0 to 7).map(i => s"u$i"))
  }

  test("groupKFold: k out of range fails loudly") {
    val rows = Seq("a", "b").toDF("g")
    assertThrows[IllegalArgumentException] {
      TemporalSplit.groupKFold(rows, col("g"), 1)
    }
  }
}
