package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** miScreen contracts: MI against a reference computation, u = 1 for a
  * perfect predictor, 0 for an independent feature, per-feature
  * null-drop, and partitioning independence of the order-pinned fold. */
class MiScreenSpec extends SparkSpec {
  import spark.implicits._

  private def run(df: DataFrame, label: Column,
      fs: Seq[(String, Column)]): Seq[Row] = {
    val out = Evaluation.miScreen(df, label, fs).collect().toSeq
    out
  }

  private def refMi(rows: Seq[(Long, Boolean)]): Double = {
    val n = rows.size.toDouble
    val cells = rows.groupBy(identity).view.mapValues(_.size.toDouble)
    val nv = rows.groupBy(_._1).view.mapValues(_.size.toDouble)
    val nl = rows.groupBy(_._2).view.mapValues(_.size.toDouble)
    val mi = cells.map { case ((v, l), c) =>
      c / n * math.log(c * n / (nv(v) * nl(l)))
    }.sum
    math.rint(mi * 1e6) / 1e6
  }

  private def refH(rows: Seq[(Long, Boolean)]): Double = {
    val n = rows.size.toDouble
    val p = rows.count(_._2) / n
    (if (p > 0) -p * math.log(p) else 0.0) +
      (if (p < 1) -(1 - p) * math.log(1 - p) else 0.0)
  }

  test("a perfect predictor reads mi = H(label), u = 1; an independent " +
    "feature reads 0") {
    val rows = Seq.tabulate(40)(i => (i.toLong % 4, i % 4 < 2))
    val df = rows.map { case (v, y) => (v, (v % 2), y) }
      .toDF("perfect_half", "indep", "y")
    // perfect_half ∈ {0,1} ⇒ y=true; {2,3} ⇒ false — but as given, v itself
    // determines y, so MI(v; y) = H(y) = ln 2 and u = 1
    val out = run(df, col("y"), Seq(
      "perfect" -> col("perfect_half"), "indep" -> col("indep")))
    val m = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(m("perfect")._1 == 40L)
    assert(m("perfect")._2 == math.rint(math.log(2.0) * 1e6) / 1e6)
    assert(m("perfect")._3 == 1.0)
    assert(m("indep")._2 == 0.0) // balanced independence: exactly 0
    // ordering: highest MI first
    assert(out.head.getString(0) == "perfect")
  }

  test("matches the reference on a skewed association") {
    val rows: Seq[(Long, Boolean)] =
      Seq.fill(30)((0L, true)) ++ Seq.fill(10)((0L, false)) ++
        Seq.fill(5)((1L, true)) ++ Seq.fill(25)((1L, false))
    val df = rows.toDF("v", "y")
    val out = run(df, col("y"), Seq("v" -> col("v"))).head
    assert(out.getLong(1) == 70L)
    assert(out.getDouble(2) == refMi(rows))
    val expU = math.rint(refMi(rows) / refH(rows) * 1e6) / 1e6
    assert(math.abs(out.getDouble(3) - expU) <= 1e-6)
  }

  test("nulls drop per feature — each feature sees its own n") {
    val df = Seq(
      (Some(1L), Some(2L), true), (Some(1L), None, true),
      (Some(2L), Some(3L), false), (Some(2L), Some(3L), false)
    ).toDF("a", "b", "y")
    val out = run(df, col("y"), Seq("a" -> col("a"), "b" -> col("b")))
    val n = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n("a") == 4L && n("b") == 3L)
  }

  test("constant label under a feature's null-drop → u is NULL") {
    val df = Seq((Some(1L), true), (Some(2L), true), (None, false))
      .toDF("v", "y")
    val out = run(df, col("y"), Seq("v" -> col("v"))).head
    assert(out.getDouble(2) == 0.0 && out.isNullAt(3))
  }

  test("the order-pinned fold is partitioning-independent") {
    val rows = Seq.tabulate(200)(i => ((i % 7).toLong, i % 3 == 0))
    val df = rows.toDF("v", "y")
    val a = run(df, col("y"), Seq("v" -> col("v")))
    val b = run(df.repartition(11), col("y"), Seq("v" -> col("v")))
    assert(a == b)
  }

  test("needs at least one feature") {
    assertThrows[IllegalArgumentException] {
      Evaluation.miScreen(Seq((1L, true)).toDF("v", "y"), col("y"), Seq.empty)
    }
  }
}
