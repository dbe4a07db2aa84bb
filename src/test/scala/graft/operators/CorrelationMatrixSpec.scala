package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** correlationMatrix contracts: Pearson agreement with a reference
  * computation, consistent null-row dropping (one shared n), degenerate
  * (constant) features → NULL, guards, and partitioning independence. */
class CorrelationMatrixSpec extends SparkSpec {
  import spark.implicits._

  /** Materialize + release the operator's tracked cache (house contract). */
  private def run(df: DataFrame, fs: Seq[(String, Column)]): Seq[Row] = {
    val out = Evaluation.correlationMatrix(df, fs).collect().toSeq
    out
  }

  private def pearson(xs: Seq[Long], ys: Seq[Long]): Double = {
    val n = xs.size.toDouble
    val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum -
      xs.sum.toDouble * ys.sum
    val da = n * xs.map(a => a * a).sum - xs.sum.toDouble * xs.sum
    val db = n * ys.map(b => b * b).sum - ys.sum.toDouble * ys.sum
    math.rint(num / (math.sqrt(da) * math.sqrt(db)) * 1e4) / 1e4
  }

  test("matches a reference Pearson on every pair, f1 < f2 by declaration") {
    val xs = Seq(1L, 2L, 3L, 4L, 5L, 9L)
    val ys = Seq(2L, 4L, 6L, 8L, 10L, 18L) // = 2x → corr 1.0
    val zs = Seq(9L, 7L, 6L, 4L, 2L, 0L)   // decreasing → negative
    val df = xs.indices.map(i => (xs(i), ys(i), zs(i))).toDF("x", "y", "z")
    val out = run(df, Seq("x" -> col("x"), "y" -> col("y"), "z" -> col("z")))
    val m = out.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(m.keySet == Set(("x", "y"), ("x", "z"), ("y", "z")))
    assert(m(("x", "y")) == (6L, 1.0))
    assert(m(("x", "z")) == (6L, pearson(xs, zs)))
    assert(m(("y", "z")) == (6L, pearson(ys, zs)))
  }

  test("a null in ANY feature drops the whole row — one shared n") {
    val df = Seq(
      (Some(1L), Some(2L), Some(3L)),
      (Some(2L), None, Some(5L)), // y null: must vanish from x~z too
      (Some(3L), Some(5L), Some(9L)),
      (Some(4L), Some(9L), Some(11L))
    ).toDF("x", "y", "z")
    val out = run(df, Seq("x" -> col("x"), "y" -> col("y"), "z" -> col("z")))
    assert(out.forall(_.getLong(2) == 3L))
    val xz = out.find(r => r.getString(0) == "x" && r.getString(1) == "z").get
    assert(xz.getDouble(3) == pearson(Seq(1L, 3L, 4L), Seq(3L, 9L, 11L)))
  }

  test("a constant feature correlates NULL with everything") {
    val df = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("x", "c")
    val out = run(df, Seq("c" -> col("c"), "x" -> col("x")))
    assert(out.length == 1 && out.head.isNullAt(3))
  }

  test("n < 2 yields NULL, not a division blow-up") {
    val df = Seq((1L, 2L)).toDF("x", "y")
    val out = run(df, Seq("x" -> col("x"), "y" -> col("y")))
    assert(out.length == 1 && out.head.getLong(2) == 1L && out.head.isNullAt(3))
  }

  test("guards: at least 2 features, unique names") {
    val df = Seq((1L, 2L)).toDF("x", "y")
    assertThrows[IllegalArgumentException] {
      Evaluation.correlationMatrix(df, Seq("x" -> col("x")))
    }
    assertThrows[IllegalArgumentException] {
      Evaluation.correlationMatrix(df, Seq("x" -> col("x"), "x" -> col("y")))
    }
  }

  test("report is partitioning-independent") {
    val df = (1 to 100).map(i => (i.toLong, (i * i).toLong, (101 - i).toLong))
      .toDF("x", "y", "z")
    val fs = Seq[(String, Column)](
      "x" -> col("x"), "y" -> col("y"), "z" -> col("z"))
    assert(run(df, fs) == run(df.repartition(13), fs))
  }
}
