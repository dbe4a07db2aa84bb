package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** prCurve contracts: exact confusion counts on a hand-checkable set, the
  * 0/0 → 0 ratio convention, null-score rows landing in no bucket, and
  * the single-scan plan shape (no per-threshold re-aggregation). */
class EvaluationSpec extends SparkSpec {
  import spark.implicits._

  // scores 0.1..0.8, label = score >= 0.5 (perfectly separable at 0.5)
  private def scored = (1 to 8).map(i => (i / 10.0, i >= 5)).toDF("s", "lab")

  test("exact counts and ratios on a separable set") {
    val out = Evaluation.prCurve(scored, col("s"), col("lab"),
      thresholds = Seq(0.3, 0.5, 0.7))
      .orderBy("threshold").collect()
    // t=0.3: predicts 0.3..0.8 positive → tp=4 fp=2 fn=0 tn=2
    assert(out(0).getLong(1) == 4 && out(0).getLong(2) == 2 &&
      out(0).getLong(3) == 0 && out(0).getLong(4) == 2)
    assert(out(0).getAs[Double]("precision") == 0.6667) // round(4/6, 4)
    // t=0.5: perfect split
    assert(out(1).getAs[Double]("precision") == 1.0 &&
      out(1).getAs[Double]("recall") == 1.0 && out(1).getAs[Double]("f1") == 1.0)
    // t=0.7: tp=2 fn=2 → recall 0.5
    assert(out(2).getAs[Double]("recall") == 0.5)
  }

  test("0/0 ratios define as 0.0; null scores land in no bucket") {
    val df = Seq((Some(0.2), false), (None, true), (None, false))
      .toDF("s", "lab")
    val out = Evaluation.prCurve(df, col("s"), col("lab"),
      thresholds = Seq(0.5)).collect()
    // nothing predicted positive and no positives scored: tp=fp=fn'=0 →
    // precision = 0.0 (not null/NaN); null-score rows count nowhere
    val r = out.head
    assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0)
    assert(r.getLong(4) == 1, "only the non-null negative lands in tn")
    assert(r.getAs[Double]("precision") == 0.0 && r.getAs[Double]("f1") == 0.0)
  }

  test("aucReport: known hand-ranked case with ties, exact integer AUC") {
    import spark.implicits._
    // scores: pos {0.9, 0.7, 0.5}, neg {0.5, 0.3} — one tie at 0.5
    // pairs: 3×2 = 6; pos>neg: (0.9,0.3)(0.9,0.5)(0.7,0.3)(0.7,0.5)(0.5,0.3)=5
    // tie (0.5,0.5) counts 1/2 → U = 5.5 → AUC = 5.5/6 = 0.916667
    val df = Seq((0.9, true), (0.7, true), (0.5, true), (0.5, false), (0.3, false))
      .toDF("s", "lab")
    val r = Evaluation.aucReport(df, col("s"), col("lab")).head()
    assert(r.getLong(0) == 5 && r.getLong(1) == 3 && r.getLong(2) == 2)
    assert(r.getAs[Double]("auc") == 0.916667)
    // accuracy at 0.5: preds {1,1,1,1,0} vs {1,1,1,0,0} → 4/5
    assert(r.getAs[Double]("accuracy") == 0.8)
  }

  test("aucReport: partitioning-independent and degenerate single-class → NULL auc") {
    import spark.implicits._
    val df = (1 to 400)
      .map(i => (math.floor(i / 40.0) / 10.0, i % 3 == 0)).toDF("s", "lab")
    val a = Evaluation.aucReport(df, col("s"), col("lab")).head()
    val b = Evaluation.aucReport(df.repartition(13), col("s"), col("lab")).head()
    assert(a == b)
    val onlyPos = Seq((0.9, true), (0.2, true)).toDF("s", "lab")
    assert(Evaluation.aucReport(onlyPos, col("s"), col("lab")).head().isNullAt(3))
  }

  test("featureAuc: exact ppm on a hand-ranked case, separability ranking") {
    import spark.implicits._
    // f1 replays the aucReport fixture (tie at 5: 2U = 11 → 916666 ppm,
    // separability |916666−500000| = 416666); f2 is perfectly ANTI-
    // correlated (AUC 0, separability 500000) — so f2 outranks f1
    val df = Seq((9L, 2L, true), (7L, 3L, true), (5L, 5L, true),
      (5L, 6L, false), (3L, 7L, false)).toDF("f1", "f2", "lab")
    val out = Evaluation.featureAuc(df, col("lab"),
      Seq("f1" -> col("f1"), "f2" -> col("f2")))
      .collect().map(r => r.getString(0) -> r).toMap
    val f1 = out("f1")
    assert(f1.getAs[Long]("n") == 5 && f1.getAs[Long]("n_pos") == 3 &&
      f1.getAs[Long]("n_neg") == 2)
    // 2U = 11 → auc_ppm = 11e6 / 12 = 916666 (floor)
    assert(f1.getAs[Long]("auc_ppm") == 916666L)
    assert(f1.getAs[Long]("rank") == 2L)
    // f2: pos {2,3,5} vs neg {6,7}: pos<neg everywhere → 0 concordant
    assert(out("f2").getAs[Long]("auc_ppm") == 0L)
    assert(out("f2").getAs[Long]("rank") == 1L)
  }

  test("featureAuc: null feature values drop per-feature; single-class → NULL") {
    import spark.implicits._
    val df = Seq((Some(1L), true), (None, true), (Some(2L), false))
      .toDF("f", "lab")
    val r = Evaluation.featureAuc(df, col("lab"), Seq("f" -> col("f"))).head()
    assert(r.getAs[Long]("n") == 2, "null feature rows drop")
    val onePos = Seq((1L, true), (2L, true)).toDF("f", "lab")
    assert(Evaluation.featureAuc(onePos, col("lab"), Seq("f" -> col("f")))
      .head().isNullAt(4))
  }

  test("calibrationReport: bins, clamp bins, and gap arithmetic") {
    import spark.implicits._
    val df = Seq(
      (-0.2, false), (0.05, false), (0.08, true), (0.55, true), (0.52, false),
      (0.95, true), (1.3, true))
      .toDF("s", "lab")
    val rows = Evaluation.calibrationReport(df, col("s"), col("lab"), nBins = 10)
      .orderBy("bin").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(-1, 0, 5, 9, 10))
    val b0 = rows(1) // scores 0.05, 0.08 → mean 0.065, frac_pos 0.5
    assert(b0.getLong(2) == 2 && b0.getAs[Double]("mean_score") == 0.065)
    assert(b0.getAs[Double]("frac_pos") == 0.5)
    assert(b0.getAs[Double]("gap") == 0.435)
    val clampHi = rows(4) // 1.3 lands in bin 10, never folded into bin 9
    assert(clampHi.getLong(2) == 1 && clampHi.getAs[Double]("frac_pos") == 1.0)
  }

  test("agreementReport reproduces the textbook 2x2 kappa") {
    // cells (a,b): yy=20 yn=5 ny=10 nn=15 → po=0.7, pe=0.5, kappa=0.4
    val rows =
      Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
        Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val out = Evaluation.agreementReport(
      rows.toDF("a", "b").repartition(7), col("a"), col("b")).head()
    assert(out.getLong(0) == 50L && out.getLong(1) == 2L &&
      out.getLong(2) == 35L)
    assert(out.getLong(3) == 700000L, "po_ppm")
    assert(out.getLong(4) == 500000L, "pe_ppm")
    assert(out.getLong(5) == 400000L, "kappa_ppm")
  }

  test("agreementReport: null raters drop out; single class yields NULL kappa") {
    val withNulls = Seq(("y", "y"), ("y", null), (null, "y"), ("y", "y"))
    val out = Evaluation.agreementReport(
      withNulls.toDF("a", "b"), col("a"), col("b")).head()
    assert(out.getLong(0) == 2L && out.getLong(2) == 2L)
    // single observed class: n² = Σrow·col → chance-perfect, kappa NULL
    assert(out.getLong(3) == 1000000L && out.isNullAt(5))
  }

  test("driftReport: identical mixes drift 0, a disappearing bin dominates") {
    // cohort A: 4×u + 4×v; cohort B: 4×u only → v vanished
    val rows = Seq.fill(4)(("u", true)) ++ Seq.fill(4)(("v", true)) ++
      Seq.fill(4)(("u", false))
    val out = Evaluation.driftReport(rows.toDF("bin", "p"), col("bin"), col("p"))
      .orderBy("bin").collect()
    val byBin = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // u: |4·4 − 4·8|·1e6 / (2·8·4) = 16e6/64 = 250000; v: same mass
    assert(byBin("u") == (4L, 4L, 250000L))
    assert(byBin("v") == (4L, 0L, 250000L))
    assert(byBin("__total") == (8L, 4L, 500000L), "TVD = half the v mass + skew")
    val same = Evaluation.driftReport(
      Seq(("u", true), ("u", false), ("v", true), ("v", false))
        .toDF("bin", "p"), col("bin"), col("p"))
      .where(col("bin") === "__total").head()
    assert(same.getLong(3) == 0L, "identical mixes have zero TVD")
  }
}
