package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** brierReport / kruskalWallis / anovaF / mcnemar contracts:
  * hand-computed textbook references, exact-integer ppm semantics,
  * degenerate-input NULLs, and partitioning independence. */
class GroupTestsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Brier decomposition -------------------------------------------

  test("brier: perfectly confident correct forecasts → brier 0, REL 0") {
    val df = Seq((1.0, true), (1.0, true), (0.0, false)).toDF("s", "y")
    val r = Evaluation.brierReport(df, col("s"), col("y")).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 0L)   // brier_ppm
    assert(r.getLong(3) == 0L)   // reliability_ppm
    // RES = UNC for a perfectly sharp forecaster: ō=2/3, UNC=ō(1−ō)=2/9
    assert(r.getLong(5) == 222222L)
    assert(r.getLong(4) == r.getLong(5))
    assert(r.getLong(6) == 0L)   // ece_ppm
  }

  test("brier: hand-computed decomposition on a two-bin table") {
    // bin 2 (s=0.25): y={1,0} → pos 1/2, mean s 0.25; bin 7 (s=0.75): y={1}
    val df = Seq((0.25, true), (0.25, false), (0.75, true)).toDF("s", "y")
    val r = Evaluation.brierReport(df, col("s"), col("y")).collect().head
    // brier = ((0.75)²+(0.25)²+(0.25)²)/3 = 0.6875/3 = 0.229166…
    assert(r.getLong(2) == 229166L)
    // REL = (2·(0.5−0.25)² + 1·(1−0.75)²)/3 = 0.1875/3 = 0.0625
    assert(r.getLong(3) == 62500L)
    // RES = (2·(0.5−2/3)² + 1·(1−2/3)²)/3 = (0.055555+0.111111)/3
    assert(r.getLong(4) == 55555L)
    // UNC = (2/3)(1/3) = 0.222222
    assert(r.getLong(5) == 222222L)
    // Brier = REL − RES + UNC holds (bin-constant forecasts)
    assert(math.abs(r.getLong(2) - (r.getLong(3) - r.getLong(4) + r.getLong(5))) <= 2L)
  }

  test("brier: out-of-unit scores land in clamp bins, still counted") {
    val df = Seq((1.3, true), (-0.2, false)).toDF("s", "y")
    val r = Evaluation.brierReport(df, col("s"), col("y")).collect().head
    assert(r.getLong(0) == 2L)
    // brier = ((1.3−1)² + (−0.2)²)/2 = (0.09+0.04)/2 = 0.065
    assert(r.getLong(2) == 65000L)
  }

  test("brier: partitioning independence (integer state)") {
    val rows = (1 to 97).map(i => (i / 100.0, i % 3 == 0))
    val a = Evaluation.brierReport(rows.toDF("s", "y").repartition(1),
      col("s"), col("y")).collect().head
    val b = Evaluation.brierReport(rows.toDF("s", "y").repartition(7),
      col("s"), col("y")).collect().head
    assert(a.toString == b.toString)
  }

  // ---- Kruskal–Wallis -------------------------------------------------

  test("kruskal–wallis: textbook three-group example") {
    // groups with no overlap: a={1,2,3}, b={4,5,6}, c={7,8,9} — maximal H
    val df = (Seq(1L, 2L, 3L).map((_, "a")) ++ Seq(4L, 5L, 6L).map((_, "b")) ++
      Seq(7L, 8L, 9L).map((_, "c"))).toDF("v", "g")
    val r = Evaluation.kruskalWallis(df, col("v"), col("g")).collect().head
    assert(r.getLong(0) == 9L && r.getLong(1) == 3L)
    // R = {6, 15, 24}; H = 12/(9·10)·(36+225+576)/3 − 3·10 = 7.2
    assert(r.getDouble(2) == 7.2d)
    assert(r.getDouble(3) == 7.2d) // no ties → correction is identity
  }

  test("kruskal–wallis: ties get midranks and the tie correction") {
    val df = (Seq(1L, 1L, 2L).map((_, "a")) ++ Seq(2L, 3L, 3L).map((_, "b")))
      .toDF("v", "g")
    val r = Evaluation.kruskalWallis(df, col("v"), col("g")).collect().head
    // midranks: v=1→1.5, v=2→3.5, v=3→5.5; R_a=6.5, R_b=14.5
    // H = 12/(6·7)·(42.25/3 + 210.25/3) − 21 = 12/42·84.1666… − 21 = 3.0476
    assert(math.abs(r.getDouble(2) - 3.0476) < 1e-4)
    // Σ(t³−t) = 3·(8−2) = 18; C = 1 − 18/210; H_c = H/C ≈ 3.3333
    assert(math.abs(r.getDouble(3) - 3.3333) < 1e-4)
  }

  test("kruskal–wallis: single group or all-tied → NULL") {
    val one = Seq((1L, "a"), (2L, "a")).toDF("v", "g")
    val r1 = Evaluation.kruskalWallis(one, col("v"), col("g")).collect().head
    assert(r1.isNullAt(2) && r1.isNullAt(3))
    val tied = Seq((5L, "a"), (5L, "b"), (5L, "a")).toDF("v", "g")
    val r2 = Evaluation.kruskalWallis(tied, col("v"), col("g")).collect().head
    assert(r2.isNullAt(3)) // correction denominator 0
  }

  // ---- one-way ANOVA --------------------------------------------------

  test("anova: textbook F on three separated groups") {
    val df = (Seq(1L, 2L, 3L).map((_, "a")) ++ Seq(4L, 5L, 6L).map((_, "b")) ++
      Seq(7L, 8L, 9L).map((_, "c"))).toDF("y", "g")
    val r = Evaluation.anovaF(df, col("y"), col("g")).collect().head
    // means 2,5,8; SSB = 3·(9+0+9) = 54; SSW = 6; F = (54/2)/(6/6) = 27
    assert(r.getLong(0) == 9L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 27.0d)
    assert(r.getDouble(3) == 0.9d) // η² = 54/60
  }

  test("anova: zero within-group variance or one group → NULL F") {
    val zeroW = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("y", "g")
    val r = Evaluation.anovaF(zeroW, col("y"), col("g")).collect().head
    assert(r.isNullAt(2)) // ssw = 0
    assert(r.getDouble(3) == 1.0d)
    val one = Seq((1L, "a"), (2L, "a")).toDF("y", "g")
    assert(Evaluation.anovaF(one, col("y"), col("g")).collect().head.isNullAt(2))
  }

  // ---- McNemar --------------------------------------------------------

  test("mcnemar: hand-computed discordant cells and corrected chi2") {
    // truth all true; A right on 1-6, B right on 1-4 and 7-8
    val rows = (1 to 8).map { i =>
      (i <= 6, i <= 4 || i >= 7, true)
    }
    val df = rows.toDF("pa", "pb", "y")
    val r = Evaluation.mcnemar(df, col("pa"), col("pb"), col("y"))
      .collect().head
    assert(r.getLong(0) == 8L)
    assert(r.getLong(1) == 750000L && r.getLong(2) == 750000L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 2L) // b=5,6; c=7,8
    // chi2 = (|2−2|−1)²/4 = 0.25
    assert(r.getLong(5) == 250000L)
  }

  test("mcnemar: identical classifiers → NULL chi2") {
    val df = Seq((true, true, true), (false, false, true)).toDF("pa", "pb", "y")
    assert(Evaluation.mcnemar(df, col("pa"), col("pb"), col("y"))
      .collect().head.isNullAt(5))
  }
}
