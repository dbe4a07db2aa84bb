package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** pavCalibrate / clusterAgreement contracts: PAV vs a sequential
  * pool-adjacent-violators reference, monotonicity + pooling invariants,
  * ARI/NMI textbook identities and degenerate NULLs. */
class PavAgreementSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential PAV reference (increasing fit), exact rational means
    * carried as (pos, n) pairs; returns fitted ppm per input cell. */
  private def pavRef(cells: Seq[(Long, Long)]): Seq[Long] = {
    case class Block(pos: Long, n: Long, span: Int)
    val stack = scala.collection.mutable.Stack[Block]()
    cells.foreach { case (pos, n) =>
      var b = Block(pos, n, 1)
      while (stack.nonEmpty && stack.top.pos * b.n >= b.pos * stack.top.n) {
        val t = stack.pop()
        b = Block(t.pos + b.pos, t.n + b.n, t.span + b.span)
      }
      stack.push(b)
    }
    stack.toSeq.reverse.flatMap(b =>
      Seq.fill(b.span)(b.pos * 1000000L / b.n))
  }

  test("pav: matches the sequential pool-adjacent-violators reference") {
    // bins 0..9 with deliberately non-monotone rates
    val perBin = Seq(
      (0, 5L, 1L), (1, 4L, 3L), (2, 6L, 2L), (3, 5L, 2L), (4, 8L, 3L),
      (5, 4L, 3L), (6, 5L, 2L), (7, 6L, 5L), (8, 5L, 4L), (9, 4L, 4L))
    val rows = perBin.flatMap { case (bin, n, pos) =>
      (0L until n).map(i => (bin / 10.0 + 0.05, i < pos, bin))
    }
    val df = rows.map { case (s, y, bin) => (bin / 10.0 + 0.05, y) }
      .toDF("s", "y")
    val out = Evaluation.pavCalibrate(df, col("s"), col("y")).collect()
    val expected = pavRef(perBin.map { case (_, n, pos) => (pos, n) })
    assert(out.map(_.getLong(5)).toSeq == expected)
    // fitted is non-decreasing
    val fit = out.map(_.getLong(5)).toSeq
    assert(fit == fit.sorted)
    // bins and counts survive
    assert(out.map(_.getInt(0)).toSeq == (0 to 9))
    assert(out.map(_.getLong(2)).toSeq == perBin.map(_._2))
  }

  test("pav: already-monotone rates are returned unchanged (floor ppm)") {
    val df = (Seq.fill(4)((0.05, false)) ++ Seq((0.05, true)) ++
      Seq.fill(2)((0.55, true)) ++ Seq((0.55, false)) ++
      Seq.fill(3)((0.95, true))).toDF("s", "y")
    val out = Evaluation.pavCalibrate(df, col("s"), col("y")).collect()
    assert(out.map(_.getLong(5)).toSeq ==
      Seq(1000000L / 5, 2000000L / 3, 1000000L))
    assert(out.map(r => r.getLong(4)).toSeq == out.map(_.getLong(5)).toSeq)
  }

  test("pav: a single violating pair pools to the combined mean") {
    // bin 0: 2/2, bin 9: 0/2 → one pooled block at 1/2
    val df = (Seq.fill(2)((0.05, true)) ++ Seq.fill(2)((0.95, false)))
      .toDF("s", "y")
    val out = Evaluation.pavCalibrate(df, col("s"), col("y")).collect()
    assert(out.map(_.getLong(5)).toSeq == Seq(500000L, 500000L))
  }

  test("recalibration lift: with bin-constant scores and monotone rates, " +
    "lift EQUALS x194's reliability term (the Murphy identity)") {
    // bin 2 (s=0.25): 1/2 pos; bin 7 (s=0.75): 1/1 — monotone, no pooling
    val df = Seq((0.25, true), (0.25, false), (0.75, true)).toDF("s", "y")
    val r = Evaluation.recalibrationLift(df, col("s"), col("y"))
      .collect().head
    val brier = Evaluation.brierReport(df, col("s"), col("y")).collect().head
    assert(r.getLong(2) == brier.getLong(2))       // brier_raw matches x194
    assert(r.getLong(4) == brier.getLong(3))       // lift == reliability_ppm
    assert(r.getLong(3) == 166666L)                // 0.5/3 exactly (floored)
    assert(r.getLong(6) == 0L)                     // monotone fit → ECE 0
  }

  test("recalibration lift: violating bins pool and the pooled Brier is " +
    "the hand-computed block value") {
    // bin 2: 1/2 pos (0.5); bin 7: 0/2 (0.0) — inversion pools to 1/4
    val df = Seq((0.25, true), (0.25, false), (0.75, false), (0.75, false))
      .toDF("s", "y")
    val r = Evaluation.recalibrationLift(df, col("s"), col("y"))
      .collect().head
    assert(r.getLong(3) == 187500L)
    assert(r.getLong(6) == 250000L) // pooled fit ≠ per-bin rates
  }

  test("agreement: identical partitions → ARI 1, NMI 1") {
    // vectors cluster perfectly by construction: two far-apart blobs,
    // labels equal to the blob — use nCells=2 so cells == blobs
    val emb = (0 until 12).map { i =>
      val blob = i % 2
      (i.toLong, Seq.fill(4)(if (blob == 0) 10.0f else -10.0f), blob)
    }.toDF("vec_id", "embedding", "label")
    val r = Clustering.clusterAgreement(emb, "vec_id", "embedding", "label",
      nCells = 2, seed = "v1").collect().head
    assert(r.getLong(0) == 12L && r.getLong(1) == 2L)
    // the blob geometry guarantees the md5-seeded pivots separate the two
    // blobs for this seed — n_cells MUST be 2 (a 1-cell outcome would have
    // silently skipped the ARI/NMI assertions in an earlier revision)
    assert(r.getLong(2) == 2L)
    assert(r.getLong(3) == 1000000L)
    assert(r.getDouble(4) == 1.0d)
  }

  test("agreement: label-independent single cell → ARI 0, NULL NMI") {
    // all vectors identical → every point lands in pivot cell 0: the
    // cell carries zero information, so ARI sits at chance level 0 and
    // NMI is NULL (H_cell = 0)
    val emb = (0 until 8).map(i => (i.toLong, Seq.fill(4)(1.0f), i % 2))
      .toDF("vec_id", "embedding", "label")
    val r = Clustering.clusterAgreement(emb, "vec_id", "embedding", "label",
      nCells = 2, seed = "v1").collect().head
    assert(r.getLong(2) == 1L)
    assert(r.getLong(3) == 0L) // T·Σij = Σa·Σb exactly at independence
    assert(r.isNullAt(4)) // H_cell = 0
  }

  test("agreement: hand-computed 2x2 contingency") {
    // labels {0,1}; force cells by geometry: label 0 → +blob, label 1 →
    // −blob except ONE defector, giving contingency [[3,0],[1,2]]
    val emb = Seq(
      (0L, Seq.fill(4)(10.0f), 0), (1L, Seq.fill(4)(10.0f), 0),
      (2L, Seq.fill(4)(10.0f), 0),
      (3L, Seq.fill(4)(10.0f), 1), // the defector
      (4L, Seq.fill(4)(-10.0f), 1), (5L, Seq.fill(4)(-10.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Clustering.clusterAgreement(emb, "vec_id", "embedding", "label",
      nCells = 2, seed = "v1").collect().head
    if (r.getLong(2) == 2L) {
      // Σij = C(3,2)+C(1,2)+C(2,2) = 3+0+1 = 4; a: C(3,2)+C(3,2) = 6;
      // b: C(4,2)+C(2,2) = 7; T = 15
      // ARI = 2(15·4 − 42)/(15·13 − 84) = 36/111
      assert(r.getLong(3) == 2L * (15L * 4 - 42) * 1000000L / (15L * 13 - 84))
    }
  }
}
