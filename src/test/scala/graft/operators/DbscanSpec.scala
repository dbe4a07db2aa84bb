package graft.operators

import graft.SparkSpec

/** gridDbscan must be EXACT DBSCAN with the pinned canonicalization:
  * min-core-id cluster labels, border → smallest adjacent cluster, noise
  * = −1 — verified against a brute-force union-find reference, including
  * cell-boundary and exact-eps-distance adversaries. */
class DbscanSpec extends SparkSpec {
  import spark.implicits._

  private def d2(a: (Double, Double), b: (Double, Double)): Double =
    (a._1 - b._1) * (a._1 - b._1) + (a._2 - b._2) * (a._2 - b._2)

  private def reference(
      pts: Seq[(Long, Double, Double)], eps: Double, minPts: Int)
    : Map[Long, (Long, Boolean, Long)] = {
    val xy = pts.map(p => p._1 -> ((p._2, p._3))).toMap
    val nbrs = pts.map { p =>
      p._1 -> pts.filter(q => q._1 != p._1 && d2(xy(p._1), xy(q._1)) <= eps * eps)
        .map(_._1).toSet
    }.toMap
    val nCount = pts.map(p => p._1 -> (1L + nbrs(p._1).size)).toMap
    val core = pts.map(_._1).filter(id => nCount(id) >= minPts).toSet
    // union-find over core-core neighbor pairs
    val parent = scala.collection.mutable.Map(core.map(c => c -> c).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- core; b <- nbrs(a) if core(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = core.map(c => c -> core.filter(o => find(o) == find(c)).min).toMap
    pts.map { p =>
      val id = p._1
      if (core(id)) id -> ((label(id), true, nCount(id)))
      else {
        val adj = nbrs(id).filter(core).map(label)
        id -> ((if (adj.nonEmpty) adj.min else -1L, false, nCount(id)))
      }
    }.toMap
  }

  private def run(
      pts: Seq[(Long, Double, Double)], eps: Double, minPts: Int)
    : Map[Long, (Long, Boolean, Long)] = {
    val df = pts.toDF("id", "x", "y")
    val out = Clustering.gridDbscan(df, "id", "x", "y", eps, minPts)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    out
  }

  test("two blobs, a bridge chain, border points and noise match the reference") {
    // blob A around (0,0), blob B around (1,1), a sparse chain between,
    // a border point hanging off blob A, and far noise
    val pts: Seq[(Long, Double, Double)] =
      Seq((0L, 0.00, 0.00), (1L, 0.01, 0.00), (2L, 0.00, 0.01), (3L, 0.01, 0.01),
        (4L, 0.02, 0.00), // blob A (5 pts, all core at minPts=4)
        (10L, 1.00, 1.00), (11L, 1.01, 1.00), (12L, 1.00, 1.01), (13L, 1.01, 1.01),
        (20L, 0.055, 0.0), // border: within eps of A's edge point only
        (30L, 0.5, 0.5), (31L, 0.52, 0.5), // pair below minPts: noise
        (40L, 3.0, 3.0)) // isolated noise
    for (minPts <- Seq(1, 3, 4, 5)) {
      assert(run(pts, 0.04, minPts) == reference(pts, 0.04, minPts),
        s"mismatch at minPts=$minPts")
    }
  }

  test("exact-eps distances count (<=), and diagonal-cell neighbors are found") {
    // (0,0) and (0.03, 0.04) are exactly 0.05 apart; with eps = 0.05 they
    // sit in non-adjacent-looking but within-3x3 cells of size 0.05
    val pts: Seq[(Long, Double, Double)] = Seq(
      (0L, 0.0, 0.0), (1L, 0.03, 0.04), (2L, -0.03, -0.04), (3L, 0.05, 0.0))
    assert(run(pts, 0.05, 2) == reference(pts, 0.05, 2))
    // cross-check the boundary pair really is core via <=
    val got = run(pts, 0.05, 2)
    assert(got(0L)._2 && got(1L)._2, "exact-eps neighbors must count")
  }

  test("deterministic across partitioning; grid shift (negative coords) safe") {
    val rnd = new scala.util.Random(7)
    val pts: Seq[(Long, Double, Double)] = (0L until 120L).map { i =>
      (i, rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 2 - 1)
    }
    val df = pts.toDF("id", "x", "y")
    val a = Clustering.gridDbscan(df.repartition(13), "id", "x", "y", 0.15, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val b = Clustering.gridDbscan(df.coalesce(1), "id", "x", "y", 0.15, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(a == b)
    assert(run(pts, 0.15, 4) == reference(pts, 0.15, 4))
  }

  test("bounds are enforced") {
    val df = Seq((1L, 0.0, 0.0)).toDF("id", "x", "y")
    intercept[IllegalArgumentException] {
      Clustering.gridDbscan(df, "id", "x", "y", eps = 0.0, minPts = 1)
    }
    intercept[IllegalArgumentException] {
      Clustering.gridDbscan(df, "id", "x", "y", eps = 0.1, minPts = 0)
    }
  }
}
