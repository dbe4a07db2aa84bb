package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** Driver-side reference implementation of the fixed-point recurrence —
    * plain Maps, no Spark — so the distributed operator is checked against
    * an independent evaluation of the same definition. */
  private def referencePr(
      edges: Seq[(Long, Long)], iters: Int,
      dampNum: Long = 85L, scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.length.toLong
    val r0 = scale / n
    val base = ((100L - dampNum) * r0) / 100L
    var r = nodes.map(_ -> r0).toMap
    (1 to iters).foreach { _ =>
      val shares = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      val dang = nodes.filter(v => !deg.contains(v)).map(r).sum
      r = nodes.map(v =>
        v -> (base + (dampNum * (shares.getOrElse(v, 0L) + dang / n)) / 100L)).toMap
    }
    r
  }

  private val diamond = Seq( // 4 nodes, 5 edges, node 40 dangling
    (10L, 20L), (10L, 30L), (20L, 30L), (30L, 10L), (30L, 40L))

  test("pageRankFixedPoint matches the driver-side reference recurrence") {
    val out = Graph.pageRankFixedPoint(diamond.toDF("src", "dst"), "src", "dst",
      iters = 7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ref = referencePr(diamond, iters = 7)
    assert(out.keySet == ref.keySet)
    ref.foreach { case (node, rank) =>
      assert(out(node)._2 == rank, s"node $node")
    }
    assert(out(10L)._1 == 2L && out(40L)._1 == 0L) // out-degrees
  }

  test("rank mass is conserved up to integer floor loss") {
    val out = Graph.pageRankFixedPoint(diamond.toDF("src", "dst"), "src", "dst",
      iters = 5)
      .agg(sum("rank_fp")).head().getLong(0)
    val scale = 1000000000000L
    // each superstep loses < 1 unit per share/div plus the div-100 floors
    assert(out <= scale && out > (scale * 999L) / 1000L,
      s"mass $out should be within 0.1% of $scale")
  }

  test("result is partitioning-independent (exact integer arithmetic)") {
    val a = Graph.pageRankFixedPoint(diamond.toDF("src", "dst"), "src", "dst",
      iters = 4).orderBy("node").collect().toSeq
    val b = Graph.pageRankFixedPoint(
      diamond.toDF("src", "dst").repartition(7), "src", "dst",
      iters = 4).orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("multigraph semantics: a repeated edge doubles its contribution weight") {
    val single = Graph.pageRankFixedPoint(
      Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst"),
      "src", "dst", iters = 3).orderBy("node").collect()
    val doubled = Graph.pageRankFixedPoint(
      Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst"),
      "src", "dst", iters = 3)
      .where(col("node") === 2L).head()
    val singleTwo = single.find(_.getLong(0) == 2L).get.getLong(2)
    assert(doubled.getLong(2) > singleTwo,
      "node 2 must gain rank when its in-edge is repeated")
  }

  test("guards: empty graph and bad parameters fail loudly") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assertThrows[IllegalArgumentException] {
      Graph.pageRankFixedPoint(empty, "src", "dst")
    }
    val one = Seq((1L, 2L)).toDF("src", "dst")
    assertThrows[IllegalArgumentException] {
      Graph.pageRankFixedPoint(one, "src", "dst", iters = 0)
    }
    assertThrows[IllegalArgumentException] {
      Graph.pageRankFixedPoint(one, "src", "dst", dampNum = 101)
    }
  }

  test("personalizedPageRank: seeding every node reproduces classic PageRank") {
    val allNodes = Seq(10L, 20L, 30L, 40L)
    val classic = Graph.pageRankFixedPoint(diamond.toDF("src", "dst"),
      "src", "dst", iters = 4).orderBy("node").collect().toSeq
    val seededAll = Graph.personalizedPageRank(diamond.toDF("src", "dst"),
      "src", "dst", seeds = allNodes, iters = 4).orderBy("node").collect().toSeq
    assert(classic == seededAll)
  }

  test("personalizedPageRank: mass concentrates on the seed's neighborhood") {
    // two disconnected 2-cycles; seeding {1} must leave component {3,4}
    // with zero mass (no teleport, no reachable walk)
    val twoComponents = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
    val out = Graph.personalizedPageRank(twoComponents.toDF("src", "dst"),
      "src", "dst", seeds = Seq(1L), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(3L) == 0L && out(4L) == 0L,
      "unreachable component must hold zero stationary mass")
    assert(out(1L) > out(2L), "the seed holds more mass than its neighbor")
    assert(out(1L) + out(2L) > 990000000000L,
      "seed component holds ~all mass (up to floor loss)")
  }

  test("connectedComponents labels each component with its smallest node") {
    // {1,2,3} a path, {7,8} an edge, {9} via self-loop
    val g = Seq((2L, 1L), (2L, 3L), (7L, 8L), (9L, 9L))
    val out = Graph.connectedComponents(g.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("connectedComponents: fixpoint is independent of maxIters headroom") {
    // a 6-node path needs several propagation rounds; extra headroom must
    // not change the labels (the driver stops on changed-count == 0)
    val path = (1L to 5L).map(i => (i, i + 1))
    val a = Graph.connectedComponents(path.toDF("src", "dst"), "src", "dst",
      maxIters = 10).orderBy("node").collect().toSeq
    val b = Graph.connectedComponents(path.toDF("src", "dst"), "src", "dst",
      maxIters = 50).orderBy("node").collect().toSeq
    assert(a == b)
    assert(a.forall(_.getLong(1) == 1L), "path collapses to min label 1")
  }

  test("connectedComponents: refuses an unconverged run") {
    // 1 round cannot propagate across a 6-node path
    val path = (1L to 5L).map(i => (i, i + 1))
    assertThrows[IllegalArgumentException] {
      Graph.connectedComponents(path.toDF("src", "dst"), "src", "dst",
        maxIters = 1)
    }
  }

  test("triangleCounts: K4, pendant, and star agree with hand counts") {
    // K4 on {1..4}: every node deg 3, 3 triangles; node 5 pendant off 1;
    // star 10-(11,12,13): hub deg 3, 0 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val g = k4 ++ Seq((1L, 5L), (10L, 11L), (10L, 12L), (10L, 13L))
    val out = Graph.triangleCounts(g.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (4L, 3L) && out(2L) == (3L, 3L) &&
      out(3L) == (3L, 3L) && out(4L) == (3L, 3L))
    assert(out(5L) == (1L, 0L))
    assert(out(10L) == (3L, 0L) && out(11L) == (1L, 0L))
  }

  test("triangleCounts: direction, duplicates, and self-loops are normalized") {
    // same triangle stated redundantly in both directions + a self-loop
    val g = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 2L))
    val out = Graph.triangleCounts(g.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (2L, 1L)))
  }

  test("triangleCounts is partitioning-independent") {
    val g = (for (i <- 1L to 8L; j <- (i + 1) to 8L if (i + j) % 3 != 0)
      yield (i, j)).toDF("src", "dst")
    val a = Graph.triangleCounts(g, "src", "dst").orderBy("node").collect().toSeq
    val b = Graph.triangleCounts(g.repartition(13), "src", "dst")
      .orderBy("node").collect().toSeq
    assert(a == b)
    assert(a.map(_.getLong(2)).sum % 3 == 0, "each triangle is counted at 3 nodes")
  }

  test("kCore: peel cascade reaches the unique fixpoint") {
    // triangle {1,2,3} + tail 3-4-5: k=2 peels 5, then 4 — two-round
    // cascade — leaving the triangle with core degrees 2
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val out = Graph.kCore(g.toDF("src", "dst"), "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3: no 3-core exists — empty is the correct answer
    assert(Graph.kCore(g.toDF("src", "dst"), "src", "dst", k = 3)
      .collect().isEmpty)
  }

  test("kCore: already-a-core input survives intact; duplicates/direction normalize") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val noisy = (k4 ++ k4.map(_.swap) ++ Seq((1L, 1L))).toDF("src", "dst")
    val out = Graph.kCore(noisy, "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (1L to 4L).map(_ -> 3L).toMap)
  }

  test("kCore: refuses an unconverged run; partitioning-independent") {
    // a 12-node path peels from both ends: k=2 needs ~6 rounds to empty
    val path = (1L to 11L).map(i => (i, i + 1))
    assertThrows[IllegalArgumentException] {
      Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2, maxIters = 2)
    }
    val a = Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2)
      .orderBy("node").collect().toSeq
    val b = Graph.kCore(path.toDF("src", "dst").repartition(13),
      "src", "dst", k = 2).orderBy("node").collect().toSeq
    assert(a == b && a.isEmpty, "a path has no 2-core")
  }

  test("hitsBipartite matches the hand-iterated max-norm recurrence") {
    // c1→{7,8}, c2→{7}: after 2 rounds (exact integer divisions):
    //   a(7)=scale, a(8)=0.6·scale; h(c1)=scale, h(c2)=0.625·scale
    val g = Seq((1L, 7L), (1L, 8L), (2L, 7L)).toDF("c", "s")
    val out = Graph.hitsBipartite(g, "c", "s", iters = 2)
      .collect().map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap
    assert(out(("auth", 7L)) == 1000000000000L)
    assert(out(("auth", 8L)) == 600000000000L)
    assert(out(("hub", 1L)) == 1000000000000L)
    assert(out(("hub", 2L)) == 625000000000L)
  }

  test("hitsBipartite: partitioning-independent; max-norm keeps a top score of scale") {
    val g = (for (c <- 1L to 9L; s <- 1L to 9L if (c * s) % 4 != 1)
      yield (c, s)).toDF("c", "s")
    val a = Graph.hitsBipartite(g, "c", "s", iters = 3)
      .orderBy("side", "node").collect().toSeq
    val b = Graph.hitsBipartite(g.repartition(11), "c", "s", iters = 3)
      .orderBy("side", "node").collect().toSeq
    assert(a == b)
    val bySide = a.groupBy(_.getString(1))
    assert(bySide("hub").map(_.getLong(2)).max == 1000000000000L)
    assert(bySide("auth").map(_.getLong(2)).max == 1000000000000L)
  }

  test("hitsBipartite guards: empty edges and bad iters fail loudly") {
    assertThrows[IllegalArgumentException] {
      Graph.hitsBipartite(Seq.empty[(Long, Long)].toDF("c", "s"), "c", "s")
    }
    assertThrows[IllegalArgumentException] {
      Graph.hitsBipartite(Seq((1L, 2L)).toDF("c", "s"), "c", "s", iters = 0)
    }
  }

  test("butterflyCounts: K2,2 and K2,3 agree with hand counts") {
    // K2,2 {1,2}×{10,11}: each right node sits in 1 butterfly, deg 2.
    // K2,3 {5,6}×{20,21,22}: every right pair shares 2 lefts → C(2,2)=1
    // butterfly per pair → each right node is in 2 of the 3 pairs → 2.
    val g = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (5L, 20L), (5L, 21L), (5L, 22L), (6L, 20L), (6L, 21L), (6L, 22L))
    val out = Graph.butterflyCounts(g.toDF("l", "r"), "l", "r")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L) == (2L, 1L) && out(11L) == (2L, 1L))
    assert(out(20L) == (2L, 2L) && out(21L) == (2L, 2L) && out(22L) == (2L, 2L))
  }

  test("butterflyCounts: duplicates normalize; a star has zero butterflies; " +
    "partitioning-independent") {
    val star = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 10L))
    val s = Graph.butterflyCounts(star.toDF("l", "r"), "l", "r")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s.values.forall(_ == 0L), "one left node cannot close a 4-cycle")
    val g = (for (l <- 1L to 5L; r <- 10L to 15L if (l + r) % 3 != 0)
      yield (l, r)).toDF("l", "r")
    val a = Graph.butterflyCounts(g, "l", "r").orderBy("node").collect().toSeq
    val b = Graph.butterflyCounts(g.repartition(13), "l", "r")
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("deterministicWalks: paths are valid, sink-terminated, and replayable") {
    // 1→{2,3}, 2→{3}, 3→∅ (sink): every walk from 1 reaches 3 and stops
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.deterministicWalks(g, "src", "dst",
      steps = 3, walksPerNode = 2).collect()
    val byWalk = out.groupBy(r => (r.getLong(0), r.getLong(1)))
    assert(byWalk.keySet == Set((1L, 0L), (1L, 1L), (2L, 0L), (2L, 1L)))
    val edges = Set((1L, 2L), (1L, 3L), (2L, 3L))
    byWalk.foreach { case ((start, _), rows) =>
      val path = rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq
      assert(path.head == start, "step 0 is the start node")
      path.sliding(2).foreach {
        case Seq(u, v) => assert(edges.contains((u, v)), s"invalid hop $u->$v")
        case _ => ()
      }
      assert(path.last == 3L, "every walk is absorbed by the sink")
      assert(path.length <= 3, "walks stop at the sink, not pad to `steps`")
    }
  }

  test("deterministicWalks: partitioning-independent; distinct widx can diverge") {
    val g = (for (i <- 1L to 6L; j <- 1L to 6L if i != j) yield (i, j))
      .toDF("src", "dst")
    val a = Graph.deterministicWalks(g, "src", "dst", steps = 4,
      walksPerNode = 4).orderBy("start", "widx", "step").collect().toSeq
    val b = Graph.deterministicWalks(g.repartition(13), "src", "dst", steps = 4,
      walksPerNode = 4).orderBy("start", "widx", "step").collect().toSeq
    assert(a == b)
    // on a complete digraph no walk terminates early and the md5 draws
    // separate at least some widx pairs into different paths
    assert(a.size == 6 * 4 * 5)
    val paths = a.groupBy(r => (r.getLong(0), r.getLong(1))).toSeq
      .map { case ((s, _), rows) =>
        s -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq }
    assert(paths.groupBy(_._1).exists(_._2.map(_._2).toSet.size > 1),
      "some start node must have divergent walks")
  }

  test("componentsIncremental: batch merge equals full recompute (bit-for-bit)") {
    // 40-node pseudo-random graph; a deterministic 1-in-3 predicate splits
    // edges into base corpus vs new batch — the same shape x135 uses
    val all = (for (i <- 1L to 60L) yield {
      val a = (i * 17) % 40 + 1
      val b = (i * 29) % 40 + 1
      (math.min(a, b), math.max(a, b))
    }).distinct.filter { case (a, b) => a != b }
    val (batch, base) = all.partition { case (a, b) => (a + b) % 3 == 0 }
    val baseLabels = Graph.connectedComponents(
      base.toDF("src", "dst"), "src", "dst")
    val inc = Graph.componentsIncremental(baseLabels,
      batch.toDF("src", "dst"), "src", "dst")
      .orderBy("node").collect().toSeq
    val full = Graph.connectedComponents(all.toDF("src", "dst"), "src", "dst")
      .orderBy("node").collect().toSeq
    assert(inc == full, "incremental fixpoint must equal the from-scratch fixpoint")
  }

  test("componentsIncremental: unseen nodes join, disjoint batch self-labels, " +
    "merge takes the min canonical") {
    // base: {1,2} and {5,6}; batch: 2-5 (merges them → canonical 1),
    // 8-9 (entirely new nodes → canonical 8)
    val base = Graph.connectedComponents(
      Seq((1L, 2L), (5L, 6L)).toDF("src", "dst"), "src", "dst")
    val out = Graph.componentsIncremental(base,
      Seq((2L, 5L), (8L, 9L)).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("componentsIncremental: an empty batch returns the labeling unchanged; " +
    "a batch inside one component is a no-op") {
    val base = Graph.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst")
    val noBatch = Graph.componentsIncremental(base,
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
      .orderBy("node").collect().toSeq
    assert(noBatch.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    // an edge both of whose endpoints already share a component
    val sameComp = Graph.componentsIncremental(base,
      Seq((1L, 3L)).toDF("src", "dst"), "src", "dst")
      .orderBy("node").collect().toSeq
    assert(sameComp.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("componentsIncremental is partitioning-independent") {
    val all = (1L to 20L).map(i => (i, i % 7 + 21L))
    val (batch, base) = all.partition { case (a, _) => a % 4 == 0 }
    val lab = Graph.connectedComponents(base.toDF("src", "dst"), "src", "dst")
    val a = Graph.componentsIncremental(lab, batch.toDF("src", "dst"),
      "src", "dst").orderBy("node").collect().toSeq
    val lab2 = Graph.connectedComponents(
      base.toDF("src", "dst").repartition(11), "src", "dst")
    val b = Graph.componentsIncremental(lab2,
      batch.toDF("src", "dst").repartition(13), "src", "dst")
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("bfsLevels: distances and winning seeds match a hand-walked graph") {
    // path 1-2-3-4-5 plus branch 3-6; seeds {1, 5}:
    //   1:(0,1) 2:(1,1) 3:(2,1)  [3 is dist 2 from both — min seed 1]
    //   4:(1,5) 5:(0,5) 6:(3,1)  [6 via 3: seed 1 at dist 3; via 5: 3 hops
    //                             too (5-4-3-6) — min seed 1]
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L))
    val out = Graph.bfsLevels(g.toDF("src", "dst"), "src", "dst",
      seeds = Seq(1L, 5L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (0L, 1L), 2L -> (1L, 1L), 3L -> (2L, 1L),
      4L -> (1L, 5L), 5L -> (0L, 5L), 6L -> (3L, 1L)))
  }

  test("bfsLevels: unreachable nodes are absent; isolated seed self-reports; " +
    "partitioning-independent") {
    // component {1,2} seeded, component {8,9} not; seed 20 not in graph
    val g = Seq((1L, 2L), (8L, 9L))
    val out = Graph.bfsLevels(g.toDF("src", "dst"), "src", "dst",
      seeds = Seq(1L, 20L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (0L, 1L), 2L -> (1L, 1L), 20L -> (0L, 20L)),
      "8/9 unreachable → absent; the off-graph seed still reports itself")
    val big = (1L to 30L).map(i => (i, (i * 7) % 30 + 1)).toDF("src", "dst")
    val a = Graph.bfsLevels(big, "src", "dst", Seq(1L, 13L))
      .orderBy("node").collect().toSeq
    val b = Graph.bfsLevels(big.repartition(13), "src", "dst", Seq(1L, 13L))
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("bfsLevels guards: empty seeds and bad iters fail loudly") {
    val g = Seq((1L, 2L)).toDF("src", "dst")
    assertThrows[IllegalArgumentException] {
      Graph.bfsLevels(g, "src", "dst", seeds = Seq.empty)
    }
    assertThrows[IllegalArgumentException] {
      Graph.bfsLevels(g, "src", "dst", seeds = Seq(1L), maxIters = 0)
    }
    // a long path with too little headroom must refuse, not silently cap
    val path = (1L to 12L).map(i => (i, i + 1))
    assertThrows[IllegalArgumentException] {
      Graph.bfsLevels(path.toDF("src", "dst"), "src", "dst",
        seeds = Seq(1L), maxIters = 3)
    }
  }

  test("sharedNeighborScores: RA weights match hand arithmetic") {
    // suppliers: 10 shared by {1,2,3} (deg 3), 11 shared by {1,2} (deg 2),
    // 12 only by 3 (deg 1). scale=1000 → w(10)=333, w(11)=500.
    //   (1,2): shared {10,11} → 333+500 = 833
    //   (1,3), (2,3): shared {10} → 333
    val g = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 11L),
      (3L, 12L))
    val out = Graph.sharedNeighborScores(g.toDF("c", "s"), "c", "s",
      scale = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map((1L, 2L) -> (2L, 833L), (1L, 3L) -> (1L, 333L),
      (2L, 3L) -> (1L, 333L)))
  }

  test("sharedNeighborScores: duplicates normalize; no shared neighbor → " +
    "no row; partitioning-independent") {
    val dup = Seq((1L, 10L), (1L, 10L), (2L, 10L), (3L, 11L))
    val out = Graph.sharedNeighborScores(dup.toDF("c", "s"), "c", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 1L), "3 shares nothing — pair absent")
    val g = (for (c <- 1L to 9L; s <- 10L to 15L if (c * s) % 4 != 1)
      yield (c, s)).toDF("c", "s")
    val a = Graph.sharedNeighborScores(g, "c", "s")
      .orderBy("a", "b").collect().toSeq
    val b = Graph.sharedNeighborScores(g.repartition(11), "c", "s")
      .orderBy("a", "b").collect().toSeq
    assert(a == b)
  }

  test("recommendations: scores, novelty, and rank ties match hand arithmetic") {
    // c1:{10,11} c2:{10,11,12} c3:{12,13}; every supplier deg 2 except 13
    // (deg 1). scale=1000 → ra(1,2)=1000 (two shared), ra(2,3)=500.
    //   c1: only novel candidate is 12 via c2 → (1000, 1 contributor)
    //   c2: novel 13 via c3 → (500, 1)
    //   c3: novel 10 and 11, both 500 via c2 — tie broken by supplier id
    val g = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 12L), (3L, 13L))
    val out = Graph.recommendations(g.toDF("c", "s"), "c", "s", k = 2,
      scale = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      (1L, 1L) -> (12L, 1000L, 1L),
      (2L, 1L) -> (13L, 500L, 1L),
      (3L, 1L) -> (10L, 500L, 1L),
      (3L, 2L) -> (11L, 500L, 1L)))
  }

  test("recommendations: k caps per-left output; no peers → no rows; " +
    "partitioning-independent") {
    val lonely = Seq((1L, 10L), (2L, 11L)) // no shared supplier, no pairs
    assert(Graph.recommendations(lonely.toDF("c", "s"), "c", "s", k = 3)
      .collect().isEmpty)
    val g = (for (c <- 1L to 8L; s <- 10L to 16L if (c + s) % 3 != 0)
      yield (c, s)).toDF("c", "s")
    val a = Graph.recommendations(g, "c", "s", k = 2)
      .orderBy("l", "rank").collect().toSeq
    val b = Graph.recommendations(g.repartition(11), "c", "s", k = 2)
      .orderBy("l", "rank").collect().toSeq
    assert(a == b)
    assert(a.groupBy(_.getLong(0)).values.forall(_.size <= 2))
    assertThrows[IllegalArgumentException] {
      Graph.recommendations(g, "c", "s", k = 0)
    }
  }

  test("every superstep reads the cached edges; the dangling mass enters " +
    "as a literal (no per-round broadcast or cartesian)") {
    Graph.capturePlans = true
    try {
      Graph.pageRankFixedPoint(diamond.toDF("src", "dst"), "src", "dst", iters = 3)
        .collect()
      assert(Graph.lastStepPlans.size == 3)
      Graph.lastStepPlans.foreach { p =>
        assert(p.contains("InMemoryTableScan"),
          "superstep must read the persisted edge/rank state, not recompute lineage")
        assert(!p.contains("CartesianProduct"),
          "no cartesian may appear in a superstep")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          "the dangling mass rides the materializing job as a driver literal — " +
            "a per-round broadcast join would mean the old two-job shape is back")
      }
    } finally {
      Graph.capturePlans = false
      Graph.lastStepPlans.clear()
    }
  }
}
