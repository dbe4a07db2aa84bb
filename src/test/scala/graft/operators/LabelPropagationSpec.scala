package graft.operators

import graft.SparkSpec

/** labelPropagation: the derandomized synchronous rounds must match an
  * in-memory reference exactly, and recover planted community structure. */
class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = sym.groupBy(_._2).map { case (n, es) => n -> es.map(_._1) }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.map(lbl).groupBy(identity)
          .map { case (l, g) => (l, g.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val out = Graph.labelPropagation(
      edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out
  }

  test("rounds match the in-memory reference on assorted shapes") {
    val shapes = Seq(
      // two 4-cliques bridged by one edge
      (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)) ++
        (for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)) ++
        Seq((3L, 10L)),
      // star
      (1L to 6L).map(i => (0L, i)),
      // path
      (0L until 7L).map(i => (i, i + 1)),
      // self-loops and duplicates must be ignored
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    for (es <- shapes; iters <- Seq(1, 3, 4)) {
      assert(run(es, iters) == reference(es, iters), s"iters=$iters, $es")
    }
  }

  test("two planted cliques keep two distinct communities") {
    val es = (for (a <- 0L to 4L; b <- 0L to 4L if a < b) yield (a, b)) ++
      (for (a <- 10L to 14L; b <- 10L to 14L if a < b) yield (a, b)) ++
      Seq((4L, 10L))
    val lbl = run(es, 4)
    val left = (0L to 4L).map(lbl)
    val right = (11L to 14L).map(lbl)
    assert(left.distinct.size == 1)
    assert(right.distinct.size == 1)
    assert(left.head != right.head)
  }
}
