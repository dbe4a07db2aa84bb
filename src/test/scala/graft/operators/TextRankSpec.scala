package graft.operators

import graft.SparkSpec

/** textrankKeywords must run the exact shared integer-PageRank fixed
  * point over the adjacency co-occurrence graph — verified against an
  * in-memory replica of the superstep arithmetic. Also pins the
  * isomorphism-invariance claim the oracle relies on: ranks depend only
  * on graph structure, never on the node-id values. */
class TextRankSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  private def undirected(docs: Seq[String]): Set[(String, String)] =
    docs.flatMap { t =>
      val tk = toks(t)
      tk.zip(tk.drop(1)).filter(p => p._1 != p._2)
        .map(p => if (p._1 < p._2) p else p.swap)
    }.toSet

  /** In-memory replica of Graph.pageRankFixedPoint's integer supersteps
    * (scale 1e12, damp 85/100, teleport everywhere, long division at the
    * exact points the engine divides). */
  private def refRanks(
      und: Set[(String, String)], iters: Int): Map[String, (Long, Long)] = {
    val dir = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nodes = dir.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val deg = dir.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    val n = nodes.size.toLong
    val scale = 1000000000000L
    val tUnit = scale / n
    val base = ((100L - 85L) * tUnit) / 100L
    var r = nodes.map(w => (w, tUnit)).toMap
    for (_ <- 1 to iters) {
      val shares = r.collect {
        case (w, rv) if deg.getOrElse(w, 0L) > 0 => (w, rv / deg(w))
      }
      val contrib = dir.groupBy(_._2).map { case (dst, es) =>
        (dst, es.map(e => shares.getOrElse(e._1, 0L)).sum)
      }
      val dang = r.collect { case (w, rv) if deg.getOrElse(w, 0L) == 0L => rv }.sum
      val ds = dang / n
      r = nodes.map(w =>
        (w, base + (85L * (contrib.getOrElse(w, 0L) + ds)) / 100L)).toMap
    }
    nodes.map(w => (w, (r(w), deg.getOrElse(w, 0L)))).toMap
  }

  private val docs = Seq(
    "the hub connects spokes",
    "the hub links rims",
    "a hub joins wheels",
    "spokes touch rims",
    "wheels need spokes",
    "solo", // 1 token: contributes no edges
    "echo echo echo" // self-pairs only: contributes no edges
  )

  test("ranks and degrees equal the in-memory integer fixed point") {
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Vocabulary.textrankKeywords(df, "text", "doc_id",
      iters = 5, topK = 1000)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val exp = refRanks(undirected(docs), iters = 5)
    assert(got == exp, s"got $got\nexpected $exp")
  }

  test("topK truncates on (rank desc, word asc) and a hub outranks its leaves") {
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val top = Vocabulary.textrankKeywords(df, "text", "doc_id",
      iters = 5, topK = 3).collect()
    val exp = refRanks(undirected(docs), iters = 5).toSeq
      .sortBy { case (w, (r, _)) => (-r, w) }.take(3)
    assert(top.map(_.getString(0)).toSeq == exp.map(_._1))
    assert(top.head.getString(0) == "hub",
      "the highest-degree word must take rank 1 on this fixture")
  }

  test("isomorphism invariance in practice: ranks are identical across " +
    "input partitionings (node ids and execution order can't leak in)") {
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val a = Vocabulary.textrankKeywords(df.repartition(7), "text", "doc_id",
      iters = 4, topK = 1000).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val b = Vocabulary.textrankKeywords(df.coalesce(1), "text", "doc_id",
      iters = 4, topK = 1000).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }
}
