package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** silhouetteReport contracts: agreement with an independent reference
  * of the pinned definition (int8 quantization → pivot cells → exact
  * integer numerators → ppm scores), the singleton-cell convention,
  * the one-populated-cell degeneracy, the global row, partitioning
  * independence, and guards. */
class SilhouetteSpec extends SparkSpec {
  import spark.implicits._

  /** The two corpus ids with the smallest md5("v1:id") become the
    * pivots — computed here so tests can PLACE the pivots. */
  private def pivotIds(ids: Seq[Long], n: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ids.map { id =>
      val h = md.digest(s"v1:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (h, id)
    }.sorted.take(n).map(_._2)
  }

  private def df(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  /** Independent reference of the exact pinned definition. */
  private def reference(rows: Seq[(Long, Array[Float])], nCells: Int)
      : Map[Long, (Long, Long, Option[Long])] = {
    val piv = pivotIds(rows.map(_._1), nCells)
      .map(id => rows.find(_._1 == id).get._2.map(_.toDouble))
    def cellOf(v: Array[Float]): Int =
      piv.zipWithIndex.map { case (p, c) =>
        (v.map(_.toDouble).zip(p).map { case (x, y) => (x - y) * (x - y) }.sum, c)
      }.min._2
    val quant = rows.map { case (id, v) =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      val q = v.map(x =>
        if (scale == 0.0) 0L else math.floor(x.toDouble / scale + 0.5).toLong)
      (id, cellOf(v), q)
    }
    val byCell = quant.groupBy(_._2).map { case (c, ps) =>
      val n = ps.size.toLong
      val s = ps.map(_._3).transpose.map(_.sum)
      c -> (n, s)
    }
    val scores = quant.map { case (id, own, q) =>
      def dist(c: Int): Double = {
        val (n, s) = byCell(c)
        q.zip(s).map { case (qd, sd) =>
          val t = qd * n - sd; (t * t).toDouble
        }.sum / (n.toDouble * n.toDouble)
      }
      val a = dist(own)
      val others = byCell.keys.filter(_ != own)
      val sPpm: Option[Long] =
        if (others.isEmpty) None
        else if (byCell(own)._1 == 1L) Some(0L)
        else {
          val b = others.map(dist).min
          if (math.max(a, b) == 0.0) Some(0L)
          else Some(math.round(1e6 * (b - a) / math.max(a, b)))
        }
      (id, own.toLong, sPpm)
    }
    scores.groupBy(_._2).map { case (c, ss) =>
      val scored = ss.flatMap(_._3)
      c -> (ss.size.toLong, scored.size.toLong,
        if (scored.isEmpty) None else Some(scored.sum / scored.size))
    }
  }

  private def run(rows: Seq[(Long, Array[Float])], nCells: Int)
      : Map[Long, (Long, Long, Option[Long])] = {
    val out = Clustering.silhouetteReport(df(rows), "vec_id", "embedding",
      nCells = nCells).collect()
    out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
  }

  test("two separated blobs: matches the reference per cell; mean close to 1e6") {
    val ids = (1L to 10L)
    val Seq(p1, p2) = pivotIds(ids, 2)
    // p1 anchors blob A near (100, 0); p2 anchors blob B near (0, 100)
    val aIds = ids.filter(_ != p2).take(5).toSeq
    val bIds = ids.filterNot(aIds.contains).toSeq
    assert(aIds.contains(p1) && bIds.contains(p2))
    val rows =
      aIds.zipWithIndex.map { case (id, i) =>
        (id, Array(100.0f + i, i.toFloat)) } ++
      bIds.zipWithIndex.map { case (id, i) =>
        (id, Array(i.toFloat, 100.0f + i)) }
    val got = run(rows, 2)
    val exp = reference(rows, 2)
    assert(got.filterKeys(_ >= 0).toMap == exp)
    // the global row aggregates all scored points
    assert(got(-1L)._1 == 10L && got(-1L)._2 == 10L)
    assert(got(-1L)._3.get > 900000L)
  }

  test("a singleton cell scores 0 (the sklearn convention)") {
    val ids = (1L to 6L)
    val Seq(p1, p2) = pivotIds(ids, 2)
    // everyone huddles near p1's blob except p2, alone and far away
    val rows = ids.map { id =>
      if (id == p2) (id, Array(500.0f, 500.0f))
      else (id, Array(10.0f + id, 10.0f)) }.toSeq
    val got = run(rows, 2)
    val exp = reference(rows, 2)
    assert(got.filterKeys(_ >= 0).toMap == exp)
    val singletonCell = got.find { case (c, (n, _, _)) => c >= 0 && n == 1L }
    assert(singletonCell.get._2._3.contains(0L))
  }

  test("one populated cell: nothing is scored, means are NULL") {
    val rows = (1L to 5L).map(id => (id, Array(3.0f, 4.0f))).toSeq
    val got = run(rows, 2)
    assert(got.values.forall { case (_, nScored, mean) =>
      nScored == 0L && mean.isEmpty })
  }

  test("report is partitioning-independent") {
    val rows = (1L to 40L).map(id =>
      (id, Array((id % 7).toFloat * 3, (id % 5).toFloat * 2, id.toFloat / 4)))
    val a = Clustering.silhouetteReport(df(rows), "vec_id", "embedding",
      nCells = 4).collect().map(_.toString).toSeq
    val b = Clustering.silhouetteReport(df(rows).repartition(9), "vec_id",
      "embedding", nCells = 4).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("nCells guard") {
    assertThrows[IllegalArgumentException] {
      Clustering.silhouetteReport(
        df(Seq((1L, Array(1.0f)))), "vec_id", "embedding", nCells = 1)
    }
  }
}
