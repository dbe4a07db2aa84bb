package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FuzzyLinkage

/** The routed similarity join made continuous (round-12 verdict item 7):
  * a QgramIndex over the clean corpus, batches priced + routed per
  * micro-batch. Pins (1) exact-route parity with the from-scratch
  * qgramJoin, (2) the budget flip to the index's pinned banding with the
  * subset + recall-floor contract, (3) exactness through the two-floor
  * short branch on a hand fixture, and (4) the headline: ONE stream whose
  * consecutive batches take DIFFERENT routes because each is priced
  * individually. */
class StreamingLinkageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fixture: (DataFrame, DataFrame) = {
    val d = graft.queries.Tables.documents(spark, dir)
    val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
    val dirty = d.select(col("doc_id"),
      expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
        "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
        .as("dirty_title"))
    (clean, dirty)
  }

  private lazy val index: FuzzyLinkage.QgramIndex = {
    val (clean, _) = fixture
    FuzzyLinkage.buildQgramIndex(clean, "doc_id", "title", maxDist = 1, q = 3)
  }

  private def collectPairs(df: DataFrame): Seq[(Long, Long, Long, String)] = {
    val materialized = df.orderBy("left_id", "right_id").cache()
    materialized.count()
    val rows = materialized.collect().toSeq
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"),
        r.getAs[Long]("dist"), r.getAs[String]("route")))
    materialized.unpersist(blocking = false)
    rows
  }

  private lazy val exactFromScratch: Seq[(Long, Long, Long)] = {
    val (clean, dirty) = fixture
    val out = FuzzyLinkage.qgramJoin(dirty, clean, "doc_id", "dirty_title",
      "doc_id", "title", maxDist = 1, q = 3).orderBy("left_id", "right_id")
    val materialized = out.cache()
    materialized.count()
    val rows = materialized.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    materialized.unpersist(blocking = false)
    rows
  }

  test("exact route: batch-vs-index equals the from-scratch qgramJoin") {
    val (_, dirty) = fixture
    val got = collectPairs(FuzzyLinkage.incrementalSimilarityJoin(
      dirty, index, "doc_id", "dirty_title", budgetPairs = 100000000L))
    assert(got.nonEmpty)
    assert(got.forall(_._4 == "qgram_exact"))
    assert(got.map(t => (t._1, t._2, t._3)) == exactFromScratch)
  }

  test("over budget: pinned banding, subset of exact, recall >= floor") {
    val (_, dirty) = fixture
    val got = collectPairs(FuzzyLinkage.incrementalSimilarityJoin(
      dirty, index, "doc_id", "dirty_title", budgetPairs = 1L))
    assert(got.forall(_._4 == "approximate_minhash"))
    val gotSet = got.map(t => (t._1, t._2)).toSet
    val exactSet = exactFromScratch.map(t => (t._1, t._2)).toSet
    assert(gotSet.subsetOf(exactSet),
      s"emitted ${(gotSet -- exactSet).take(3)} outside the exact set")
    val recall = gotSet.size.toDouble / exactSet.size
    assert(recall >= 0.95, s"recall $recall below floor (|exact|=${exactSet.size})")
  }

  test("two-floor short branch: hand fixture exact under BOTH routes") {
    import spark.implicits._
    // lengths straddle every threshold: minLenExact = 6, corpus sigMinLen
    // = 10, anchor = the corpus's min banded length
    val clean = Seq((1L, "ab"), (2L, "abc"), (3L, "hello"),
      (4L, "hellothereworld")).toDF("id", "v")
    val dirty = Seq((11L, "ab"), (12L, "abd"), (13L, "hallo"),
      (14L, "hellothereworlds"), (15L, "zz")).toDF("id", "v")
    val want = (for {
      (di, dv) <- Seq((11L, "ab"), (12L, "abd"), (13L, "hallo"),
        (14L, "hellothereworlds"), (15L, "zz"))
      (ci, cv) <- Seq((1L, "ab"), (2L, "abc"), (3L, "hello"),
        (4L, "hellothereworld"))
      dist = levenshteinLocal(dv, cv) if dist <= 1
    } yield (di, ci, dist.toLong)).sortBy(t => (t._1, t._2))
    val idx = FuzzyLinkage.buildQgramIndex(clean, "id", "v", maxDist = 1, q = 3)
    try {
      for (budget <- Seq(100000000L, 1L)) {
        val got = collectPairs(FuzzyLinkage.incrementalSimilarityJoin(
          dirty, idx, "id", "v", budgetPairs = budget))
        assert(got.map(t => (t._1, t._2, t._3)) == want,
          s"budget=$budget: got $got, want $want")
      }
    } finally idx.release()
  }

  test("continuous guard rail: consecutive batches of ONE stream route differently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (_, dirty) = fixture
    val small = dirty.where(col("doc_id") < 3)
    val p1 = FuzzyLinkage.incrementalPreflight(small, index, "doc_id", "dirty_title")
    val p2 = FuzzyLinkage.incrementalPreflight(dirty, index, "doc_id", "dirty_title")
    assert(p1 + 1 < p2, s"calibration failed: p1=$p1 p2=$p2")
    val budget = p1 + (p2 - p1) / 2

    val outDir = Files.createTempDirectory("slk-out").toString
    val ckpt = Files.createTempDirectory("slk-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val query = StreamingLinkage.intoParquet(
      input.toDF().toDF("doc_id", "dirty_title"), index,
      "doc_id", "dirty_title", outDir, ckpt, budgetPairs = budget)
    val smallRows = small.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val restRows = dirty.where(col("doc_id") >= 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    input.addData(smallRows: _*); query.processAllAvailable()
    input.addData(restRows: _*); query.processAllAvailable()
    query.stop()

    val out = spark.read.parquet(outDir)
      .select(col("batch"), col("left_id"), col("right_id"), col("route"))
      .collect().map(r => (r.getAs[Int]("batch"), r.getAs[Long]("left_id"),
        r.getAs[Long]("right_id"), r.getAs[String]("route")))
    val routesByBatch = out.groupBy(_._1).view
      .mapValues(_.map(_._4).toSet).toMap
    assert(routesByBatch(0) == Set("qgram_exact"),
      s"small batch priced $p1 <= $budget must route exact: $routesByBatch")
    assert(routesByBatch(1) == Set("approximate_minhash"),
      s"big batch priced $p2 > $budget must route approximate: $routesByBatch")
    // the streamed union covers each dirty row's clean twin at least as
    // well as the static approximate run of the whole set
    val streamedPairs = out.map(t => (t._2, t._3)).toSet
    val exactSet = exactFromScratch.map(t => (t._1, t._2)).toSet
    assert(streamedPairs.subsetOf(exactSet))
    val recall = streamedPairs.size.toDouble / exactSet.size
    assert(recall >= 0.95, s"streamed recall $recall")
    index.release()
  }

  private def levenshteinLocal(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }
}
