package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Three duplicate groups (identical vectors — cos 1.0, and identical
    * points can never straddle a Voronoi boundary, so the recall caveat of
    * cell blocking cannot bite regardless of where Lloyd puts centroids) +
    * mutually-orthogonal noise. */
  private def fixture = {
    val a = Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)
    val c = Array(0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f)
    val rows =
      (1L to 5L).map(i => (i, a)) ++
      (11L to 15L).map(i => (i, b)) ++
      (21L to 23L).map(i => (i, c)) ++
      Seq(
        (31L, Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)),
        (32L, Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)),
        (33L, Array(0f, 0f, 0f, 0f, 0f, 0f, 1f, 0f)))
    rows.toDF("vec_id", "embedding")
  }

  test("cell-blocked semantic dedup equals the brute-force ground truth") {
    val df = fixture
    def clusters(out: Array[org.apache.spark.sql.Row]) =
      out.map(r => r.getLong(0) -> r.getLong(1)).toSet

    val got = clusters(Similarity.semanticDupClusters(df, "vec_id", "embedding",
      threshold = 0.9, nCentroids = 8).collect())

    // ground truth: exact all-pairs → same component collapse
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truthPairs = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .where(col("sim") >= 0.9)
      .select("id_a", "id_b")
    val expected = clusters(Dedup.duplicateClusters(truthPairs).collect())

    assert(got == expected, s"got $got expected $expected")
    // sanity on the fixture itself: three groups, min-id representatives,
    // noise absent
    val byCluster = expected.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byCluster.keySet == Set(1L, 11L, 21L))
    assert(byCluster(1L) == Set(1L, 2L, 3L, 4L, 5L))
    assert(!expected.exists(p => p._1 >= 31L))
  }

  test("Lloyd variant at the x42 parameter point: non-empty, pinned id-recall vs brute force") {
    // the Lloyd-fitted quantizer at the same (threshold, cells, passes)
    // point the x42 entry ships (the entry itself now runs the pivot
    // variant — next test), on the same sf0.01 embeddings the driver
    // verifies with — this keeps the quality path's contract pinned and
    // guards the round-4 regression (threshold 0.5 > the corpus's max
    // pairwise sim returned 0 rows)
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val got = Similarity.semanticDupClusters(emb, "vec_id", "embedding",
      threshold = 0.35, nCentroids = 16, passes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got.nonEmpty, "x42 at shipped params must find clusters, not run the empty path")

    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truthPairs = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .where(col("sim") >= 0.35)
      .select("id_a", "id_b")
    val truthIds = Dedup.duplicateClusters(truthPairs)
      .collect().map(_.getLong(0)).toSet

    // every id the cell-blocked path marks is a true duplicate (exact
    // cosine verify inside the cell) — id precision is 1 by construction
    val gotIds = got.map(_._1)
    assert(gotIds.subsetOf(truthIds),
      s"non-duplicate ids marked: ${(gotIds -- truthIds).take(5)}")
    // recall floor, measured-then-pinned (cell-straddle misses are the only
    // loss mode; rotated-seed passes are what keeps this high — measured on
    // this fixture: 0.414 at 1 pass, 0.642 at 2, 0.749 at 3, 0.843 at 4)
    val recall = gotIds.size.toDouble / truthIds.size
    info(f"semantic-dedup id recall at shipped params = $recall%.3f (${gotIds.size}/${truthIds.size})")
    assert(recall >= 0.80, f"id recall $recall%.3f below pinned 0.80")

    // rotated passes are a one-way dial: unioning pair sets can only add
    // edges, so the multi-pass id set must dominate a single pass
    val onePassIds = Similarity.semanticDupClusters(emb, "vec_id", "embedding",
      threshold = 0.35, nCentroids = 16, passes = 1)
      .collect().map(_.getLong(0)).toSet
    info(f"single-pass id recall = ${onePassIds.size.toDouble / truthIds.size}%.3f")
    assert(onePassIds.subsetOf(gotIds),
      "rotated-seed passes lost ids a single pass found")
  }

  test("x42 SHIPPED pivot variant: non-empty, id-precision 1, pinned recall, layout-independent") {
    // the x42 entry now ships the PIVOT quantizer (SQL-replayable cells) —
    // same SemDeDup recipe, same exact-cosine verify, so id precision stays
    // 1 by construction; recall vs brute force is measured-then-pinned for
    // the pivot blocking specifically
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val got = Similarity.semanticDupClustersPivots(emb, "vec_id", "embedding",
      threshold = 0.35, nCells = 16, seed = "v1", passes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got.nonEmpty, "x42 pivot path must find clusters, not run the empty path")

    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truthPairs = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .where(col("sim") >= 0.35)
      .select("id_a", "id_b")
    val truthIds = Dedup.duplicateClusters(truthPairs)
      .collect().map(_.getLong(0)).toSet

    val gotIds = got.map(_._1)
    assert(gotIds.subsetOf(truthIds),
      s"non-duplicate ids marked: ${(gotIds -- truthIds).take(5)}")
    val recall = gotIds.size.toDouble / truthIds.size
    info(f"pivot semantic-dedup id recall = $recall%.3f (${gotIds.size}/${truthIds.size})")
    assert(recall >= 0.60, f"pivot id recall $recall%.3f below pinned 0.60")

    // layout independence — the property the DuckDB replay depends on
    val again = Similarity.semanticDupClustersPivots(emb.repartition(13),
      "vec_id", "embedding", threshold = 0.35, nCells = 16, seed = "v1",
      passes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(again == got, "pivot clustering must be independent of partition layout")
  }

  test("orthogonal-only corpus: nothing clears the threshold, result empty") {
    val noise = (1L to 8L).map { i =>
      (i, Array.tabulate(8)(d => if (d == (i - 1).toInt) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.semanticDupClusters(noise, "vec_id", "embedding",
      threshold = 0.9, nCentroids = 4)
    assert(out.isEmpty)
  }
}
