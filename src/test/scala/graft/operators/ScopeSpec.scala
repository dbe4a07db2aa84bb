package graft.operators

import graft.SparkSpec

class ScopeSpec extends SparkSpec {
  import spark.implicits._

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  test("a nested Scope releases only its own frames") {
    Scope {
      val outer = Scope.persist(Seq(1L, 2L, 3L).toDF("a"))
      val inner = Scope {
        val in = Scope.persist(Seq(4L, 5L).toDF("b"))
        assert(cached(outer) && cached(in))
        in
      }
      assert(!cached(inner), "the inner Scope must release its frame")
      assert(cached(outer), "the inner Scope must not release the outer frame")
      assert(outer.count() == 3L)
    }
  }

  test("a body that throws still releases") {
    var df: org.apache.spark.sql.DataFrame = null
    intercept[IllegalStateException] {
      Scope {
        df = Scope.persist(Seq(1L, 2L).toDF("a"))
        df.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(!cached(df))
  }

  test("a greedy selection round that throws leaves no cached plan or persisted RDD") {
    import org.apache.spark.sql.functions._
    // a null vector ranks last, so with only one other row the round's
    // pick has none and the driver side of the round fails
    val vecs = Seq((1L, Some(Array(0f, 1f))), (2L, None: Option[Array[Float]]))
      .toDF("vec_id", "embedding")
    // a failing row makes the round's own Spark action fail
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("id", "text")
      .withColumn("text", when(col("id") === 2L, raise_error(lit("bad row")))
        .otherwise(col("text")))
    val rounds: Seq[(String, () => Any)] = Seq(
      "kCenterCoreset" -> (() => Similarity.kCenterCoreset(vecs, "vec_id", "embedding", k = 2)),
      "mmrSelect" -> (() => Similarity.mmrSelect(vecs, "vec_id", "embedding", Seq(1.0, 0.0),
        k = 2, lambda = 0.5)),
      "coverageSelect" -> (() => TrainingDataPipeline.coverageSelect(docs, "text", "id", k = 2)),
      "learnMerges" -> (() => BpeTrainer.learnMerges(docs, "text", numMerges = 2,
        localVocabThreshold = 0)))
    for ((name, round) <- rounds) {
      val before = graft.SparkProbe.held(spark)
      intercept[Exception](Scope(round()))
      val after = graft.SparkProbe.held(spark)
      assert(after._1.filterNot(p => before._1.exists(_ eq p)).isEmpty, s"$name left a cached plan")
      assert((after._2 -- before._2).isEmpty, s"$name left a persisted RDD")
    }
  }

  test("a tracked localCheckpoint RDD leaves getPersistentRDDs when its Scope closes") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val during = Scope {
      Scope.checkpoint(Seq(1L, 2L, 3L).toDF("a"), eager = true).count()
      spark.sparkContext.getPersistentRDDs.keySet -- before
    }
    assert(during.nonEmpty, "the checkpoint RDD is persisted while the Scope is open")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
