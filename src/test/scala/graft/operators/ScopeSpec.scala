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
