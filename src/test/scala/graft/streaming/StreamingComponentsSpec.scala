package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Graph

object StreamingComponentsSpec {
  final case class Edge(src: Long, dst: Long)
}

/** Batch-vs-stream parity for the x135 incremental components: after
  * EVERY micro-batch the store's labeling must equal the from-scratch
  * fixpoint over the edge prefix — including batches that merge two
  * existing components, introduce brand-new nodes, and replay
  * already-merged edges (at-least-once delivery). */
class StreamingComponentsSpec extends SparkSpec {
  import StreamingComponentsSpec.Edge

  private def snapshot(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("labeling equals the from-scratch fixpoint after every micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batches = Seq(
      Seq(Edge(1L, 2L), Edge(5L, 6L)), // two components are born
      Seq(Edge(2L, 5L)), // merge them — the broadcast remap path
      Seq(Edge(8L, 9L), Edge(9L, 10L)), // brand-new nodes, own component
      Seq(Edge(10L, 1L), Edge(20L, 20L))) // chain merge + self-loop singleton

    val input = MemoryStream[Edge]
    val store = new StreamingComponents.ComponentStore(spark)
    val query = StreamingComponents.intoStore(input.toDF(), "src", "dst", store)

    var prefix = Seq.empty[Edge]
    batches.foreach { b =>
      input.addData(b: _*); query.processAllAvailable()
      prefix = prefix ++ b
      val batch = Graph.connectedComponents(
        prefix.toDF(), "src", "dst")
      val expected = snapshot(batch)
      assert(snapshot(store.labels) == expected,
        s"after ${prefix.size} edges")
    }
    query.stop()
    // final state sanity: everything except 20 collapsed to component 1
    val fin = snapshot(store.labels).toMap
    assert(fin == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 8L -> 1L,
      9L -> 1L, 10L -> 1L, 20L -> 20L))
  }

  test("replayed batches are idempotent (at-least-once safety)") {
    import spark.implicits._
    val store = new StreamingComponents.ComponentStore(spark)
    store.merge(Seq((1L, 2L), (5L, 6L)).toDF("src", "dst"), "src", "dst")
    store.merge(Seq((2L, 5L)).toDF("src", "dst"), "src", "dst")
    val once = snapshot(store.labels)
    // replay BOTH batches out of order — the labeling must not move
    store.merge(Seq((2L, 5L)).toDF("src", "dst"), "src", "dst")
    store.merge(Seq((5L, 6L), (1L, 2L)).toDF("src", "dst"), "src", "dst")
    assert(snapshot(store.labels) == once)
    assert(once.toMap == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("an empty micro-batch leaves the labeling untouched") {
    import spark.implicits._
    val store = new StreamingComponents.ComponentStore(spark)
    store.merge(Seq((3L, 4L)).toDF("src", "dst"), "src", "dst")
    val before = snapshot(store.labels)
    store.merge(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
    assert(snapshot(store.labels) == before)
  }
}
