package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.{Graph, Scope}

/** Streaming leg of the x135 incremental connected components: the entity
  * graph's labeling as a LIVE asset, folded one edge micro-batch at a time
  * through Graph.componentsIncremental — each batch costs endpoint label
  * lookups + a batch-sized label-merge CC + ONE broadcast remap of the
  * labeling; the labeling itself is never rescanned edge-by-edge.
  *
  * State posture: the store holds exactly one labeling checkpoint (two
  * longs per node, lineage-truncated); every merge eagerly materializes
  * the next labeling and releases the previous one, so two labelings are
  * alive only for the duration of a merge — the same two-tables-alive
  * discipline as the Pregel supersteps in Graph.
  *
  * Delivery semantics: foreachBatch is at-least-once, and the merge is
  * IDEMPOTENT by construction — re-merging already-merged edges connects
  * components to themselves, the canonical remap is empty, and the
  * labeling is unchanged (pinned by spec). So replays are safe with no
  * dedup bookkeeping. */
object StreamingComponents {

  /** The evolving labeling. Thread-safe: merges serialize on the store. */
  final class ComponentStore(spark: SparkSession) {
    import spark.implicits._

    @volatile private var current: DataFrame =
      Seq.empty[(Long, Long)].toDF("node", "comp").localCheckpoint(true)

    /** The labeling as of the last completed merge: (node, comp) with
      * comp = the smallest node id in the component. */
    def labels: DataFrame = current

    /** Fold one batch of edges into the labeling. */
    def merge(batchEdges: DataFrame, srcCol: String, dstCol: String): Unit =
      synchronized {
        // eager: materialize before the Scope releases the merge's caches
        val next = Scope {
          Graph.componentsIncremental(current, batchEdges, srcCol, dstCol)
            .localCheckpoint(true)
        }
        Scope.release(current)
        current = next
      }
  }

  /** Wire an edge stream into a store. Each micro-batch advances the
    * labeling; read `store.labels` between batches for the current
    * fixpoint. */
  def intoStore(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      store: ComponentStore): StreamingQuery =
    edges.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.merge(batch, srcCol, dstCol)
      }
      .start()
}
