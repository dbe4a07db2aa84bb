package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.{FuzzyLinkage, Scope}

/** Streaming leg of the budget-gated routed similarity join — the
  * [[graft.operators.FuzzyLinkage.similarityJoinAuto]] guard rail made
  * CONTINUOUS: a stream of dirty strings is matched per micro-batch
  * against a pre-built [[graft.operators.FuzzyLinkage.QgramIndex]] over
  * the stored clean corpus, and EVERY batch is re-priced before it
  * executes — the exact ED-Join candidates when the batch's projected
  * candidate volume fits the budget, the index's pinned signature
  * banding when it does not (a batch of low-entropy strings colliding
  * with the corpus's common grams flips itself to the approximate route
  * without taking the whole pipeline down).
  *
  * Scale posture: all corpus-scaled frames (side projection, df
  * spectrum, prefixes + counts, banding, length histogram) live in the
  * index, persisted once; per batch the engine pays batch-linear gram
  * work + ONE collected pricing row, and with the default broadcast the
  * index's prefix/band tables never shuffle. foreachBatch is
  * at-least-once, so each batch overwrites its own batch=<id> partition
  * (the CheckStream idempotent-sink recipe).
  */
object StreamingLinkage {

  /** One micro-batch through the routed matcher — also the batch-fold
    * parity surface the specs pin. Output: (left_id, right_id, dist,
    * route), lazy: the caller consumes it inside a Scope (`intoParquet`
    * does). The index's frames stay pinned across batches by design. */
  def matchBatch(
      batch: DataFrame,
      index: FuzzyLinkage.QgramIndex,
      leftId: String,
      leftCol: String,
      budgetPairs: Long = 100000000L,
      broadcastBatch: Boolean = true): DataFrame =
    FuzzyLinkage.incrementalSimilarityJoin(
      batch, index, leftId, leftCol, budgetPairs, broadcastBatch)

  /** Wire a string stream into a parquet sink of routed matches: each
    * micro-batch prices, routes, matches, and lands under its own
    * batch=<id> partition (Overwrite — replays are idempotent). */
  def intoParquet(
      stream: DataFrame,
      index: FuzzyLinkage.QgramIndex,
      leftId: String,
      leftCol: String,
      outDir: String,
      checkpointDir: String,
      budgetPairs: Long = 100000000L,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Scope {
          matchBatch(batch, index, leftId, leftCol, budgetPairs)
            .write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$outDir/batch=$batchId")
        }
      }
      .start()
}
