package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy sequence packing — group documents into context-window bins so a
  * training run wastes as little of each sequence as possible.
  *
  * True first-fit packing is inherently sequential, so the scalable shape is
  * two-level and fully deterministic:
  *
  *   1. coarse SHARDS via the distributed prefix sum (Sharding.assignShards)
  *      — order-preserving, ~`shardBudget` tokens each, so every shard is a
  *      bounded in-memory unit regardless of corpus size;
  *   2. greedy first-fit WITHIN each shard (flatMapGroups, docs in id
  *      order): a document joins the current bin unless it would overflow
  *      `contextLen`, else it opens the next bin. A document larger than the
  *      context window sits alone in its own bin.
  *
  * Bin ids are local to their shard; (shard, bin) is the global pack key.
  * The result is a pure function of (ids, token counts, contextLen,
  * shardBudget) — no partitioning or cluster-size sensitivity — which is
  * what makes the exact SQL oracle possible. The shard layout cache is
  * released by the caller's Scope. */
object SequencePacking {

  def packGreedy(
      docs: DataFrame,
      idCol: String,
      tokenCol: String,
      contextLen: Long,
      shardBudget: Long = 0L): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val budget = if (shardBudget > 0) shardBudget else contextLen * 128
    val spark = docs.sparkSession
    import spark.implicits._

    val sharded = Sharding.assignShards(
      docs.select(col(idCol), col(tokenCol)), idCol, tokenCol, budget)
      .select(col(idCol).cast("long"), col(tokenCol).cast("long"), col("shard"))
      .as[(Long, Long, Long)]

    sharded
      .groupByKey(_._3)
      .flatMapGroups { (shard, it) =>
        val rows = it.toArray.sortBy(_._1)
        var bin = 0L
        var fill = 0L
        rows.iterator.map { case (id, tok, _) =>
          if (fill > 0 && fill + tok > contextLen) { bin += 1; fill = tok }
          else fill += tok
          (id, tok, shard, bin)
        }
      }
      .toDF(idCol, tokenCol, "shard", "bin")
  }
}
