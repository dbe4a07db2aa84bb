package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budgeted shard assignment — the "write side" of a training-data
  * pipeline: data loaders want shards of roughly equal TOKEN mass (not file
  * count), assigned deterministically so a re-run produces the same layout.
  *
  * Semantics: order documents globally by `idCol`; a document starts in
  * shard `floor(tokens_before_it / budget)`. That is a global exclusive
  * prefix sum — computed scalably as the classic two-phase distributed
  * prefix sum, NOT a single-partition global window:
  *
  *   1. range-repartition by id (a scalable sort-partitioning),
  *   2. one tiny aggregation → per-partition token totals → driver computes
  *      the per-partition offsets (numPartitions rows, metadata-sized),
  *   3. a PER-PARTITION window (parallel, no global ordering bottleneck)
  *      adds the offset.
  *
  * The ranged layout is persisted because steps 2 and 3 must see the SAME
  * partition boundaries — RangePartitioner samples its boundaries per
  * materialization, so without the persist the offsets could describe a
  * different layout than the final pass reads (a correctness requirement,
  * not a cache optimization; a production run would write the ranged data
  * out and read it back instead). The caller's Scope releases it.
  */
object Sharding {

  /** Assign each document a shard id so shards carry ~`budget` tokens each.
    * Output = input columns + `shard` (long). Deterministic in (ids, token
    * counts, budget); independent of partitioning and cluster size. */
  def assignShards(
      docs: DataFrame,
      idCol: String,
      tokenCol: String,
      budget: Long,
      numPartitions: Int = 0): DataFrame = {
    require(budget > 0, "shard token budget must be positive")
    val reservedShard = Seq("__pid", "__before", "shard")
    require(!docs.columns.exists(reservedShard.contains),
      s"assignShards reserves column names ${reservedShard.mkString(",")}")
    val spark = docs.sparkSession
    val nPart = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val parted = Scope.persist(
      docs.repartitionByRange(nPart, col(idCol))
        .withColumn("__pid", spark_partition_id()))

    // per-partition totals → exclusive offsets (metadata-sized driver work)
    val totals = parted.groupBy("__pid").agg(sum(col(tokenCol)).as("__tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      totals.toSeq.sortBy(_._1).map { case (pid, tot) =>
        val off = acc; acc += tot; pid -> off
      }.toMap
    }

    val w = Window.partitionBy("__pid").orderBy(col(idCol))
    parted
      .withColumn("__before",
        sum(col(tokenCol)).over(w) - col(tokenCol) +
          element_at(typedlit(offsets), col("__pid")))
      // integral division: exact at any corpus size (double division would
      // lose precision past 2^53 total tokens)
      .withColumn("shard", expr(s"__before div $budget"))
      .drop("__pid", "__before")
  }

  /** Deterministic global shuffle for training order: assign each document a
    * permutation position 0..n-1, ordered by md5(seed:id) — the same
    * hash-as-randomness trick as MixtureSampling, so the "shuffle" is a pure
    * function of (seed, ids): reproducible across runs, clusters and
    * partition layouts, and any contiguous slice of positions is an unbiased
    * sample of the corpus.
    *
    * Shape: the position is a global DENSE rank over the hash order —
    * computed with the same two-phase recipe as assignShards (range
    * partition by hash key → metadata-sized per-partition counts → driver
    * offsets → per-partition row_number + offset), NEVER a global
    * single-partition window. Cost at any scale: one range exchange.
    *
    * Output = input columns + `pos` (long, 0-based). Consume the result
    * inside a Scope. */
  /** Global 0-based rank over an arbitrary lexicographic column order — the
    * same two-phase recipe as assignShards/shufflePositions (range exchange
    * → metadata-sized per-partition counts → driver offsets → parallel
    * per-partition row_number + offset), generalized to any sort key. The
    * caller must make `orderCols` a total order (end with a unique id);
    * ties would otherwise make the rank nondeterministic. Output = input
    * columns + `pos` (long). Consume the result inside a Scope. */
  def rankByColumns(
      docs: DataFrame,
      orderCols: Seq[String],
      numPartitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "rankByColumns needs at least one order column")
    require(!docs.columns.contains("pos") && !docs.columns.contains("__pid"),
      "rankByColumns reserves column names pos, __pid")
    val spark = docs.sparkSession
    val nPart = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val parted = Scope.persist(
      docs.repartitionByRange(nPart, orderCols.map(col): _*)
        .withColumn("__pid", spark_partition_id()))

    val counts = parted.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.toSeq.sortBy(_._1).map { case (pid, n) =>
        val off = acc; acc += n; pid -> off
      }.toMap
    }

    val w = Window.partitionBy("__pid").orderBy(orderCols.map(col): _*)
    parted
      .withColumn("pos",
        row_number().over(w).cast("long") - 1L +
          element_at(typedlit(offsets), col("__pid")))
      .drop("__pid")
  }

  /** Deterministic round-robin interleave across sources — the data-loader
    * ordering that cycles source1, source2, … so no training window sees a
    * long single-source run (the failure mode of plain source-sorted
    * order). Semantics: rank rows within each source (by idCol), then
    * order globally by (within-source rank, source). Output = input
    * columns + `pos` (long, 0-based). Shape: one keyed exchange for the
    * per-source window + the rankByColumns range exchange — no global
    * single-partition window at any step. */
  def interleavePositions(
      docs: DataFrame,
      sourceCol: String,
      idCol: String,
      numPartitions: Int = 0): DataFrame = {
    require(!docs.columns.contains("__r"),
      "interleavePositions reserves column name __r")
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(idCol))
    val ranked = docs.withColumn("__r", row_number().over(w).cast("long"))
    rankByColumns(ranked, Seq("__r", sourceCol, idCol), numPartitions)
      .drop("__r")
  }

  def shufflePositions(
      docs: DataFrame,
      idCol: String,
      seed: String,
      numPartitions: Int = 0): DataFrame = {
    val reservedPos = Seq("__key", "__pid", "pos")
    require(!docs.columns.exists(reservedPos.contains),
      s"shufflePositions reserves column names ${reservedPos.mkString(",")}")
    val spark = docs.sparkSession
    val nPart = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val key = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))

    val parted = Scope.persist(
      docs.withColumn("__key", key)
        .repartitionByRange(nPart, col("__key"), col(idCol))
        .withColumn("__pid", spark_partition_id()))

    val counts = parted.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.toSeq.sortBy(_._1).map { case (pid, n) =>
        val off = acc; acc += n; pid -> off
      }.toMap
    }

    val w = Window.partitionBy("__pid").orderBy(col("__key"), col(idCol))
    parted
      .withColumn("pos",
        row_number().over(w).cast("long") - 1L +
          element_at(typedlit(offsets), col("__pid")))
      .drop("__key", "__pid")
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1996): shard(id) = argmax over shards of md5("id:s").
    * Unlike `pos % nShards` layouts, resharding is MINIMAL: when a shard
    * is added, a row moves iff the new shard's hash beats its current
    * winner — so exactly ~1/(S+1) of rows move, all of them TO the new
    * shard, and nothing shuffles between surviving shards (the property a
    * 100 TB corpus needs to grow its shard count without a full rewrite;
    * HrwShardingSpec pins it). Pure per-row expression — no shuffle, no
    * state, layout-independent, and exactly replayable in SQL: the winner
    * is the lexicographic max of S md5 strings. Cost is S hashes per row;
    * for very large S prefer assignShards' range layout and accept
    * rebalancing writes. Output: input columns + `shard` (int). */
  def hrwShard(
      df: DataFrame,
      idCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, "hrwShard needs at least one shard")
    require(!df.columns.contains("shard"), "hrwShard reserves the column name shard")
    val scored = array((0 until nShards).map { s =>
      struct(
        md5(concat_ws(":", col(idCol).cast("string"), lit(s)).cast("binary"))
          .as("h"),
        lit(s).as("s"))
    }: _*)
    // struct ordering compares h first; md5 ties are not a real case, and
    // the s field makes the order total anyway
    df.withColumn("shard", array_max(scored).getField("s"))
  }
}
