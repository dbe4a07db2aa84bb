package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Leakage-safe temporal train/validation splitting for time-ordered
  * training data — the walk-forward "purged" cross-validation scheme from
  * the financial-ML literature (López de Prado 2018, ch.7): each fold
  * validates on a later time window and trains only on data ending an
  * EMBARGO gap before the validation window starts, so serially-correlated
  * observations straddling the boundary cannot leak label information
  * into the training side. */
object TemporalSplit {

  /** Walk-forward purged folds over an event stream.
    *
    * Fold boundaries are EXACT ORDER STATISTICS of the time column — the
    * ceil(i·n/(nFolds+1))-th smallest timestamp for fold i — not
    * interpolated percentiles: order statistics are pure integer
    * selections, so the fold layout is bit-deterministic in any engine
    * (no floating-point interpolation of epoch-microsecond values, whose
    * magnitude ~2⁶⁰ is beyond double's 53-bit mantissa). Fold i:
    *
    *   train    ts ≤ b_i − embargo
    *   embargo  b_i − embargo < ts ≤ b_i         (purged — used nowhere)
    *   val      b_i < ts ≤ b_{i+1}   (b_{nFolds+1} = max ts)
    *
    * Output: fold, boundary_us, n_train, n_embargo, n_val (nFolds rows).
    *
    * Scale shape: the order statistics come from the two-phase
    * range-exchange rank (Sharding.rankByColumns — per-partition windows
    * plus metadata-sized offsets, never a single-partition global
    * window); the nFolds boundary rows then broadcast back over the
    * scan for one counting aggregation. Consume the result inside a
    * Scope. Empty input → empty output (no boundary position exists). */
  def walkForwardFolds(
      events: DataFrame,
      tsCol: String,
      idCol: String,
      nFolds: Int = 4,
      embargoMicros: Long = 2L * 24 * 3600 * 1000000): DataFrame = {
    require(nFolds >= 1, "nFolds must be >= 1")
    require(embargoMicros >= 0, "embargo must be >= 0")
    val e = events.select(
      col(idCol).as("__id"), unix_micros(col(tsCol)).as("__us"))
    val ranked = Sharding.rankByColumns(e, Seq("__us", "__id"))
    val tot = e.agg(count(lit(1)).as("__n"), max(col("__us")).as("__maxus"))
    // per-fold target position (0-based): ceil(i·n/(nFolds+1)) − 1, all
    // integer arithmetic
    val targets = tot
      .select(explode(sequence(lit(1), lit(nFolds))).as("fold"),
        col("__n"), col("__maxus"))
      .withColumn("__target",
        expr(s"(fold * __n + $nFolds) div ${nFolds + 1} - 1"))
    val bounds = ranked
      .join(broadcast(targets), col("pos") === col("__target"))
      .select(col("fold"), col("__us").as("b_us"), col("__maxus"))
    // fold i's validation window closes at fold i+1's boundary (max ts
    // for the last fold) — a self-join over nFolds rows
    val nextB = bounds.select((col("fold") - 1).as("fold"),
      col("b_us").as("__next"))
    val ranges = bounds.join(nextB, Seq("fold"), "left")
      .withColumn("__vend", coalesce(col("__next"), col("__maxus")))
      .select("fold", "b_us", "__vend")
    e.crossJoin(broadcast(ranges))
      .groupBy("fold", "b_us", "__vend")
      .agg(
        sum(when(col("__us") <= col("b_us") - embargoMicros, 1L).otherwise(0L))
          .as("n_train"),
        sum(when(col("__us") > col("b_us") - embargoMicros &&
          col("__us") <= col("b_us"), 1L).otherwise(0L)).as("n_embargo"),
        sum(when(col("__us") > col("b_us") && col("__us") <= col("__vend"), 1L)
          .otherwise(0L)).as("n_val"))
      .select(col("fold").cast("long").as("fold"),
        col("b_us").as("boundary_us"),
        col("n_train"), col("n_embargo"), col("n_val"))
  }

  /** Group-aware k-fold assignment: every row of a group lands in the
    * SAME fold (a user/session/document split where the entity — not the
    * row — is the independence unit; rows of one user in both train and
    * validation is the classic leakage bug), with fold SIZES balanced by
    * greedy serpentine packing: groups are ranked by (weight desc, key),
    * then dealt k-at-a-time boustrophedon — block b, position p gets
    * fold p if b is even, k−1−p if odd — so each fold receives one group
    * per block and alternating rank order cancels the within-block size
    * gradient (the classic LPT-style balance guarantee without any
    * sequential driver state).
    *
    * Output: (group, weight, fold) — one row per group, deterministic
    * (rank ties broken by the group key), exact integer arithmetic.
    *
    * Scale shape: one keyed aggregation collapses rows to groups; the
    * rank is a window over the GROUP frame (|groups| rows, not |rows| —
    * for a 10¹⁰-row corpus with 10⁶ users that is a 10⁶-row sort). To
    * fold the assignment back onto rows, broadcast-join this output on
    * the group key. */
  def groupKFold(
      df: DataFrame,
      group: Column,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 4096, "groupKFold: k in [2, 4096]")
    val weights = df
      .groupBy(group.cast("string").as("group"))
      .agg(count(lit(1)).as("weight"))
    val ranked = weights.withColumn("__r",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("weight"), col("group"))) - 1)
    ranked.select(col("group"), col("weight"),
      when(expr(s"(__r div $k) % 2") === 0, col("__r") % k)
        .otherwise(lit(k - 1) - col("__r") % k)
        .cast("long").as("fold"))
  }
}
