package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-signal curation ranking — the FineWeb/DataComp-style fusion step
  * where several quality signals (heuristic score, domain prior, length,
  * classifier logit …) must combine into ONE ordering although they live
  * on incomparable scales. Each signal is rank-normalized with
  * tie-averaged ranks, then blended with explicit weights:
  *
  *   r_i(doc)  = avgrank_i(doc) / n           ∈ (0, 1]
  *   fused     = Σ w_i · r_i                  (weights are plan literals)
  *
  * Rank normalization beats z-scoring here: it is distribution-free
  * (a heavy-tailed length signal can't swamp the blend), monotone, and —
  * the property this engine cares about — EXACT: tie-averaged ranks are
  * integer algebra (H = 2·cum + n_v + 1 half-units per distinct value,
  * the same contract as the x112 AUC), so the fused ordering is order-
  * and partitioning-independent and replays in any engine.
  *
  * Scale shape: per signal, one keyed aggregation to the distinct-value
  * table and one cumulative window over THAT (bounded: quality scores
  * are 4-dp-quantized, lengths are bounded integers, priors are
  * per-source constants), then a broadcast-sized value→rank map joins
  * back — corpus rows are never globally sorted. The final fused rank is
  * the two-phase range-exchange rank (Sharding.rankByColumns), NEVER a
  * single-partition row_number window over the corpus. Consume the result inside a Scope. */
object SignalFusion {

    /** Blend `signals` (column name → weight) into (…keep, fused, rank).
    * Weights sum to anything you like (they are NOT renormalized — the
    * caller owns the recipe); higher signal = better. Signals must be
    * non-null: a null key never matches its rank-table join, so the row
    * would silently drop — derive signals with explicit coalesce/defaults
    * before fusing. */
  def fuseRanked(
      df: DataFrame,
      signals: Seq[(String, Double)],
      keep: Seq[String],
      roundTo: Int = 6): DataFrame = {
    require(signals.nonEmpty, "fuseRanked needs at least one signal")
    val n = df.count()
    require(n > 0, "fuseRanked: empty input")

    var cur = df
    signals.foreach { case (s, _) =>
      // the value→rank table reads the ORIGINAL frame, not `cur`: each
      // broadcast join below maps every row exactly once (the rank table
      // covers every distinct value), so df and cur carry the same
      // multiset of s values — building byVal off cur re-executed every
      // previously-attached join once per remaining signal (guide §2.4)
      val byVal = df.groupBy(col(s)).agg(count(lit(1)).as("__nv"))
      val w = Window.orderBy(col(s))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = byVal
        .withColumn("__cum", coalesce(sum("__nv").over(w), lit(0L)))
        .select(col(s),
          ((lit(2L) * col("__cum") + col("__nv") + lit(1L)) /
            lit(2.0 * n)).as(s"__r_$s"))
      cur = cur.join(broadcast(ranked), Seq(s))
    }
    val fused = signals.map { case (s, wt) => col(s"__r_$s") * lit(wt) }
      .reduce(_ + _)
    // rank 1 = highest fused: two-phase range rank ascending on (−fused,
    // tiebreak) — fused is a positive rounded blend, so negation is an
    // exact order reversal
    Sharding.rankByColumns(
      cur
        .withColumn("fused", round(fused, roundTo))
        .select((keep.map(col) :+ col("fused")): _*)
        .withColumn("__negf", -col("fused")),
      Seq("__negf", keep.head))
      .withColumn("rank", col("pos") + 1L)
      .select((keep.map(col) ++ Seq(col("fused"), col("rank"))): _*)
  }

  /** Exact quantile normalization against the pooled corpus: each row's
    * score is replaced by the global order statistic at its within-group
    * quantile — so every group's normalized distribution matches the
    * pooled one, making scores comparable ACROSS sources whose raw
    * scales differ (the genomics quantile-normalization idea with the
    * pooled corpus as the reference distribution). Integer order
    * statistics end to end — rank r of n_s maps to pooled position
    * ⌈r·N/n_s⌉ — so the mapping is deterministic and bit-replayable
    * (no fp quantile interpolation). Ties order by (score, id).
    * Returns (id, grp, score, qnorm).
    *
    * Scale shape: the global rank is the two-phase range-exchange rank
    * (Sharding.rankByColumns — never a single-partition window); the
    * per-group rank is one keyed window; N rides a broadcast 1-row
    * aggregate off the CACHED ranked frame; the value lookup is an
    * equi-join on the target position. Cross-products (r·N ~ N²) ride
    * decimal(38,0). Consume the result inside a Scope. */
  def quantileNormalize(
      df: DataFrame,
      group: Column,
      score: Column,
      id: Column): DataFrame = {
    val e = df.select(group.cast("string").as("grp"),
      score.cast("long").as("s"), id.cast("long").as("id"))
    val ranked = Sharding.rankByColumns(e, Seq("s", "id"))
    val n = ranked.agg((max("pos") + 1L).as("__n"))
    val wSrc = Window.partitionBy("grp").orderBy("s", "id")
    val staged = ranked
      .withColumn("__rs", row_number().over(wSrc).cast("long"))
      .withColumn("__ns",
        count(lit(1)).over(Window.partitionBy("grp")))
      .crossJoin(broadcast(n))
      .withColumn("__p",
        expr("(cast(__rs as decimal(38,0)) * __n + __ns - 1) div __ns"))
    val lookup = ranked.select((col("pos") + 1L).as("__p"), col("s").as("qnorm"))
    staged.join(lookup, Seq("__p"))
      .select(col("id"), col("grp"), col("s").as("score"), col("qnorm"))
  }

  /** Leakage-free (leave-one-out) categorical target encoding with
    * Laplace-style integer smoothing: row i of group g encodes as
    *   enc_ppm = ((Σ_g target − target_i + α) · 10⁶) div (n_g − 1 + α + β)
    * — the row's OWN label never leaks into its feature (the classic
    * target-encoding trap), the α/β pseudo-counts keep singleton groups
    * finite, and everything is exact integer ppm so the feature column
    * replays bit-for-bit.
    *
    * Scale shape: one map-side-combined group aggregation to the
    * |groups|-row stats frame, broadcast back onto the corpus scan — the
    * corpus itself is never shuffled. */
  def looTargetEncoding(
      df: DataFrame,
      idCol: Column,
      group: Column,
      target: Column,
      alpha: Long = 1L,
      beta: Long = 1L): DataFrame = {
    require(alpha >= 0 && beta >= 0 && alpha + beta > 0,
      "smoothing pseudo-counts must be non-negative and not both zero")
    val rows = df.select(idCol.as("id"), group.as("grp"),
      target.cast("long").as("t"))
    val stats = rows.groupBy("grp")
      .agg(count(lit(1)).as("__n"), sum("t").as("__s"))
    rows.join(broadcast(stats), Seq("grp"))
      .select(col("id"), col("grp"), col("t").as("target"),
        expr(s"((__s - t + $alpha) * 1000000) div (__n - 1 + $alpha + $beta)")
          .as("enc_ppm"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of
    * pre-ranked candidate lists — the standard hybrid-retrieval merge
    * (lexical BM25 + semantic ANN): each list contributes
    * 1/(kRrf + rank) for the items it ranked, and items high on ANY list
    * float to the top without any score calibration across retrievers
    * (ranks are scale-free; raw BM25 and cosine scores are not
    * comparable).
    *
    * Fixed-point contract: the contribution is `scale div (kRrf + rank)`
    * in exact long arithmetic, so the fused total is a commutative
    * integer sum — deterministic under any partitioning/merge order (a
    * double 1/(k+r) sum would be association-order-dependent) and
    * replayable by the oracle bit-for-bit.
    *
    * Inputs are (id, rank) frames AS RANKED BY their retrievers (rank
    * ≥ 1; top-k-truncated lists, e.g. bm25TopK/bruteForceTopK output) —
    * fusion itself never re-sorts a corpus: one union of k-bounded lists,
    * one keyed aggregation, one TakeOrdered cut.
    *
    * Output: (id, rrf_fp, n_lists, best_rank) — topK by fused score,
    * ties to the smaller id. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      kRrf: Int = 60,
      topK: Int = 100,
      scale: Long = 1000000000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf >= 0, "rrfFuse: kRrf must be non-negative")
    require(topK >= 1 && topK <= 100000, "rrfFuse: topK in [1, 1e5]")
    val lists = rankings.map(df =>
      df.select(col(idCol).cast("long").as("id"),
        col(rankCol).cast("long").as("rank")))
    lists.reduce(_ unionByName _)
      .groupBy("id")
      .agg(
        sum(expr(s"${scale}L div (${kRrf}L + rank)")).as("rrf_fp"),
        count(lit(1)).cast("long").as("n_lists"),
        min("rank").as("best_rank"))
      .orderBy(desc("rrf_fp"), col("id"))
      .limit(topK)
  }
}
