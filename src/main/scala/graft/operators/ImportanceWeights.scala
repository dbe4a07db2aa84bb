package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Data Selection via Importance Resampling,
  * Xie et al. 2023 — public): score every raw document by how target-like
  * its hashed n-gram profile is, `w(doc) = Σ_f log p_target(f) − log
  * p_raw(f)` over the doc's unigram+bigram features hashed into a fixed
  * bucket space, then keep the top-weighted documents. The standard recipe
  * for "give me more data that looks like my high-quality seed set".
  *
  * Scale shape: fitting is two explode+count aggregations (one over the
  * target set, one over the raw corpus); the learned log-ratio table is at
  * most `buckets` rows — a plan-constant-sized BROADCAST — so scoring is
  * one explode pass over the corpus joined map-side, grouped per doc. No
  * stage touches more than one corpus scan, and the feature space is
  * bounded by construction (that is the point of DSIR's hashing).
  *
  * Buckets come from the FNV-1a+fmix64 gram-hash family, not a JVM hash,
  * so an external engine can replay the exact weights — the x43 oracle
  * rebuilds them in DuckDB HUGEINT arithmetic. */
object ImportanceWeights {

  val DefaultBuckets = 4096

  /** One row per (idCol, bucket) feature occurrence. The unigram+bigram
    * hashes come from the one-pass native kernel (graft_gram_hashes_fnv —
    * no gram strings, no interpreted HOF chain; an earlier md5-over-
    * concatenated-bigrams formulation cost 3× in the hash stage alone);
    * bucket = pmod(hash, buckets), which for the power-of-two default
    * equals the unsigned low bits the DuckDB oracle computes. */
  private def features(df: DataFrame, textCol: String, idCol: String,
      buckets: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      explode(call_function("graft_gram_hashes_fnv", col(textCol))).as("__gh"))
      .select(col(idCol), pmod(col("__gh"), lit(buckets.toLong)).as("bucket"))
  }

  /** Fit the per-bucket log-probability ratios: Laplace-smoothed
    * log((target_count+1)/(target_total+buckets)) − log the same for raw.
    * Output: (bucket, log_ratio) — at most `buckets` rows. */
  def fitLogRatios(
      target: DataFrame,
      raw: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int = DefaultBuckets): DataFrame = {
    val tc = features(target, textCol, idCol, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("tc"))
    val rc = features(raw, textCol, idCol, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("rc"))
    ratiosFromCounts(tc, rc, buckets)
  }

  /** The ratio algebra over prebuilt count tables. Totals ride as broadcast
    * scalars (crossJoin of 1-row aggregates), NOT driver .head() actions —
    * the fit stays one declarative plan, so the count exchanges are
    * computed once and reused (AQE ReuseExchange) instead of re-running
    * the explode+hash pass per total. */
  private def ratiosFromCounts(tc: DataFrame, rc: DataFrame, buckets: Int): DataFrame = {
    val tTot = tc.agg(sum("tc").cast("double").as("__ttot"))
    val rTot = rc.agg(sum("rc").cast("double").as("__rtot"))
    // raw-side buckets only: a bucket absent from raw can never be scored
    rc.join(tc, Seq("bucket"), "left")
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .select(col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + lit(1.0)) / (col("__ttot") + lit(buckets.toDouble))) -
          log((col("rc") + lit(1.0)) / (col("__rtot") + lit(buckets.toDouble)))).as("log_ratio"))
  }

  /** Per-document importance weight under a fitted ratio table: the sum of
    * log-ratios over the doc's feature occurrences, rounded for stable
    * comparison. Docs with no tokens produce no row. The ratio table
    * broadcasts (≤ buckets rows). */
  def score(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      logRatios: DataFrame,
      buckets: Int = DefaultBuckets,
      roundTo: Int = 4): DataFrame =
    features(docs, textCol, idCol, buckets)
      .join(broadcast(logRatios), Seq("bucket"))
      .groupBy(idCol)
      .agg(round(sum("log_ratio"), roundTo).as("dsir_weight"))

  /** Fused fit-and-score: when the scored corpus IS the raw reference (the
    * standard DSIR setup), the raw feature pass is the dominant cost and
    * would otherwise run twice — once for the raw counts, once for
    * scoring. This path materializes the (id, bucket) features ONCE and
    * feeds both, halving the explode+hash work. Consume the result inside
    * a Scope. */
  def weightsAgainstTarget(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int = DefaultBuckets,
      roundTo: Int = 4): DataFrame = {
    val rawFeats = Scope.persist(features(raw, textCol, idCol, buckets))
    val tc = features(target, textCol, idCol, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("tc"))
    val rc = rawFeats.groupBy("bucket").agg(count(lit(1)).as("rc"))
    rawFeats
      .join(broadcast(ratiosFromCounts(tc, rc, buckets)), Seq("bucket"))
      .groupBy(idCol)
      .agg(round(sum("log_ratio"), roundTo).as("dsir_weight"))
  }

  /** weightsAgainstTarget when the target IS a labeled subset of the raw
    * corpus (lang = 'en', a quality flag, a hand-curated source): the
    * feature pass runs ONCE carrying the membership flag, and both count
    * tables aggregate the same cached frame — one corpus scan total,
    * versus two for the general two-frame form. */
  def weightsAgainstSubset(
      raw: DataFrame,
      isTarget: Column,
      textCol: String,
      idCol: String,
      buckets: Int = DefaultBuckets,
      roundTo: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(raw.sparkSession)
    val feats = Scope.persist(raw.select(col(idCol), isTarget.as("__t"),
      explode(call_function("graft_gram_hashes_fnv", col(textCol))).as("__gh"))
      .select(col(idCol), col("__t"), pmod(col("__gh"), lit(buckets.toLong)).as("bucket")))
    val tc = feats.where(col("__t")).groupBy("bucket").agg(count(lit(1)).as("tc"))
    val rc = feats.groupBy("bucket").agg(count(lit(1)).as("rc"))
    feats
      .join(broadcast(ratiosFromCounts(tc, rc, buckets)), Seq("bucket"))
      .groupBy(idCol)
      .agg(round(sum("log_ratio"), roundTo).as("dsir_weight"))
  }

  /** The composed selection: fit target-vs-raw ratios, weight every raw
    * doc, keep the k most target-like (deterministic ties on id). */
  def selectTopK(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      buckets: Int = DefaultBuckets): DataFrame = {
    val ratios = fitLogRatios(target, raw, textCol, idCol, buckets)
    score(raw, textCol, idCol, ratios, buckets)
      .orderBy(desc("dsir_weight"), col(idCol))
      .limit(k)
  }
}
