package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring — the perplexity-style quality filter of
  * the CCNet-descended pipeline recipes: score each document by the average
  * log-probability of its bigrams under a count-based LM with Laplace
  * smoothing, where the counts come from the corpus itself (self-scoring
  * ranks documents by how typical their token transitions are; gibberish,
  * boilerplate noise, and wrong-language text sit in the low tail).
  *
  * score(doc) = avg over bigrams (w1 w2) of ln((c(w1 w2) + 1) / (c(w1) + V))
  *
  * Hot-path design: tokens become xxhash64 values via the codegen'd
  * graft_token_hashes kernel ONCE per document; bigram keys are
  * xxhash64(w1h, w2h) built with arrays_zip/slice (codegen'd collection
  * ops, no interpreted higher-order functions), so every shuffle and join
  * moves 8-byte longs, never token strings. Hashing is internal only — the
  * scores come out identical to the string-keyed formulation (64-bit
  * collisions at corpus vocabulary sizes are negligible, and the DuckDB
  * oracle replays the string version to prove it). The count joins are
  * stopword-skewed by nature — AQE's skew handling splits hot keys; with a
  * bounded vocabulary the count tables can be broadcast instead.
  */
object NgramLm {

  /** A fitted bigram LM: hashed count tables + vocabulary size. The model
    * IS two DataFrames — it scales with the corpus, ships to scorers as
    * shuffle joins (or broadcasts, when the vocabulary is bounded), and can
    * be persisted to parquet like any other table. */
  final case class BigramModel(
      bigramCounts: DataFrame, // (bh, c2)
      unigramCounts: DataFrame, // (wh, c1)
      vocabSize: Long)

  private def hashed(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), call_function("graft_token_hashes", col(textCol)).as("th"))
  }

  private def explodeBigrams(base: DataFrame, idCol: String): DataFrame = {
    val n1: Column = greatest(size(col("th")) - 1, lit(0))
    base
      .select(col(idCol), slice(col("th"), lit(1), n1).as("a1"),
        slice(col("th"), lit(2), n1).as("a2"))
      .select(col(idCol), explode(arrays_zip(col("a1"), col("a2"))).as("p"))
      .select(col(idCol), col("p.a1").as("w1h"),
        xxhash64(col("p.a1"), col("p.a2")).as("bh"))
  }

  /** Train the count-based LM on a corpus: two aggregations over one
    * kernel-tokenized scan. */
  def fit(df: DataFrame, textCol: String, idCol: String): BigramModel = {
    val base = Scope.persist(hashed(df, textCol, idCol))
    val uni = base.select(explode(col("th")).as("wh"))
      .groupBy("wh").agg(count(lit(1)).as("c1"))
    val bc = explodeBigrams(base, idCol).groupBy("bh").agg(count(lit(1)).as("c2"))
    BigramModel(bc, uni, uni.count())
  }

  /** Score documents under a fitted model — the serving shape: train once
    * on the reference corpus, score any number of incoming documents (or
    * micro-batches) against the static count tables. Bigrams unseen at fit
    * time back off to count 0 (left join), which Laplace smoothing absorbs.
    * Returns (doc_id, lm_score, n_bigrams) for docs with ≥2 tokens. */
  def score(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      model: BigramModel,
      roundTo: Int = 4): DataFrame = {
    val docBi = explodeBigrams(hashed(docs, textCol, idCol), idCol)
    docBi
      .join(model.bigramCounts, Seq("bh"), "left")
      .join(model.unigramCounts.withColumnRenamed("wh", "w1h"), Seq("w1h"), "left")
      .groupBy(idCol)
      .agg(
        round(avg(log(
          (coalesce(col("c2"), lit(0L)) + lit(1.0)) /
            (coalesce(col("c1"), lit(0L)) + lit(model.vocabSize.toDouble)))), roundTo)
          .as("lm_score"),
        count(lit(1)).cast("long").as("n_bigrams"))
  }

  /** Self-scoring convenience (fit and score on the same corpus) —
    * (doc_id, lm_score, n_bigrams) for every document with ≥2 tokens.
    * lm_score is rounded to `roundTo` decimals so downstream comparisons
    * (and the DuckDB oracle) are stable across ln() implementations. */
  def bigramLmScore(
      df: DataFrame,
      textCol: String,
      idCol: String,
      roundTo: Int = 4): DataFrame =
    score(df, textCol, idCol, fit(df, textCol, idCol), roundTo)

  private def explodeBigramPairs(base: DataFrame, idCol: String): DataFrame = {
    val n1: Column = greatest(size(col("th")) - 1, lit(0))
    base
      .select(col(idCol), slice(col("th"), lit(1), n1).as("a1"),
        slice(col("th"), lit(2), n1).as("a2"))
      .select(col(idCol), explode(arrays_zip(col("a1"), col("a2"))).as("p"))
      .select(col(idCol), col("p.a1").as("w1h"), col("p.a2").as("w2h"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * Chen–Goodman 1999 interpolated form with a fixed absolute discount
    * D = discountPct/100) — the stronger LM-quality filter: where Laplace
    * (bigramLmScore) over-penalizes rare continuations, KN backs off to
    * the CONTINUATION unigram ("how many distinct contexts precede w2"),
    * which is the part that actually predicts well-formedness ("Francisco"
    * is frequent but appears after almost nothing except "San").
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1) + (D·N₁₊(w1·)/c(w1)) · N₁₊(·w2)/B
    *
    * with c(w1) = Σ_w2 c(w1w2) (history mass from the bigram table),
    * N₁₊(w1·)/N₁₊(·w2) the distinct right/left continuation counts, and
    * B the distinct-bigram total. Self-scored, every scored bigram has
    * c ≥ 1 > D, so the max(·,0) clamp of the general form never binds.
    * Returns (doc_id, kn_score, n_bigrams): kn_score = avg ln P over the
    * document's bigrams, rounded like bigramLmScore.
    *
    * Scale shape: one kernel tokenization (8-byte hashes end to end, as
    * bigramLmScore), ONE (w1h, w2h) count aggregation feeding all three
    * statistic tables (history and continuation stats aggregate the
    * distinct-bigram table — vocab-sized, not postings-sized), B a 1-row
    * broadcast; the scoring joins are keyed on hashes with map-side
    * partial aggregation downstream, stopword skew handled by AQE. */
  def knBigramScore(
      df: DataFrame,
      textCol: String,
      idCol: String,
      discountPct: Int = 75,
      roundTo: Int = 4): DataFrame = {
    require(discountPct >= 1 && discountPct <= 99,
      "knBigramScore: discountPct in [1, 99] (D = discountPct/100 must sit in (0, 1))")
    val d = discountPct / 100.0
    val base = Scope.persist(hashed(df, textCol, idCol))
    val bi = Scope.persist(explodeBigramPairs(base, idCol))
    val bc = Scope.persist(
      bi.groupBy("w1h", "w2h").agg(count(lit(1)).as("c2")))
    val hist = bc.groupBy("w1h")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1fw"))
    val cont = bc.groupBy("w2h").agg(count(lit(1)).as("n1bw"))
    val btot = bc.agg(count(lit(1)).as("bt"))
    bi
      .join(bc, Seq("w1h", "w2h"))
      .join(hist, Seq("w1h"))
      .join(cont, Seq("w2h"))
      .crossJoin(broadcast(btot))
      .groupBy(idCol)
      .agg(
        round(avg(log(
          ((col("c2") - lit(d)) / col("c1")) +
            (((lit(d) * col("n1fw")) / col("c1")) * (col("n1bw") / col("bt"))))),
          roundTo).as("kn_score"),
        count(lit(1)).cast("long").as("n_bigrams"))
  }
}
