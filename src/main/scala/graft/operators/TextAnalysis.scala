package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column builders for training-data pipelines (driver
  * contract "scale extras"): language ID, quality scoring, token counting,
  * fingerprinting. All pure column expressions — codegen'd, shuffle-free,
  * usable inside any select at any scale. */
object TextAnalysis {

  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** Whitespace token count — rides the graft_text_stats kernel (the
    * size(filter(split)) form was an interpreted HOF chain). */
  def tokenCount(text: Column): Column = qualityFeatures(text).getField("n_tokens")

  /** BPE-ish token count: the GPT-2 pre-tokenizer regex over contractions,
    * letter runs, digit runs, punctuation runs — a cheap, deterministic
    * stand-in for a real BPE vocab's token count. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text,
      lit("'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"), lit(0)))
      .cast("long")

  // --- language ID ---------------------------------------------------------

  /** Tiny per-language stopword profiles (top function words). Public
    * linguistic knowledge; enough signal for corpus routing. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "was",
      "for", "on", "are", "with", "as", "his", "they", "at", "be", "this"),
    "fr" -> Seq("le", "la", "les", "de", "des", "du", "et", "est", "un", "une",
      "dans", "que", "qui", "pour", "sur", "pas", "au", "avec", "ce", "il"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "que", "en", "un", "una",
      "es", "no", "por", "con", "para", "se", "del", "al", "lo", "como"),
    "de" -> Seq("der", "die", "das", "und", "ist", "in", "den", "von", "zu",
      "mit", "sich", "auf", "für", "nicht", "ein", "eine", "als", "auch", "es", "an"),
    "it" -> Seq("il", "la", "di", "e", "che", "in", "un", "una", "per", "non",
      "sono", "con", "si", "del", "le", "al", "come", "dei", "nel", "della"),
    "pt" -> Seq("o", "a", "os", "as", "de", "e", "que", "em", "um", "uma",
      "não", "por", "com", "para", "se", "do", "da", "no", "na", "dos"))

  /** Per-language stopword-hit ratio map; langId = argmax when above the
    * minimum-signal threshold, else "und". One pass over tokens per lang
    * (6 array-filters), no shuffle. */
  def langScores(text: Column): Column = {
    val toks = tokens(text)
    val entries = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => array_contains(typedLit(words), t)))
      struct(lit(lang).as("lang"),
        (hits.cast("double") / greatest(size(toks), lit(1)).cast("double")).as("score"))
    }
    array(entries: _*)
  }

  /** Native kernel (GraftLangId): one tokenization pass, per-language
    * HashSet lookups — the aggregate-over-langScores form was interpreted.
    * Requires GraftFunctions.register on the session. */
  def langId(text: Column, minScore: Double = 0.05): Column =
    call_function("graft_lang_id", text, lit(math.round(minScore * 100).toInt))

  // --- quality scoring -----------------------------------------------------

  /** Heuristic quality features (Gopher/C4-style filters, public recipes):
    * length, mean word length, stopword ratio, alpha ratio, punctuation
    * ratio, digit ratio — as one struct column. Native kernel
    * (GraftTextStats): two character scans instead of three regexp_replace
    * passes + an interpreted stopword HOF. Requires GraftFunctions.register. */
  def qualityFeatures(text: Column): Column = call_function("graft_text_stats", text)

  /** Column-expression reference formulation of qualityFeatures — kept for
    * kernel parity tests; do not use on hot paths (Catalyst re-inlines the
    * struct into every getField consumer). */
  private[graft] def qualityFeaturesExpr(text: Column): Column = {
    val t = trim(text)
    val toks = tokens(text)
    val nChars = length(t).cast("double")
    val nTokens = greatest(size(toks), lit(1)).cast("double")
    val alpha = length(regexp_replace(t, "[^\\p{L}]", "")).cast("double")
    val digits = length(regexp_replace(t, "[^\\p{N}]", "")).cast("double")
    val punct = length(regexp_replace(t, "[\\p{L}\\p{N}\\s]", "")).cast("double")
    val stops = size(filter(toks, w => array_contains(typedLit(stopwords("en")), w))).cast("double")
    struct(
      nChars.cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      (nChars / nTokens).as("chars_per_token"),
      (alpha / greatest(nChars, lit(1.0))).as("alpha_ratio"),
      (digits / greatest(nChars, lit(1.0))).as("digit_ratio"),
      (punct / greatest(nChars, lit(1.0))).as("punct_ratio"),
      (stops / nTokens).as("stopword_ratio"))
  }

  /** Scalar quality score in [0,1]: penalize too-short/too-long tokens,
    * low alpha share, heavy digits/punct; reward stopword presence. One
    * native kernel call (GraftQualityScore) — features + arithmetic fused. */
  def qualityScore(text: Column): Column = call_function("graft_quality_score", text)

  /** Column-expression reference formulation of qualityScore (parity tests
    * only — evaluates the feature chain ~5× per row via re-inlining). */
  private[graft] def qualityScoreExpr(text: Column): Column = {
    val f = qualityFeaturesExpr(text)
    val cpt = f.getField("chars_per_token")
    val lengthOk = when(cpt.between(3.0, 12.0), 1.0).otherwise(0.5)
    val alphaOk = least(f.getField("alpha_ratio") * 1.25, lit(1.0))
    val noisePenalty =
      greatest(lit(0.0), lit(1.0) - (f.getField("digit_ratio") + f.getField("punct_ratio")) * 2)
    val stopOk = least(f.getField("stopword_ratio") * 4, lit(1.0))
    round((lengthOk * 0.25 + alphaOk * 0.35 + noisePenalty * 0.25 + stopOk * 0.15), 4)
  }

  // --- PII redaction (C4-style scrubbing) ----------------------------------

  // Regexes restricted to the Java∩RE2 common subset (no lookaround, no
  // backrefs) so the DuckDB oracle runs the same patterns verbatim.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PhoneRe = "\\+?\\d[\\d .()-]{7,}\\d"

  /** Redact emails / IPv4 addresses / phone-number-shaped digit runs with
    * typed placeholders — the standard pre-training scrub pass. Email first
    * (phones would eat its digits), then IP (dotted digits), then phone. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        IpRe, "<IP>"),
      PhoneRe, "<PHONE>")

  // --- repetition (Gopher filters) -----------------------------------------

  /** Gopher-style repetition features as a struct
    * (dup_token_ratio, top_bigram_ratio) — native kernel
    * (GraftRepetitionStats): one pass with a per-row hash map instead of an
    * explode + per-document re-aggregation shuffle. */
  def repetitionStats(text: Column): Column =
    call_function("graft_repetition_stats", text)

  // --- benchmark decontamination -------------------------------------------

  /** Per-document overlap with a benchmark/eval set: the fraction of the
    * document's distinct character n-grams that appear anywhere in the
    * benchmark — the standard decontamination test before training.
    *
    * Scale shape: the benchmark's distinct gram-hash set aggregates to ONE
    * sorted array (eval sets are small) and broadcasts; each corpus document
    * then scores with a shuffle-free sorted-merge intersect
    * (graft_intersect_count) inside the scan. No explode of corpus grams,
    * no join on gram keys. */
  private[graft] def docGrams(textCol: Column, n: Int): Column =
    call_function("graft_ngram_hashes",
      regexp_replace(lower(trim(textCol)), "\\s+", " "), lit(n))

  /** The benchmark's distinct gram-hash set as ONE sorted array in a 1-row
    * DataFrame — broadcast it and score any corpus scan shuffle-free. */
  def benchmarkGramSet(benchmark: DataFrame, textCol: String, n: Int = 13): DataFrame =
    benchmark
      .select(explode(docGrams(col(textCol), n)).as("g")).distinct()
      .agg(sort_array(collect_list(col("g"))).as("bench_grams"))

  def benchmarkOverlap(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 13): DataFrame =
    docs
      .select(col(idCol), docGrams(col(textCol), n).as("__g"))
      .where(size(col("__g")) > 0)
      .crossJoin(broadcast(benchmarkGramSet(benchmark, textCol, n)))
      .select(col(idCol),
        (call_function("graft_intersect_count", col("__g"), col("bench_grams"))
          .cast("double") / size(col("__g")).cast("double")).as("overlap_ratio"))

  // --- fingerprinting ------------------------------------------------------

  /** Whitespace-normalized lowercase md5 (stable content id). */
  def fingerprintMd5(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** 64-bit rolling fingerprint: min xxhash64 over character 8-grams of the
    * normalized text (winnowing-style document sketch — robust to small
    * edits at the ends, cheap to compare). */
  def fingerprint64(text: Column, gram: Int = 8): Column = {
    val norm = trim(regexp_replace(lower(text), "\\s+", " "))
    val grams = transform(
      sequence(lit(0), greatest(length(norm) - gram, lit(0))),
      i => norm.substr(i + 1, lit(gram)))
    array_min(transform(grams, g => xxhash64(g)))
  }

  /** Privacy audit before a corpus release: k-anonymity (Sweeney 2002 —
    * a quasi-identifier combination shared by fewer than k records can
    * re-identify) and l-diversity (Machanavajjhala 2007 — even a large
    * group leaks its sensitive attribute when that attribute is
    * near-constant inside it). One row per observed quasi-identifier
    * combination: (quasi..., n, n_sensitive, k_risk, l_risk).
    *
    * Complements redactPii: redaction scrubs identifiers IN the text;
    * this flags what the released METADATA still discloses.
    *
    * Scale shape: ONE keyed aggregation — count is a single long,
    * distinct-sensitive rides Spark's standard two-phase partial
    * distinct — so the shuffle carries (quasi, sensitive)-level partials,
    * never raw rows. Exact counts; for a quasi-space too wide to hold,
    * swap the sensitive leg for the KMV estimate (x82 machinery). */
  def privacyAudit(
      df: DataFrame,
      quasi: Seq[(String, Column)],
      sensitive: Column,
      k: Int,
      l: Int): DataFrame = {
    require(quasi.nonEmpty, "privacyAudit: at least one quasi-identifier")
    require(k >= 2, "privacyAudit: k must be >= 2")
    require(l >= 2 && l <= k, "privacyAudit: need 2 <= l <= k")
    df.groupBy(quasi.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("n_sensitive"))
      .select(quasi.map(q => col(q._1)) ++ Seq(
        col("n"), col("n_sensitive"),
        (col("n") < k).as("k_risk"),
        (col("n_sensitive") < l).as("l_risk")): _*)
  }

  /** Differentially private count release (Dwork, McSherry, Nissim &
    * Smith 2006): per-group counts with Laplace(Δ/ε) noise, Δ = 1 for
    * counting queries — the release form that completes the privacy
    * family (x126 flags disclosure risk, x139 bounds distribution skew;
    * this actually PERTURBS the published statistic with an ε budget).
    *
    * The noise is derandomized the engine's standard way (the d08/x128
    * md5 convention): u = 60-bit uniform from md5(seed:group), then the
    * inverse-CDF Laplace transform
    *   noise = −(1/ε) · sign(u − 0.5) · ln(1 − 2|u − 0.5|).
    * A pure function of (seed, group), so the SAME release reproduces on
    * any cluster/engine — which is exactly what a privacy audit trail
    * wants (the mechanism's guarantee treats the seed as the mechanism's
    * randomness; rotate the seed per release). Noisy values round to
    * `roundTo` dp (rounding is post-processing — DP survives it).
    *
    * Scale shape: one keyed count aggregation (map-side combined), then
    * a pure per-group projection for the draw and the transform — no
    * second shuffle, no driver state. */
  def dpNoisyCounts(
      df: DataFrame,
      groupCol: Column,
      epsilon: Double,
      seed: String = "dp",
      roundTo: Int = 4): DataFrame = {
    require(epsilon > 0.0 && epsilon <= 100.0, "dpNoisyCounts: epsilon in (0, 100]")
    val u = conv(substring(
      md5(concat_ws(":", lit(seed), col("grp").cast("string")).cast("binary")),
      1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0d) // 2^60
    val centered = u - lit(0.5d)
    val noise = (lit(-1.0d / epsilon) * signum(centered)) *
      log(lit(1.0d) - lit(2.0d) * abs(centered))
    df.groupBy(groupCol.cast("string").as("grp"))
      .agg(count(lit(1)).as("n"))
      .select(col("grp"), col("n"),
        round(col("n") + noise, roundTo).as("noisy_n"),
        lit(epsilon).as("epsilon"))
  }

  /** t-closeness release audit (Li, Li & Venkatasubramanian 2007): even a
    * k-anonymous, l-diverse group leaks when its sensitive-attribute
    * DISTRIBUTION skews far from the corpus-wide one (the "everyone in
    * this group has SOME rare disease" failure l-diversity misses). The
    * distance is total variation — chosen over EMD/KL for the x123
    * reason: TVD is EXACT in integer arithmetic. Per group g:
    *
    *   tvd_ppm(g) = (10⁶ · Σ_v |n_gv·N − N_v·n_g|) div (2 · n_g · N)
    *
    * with the sum over ALL corpus values; values absent from g enter via
    * the complement identity Σ_{absent v} N_v·n_g = n_g·(N − Σ_{present}
    * N_v), so only observed (group, value) cells are ever materialized.
    * Returns one row per quasi-identifier combination:
    * (quasi..., n, tvd_ppm, t_risk = tvd_ppm > tPpm).
    *
    * Scale shape: ONE keyed aggregation collapses the corpus to the
    * (quasi × sensitive-value) contingency (a long per cell — the same
    * bounded frame x126 rides); that cached frame feeds the group-size
    * re-aggregation and the value-margin re-aggregation, and the
    * |values|-row margin table broadcasts back onto the cells. Cross
    * products ride decimal(38,0) so 10¹⁴-row cohorts cannot overflow.
    * Consume the result inside a Scope. */
  def tClosenessAudit(
      df: DataFrame,
      quasi: Seq[(String, Column)],
      sensitive: Column,
      tPpm: Long): DataFrame = {
    require(quasi.nonEmpty, "tClosenessAudit: at least one quasi-identifier")
    // no persist needed: the window-algebra finish reads the cell frame
    // exactly once, so the whole audit is one aggregation + one pass
    finishTcloseness(tClosenessCellCounts(df, quasi, sensitive),
      quasi.map(_._1), tPpm)
  }

  /** The STATEFUL half of the t-closeness audit: one long per observed
    * (quasi × sensitive-value) cell — exactly the aggregation state
    * Structured Streaming maintains incrementally
    * (streaming/StreamingTcloseness). */
  def tClosenessCellCounts(
      df: DataFrame,
      quasi: Seq[(String, Column)],
      sensitive: Column): DataFrame =
    df.where(sensitive.isNotNull)
      .groupBy(quasi.map { case (n, c) => c.as(n) } :+
        sensitive.cast("string").as("__v"): _*)
      .agg(count(lit(1)).as("__ngv"))

  /** The stateless finishing view over the bounded cell frame: margins,
    * the complement-identity absent-mass term, the exact ppm TVD per
    * group. Shared by the batch audit and the streaming twin's consumer.
    *
    * Pure WINDOW algebra over the cells frame — no self-joins, so the
    * view runs unchanged on a streaming memory table (a view self-join
    * trips Spark's hint/reference deduplication there) and the whole
    * finish is one pass over the bounded frame. The windows (per-value
    * margin, per-group size, global total) all ride the ≤ |groups ×
    * values| cell frame, never the corpus — the finishDrift discipline. */
  def finishTcloseness(
      cells: DataFrame,
      quasiNames: Seq[String],
      tPpm: Long): DataFrame = {
    require(quasiNames.nonEmpty, "finishTcloseness: at least one quasi-identifier")
    require(tPpm >= 1 && tPpm <= 1000000,
      "finishTcloseness: tPpm in [1, 1e6] (a TVD threshold in ppm)")
    val dec = "decimal(38,0)"
    val qcols = quasiNames.map(col)
    val byV = org.apache.spark.sql.expressions.Window.partitionBy(col("__v"))
    val byG = org.apache.spark.sql.expressions.Window.partitionBy(qcols: _*)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    cells
      .withColumn("__nv", sum("__ngv").over(byV))
      .withColumn("__nn", sum("__ngv").over(all))
      .withColumn("__ng", sum("__ngv").over(byG))
      // cells are unique per (group, value), so the per-group sum of the
      // value margins IS Σ over present values of N_v
      .withColumn("__snp", sum("__nv").over(byG))
      .groupBy(qcols: _*)
      .agg(
        max("__ng").as("n"),
        max("__nn").as("__nn2"),
        max("__snp").as("__snp"),
        sum(expr(s"abs(cast(__ngv as $dec) * cast(__nn as $dec) - " +
          s"cast(__nv as $dec) * cast(__ng as $dec))")).as("__present_abs"))
      .withColumn("__absent_abs",
        expr(s"cast(n as $dec) * cast(__nn2 - __snp as $dec)"))
      .withColumn("tvd_ppm", expr(
        s"cast(((__present_abs + __absent_abs) * 1000000) div " +
          s"(2 * cast(n as $dec) * cast(__nn2 as $dec)) as long)"))
      .select(qcols ++ Seq(
        col("n"), col("tvd_ppm"),
        (col("tvd_ppm") > tPpm).as("t_risk")): _*)
  }
}
