package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed training-data preparation pipeline — the "why" behind the
  * scale extras: given a raw document corpus, produce the cleaned corpus a
  * pretraining run would ingest, with full per-stage accounting.
  *
  * Stages (all single-scan or sketch-join shapes from this package):
  *   0. PII redaction     — TextAnalysis.redactPii (opt-in, projection only)
  *   1. quality gate      — TextAnalysis.qualityScore ≥ minQuality
  *   1b. repetition gate  — Gopher dup-token / top-bigram caps (opt-in)
  *   2. language gate     — TextAnalysis.langId ∈ keepLangs (if set)
  *   2b. decontamination  — drop docs overlapping a benchmark set (opt-in,
  *                          broadcast gram-set intersect)
  *   2c. LM-score gate    — NgramLm.bigramLmScore ≥ minLmScore (opt-in,
  *                          CCNet-style perplexity filter; self-fit counts)
  *   3. exact dedup       — Dedup.dropExactDuplicates on content digest
  *   4. near-dedup        — Dedup.minhashNearDuplicates pairs collapsed per
  *                          connected component: each cluster keeps its
  *                          minimum id only
  *   5. token accounting  — whitespace + BPE-ish counts on the survivors
  *
  * Everything composes lazily except the near-dup pair set (a sketch join)
  * and the decontamination broadcast; at 100 TB each stage is a
  * filter/projection riding the same scan until the dedup shuffles —
  * exactly the shape of published pipeline recipes (C4, Gopher,
  * RefinedWeb). */
object TrainingDataPipeline {

  /** Funnel counts in stage order (each field = survivors after that stage
    * AND all earlier ones): input → afterQuality → afterRepetition →
    * afterLang → afterDecontamination → afterLmScore → afterExactDedup →
    * afterNearDedup. */
  final case class Report(
      input: Long,
      afterQuality: Long,
      afterLang: Long,
      afterExactDedup: Long,
      afterNearDedup: Long,
      totalTokens: Long,
      afterRepetition: Option[Long] = None,
      afterDecontamination: Option[Long] = None,
      afterLmScore: Option[Long] = None)

  def clean(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minQuality: Double = 0.3,
      keepLangs: Seq[String] = Nil,
      nearDupThreshold: Double = 0.8,
      retainResult: Boolean = true,
      redactPii: Boolean = false,
      maxDupTokenRatio: Option[Double] = None,
      maxTopBigramRatio: Option[Double] = None,
      benchmark: Option[DataFrame] = None,
      maxBenchmarkOverlap: Double = 0.5,
      minLmScore: Option[Double] = None): (DataFrame, Report) = {

    // one pass computes both gate flags; one aggregation counts the first
    // FOUR stage sizes (the exact-dedup survivor count is just the distinct
    // text count among gate survivors, so it rides the same scan) — the
    // naive per-stage count() re-evaluated the quality kernel per stage
    val redacted =
      if (redactPii)
        docs.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
      else docs
    val repetitionOk: Column =
      (maxDupTokenRatio, maxTopBigramRatio) match {
        case (None, None) => lit(true)
        case _ =>
          val r = TextAnalysis.repetitionStats(col(textCol))
          maxDupTokenRatio.map(r.getField("dup_token_ratio") <= _).getOrElse(lit(true)) &&
            maxTopBigramRatio.map(r.getField("top_bigram_ratio") <= _).getOrElse(lit(true))
      }
    val withContamination = benchmark match {
      case None => redacted.withColumn("__decon_ok", lit(true))
      case Some(bench) =>
        // broadcast gram-set intersect computed INLINE on the corpus scan —
        // no self-join, no second pass over the documents; only the 1-row
        // benchmark array travels
        val grams = TextAnalysis.docGrams(col(textCol), 13)
        redacted
          .crossJoin(broadcast(TextAnalysis.benchmarkGramSet(bench, textCol)))
          .withColumn("__decon_ok",
            size(grams) === 0 ||
              call_function("graft_intersect_count", grams, col("bench_grams"))
                .cast("double") / size(grams).cast("double") < maxBenchmarkOverlap)
          .drop("bench_grams")
    }
    // LM-score gate (opt-in): CCNet-style perplexity filtering — self-fit
    // bigram counts, score join, threshold. Unlike the projection-only
    // gates this costs count-table shuffles + a scoring join, hence opt-in.
    // Docs with <2 tokens have no score and fail the gate (they are junk
    // for training anyway).
    val trackExtras = maxDupTokenRatio.isDefined || maxTopBigramRatio.isDefined ||
      benchmark.isDefined
    // the funnel's scratch caches (gate flags, the exact-dedup set, the
    // dedup sketches and LM tables) are released by this inner Scope as
    // soon as the counts are in; a retained `cleaned` moves to the caller's
    val (cleaned, stageCounts, fin) = Scope {
      val withLm = minLmScore match {
        case None => withContamination.withColumn("__lm_ok", lit(true))
        case Some(minScore) =>
          val scores = NgramLm
            .bigramLmScore(withContamination, textCol, idCol)
            .select(col(idCol), col("lm_score"))
          withContamination.join(scores, Seq(idCol), "left")
            .withColumn("__lm_ok", coalesce(col("lm_score") >= minScore, lit(false)))
            .drop("lm_score")
      }
      // one stage-pure flag per gate; the funnel counts below AND them in
      // pipeline order, so each report field attributes drops to exactly the
      // stage that caused them (a doc failing repetition no longer shows up as
      // a "quality" drop, nor a decontaminated one as a "language" drop)
      val flagged = Scope.persist(withLm
        .withColumn("__q_ok", TextAnalysis.qualityScore(col(textCol)) >= minQuality)
        .withColumn("__rep_ok", repetitionOk)
        .withColumn("__lang_ok",
          if (keepLangs.isEmpty) lit(true)
          else TextAnalysis.langId(col(textCol)).isin(keepLangs: _*)))
      val gateNoLm = col("__q_ok") && col("__rep_ok") && col("__lang_ok") && col("__decon_ok")
      val gateOk = gateNoLm && col("__lm_ok")
      // funnel accounting in stage order: quality → repetition → language →
      // decontamination → LM score → exact dedup, all from ONE aggregation
      // over the scan
      val stageCounts = flagged.agg(
        count(lit(1)).as("input"),
        count(when(col("__q_ok"), 1)).as("after_q"),
        count(when(col("__q_ok") && col("__rep_ok"), 1)).as("after_rep"),
        count(when(col("__q_ok") && col("__rep_ok") && col("__lang_ok"), 1)).as("after_lang"),
        count(when(gateNoLm, 1)).as("after_decon"),
        count(when(gateOk, 1)).as("after_lm"),
        // distinct DIGESTS, not distinct texts: the dedup stage itself keys on
        // md5(text), and counting the digest keeps raw document text out of
        // the aggregation exchange (~32 B/row shuffled instead of the full doc)
        count_distinct(when(gateOk, md5(col(textCol)))).as("after_exact")).head()

      val lang = flagged.where(gateOk).drop("__q_ok", "__rep_ok", "__lang_ok", "__decon_ok")
      // the dedup'd set feeds both the near-dup join and the final filter
      val exact = Scope.persist(Dedup.dropExactDuplicates(lang, textCol, idCol))

      // near-dup resolution is per COMPONENT, not per pair: A≈B and B≈C are
      // one duplicate cluster even when A≉C directly, and only the minimum id
      // survives (the published collapse rule; a pairwise id_b drop keeps a
      // doc that only ever appears on the left of its pairs)
      val nearPairs = Dedup.minhashNearDuplicates(
        exact, textCol, idCol, threshold = nearDupThreshold)
      val drop = Dedup.duplicateClusters(nearPairs)
        .where(col("id") =!= col("cluster"))
        .select(col("id").as(idCol))
      val cleaned = exact.join(drop, Seq(idCol), "left_anti")
        .withColumn("__n_tokens", TextAnalysis.tokenCount(col(textCol)))
        .withColumn("__n_tokens_bpe", TextAnalysis.tokenCountBpe(col(textCol)))

      cleaned.persist()
      (cleaned, stageCounts, cleaned.agg(count(lit(1)), sum("__n_tokens")).head())
    }
    val input = stageCounts.getLong(0)
    val afterQuality = stageCounts.getLong(1)
    val afterRep = if (trackExtras) Some(stageCounts.getLong(2)) else None
    val afterLang = stageCounts.getLong(3)
    val afterDecon = if (benchmark.isDefined) Some(stageCounts.getLong(4)) else None
    val afterLm = if (minLmScore.isDefined) Some(stageCounts.getLong(5)) else None
    val afterExact = stageCounts.getLong(6)
    val afterNear = fin.getLong(0)
    val totalTokens = fin.getLong(1)
    // report-only callers (benchmarks, accounting jobs) should not keep the
    // cleaned corpus cached across the rest of the job
    if (retainResult) Scope.persist(cleaned) else cleaned.unpersist()

    (cleaned, Report(input, afterQuality, afterLang, afterExact, afterNear,
      totalTokens, afterRep, afterDecon, afterLm))
  }

  /** The embedding-side curation pipeline — the x17/x37 composition story
    * for the vector modality: (1) label-coherence trim (drop vectors whose
    * cosine to their own label centroid falls below `minCosCentroid` —
    * labeling-noise removal, x56's machinery), then (2) semantic dedup on
    * the survivors (pivot-cell blocked pairs ≥ `dupThreshold`, connected
    * components, keep the min-id representative — x42's machinery, pivots
    * drawn from the TRIMMED corpus so the stages genuinely chain).
    * Returns the per-label funnel: n_total → n_after_trim → n_after_dedup.
    *
    * Scale shape inherits from the composed parts: one corpus scan for the
    * broadcast centroid grid, cell-blocked Σcell² candidate pairs (never
    * all-pairs), pointer-jumped components, and the funnel as three
    * label-keyed map-side-combining aggregations. */
  def curateEmbeddings(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      minCosCentroid: Double = 0.0,
      dupThreshold: Double = 0.35,
      nCells: Int = 16,
      seed: String = "v1",
      passes: Int = 2): DataFrame = {
    val cos = Similarity.labelCentroidCosines(emb, idCol, vecCol, labelCol)
    // `kept` is referenced five times downstream (the isEmpty probe, the
    // dup-cluster blocking, the anti-join, and two funnel aggregations);
    // unpersisted, EVERY reference re-ran the centroid aggregation +
    // cosine scan behind keptIds. The id frame is 8-byte rows — the
    // cheap-cache side of the x100 lesson.
    val keptIds = Scope.persist(
      cos.where(col("cos_centroid") >= minCosCentroid).select(col(idCol)))
    val kept = emb.join(keptIds, Seq(idCol), "left_semi")
    // the pivot quantizer refuses an empty corpus by contract; a fully
    // trimmed (or empty) input short-circuits to an empty funnel instead
    // — isEmpty is a LIMIT-1 probe, not a materialization
    val surviving =
      if (kept.isEmpty) kept
      else {
        val clusters = Similarity.semanticDupClustersPivots(
          kept, idCol, vecCol, dupThreshold, nCells, seed, passes)
        val dropped = clusters.where(col("id") =!= col("cluster"))
          .select(col("id").as(idCol))
        kept.join(dropped, Seq(idCol), "left_anti")
      }
    val t0 = emb.groupBy(labelCol).agg(count(lit(1)).as("n_total"))
    val t1 = kept.groupBy(labelCol).agg(count(lit(1)).as("__t1"))
    val t2 = surviving.groupBy(labelCol).agg(count(lit(1)).as("__t2"))
    t0.join(t1, Seq(labelCol), "left").join(t2, Seq(labelCol), "left")
      .select(col(labelCol), col("n_total"),
        coalesce(col("__t1"), lit(0L)).as("n_after_trim"),
        coalesce(col("__t2"), lit(0L)).as("n_after_dedup"))
  }

  /** The whole-pipeline text-curation flagship (x100): C4 line rules →
    * corpus-wide keep-first paragraph dedup → exact dedup → benchmark
    * decontamination → per-source mixture downsampling → HRW shard
    * manifest, composed as ONE plan with exactly THREE documented caches:
    * the C4 survivors (ParagraphDedup reads its input twice by
    * construction, plus the 1_c4 funnel row), the paragraph-dedup
    * survivors (consumed by five later stages — the funnel rows and every
    * downstream filter re-read it) and the final mixture corpus (read by
    * its funnel row AND the shard manifest). Everything between the
    * caches is filter/projection/broadcast riding the cached scans — no
    * other stage boundary materializes (caching nd/dc as well was
    * measured SLOWER; see OPTIMIZATION_r13.md).
    *
    * `docs` must already be line-structured in `textCol` (lines joined
    * with '\n'); `benchmark` supplies the decontamination gram source.
    * Output: (stage, n_docs, n_tokens) funnel rows — stages 0_input …
    * 5_mixture plus one 6_shard_<k> row per shard. */
  def curationFlagship(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      sourceCol: String,
      benchmark: DataFrame,
      badPhrases: Seq[String],
      minWordsPerLine: Int = 5,
      minKeptLines: Int = 3,
      contaminationN: Int = 13,
      contaminationMax: Double = 0.3,
      mixRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      nShards: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // token count = number of maximal \S runs — identical to
    // size(filter(split(trim(c), "\s+"), _ =!= "")) for every string
    // (split-on-\s+ tokens ARE the \S+ runs; the filter only drops the
    // empty artifact of a leading separator). regexp_count plans as ONE
    // size(regexp_extract_all(…)) instead of the trim→split→HOF-filter
    // chain (three expression layers, two array passes) — measured
    // faster on the token-count queries in same-position A/B (guide
    // §1.2 per-task work).
    // The 0_input row itself stays a full raw-text pass: it is the one
    // stage NOTHING else consumes, so the only alternative — caching raw
    // tokenization — is the exact full-text-cache shape measured slower
    // in r13 (see the nd/dc experiment in OPTIMIZATION_r13.md).
    def ntok(c: Column): Column =
      regexp_count(c, lit("\\S+")).cast("long")
    def stat(stage: String, df: DataFrame, tc: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(ntok(col(tc))), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))

    val base = docs.select(col(idCol), col(sourceCol), col(textCol).as("text"))
    // the C4 survivors are read THREE times — ParagraphDedup references
    // its input twice by construction (the narrow occurrence projection
    // AND the rebuild join), plus the 1_c4 funnel row — so an uncached c4
    // re-ran the whole line-rule kernel pipeline three times (measured:
    // the pd fill alone dropped 7.0 s → 2.5 s at sf0.1 with this cache,
    // and the 1_c4 stat 1.5 s → 0.2 s; guide §2.4). Contrast with the
    // nd/dc stages, where the same experiment measured SLOWER (their
    // recomputes are cheap projections off this cache) — see
    // OPTIMIZATION_r13.md.
    val c4 = Scope.persist(C4Filters.c4Report(base, "text",
        minWordsPerLine, minKeptLines, badPhrases, lineSep = "\n")
      .where(col("keep"))
      .select(col(idCol), col(sourceCol), col("clean_text").as("text")))

    val pd = Scope.persist(ParagraphDedup
      .keepFirstParagraphs(c4, "text", idCol, sep = "\n")
      .select(col(idCol), col(sourceCol), col("cleaned_text"))
      .where(length(col("cleaned_text")) > 0))
    pd.count()

    val nd = Dedup.dropExactDuplicates(pd, "cleaned_text", idCol)

    val bench = TextAnalysis.benchmarkGramSet(benchmark, textCol,
      n = contaminationN)
    val grams = call_function("graft_ngram_hashes",
      regexp_replace(lower(trim(col("cleaned_text"))), "\\s+", " "),
      lit(contaminationN))
    val dc = nd
      .withColumn("__g", grams)
      .crossJoin(broadcast(bench))
      .withColumn("__ratio",
        when(size(col("__g")) > 0,
          call_function("graft_intersect_count", col("__g"), col("bench_grams"))
            .cast("double") / size(col("__g")).cast("double"))
          .otherwise(lit(0.0)))
      .where(col("__ratio") < contaminationMax)
      .select(col(idCol), col(sourceCol), col("cleaned_text"))

    val mix = Scope.persist(MixtureSampling
      .sampleByRates(dc, sourceCol, idCol, mixRates, defaultRate))
    mix.count()

    val shards = Sharding.hrwShard(mix, idCol, nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(ntok(col("cleaned_text"))), lit(0L)).as("n_tokens"))
      .select(concat(lit("6_shard_"), col("shard").cast("string")).as("stage"),
        col("n_docs"), col("n_tokens"))

    stat("0_input", base, "text")
      .unionAll(stat("1_c4", c4, "text"))
      .unionAll(stat("2_paradedup", pd, "cleaned_text"))
      .unionAll(stat("3_exactdedup", nd, "cleaned_text"))
      .unionAll(stat("4_decontam", dc, "cleaned_text"))
      .unionAll(stat("5_mixture", mix, "cleaned_text"))
      .unionAll(shards)
      .orderBy("stage")
  }

  /** Greedy maximum-coverage selection (Nemhauser–Wolsey–Fisher 1978, the
    * (1 − 1/e) greedy for monotone submodular objectives): pick k
    * documents that together cover the most DISTINCT shingles — the
    * coverage-based data-selection primitive ("which k docs teach the
    * most n-grams"), complementary to the embedding-space selectors
    * (x97 spread, x152 MMR). Gains are exact shingle counts, ties break
    * (gain desc, id asc), so the traversal is integer-deterministic and
    * replays as chained anti-join CTEs.
    *
    * Scale shape: the (doc, shingle-hash) projection is built once; each
    * of the k rounds is ONE distributed anti-join of the PERSISTED
    * remaining frame against the latest pick's shingle set (a keyed
    * equi-join on 8-byte hashes — the pick's set never collects to the
    * driver) followed by a map-side-combined count aggregation and a
    * distributed TakeOrdered(1). The remaining frame shrinks
    * monotonically (covered shingles leave it for every doc at once);
    * the previous round's cache is released after the new round
    * materializes. Driver state: k (id, gain) rows — metadata-sized. */
  def coverageSelect(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      shingleSize: Int = 3): DataFrame = {
    require(k >= 1 && k <= 64, "coverageSelect: k must be in [1, 64]")
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._

    var remaining = df
      .select(col(idCol).as("id"),
        explode(call_function("graft_shingle_hashes",
          col(textCol), lit(shingleSize))).as("tok"))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var prev: Option[DataFrame] = None
    var done = false
    // the last round's frame is released when this Scope closes, a
    // failing round's too
    Scope {
      for (_ <- 0 until k if !done) {
        val cur = Scope.persist(remaining)
        val pick = cur.groupBy("id").agg(count(lit(1)).as("gain"))
          .orderBy(desc("gain"), col("id")).limit(1).collect()
        prev.foreach(Scope.release)
        prev = Some(cur)
        if (pick.isEmpty) done = true
        else {
          val id = pick.head.getLong(0)
          selected += ((id, pick.head.getLong(1)))
          val covered = cur.where(col("id") === id).select("tok")
          remaining = cur.where(col("id") =!= id)
            .join(covered, Seq("tok"), "left_anti")
        }
      }
    }
    val cum = selected.scanLeft(0L)(_ + _._2).drop(1)
    selected.zip(cum).zipWithIndex
      .map { case (((id, g), c), i) => (i + 1L, id, g, c) }
      .toSeq.toDF("rank", "doc_id", "gain_shingles", "covered_total")
  }
}
