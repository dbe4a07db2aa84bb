package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus vocabulary statistics and TF-IDF term weighting — the
  * frequency-analysis leg of a training-data pipeline (vocabulary
  * construction for tokenizer training, per-document keyword extraction
  * for topic mixing/filter rules).
  *
  * Scale shape: both operators are explode → hash-aggregate pipelines.
  * Term counting is a map-side-partial aggregation, so stopword skew
  * (the "the" key holding 5% of all postings) collapses on the map side
  * before the exchange — the shuffled volume is distinct-terms-sized, not
  * postings-sized. Nothing touches the driver; the corpus size for IDF is
  * a 1-row broadcast.
  */
object Vocabulary {

  /** Whitespace tokens, lowercased, empties dropped — the same
    * tokenization contract as Dedup.shingles/NgramLm (and the DuckDB
    * oracles' string_split_regex replay). */
  private def tokens(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => t =!= "")

  /** ONE tokenization of the corpus, persisted as a (doc, token-array)
    * projection: every retrieval consumer (query term profile, df lookup,
    * postings, document length, corpus stats) derives from this cache by
    * exploding / sizing the already-split arrays — without it the lazy
    * lineage re-runs the split regex over the full corpus once per
    * consumer (measured ~5 tokenization scans through x96's more-like-this
    * before this cache). Cache size ≈ the postings themselves; released by
    * the caller's Scope once the ranked result is consumed. */
  private def tokenArrays(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Scope.persist(docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("__t")))

  /** Corpus term statistics: one row per distinct term with
    * (term, tf = total occurrences, df = documents containing it).
    * Two aggregations fused in one pass: explode to (doc, term), then a
    * single groupBy(term) computing count(*) and count_distinct(doc).
    * count_distinct's dedup runs inside the partial aggregation, so the
    * exchange carries (term, doc)-distinct rows at worst. */
  def termStats(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy("term")
      .agg(
        count(lit(1)).as("tf"),
        count_distinct(col("__doc")).as("df"))

  /** Term burstiness (Church & Gale 1995; Katz 1996): the
    * variance-to-mean ratio of a term's per-document counts over ALL n
    * documents — ≈ 1 for Poisson "background" terms (stopwords), ≫ 1 for
    * bursty content terms that clump into few documents. The classic
    * keyword-vs-function-word separator a curation pass reads next to
    * raw tf.
    *
    * Exact integers end to end: with S = Σc and S₂ = Σc² over the docs
    * containing the term, the zeros of the n−df absent docs arrive FREE
    * in the algebra — Var·n² = n·S₂ − S², mean·n = S, so
    * vmr_ppm = 10⁶·(n·S₂ − S²) div (n·S), never materializing a zero
    * row. Output: top-k by (vmr_ppm DESC, term) among terms with
    * df ≥ minDf, as (term, tf, df, vmr_ppm).
    *
    * Scale shape: one explode → (doc, term) counts (map-side combined),
    * one term-keyed aggregation; n is a 1-row broadcast; the top-k is a
    * TakeOrdered, never a global sort. */
  def termBurstiness(
      docs: DataFrame,
      textCol: String, idCol: String,
      minDf: Long = 5, k: Int = 30): DataFrame = {
    require(minDf >= 1, "termBurstiness: minDf >= 1")
    require(k >= 1 && k <= 10000, "termBurstiness: k in [1, 10000]")
    val dec = "decimal(38,0)"
    val stats = docs
      .select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy("__doc", "term").agg(count(lit(1)).as("c"))
      .groupBy("term")
      .agg(
        sum("c").as("tf"),
        sum(expr(s"CAST(c AS $dec) * c")).as("s2"),
        count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    stats.crossJoin(broadcast(nDocs))
      .where(col("df") >= minDf)
      .select(col("term"), col("tf"), col("df"),
        expr(s"((CAST(n AS $dec) * s2 - CAST(tf AS $dec) * tf) * 1000000) " +
          s"div (CAST(n AS $dec) * tf)").cast("long").as("vmr_ppm"))
      .orderBy(desc("vmr_ppm"), col("term"))
      .limit(k)
  }

  /** Top-k terms per document by TF-IDF, score = tf_doc * ln(N / df)
    * (natural log, raw counts — the textbook form). N = documents with at
    * least one token. The ranking orders on the score ROUNDED to 4 decimals
    * with the term as tie-break, so the top-k is stable and replayable in
    * another engine (a raw-double ordering could flip on a last-ulp ln()
    * difference between libms). Output: (id, rank, term, tf, df, score).
    *
    * Plan: the text explodes exactly ONCE — per-(doc, term) counts shuffle
    * on (doc, term), then df rides a count() window over the term
    * partitioning of that same (doc, term)-distinct table (no join, no
    * second pass over text). N comes from the raw docs without exploding
    * (a tokenize-and-size scan), broadcast as a 1-row cross-join — never a
    * global window. */
  /** Adjacent-bigram PMI collocations: pointwise mutual information
    * ln( p(w1,w2) / (p(w1)·p(w2)) ) over adjacent token pairs, reported for
    * pairs seen ≥ minCount times (the classic Church & Hanks 1990
    * collocation measure — a corpus-analysis staple for spotting templated
    * boilerplate and multi-word terms before tokenizer training).
    *
    * Probabilities use raw counts: p(w1,w2) = c(w1,w2)/N₂ over all adjacent
    * pairs, p(w) = c(w)/N₁ over all tokens. The ranking orders on the score
    * ROUNDED to 4 decimals with the pair as tie-break (same ln()-ulp
    * armoring as tfIdfTopTerms).
    *
    * Plan: tokens explode twice (unigram pass, pair pass) but both are
    * map-side-combined hash aggregations whose exchanges carry distinct
    * terms/pairs, not postings; N₁/N₂ are 1-row broadcasts; the two count
    * joins shuffle the minCount-filtered pair vocabulary only. */
  def bigramPmi(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 5,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be positive")
    val toks = tokens(col(textCol))
    // guard size ≥ 2 BEFORE sequence(): sequence(1, 0) is the descending
    // [1, 0], not empty
    val pairs = docs
      .select(toks.as("__t")).where(size(col("__t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(
          element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), (i + 1).cast("int")).as("w2")))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val uni = docs.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val n1 = uni.agg(sum(col("cu")).as("n1"))
    val n2 = pairs.agg(count(lit(1)).as("n2"))
    val cb = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    cb
      .join(uni.select(col("w").as("w1"), col("cu").as("__c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      // fixed association order — each step is a correctly-rounded IEEE op,
      // so the oracle replays the same doubles before the final ln()
      .withColumn("pmi", round(
        log((col("n_pair") * lit(1.0) / col("n2")) /
          ((col("__c1") * lit(1.0) / col("n1")) * (col("__c2") * lit(1.0) / col("n1")))),
        4))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "n_pair", "pmi")
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993 — the
    * G²-test collocation measure that, unlike [[bigramPmi]], stays
    * calibrated at LOW counts, where PMI's ln(p/pq) explodes on
    * singletons). For each adjacent bigram seen ≥ minCount times, the
    * 2×2 contingency over all N₂ bigram events
    * (k₁₁ = c(w₁w₂), margins c(w₁·), c(·w₂)) scores
    * G² = 2·Σ kᵢⱼ·ln(kᵢⱼ·N/(rowᵢ·colⱼ)), zero cells contributing 0.
    * The ranking orders on G² ROUNDED to 4 decimals with the pair as
    * tie-break (the tfIdfTopTerms ln-ulp armoring).
    *
    * Scale shape: one pair explode (map-side-combined counts), two
    * margin aggregations of the SAME pair frame (no second text pass),
    * joins shuffle only the minCount-filtered pair vocabulary; N₂ is a
    * 1-row broadcast; top-k is a TakeOrdered. */
  def bigramLlr(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 5,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be positive")
    val toks = tokens(col(textCol))
    val pairs = Scope.persist(docs
      .select(toks.as("__t")).where(size(col("__t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(
          element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), (i + 1).cast("int")).as("w2")))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2")))
    val lm = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val rm = pairs.groupBy("w2").agg(count(lit(1)).as("c2"))
    val n2 = pairs.agg(count(lit(1)).as("n2"))
    val cb = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("k11"))
      .where(col("k11") >= minCount)
    // per-cell term: k·ln( (k/N) / ((row/N)·(col/N)) ), zero cells → 0;
    // the identical CASE/ln text replays in the oracle. EXPLICIT double
    // casts — a bare `* 1.0` literal is DECIMAL in Spark SQL (and
    // DuckDB), and decimal-division rounding shifts the ratios by far
    // more than an ulp
    def cell(k: String, r: String, s: String): String =
      s"CASE WHEN ($k) > 0 THEN ($k) * ln((CAST($k AS DOUBLE) / n2) / " +
        s"((CAST($r AS DOUBLE) / n2) * (CAST($s AS DOUBLE) / n2))) " +
        "ELSE CAST(0.0 AS DOUBLE) END"
    cb
      .join(lm, Seq("w1"))
      .join(rm, Seq("w2"))
      .crossJoin(broadcast(n2))
      .withColumn("llr", round(expr(
        "2.0 * (" + Seq(
          cell("k11", "c1", "c2"),
          cell("c1 - k11", "c1", "n2 - c2"),
          cell("c2 - k11", "n2 - c1", "c2"),
          cell("n2 - c1 - c2 + k11", "n2 - c1", "n2 - c2"))
          .mkString(" + ") + ")"), 4))
      .orderBy(desc("llr"), col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "k11", "llr")
  }

  /** Out-of-vocabulary rate per document against the corpus' own top-k
    * vocabulary (count DESC, term ASC tie-break) — the coverage check run
    * before freezing a tokenizer vocab: documents with high OOV share are
    * either foreign-language, noise, or evidence the vocab is too small.
    *
    * Scale shape: the vocabulary is ONE sorted array row (top-k is
    * TakeOrdered, never a full sort) broadcast onto a shuffle-free corpus
    * scan — the same benchmarkGramSet pattern as decontamination. The
    * per-token membership probe is a linear scan of the k-array; for
    * vocabularies beyond ~10⁵ terms switch to an explode + left-anti join
    * on the term key. */
  def oovRates(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be positive")
    val vocab = docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("__c"))
      .orderBy(desc("__c"), col("term")).limit(vocabSize)
      .agg(sort_array(collect_list(col("term"))).as("__vocab"))
    docs
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        size(filter(col("__t"), t => !array_contains(col("__vocab"), t)))
          .cast("long").as("n_oov"))
      .withColumn("oov_rate",
        floor(col("n_oov") / greatest(col("n_tokens"), lit(1L)) * lit(10000.0) + lit(0.5))
          / lit(10000.0))
  }

  def tfIdfTopTerms(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val postings = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val perDoc = postings.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // df = rows per term of the (doc, term)-distinct aggregate; a window
    // over a term-partitioned exchange of perDoc, not a join back to a
    // second postings aggregation
    val withDf = perDoc.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    val nDocs = docs
      .where(size(tokens(col(textCol))) > 0)
      .agg(count_distinct(col(idCol)).as("n_docs"))

    val w = Window.partitionBy("id").orderBy(desc("score"), col("term"))
    withDf
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("id", "rank", "term", "tf", "df", "score")
  }

  /** BM25 ranked retrieval (Robertson & Spärck Jones; Lucene's
    * idf = ln(1 + (N − df + ½)/(df + ½)) form) — top-k documents per
    * query for a literal query set.
    *
    * Scale shape: the distinct query terms BROADCAST into the postings
    * explode, so only matched postings ever aggregate — shuffled volume
    * tracks result-relevant terms, not corpus token count. df comes from a
    * term-partitioned window over the already-aggregated (doc, term)
    * frame (x33's trick — no second postings pass), document length is a
    * narrow projection, and N/avgdl ride a 1-row broadcast. Ranks order
    * on the 4-decimal-rounded score (then doc id) so cross-engine ln()
    * ulps cannot reorder the top-k — x33's convention.
    *
    * `queries`: (query id, whitespace query text). A term appearing in
    * several queries scores each independently. */
  def bm25TopK(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queries: Seq[(String, String)],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "bm25TopK needs at least one query")
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.toDF("qid", "qtext")
      .select(col("qid"), explode(split(lower(col("qtext")), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .distinct()
    bm25Rank(docs, textCol, idCol, qterms, k, k1, b, excludeSelf = false)
  }

  /** BM25 ranking core shared by bm25TopK (literal queries) and
    * moreLikeThis (data-derived query terms): `qterms` is a metadata-sized
    * (qid, term) frame that BROADCASTS into the postings explode, so
    * shuffled volume tracks matched postings, never corpus tokens.
    * `tokArr` is the cached (doc, token-array) projection from
    * tokenArrays — postings, document length and corpus stats all derive
    * from it, so the corpus tokenizes exactly once per retrieval call. */
  private def bm25Rank(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      qterms: DataFrame,
      k: Int,
      k1: Double,
      b: Double,
      excludeSelf: Boolean): DataFrame =
    bm25RankCore(tokenArrays(docs, textCol, idCol), qterms, k, k1, b, excludeSelf)

  private def bm25RankCore(
      tokArr: DataFrame,
      qterms: DataFrame,
      k: Int,
      k1: Double,
      b: Double,
      excludeSelf: Boolean): DataFrame = {
    val toks = tokArr.select(col("doc"), explode(col("__t")).as("term"))
    val tf = toks
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("doc", "term").agg(count(lit(1)).cast("double").as("tf"))
    bm25RankCoreFromTf(tokArr, tf, qterms, k, k1, b, excludeSelf)
  }

  // the BM25 core over a PRECOMPUTED (doc, term, tf) postings frame
  // covering at least the query terms (moreLikeThis reuses its df-lookup
  // frame here): filtering a superset down to qterms leaves both tf and
  // the per-term df counts unchanged, so the ranking is identical to
  // building the frame from the raw postings.
  private def bm25RankCoreFromTf(
      tokArr: DataFrame,
      tf0: DataFrame,
      qterms: DataFrame,
      k: Int,
      k1: Double,
      b: Double,
      excludeSelf: Boolean): DataFrame = {
    val dl = tokArr.select(col("doc"), size(col("__t")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val tf = tf0.join(broadcast(qterms.select("term").distinct()), Seq("term"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")).cast("double"))

    val contrib = withDf
      .join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc"))
      .crossJoin(broadcast(stats))
      .withColumn("__c",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val base = if (excludeSelf) contrib.where(col("doc") =!= col("qid")) else contrib
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("doc"))
    base
      .groupBy("qid", "doc")
      .agg(round(sum(col("__c")), 4).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc"), col("score"), col("rank"))
  }

  // The b-independent postings prefix (tf, df, dl, corpus stats — the
  // corpus-scaled 90 % of bm25RankCore) scored at TWO length-
  // normalization settings in ONE pass: same contrib rows, one
  // aggregation with two score columns. rboCompare's engine — the two
  // variants differ only in the final scoring expression, so running
  // the postings pipeline twice bought nothing but a second corpus scan.
  private def bm25ScorePair(
      tokArr: DataFrame,
      qterms: DataFrame,
      k1: Double,
      b1: Double,
      b2: Double): DataFrame = {
    val toks = tokArr.select(col("doc"), explode(col("__t")).as("term"))
    val dl = tokArr.select(col("doc"), size(col("__t")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val tf = toks
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("doc", "term").agg(count(lit(1)).cast("double").as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")).cast("double"))
    def contrib(b: Double): Column =
      log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
        col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    withDf
      .join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc"))
      .crossJoin(broadcast(stats))
      .groupBy("qid", "doc")
      .agg(round(sum(contrib(b1)), 4).as("score1"),
        round(sum(contrib(b2)), 4).as("score2"))
  }

  // bm25RankCore's top-k cut over a pre-scored (qid, doc, score*) frame
  private def rankFromScores(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(desc(scoreCol), col("doc"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc"), col(scoreCol).as("score"), col("rank"))
  }

  /** Retrieval-quality evaluation of the BM25 ranking against a
    * conjunctive relevance oracle: a document is RELEVANT to a query iff
    * it contains EVERY query term at least `minTf` times (the strict
    * lexical notion — BM25's tf/length tradeoffs can and do rank partial
    * matches above full ones, which is exactly what this measures; raise
    * minTf to make relevance rarer than the retrieval cut). Per query:
    * (qid, n_ret, n_rel, hits, p_at_k_ppm, recall_at_k_ppm, mrr_ppm,
    * ndcg) — P@k / recall@k / MRR as exact integer ppm, NDCG@k (binary
    * gains, log2 discounts) as ORDER-PINNED folds over the ≤ k-row rank
    * arrays (the chiSquareIndependence discipline — bit-replayable via
    * list_reduce).
    *
    * Scale shape: the corpus tokenizes ONCE (the cached tokenArrays
    * projection feeds the BM25 core AND the relevance flags); relevance
    * tests are plan-literal array_contains conjunctions (no join); the
    * ranked top-k (|queries|·k rows) BROADCASTS into the relevance scan;
    * per-query metrics run on |queries| driver-sized rows. Consume the result inside a Scope. */
  def retrievalEvalBm25(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queries: Seq[(String, String)],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      minTf: Int = 1,
      roundTo: Int = 6): DataFrame = {
    require(queries.nonEmpty, "retrievalEvalBm25 needs at least one query")
    require(k >= 1 && k <= 1000, "retrievalEvalBm25: k in [1, 1000]")
    require(minTf >= 1, "retrievalEvalBm25: minTf >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = queries.map { case (qid, qtext) =>
      qid -> qtext.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    }
    val qterms = terms.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("qid", "term")
    val tokArr = tokenArrays(docs, textCol, idCol)
    // the |queries|·k ranked frame feeds the hit join AND the n_ret
    // counts — cache it so the postings join + top-k window run once
    val ranked = Scope.persist(
      bm25RankCore(tokArr, qterms, k, k1, b, excludeSelf = false))
    // relevance flags: one pass over the cached token arrays, one
    // plan-literal conjunction per query — no join, no second tokenize
    def termOk(t: String): Column =
      if (minTf == 1) array_contains(col("__t"), t)
      else size(filter(col("__t"), x => x === t)) >= minTf
    val relCols = terms.map { case (qid, ts) =>
      when(ts.map(termOk).reduce(_ && _), lit(qid))
    }
    val relevant = tokArr
      .select(col("doc"), explode(array_compact(array(relCols: _*))).as("qid"))
    val nRel = relevant.groupBy("qid").agg(count(lit(1)).as("n_rel"))
    val hits = relevant
      .join(broadcast(ranked.select(col("qid"), col("doc"), col("rank"))),
        Seq("qid", "doc"))
      .select(col("qid"), col("rank"))
    val perQ = ranked.groupBy("qid").agg(count(lit(1)).as("n_ret"))
      .join(hits.groupBy("qid").agg(
        count(lit(1)).as("hits"),
        min("rank").as("first_hit"),
        sort_array(collect_list(col("rank"))).as("hit_ranks")), Seq("qid"), "left")
      .join(nRel, Seq("qid"), "left")
    // every query appears (ranked emits ≤ k rows per qid; a query with
    // no matching postings emits none — union those in with zero rows)
    val allQ = terms.map(_._1).toDF("qid")
    allQ.join(perQ, Seq("qid"), "left")
      .select(
        col("qid"),
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"(coalesce(hits, 0L) * 1000000) div ${k}L").as("p_at_k_ppm"),
        when(coalesce(col("n_rel"), lit(0L)) === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(coalesce(hits, 0L) * 1000000) div n_rel"))
          .as("recall_at_k_ppm"),
        when(col("first_hit").isNull, lit(0L))
          .otherwise(expr("1000000 div first_hit")).as("mrr_ppm"),
        {
          // DCG over the sorted hit ranks; IDCG over the best-possible
          // min(n_rel, k) positions — both order-pinned folds
          val dcg = expr(
            """aggregate(coalesce(hit_ranks, array()),
              |  CAST(0.0 AS DOUBLE), (acc, r) ->
              |  acc + ln(2.0D) / ln(CAST(r + 1 AS DOUBLE)))""".stripMargin)
          val m = least(coalesce(col("n_rel"), lit(0L)), lit(k.toLong))
          val idcg = when(m >= 1L, expr(
            s"""aggregate(sequence(1L, least(coalesce(n_rel, 0L), ${k}L)),
               |  CAST(0.0 AS DOUBLE), (acc, i) ->
               |  acc + ln(2.0D) / ln(CAST(i + 1 AS DOUBLE)))""".stripMargin))
            .otherwise(lit(0.0d))
          when(m < 1L, lit(null).cast("double"))
            .otherwise(round(dcg / idcg, roundTo)).as("ndcg")
        })
      .orderBy("qid")
  }

  /** Top-k vocabulary alignment between two sub-corpora: the (count DESC,
    * term ASC)-ranked top-k term lists of cohort A vs cohort B, compared
    * by set overlap, exact Jaccard ppm, and rank-biased overlap (the
    * x202 literal-tail-coefficient machinery) — the "do these sources
    * even speak the same language?" readout behind mixture decisions.
    * One row: (k, n_terms_a, n_terms_b, overlap_at_k, jaccard_ppm, rbo).
    *
    * Scale shape: ONE tokenization explode feeds one (term → cnt_a,
    * cnt_b) aggregation with conditional sums; each top-k is a
    * TakeOrdered cut (never a full sort); everything after runs on the
    * two ≤ k-row frames. */
  def vocabOverlapTopK(
      docs: DataFrame,
      textCol: String,
      inA: Column,
      k: Int = 50,
      p: Double = 0.9,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1 && k <= 1000, "vocabOverlapTopK: k in [1, 1000]")
    require(p > 0.0 && p < 1.0, "vocabOverlapTopK: p in (0, 1)")
    val counts = docs
      .select(tokens(col(textCol)).as("__t"), inA.cast("boolean").as("__a"))
      .where(col("__a").isNotNull)
      .select(explode(col("__t")).as("term"), col("__a"))
      .groupBy("term")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("cb"))
    val cached = Scope.persist(counts)
    def top(side: String): DataFrame = {
      val c = col(if (side == "a") "ca" else "cb")
      cached.where(c > 0L)
        .orderBy(c.desc, col("term"))
        .limit(k)
        .withColumn(s"r$side",
          row_number().over(Window.orderBy(c.desc, col("term"))).cast("long"))
        .select(col("term"), col(s"r$side"))
    }
    val ta = top("a")
    val tb = top("b")
    val coeff = (1 to k).map(d => (1.0 - p) * math.pow(p, d - 1) / d)
    val tail = (1 to k).map(m => coeff.drop(m - 1).sum)
    val tailCase = (1 to k).map(m => s"WHEN ${m}L THEN ${tail(m - 1)}D")
      .mkString("CASE s.m ", " ", " ELSE 0.0D END")
    val matched = ta.join(tb, Seq("term"))
      .select(col("term"), greatest(col("ra"), col("rb")).as("m"))
    val sizes = ta.agg(count(lit(1)).as("n_terms_a"))
      .crossJoin(tb.agg(count(lit(1)).as("n_terms_b")))
    sizes.crossJoin(
      matched.agg(
        count(lit(1)).as("overlap_at_k"),
        sort_array(collect_list(struct(col("m"), col("term")))).as("o")))
      .select(
        lit(k.toLong).as("k"),
        col("n_terms_a"), col("n_terms_b"),
        coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"),
        when(col("n_terms_a") + col("n_terms_b") === 0L,
          lit(null).cast("long"))
          .otherwise(expr(
            """(coalesce(overlap_at_k, 0L) * 1000000)
              |div (n_terms_a + n_terms_b - coalesce(overlap_at_k, 0L))"""
              .stripMargin)).as("jaccard_ppm"),
        round(expr(
          s"""aggregate(coalesce(o, array()), CAST(0.0 AS DOUBLE),
             |  (acc, s) -> acc + $tailCase)""".stripMargin), roundTo).as("rbo"))
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010) between the BM25
    * ranking WITH length normalization (b = 0.75) and WITHOUT (b = 0) —
    * the top-weighted ranking-similarity readout behind "does length
    * normalization actually change what we retrieve?". Reported per
    * query: (qid, n_a, n_b, overlap_at_k, rbo) where rbo is the
    * truncated partial sum Σ_{d=1..k} (1−p)·p^{d−1}·X_d/d (X_d = prefix
    * overlap at depth d) — the standard depth-k RBO lower bound.
    *
    * Determinism: a doc matched at ranks (r_A, r_B) contributes the
    * PRECOMPUTED literal tail coefficient Σ_{d≥max(r_A,r_B)} (1−p)p^{d−1}/d
    * — the coefficients are Scala-computed double literals shared with
    * the oracle, and the ≤ k contributions per query fold in sorted
    * (m, doc) order (order-pinned, list_reduce-replayable).
    *
    * Scale shape: ONE cached tokenization feeds BOTH ranking variants
    * (two bounded top-k frames); the match join and folds run on
    * |queries|·k rows. Consume the result inside a Scope. */
  def rboCompare(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queries: Seq[(String, String)],
      k: Int = 10,
      p: Double = 0.9,
      roundTo: Int = 6): DataFrame = {
    require(queries.nonEmpty, "rboCompare needs at least one query")
    require(k >= 1 && k <= 100, "rboCompare: k in [1, 100]")
    require(p > 0.0 && p < 1.0, "rboCompare: p in (0, 1)")
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, qtext) =>
      qtext.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.map(qid -> _)
    }.toDF("qid", "term")
    val tokArr = tokenArrays(docs, textCol, idCol)
    // ONE postings pass scores BOTH variants: everything up to the
    // (qid, doc) score aggregation is b-independent (tf, df, dl, corpus
    // stats), so the corpus-scaled explode + match join + aggregation
    // run once with two score columns, and only the two ≤ |queries|·k
    // top-k windows differ — before this, each variant re-ran the whole
    // postings pipeline (guide §1.2: fix the distributed algorithm
    // before anything else; measured ~2× on x202's corpus scan). Each
    // ranking still persists: it feeds the match join AND its own count.
    val scored = Scope.persist(
      bm25ScorePair(tokArr, qterms, k1 = 1.2, b1 = 0.75, b2 = 0.0))
    val a = Scope.persist(rankFromScores(scored, "score1", k)
      .select(col("qid"), col("doc"), col("rank").as("ra")))
    val bSide = Scope.persist(rankFromScores(scored, "score2", k)
      .select(col("qid"), col("doc"), col("rank").as("rb")))
    // tail(m) = Σ_{d=m..k} (1−p)·p^{d−1}/d — literal doubles, shared
    // verbatim with the oracle
    val coeff = (1 to k).map(d => (1.0 - p) * math.pow(p, d - 1) / d)
    val tail = (1 to k).map(m => coeff.drop(m - 1).sum)
    val tailCase = (1 to k).map(m => s"WHEN ${m}L THEN ${tail(m - 1)}D")
      .mkString("CASE s.m ", " ", " ELSE 0.0D END")
    val matched = a.join(bSide, Seq("qid", "doc"))
      .select(col("qid"), col("doc"), greatest(col("ra"), col("rb")).as("m"))
    val counts = a.groupBy("qid").agg(count(lit(1)).as("n_a"))
      .join(bSide.groupBy("qid").agg(count(lit(1)).as("n_b")), Seq("qid"), "full")
      .join(matched.groupBy("qid").agg(
        count(lit(1)).as("overlap_at_k"),
        sort_array(collect_list(struct(col("m"), col("doc")))).as("o")),
        Seq("qid"), "left")
    val allQ = queries.map(_._1).distinct.toDF("qid")
    allQ.join(counts, Seq("qid"), "left")
      .select(
        col("qid"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"),
        round(expr(
          s"""aggregate(coalesce(o, array()), CAST(0.0 AS DOUBLE),
             |  (acc, s) -> acc + $tailCase)""".stripMargin), roundTo).as("rbo"))
      .orderBy("qid")
  }

  /** More-like-this retrieval (the classic Lucene MLT shape): the query is
    * a DOCUMENT — its `nTerms` highest-tf·idf terms (rounded scores, term
    * tie-break, so the selection is engine-stable) become a BM25 query
    * against the corpus, the source document excluded from its own
    * results.
    *
    * Scale shape: the query doc's term profile and the df lookup for just
    * those terms are metadata-sized frames that broadcast; the corpus is
    * touched by exactly the same pruned-postings BM25 core as x81, and the
    * corpus tokenizes exactly ONCE — the cached tokenArrays projection
    * feeds the term profile, the df lookup, AND the BM25 core (postings,
    * dl, stats), where the naive lineage re-tokenized the corpus ~5×.
    * Nothing collects — the term selection stays a DataFrame end to end.
    * Consume the result inside a Scope. */
  def moreLikeThis(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryDocId: Long,
      nTerms: Int = 8,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(nTerms >= 1 && k >= 1, "nTerms and k must be ≥ 1")
    val tokArr = tokenArrays(docs, textCol, idCol)
    val toks = tokArr.select(col("doc"), explode(col("__t")).as("term"))
    val qtf = toks.where(col("doc") === queryDocId)
      .groupBy("term").agg(count(lit(1)).cast("double").as("qf"))
    // ONE postings pass serves BOTH the candidate-term df lookup and the
    // BM25 core's tf frame: the (doc, term) counts for the query doc's
    // terms are a superset of what the top-nTerms core needs, and
    // df(term) is just the per-term row count of that frame — before
    // this, the corpus postings exploded + joined twice (once for dfs,
    // once inside bm25RankCore; guide §1.2 / §2.4).
    val tfAll = Scope.persist(toks
      .join(broadcast(qtf.select("term")), Seq("term"))
      .groupBy("doc", "term").agg(count(lit(1)).cast("double").as("tf")))
    val dfs = tfAll.groupBy("term").agg(count(lit(1)).cast("double").as("qdf"))
    val nDocs = tokArr.agg(count(lit(1)).cast("double").as("qn"))
    val top = qtf.join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("qf") * log(col("qn") / col("qdf")), 4))
      .orderBy(desc("tfidf"), col("term"))
      .limit(nTerms)
      .select(lit(queryDocId).as("qid"), col("term"))
    bm25RankCoreFromTf(tokArr, tfAll, top, k, k1, b, excludeSelf = true)
  }

  /** Exact positional phrase search — the quoted-query counterpart of
    * bm25TopK: documents ranked by how often the phrase's tokens occur
    * ADJACENT and in order (overlapping occurrences count, the standard
    * positional-index semantics).
    *
    * Scale shape: the positional postings are filtered to the phrase's
    * terms by a literal IN at the scan projection — shuffled volume tracks
    * matched postings, never corpus tokens (the x81 property). The L-way
    * adjacency is a chain of (doc, pos−offset) equi-joins over 16-byte
    * rows, and the final rank is a distributed top-k
    * (TakeOrderedAndProject), not a single-partition global window. */
  def phraseSearch(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      phrase: Seq[String],
      k: Int = 10): DataFrame = {
    require(phrase.size >= 2,
      "phrase needs ≥ 2 terms (a single term is plain tf ranking)")
    val terms = phrase.map(_.toLowerCase)
    val post = docs
      .select(col(idCol).as("doc"), posexplode(tokens(col(textCol))))
      .select(col("doc"), col("pos"), col("col").as("term"))
      .where(col("term").isin(terms: _*))
    val first = post.where(col("term") === terms.head).select("doc", "pos")
    val matched = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(
        post.where(col("term") === t).select(col("doc"), (col("pos") - i).as("pos")),
        Seq("doc", "pos"))
    }
    val topK = matched.groupBy("doc")
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(desc("n_matches"), col("doc"))
      .limit(k)
    topK.withColumn("rank",
      row_number().over(Window.orderBy(desc("n_matches"), col("doc"))).cast("long"))
  }

  /** Deterministic unigram negative sampling (the SGNS/contrastive-
    * training draw): k negative tokens per document, sampled ∝ corpus
    * term frequency, derandomized so every engine — and every retry —
    * draws the SAME negatives: draw u(doc, j) = top-63-bits of the
    * FNV-1a+fmix64 hash of "doc:j" modulo the total token count, mapped
    * through the vocabulary's cumulative-frequency ranges.
    *
    * Scale shape: the cumulative table is built with the two-phase
    * distributed prefix sum (range partition by (tf DESC, token) → tiny
    * per-partition totals → per-partition window; Sharding.rankByColumns'
    * rationale — no single-partition global window). The draw→token
    * lookup is NOT a range join (a broadcast nested loop would evaluate
    * draws × vocab predicates): the cumulative space is cut into fixed-
    * width buckets, each vocab range explodes into the ~1 + tf/width
    * buckets it overlaps, and draws equi-join on their bucket id — vocab
    * + buckets rows on the build side, hash join, one range filter per
    * candidate. Draw skew is the unigram skew itself ("the" owns ~5% of
    * the cumulative space) but the build side is broadcast, so hot
    * buckets cost no exchange concentration. */
  def negativeSamples(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      buckets: Int = 1024): DataFrame = {
    require(k > 0 && buckets > 0, "k and buckets must be positive")
    val spark = docs.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val parted = Scope.persist(
      vocab.repartitionByRange(nPart, desc("cnt"), col("token"))
        .withColumn("__pid", spark_partition_id()))
    val perPid = parted.groupBy("__pid").agg(sum("cnt").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = perPid.map(_._2).sum
    require(total > 0, "negative sampling over an empty corpus")
    val offsets: Map[Int, Long] = {
      var acc = 0L
      perPid.map { case (pid, s) => val off = acc; acc += s; pid -> off }.toMap
    }
    val width = (total + buckets - 1) / buckets
    val w = Window.partitionBy("__pid").orderBy(desc("cnt"), col("token"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranges = parted
      .withColumn("lo",
        coalesce(sum(col("cnt")).over(w), lit(0L)) +
          element_at(typedlit(offsets), col("__pid")))
      .withColumn("bucket",
        explode(sequence(expr(s"lo div ${width}L"),
          expr(s"(lo + cnt - 1) div ${width}L"))))
      .select("bucket", "lo", "cnt", "token")
    val draws = docs
      .select(col(idCol).as("doc_id"))
      .withColumn("neg_idx", explode(sequence(lit(0L), lit(k - 1L))))
      .withColumn("draw",
        shiftrightunsigned(
          element_at(call_function("graft_token_hashes_fnv",
            concat_ws(":", col("doc_id"), col("neg_idx"))), 1), 1) % total)
      .withColumn("bucket", expr(s"draw div ${width}L"))
    draws.join(broadcast(ranges), Seq("bucket"))
      .where(col("draw") >= col("lo") && col("draw") < col("lo") + col("cnt"))
      .select(col("doc_id"), col("neg_idx"), col("draw"), col("token"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the corpus-level word co-occurrence graph — the graph-centrality
    * complement of frequency keywording (x33's TF-IDF): a term ranks high
    * when it co-occurs with many other well-connected terms, not merely
    * when it is frequent, which surfaces hub vocabulary that pure counts
    * bury under boilerplate.
    *
    * Graph contract (window = 2, the paper's strongest setting): an
    * UNDIRECTED unweighted edge joins two distinct words that appear
    * adjacent anywhere in the corpus; the rank fixed point is the shared
    * integer PageRank scheme (Graph.pageRankFixedPoint — exact long
    * arithmetic, so the oracle replays every superstep bit-for-bit).
    * Node ids are xxhash64(word) — a pure projection, NO vocab-wide id
    * sort. Sound because the integer fixed point is graph-isomorphism
    * invariant (teleport scale/n, share r div deg, dangling
    * redistribution — none reads the id value), so the oracle's own
    * dense-rank ids yield identical per-WORD ranks; a 64-bit collision
    * would merge two vocabulary nodes, which the hash-exact oracle
    * comparison would catch loudly.
    *
    * Output: (word, rank_fp, degree) — the topK words by rank (ties to
    * the lexicographically smaller word), degree = co-occurrence-graph
    * neighbor count.
    *
    * Scale shape: one tokenization scan → adjacent-pair projection →
    * distinct (vocab²-bounded, in practice ~corpus-token-sized before
    * distinct and vocab-sized after); the id table is a row_number over
    * the sorted co-occurring vocabulary (vocab-sized sort, NOT
    * corpus-sized); the supersteps are pageRankFixedPoint's cached
    * src-partitioned joins with localCheckpoint lineage truncation. The
    * final topK is a distributed TakeOrdered, never a full sort. */
  def textrankKeywords(
      df: DataFrame,
      textCol: String,
      idCol: String,
      iters: Int = 5,
      topK: Int = 20): DataFrame = {
    require(topK >= 1 && topK <= 10000, "textrankKeywords: topK in [1, 1e4]")
    val toks = df.select(tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= 2)
    val n1: Column = size(col("tk")) - 1
    val pairs = toks
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), n1).as("a"),
        slice(col("tk"), lit(2), n1).as("b"))).as("p"))
      .select(col("p.a").as("wa"), col("p.b").as("wb"))
      .where(col("wa") =!= col("wb"))
      .select(least(col("wa"), col("wb")).as("w1"),
        greatest(col("wa"), col("wb")).as("w2"))
      .distinct()
    val und = Scope.persist(pairs)
    val ids = und.select(col("w1").as("word")).unionAll(und.select(col("w2")))
      .distinct()
      .select(col("word"), xxhash64(col("word")).as("node"))
    val e = und.select(xxhash64(col("w1")).as("src"), xxhash64(col("w2")).as("dst"))
    val ranks = Graph.pageRankFixedPoint(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))),
      "src", "dst", iters = iters)
    ranks.join(ids, Seq("node"))
      .select(col("word"), col("rank_fp"), col("deg").as("degree"))
      .orderBy(desc("rank_fp"), col("word"))
      .limit(topK)
  }

  /** Skip-gram (center, context) pair counts (Mikolov 2013's word2vec
    * training input): for every position and offset d ∈ [1, window], the
    * symmetric pair both ways — the co-occurrence table an embedding
    * trainer consumes together with x140's negative samples. Self-pairs
    * (repeated adjacent tokens) count like any other pair.
    *
    * Scale shape: the corpus tokenizes ONCE (cached array projection);
    * each offset is a codegen'd slice/zip over the cached arrays (no
    * joins, no windows); the symmetric union feeds one hash aggregation
    * with map-side partials, so the exchange carries distinct-pair rows,
    * never positions. Consume the result inside a Scope. */
  def skipgramPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      window: Int = 2): DataFrame = {
    require(window >= 1 && window <= 16, "skipgramPairs: window in [1, 16]")
    val toks = Scope.persist(df.select(tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= 2))
    val pairs = (1 to window).map { d =>
      val n = greatest(size(col("tk")) - d, lit(0))
      toks
        .select(explode(arrays_zip(
          slice(col("tk"), lit(1), n).as("a"),
          slice(col("tk"), lit(d + 1), n).as("b"))).as("p"))
        .select(col("p.a").as("center"), col("p.b").as("context"))
    }.reduce(_ unionAll _)
    pairs
      .unionAll(pairs.select(col("context").as("center"), col("center").as("context")))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
  }
}
