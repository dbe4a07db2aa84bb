package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Degenerate-input contracts: every core operator must return an EMPTY
  * result with the right schema on an empty input — never throw, never
  * hang. At 100 TB empty slices are routine (a partition filter that
  * matches nothing, a source with no new data this run), and an operator
  * that NPEs or blows up on them takes the whole job down. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val noEvents: DataFrame =
    Seq.empty[(Long, Long, Timestamp)].toDF("user_id", "event_id", "ts")
  private lazy val noTokens: DataFrame =
    Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")

  test("dedup family: empty corpus → empty groups/pairs/clusters") {
    assert(Dedup.exact(noDocs, "text", "doc_id").isEmpty)
    assert(Dedup.dropExactDuplicates(noDocs, "text", "doc_id").isEmpty)
    assert(Dedup.minhashNearDuplicates(noDocs, "text", "doc_id").isEmpty)
    assert(Dedup.simhashNearDuplicates(noDocs, "text", "doc_id").isEmpty)
    assert(Dedup.ngramJaccardPairs(noDocs, "text", "doc_id").isEmpty)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(noPairs)
    assert(clusters.isEmpty && clusters.columns.toSeq == Seq("id", "cluster"))
  }

  test("text/vocab family: empty corpus → empty stats") {
    assert(Vocabulary.termStats(noDocs, "text", "doc_id").isEmpty)
    assert(Vocabulary.tfIdfTopTerms(noDocs, "text", "doc_id", k = 3).isEmpty)
    assert(LineDedup.dropCommonLines(noDocs, "text", "doc_id").isEmpty)
    assert(Chunking.chunkByTokens(noDocs, "text", "doc_id", 64, 16).isEmpty)
  }

  test("temporal family: empty events → empty sessions/joins") {
    assert(Sessionize.sessionize(noEvents, "user_id", "ts", "event_id",
      gapMicros = 60000000L).isEmpty)
    assert(Sessionize.sessionSummary(noEvents, "user_id", "ts", "event_id",
      gapMicros = 60000000L).isEmpty)
    val left = Seq.empty[(Long, Long, Timestamp)].toDF("event_id", "user_id", "ts")
    val right = Seq.empty[(Long, Timestamp, Long, Double)]
      .toDF("user_id", "p_ts", "p_event_id", "p_value")
    val asof = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value"))
    assert(asof.isEmpty &&
      asof.columns.toSeq == Seq("event_id", "user_id", "ts", "p_event_id", "p_value"))
    // empty on ONE side only: every left row survives with null values
    val someLeft = Seq((1L, 1L, new Timestamp(0L))).toDF("event_id", "user_id", "ts")
    val oneSided = TemporalJoins.asofJoin(someLeft, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value")).collect()
    assert(oneSided.length == 1 && oneSided(0).isNullAt(3))
    val intervals = Seq.empty[(String, Double, Double)].toDF("name", "lo", "hi")
    assert(TemporalJoins.pointInIntervalJoin(
      Seq((1L, 2.0)).toDF("point_id", "v"), intervals, "v", "lo", "hi", 10.0).isEmpty)
  }

  test("sharding/sampling/packing family: empty corpus → empty layouts") {
    assert(Sharding.assignShards(noTokens, "doc_id", "n_tokens", budget = 100L).isEmpty)
    assert(Sharding.shufflePositions(noTokens.select("doc_id"), "doc_id", "s").isEmpty)
    assert(SequencePacking.packGreedy(noTokens, "doc_id", "n_tokens",
      contextLen = 100L).isEmpty)
    val noCats = Seq.empty[(Long, String)].toDF("doc_id", "cat")
    assert(MixtureSampling.sampleByRates(noCats, "cat", "doc_id",
      rates = Map("x" -> 0.5)).isEmpty)
    assert(MixtureSampling.stratifiedExactK(noCats, "cat", "doc_id", k = 5).isEmpty)
    assert(MixtureSampling.capTokensPerKey(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_tokens"),
      "source", "doc_id", "n_tokens", budget = 100L).isEmpty)
    // temperatureRates / budgetCappedQuotas reduce over zero categories
    assert(MixtureSampling.temperatureRates(noCats, "cat", temperature = 2.0).isEmpty)
  }

  test("similarity family: empty embeddings → empty top-k/pairs") {
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noQueries = Seq.empty[(Long, Array[Float])].toDF("qid", "qvec")
    assert(Similarity.bruteForceTopK(noVecs, noQueries,
      "vec_id", "embedding", "qid", "qvec", k = 5).isEmpty)
    assert(Similarity.cosineNearDuplicates(noVecs, "vec_id", "embedding",
      threshold = 0.5, nBits = 8, dim = 4, probeHamming = 1, nTables = 2).isEmpty)
  }

  test("null-text rows are skipped, never fatal (nullable kernels end to end)") {
    val withNulls = Seq((1L, "alpha beta gamma delta alpha beta gamma delta"),
      (2L, null), (3L, "x y")).toDF("doc_id", "text")
    // every text operator must treat a NULL body like an empty document
    assert(SubstringDedup.duplicatedSpans(withNulls, "text", "doc_id", 4)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    assert(Sketches.countMinTokenSketch(withNulls, "text", 64, 2).count() > 0)
    assert(Dedup.winnowingPairs(withNulls, "text", "doc_id", minShared = 1)
      .collect().forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L))
    val weights = ImportanceWeights.weightsAgainstSubset(
      withNulls, lit(true), "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(weights == Set(1L, 3L))
  }

  test("round-5 additions: empty corpus → empty spans/sketches/buckets/orders") {
    assert(SubstringDedup.duplicatedSpans(noDocs, "text", "doc_id", 4).isEmpty)
    assert(SubstringDedup.duplicatedSpansDetail(noDocs, "text", "doc_id", 4).isEmpty)
    assert(SubstringDedup.dropDuplicatedSpans(noDocs, "text", "doc_id", 4).isEmpty)
    assert(Sketches.countMinTokenSketch(noDocs, "text", 64, 4).isEmpty)
    val noCands = Seq.empty[String].toDF("token")
    assert(Sketches.cmsHeavyHitters(noDocs, "text", noCands, 64, 4, 10).isEmpty)
    assert(Curriculum.difficultyBuckets(noTokens, "n_tokens", "doc_id", 10).isEmpty)
    assert(Curriculum.bucketSummary(noTokens, "n_tokens", "doc_id", 10).isEmpty)
    val noSourced = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Sharding.interleavePositions(noSourced, "source", "doc_id").isEmpty)
    val noVecsL = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(Similarity.labelCohesion(noVecsL, "vec_id", "embedding", "label").isEmpty)
    val noRatios = ImportanceWeights.fitLogRatios(noDocs, noDocs, "text", "doc_id")
    assert(noRatios.isEmpty)
    assert(ImportanceWeights.score(noDocs, "text", "doc_id", noRatios).isEmpty)
    assert(ImportanceWeights.weightsAgainstSubset(noDocs, lit(true), "text", "doc_id").isEmpty)
  }

  test("corpus-report additions: empty inputs → empty reports") {
    assert(QualityRules.gopherRules(noDocs, "text", "doc_id").isEmpty)
    assert(MixtureSampling.timeDecaySample(noEvents, "ts", "event_id", 1000000L).isEmpty)
    val noPairs = Seq.empty[(Long, Long)].toDF("id", "cluster")
    val noScores = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    assert(Dedup.clusterRepresentatives(noPairs, noScores, "doc_id", "score").isEmpty)
    assert(Vocabulary.bigramPmi(noDocs, "text").isEmpty)
    assert(Vocabulary.oovRates(noDocs, "text", "doc_id", 10).isEmpty)
    val noVecs = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(Similarity.labelCentroidMatrix(noVecs, "embedding", "label").isEmpty)
    val noSourcedDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(CorpusStats.sourceOverlapMatrix(noSourcedDocs, "text", "source").isEmpty)
    assert(CorpusStats.vocabularyGrowth(noDocs, "text", "doc_id").isEmpty)
    val emptyIndex = Dedup.buildMinhashIndex(noDocs, "text", "doc_id")
    assert(emptyIndex.sets.isEmpty && emptyIndex.bands.isEmpty)
    assert(Dedup.incrementalNearDuplicates(noDocs, emptyIndex, "text", "doc_id").isEmpty)
  }

  test("round-7 additions: empty inputs → empty samples/shards/pairs/sketches") {
    val noCatted = Seq.empty[(String, Long, Long)].toDF("cat", "id", "w")
    assert(MixtureSampling.weightedReservoirPerCategory(
      noCatted, "cat", "id", "w", k = 5).isEmpty)
    assert(Sharding.hrwShard(noDocs, "doc_id", nShards = 8).isEmpty)
    assert(Dedup.prefixJaccardPairs(noDocs, "text", "doc_id", 0.5).isEmpty)
    val noKeyed = Seq.empty[(String, Long)].toDF("grp", "key")
    assert(Sketches.kmvDistinct(noKeyed, "key", "grp").isEmpty)
    assert(Sketches.kmvEstimate(noKeyed, "key", "grp").isEmpty)
    // quantizer-backed paths need ≥1 training point/pivot: an empty corpus
    // is a CLEAR error (collectFitSample's established contract), never a
    // silent empty result
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noQueries = Seq.empty[(Long, Array[Float], Int)].toDF("qid", "qvec", "qlabel")
    val noLabeled = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException] {
      Similarity.hardNegativesAnn(noLabeled, noQueries,
        "vec_id", "embedding", "label", "qid", "qvec", "qlabel", k = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKPivots(noVecs,
        noVecs.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "vec_id", "embedding", "qid", "qvec", k = 3)
    }
  }

  test("late round-7 additions: empty inputs → empty summaries/funnels") {
    val noTerms = Seq.empty[(String, String)].toDF("grp", "term")
    assert(Sketches.mgHeavyHitters(noTerms, col("term"), "grp",
      capacity = 8, topK = 3).isEmpty)
    val noLabeled = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val funnel = TrainingDataPipeline.curateEmbeddings(noLabeled,
      "vec_id", "embedding", "label")
    assert(funnel.isEmpty && funnel.columns.toSeq ==
      Seq("label", "n_total", "n_after_trim", "n_after_dedup"))
  }

  test("round-9 reports: empty inputs → empty reports, right schemas") {
    val noRated = Seq.empty[(String, String)].toDF("a", "b")
    val kappa = Evaluation.agreementReport(noRated, col("a"), col("b"))
    // empty corpus: n=0, every ratio NULL (0-division guarded), one row
    val kr = kappa.collect()
    assert(kr.length == 1 && kr.head.getLong(0) == 0L && kr.head.isNullAt(3))
    val drift = Evaluation.driftReport(noRated, col("a"), col("b") === "x")
    assert(drift.isEmpty &&
      drift.columns.toSeq == Seq("bin", "cnt_a", "cnt_b", "contrib_ppm"))
    val noTs = Seq.empty[(String, Timestamp)].toDF("t", "ts")
    val seasonal = Seasonal.weekdayAnomalies(noTs, col("t"), col("ts"))
    assert(seasonal.isEmpty && seasonal.columns.toSeq ==
      Seq("series", "day", "dow", "cnt", "med", "mad", "dev", "flagged"))
    val folds = TemporalSplit.groupKFold(noTs, col("t"), 4)
    assert(folds.isEmpty && folds.columns.toSeq == Seq("group", "weight", "fold"))
    val fill = MixtureSampling.weightedTokenWaterfill(
      Seq.empty[(String, Long, Long)].toDF("g", "sz", "w"),
      col("g"), col("sz"), col("w"), budgetPpm = 500000, weightLcm = 12)
    assert(fill.isEmpty && fill.columns.toSeq ==
      Seq("grp", "available", "weight", "alloc", "util_ppm"))
    assert(TextAnalysis.privacyAudit(noRated, Seq("a" -> col("a")),
      col("b"), k = 3, l = 2).isEmpty)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.triangleCounts(noEdges, "src", "dst").isEmpty)
    assert(Graph.kCore(noEdges, "src", "dst", k = 2).isEmpty)
  }

  test("late round-9 additions: empty inputs → empty reports or loud refusal") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.deterministicWalks(noEdges, "src", "dst").isEmpty)
    assert(Graph.butterflyCounts(noEdges, "src", "dst").isEmpty)
    // HITS on an empty graph has no meaningful normalization — refuse
    assertThrows[IllegalArgumentException] {
      Graph.hitsBipartite(noEdges, "src", "dst")
    }
    val noTs = Seq.empty[(String, Timestamp)].toDF("t", "ts")
    assert(Seasonal.cusumChangepoints(noTs, col("t"), col("ts"), h = 5).isEmpty)
    assert(Seasonal.seasonalNaiveMase(noTs, col("t"), col("ts")).isEmpty)
    val health = Seasonal.seriesHealthReport(noTs, col("t"), col("ts"))
    assert(health.isEmpty)
    val noScored = Seq.empty[(String, Long, Long)].toDF("g", "s", "id")
    assert(SignalFusion.quantileNormalize(noScored, col("g"), col("s"),
      col("id")).isEmpty)
  }

  test("final round-9 additions: empty graphs → identity / seeds-only / empty") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    // incremental components: an empty batch is the identity on the labeling
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("node", "comp")
    val unchanged = Graph.componentsIncremental(labels, noEdges, "src", "dst")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(unchanged == Seq((1L, 1L), (2L, 1L)))
    // BFS on an empty graph: the seeds still self-report at distance 0
    val seedsOnly = Graph.bfsLevels(noEdges, "src", "dst", Seq(7L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(seedsOnly == Seq((7L, 0L, 7L)))
    assert(Graph.sharedNeighborScores(noEdges, "src", "dst").isEmpty)
    assert(Graph.recommendations(noEdges, "src", "dst", k = 3).isEmpty)
    val noRated = Seq.empty[(String, String)].toDF("g", "v")
    val tc = TextAnalysis.tClosenessAudit(noRated,
      Seq("g" -> col("g")), col("v"), tPpm = 100000)
    assert(tc.isEmpty && tc.columns.toSeq == Seq("g", "n", "tvd_ppm", "t_risk"))
  }

  test("x140-x145 additions: empty inputs → empty reports or loud refusal") {
    // negative sampling / radix select need a non-empty basis — refuse
    assertThrows[IllegalArgumentException] {
      Vocabulary.negativeSamples(noDocs, "text", "doc_id", k = 2).count()
    }
    assertThrows[IllegalArgumentException] {
      RadixSelect.quantiles(Seq.empty[Long].toDF("v"), col("v"), Seq(500000L))
    }
    // diagnostics/encodings: empty in, empty out, schema intact
    val sr = Skew.skewReport(noEvents, col("user_id"), topK = 5, parallelism = 8)
    assert(sr.isEmpty && sr.columns.toSeq == Seq("key", "rank", "cnt",
      "share_ppm", "n_rows", "n_keys", "hot_over_avg_ppm", "rec_salts"))
    val fa = Evaluation.featureAuc(noTokens, col("n_tokens") > 0,
      Seq("f" -> col("n_tokens")))
    assert(fa.isEmpty && fa.columns.toSeq ==
      Seq("feature", "n", "n_pos", "n_neg", "auc_ppm", "rank"))
    val noEmb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assertThrows[IllegalArgumentException] {
      // the pivot quantizer has no corpus to draw pivots from
      Similarity.knnLabelAudit(noEmb, "vec_id", "embedding", "label").count()
    }
    val te = SignalFusion.looTargetEncoding(noTokens, col("doc_id"),
      col("doc_id"), col("n_tokens"))
    assert(te.isEmpty && te.columns.toSeq ==
      Seq("id", "grp", "target", "enc_ppm"))
  }
}
