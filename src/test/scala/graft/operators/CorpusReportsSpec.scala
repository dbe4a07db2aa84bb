package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-5 corpus-report operators: time-decay sampling, cluster
  * representative selection, bigram PMI, OOV rates, centroid matrix. */
class CorpusReportsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")

  test("timeDecaySample: epoch-0 rows always survive; epochs count half-lives from max ts") {
    val day = 24L * 3600 * 1000000
    val df = (1 to 200).map(i => (i.toLong, ts(1 + (i % 30)))).toDF("event_id", "ts")
    val out = MixtureSampling.timeDecaySample(df, "ts", "event_id", halfLifeMicros = 10 * day)
      .collect()
    assert(out.nonEmpty)
    // newest rows (day 30, age 0) are epoch 0 and all kept
    val newest = (1 to 200).count(i => (i % 30) == 29) // day 30
    assert(out.count(r => r.getAs[Long]("decay_epochs") == 0L &&
      r.getAs[Double]("weight") == 1.0) >= newest)
    // every row's epoch matches the integer age computation
    out.foreach { r =>
      val ageUs = ts(30).getTime * 1000 - r.getAs[Timestamp]("ts").getTime * 1000
      assert(r.getAs[Long]("decay_epochs") === ageUs / (10 * day))
      assert(r.getAs[Double]("weight") === math.pow(0.5, r.getAs[Long]("decay_epochs").toDouble))
    }
    // older epochs keep fewer rows than epoch 0 (halved acceptance)
    val byEpoch = out.groupBy(_.getAs[Long]("decay_epochs")).view.mapValues(_.size).toMap
    assert(byEpoch.keySet.max >= 2)
  }

  test("timeDecaySample is deterministic and layout-independent") {
    val day = 24L * 3600 * 1000000
    val df = (1 to 500).map(i => (i.toLong, ts(1 + (i % 28)))).toDF("event_id", "ts")
    val a = MixtureSampling.timeDecaySample(df, "ts", "event_id", 7 * day)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val b = MixtureSampling.timeDecaySample(df.repartition(7), "ts", "event_id", 7 * day)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
  }

  test("clusterRepresentatives keeps the best score, ties to the smallest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val scores = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (10L, 1.0), (11L, 1.0))
      .toDF("doc_id", "score")
    val out = Dedup.clusterRepresentatives(clusters, scores, "doc_id", "score")
      .orderBy("id").collect()
    assert(out.map(r => (r.getAs[Long]("id"), r.getAs[Long]("keep_id"),
      r.getAs[Boolean]("is_kept"))).toSeq === Seq(
      (1L, 2L, false), (2L, 2L, true), (3L, 2L, false), // 9.0 tie → id 2
      (10L, 10L, true), (11L, 10L, false))) // 1.0 tie → id 10
  }

  test("bigramPmi ranks an always-adjacent pair above independent fillers") {
    // "aa bb" always adjacent; "cc" and "dd" never adjacent to each other
    val docs = (1 to 20).map(i => (i.toLong, "aa bb cc xx dd yy aa bb"))
      .toDF("doc_id", "text")
    val out = Vocabulary.bigramPmi(docs, "text", minCount = 5, topK = 10).collect()
    assert(out.nonEmpty)
    val top = out.head
    // the deterministic top pair is one of the always-co-occurring bigrams
    assert(top.getAs[Double]("pmi") === out.map(_.getAs[Double]("pmi")).max)
    val pairs = out.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"))).toSet
    assert(pairs.contains(("aa", "bb")))
    // PMI of (aa,bb): p(ab)=40/140, p(a)=p(b)=40/160 — ln(4.5714...) ≈ 1.5198
    val ab = out.find(r => r.getAs[String]("w1") == "aa" && r.getAs[String]("w2") == "bb").get
    assert(math.abs(ab.getAs[Double]("pmi") - math.log((40.0 / 140) / ((40.0 / 160) * (40.0 / 160)))) < 1e-3)
  }

  test("oovRates: tokens outside the top-k vocabulary are counted") {
    val docs = Seq(
      (1L, "common common common rare1"),
      (2L, "common common rare2 rare3"),
      (3L, "common common common common")).toDF("doc_id", "text")
    // vocabSize 1 → vocab = ["common"]
    val out = Vocabulary.oovRates(docs, "text", "doc_id", vocabSize = 1)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_oov")).toSeq === Seq(1L, 2L, 0L))
    assert(out(0).getAs[Double]("oov_rate") === 0.25)
    assert(out(1).getAs[Double]("oov_rate") === 0.5)
    assert(out(2).getAs[Double]("oov_rate") === 0.0)
  }

  test("temperatureRates T=2 rides the exact-sqrt path: rarest category rate 1, others 1/sqrt-scaled") {
    val docs = ((1 to 64).map(i => (i.toLong, "big")) ++ (65 to 68).map(i => (i.toLong, "small")))
      .toDF("doc_id", "cat")
    val rates = MixtureSampling.temperatureRates(docs, "cat", temperature = 2.0)
    assert(rates("small") === 1.0)
    // 64 vs 4 docs: rate(big) = (1/sqrt(64)) / (1/sqrt(4)) = 2/8 = 0.25 exactly
    assert(rates("big") === 0.25)
  }

  test("sourceOverlapMatrix: identical sources hit jaccard 1, disjoint sources are absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "alpha beta gamma delta epsilon", "s2"), // mirror of s1
      (3L, "zeta eta theta iota kappa", "s3"), // disjoint
      (4L, "alpha beta gamma nine ten", "s4") // partial overlap with s1/s2
    ).toDF("doc_id", "text", "source")
    val out = CorpusStats.sourceOverlapMatrix(docs, "text", "source", shingleSize = 3)
      .orderBy("source_a", "source_b").collect()
    val m = out.map(r => ((r.getAs[String]("source_a"), r.getAs[String]("source_b")),
      (r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard")))).toMap
    assert(m(("s1", "s2")) === ((3L, 1.0))) // identical 3-shingle sets
    assert(!m.contains(("s1", "s3")) && !m.contains(("s2", "s3")) && !m.contains(("s3", "s4")))
    // s1 vs s4 share exactly the "alpha beta gamma" shingle: 1 of (3+3-1)
    assert(m(("s1", "s4"))._1 === 1L)
    assert(m(("s1", "s4"))._2 === 0.2)
  }

  test("vocabularyGrowth: cumulative vocabulary is monotone and ends at the distinct-term count") {
    val docs = Seq(
      (1L, "a b c"), (2L, "a b d"), (3L, "e f"), (4L, "a e g h")
    ).toDF("doc_id", "text")
    val out = CorpusStats.vocabularyGrowth(docs, "text", "doc_id", nBuckets = 2)
      .orderBy("bucket").collect()
    assert(out.map(_.getAs[Long]("bucket")).toSeq === Seq(1L, 2L))
    assert(out.map(_.getAs[Long]("n_docs")).toSeq === Seq(2L, 2L))
    // bucket 1 (docs 1-2) introduces a b c d; bucket 2 adds e f g h
    assert(out.map(_.getAs[Long]("new_terms")).toSeq === Seq(4L, 4L))
    assert(out.map(_.getAs[Long]("vocab_size")).toSeq === Seq(4L, 8L))
  }

  test("incremental near-dedup over two batches equals the full recompute") {
    def doc(id: Long, tail: String) =
      (id, s"the quick brown fox jumps over the lazy dog and then $tail")
    // corpus: 1,2 near-identical; batch1: 10 duplicates them, 11 unique;
    // batch2: 20 duplicates batch1's 11, 21 unique
    val corpus = Seq(doc(1L, "sleeps all day long"), doc(2L, "sleeps all day here"),
      doc(3L, "aa bb cc dd ee ff gg hh ii jj kk ll")).toDF("doc_id", "text")
    val batch1 = Seq(doc(10L, "sleeps all day long"),
      (11L, "completely different words apart from nothing shared at all zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
    val batch2 = Seq((20L, "completely different words apart from nothing shared at all zz yy xx ww vv uu qq rr"),
      doc(21L, "rests all day long")).toDF("doc_id", "text")

    val idx0 = Dedup.buildMinhashIndex(corpus, "text", "doc_id")
    val inc1 = Dedup.incrementalNearDuplicates(batch1, idx0, "text", "doc_id",
      threshold = 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx1 = Dedup.MinhashIndex(
      idx0.sets.unionByName(Dedup.buildMinhashIndex(batch1, "text", "doc_id").sets),
      idx0.bands.unionByName(Dedup.buildMinhashIndex(batch1, "text", "doc_id").bands))
    val inc2 = Dedup.incrementalNearDuplicates(batch2, idx1, "text", "doc_id",
      threshold = 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val full = Dedup.minhashNearDuplicates(
      corpus.unionByName(batch1).unionByName(batch2), "text", "doc_id",
      threshold = 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full recompute = corpus-internal pairs (already deduped, not
    // re-reported) + the two incremental deltas, up to pair orientation
    val corpusInternal = full.filter { case (a, b) => a <= 3 && b <= 3 }
    def norm(p: Set[(Long, Long)]) =
      p.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(norm(inc1).nonEmpty && norm(inc2).nonEmpty)
    assert(norm(corpusInternal) ++ norm(inc1) ++ norm(inc2) === norm(full))
  }

  test("NaiveBayes: separable classes recovered; all-OOV docs fall to the prior argmax") {
    val train = (
      (1 to 10).map(i => (i.toLong, "apple banana cherry fruit sweet", "fruit")) ++
      (11 to 16).map(i => (i.toLong, "iron copper zinc metal heavy", "metal"))
    ).toDF("doc_id", "text", "label")
    val model = NaiveBayes.fit(train, "text", "label")
    val preds = NaiveBayes.predict(train, model, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("predicted")).toMap
    (1 to 10).foreach(i => assert(preds(i.toLong) === "fruit"))
    (11 to 16).foreach(i => assert(preds(i.toLong) === "metal"))

    // unseen-token document: no likelihood evidence → prior argmax (fruit,
    // 10 docs vs 6)
    val oov = Seq((99L, "xylophone quark")).toDF("doc_id", "text")
    val p = NaiveBayes.predict(oov, model, "text", "doc_id").collect()(0)
    assert(p.getAs[String]("predicted") === "fruit")

    // exact tie (empty text, equal priors) breaks on class name ascending
    val even = (
      (1 to 4).map(i => (i.toLong, "aa bb", "c1")) ++
      (5 to 8).map(i => (i.toLong, "cc dd", "c2"))).toDF("doc_id", "text", "label")
    val m2 = NaiveBayes.fit(even, "text", "label")
    val tie = NaiveBayes.predict(Seq((7L, "")).toDF("doc_id", "text"), m2, "text", "doc_id")
      .collect()(0)
    assert(tie.getAs[String]("predicted") === "c1")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; formatting churn is unchanged") {
    val oldSnap = Seq((1L, "same text"), (2L, "will change"), (3L, "will vanish"),
      (4L, "Spacing   Differs")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "same text"), (2L, "has changed"), (5L, "brand new"),
      (4L, "spacing differs")).toDF("doc_id", "text")
    val got = CorpusStats.snapshotDiff(oldSnap, newSnap, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"))
  }

  test("labelCentroidMatrix: identical-label clusters produce cosine 1, orthogonal 0") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(1.0f, 0.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidMatrix(emb, "embedding", "label")
      .orderBy("label_a", "label_b").collect()
    assert(out.length === 3) // (0,1) (0,2) (1,2)
    val m = out.map(r => ((r.getAs[Int]("label_a"), r.getAs[Int]("label_b")),
      r.getAs[Double]("cos_centroids"))).toMap
    assert(m((0, 1)) === 0.0)
    assert(m((0, 2)) === 1.0)
    assert(m((1, 2)) === 0.0)
  }

  test("richnessReport: Chao1 and Good–Turing on a hand-counted corpus") {
    import org.apache.spark.sql.functions.col
    // source s: tokens a a b c d → tf {a:2, b:1, c:1, d:1}
    //   N=5, D=4, f1=3, f2=1 → chao1 = 4 + 3·2 div (2·2) = 5
    //   gt_unseen = 3·10⁶ div 5 = 600000
    // source t: e e f f → f1=0 → chao1 = D = 2, unseen 0
    val docs = Seq(
      ("s", "a a b"), ("s", "c d a"),
      ("t", "e e"), ("t", "f f"))
      .toDF("source", "text")
    val out = CorpusStats.richnessReport(docs, "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    val s = out("s")
    assert(s.getAs[Long]("n_tokens") == 6 && s.getAs[Long]("n_distinct") == 4)
    // recount with the doubled 'a': tf {a:3,b:1,c:1,d:1} → f1=3, f2=0
    assert(s.getAs[Long]("f1") == 3 && s.getAs[Long]("f2") == 0)
    assert(s.getAs[Long]("chao1_est") == 4 + (3 * 2) / 2)
    assert(s.getAs[Long]("gt_unseen_ppm") == 3000000L / 6)
    val t = out("t")
    assert(t.getAs[Long]("f1") == 0 && t.getAs[Long]("f2") == 2)
    assert(t.getAs[Long]("chao1_est") == 2 && t.getAs[Long]("gt_unseen_ppm") == 0)
  }
}
