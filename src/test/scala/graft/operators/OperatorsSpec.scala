package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different text about spark dataframes and distributed shuffles"),
    (5L, "another unrelated document mentioning catalyst optimizer and codegen stages")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val groups = Dedup.exact(docs, "text", "doc_id").collect()
    assert(groups.length == 1)
    val g = groups.head
    assert(g.getAs[Long]("keep_id") == 1L && g.getAs[Long]("n_dups") == 2L)
    assert(Dedup.dropExactDuplicates(docs, "text", "doc_id").count() == 4L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || b == 5L || a == 4L || a == 5L })
    // exact dup pair has jaccard 1.0
    val j12 = Dedup.minhashNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .where(col("id_a") === 1 && col("id_b") === 2).head().getDouble(2)
    assert(j12 == 1.0)
  }

  test("cross-corpus near-dup finds train docs copying eval docs, nothing else") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "an entirely unrelated passage describing catalyst optimizer internals")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (101L, "nothing like anything in the training corpus whatsoever honestly")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDuplicatesAcross(train, eval_, "text", "doc_id",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 100L)), pairs.toString)
  }

  test("simhash: identical fingerprints for dups, near distance for near-dups") {
    val fps = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) < java.lang.Long.bitCount(fps(1L) ^ fps(4L)))
    val pairs = Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxDistance = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(((1L, 2L))) == 1.0)
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("duplicate clusters: transitive components collapse to the min id (both paths)") {
    // chain 1-2-3 (diameter 2, pair (1,3) withheld), disjoint pair 7-9,
    // longer chain 10-11-12-13 to force several propagation rounds
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (7L, 9L),
      (10L, 11L), (11L, 12L), (12L, 13L)
    ).toDF("id_a", "id_b")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L)
    // default: the small pair set takes the driver-side union-find path
    val local = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected, local.toString)
    // localEdgeThreshold=0 forces the distributed loop — identical answer
    val dist = Dedup.duplicateClusters(pairs, localEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected, dist.toString)
  }

  test("duplicate clusters: a 60-hop chain resolves well inside the round budget") {
    // diameter 59 — plain 1-hop min propagation would need ~60 rounds; the
    // pointer jump doubles the horizon per round (2^r - 1), so this converges
    // in ~7. maxIter=10 both proves the O(log d) behavior and guards against
    // a silent regression to linear propagation.
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs, maxIter = 10, localEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.length == 60)
    assert(clusters.forall(_._2 == 1L), clusters.filter(_._2 != 1L).mkString(","))
  }

  test("duplicate clusters at size: 20 chains x 500 hops resolve in O(log d) rounds") {
    // 10k nodes, 9.98k edges, component diameter 499 — linear propagation
    // would need ~500 rounds; the pointer jump needs ceil(log2(500))+1 ≈ 10.
    // maxIter=13 is the regression tripwire: converging at all inside it
    // PROVES the horizon doubling, and the min-id check proves correctness
    // on long paths (exactly where partial propagation silently splits).
    val pairs = (0L until 20L).flatMap { c =>
      val base = c * 1000L
      (0L until 499L).map(i => (base + i, base + i + 1))
    }.toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs, maxIter = 13, localEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.length == 10000)
    assert(clusters.forall { case (id, cl) => cl == (id / 1000L) * 1000L },
      clusters.filter { case (id, cl) => cl != (id / 1000L) * 1000L }.take(5).mkString(","))
  }

  test("duplicate clusters: non-convergence throws, never silent split clusters") {
    // an 8-hop chain cannot converge in 2 rounds (horizon 2^2-1=3, plus the
    // zero-change detection round) — the loop must surface that instead of
    // returning partially-propagated labels
    val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxIter = 2, localEdgeThreshold = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("soft dedup: singleton docs weigh 1 and are always kept") {
    val docs = (1L to 50L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    val clusters = Seq.empty[(Long, Long)].toDF("id", "cluster")
    val rows = Dedup.softDedupReport(docs, "doc_id", clusters).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("csize") == 1L)
      assert(r.getAs[Double]("weight") == 1.0)
      assert(r.getAs[Boolean]("keep"))
    }
  }

  test("soft dedup: cluster members weigh 1/|cluster| and ~one per cluster survives") {
    // 200 clusters of size 4 → kept-in-cluster count is Binomial(800, 1/4):
    // mean 200, sd ~12.2; a deterministic fixture, so assert a wide window
    val members = (0L until 800L).map(i => (i, i / 4))
    val clusters = members.toDF("id", "cluster")
    val docs = members.map(_._1).map((_, "s")).toDF("doc_id", "source")
    val rows = Dedup.softDedupReport(docs, "doc_id", clusters).collect()
    assert(rows.forall(_.getAs[Long]("csize") == 4L))
    assert(rows.forall(_.getAs[Double]("weight") == 0.25))
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 140 && kept < 260, s"kept $kept of 800 (expected ~200)")
  }

  test("soft dedup: deterministic across partition layouts and seeds differ") {
    val members = (0L until 200L).map(i => (i, i / 5))
    val clusters = members.toDF("id", "cluster")
    val docs = members.map(_._1).map((_, "s")).toDF("doc_id", "source")
    def run(parts: Int, seed: String) =
      Dedup.softDedupReport(docs.repartition(parts), "doc_id", clusters, seed)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep"))
        .sortBy(_._1).toSeq
    assert(run(1, "sd") == run(17, "sd"))
    assert(run(4, "sd") != run(4, "other-seed"))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // tiny deterministic corpus: unit-ish vectors in 4 dims
  private lazy val corpus = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (5L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k ranks by similarity") {
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("qid", "qvec")
    val res = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qvec", k = 2)
      .orderBy("rank").collect()
    assert(res.map(_.getAs[Long]("vec_id")).toSeq == Seq(2L, 3L))
    assert(res.head.getAs[Double]("sim") > 0.99)
  }

  test("lsh top-k finds the true nearest neighbor for clustered vectors") {
    val queries = Seq((100L, Array(0.95f, 0.05f, 0.0f, 0.0f))).toDF("qid", "qvec")
    val res = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
      "qid", "qvec", k = 2, nBits = 8, probeHamming = 2, dim = 4)
      .orderBy("rank").collect()
    assert(res.nonEmpty)
    assert(res.head.getAs[Long]("vec_id") == 1L || res.head.getAs[Long]("vec_id") == 2L)
  }

  test("cosine near-duplicates over embeddings") {
    val pairs = Similarity.cosineNearDuplicates(corpus, "vec_id", "embedding",
      threshold = 0.95, nBits = 8, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
  }
}

class KernelParitySpec extends SparkSpec {
  import spark.implicits._

  test("native cosine kernel matches the interpreted zip_with form bit-for-bit") {
    val rng = new scala.util.Random(7)
    val df = (1 to 40).map { _ =>
      (Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1))
    }.toDF("a", "b")
    val interp = {
      val dot = aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
      val na = sqrt(aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      val nb = sqrt(aggregate(transform(col("b"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      dot / (na * nb)
    }
    df.select(Similarity.cosine(col("a"), col("b")).as("k"), interp.as("e"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
      }
  }

  test("vector kernels reject array<double> at analysis time (no silent byte misread)") {
    val df = Seq((1L, Array(1.0, 2.0, 3.0))).toDF("id", "vec")
    for (q <- Seq(
        call_function("graft_cosine", col("vec"), col("vec")),
        call_function("graft_norm", col("vec")),
        call_function("graft_dot", col("vec"), col("vec")),
        call_function("graft_hyperplane_sketch", col("vec"), lit(8), lit(3), lit(1L)))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { df.select(q).collect() }
      assert(e.getMessage.contains("array<float>"), e.getMessage)
    }
  }

  test("native token-hash kernel matches the interpreted split+xxhash64 form") {
    val df = Seq(
      "The quick Brown fox",
      "  spaced   out\ttabs\nand newlines  ",
      "único café naïve",
      "",
      "one"
    ).toDF("text")
    val interp = transform(
      filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= ""),
      t => xxhash64(t))
    df.select(call_function("graft_token_hashes", col("text")).as("k"), interp.as("e"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
      }
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId identifies stopword-heavy sentences") {
    val df = Seq(
      ("en", "the cat sat on the mat and it was happy with the result of the day"),
      ("fr", "le chat est dans la maison et il est content de la vie pour le moment"),
      ("es", "el gato está en la casa y no quiere salir por la puerta con el perro"),
      ("de", "der hund ist in dem haus und die katze ist auf dem dach mit ein vogel"),
      ("und", "zxcv qwer asdf uiop hjkl vbnm")
    ).toDF("expected", "text")
    val got = df.select(col("expected"), TextAnalysis.langId(col("text")).as("lang")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("Hello world, it's 2024!").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe")).head()
    assert(r.getLong(0) == 4L)
    // Hello| world|,| it|'s| 2024|! → 7
    assert(r.getLong(1) == 7L)
  }

  test("quality score separates clean prose from noise") {
    val df = Seq(
      ("clean", "the quick brown fox jumps over the lazy dog and runs into the forest"),
      ("noise", "@@@@ 1234 5678 $$$$ %%%% 9999 #### ++++")
    ).toDF("kind", "text")
    val scores = df.select(col("kind"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("clean") > 0.7)
    assert(scores("noise") < 0.4)
  }

  test("native text-stats kernel matches the Column-expression formulation") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs into the forest",
      "@@@@ 1234 5678 $$$$ %%%% 9999 #### ++++",
      "  leading and trailing   spaces  ",
      "tabs\tand\nnewlinesmixed\fwith spaces\r!",
      "Ünïcödé lettres — et ça compte aussi: 42° №5",
      "",
      "   ",
      "singleword"
    ).toDF("text")
    val pairs = df.select(
      TextAnalysis.qualityFeatures(col("text")).as("k"),
      TextAnalysis.qualityFeaturesExpr(col("text")).as("e"),
      TextAnalysis.qualityScore(col("text")).as("ks"),
      TextAnalysis.qualityScoreExpr(col("text")).as("es")).collect()
    pairs.foreach { r =>
      assert(r.getStruct(0) == r.getStruct(1), s"features mismatch: ${r.getStruct(0)} vs ${r.getStruct(1)}")
      assert(r.getDouble(2) == r.getDouble(3), s"score mismatch: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("PII redaction scrubs emails, IPs, and phone-shaped runs") {
    val df = Seq(
      "write to jane.doe+spam@mail.example.org today",
      "server at 192.168.001.42 responded",
      "call +33 1 23 45 67 89 or 06 12 34 56 78 now",
      "clean text with the number 7 alone"
    ).toDF("text")
    val out = df.select(TextAnalysis.redactPii(col("text")).as("t"))
      .collect().map(_.getString(0))
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "server at <IP> responded")
    assert(out(2) == "call <PHONE> or <PHONE> now")
    assert(out(3) == "clean text with the number 7 alone")
  }

  test("repetition stats flag duplicated tokens and looping bigrams") {
    val df = Seq(
      ("loop", "buy now buy now buy now buy now"),
      ("clean", "every word here is completely different friends")
    ).toDF("kind", "text")
    val r = TextAnalysis.repetitionStats(col("text"))
    val byKind = df.select(col("kind"),
      r.getField("dup_token_ratio").as("dup"),
      r.getField("top_bigram_ratio").as("top"))
      .collect().map(x => x.getString(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    // "buy now"×4: 8 tokens, 2 distinct → dup 0.75; "buy now" bigram 4/7
    assert(math.abs(byKind("loop")._1 - 0.75) < 1e-9)
    assert(math.abs(byKind("loop")._2 - 4.0 / 7.0) < 1e-9)
    assert(byKind("clean")._1 == 0.0)
  }

  test("benchmark overlap finds the contaminated doc, skips fresh ones") {
    val bench = Seq((1L, "the exact benchmark question about the speed of light in vacuum"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the exact benchmark question about the speed of light in vacuum repeated"),
      (11L, "a completely unrelated training document concerning medieval farming")
    ).toDF("doc_id", "text")
    val scored = TextAnalysis.benchmarkOverlap(corpus, bench, "text", "doc_id", n = 13)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(10L) > 0.8, scored.toString)
    assert(scored(11L) < 0.05, scored.toString)
  }

  test("fingerprints stable under whitespace noise") {
    val df = Seq(
      ("a", "Some   Document\n\nwith spacing"),
      ("b", "some document with spacing")
    ).toDF("id", "text")
    val fps = df.select(col("id"),
      TextAnalysis.fingerprintMd5(col("text")).as("m"),
      TextAnalysis.fingerprint64(col("text")).as("x")).collect()
    assert(fps(0).getString(1) == fps(1).getString(1))
    assert(fps(0).getLong(2) == fps(1).getLong(2))
  }

  test("privacyAudit: k and l risks flag independently") {
    // group (s1,0): 3 rows, 1 lang → k ok, l RISK
    // group (s1,1): 2 rows, 2 langs → k RISK, l ok
    // group (s2,0): 4 rows, 3 langs → both ok
    val df = Seq(
      ("s1", 10L, "en"), ("s1", 20L, "en"), ("s1", 30L, "en"),
      ("s1", 110L, "en"), ("s1", 120L, "fr"),
      ("s2", 10L, "en"), ("s2", 20L, "fr"), ("s2", 30L, "de"), ("s2", 40L, "en"))
      .toDF("source", "n_chars", "lang")
    val out = TextAnalysis.privacyAudit(df,
      quasi = Seq("source" -> col("source"),
        "lb" -> expr("n_chars div 100")),
      sensitive = col("lang"), k = 3, l = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(out(("s1", 0L)) == (3L, 1L, false, true))
    assert(out(("s1", 1L)) == (2L, 2L, true, false))
    assert(out(("s2", 0L)) == (4L, 3L, false, false))
    assertThrows[IllegalArgumentException] {
      TextAnalysis.privacyAudit(df, Seq("s" -> col("source")),
        col("lang"), k = 1, l = 2)
    }
    assertThrows[IllegalArgumentException] {
      TextAnalysis.privacyAudit(df, Seq.empty, col("lang"), k = 3, l = 2)
    }
  }

  test("tClosenessAudit: exact TVD ppm matches hand arithmetic, absent " +
    "values included") {
    // group a: {x:3, y:1}; group b: {x:1, z:1}. N=6, margins x:4 y:1 z:1.
    //   a: present |3·6−4·4|+|1·6−1·4| = 4; absent z: 4·(6−5) = 4
    //      → 8e6 div (2·4·6) = 166666 ppm
    //   b: present |1·6−4·2|+|1·6−1·2| = 6; absent y: 2·(6−5) = 2
    //      → 8e6 div (2·2·6) = 333333 ppm
    val df = Seq(("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"),
      ("b", "x"), ("b", "z")).toDF("grp", "v")
    val out = TextAnalysis.tClosenessAudit(df,
      quasi = Seq("grp" -> col("grp")), sensitive = col("v"), tPpm = 200000)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out == Map("a" -> (4L, 166666L, false), "b" -> (2L, 333333L, true)))
  }

  test("tClosenessAudit: a group mirroring the corpus scores zero; null " +
    "sensitives drop; guards fail loudly") {
    // both groups have the same value mix as the pooled corpus → tvd 0
    val mirror = Seq(("a", "x"), ("a", "x"), ("a", "y"),
      ("b", "x"), ("b", "x"), ("b", "y"), ("c", null))
      .toDF("grp", "v")
    val out = TextAnalysis.tClosenessAudit(mirror,
      Seq("grp" -> col("grp")), col("v"), tPpm = 100000)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("a" -> 0L, "b" -> 0L), "null-sensitive rows drop; " +
      "corpus-mirroring groups disclose nothing")
    assertThrows[IllegalArgumentException] {
      TextAnalysis.tClosenessAudit(mirror, Seq.empty, col("v"), 100000)
    }
    assertThrows[IllegalArgumentException] {
      TextAnalysis.tClosenessAudit(mirror, Seq("g" -> col("grp")), col("v"), 0)
    }
  }

  test("tClosenessAudit is partitioning-independent (exact integers)") {
    val rows = (1 to 60).map(i => (s"g${i % 4}", s"v${(i * 7) % 5}"))
    val a = TextAnalysis.tClosenessAudit(rows.toDF("grp", "v"),
      Seq("grp" -> col("grp")), col("v"), 100000)
      .orderBy("grp").collect().toSeq
    val b = TextAnalysis.tClosenessAudit(rows.toDF("grp", "v").repartition(13),
      Seq("grp" -> col("grp")), col("v"), 100000)
      .orderBy("grp").collect().toSeq
    assert(a == b)
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("ivf top-k finds true neighbors through cell probing") {
    // two clear clusters + a query near cluster A
    val rng = new scala.util.Random(3)
    def jitter(base: Array[Float]) = base.map(v => v + (rng.nextFloat() - 0.5f) * 0.05f)
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val corpus = ((1L to 20L).map(i => (i, jitter(a))) ++ (21L to 40L).map(i => (i, jitter(b))))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, a)).toDF("qid", "qvec")
    val res = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, nCentroids = 2, nProbe = 1)
      .collect()
    assert(res.length == 5)
    assert(res.forall(_.getAs[Long]("vec_id") <= 20L)) // all from cluster A
    assert(res.forall(_.getAs[Double]("sim") > 0.95))
  }

  test("ivf with a sampled quantizer fit still finds neighbors, deterministically") {
    val rng = new scala.util.Random(7)
    def jitter(base: Array[Float]) = base.map(v => v + (rng.nextFloat() - 0.5f) * 0.05f)
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val corpus = ((1L to 30L).map(i => (i, jitter(a))) ++ (31L to 60L).map(i => (i, jitter(b))))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, a)).toDF("qid", "qvec")
    // fitSampleRows < corpus size → the id-hash sampling branch trains the
    // quantizer on a strict subset; neighbors still resolve and two runs
    // produce identical output (deterministic sample + seeded lloyd)
    def run() = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, nCentroids = 2, nProbe = 1, fitSampleRows = 20)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val r1 = run()
    assert(r1.length == 5 && r1.forall(_._1 <= 30L), r1.toString)
    assert(run() == r1)
  }

  test("lloyd quantizer: deterministic, empty-cell-safe, centroids converge") {
    val pts = ((1 to 50).map(i => Array(1.0 + i * 0.001, 0.0)) ++
      (1 to 50).map(i => Array(0.0, 1.0 + i * 0.001))).toArray
    val c1 = Similarity.lloyd(pts, 2, maxIter = 5, seed = 42L)
    val c2 = Similarity.lloyd(pts, 2, maxIter = 5, seed = 42L)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // one centroid per cluster, each at its cluster mean (~(1.0255, 0))
    val sorted = c1.sortBy(_(0))
    assert(math.abs(sorted(1)(0) - 1.0255) < 1e-9 && math.abs(sorted(1)(1)) < 1e-9)
    assert(math.abs(sorted(0)(1) - 1.0255) < 1e-9 && math.abs(sorted(0)(0)) < 1e-9)
    // more centroids than points must not blow up
    val tiny = Similarity.lloyd(Array(Array(1.0), Array(2.0)), 5, 3, 1L)
    assert(tiny.length == 2)
  }

  test("graft_nearest_centroid assigns the argmin cell") {
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{call_function, col, typedlit}
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(0.0, 10.0))
    val df = Seq(
      (1L, Array(1f, 1f)),   // → cell 0
      (2L, Array(9f, 9f)),   // → cell 1
      (3L, Array(1f, 9f))    // → cell 2
    ).toDF("id", "vec")
      .withColumn("cell", call_function("graft_nearest_centroid", col("vec"), typedlit(cents)))
    val out = df.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2), out.toString)
  }
}
