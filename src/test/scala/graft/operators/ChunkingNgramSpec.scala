package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  test("chunk boundaries: full coverage, overlap honored, short tail") {
    // 10 tokens, max 4, overlap 1 → stride 3 → chunks at 0,3,6 cover 1-10
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Chunking.chunkByTokens(df, "text", "doc_id", maxTokens = 4, overlap = 1)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, "t4 t5 t6 t7"),
      (2L, 4L, "t7 t8 t9 t10")))

    // 11 tokens → a 4th chunk with the 2-token tail
    val df2 = Seq((1L, (1 to 11).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out2 = Chunking.chunkByTokens(df2, "text", "doc_id", maxTokens = 4, overlap = 1)
      .orderBy("chunk_idx").collect()
    assert(out2.length == 4)
    assert(out2.last.getLong(2) == 2L && out2.last.getString(3) == "t10 t11")
  }

  test("edge cases: short docs one chunk, empty docs none, text verbatim") {
    val df = Seq(
      (1L, "only three tokens"),
      (2L, ""),
      (3L, "   "),
      (4L, "Case AND   spacing\tpreserved-ish")
    ).toDF("doc_id", "text")
    val out = Chunking.chunkByTokens(df, "text", "doc_id", maxTokens = 8, overlap = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 4L)) // empty/blank docs chunkless
    assert(out(1L) == ((3L, "only three tokens")))
    // tokens keep their case; runs of whitespace collapse to single spaces
    assert(out(4L) == ((4L, "Case AND spacing preserved-ish")))
  }

  test("invalid parameters rejected") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(df, "text", "doc_id", maxTokens = 4, overlap = 4)
    }
    intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(df, "text", "doc_id", maxTokens = 0, overlap = 0)
    }
  }
}

class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  test("typical transitions score higher than gibberish; counts exact") {
    // "the cat sat" transitions repeat across docs; doc 4 is one-off noise
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the floor"),
      (4L, "zxq wvu tsr qpo nml kji")
    ).toDF("doc_id", "text")
    val out = NgramLm.bigramLmScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out.values.forall(_._2 == 5L)) // 6 tokens → 5 bigrams each
    // every doc-1 bigram occurs ≥3× in the corpus; every doc-4 bigram once
    assert(out(1L)._1 > out(4L)._1,
      s"common ${out(1L)._1} should beat gibberish ${out(4L)._1}")
  }

  test("fit/score serving shape: new docs score under the trained model") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the floor")
    ).toDF("doc_id", "text")
    val model = NgramLm.fit(corpus, "text", "doc_id")
    assert(model.vocabSize == 7L) // the,cat,sat,on,mat,rug,floor

    val incoming = Seq(
      (10L, "the cat sat on the mat"),   // all bigrams seen ≥3×
      (11L, "purple monkey dishwasher quantum") // nothing seen → full backoff
    ).toDF("doc_id", "text")
    val scored = NgramLm.score(incoming, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // in-distribution text outranks out-of-vocabulary text; the backoff
    // (count-0 left join + Laplace) keeps unseen docs finite, not null
    assert(scored(10L) > scored(11L), scored.toString)
    assert(!scored(11L).isNaN && !scored(11L).isInfinite)
    // unseen-everything score is exactly ln(1/V)
    assert(math.abs(scored(11L) - math.round(
      math.log(1.0 / model.vocabSize) * 1e4) / 1e4) < 1e-9, scored(11L).toString)
  }

  test("short docs excluded, scoring deterministic") {
    val df = Seq(
      (1L, "single"),
      (2L, ""),
      (3L, "two tokens here")
    ).toDF("doc_id", "text")
    def run() = {
      val r = NgramLm.bigramLmScore(df, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      r
    }
    val a = run()
    assert(a.map(_._1) == Set(3L)) // only the ≥2-token doc scores
    assert(run() == a)
  }
}

class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  test("boilerplate lines vanish from every doc; unique lines survive in order") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nunique thought one\nfooter text\nmore original prose"),
      (2L, "COOKIE BANNER\nunique thought two\nfooter text"),
      (3L, "COOKIE BANNER\ncompletely different content")
    ).toDF("doc_id", "text")
    val out = LineDedup.dropCommonLines(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // banner in 3 docs, footer in 2 → both removed everywhere
    assert(out(1L) == (("unique thought one\nmore original prose", 2L, 2L)), out(1L).toString)
    assert(out(2L) == (("unique thought two", 1L, 2L)), out(2L).toString)
    assert(out(3L) == (("completely different content", 1L, 1L)), out(3L).toString)
  }

  test("within-doc repetition is NOT boilerplate; all-boilerplate docs go empty") {
    val docs = Seq(
      (1L, "same line\nsame line\nsame line"), // repeats only inside doc 1
      (2L, "shared chrome"),
      (3L, "shared chrome")
    ).toDF("doc_id", "text")
    val out = LineDedup.dropCommonLines(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc-frequency of "same line" is 1 → kept (x20's repetition gate owns it)
    assert(out(1L) == (("same line\nsame line\nsame line", 3L, 0L)), out(1L).toString)
    // docs that were pure boilerplate come back empty, not dropped
    assert(out(2L) == (("", 0L, 1L)), out(2L).toString)
    assert(out(3L) == (("", 0L, 1L)))
  }

  test("threshold raises: minDocFrequency=3 keeps the 2-doc line") {
    val docs = Seq(
      (1L, "a\nb"), (2L, "a\nc"), (3L, "a\nd")
    ).toDF("doc_id", "text")
    val out = LineDedup.dropCommonLines(docs, "text", "doc_id", minDocFrequency = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "b", 2L -> "c", 3L -> "d"))
    intercept[IllegalArgumentException] {
      LineDedup.dropCommonLines(docs, "text", "doc_id", minDocFrequency = 1)
    }
  }
}

class StratifiedSampleSpec extends SparkSpec {
  import spark.implicits._

  test("exact-k per stratum, md5 order, partition-layout independent") {
    val df = (1L to 300L).map(i => (i, s"c${i % 3}")).toDF("id", "cat")
    def run(parts: Int) =
      MixtureSampling.stratifiedExactK(df.repartition(parts), "cat", "id", k = 7)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val out = run(8)
    assert(out.groupBy(_._2).forall(_._2.size == 7), out.toString)
    assert(run(1) == out) // layout-free

    // matches a driver-side rank emulation exactly
    val md5hex = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (1L to 300L).groupBy(_ % 3).values.flatMap { ids =>
      ids.sortBy(i => (md5hex(i.toString), i)).take(7)
    }.toSet
    assert(out.map(_._1) == expected)

    // k beyond stratum size keeps everything
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "cat")
    assert(MixtureSampling.stratifiedExactK(tiny, "cat", "id", k = 10).count() == 3L)
  }

  test("budget-capped water-filling: small sources whole, big capped, budget exact") {
    val df = ((1L to 300L).map((_, "big")) ++ (301L to 450L).map((_, "mid")) ++
      (451L to 500L).map((_, "small"))).toDF("id", "cat")
    // walk ascending [small 50, mid 150, big 300] at budget 250:
    // 250/3=83.3>50 → small whole; (250-50)/2=100<=150 → level 100
    val quotas = MixtureSampling.budgetCappedQuotas(df, "cat", budget = 250L)
    assert(quotas == Map("small" -> 50L, "mid" -> 100L, "big" -> 100L), quotas.toString)

    val kept = MixtureSampling.sampleBudgetCapped(df, "cat", "id", budget = 250L)
      .groupBy("cat").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("small" -> 50L, "mid" -> 100L, "big" -> 100L), kept.toString)

    // budget >= corpus keeps everything; tiny budget floors to per-cat 0/1
    assert(MixtureSampling.budgetCappedQuotas(df, "cat", 5000L) ==
      Map("small" -> 50L, "mid" -> 150L, "big" -> 300L))
    val tinyQ = MixtureSampling.budgetCappedQuotas(df, "cat", 2L)
    assert(tinyQ.values.forall(_ == 0L), tinyQ.toString) // floor(2/3) = 0
    assert(MixtureSampling.budgetCappedQuotas(df, "cat", 0L).values.forall(_ == 0L))

    // deterministic selection: same ids on every run and any layout
    def ids() = MixtureSampling.sampleBudgetCapped(df.repartition(7), "cat", "id", 250L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids() == ids())
  }
}
