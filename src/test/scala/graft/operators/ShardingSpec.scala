package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ShardingSpec extends SparkSpec {
  import spark.implicits._

  test("shards carry ~budget tokens, in id order, deterministically") {
    val docs = (1L to 200L).map(i => (i, 50L + (i % 7) * 10L)).toDF("doc_id", "n_tokens")
    def run() = Sharding.assignShards(docs, "doc_id", "n_tokens", budget = 1000L,
      numPartitions = 8)
      .select("doc_id", "n_tokens", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val out = run()

    // reference: driver-side exclusive prefix sum over id order
    var acc = 0L
    val expected = out.map { case (id, tok, _) =>
      val shard = acc / 1000L; acc += tok; (id, tok, shard)
    }
    assert(out == expected)
    // shard ids are contiguous from 0 and each non-final shard holds at
    // least the budget minus one max-doc of tokens (greedy boundary split)
    val byShard = out.groupBy(_._3).toSeq.sortBy(_._1)
    assert(byShard.map(_._1) == (0L until byShard.length.toLong))
    val totals = byShard.map { case (_, rows) => rows.map(_._2).sum }
    totals.dropRight(1).foreach(t => assert(t >= 1000L - 110L && t <= 1000L + 110L, t))

    // independent of the partition count (the two-phase prefix sum is
    // layout-free): 1 partition == 8 partitions
    val single = Sharding.assignShards(docs, "doc_id", "n_tokens", budget = 1000L,
      numPartitions = 1)
      .select("doc_id", "n_tokens", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(single == out)
  }

  test("the caller's Scope drops the ranged layout") {
    val docs = (1L to 50L).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Scope { Sharding.assignShards(docs, "doc_id", "n_tokens", budget = 100L).count() }
    // unpersist is async; poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (System.nanoTime() < deadline &&
      (spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty) Thread.sleep(50)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("interleavePositions cycles every source before repeating any") {
    // 3 equal sources × 40 docs: positions 0..2 must be the three sources,
    // 3..5 again, etc. — the strict round-robin guarantee for equal sizes
    val docs = (0L until 120L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val out = Sharding.interleavePositions(docs, "source", "doc_id")
      .select("pos", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(out.map(_._1).toSeq == (0L until 120L))
    out.grouped(3).foreach { cycle =>
      assert(cycle.map(_._2).toSet == Set("src0", "src1", "src2"),
        s"cycle ${cycle.toSeq} must hit every source once")
    }
  }

  test("interleavePositions drains short sources, keeps cycling the rest") {
    val docs = ((0L until 10L).map(i => (i, "big")) ++ Seq((100L, "tiny")))
      .toDF("doc_id", "source")
    val out = Sharding.interleavePositions(docs, "source", "doc_id")
      .select("pos", "doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // rank-1 rows come first (big's doc 0, then tiny's only doc), then big runs out the tail
    assert(out.take(2).map(_._3).toSeq == Seq("big", "tiny"), out.mkString(","))
    assert(out.drop(2).forall(_._3 == "big"))
  }
}

class SequencePackingSpec extends SparkSpec {
  import spark.implicits._

  test("greedy packing: no bin overflows unless a single doc exceeds the window") {
    val docs = Seq(
      (1L, 700L), (2L, 800L), (3L, 900L), // 1+2 fill 1500; 3 overflows → bin 1
      (4L, 2500L),                        // larger than the window → alone
      (5L, 100L), (6L, 1900L), (7L, 50L)
    ).toDF("doc_id", "n_tokens")
    val out = SequencePacking.packGreedy(docs, "doc_id", "n_tokens",
      contextLen = 2000L, shardBudget = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)

    assert(out.map(x => x._1 -> x._4).toMap ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 6L -> 3L, 7L -> 4L),
      out.mkString(","))
    // every multi-doc bin fits the context window
    out.groupBy(x => (x._3, x._4)).foreach { case (_, docsInBin) =>
      if (docsInBin.length > 1)
        assert(docsInBin.map(_._2).sum <= 2000L, docsInBin.mkString(","))
    }
  }

  test("packing is shard-local: results deterministic across partition layouts") {
    val docs = (1L to 300L).map(i => (i, 100L + (i % 13) * 37L)).toDF("doc_id", "n_tokens")
    def run(parts: Int) = {
      val r = SequencePacking.packGreedy(
        docs.repartition(parts), "doc_id", "n_tokens",
        contextLen = 1000L, shardBudget = 8000L)
        .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(3))).sortBy(_._1).toSeq
      r
    }
    assert(run(1) == run(7))
  }
}

class CorpusEndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("full corpus prep: clean → temperature sample → pack into context bins") {
    // heavily-English corpus with noise, dups and one rare-language doc
    val en = (1L to 60L).map(i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog near the river bank"))
    val noise = Seq((100L, "@@@ ### $$$ 111 222 333"))
    val dup = Seq((101L, en.head._2)) // exact dup of doc 1
    val es = Seq((102L, "el gato está en la casa y no quiere salir por la puerta con el perro"))
    val docs = (en ++ noise ++ dup ++ es).toDF("doc_id", "text")

    // 1. clean: quality + exact dedup (near-dup off via high threshold)
    val (cleaned, report) = TrainingDataPipeline.clean(
      docs, minQuality = 0.4, nearDupThreshold = 0.99, retainResult = true)
    assert(report.input == 63L)
    assert(report.afterExactDedup == 61L) // noise gated, dup collapsed

    // 2. mixture: T-sampling keeps the rare language whole, thins English
    val routed = cleaned.withColumn("lang", TextAnalysis.langId(col("text")))
    val rates = MixtureSampling.temperatureRates(routed, "lang", temperature = 4.0)
    assert(rates("es") == 1.0 && rates("en") < 1.0, rates.toString)
    val sampled = MixtureSampling.sampleByRates(routed, "lang", "doc_id", rates)
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("es") == 1L)
    assert(byLang("en") < 61L, byLang.toString)

    // 3. pack the survivors into 64-token bins
    val packed = SequencePacking.packGreedy(
      sampled.select(col("doc_id"), col("__n_tokens").as("n_tokens")),
      "doc_id", "n_tokens", contextLen = 64L, shardBudget = 640L)
    val bins = packed.collect().map(r =>
      (r.getLong(2), r.getLong(3)) -> r.getLong(1)).groupBy(_._1)
    bins.values.foreach { docsInBin =>
      if (docsInBin.length > 1) assert(docsInBin.map(_._2).sum <= 64L)
    }
    assert(packed.count() == sampled.count())

    cleaned.unpersist()
  }
}

class MixtureSamplingSpec extends SparkSpec {
  import spark.implicits._

  test("per-category rates are deterministic and ~proportional") {
    val docs = (1L to 4000L).map(i => (i, if (i % 4 == 0L) "rare" else "common"))
      .toDF("doc_id", "cat")
    def run() = MixtureSampling.sampleByRates(docs, "cat", "doc_id",
      rates = Map("common" -> 0.25), defaultRate = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = run()
    assert(run() == kept) // pure function of ids
    val rare = kept.count(_._2 == "rare")
    val common = kept.count(_._2 == "common")
    assert(rare == 1000, s"default rate 1.0 keeps every rare doc, got $rare")
    // 3000 commons at rate 0.25 → ~750; md5 uniformity keeps this tight
    assert(common > 600 && common < 900, s"common kept: $common")
    // rate 0 drops everything in the category
    val none = MixtureSampling.sampleByRates(docs, "cat", "doc_id",
      rates = Map("common" -> 0.0, "rare" -> 0.0)).count()
    assert(none == 0L)
  }

  test("rates just below 1.0 keep ~everything (threshold clamp)") {
    // rate >= 1 - 2^-33 used to round to 2^32, format as the 9-char
    // "100000000", and the 8-char-prefix comparison then kept only ~1/16 of
    // the corpus — the clamp pins the threshold at "ffffffff"
    val docs = (1L to 2000L).map(i => (i, "c")).toDF("doc_id", "cat")
    val kept = MixtureSampling.sampleByRates(docs, "cat", "doc_id",
      rates = Map("c" -> (1.0 - 1e-12))).count()
    assert(kept == 2000L, s"kept $kept of 2000 at rate 1-1e-12")
  }

  test("capTokensPerKey: every key keeps >=1 doc, mass overshoots by at most one doc") {
    val docs = (1L to 400L).map(i => (i, s"src${i % 5}", 100L + (i % 9) * 25L))
      .toDF("doc_id", "source", "n_tokens")
    val kept = MixtureSampling.capTokensPerKey(docs, "source", "doc_id",
      "n_tokens", budget = 1500L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

    val byKey = kept.groupBy(_._2)
    assert(byKey.keySet == (0 until 5).map(i => s"src$i").toSet,
      "a key with any docs must keep at least one")
    byKey.foreach { case (src, rows) =>
      val total = rows.map(_._3).sum
      val maxDoc = rows.map(_._3).max
      assert(total < 1500L + maxDoc, s"$src kept $total tokens")
      // greedy boundary: the kept set is a prefix of the md5 order, so no
      // UNKEPT doc could have started inside the budget
      val keptIds = rows.map(_._1).toSet
      def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val ordered = (1L to 400L).filter(i => s"src${i % 5}" == src)
        .sortBy(i => (md5hex(i.toString), i))
      var acc = 0L
      ordered.foreach { id =>
        val tok = 100L + (id % 9) * 25L
        assert(keptIds.contains(id) == (acc < 1500L), s"$src doc $id")
        acc += tok
      }
    }
    // layout independence
    val again = MixtureSampling.capTokensPerKey(docs.repartition(7), "source",
      "doc_id", "n_tokens", budget = 1500L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(again == kept.toSet)
  }

  test("temperature rates level category counts as T grows") {
    val docs = ((1L to 900L).map(i => (i, "big")) ++ (901L to 1000L).map(i => (i, "small")))
      .toDF("doc_id", "cat")
    val t1 = MixtureSampling.temperatureRates(docs, "cat", temperature = 1.0)
    assert(t1("big") == 1.0 && t1("small") == 1.0) // T=1: proportional, keep all
    val t5 = MixtureSampling.temperatureRates(docs, "cat", temperature = 5.0)
    // r_c ∝ n^(1/T - 1): the small category keeps rate 1 (it is the max),
    // the big one is cut by (900/100)^(4/5)
    assert(t5("small") == 1.0)
    assert(math.abs(t5("big") - math.pow(9.0, -0.8)) < 1e-12, t5.toString)
    // composition: sampled counts move toward level
    val kept = MixtureSampling.sampleByRates(docs, "cat", "doc_id", t5)
      .groupBy("cat").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 100L)
    assert(kept("big") < 250L && kept("big") > 100L, kept.toString)
  }

}
