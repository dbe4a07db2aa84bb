package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.SparkSpec

/** aHash64 + perceptualNearDuplicates (x249's operator): hand-computed
  * bit rules, pigeonhole exactness vs brute force, edge blobs. */
class PerceptualHashSpec extends SparkSpec {

  private def mediaFrame(rows: Seq[(Long, Array[Byte])]) = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bytes", BinaryType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, b) => Row(id, b) }, 2),
      schema)
  }

  test("aHash64 hand-computed bit rule") {
    // two bytes: position 0 -> block 0 (value 0), position 1 -> block 32
    // (value 255); total 255, n 2. Block 0: 0*2 > 255*1 false -> bit 0.
    // Block 32: 255*2 > 255*1 true -> bit 32. Empty blocks stay 0.
    assert(Multimodal.MediaCodec.aHash64(Array[Byte](0, -1)) == (1L << 32))
    // uniform bytes: no block mean strictly exceeds the global mean
    assert(Multimodal.MediaCodec.aHash64(Array.fill[Byte](128)(7)) == 0L)
    // empty blob hashes to 0
    assert(Multimodal.MediaCodec.aHash64(Array.emptyByteArray) == 0L)
    // signedness: 0xFF must read as 255, not -1
    val ramp = Array.tabulate[Byte](256)(i => i.toByte)
    val h = Multimodal.MediaCodec.aHash64(ramp)
    // ascending ramp: block b holds bytes 4b..4b+3 (sum 16b+6, count 4),
    // total 32640 — bit set iff (16b+6)·256 > 32640·4 iff b >= 32: the
    // upper half exactly
    assert(java.lang.Long.bitCount(h) == 32,
      s"ramp popcount ${java.lang.Long.bitCount(h)}")
    assert(h == -4294967296L) // bits 32..63
  }

  test("identical blobs pair at distance 0; every pair verifies its hash") {
    val blobA = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    val blobB = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 83).toByte)
    val media = mediaFrame(Seq(1L -> blobA, 2L -> blobA, 3L -> blobB))
    val out = Multimodal.perceptualNearDuplicates(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = Multimodal.perceptualHashes(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains((1L, 2L, 0L)))
    out.foreach { case (ia, ib, d) =>
      assert(d == java.lang.Long.bitCount(hs(ia) ^ hs(ib)) && d <= 3L)
    }
  }

  test("pigeonhole banding is EXACT: operator equals brute-force Hamming") {
    val dir = "/root/testdata/sf0.001"
    val media = graft.queries.Tables.documents(spark, dir)
      .where(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
    for (k <- Seq(0, 3, 5)) {
      val got = Multimodal.perceptualNearDuplicates(media, maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hashes = Multimodal.perceptualHashes(media)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb) if d <= k
      } yield (ia, ib, d.toLong)).toSet
      assert(got == want,
        s"maxDist=$k: got ${got.size} pairs, brute force ${want.size}")
    }
  }

  test("mega-cluster skew: pre-collapse + salted expansion — correct counts, parallel emission") {
    // the round-12 verdict's defect class: a duplicate-heavy media corpus
    // (1200 copies of one blob — real crawls are full of blank/placeholder
    // images that aHash identically) must emit its C(1200,2) = 719,400
    // dist-0 pairs across MANY tasks, not serialize one band bucket on a
    // single task. 40 distinct blobs ride along so the cross-cluster
    // expansion path is exercised too.
    val copies = 1200
    val hot = Array.tabulate[Byte](256)(i => ((i * 17) % 256).toByte)
    val distinctBlobs = (0 until 40).map(k =>
      Array.tabulate[Byte](256)(i => ((i * 131 + k * 29 + 7) % 256).toByte))
    val rows = (0 until copies).map(i => (i.toLong, hot)) ++
      distinctBlobs.zipWithIndex.map { case (b, k) => ((10000 + k).toLong, b) }
    val media = mediaFrame(rows)

    val out = Multimodal.perceptualNearDuplicates(media, maxDist = 3)
    // plan shape: both expansion joins carry the salt and stay shuffled
    // (no broadcast build on a row-scaled side)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)

    val perPartition = out.rdd
      .mapPartitions(it => Iterator(it.size.toLong)).collect()
    val histogram = out.groupBy("dist").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // local truth: the codec on the driver + exact cluster arithmetic
    val clusterSizes = rows.groupBy { case (_, b) => Multimodal.MediaCodec.aHash64(b) }
      .view.mapValues(_.size.toLong).toMap
    val samePairs = clusterSizes.values.map(c => c * (c - 1) / 2).sum
    val hashes = clusterSizes.keys.toSeq
    val crossByDist = (for {
      i <- hashes.indices; j <- (i + 1) until hashes.size
      d = java.lang.Long.bitCount(hashes(i) ^ hashes(j)) if d <= 3
    } yield d.toLong -> clusterSizes(hashes(i)) * clusterSizes(hashes(j)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val want = (crossByDist ++ Map(0L -> samePairs)).filter(_._2 > 0)
    assert(samePairs >= copies.toLong * (copies - 1) / 2)
    assert(histogram == want, s"dist histogram $histogram != $want")

    // parallel emission: the hot cluster's quadratic output is spread by
    // the salt — no partition of the result may hold the whole of it
    // (pre-collapse-without-salt emitted ~100% on one task)
    val total = perPartition.sum
    assert(total == want.values.sum)
    val maxFrac = perPartition.max.toDouble / total
    assert(maxFrac <= 0.6,
      f"one partition holds $maxFrac%.2f of all pairs — salted emission collapsed " +
        s"(per-partition: ${perPartition.filter(_ > 0).sorted.reverse.take(8).mkString(",")})")
    assert(perPartition.count(_ > 0) >= 3,
      s"only ${perPartition.count(_ > 0)} non-empty partitions")
  }

  test("perceptualClusters: rep = min id, sizes partition the corpus") {
    val blobA = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    val blobB = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 83).toByte)
    val media = mediaFrame(Seq(5L -> blobA, 2L -> blobA, 9L -> blobB, 7L -> blobA))
    val got = Multimodal.perceptualClusters(media)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((2L, 2L, 3L), (5L, 2L, 3L), (7L, 2L, 3L), (9L, 9L, 1L)))
  }

  test("cluster-level near-dup pairs match brute force over distinct hashes") {
    val dir = "/root/testdata/sf0.001"
    val media = graft.queries.Tables.documents(spark, dir)
      .where(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
    val got = Multimodal.perceptualNearDuplicateClusters(media, maxDist = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val hashes = Multimodal.perceptualHashes(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byHash = hashes.groupBy(_._2).view
      .mapValues(ms => (ms.map(_._1).min, ms.size.toLong)).toMap
    val distinct = byHash.keys.toSeq
    val want = (for {
      i <- distinct.indices; j <- distinct.indices
      ha = distinct(i); hb = distinct(j) if ha < hb
      d = java.lang.Long.bitCount(ha ^ hb) if d >= 1 && d <= 5
    } yield (ha, hb, d.toLong, byHash(ha)._1, byHash(hb)._1,
      byHash(ha)._2, byHash(hb)._2)).toSet
    assert(got == want, s"got ${got.size} cluster pairs, brute force ${want.size}")
  }

  test("near-identical blobs (one byte flipped) land within the radius") {
    val base = Array.tabulate[Byte](4096)(i => ((i * 131) % 256).toByte)
    val tweaked = base.clone()
    tweaked(100) = (tweaked(100) + 90).toByte // nudges one block's mean
    val out = Multimodal.perceptualNearDuplicates(
      mediaFrame(Seq(10L -> base, 11L -> tweaked)), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.contains((10L, 11L)),
      "single-byte perturbation should stay within Hamming 3")
  }
}
