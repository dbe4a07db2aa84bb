package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support (driver contract "scale extras").
  *
  * Media (image/audio/video) travel as opaque `binary` columns with a typed
  * metadata struct; decode / feature-extraction / frame-sampling run as
  * `mapPartitions` batch jobs (the Scala analog of Pandas-UDF/mapInPandas
  * pipelines) so each executor touches a bounded batch of blobs at a time.
  *
  * The actual codec work is STUBBED — this container has no image/audio
  * libraries — behind `MediaCodec`, with a deterministic fake implementation.
  * Everything Spark-side (schema, partitioning, batch iteration, output
  * encoders) is real and tested; swapping in a real codec is a one-object
  * change.
  */
object Multimodal {

  /** Typed metadata carried next to the blob. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),   // image | audio | video
    StructField("bytes", BinaryType),
    StructField("meta", MetaSchema)))

  /** ===== STUB SEAM =====
    * Deterministic fake codec: derives "decoded" properties purely from the
    * byte content, so tests and plans are stable. A real deployment replaces
    * this object with JNI/javacv-backed implementations — signatures stay. */
  object MediaCodec {
    /** "Decode" → (format, width, height): stub reads sizes from a hash. */
    def probe(bytes: Array[Byte]): (String, Int, Int) = {
      val h = java.util.Arrays.hashCode(bytes)
      val w = 64 + math.abs(h % 1024)
      ("stub", w, 64 + math.abs((h / 1024) % 1024))
    }

    /** Feature vector: deterministic pseudo-embedding from byte chunks.
      * Real impl: a vision/audio encoder over the decoded frame/samples. */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        var acc = 1125899906842597L
        var j = i
        while (j < bytes.length) { acc = 31 * acc + bytes(j); j += dim }
        out(i) = (java.lang.Math.floorMod(acc, 2000L) / 1000.0f) - 1.0f
        i += 1
      }
      out
    }

    /** Frame sampling for video blobs: every strideBytes-th slice. Stub
      * returns the byte offsets it would decode. */
    def frameOffsets(bytes: Array[Byte], strideBytes: Int): Seq[Long] =
      (0L until bytes.length.toLong by strideBytes.toLong).toSeq

    /** 64-bit average-hash (aHash, the blockhash family) perceptual
      * fingerprint. The stub treats the RAW byte array as the decoded
      * luma plane: 64 contiguous blocks (block(i) = i·64 div n — sizes
      * differ by ≤ 1), bit b set iff block b's mean byte value strictly
      * exceeds the blob's global mean. The comparison is the integer
      * cross-multiplication sum_b·n > total·cnt_b — no division, no fp,
      * so any engine replays the hash bit-for-bit (overflow-safe for
      * blobs < ~2^27 bytes: 255·n² < 2^63). A real deployment decodes +
      * downscales to an 8×8 luma grid first and applies the same bit
      * rule — signatures stay. Empty blobs hash to 0. */
    def aHash64(bytes: Array[Byte]): Long = {
      val n = bytes.length
      if (n == 0) return 0L
      val sums = new Array[Long](64)
      val cnts = new Array[Long](64)
      var total = 0L
      var i = 0
      while (i < n) {
        val b = (i.toLong * 64L / n).toInt
        val v = (bytes(i) & 0xFF).toLong
        sums(b) += v
        cnts(b) += 1
        total += v
        i += 1
      }
      var h = 0L
      var b = 0
      while (b < 64) {
        if (sums(b) * n > total * cnts(b)) h |= (1L << b)
        b += 1
      }
      h
    }
  }

  /** Attach decoded metadata to a media table: one mapPartitions pass, each
    * partition streaming its blobs through the codec (bounded memory). */
  def withProbedMeta(media: DataFrame): DataFrame = {
    val outSchema = MediaSchema
    val enc = RowEncoder.encoderFor(outSchema)
    media.select("media_id", "kind", "bytes", "meta").mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]]("bytes")
        val (fmt, w, h) = MediaCodec.probe(bytes)
        val oldMeta = r.getAs[Row]("meta")
        val dur = if (oldMeta == null) null else oldMeta.getAs[java.lang.Long]("duration_ms")
        Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"), bytes,
          Row(fmt, w, h, dur))
      }
    }(enc)
  }

  /** Feature extraction: (media_id, embedding array<float>). Batch shape =
    * one partition of blobs per task; pair with repartitionBySize so a few
    * huge videos don't skew one task. */
  def extractFeatures(media: DataFrame, dim: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select("media_id", "bytes").mapPartitions { it =>
      it.map { r =>
        // the schema permits bytes=null (metadata-only rows) — treat as empty
        val bytes = Option(r.getAs[Array[Byte]]("bytes")).getOrElse(Array.emptyByteArray)
        Row(r.getAs[Long]("media_id"), MediaCodec.features(bytes, dim).toSeq)
      }
    }(enc)
  }

  /** Frame sampling for video rows: explode to (media_id, frame_no, offset). */
  def sampleFrames(media: DataFrame, strideBytes: Int = 4096): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("byte_offset", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.where(col("kind") === "video").select("media_id", "bytes").mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getAs[Long]("media_id")
        val bytes = Option(r.getAs[Array[Byte]]("bytes")).getOrElse(Array.emptyByteArray)
        MediaCodec.frameOffsets(bytes, strideBytes)
          .zipWithIndex.map { case (off, i) => Row(id, i, off) }
      }
    }(enc)
  }

  /** Perceptual fingerprints for a media table: (media_id, phash), one
    * codec pass per partition (the withProbedMeta batch shape). */
  def perceptualHashes(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select("media_id", "bytes").mapPartitions { it =>
      it.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("bytes")).getOrElse(Array.emptyByteArray)
        Row(r.getAs[Long]("media_id"), MediaCodec.aHash64(bytes))
      }
    }(enc)
  }

  /** Replication factor for the two-sided salt on every join in the
    * perceptual-dedup family whose OUTPUT (not input) can go quadratic
    * on one key — the FuzzyLinkage.similarityJoinAuto discipline: AQE's
    * skew split looks at join INPUT partition sizes, and a hot band
    * bucket / mega-cluster's inputs are small while its output is
    * quadratic, so only an explicit salt parallelizes the emission. */
  private val PairSalts = 16

  /** Pin a salted join input to an EXPLICIT hash partitioning on the join
    * keys. The salt alone is not enough: AQE's partition coalescing is
    * bytes-based over the MAP output, and a mega-cluster's join inputs
    * are only megabytes while its output is quadratic — measured here,
    * coalescing merged all salted reducers back into ONE task (the exact
    * single-task emission the salt exists to prevent). A user-specified
    * `repartition(n, keys)` is exempt from AQE coalescing, and with both
    * sides pinned to the same keys and count the shuffled-hash join
    * reuses the co-partitioning instead of adding its own exchange. */
  private def saltPinned(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      keys.map(col): _*)

  /** Exact-duplicate clusters over a media table: identical perceptual
    * hashes collapse to one cluster with a canonical representative
    * (min media_id) — the scale-safe output for a duplicate-heavy media
    * corpus (real crawls are full of blank/placeholder images that all
    * hash identically), where pair enumeration is inherently quadratic
    * but the cluster frame stays LINEAR in corpus size.
    *
    * Output: (media_id, phash, cluster_rep, cluster_size), one row per
    * input blob. Scale shape: one codec scan to 16-byte hash rows, one
    * map-side-combinable aggregation to the distinct-hash frame, one
    * equi-join back (output linear; a mega-cluster is input-sized skew,
    * which AQE's skew split CAN handle — unlike quadratic emission).
    * Consume the result inside a Scope. */
  def perceptualClusters(media: DataFrame): DataFrame = {
    val members = Scope.persist(perceptualHashes(media))
    members.hint("shuffle_hash")
      .join(clusterStats(members), Seq("phash"))
      .select("media_id", "phash", "cluster_rep", "cluster_size")
  }

  /** Near-duplicate CLUSTER pairs: one row per pair of DISTINCT hash
    * values within Hamming `maxDist`, carrying each side's canonical
    * representative and cluster size — the scale path for pair-heavy
    * corpora: a caller who joins two 10⁶-copy clusters gets ONE row
    * (with sizes, so the implied 10¹² pair count is readable), not 10¹²
    * rows. Expand to member pairs only on demand
    * ([[perceptualNearDuplicates]]).
    *
    * Recall is exactly 1 by the pigeonhole banding argument (see
    * [[perceptualNearDuplicates]]); dist ≥ 1 by hash distinctness (the
    * dist-0 "pair" is the cluster itself — read cluster_size).
    *
    * Output: (ph_a, ph_b, dist, rep_a, rep_b, size_a, size_b).
    * Consume the result inside a Scope. */
  def perceptualNearDuplicateClusters(media: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 16,
      "perceptualNearDuplicateClusters: maxDist in [0, 16]")
    val members = Scope.persist(perceptualHashes(media))
    val stats = Scope.persist(clusterStats(members))
    distinctHashPairs(stats, maxDist)
      .join(stats.select(col("phash").as("ph_a"), col("cluster_rep").as("rep_a"),
        col("cluster_size").as("size_a")).hint("shuffle_hash"), Seq("ph_a"))
      .join(stats.select(col("phash").as("ph_b"), col("cluster_rep").as("rep_b"),
        col("cluster_size").as("size_b")).hint("shuffle_hash"), Seq("ph_b"))
      .select("ph_a", "ph_b", "dist", "rep_a", "rep_b", "size_a", "size_b")
  }

  /** Perceptual near-duplicate pairs over a media table — the multimodal
    * column as a first-class dedup citizen: every (id_a, id_b, dist)
    * with id_a < id_b and Hamming(phash_a, phash_b) ≤ maxDist.
    *
    * EXACT by pigeonhole, not probabilistic: the 64 hash bits split into
    * maxDist + 1 disjoint bands, and a pair differing in ≤ maxDist bits
    * has all its differing bits inside ≤ maxDist bands — so at least one
    * band matches VERBATIM and the band-bucket equi-join surfaces the
    * pair with probability 1 (the classic Hamming-LSH exactness point;
    * same role as x248's full-recall parameter setting, but here it
    * holds for every maxDist by construction). Precision is exact too:
    * every candidate is verified with bit_count(xor) ≤ maxDist.
    *
    * Scale shape — collapse first, enumerate last: identical hashes
    * pre-collapse into clusters ([[perceptualClusters]]' aggregation),
    * so the banding, the band-bucket self-join and the popcount verify
    * all run on the DISTINCT-hash frame (a duplicate-heavy corpus never
    * inflates the candidate join), and member pairs are produced by two
    * expansion joins at the very end. Every join whose output is
    * quadratic-per-key (the band self-join, the dist-0 within-cluster
    * expansion, the cross-cluster expansion) carries the two-sided
    * 16-way salt — one side partitioned by a key that varies inside the
    * hot group, the other replicated into every salt — so no single
    * task ever serializes a hot bucket's quadratic emission (AQE cannot
    * split these: the join INPUTS are small, only the output is
    * quadratic), AND an explicit co-partitioning pin on the join keys
    * (see [[saltPinned]] — AQE's bytes-based coalescing would otherwise
    * merge the salted reducers right back into one task, measured here).
    * All joins pinned `shuffle_hash`: the frames are
    * row-scaled, and AQE's compressed-size estimate must never turn one
    * into a broadcast build (the similarityJoinAuto sf10 lesson).
    * Nothing blob-sized travels past the codec scan.
    * Consume the result inside a Scope. */
  def perceptualNearDuplicates(media: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 16,
      "perceptualNearDuplicates: maxDist in [0, 16]")
    val members = Scope.persist(perceptualHashes(media))
    val stats = Scope.persist(clusterStats(members))

    // dist-0 pairs: within-cluster expansion over clusters of size ≥ 2
    // (semi-join keeps singleton-dominated corpora out of the self-join);
    // left salted by id hash — unique per cluster, so a mega-cluster
    // spreads across all salts — right replicated into every salt
    val dupMembers = Scope.persist(members
      .join(stats.where(col("cluster_size") >= 2).select("phash"),
        Seq("phash"), "left_semi"))
    val ma = dupMembers.select(col("phash"), col("media_id").as("id_a"))
      .withColumn("__salt", pmod(xxhash64(col("id_a")), lit(PairSalts)).cast("int"))
    val mb = dupMembers.select(col("phash"), col("media_id").as("id_b"))
      .withColumn("__salt", explode(sequence(lit(0), lit(PairSalts - 1))))
    val samePairs = saltPinned(ma, Seq("phash", "__salt")).hint("shuffle_hash")
      .join(saltPinned(mb, Seq("phash", "__salt")), Seq("phash", "__salt"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("dist"))

    // cross-cluster pairs: distinct-hash near-dup pairs expanded twice —
    // first to ph_a's members (salt varies by ph_b inside a hot ph_a
    // group), then to ph_b's members (salt varies by the already-bound
    // ph_a member id); member ids are disjoint across clusters, so each
    // unordered pair appears exactly once and least/greatest orients it
    val crossPairs = saltPinned(distinctHashPairs(stats, maxDist)
      .withColumn("__salt", pmod(xxhash64(col("ph_b")), lit(PairSalts)).cast("int")),
      Seq("ph_a", "__salt"))
      .hint("shuffle_hash")
      .join(saltPinned(members.select(col("phash").as("ph_a"), col("media_id").as("__ia"))
        .withColumn("__salt", explode(sequence(lit(0), lit(PairSalts - 1)))),
        Seq("ph_a", "__salt")),
        Seq("ph_a", "__salt"))
      .select(col("ph_b"), col("__ia"), col("dist"))
      .withColumn("__salt", pmod(xxhash64(col("__ia")), lit(PairSalts)).cast("int"))

    val crossExpanded = saltPinned(crossPairs, Seq("ph_b", "__salt"))
      .hint("shuffle_hash")
      .join(saltPinned(members.select(col("phash").as("ph_b"), col("media_id").as("__ib"))
        .withColumn("__salt", explode(sequence(lit(0), lit(PairSalts - 1)))),
        Seq("ph_b", "__salt")),
        Seq("ph_b", "__salt"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("dist"))

    samePairs.unionByName(crossExpanded)
  }

  /** Distinct-hash frame with canonical representative + size — the
    * exact-duplicate collapse every perceptual-dedup entry point starts
    * from (map-side-combinable, output = one row per distinct hash). */
  private def clusterStats(members: DataFrame): DataFrame = members
    .groupBy("phash")
    .agg(min("media_id").as("cluster_rep"), count(lit(1)).as("cluster_size"))

  /** Pigeonhole-banded self-join over the DISTINCT-hash frame: every
    * (ph_a, ph_b) with ph_a < ph_b and 1 ≤ Hamming ≤ maxDist, exactly
    * once. Salted two-sided: a low-entropy band (blank-image corpora
    * concentrate hashes in a few band values) makes one (band, bits)
    * bucket's candidate output quadratic in its occupancy — the hash
    * value itself varies inside the bucket, so it carries the salt. */
  private def distinctHashPairs(stats: DataFrame, maxDist: Int): DataFrame = {
    val nBands = maxDist + 1
    val w = 64 / nBands
    val rem = 64 % nBands
    // band i covers wi = w (+1 for the first rem bands) bits at offset
    // off; arithmetic shift then mask isolates the field (sign-extension
    // bits die under the mask)
    val bandCols = (0 until nBands).map { i =>
      val wi = w + (if (i < rem) 1 else 0)
      val off = i * w + math.min(i, rem)
      val mask = if (wi == 64) -1L else (1L << wi) - 1L
      struct(lit(i).as("band"),
        expr(s"shiftright(phash, $off) & ${mask}L").as("bits"))
    }
    val banded = stats.select(col("phash"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("phash"), col("bk.band").as("band"), col("bk.bits").as("bits"))
    val a = banded.select(col("band"), col("bits"), col("phash").as("ph_a"))
      .withColumn("__salt", pmod(xxhash64(col("ph_a")), lit(PairSalts)).cast("int"))
    val b = banded.select(col("band"), col("bits"), col("phash").as("ph_b"))
      .withColumn("__salt", explode(sequence(lit(0), lit(PairSalts - 1))))
    saltPinned(a, Seq("band", "bits", "__salt")).hint("shuffle_hash")
      .join(saltPinned(b, Seq("band", "bits", "__salt")),
        Seq("band", "bits", "__salt"))
      .where(col("ph_a") < col("ph_b"))
      .select("ph_a", "ph_b")
      .dropDuplicates("ph_a", "ph_b")
      .withColumn("dist", expr("bit_count(ph_a ^ ph_b)").cast("long"))
      .where(col("dist") <= maxDist)
  }

  /** Size-aware repartitioning: blobs bucketed by log2(size) then spread
    * round-robin inside a bucket — keeps a task from accumulating only
    * giant blobs (the classic multimodal skew). */
  def repartitionBySize(media: DataFrame, partitions: Int): DataFrame =
    media
      .withColumn("__szb", round(log2(greatest(length(col("bytes")), lit(1)))))
      .repartition(partitions, col("__szb"), pmod(xxhash64(col("media_id")), lit(partitions)))
      .drop("__szb")
}
