package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (driver contract "scale extras"; SURVEY §7.8).
  *
  * All four variants are pure DataFrame pipelines — no UDFs, no driver
  * materialization — so they scale by partitioning:
  *
  *   - exact:       one hash-groupBy shuffle on a content digest
  *   - minhash LSH: shingle → seeded-xxhash signature → banded bucket join →
  *                  exact-Jaccard verification of candirates only
  *   - simhash:     64-bit sign-aggregate fingerprint + pigeonhole segment
  *                  join for hamming-distance candidates
  *   - ngram-Jaccard: inverted-index self-join with common-count pruning
  *
  * The LSH/banding parameters trade recall vs cost exactly as in the
  * published MinHash literature (Broder '97; MMDS ch.3): P(candidate) =
  * 1-(1-s^r)^b for similarity s with b bands of r rows.
  */
object Dedup {

  // functions.shiftleft/shiftright only accept Int amounts in the Scala API;
  // the SQL builtins take full expressions — call through by name.
  private def shl(x: Column, n: Column): Column = call_function("shiftleft", x, n)
  private def shr(x: Column, n: Column): Column = call_function("shiftright", x, n)

  // Intermediate sketch tables (shingle/gram hash sets, fingerprints) are
  // persisted through Scope because the results are lazy — the caller
  // materializes them after this function returns, inside its Scope, which
  // then frees them (at 100 TB an unreleased shingle cache is an OOM, not a
  // nuisance).

  /** Exact duplicate groups by content digest. One shuffle; digest-first so
    * wide text never travels — only (digest, id). The ids sample is bounded
    * BEFORE aggregation (row_number within digest, collect only ranks ≤ cap):
    * an unbounded collect_list on a viral duplicate (millions of copies of
    * one boilerplate page) would blow a single aggregation buffer at scale —
    * collect_list skips nulls, so the buffer holds at most maxIdsPerGroup
    * entries. The window and the groupBy share the digest partitioning, so
    * no extra shuffle. */
  def exact(df: DataFrame, textCol: String, idCol: String, maxIdsPerGroup: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("digest").orderBy(col(idCol))
    df.select(col(idCol), md5(col(textCol)).as("digest"))
      .withColumn("__rn", row_number().over(w))
      .groupBy("digest")
      .agg(
        count(lit(1)).as("n_dups"),
        min(col(idCol)).as("keep_id"),
        sort_array(collect_list(when(col("__rn") <= maxIdsPerGroup, col(idCol)))).as("ids"))
      .where(col("n_dups") > 1)
  }

  /** Keep one row per exact content digest (the dedup "apply" side):
    * row_number over digest, keep first by id — deterministic. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Whitespace word shingles of size k, distinct, lowercased.
    *
    * Spec-level reference only — hot paths use the graft_shingle_hashes
    * kernel. CAUTION if reviving: `tokens` is re-evaluated PER LAMBDA
    * ELEMENT here (a HOF lambda re-runs any outer non-column expression —
    * the quadratic re-tokenization x87 hit); materialize the token array
    * in its own projection before shingling at any real scale. */
  def shingles(textCol: Column, k: Int): Column = {
    val tokens = split(lower(trim(textCol)), "\\s+")
    array_distinct(
      filter(
        transform(
          sequence(lit(0), greatest(size(tokens) - k, lit(0))),
          i => concat_ws(" ", slice(tokens, i + 1, lit(k)))),
        s => s =!= ""))
  }

  /** MinHash band keys for a text column — the kernel-backed entry point
    * (GraftMinhashBands: fmix64(h^seed) family, collision-calibrated in
    * HashKernelSpec). A pure-Column affine-permutation variant existed
    * earlier but its family correlated across bands (50× candidate
    * inflation) — deliberately removed so only the calibrated family ships. */
  def minhashBandKeys(textCol: Column, shingleSize: Int, bands: Int, rowsPerBand: Int): Column =
    call_function("graft_minhash_bands",
      call_function("graft_shingle_hashes", textCol, lit(shingleSize)),
      lit(bands), lit(rowsPerBand))

  /** MinHash-LSH near-duplicate pairs.
    *
    * numHashes = bands*rowsPerBand. Pipeline: signature → explode bands
    * (b rows/doc, each carrying only (band, bandHash, id)) → self-join within
    * (band, bandHash) buckets → distinct candidate pairs → verify exact
    * Jaccard on shingle sets. Only candidates pay the verification cost.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold. */
  def minhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {

    // materialize the sorted shingle-hash sets once — the persist is a hard
    // boundary so banding and verification both read cached longs; shingle
    // strings never materialize at all (native graft_shingle_hashes kernel)
    val hashed = Scope.persist(df
      .select(col(idCol).as("id"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleSize)).as("bh"))
      .where(size(col("bh")) > 0))

    // native banding kernel: signature minima + per-band mixing in one
    // static call (GraftMinhashBands); only (band, band_hash, id) travel
    // into the bucket join — shingles stay behind
    val banded = Scope.persist(hashed.select(
      col("id"),
      posexplode(call_function("graft_minhash_bands",
        col("bh"), lit(bands), lit(rowsPerBand))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash")))

    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // exact verification on the sorted hash sets: linear-merge intersect
    // (graft_intersect_count), union size by inclusion-exclusion
    val sets = hashed.select(col("id"), col("bh"), size(col("bh")).as("hsz"))
    val result = candidates
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "bh" -> "bh_a", "hsz" -> "hsz_a")), Seq("id_a"))
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "bh" -> "bh_b", "hsz" -> "hsz_b")), Seq("id_b"))
      .withColumn("common", call_function("graft_intersect_count", col("bh_a"), col("bh_b")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("hsz_a") + col("hsz_b") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    result
  }

  /** Cross-corpus MinHash-LSH near-duplicate pairs — document-level
    * decontamination: find training documents that near-duplicate an
    * evaluation document (x21's gram-overlap catches verbatim
    * contamination; this catches whole-document paraphrase/near-copies).
    * Same banded construction as minhashNearDuplicates, but the bucket
    * join is across the two corpora: band keys from both sides, equi-join,
    * verify exact Jaccard on the shingle-hash sets. When the right corpus
    * is benchmark-sized its banded keys broadcast and the left corpus
    * never shuffles.
    *
    * Returns (id_left, id_right, jaccard) with jaccard ≥ threshold. */
  def minhashNearDuplicatesAcross(
      left: DataFrame,
      right: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      broadcastRight: Boolean = true): DataFrame = {

    def hashedSide(df: DataFrame): DataFrame = Scope.persist(df
      .select(col(idCol).as("id"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleSize)).as("bh"))
      .where(size(col("bh")) > 0))

    def bandedSide(hashed: DataFrame): DataFrame = hashed.select(
      col("id"),
      posexplode(call_function("graft_minhash_bands",
        col("bh"), lit(bands), lit(rowsPerBand))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
      .select("band", "band_hash", "id")

    val hl = hashedSide(left)
    val hr = hashedSide(right)
    val bl = bandedSide(hl).withColumnRenamed("id", "id_left")
    val brRaw = bandedSide(hr).withColumnRenamed("id", "id_right")
    val br = if (broadcastRight) broadcast(brRaw) else brRaw

    val candidates = bl.join(br, Seq("band", "band_hash"))
      .select("id_left", "id_right")
      .dropDuplicates("id_left", "id_right")

    candidates
      .join(hl.select(col("id").as("id_left"), col("bh").as("bh_l"),
        size(col("bh")).as("sz_l")), Seq("id_left"))
      .join(hr.select(col("id").as("id_right"), col("bh").as("bh_r"),
        size(col("bh")).as("sz_r")), Seq("id_right"))
      .withColumn("common", call_function("graft_intersect_count", col("bh_l"), col("bh_r")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_l") + col("sz_r") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_left", "id_right", "jaccard")
  }

  /** The persisted state of incremental near-dedup: the corpus' sorted
    * shingle-hash sets and its banded minhash keys. Both are plain
    * DataFrames — write them as Parquet next to the corpus and a new crawl
    * batch dedups against 100 TB WITHOUT touching the corpus text again.
    * (sets: (id, bh, hsz); bands: (band, band_hash, id).) */
  final case class MinhashIndex(sets: DataFrame, bands: DataFrame)

  /** Build the incremental-dedup index for a corpus — one text scan: the
    * same signature construction as minhashNearDuplicates, materialized
    * instead of consumed. */
  def buildMinhashIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): MinhashIndex = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val hashed = df
      .select(col(idCol).as("id"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleSize)).as("bh"))
      .where(size(col("bh")) > 0)
    val sets = hashed.select(col("id"), col("bh"), size(col("bh")).as("hsz"))
    val banded = hashed.select(
      col("id"),
      posexplode(call_function("graft_minhash_bands",
        col("bh"), lit(bands), lit(rowsPerBand))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
      .select("band", "band_hash", "id")
    MinhashIndex(sets, banded)
  }

  /** Incremental near-duplicate detection: pairs between a NEW batch and an
    * existing index (vs = "index"), plus the batch's own internal pairs
    * (vs = "batch") — the maintenance loop of a deduplicated corpus: only
    * the batch's text is ever scanned; the corpus contributes its persisted
    * signatures. Batch and index ids must be disjoint.
    *
    * Scale shape: the batch is assumed small relative to the corpus, so its
    * banded keys BROADCAST into the index join (`broadcastBatch`) — the
    * 100 TB side never shuffles; with broadcastBatch=false both sides
    * exchange on (band, band_hash). Verification joins fetch only candidate
    * rows from index.sets. Emitted jaccards are exact (banding is candidate
    * generation only), same contract as minhashNearDuplicates.
    *
    * Returns (id_a = batch id, id_b, jaccard, vs); within-batch pairs carry
    * id_a < id_b. */
  def incrementalNearDuplicates(
      batch: DataFrame,
      index: MinhashIndex,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      broadcastBatch: Boolean = true): DataFrame = {
    val bi = buildMinhashIndex(batch, textCol, idCol, shingleSize, bands, rowsPerBand)
    val batchSets = Scope.persist(bi.sets)
    val batchBands = Scope.persist(bi.bands)

    def verify(cands: DataFrame, rightSets: DataFrame, vs: String): DataFrame =
      cands
        .join(batchSets.select(col("id").as("id_a"), col("bh").as("bh_a"),
          col("hsz").as("hsz_a")), Seq("id_a"))
        .join(rightSets.select(col("id").as("id_b"), col("bh").as("bh_b"),
          col("hsz").as("hsz_b")), Seq("id_b"))
        .withColumn("common",
          call_function("graft_intersect_count", col("bh_a"), col("bh_b")))
        .withColumn("jaccard",
          col("common").cast("double") /
            (col("hsz_a") + col("hsz_b") - col("common")).cast("double"))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"), lit(vs).as("vs"))

    val bb = batchBands.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val crossCands = index.bands
      .select(col("band"), col("band_hash"), col("id").as("id_b"))
      .join(if (broadcastBatch) broadcast(bb) else bb, Seq("band", "band_hash"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val withinCands = bb
      .join(batchBands.select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    verify(crossCands, index.sets, "index")
      .unionByName(verify(withinCands, batchSets, "batch"))
  }

  /** 64-bit SimHash fingerprint of the token multiset: per bit position,
    * sign of Σ over tokens of ±1 (bit set in the token's hash or not).
    * Tokenize+hash is the native graft_token_hashes_fnv kernel (one static
    * call in codegen; the interpreted transform(filter(split)) chain was the
    * residual cost in the x08 bench). The FNV-1a+fmix64 family is chosen over
    * xxhash64 because it replays exactly in the DuckDB oracle — fingerprints
    * and hamming pairs are end-to-end verifiable, with equivalent avalanche. */
  def simhash64(textCol: Column): Column =
    simhash64FromHashes(call_function("graft_token_hashes_fnv", textCol))

  /** SimHash from pre-computed token hashes — delegates to the native
    * GraftSimhash64 expression (functions/HashExpressions.scala): the
    * higher-order-function formulation was interpreted and allocated two
    * 64-slot arrays per token; the kernel is one static call in codegen.
    * Requires GraftFunctions.register on the session. */
  def simhash64FromHashes(hashes: Column): Column =
    call_function("graft_simhash64", hashes)

  /** SimHash near-duplicate pairs with hamming distance ≤ maxDistance.
    *
    * Pigeonhole candidate generation: split the 64-bit fingerprint into
    * maxDistance+1 segments; two fingerprints within distance d must agree
    * on ≥1 segment → equi-join per segment, union, verify true distance.
    * Equi-joins keep this shuffle-friendly (no O(n²) compare). */
  def simhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDistance: Int = 3): DataFrame = {

    val segments = maxDistance + 1
    val segBits = 64 / segments
    // persist: the fingerprint must not be recomputed on each side of the
    // self-join below
    val withFp = Scope.persist(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("fp")))

    val segmented = withFp.select(
      col("id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(segments - 1)),
        s => shr(col("fp"), s * segBits)
          .bitwiseAND(if (segBits >= 64) lit(-1L) else lit((1L << segBits) - 1)))))
      .withColumnsRenamed(Map("pos" -> "seg", "col" -> "seg_val"))

    val a = segmented.select(col("seg"), col("seg_val"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = segmented.select(col("seg"), col("seg_val"), col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("seg", "seg_val"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxDistance)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  /** Character-ngram Jaccard similarity pairs.
    *
    * Candidate generation is minhash-banding over the gram sets, then exact
    * Jaccard verification of candidates. A plain inverted-index (or even
    * PPJoin prefix-filtered) self-join melts down on low-entropy corpora —
    * measured here: 1M postings over only 2k distinct grams → ~50M joined
    * pair-rows even after prefix filtering. Banded minhash collisions track
    * the similarity itself, not gram popularity, so candidate volume stays
    * proportional to the true near-dup pair count.
    *
    * Recall: a pair at Jaccard t collides with probability
    * 1-(1-t^rowsPerBand)^bands. Defaults (b=32, r=8) are tuned for t≥0.8:
    * recall 0.997 at s=0.8 (→1 above), while s=0.3 background pairs are
    * admitted at only ~0.2% — measured on this corpus, where r=4 admitted
    * 23% of ALL pairs and kept the join quadratic. Lower rowsPerBand when
    * hunting lower-similarity pairs. Requires GraftFunctions.register. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5,
      threshold: Double = 0.7,
      minCommon: Int = 2,
      bands: Int = 32,
      rowsPerBand: Int = 8): DataFrame = {

    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    // native path end-to-end: graft_ngram_hashes emits the SORTED DISTINCT
    // gram-hash set straight from the string (measured: materializing gram
    // string arrays cost 37s/5k docs in interpreted transform+distinct)
    val gramsDf = Scope.persist(df.select(
      col(idCol).as("id"),
      call_function("graft_ngram_hashes", norm, lit(n)).as("bh"))
      .where(size(col("bh")) > 0))

    // persisted like minhashNearDuplicates' banded frame: the bucket
    // self-join scans it from BOTH legs, and without the persist each leg
    // re-ran the banding kernel (bands×rowsPerBand hashes per doc) over
    // the cached gram sets — one kernel pass, two cache scans (guide §2.4)
    val banded = Scope.persist(gramsDf.select(
      col("id"), size(col("bh")).as("sz"),
      posexplode(call_function("graft_minhash_bands",
        col("bh"), lit(bands), lit(rowsPerBand))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash")))

    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"), col("sz").as("sz_b"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      // length filter: a much smaller set cannot reach the threshold
      .where(col("sz_b") >= ceil(lit(threshold) * col("sz_a")) &&
        col("sz_a") >= ceil(lit(threshold) * col("sz_b")))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val sets = gramsDf.select(col("id"), col("bh"), size(col("bh")).as("hsz"))
    candidates
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "bh" -> "bh_a", "hsz" -> "hsz_a")), Seq("id_a"))
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "bh" -> "bh_b", "hsz" -> "hsz_b")), Seq("id_b"))
      .withColumn("common", call_function("graft_intersect_count", col("bh_a"), col("bh_b")))
      .where(col("common") >= minCommon)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("hsz_a") + col("hsz_b") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components over near-duplicate pairs — the cluster-resolution
    * step every published dedup recipe ends with: pairwise keep-first drops
    * one doc per PAIR, but duplicates are transitive (A≈B, B≈C ⇒ one
    * cluster), so the whole component must collapse to one representative.
    *
    * Min-label propagation with pointer jumping: every vertex starts labeled
    * with its own id; each round a vertex takes the minimum label among
    * itself and its neighbors, then shortcuts through the previous round's
    * label table (label := prevLabel(neighborMin)). A neighbor's label
    * already summarizes everything within its own horizon, so the shortcut
    * doubles the reachable-min horizon per round — convergence in
    * O(log diameter) rounds, not O(diameter): a 1M-hop boilerplate chain
    * resolves in ~20 rounds. Labels are monotone non-increasing (the min
    * includes the vertex's own previous label; the shortcut only lowers),
    * so "no label changed" is a sound fixpoint test.
    *
    * One Spark action per round: the old label rides the same aggregation
    * that computes the new one (neighbor rows carry null, max() ignores
    * them), so the changed-row count comes out of the job that materializes
    * the round's labels — no separate convergence join.
    *
    * Throws IllegalStateException if maxIter rounds pass without
    * convergence — partially-propagated labels report one real cluster as
    * several, which silently under-deduplicates downstream, so an
    * unconverged result is never returned. The default budget covers
    * diameters up to ~2^40; hitting it means the pair graph is
    * pathological, not that more rounds are needed.
    *
    * Deterministic: cluster id = min doc id of the component.
    *
    * Returns (id, cluster) for every vertex in `pairs`. Docs in no pair are
    * their own singleton clusters and are omitted (join back as needed). */
  def duplicateClusters(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 40,
      localEdgeThreshold: Int = 1 << 20): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // Adaptive cutover: near-dup pair sets are usually FAR smaller than the
    // corpus (they're the output of a banded sketch join), and below the
    // threshold a driver-side union-find resolves components exactly in
    // microseconds where the distributed loop pays several whole Spark jobs
    // of latency. The collect is bounded — take(threshold+1) never pulls
    // more than ~16 MB of longs at the default — and the distributed
    // O(log d) loop below remains the path for genuinely large pair sets.
    // Same answer either way: cluster id = min doc id of the component.
    if (localEdgeThreshold > 0) {
      val head = edges.take(localEdgeThreshold + 1)
      if (head.length <= localEdgeThreshold)
        return localClusters(pairs.sparkSession, head)
    }
    val sym = Scope.persist(edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())

    // Iterative-DataFrame lineage management: `labels` appears three times
    // in each round's plan (self rows, neighbor join, jump join), so the
    // LOGICAL plan tree would grow 3^rounds — the plan string alone OOMs
    // the driver around round 7. createDataFrame(df.rdd, schema) collapses
    // each round to a constant-size LogicalRDD while the underlying RDD
    // DAG shares nodes by reference (no blowup), stays recomputable, and
    // the plain persists stay releasable round by round.
    val spark = pairs.sparkSession
    var roundCache = Scope.persist(sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .withColumn("old", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val labels = spark.createDataFrame(roundCache.rdd, roundCache.schema)
      val viaNeighbors = sym
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label").as("cand"),
          lit(null).cast("long").as("old"))
      val neighborMin = labels
        .select(col("id"), col("label").as("cand"), col("label").as("old"))
        .union(viaNeighbors)
        .groupBy("id").agg(min("cand").as("m1"), max("old").as("old"))
      // pointer jump: every label value is itself a vertex id present in
      // `labels`, and prevLabel(x) <= x, so the left join + coalesce only
      // ever lowers the label
      val next = Scope.persist(neighborMin
        .join(labels.select(col("id").as("m1"), col("label").as("jump")), Seq("m1"), "left")
        .select(col("id"), coalesce(col("jump"), col("m1")).as("label"), col("old")))
      // ONE action per round: this count materializes the round AND reads
      // the convergence signal — the old label rides the same aggregation
      // as the new one, so no separate join+isEmpty job
      val nChanged = next.where(col("label") =!= col("old")).count()
      converged = nChanged == 0L
      Scope.release(roundCache)
      roundCache = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge after $maxIter rounds; " +
          "returning partially-propagated labels would split real duplicate " +
          "clusters. Raise maxIter or inspect the pair graph.")
    roundCache.select(col("id"), col("label").as("cluster"))
  }

  /** Driver-side union-find with path compression for the small-pair-set
    * fast path of duplicateClusters. */
  private def localClusters(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      else { parent.putIfAbsent(a, a); parent.putIfAbsent(b, b) }
    }
    // roots chosen by min-union are already the component minima, but make
    // it explicit (and order-independent): component id = min member id
    val members = new java.util.HashMap[Long, Long]() // root -> min id
    val vertices = scala.collection.mutable.ArrayBuffer[Long]()
    edges.foreach { r =>
      vertices += r.getLong(0)
      vertices += r.getLong(1)
    }
    val distinctVertices = vertices.distinct
    distinctVertices.foreach { v =>
      val root = find(v)
      members.merge(root, v, (a, b) => math.min(a, b))
    }
    import spark.implicits._
    distinctVertices.toSeq.map(v => (v, members.get(find(v)).longValue()))
      .toDF("id", "cluster")
  }

  /** Canonical-document selection per duplicate cluster: given
    * duplicateClusters' (id, cluster) assignment and a per-document score
    * table, keep the best-scoring member of each cluster (ties broken by
    * smallest id) and mark the rest as drops — the retention-policy step
    * that turns a clustering into an actual dedup decision ("keep the
    * longest / highest-quality copy", the standard near-dup policy; the
    * min-id default of the cluster label alone keeps an ARBITRARY copy).
    *
    * Output: (id, cluster, keep_id, is_kept) for every clustered document.
    *
    * Scale shape: one join of the cluster assignment (near-dup-pair-sized,
    * far smaller than the corpus) against the score projection, then a
    * per-cluster max-struct aggregation joined back — the aggregation's
    * partial (map-side) combine reduces each cluster to one candidate per
    * task before the exchange, so a pathological mega-cluster costs one
    * hot reduce key, not a sorted window over its whole membership. */
  def clusterRepresentatives(
      clusters: DataFrame,
      scores: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    val scored = clusters.join(
      scores.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__score")),
      Seq("id"))
    // argmax via max(struct): score DESC then id ASC — negate the id inside
    // the struct ordering, recover it after
    val best = scored
      .groupBy("cluster")
      .agg(max(struct(col("__score"), (-col("id")).as("__nid"))).as("__best"))
      .select(col("cluster"), (-col("__best.__nid")).as("keep_id"))
    scored
      .join(best, Seq("cluster"))
      .select(col("id"), col("cluster"), col("keep_id"),
        (col("id") === col("keep_id")).as("is_kept"))
  }

  /** Soft deduplication — duplication-aware reweighting (the "SoftDedup"
    * recipe from the LLM-pretraining literature, ACL 2024; also the
    * repetition-discounting alternative FineWeb-class pipelines discuss):
    * instead of hard-dropping near-duplicates,
    * give every member of a duplicate cluster sampling weight 1/|cluster|
    * (singletons weigh 1) and keep each member by an independent
    * deterministic draw at that rate — in expectation ONE representative
    * per cluster survives, but which one varies, preserving intra-cluster
    * diversity hard dedup throws away. `clusters` is the (id, cluster)
    * assignment from duplicateClusters (near-dup sized, far smaller than
    * the corpus).
    *
    * Determinism contract (the x67/x59 accept-test family): the draw is
    * the first 8 md5 hex chars of "seed:id" as a 32-bit integer, kept iff
    * draw < 2³² div |cluster| — pure integer arithmetic, so the oracle
    * replays the kept set bit-identically (no floating-point rate ever
    * exists). Scale shape: one size aggregation over the cluster frame,
    * one key join back (near-dup sized), then a per-row projection — the
    * corpus scan is never shuffled. */
  def softDedupReport(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      seed: String = "sd"): DataFrame = {
    val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("csize"))
    val assign = clusters.join(sizes, Seq("cluster"))
      .select(col("id"), col("csize"))
    val draw = conv(substring(md5(
      concat(lit(seed + ":"), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long")
    docs
      .join(assign, docs(idCol) === assign("id"), "left")
      .drop("id")
      .withColumn("csize", coalesce(col("csize"), lit(1L)))
      .withColumn("weight", round(lit(1.0) / col("csize"), 4))
      .withColumn("keep", draw < expr("4294967296 div csize"))
  }

  /** Winnowing fingerprint pairs (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS local fingerprinting scheme): each document keeps the minimum
    * char-k-gram hash of every w-gram window (≈ 2/(w+1) of grams, with the
    * guarantee that any shared substring of ≥ w+k−1 chars yields a shared
    * fingerprint), and documents sharing ≥ minShared surviving fingerprints
    * pair up. The complement to minhash: minhash estimates WHOLE-document
    * similarity, winnowing finds LOCAL verbatim overlap of bounded length
    * regardless of how different the rest of the documents are.
    *
    * Scale shape: fingerprints come from one native-kernel projection and
    * travel as 8-byte longs; ubiquitous fingerprints (document frequency >
    * maxDocFrequency) are dropped BEFORE the pair join — MOSS's own noise
    * rule, and the skew guard that caps any fingerprint's join fan-out at
    * maxDocFrequency², keeping candidate volume linear in corpus size. */
  def winnowingPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      window: Int = 4,
      maxDocFrequency: Long = 8,
      minShared: Long = 2): DataFrame = {
    require(k >= 2 && window >= 1, "k must be ≥ 2 and window ≥ 1")
    require(maxDocFrequency >= 2, "maxDocFrequency < 2 can never produce a pair")
    graft.functions.GraftFunctions.register(df.sparkSession)
    // per-doc DISTINCT fingerprint sets straight from the kernel
    val fps = df.select(
      col(idCol).as("id"),
      explode(call_function("graft_winnow_hashes",
        col(textCol), lit(k), lit(window))).as("fp"))
    // sets are per-doc distinct, so count(*) = document frequency
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDocFrequency)
      .select("fp")
    // persisted: the pair self-join scans `kept` from BOTH legs, and
    // without the persist each leg re-ran the winnow kernel AND the
    // df semi-join (guide §2.4) — 16-byte rows, the cheap-cache side
    val kept = Scope.persist(fps.join(keep, Seq("fp"), "left_semi"))
    val a = kept.select(col("fp"), col("id").as("id_a"))
    val b = kept.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Prefix-filtered set-similarity self-join (the ppjoin family:
    * Chaudhuri et al. 2006 / Xiao et al. 2008) — EXACT-recall candidate
    * generation, the deterministic counterpart of the minhash banding in
    * ngramJaccardPairs: order every document's distinct-token set by a
    * global total order (document frequency ascending, token ascending —
    * rarest first, which minimizes postings fan-out), keep only the first
    * |T| − ceil(t·|T|) + 1 tokens as the PREFIX, and join on prefix
    * tokens. The prefix-filtering principle guarantees every pair with
    * Jaccard ≥ t shares a prefix token, so unlike banding there is no
    * recall parameter to tune — the only approximation anywhere is none.
    *
    * Scale shape: candidate volume is Σ prefix-postings² — governed by
    * the df-ordering (rare tokens carry the prefixes) plus the symmetric
    * length filter; the exact verify joins the sorted token arrays back
    * onto the collapsed candidate set only. One df aggregation, one
    * token-keyed self-join, one id-keyed verify join. Output: (id_a,
    * id_b, jaccard) for all pairs with shingle-set Jaccard ≥ threshold
    * (shingleSize = 1 degenerates to word sets). */
  def prefixJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    require(shingleSize >= 1, "shingleSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(df.sparkSession)

    // token domain = the HASHED shingle set (graft_shingle_hashes: sorted
    // distinct longs straight from the string -- the same native set space
    // x07 verifies in). The prefix-filtering principle only needs SOME
    // global total order over tokens, so (df asc, hash asc) over the
    // 8-byte hashes works as well as strings -- and the postings join,
    // window and verify then move longs, never shingle text (a first
    // formulation shuffled string shingle arrays: 16.6 s at sf0.1).
    val hashed = Scope.persist(df
      .select(col(idCol).as("id"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleSize)).as("bh"))
      .where(size(col("bh")) > 0))
    val toks = hashed.select(col("id"), size(col("bh")).as("sz"),
      explode(col("bh")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("__df"))

    // global order = (df asc, tok asc); prefix keeps |T| - ceil(t*|T|) + 1.
    // Persisted: the candidate self-join scans the prefix from BOTH legs,
    // and without the persist each leg re-ran the df aggregation and the
    // per-doc prefix window (guide §2.4) — 24-byte rows, ~(1−t)·|T|+1 per
    // doc, the cheap-cache side
    val w = Window.partitionBy("id").orderBy(col("__df"), col("tok"))
    val prefix = Scope.persist(toks.join(dfreq, Seq("tok"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("tok"), col("id"), col("sz")))

    val a = prefix.select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = prefix.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"))
    val candidates = a.join(b, Seq("tok"))
      .where(col("id_a") < col("id_b"))
      // symmetric length filter: |B| >= t*|A| is necessary for J >= t
      .where(col("sz_b") >= ceil(lit(threshold) * col("sz_a")) &&
        col("sz_a") >= ceil(lit(threshold) * col("sz_b")))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // exact verify on the collapsed candidate set: native linear-merge
    // intersect over the cached sorted hash sets (x07's verify kernel)
    val sets = hashed.select(col("id"), col("bh"), size(col("bh")).as("hsz"))
    candidates
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "bh" -> "bh_a", "hsz" -> "hsz_a")), Seq("id_a"))
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "bh" -> "bh_b", "hsz" -> "hsz_b")), Seq("id_b"))
      .withColumn("c", call_function("graft_intersect_count", col("bh_a"), col("bh_b")))
      .withColumn("jaccard",
        col("c").cast("double") /
          (col("hsz_a") + col("hsz_b") - col("c")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric containment join: ordered pairs (a, b), a ≠ b, with
    * C(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥ threshold over the hashed
    * shingle sets. Containment is the dedup measure Jaccard misses: a
    * short document quoted verbatim inside a long one has C(short→long)
    * = 1.0 but Jaccard ≈ |short|/|long| — far below any symmetric
    * threshold. This is the subset/quote/expansion detector of the
    * near-dup family (x01 exact, x07/x08 sketched, x86 symmetric-exact).
    *
    * Exact recall via the asymmetric prefix-filtering principle (the
    * probe-prefix side of ppjoin, Xiao et al. 2011 §3.3): under ANY
    * global token order, if C(a→b) ≥ t then b shares a token with a's
    * first |A| − ceil(t·|A|) + 1 tokens — so only the PROBE side is
    * prefix-pruned (df asc, hash asc: rarest first, minimal postings
    * fan-out) while the indexed side posts every token. The size filter
    * is one-directional too: |A∩B| ≤ |B| forces |B| ≥ ceil(t·|A|).
    *
    * Scale shape: candidate volume is Σ_tok prefixDf(tok)·df(tok) — the
    * df-ascending prefix order concentrates probes on rare tokens, and
    * the verify join touches only the collapsed candidate set. Same join
    * economics as prefixJaccardPairs: one df aggregation, one token-keyed
    * equi-join, one id-keyed verify join; 8-byte hashed shingles move,
    * never shingle text. Output containment as exact integer ppm
    * (⌊10⁶·c/|A|⌋) so the result hash-replays in any engine. */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    require(shingleSize >= 1, "shingleSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(df.sparkSession)

    val hashed = Scope.persist(df
      .select(col(idCol).as("id"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleSize)).as("bh"))
      .where(size(col("bh")) > 0))
    val toks = hashed.select(col("id"), size(col("bh")).as("sz"),
      explode(col("bh")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("__df"))

    // probe prefix: keep |A| − ceil(t·|A|) + 1 rarest tokens per probe doc
    val w = Window.partitionBy("id").orderBy(col("__df"), col("tok"))
    val probe = toks.join(dfreq, Seq("tok"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"))

    // index side: ALL tokens (the asymmetric analog of ppjoin's indexing
    // prefix — pruning here would need a per-probe length, i.e. no prune)
    val index = toks.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"))
    val candidates = probe.join(index, Seq("tok"))
      .where(col("id_a") =!= col("id_b"))
      // |A∩B| ≤ |B|, so C ≥ t needs |B| ≥ ceil(t·|A|)
      .where(col("sz_b") >= ceil(lit(threshold) * col("sz_a")))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val sets = hashed.select(col("id"), col("bh"), size(col("bh")).as("hsz"))
    candidates
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "bh" -> "bh_a", "hsz" -> "hsz_a")), Seq("id_a"))
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "bh" -> "bh_b", "hsz" -> "hsz_b")), Seq("id_b"))
      .withColumn("c", call_function("graft_intersect_count", col("bh_a"), col("bh_b")).cast("long"))
      .where(col("c").cast("double") / col("hsz_a").cast("double") >= threshold)
      .select(col("id_a"), col("id_b"),
        expr("CAST((c * 1000000) DIV hsz_a AS BIGINT)").as("containment_ppm"))
  }
}
