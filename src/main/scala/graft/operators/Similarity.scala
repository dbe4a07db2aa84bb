package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths (driver contract "scale extras"):
  *   - bruteForceTopK: exact cosine top-k — the correctness baseline.
  *     Broadcast the (small) query set, scan the corpus once, rank with a
  *     per-query window. Cost O(|corpus|·|queries|·dim) but embarrassingly
  *     parallel and shuffle-light (only top-k survivors move).
  *   - lshTopK: random-hyperplane LSH — the 100 TB path. Sign-bit sketches
  *     bucket the corpus; only same-bucket (or near-bucket) pairs are
  *     scored. Planes are generated driver-side from a fixed seed and
  *     inlined as literals, so the whole thing stays deterministic and
  *     codegen'd (no MLlib VectorUDT boxing on the hot path).
  */
object Similarity {

  private def shl(x: Column, n: Column): Column = call_function("shiftleft", x, n)
  private def shr(x: Column, n: Column): Column = call_function("shiftright", x, n)

  /** Cosine similarity of two float-array columns, computed in double by the
    * native `graft_cosine` kernel (GraftHashUtil.cosine — one fused loop,
    * codegen'd; the earlier zip_with/aggregate formulation was interpreted
    * and cost ~3k evals/s/core). Summation order matches the interpreted
    * form, so results are bit-identical. Requires GraftFunctions.register. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Native dot product / L2 norm — use these (norms hoisted to per-row
    * columns) on any path that scores many pairs per row. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def norm(a: Column): Column = call_function("graft_norm", a)

  /** Exact top-k neighbors for each query row.
    *
    * queries: (qid, qvec) — must be small enough to broadcast (the usual
    * ANN-serving shape). corpus: (id, vec). Self-matches excluded when ids
    * collide. Returns (qid, id, sim, rank), rank 1..k by descending sim. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int = 10): DataFrame = {

    // Norms are hoisted: ‖corpus row‖ once per row (not once per pair) and
    // ‖query‖ once per query on the broadcast side. Per pair only the dot
    // survives. dot/(nq·nc) keeps the exact arithmetic of cosine(q, c).
    val scored = corpus
      .withColumn("__nc", norm(col(vecCol)))
      .join(broadcast(queries.withColumn("__nq", norm(col(qvecCol)))),
        col(qidCol) =!= col(idCol))
      .withColumn("sim", dot(col(qvecCol), col(vecCol)) / (col("__nq") * col("__nc")))
    val w = Window.partitionBy(qidCol).orderBy(desc("sim"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("sim"), col("rank"))
  }

  /** Hard-negative mining — the contrastive-training counterpart of
    * bruteForceTopK: for each query vector, the top-k most SIMILAR corpus
    * vectors carrying a DIFFERENT label (the confusable examples a
    * contrastive or reranker objective needs). The label predicate rides
    * the same broadcast join as the id guard, so the plan is identical to
    * brute-force top-k; at corpus scale route candidate generation through
    * the IVF cells (embeddingNearDupIvf's path) and apply the label filter
    * in the re-rank. */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      qidCol: String, qvecCol: String, qlabelCol: String,
      k: Int = 10,
      maxQueries: Int = 4096): DataFrame = {
    // this path is a broadcast nested loop — O(|corpus|·|queries|·dim)
    // flops and a |queries|-sized broadcast. Fine for the serving-shaped
    // query sets it exists for; a corpus-sized query side would quietly
    // become an all-pairs cross product, so refuse it LOUDLY and point at
    // the cell-blocked variant instead of letting the plan explode.
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"hardNegatives is a broadcast nested-loop: query set exceeds " +
        s"maxQueries=$maxQueries — route large query sets through " +
        "hardNegativesAnn (IVF cell blocking) or raise maxQueries deliberately")
    val scored = corpus
      .withColumn("__nc", norm(col(vecCol)))
      .join(broadcast(queries.withColumn("__nq", norm(col(qvecCol)))),
        col(qidCol) =!= col(idCol) && col(qlabelCol) =!= col(labelCol))
      .withColumn("sim", dot(col(qvecCol), col(vecCol)) / (col("__nq") * col("__nc")))
    val w = Window.partitionBy(qidCol).orderBy(desc("sim"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col(qlabelCol), col(idCol), col(labelCol),
        col("sim"), col("rank"))
  }

  /** Hard-negative mining at SCALE: the query side co-locates with the
    * corpus through the IVF coarse quantizer (each query scores only its
    * nProbe nearest cells) instead of broadcasting into a nested loop —
    * the shape hardNegatives' guard points large query sets at. Both sides
    * shuffle once, keyed by cell; per-cell work is cell_size × queries-in-
    * cell, so total cost tracks n·q·(nProbe/nCentroids) and nCentroids
    * grows with the corpus exactly like ivfTopK's. The label predicate
    * rides the cell join; sims are exact cosines (recall is the only
    * approximation — HardNegativesSpec pins the floor vs the exact path).
    * Output contract matches hardNegatives. */
  def hardNegativesAnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      qidCol: String, qvecCol: String, qlabelCol: String,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      fitSampleRows: Int = 0,
      spherical: Boolean = false): DataFrame = {
    val (assigned, centroidMatrix) =
      fitAndAssign(corpus, idCol, vecCol, nCentroids, seed, fitSampleRows, spherical)
    val spark = corpus.sparkSession
    import spark.implicits._

    val centroidDf = centroidMatrix.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toSeq) }.toDF("cell", "centroid")
    val l2 = (a: Column, b: Column) => call_function("graft_l2sq", a, b)
    val wProbe = Window.partitionBy(qidCol).orderBy(col("dist"), col("cell"))
    // nProbe cells per query — the probe table is queries × nCentroids
    // rows BEFORE the window trims it, never corpus-sized
    val probes = queries.crossJoin(broadcast(centroidDf))
      .withColumn("dist", l2(col(qvecCol), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(col(qidCol), col(qvecCol), col(qlabelCol), col("cell"))

    // cell-keyed JOIN (not broadcast): both sides exchange once on `cell`,
    // which is what lets the query side be arbitrarily large
    val w = Window.partitionBy(qidCol).orderBy(desc("sim"), col(idCol))
    assigned.join(probes, Seq("cell"))
      .where(col(qidCol) =!= col(idCol) && col(qlabelCol) =!= col(labelCol))
      .withColumn("sim", cosine(col(qvecCol), col(vecCol)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col(qlabelCol), col(idCol), col(labelCol),
        col("sim"), col("rank"))
  }

  /** Sign-bit sketch of a vector, packed to a long — native kernel
    * (GraftHyperplaneSketch); planes derive deterministically from the seed
    * inside the kernel, memoized per (nBits, dim, seed). */
  def hyperplaneSketch(vec: Column, nBits: Int, dim: Int, seed: Long): Column =
    call_function("graft_hyperplane_sketch", vec, lit(nBits), lit(dim), lit(seed))

  /** nTables independent sketches in one kernel pass (table t seeded
    * seed+t) — the OR-amplification family for multi-table LSH. */
  def hyperplaneSketches(vec: Column, nBits: Int, dim: Int, seed: Long, nTables: Int): Column =
    call_function("graft_hyperplane_sketches",
      vec, lit(nBits), lit(dim), lit(seed), lit(nTables))

  /** Explode a sketch-array column into multi-probe join keys:
    * (tbl, seg, seg_val) rows — one per table per pigeonhole segment. Two
    * sketches within hamming distance `probeHamming` in a table MUST agree
    * on ≥1 of its probeHamming+1 segments, so an equi-join on the key plus
    * a hamming filter implements multi-probe without neighbor enumeration. */
  private def explodeProbeKeys(
      df: DataFrame, keep: Seq[String], sketchesCol: String, skAlias: String,
      nBits: Int, probeHamming: Int): DataFrame = {
    val segments = probeHamming + 1
    val segBits = math.max(nBits / segments, 1)
    df.select(keep.map(col) :+ posexplode(col(sketchesCol)): _*)
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> skAlias))
      .select((keep.map(col) :+ col("tbl") :+ col(skAlias)) :+
        posexplode(transform(sequence(lit(0), lit(segments - 1)),
          s => shr(col(skAlias), s * segBits)
            .bitwiseAND(lit((1L << segBits) - 1)))): _*)
      .withColumnsRenamed(Map("pos" -> "seg", "col" -> "seg_val"))
  }

  /** Approximate top-k via multi-table hyperplane LSH with multi-probe.
    *
    * AND-OR construction (MMDS ch.3): each of nTables independent tables
    * holds an nBits sign sketch; a corpus point is a candidate for a query
    * when ANY table puts them within `probeHamming` bits. Per-table recall
    * for a pair at angle θ is P[Binom(nBits, θ/π) ≤ probeHamming]; OR over
    * tables amplifies: recall = 1-(1-p_table)^nTables, while background
    * candidate volume stays governed by nBits (raise it on tightly-clustered
    * corpora to cut the scanned fraction, raise nTables to buy recall).
    * Candidates are scored with the exact cosine and ranked per query, so
    * reported sims are exact — only recall is approximate. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int = 10,
      nBits: Int = 16,
      probeHamming: Int = 2,
      dim: Int = 64,
      seed: Long = 42L,
      nTables: Int = 8): DataFrame = {

    // candidate generation moves ONLY (id, sketch) longs — the vectors are
    // joined back for the exact-cosine verify after the candidate set has
    // collapsed (at sf0.1 the exploded probe join was shuffling the 64-float
    // vectors through every candidate row: 14x the bytes for nothing)
    val cs = corpus.select(col(idCol),
      hyperplaneSketches(col(vecCol), nBits, dim, seed, nTables).as("sks"))
    val qs = queries.select(col(qidCol),
      hyperplaneSketches(col(qvecCol), nBits, dim, seed, nTables).as("sks"))

    val cSeg = explodeProbeKeys(cs, Seq(idCol), "sks", "sk_c", nBits, probeHamming)
    val qSeg = explodeProbeKeys(qs, Seq(qidCol), "sks", "sk_q", nBits, probeHamming)

    val candidates = cSeg.join(broadcast(qSeg), Seq("tbl", "seg", "seg_val"))
      .where(col(qidCol) =!= col(idCol))
      .where(bit_count(col("sk_c").bitwiseXOR(col("sk_q"))) <= probeHamming)
      .select(col(qidCol), col(idCol))
      .dropDuplicates(qidCol, idCol)

    val w = Window.partitionBy(qidCol).orderBy(desc("sim"), col(idCol))
    candidates
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("sim", cosine(col(qvecCol), col(vecCol)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("sim"), col("rank"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into nCentroids cells; each query probes its
    * nProbe nearest cells and scores only those vectors.
    *
    * The scale shape follows the standard IVF recipe: the quantizer trains
    * on a BOUNDED deterministic sample collected to the driver (a few
    * hundred points per centroid suffice — cells only need to partition the
    * space roughly evenly), assignment is one codegen'd pass over the full
    * corpus with the centroid matrix as a plan constant, per-query probing
    * is a broadcast join against the tiny centroid table, and candidate
    * scoring touches ~nProbe/nCentroids of the corpus. At 100 TB a
    * full-corpus multi-pass distributed fit — plus the full-corpus cache it
    * would need — is a non-starter; even at bench scale the MLlib fit was
    * ~6 scheduling-bound jobs (~3.5 s for 2,000 rows) where local Lloyd on
    * the sample is microseconds. Deterministic via the seed (seeded init
    * over the id-ordered sample). fitSampleRows <= 0 → auto. */
  /** Shared IVF front half: fit the coarse quantizer on a bounded
    * deterministic sample, assign every corpus row its nearest cell in one
    * codegen'd pass. Returns (corpus + `cell`, centroid matrix). */
  /** Bounded deterministic fit sample, collected to the driver. The id-hash
    * filter is independent of any clustering seed, so multi-pass callers
    * collect it ONCE and fit every rotated quantizer from the same rows. */
  private def collectFitSample(
      corpus: DataFrame,
      idCol: String, vecCol: String,
      nCentroids: Int,
      fitSampleRows: Int): Array[Array[Double]] = {
    val targetRows = if (fitSampleRows > 0) fitSampleRows.toLong
      else math.max(256L * nCentroids, 8192L)
    val total = corpus.count()
    val sampled =
      if (total <= targetRows) corpus
      else {
        // id-hash filter: deterministic under any partitioning (df.sample is
        // partition-layout-sensitive), one narrow predicate on the scan
        val perMillion = math.max(1L, math.round(targetRows.toDouble / total * 1000000L))
        corpus.where(pmod(xxhash64(col(idCol)), lit(1000000L)) < lit(perMillion))
      }
    // getSeq[Number], not getSeq[Float]: an array<double> corpus should die
    // with the clear array<float> analysis error from graft_nearest_centroid
    // below, not a ClassCastException here in the fit
    sampled
      .select(col(idCol), col(vecCol)).orderBy(col(idCol)) // stable order → stable init
      .collect()
      .map(_.getSeq[Number](1).toArray.map(_.doubleValue))
  }

  private def fitAndAssign(
      corpus: DataFrame,
      idCol: String, vecCol: String,
      nCentroids: Int,
      seed: Long,
      fitSampleRows: Int,
      spherical: Boolean = false): (DataFrame, Array[Array[Double]]) = {
    val sampleVecs = collectFitSample(corpus, idCol, vecCol, nCentroids, fitSampleRows)
    val centroidMatrix = lloyd(sampleVecs, nCentroids, maxIter = 5, seed, spherical)

    // cell assignment: ONE codegen'd pass over the full corpus (native
    // argmin-L2 kernel), no VectorUDT boxing, no cache
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val centroidLit = typedlit(centroidMatrix.map(_.toSeq).toSeq)
    val assigned = corpus.withColumn("cell",
      call_function("graft_nearest_centroid", col(vecCol), centroidLit))
    (assigned, centroidMatrix)
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      fitSampleRows: Int = 0,
      spherical: Boolean = false): DataFrame = {

    val (assigned, centroidMatrix) =
      fitAndAssign(corpus, idCol, vecCol, nCentroids, seed, fitSampleRows, spherical)
    probeAndScore(assigned, centroidMatrix, queries,
      idCol, vecCol, qidCol, qvecCol, k, nProbe)
  }

  /** Shared IVF back half: rank the (broadcast) centroid table per query,
    * score the nProbe probed cells, window to top-k. */
  private def probeAndScore(
      assigned: DataFrame, centroidMatrix: Array[Array[Double]],
      queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._

    // tiny centroid table → broadcast; probe = nProbe closest cells per query
    val centroidDf = centroidMatrix.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toSeq) }.toDF("cell", "centroid")
    val l2 = (a: Column, b: Column) => call_function("graft_l2sq", a, b)
    val wProbe = Window.partitionBy(qidCol).orderBy(col("dist"), col("cell"))
    val probes = queries.crossJoin(broadcast(centroidDf))
      .withColumn("dist", l2(col(qvecCol), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(col(qidCol), col(qvecCol), col("cell"))

    val w = Window.partitionBy(qidCol).orderBy(desc("sim"), col(idCol))
    assigned.join(broadcast(probes), Seq("cell"))
      .where(col(qidCol) =!= col(idCol))
      .withColumn("sim", cosine(col(qvecCol), col(vecCol)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("sim"), col("rank"))
  }

  /** Deterministic PIVOT quantizer: the cells are anchored at the `nCells`
    * corpus vectors with the smallest md5("seed:id") — k-medoid-style data
    * pivots instead of fitted centroids (cell c = the c-th pivot in
    * (md5, id) order). Trades Lloyd's evener cells for two properties the
    * fitted quantizer cannot offer: zero fit cost at any corpus size (the
    * pivot pick is a top-nCells by hash — one TakeOrdered over (hash, id,
    * vec), no sample collect, no iterations) and EXACT cross-engine
    * replayability — no RNG anywhere, so an independent engine can rebuild
    * the identical cells, probes and candidate sets from the parquet alone
    * (the x16/x42 DuckDB oracles do exactly that). Assignment and probing
    * reuse the Lloyd path's argmin-L2 kernel and back half. */
  private[operators] def pivotMatrix(
      corpus: DataFrame,
      idCol: String, vecCol: String,
      nCells: Int,
      seed: String): Array[Array[Double]] = {
    require(nCells >= 1, "pivot quantizer needs at least one cell")
    val pivots = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("__pk",
        md5(concat_ws(":", lit(seed), col(idCol).cast("string")).cast("binary")))
      .orderBy(col("__pk"), col(idCol))
      .limit(nCells)
      .collect()
      .map(_.getSeq[Number](1).toArray.map(_.doubleValue))
    require(pivots.nonEmpty, "pivot quantizer: empty corpus")
    pivots
  }

  /** IVF top-k over deterministic pivot cells — ivfTopK with the
    * SQL-replayable quantizer (see pivotMatrix). Same output contract. */
  def ivfTopKPivots(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      seed: String = "v1"): DataFrame = {
    val pivots = pivotMatrix(corpus, idCol, vecCol, nCells, seed)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val assigned = corpus.withColumn("cell",
      call_function("graft_nearest_centroid", col(vecCol),
        typedlit(pivots.map(_.toSeq).toSeq)))
    probeAndScore(assigned, pivots, queries,
      idCol, vecCol, qidCol, qvecCol, k, nProbe)
  }

  /** cellBlockedPairs over deterministic pivot cells: pass p draws its
    * pivots from md5("seed:p:id"), so every rotated blocking — and
    * therefore the exact pair set the recipe finds — replays in SQL.
    * Same candidate economics as the Lloyd variant (Σ cell² per pass, one
    * shared (pass, cell)-keyed self-join). */
  def pivotBlockedPairs(
      df: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double,
      nCells: Int = 16,
      seed: String = "v1",
      passes: Int = 2): DataFrame = {
    require(passes >= 1, "pivotBlockedPairs needs at least one pass")
    val pivotSets = (0 until passes)
      .map(p => pivotMatrix(df, idCol, vecCol, nCells, s"$seed:$p"))
    graft.functions.GraftFunctions.register(df.sparkSession)
    val passCells = array(pivotSets.zipWithIndex.map { case (m, p) =>
      struct(
        lit(p).as("pass"),
        call_function("graft_nearest_centroid",
          col(vecCol), typedlit(m.map(_.toSeq).toSeq)).as("cell"))
    }: _*)
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(passCells).as("pc"))
      .select(col("id"), col("vec"),
        col("pc").getField("pass").as("pass"),
        col("pc").getField("cell").as("cell"))
    val a = assigned.select(col("pass"), col("cell"),
      col("id").as("id_a"), col("vec").as("va"))
    val b = assigned.select(col("pass"), col("cell"),
      col("id").as("id_b"), col("vec").as("vb"))
    a.join(b, Seq("pass", "cell"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
      .dropDuplicates("id_a", "id_b")
  }

  /** semanticDupClusters with the pivot quantizer — the SemDeDup recipe
    * whose every stage (cells, within-cell exact cosine, rotated-pass
    * union, component collapse) an independent engine can replay exactly. */
  def semanticDupClustersPivots(
      df: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = 0.9,
      nCells: Int = 16,
      seed: String = "v1",
      passes: Int = 2): DataFrame =
    Dedup.duplicateClusters(
      pivotBlockedPairs(df, idCol, vecCol, threshold, nCells, seed, passes)
        .select("id_a", "id_b"))

  /** Plain Lloyd's k-means over an in-memory sample — the quantizer trainer
    * behind ivfTopK. Deterministic: seeded index shuffle for init, stable
    * input order, empty cells keep their previous centroid. */
  private[operators] def lloyd(
      points: Array[Array[Double]],
      k: Int,
      maxIter: Int,
      seed: Long,
      spherical: Boolean = false): Array[Array[Double]] = {
    require(points.nonEmpty, "ivf quantizer: empty training sample")
    val dim = points(0).length
    val kEff = math.min(k, points.length)
    // spherical k-means (cosine-metric quantizer): train on unit-normalized
    // points and re-normalize centroids after every update, so every
    // centroid stays on the unit sphere. Downstream this keeps the plain
    // argmin-L2 assignment kernel correct for cosine: for unit centroids
    // |v−c|² = |v|² + 1 − 2·v·c, so argmin over cells = argmax cos(v, cell)
    // for RAW (unnormalized) corpus vectors — no extra kernel needed.
    @inline def unit(p: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < p.length) { s += p(i) * p(i); i += 1 }
      if (s == 0.0) p
      else {
        val inv = 1.0 / math.sqrt(s)
        val out = new Array[Double](p.length)
        i = 0
        while (i < p.length) { out(i) = p(i) * inv; i += 1 }
        out
      }
    }
    val pts = if (spherical) points.map(unit) else points
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(pts.indices.toList).take(kEff)
    val centroids = init.map(i => pts(i).clone()).toArray

    @inline def nearest(p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < kEff) {
        var d = 0.0; var i = 0
        val cent = centroids(c)
        while (i < dim) { val x = p(i) - cent(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      pts.foreach { p =>
        val c = nearest(p)
        counts(c) += 1
        val s = sums(c)
        var i = 0
        while (i < dim) { s(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          val s = sums(c)
          var i = 0
          while (i < dim) { centroids(c)(i) = s(i) / counts(c); i += 1 }
          if (spherical) {
            val u = unit(centroids(c))
            var j = 0
            while (j < dim) { centroids(c)(j) = u(j); j += 1 }
          }
        }
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** Embedding-cosine near-duplicate pairs: multi-table multi-probe LSH
    * candidates (same AND-OR construction as lshTopK, self-join form),
    * verified with the exact cosine — precision is exact, recall tunes
    * with nBits/probeHamming/nTables.
    *
    * Scale economics: the bucket self-join costs Σ bucket², so nBits must
    * grow ~log₂(n) to hold bucket sizes flat as the corpus grows — and the
    * tables/probes needed to keep recall rise steeply as the threshold
    * FALLS (at cos θ the per-bit agreement is 1-θ/π: 0.97 at sim 0.98 but
    * only 0.60 at sim 0.3, so low thresholds force tiny sketches or many
    * tables — measured here: holding recall ≥0.9 at sim 0.3 needs
    * 8-bit/6-table sketches that saturate at ~10⁴ vectors). True NEAR-DUP
    * work (sim ≥ 0.9, this operator's purpose) keeps per-bit agreement
    * ≥0.94, where nBits can track log n and the join stays linear-ish at
    * 100 TB; for mid-similarity PAIR MINING use ivfTopK-style cell blocking
    * instead. */
  def cosineNearDuplicates(
      df: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = 0.95,
      nBits: Int = 16,
      dim: Int = 64,
      seed: Long = 42L,
      probeHamming: Int = 2,
      nTables: Int = 8): DataFrame = {

    // sketch-only candidate join (see lshTopK): the self-join explodes to
    // ~n²·tables·segments/2^segBits rows, so only (id, sk) longs may travel
    // through it; vectors join back for the exact verify on the collapsed
    // candidate set
    val sk = df.select(col(idCol).as("id"),
      hyperplaneSketches(col(vecCol), nBits, dim, seed, nTables).as("sks"))
    val seg = explodeProbeKeys(sk, Seq("id"), "sks", "sk", nBits, probeHamming)
    val a = seg.select(col("tbl"), col("seg"), col("seg_val"),
      col("id").as("id_a"), col("sk").as("sk_a"))
    val b = seg.select(col("tbl"), col("seg"), col("seg_val"),
      col("id").as("id_b"), col("sk").as("sk_b"))
    val candidates = a.join(b, Seq("tbl", "seg", "seg_val"))
      .where(col("id_a") < col("id_b"))
      .where(bit_count(col("sk_a").bitwiseXOR(col("sk_b"))) <= probeHamming)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Semantic deduplication (the SemDeDup recipe, public: Abbas et al.
    * 2023): cluster the corpus with the IVF coarse quantizer, score exact
    * cosine only WITHIN each cell, collapse the resulting near-dup pair
    * graph to connected components. Returns (id, cluster) for every vector
    * in some duplicate group — join back and keep `id == cluster` (the min
    * id) to deduplicate.
    *
    * Scale shape: cell blocking turns the all-pairs O(n²) into
    * Σ cell² — with n/nCentroids-sized cells that is n²/nCentroids, and
    * nCentroids grows with the corpus (the fit cost is sample-bounded, so
    * raising it is cheap). One exchange per join side keyed by cell; the
    * component collapse reuses duplicateClusters' adaptive machinery.
    * Known recall caveat, inherent to SemDeDup: pairs straddling a cell
    * boundary are not compared within one clustering — so `passes` runs
    * the cell blocking more than once with ROTATED SEEDS (different Lloyd
    * init → different Voronoi boundaries) and unions the pair sets before
    * the component collapse: a pair only escapes if it straddles a boundary
    * in EVERY pass. Each extra pass costs one more fit+assign+self-join;
    * the collapse still runs once. SemanticDedupSpec pins the recall floor
    * at the shipped parameters. */
  def semanticDupClusters(
      df: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = 0.9,
      nCentroids: Int = 16,
      seed: Long = 42L,
      fitSampleRows: Int = 0,
      passes: Int = 2): DataFrame =
    Dedup.duplicateClusters(
      cellBlockedPairs(df, idCol, vecCol, threshold, nCentroids, seed,
        fitSampleRows, passes)
        .select("id_a", "id_b"))

  /** Mid-similarity PAIR MINING via IVF cell blocking — the scale path the
    * cosineNearDuplicates doc points to when the threshold falls below the
    * near-dup regime (hyperplane LSH at sim ~0.3 needs sketches so small
    * they saturate at ~10⁴ vectors; cell blocking's cost is Σ cell² ≈
    * n²/nCentroids regardless of threshold). Returns every (id_a, id_b,
    * sim) with sim ≥ threshold whose endpoints share a Voronoi cell in at
    * least one of `passes` rotated-seed clusterings; sims are EXACT
    * cosines, so precision is exact and recall is the only approximation
    * (RecallSpec pins the floor at the shipped x15 parameters). */
  def cellBlockedPairs(
      df: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double,
      nCentroids: Int = 16,
      seed: Long = 42L,
      fitSampleRows: Int = 0,
      passes: Int = 2): DataFrame = {
    require(passes >= 1, "cellBlockedPairs needs at least one pass")

    // the fit sample is seed-INDEPENDENT (id-hash filter), so all rotated
    // quantizers train from one driver collect; only the Lloyd init rotates
    // (distinct prime-stride seeds). The per-pass cell assignments then ride
    // ONE corpus scan as an exploded (pass, cell) key, and all passes share
    // a single self-join exchange — candidate volume is identical to
    // per-pass joins, but fit jobs, scans and shuffles collapse from
    // O(passes) to O(1).
    val sampleVecs = collectFitSample(df, idCol, vecCol, nCentroids, fitSampleRows)
    val centroidSets = (0 until passes)
      .map(p => lloyd(sampleVecs, nCentroids, maxIter = 5, seed + p * 7919L))
    graft.functions.GraftFunctions.register(df.sparkSession)
    val passCells = array(centroidSets.zipWithIndex.map { case (m, p) =>
      struct(
        lit(p).as("pass"),
        call_function("graft_nearest_centroid",
          col(vecCol), typedlit(m.map(_.toSeq).toSeq)).as("cell"))
    }: _*)
    // vectors ride the (pass, cell)-keyed join and the exact cosine runs
    // INSIDE it (Catalyst folds the sim filter into the join condition, so
    // non-pairs die in the WSCG probe loop without materializing): the only
    // exchanges are the join sides — n·passes rows, LINEAR in the corpus,
    // the canonical SemDeDup shape of "co-locate by cell, score within the
    // cell". Deduping candidate ids BEFORE scoring would instead exchange
    // the quadratic candidate-pair set (measured 2x slower here and
    // strictly worse at scale); the cross-pass dedup below only sees the
    // ~output-sized survivor set. Duplicate survivors carry bit-identical
    // sims (same kernel, same vectors), so dropDuplicates on ids is safe.
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(passCells).as("pc"))
      .select(col("id"), col("vec"),
        col("pc").getField("pass").as("pass"),
        col("pc").getField("cell").as("cell"))

    val a = assigned.select(col("pass"), col("cell"),
      col("id").as("id_a"), col("vec").as("va"))
    val b = assigned.select(col("pass"), col("cell"),
      col("id").as("id_b"), col("vec").as("vb"))
    a.join(b, Seq("pass", "cell"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
      .dropDuplicates("id_a", "id_b")
  }

  /** Symmetric int8 quantization of an embedding column, flattened to one
    * row per (id, dimension): scale = max|x|/127 per vector, q = round(x /
    * scale) via floor(v + 0.5) — every step an exactly-specified IEEE op
    * (float→double widening, one division, one add, floor), so any engine
    * replays the codes bit-for-bit; no library rounding-mode ambiguity.
    * Per-dim reconstruction error is bounded by scale/2 (QuantizeSpec pins
    * it). The 4x size cut is the standard serving/storage step before
    * ANN-index build; zero vectors quantize to all-zero codes.
    *
    * Shape: posexplode + a max() window keyed by the vector id — the
    * explode rides the scan and the window reuses one keyed exchange; no
    * interpreted higher-order functions in the path. Output: (id, i, q,
    * scale) with `scale` rounded to 6 decimals for stable comparison. */
  /** Embedding-space label cohesion — the quick-look quality report for a
    * labeled embedding table: average pairwise cosine within labels vs
    * across labels, on a deterministic bounded sample (top-`sampleK` rows
    * by md5(seed:id) — the corpus-size-independent variant of the mixture
    * samplers' hash trick, so the all-pairs stage is O(sampleK²) at ANY
    * corpus size and the sample side always broadcasts). A healthy
    * embedding has avg_cos(same) ≫ avg_cos(diff); inversions flag label
    * noise or a collapsed space. */
  def labelCohesion(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      sampleK: Int = 256,
      seed: String = "v1"): DataFrame = {
    require(sampleK >= 2, "sampleK must be ≥ 2")
    val sample = emb
      .select(col(idCol).as("__id"), col(labelCol).as("__label"), col(vecCol).as("__vec"))
      .withColumn("__key", md5(concat_ws(":", lit(seed), col("__id").cast("string"))))
      .orderBy(col("__key"), col("__id"))
      .limit(sampleK)
      .drop("__key")
    val a = sample.select(col("__id").as("__ida"), col("__label").as("__la"), col("__vec").as("__va"))
    val b = sample.select(col("__id").as("__idb"), col("__label").as("__lb"), col("__vec").as("__vb"))
    a.join(broadcast(b), col("__ida") < col("__idb"))
      .select((col("__la") === col("__lb")).as("same_label"),
        cosine(col("__va"), col("__vb")).as("__cos"))
      .groupBy("same_label")
      .agg(count(lit(1)).as("n_pairs"), round(avg(col("__cos")), 4).as("avg_cos"))
  }

  /** kNN label-noise audit (the local dual to the centroid reports): each
    * vector's k nearest neighbors — blocked by the deterministic pivot
    * cells of the IVF quantizer (pivotMatrix, SQL-replayable) — vote on
    * its label; rows whose neighbor majority disagrees are flagged as
    * suspected label noise. Votes are exact integers; cosines only RANK
    * (the x13/x16 determinism regime: both engines evaluate the identical
    * left-to-right IEEE dot products, so ranks agree bit-for-bit).
    *
    * Scale shape: one cell-keyed self-join (candidate volume Σ cell², the
    * documented IVF blocking economics), a per-vector group-limit for the
    * top-k, and two keyed aggregations for the vote. nCells ≤ 0 (the
    * default) auto-scales as max(16, n/250) — occupancy-constant, so the
    * candidate volume stays ~linear in corpus size (the x15 dial, here
    * SQL-replayable because the count is itself a scalar subquery both
    * engines compute identically). Vectors alone in their cell emit
    * vote_label NULL, never silently drop. */
  def knnLabelAudit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 5,
      nCells: Int = 0,
      seed: String = "v1"): DataFrame = {
    require(k >= 1, "knnLabelAudit needs k ≥ 1")
    val cells =
      if (nCells > 0) nCells
      else math.max(16L, emb.count() / 250L).toInt
    val pivots = pivotMatrix(emb, idCol, vecCol, cells, seed)
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val assigned = emb
      .select(col(idCol).as("id"), col(labelCol).as("label"), col(vecCol).as("vec"))
      .withColumn("cell",
        call_function("graft_nearest_centroid", col("vec"),
          typedlit(pivots.map(_.toSeq).toSeq)))
    val a = assigned.select(col("cell"), col("id"), col("label"), col("vec").as("va"))
    val b = assigned.select(col("cell"), col("id").as("nid"),
      col("label").as("nlabel"), col("vec").as("vb"))
    val wTop = Window.partitionBy("id").orderBy(desc("sim"), col("nid"))
    val neighbors = a.join(b, Seq("cell"))
      .where(col("id") =!= col("nid"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= k)
    val votes = neighbors.groupBy("id", "nlabel")
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy("id")
      .orderBy(desc("votes"), col("nlabel"))
    val top = votes
      .withColumn("vr", row_number().over(wVote))
      .withColumn("n_neighbors",
        sum("votes").over(Window.partitionBy("id")))
      .where(col("vr") === 1)
      .select(col("id"), col("nlabel").as("vote_label"),
        col("votes").as("vote_cnt"), col("n_neighbors"))
    assigned.select("id", "label")
      .join(top, Seq("id"), "left")
      .withColumn("flagged",
        col("vote_label").isNotNull && col("vote_label") =!= col("label"))
  }

  /** Per-label centroid cosines — the outlier-detection report dual to
    * labelCohesion: each vector's cosine to its OWN label's mean vector.
    * Low scores flag mislabeled or off-distribution rows. Determinism
    * contract: the centroid is the per-dimension mean ROUNDED to 6
    * decimals (the only aggregation-order-sensitive step — rounding
    * absorbs the last-ulp spread), and the dot products run left-to-right
    * over the dimension order on both engines, so the rounded output
    * replays exactly. Shape: one posexplode + a (label, dim) aggregation
    * whose result is labels × dims rows — a plan constant that broadcasts
    * back onto the corpus scan. */
  /** Per-label mean vectors as (__l, __ce) rows, each centroid dimension
    * ROUNDED to 6 decimals — the determinism anchor shared by
    * labelCentroidCosines and labelCentroidMatrix (rounding absorbs the
    * aggregation-order last-ulp spread of the float mean). */
  private def labelCentroids(emb: DataFrame, vecCol: String, labelCol: String): DataFrame =
    emb.select(col(labelCol).as("__l"), posexplode(col(vecCol)))
      .groupBy(col("__l"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("__c"))
      .groupBy("__l")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("__c")))),
        s => s.getField("__c")).as("__ce"))

  /** Left-to-right double dot product — the evaluation order both engines
    * replay. */
  private def dotd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def labelCentroidCosines(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      roundTo: Int = 4): DataFrame = {
    val cent = labelCentroids(emb, vecCol, labelCol)
    val v = col(vecCol).cast("array<double>")
    emb
      .join(broadcast(cent), emb(labelCol) === cent("__l"))
      .select(col(idCol), col(labelCol),
        round(dotd(v, col("__ce")) /
          (sqrt(dotd(v, v)) * sqrt(dotd(col("__ce"), col("__ce")))), roundTo)
          .as("cos_centroid"))
  }

  /** Pairwise cosine between label centroids — the class-separability
    * report dual to labelCentroidCosines' per-row outliers: high
    * inter-centroid cosine flags label pairs whose embedding clusters
    * overlap (merge candidates / labeling noise). Output one row per
    * unordered label pair (label_a < label_b).
    *
    * Scale shape: centroids are labels × dims rows (a plan constant
    * regardless of corpus size), so the pair grid is a broadcast self-join
    * of a tiny aggregate — the corpus is scanned exactly once, in the
    * centroid aggregation. Same determinism contract as
    * labelCentroidCosines (rounded centroids, ordered dots). */
  def labelCentroidMatrix(
      emb: DataFrame,
      vecCol: String,
      labelCol: String,
      roundTo: Int = 4): DataFrame = {
    val cent = labelCentroids(emb, vecCol, labelCol)
    val a = cent.select(col("__l").as("label_a"), col("__ce").as("__va"))
    val b = cent.select(col("__l").as("label_b"), col("__ce").as("__vb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(dotd(col("__va"), col("__vb")) /
          (sqrt(dotd(col("__va"), col("__va"))) * sqrt(dotd(col("__vb"), col("__vb")))),
          roundTo).as("cos_centroids"))
  }

  /** Per-label centroid drift between two corpus snapshots — the
    * embedding-space health check between training-data refreshes: how far
    * each label's centroid moved (L2 and cosine) and how its population
    * changed. The x72 snapshot-diff's embedding-space analog.
    *
    * Centroid components round to 6 decimals BEFORE the distance math
    * (labelCentroids' contract) so the result is independent of
    * aggregation order. Shape: one dim-keyed aggregation per snapshot (the
    * exploded (label, dim) grid shuffles, never raw vectors), then
    * label-keyed joins of label-count-sized frames — metadata-sized at any
    * corpus scale. Labels present in only one snapshot are omitted (no
    * drift is defined for them); population change covers appear/vanish. */
  def centroidDrift(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      vecCol: String,
      labelCol: String,
      roundTo: Int = 4): DataFrame = {
    val a = labelCentroids(oldSnap, vecCol, labelCol)
      .select(col("__l"), col("__ce").as("__va"))
    val b = labelCentroids(newSnap, vecCol, labelCol)
      .select(col("__l"), col("__ce").as("__vb"))
    val na = oldSnap.groupBy(col(labelCol).as("__l")).agg(count(lit(1)).as("n_old"))
    val nb = newSnap.groupBy(col(labelCol).as("__l")).agg(count(lit(1)).as("n_new"))
    val l2 = sqrt(aggregate(
      zip_with(col("__va"), col("__vb"), (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x))
    a.join(b, Seq("__l"))
      .join(broadcast(na), Seq("__l")).join(broadcast(nb), Seq("__l"))
      .select(col("__l").as("label"), col("n_old"), col("n_new"),
        round(l2, roundTo).as("l2_shift"),
        round(dotd(col("__va"), col("__vb")) /
          (sqrt(dotd(col("__va"), col("__va"))) * sqrt(dotd(col("__vb"), col("__vb")))),
          roundTo).as("cos_shift"))
  }

  /** Greedy k-center coreset (farthest-point traversal, Gonzalez 1985) —
    * the diverse-subset selection step of data-curation recipes: start
    * from the lowest-id vector, then repeatedly add the point FARTHEST
    * (squared L2) from the already-selected set. The classic 2-approximation
    * to the k-center objective, and the deterministic traversal makes it
    * SQL-replayable (tie-break: distance desc, id asc).
    *
    * Scale shape: k rounds, each ONE distributed pass — the running
    * min-distance-to-set needs only the LATEST center (least() against the
    * previous round's PERSISTED column), evaluated by the codegen'd
    * graft_l2sq kernel against a broadcast literal; the argmax is a
    * distributed TakeOrdered(1). Each round's (vec_id, __v, __d) frame is
    * persisted and the previous round's cache released once the new one is
    * materialized, so every row evaluates exactly ONE new kernel arm per
    * round and the source is read from storage exactly once — without the
    * persist the chained least() lineage re-evaluates all i accumulated
    * arms AND re-reads the source every round (O(k²) kernel evaluations at
    * the k = 64 ceiling). The only driver state is the k selected vectors
    * (k × dim doubles — metadata-sized, the pivotMatrix precedent).
    * For k beyond tens, compose with IVF cells instead of raising k here.
    */
  def kCenterCoreset(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64, "kCenterCoreset: k must be in [1, 64] " +
      "(driver holds k vectors; larger coresets should go through IVF blocking)")
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._

    val seedRow = df.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(1).collect()
    if (seedRow.isEmpty) return Seq.empty[(Long, Long, Double)]
      .toDF("rank", "vec_id", "dist_sq")
    def vecOf(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Number](1).map(_.doubleValue())
    val selected = scala.collection.mutable.ArrayBuffer(
      (seedRow.head.getLong(0), vecOf(seedRow.head), 0.0))
    if (capturePlans) lastRoundPlans.clear()

    // running min-dist frame: persisted each round, previous round's cache
    // released only AFTER the new round materializes (the TakeOrdered
    // collect computes every partition, so the unpersist never forces a
    // recompute through a cold lineage)
    var frame = df.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .withColumn("__d", call_function("graft_l2sq", col("__v"),
        typedlit(selected.head._2)))
      .where(col("vec_id") =!= selected.head._1)
    var prev: Option[DataFrame] = None
    // the last round's frame is released when this Scope closes, a failing
    // round's too
    Scope {
      for (_ <- 1 until k) {
        // capture the round's plan BEFORE persist: once this frame is
        // cached, its own executedPlan re-resolves to an InMemoryTableScan
        // of itself and the spec could no longer see the single new arm
        if (capturePlans) lastRoundPlans += frame.queryExecution.executedPlan.toString()
        val cur = Scope.persist(frame)
        val next = cur.orderBy(desc("__d"), col("vec_id")).limit(1).collect()
        prev.foreach(Scope.release)
        prev = Some(cur)
        if (next.nonEmpty) {
          val id = next.head.getLong(0)
          val v = next.head.getSeq[Number](1).map(_.doubleValue())
          selected += ((id, v, next.head.getDouble(2)))
          frame = cur.where(col("vec_id") =!= id)
            .withColumn("__d",
              least(col("__d"), call_function("graft_l2sq", col("__v"), typedlit(v))))
        }
      }
    }
    selected.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1L, id, d) }
      .toSeq.toDF("rank", "vec_id", "dist_sq")
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998) —
    * the diversity-aware re-rank between "top-k by cosine" (x13) and
    * "maximally spread subset" (x97): greedily pick k items maximizing
    * λ·rel(v) − (1−λ)·max_{s∈S} sim(v, s), rel = cosine to the query,
    * sim = pairwise cosine. λ = 1 degenerates to plain top-k; λ = 0 to a
    * pure anti-redundancy traversal.
    *
    * Determinism contract (the x99 recipe): every cosine is rounded to
    * `roundTo` decimals BEFORE it enters a max/argmax, the dot product is
    * the left-to-right `dotd` fold, and the weights enter as the literal
    * λ and (1.0 − λ) computed in IEEE — so the whole traversal replays in
    * SQL (ties: score desc, id asc).
    *
    * Scale shape: identical economics to kCenterCoreset — k rounds, each
    * one distributed scan of the PERSISTED (vec_id, __v, rel, __m) frame
    * evaluating exactly ONE new cosine arm (the latest pick, a broadcast
    * literal) folded into the running max-similarity column, argmax via
    * distributed TakeOrdered(1); the previous round's cache is released
    * only after the new round materializes, so the source is read from
    * storage exactly once. Driver state = the k selected vectors. */
  def mmrSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      lambda: Double,
      roundTo: Int = 4): DataFrame = {
    require(k >= 1 && k <= 64, "mmrSelect: k must be in [1, 64] " +
      "(driver holds k vectors; larger selections should go through IVF blocking)")
    require(lambda >= 0.0 && lambda <= 1.0, "mmrSelect: lambda must be in [0, 1]")
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._

    def qnorm(v: Seq[Double]): Double = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    def cosTo(v: Seq[Double]): Column = {
      val vc = col("__v")
      round(dotd(vc, typedlit(v)) /
        (sqrt(dotd(vc, vc)) * lit(qnorm(v))), roundTo)
    }
    val mu = lit(1.0 - lambda) // IEEE 1−λ, replayed as (1.0 − λ) in SQL
    def score: Column = lit(lambda) * col("rel") - mu * col("__m")

    var frame = df
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("rel", cosTo(query))
      .withColumn("__m", lit(0.0d))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    var prev: Option[DataFrame] = None
    var done = false
    // the last round's frame is released when this Scope closes, a failing
    // round's too
    Scope {
      for (_ <- 0 until k if !done) {
        val cur = Scope.persist(frame)
        val pick = cur.withColumn("__s", score)
          .orderBy(desc("__s"), col("vec_id")).limit(1)
          .select(col("vec_id"), col("__v"), col("__s")).collect()
        prev.foreach(Scope.release)
        prev = Some(cur)
        if (pick.isEmpty) done = true
        else {
          val id = pick.head.getLong(0)
          val v = pick.head.getSeq[Number](1).map(_.doubleValue())
          selected += ((id, pick.head.getDouble(2)))
          frame = cur.where(col("vec_id") =!= id)
            .withColumn("__m", greatest(col("__m"), cosTo(v)))
        }
      }
    }
    selected.zipWithIndex
      .map { case ((id, s), i) => (i + 1L, id, s) }
      .toSeq.toDF("rank", "vec_id", "score")
  }

  /** Physical plans of each kCenterCoreset round, captured for the spec
    * that pins "one graft_l2sq arm per row per round above the cache
    * boundary". Test observability only — OFF by default so production
    * calls don't mutate shared state on the hot path (plan-string
    * rendering per round isn't free either); the audit spec flips
    * `capturePlans` on around its single call. Capture assumes one
    * coreset call at a time, which the flag makes an explicit opt-in
    * rather than an ambient hazard. */
  @volatile private[graft] var capturePlans = false
  private[graft] val lastRoundPlans =
    scala.collection.mutable.ArrayBuffer.empty[String]

  /** Product-quantization codebooks from the deterministic pivot sample
    * (Jégou et al. 2011, "Product quantization for nearest neighbor
    * search" — the IVF-PQ memory layout every billion-vector ANN system
    * uses): the corpus's `nCodes` md5-ranked pivot rows (pivotMatrix — the
    * same SQL-replayable pick as ivfTopKPivots), each split into
    * `nSubspaces` contiguous blocks, give per-subspace codebooks of
    * `nCodes` centroids. Driver state is nCodes × dim doubles —
    * metadata-sized. */
  private[operators] def pqCodebooks(
      df: DataFrame,
      idCol: String, vecCol: String,
      nSubspaces: Int, nCodes: Int,
      seed: String): Array[Array[Array[Double]]] = {
    require(nSubspaces >= 1 && nCodes >= 1, "pq needs nSubspaces, nCodes >= 1")
    val pivots = pivotMatrix(df, idCol, vecCol, nCodes, seed)
    val dim = pivots.head.length
    require(dim % nSubspaces == 0,
      s"pq: dim $dim must divide evenly into $nSubspaces subspaces")
    val dsub = dim / nSubspaces
    Array.tabulate(nSubspaces)(s => pivots.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /** PQ encoding: each vector becomes `nSubspaces` small codes (argmin-L2
    * codeword per block, ties to the smallest code — the kernel's strict-<
    * rule) plus the exact reconstruction SSE. At 8 subspaces × 16 codes a
    * 256-byte float vector compresses to 8 half-byte codes — the reason PQ
    * is THE 100 TB ANN layout: the code table fits in memory where raw
    * vectors cannot.
    *
    * Shape: pure projection — codebooks are plan literals (broadcast with
    * the plan), assignment is the fused graft_nearest_centroid kernel per
    * block, no shuffle, whole-stage codegen. Determinism: pivot codebooks
    * + strict-< argmin + fixed s-ascending SSE addition order → every code
    * and SSE replays bit-for-bit in DuckDB list arithmetic (x101's
    * oracle). */
  def pqEncode(
      df: DataFrame,
      idCol: String, vecCol: String,
      nSubspaces: Int = 8,
      nCodes: Int = 16,
      seed: String = "pq1"): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val cbs = pqCodebooks(df, idCol, vecCol, nSubspaces, nCodes, seed)
    val dsub = cbs.head.head.length
    val codeCols = (0 until nSubspaces).map { s =>
      call_function("graft_nearest_centroid",
        slice(col(vecCol), s * dsub + 1, dsub),
        typedlit(cbs(s).map(_.toSeq).toSeq)).as(s"__c$s")
    }
    val sse = (0 until nSubspaces).map { s =>
      call_function("graft_l2sq",
        slice(col(vecCol), s * dsub + 1, dsub),
        element_at(typedlit(cbs(s).map(_.toSeq).toSeq), col(s"__c$s") + 1))
    }.reduce(_ + _)
    df.select(col(idCol) +: col(vecCol) +: codeCols: _*)
      .select(col(idCol),
        array((0 until nSubspaces).map(s => col(s"__c$s")): _*).as("codes"),
        sse.as("sse"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, a lookup
    * table of query-block-to-codeword distances (nSubspaces × nCodes
    * doubles, computed driver-side from the metadata-sized query set and
    * shipped as plan literals); each corpus vector's approximate distance
    * is then nSubspaces table lookups summed — the codes projection is the
    * ONLY thing scanned, never raw vectors. One scan serves every query
    * (the per-query ADC columns ride the same projection, then posexplode);
    * the per-query top-k is a rank window that WindowGroupLimit trims to
    * k rows per partition before the exchange.
    *
    * Output: (qid, vec_id, adc, rank), ranks ordered on the 4-decimal-
    * rounded ADC with vec_id tie-break (x33's cross-engine convention).
    * Exact by construction given the codes — x102's oracle replays LUTs,
    * sums and ranks bit-for-bit. */
  def pqAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int = 10,
      nSubspaces: Int = 8,
      nCodes: Int = 16,
      seed: String = "pq1",
      maxQueries: Int = 64): DataFrame = {
    val qRows = queries.select(col(qidCol), col(qvecCol))
      .orderBy(col(qidCol)).limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"pqAdcTopK: query set exceeds maxQueries=$maxQueries — LUTs are " +
        "driver state; route larger query sets through a broadcast-join variant")
    if (qRows.isEmpty) {
      val spark = corpus.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("qid", "vec_id", "adc", "rank")
    }
    val cbs = pqCodebooks(corpus, idCol, vecCol, nSubspaces, nCodes, seed)
    val dsub = cbs.head.head.length
    val codes = pqEncode(corpus, idCol, vecCol, nSubspaces, nCodes, seed)

    def sq(x: Double): Double = x * x
    // per query: lut(s)(c) = L2²(query block s, codeword c) — same
    // i-ascending inner order as the l2sq kernel
    val luts = qRows.map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Number](1).map(_.doubleValue())
      val lut = Array.tabulate(nSubspaces, nCodes) { (s, c) =>
        var d = 0.0
        var i = 0
        while (i < dsub) { d += sq(qv(s * dsub + i) - cbs(s)(c)(i)); i += 1 }
        d
      }
      (qid, lut)
    }
    val adcCols = luts.map { case (qid, lut) =>
      struct(
        lit(qid).as("qid"),
        (0 until nSubspaces).map { s =>
          element_at(typedlit(lut(s).toSeq), element_at(col("codes"), s + 1) + 1)
        }.reduce(_ + _).as("adc"))
    }
    val w = Window.partitionBy("qid")
      .orderBy(col("__r"), col(idCol))
    codes
      .select(col(idCol), explode(array(adcCols.toIndexedSeq: _*)).as("__q"))
      .select(col(idCol), col("__q.qid").as("qid"),
        round(col("__q.adc"), 4).as("__r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col(idCol).as("vec_id"), col("__r").as("adc"),
        col("rank"))
  }

  /** Incremental IVF index maintenance: assign a NEW vector batch into an
    * index whose pivot codebook was trained on the BASE corpus only — the
    * operation a living ANN deployment runs hourly, where refitting the
    * quantizer (and re-assigning billions of existing codes) for every
    * arriving batch is the thing you must never do. Returns the per-cell
    * occupancy ledger: (cell, n_base, n_new, total, growth_pct) with
    * growth rounded at 4 — the signal a rebalancer watches for cells
    * drifting past their split threshold.
    *
    * Scale shape: the add is a PURE PROJECTION of the batch through
    * plan-literal centroids (graft_nearest_centroid — no shuffle, no
    * refit, base vectors never rescanned beyond the one-time pivot pick),
    * then two keyed count aggregations merged on the ≤ nCells ledger.
    * Deterministic end to end: the pivot pick is the md5-ranked choice
    * (pivotMatrix), assignment the strict-< argmin — x114's oracle
    * replays codebook, both assignments and the ledger arithmetic. */
  def ivfIncrementalAdd(
      base: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String,
      nCells: Int = 16,
      seed: String = "v1"): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val pivots = pivotMatrix(base, idCol, vecCol, nCells, seed)
    def assign(df: DataFrame): Column =
      call_function("graft_nearest_centroid", col(vecCol),
        typedlit(pivots.map(_.toSeq).toSeq))
    val baseCells = base.select(assign(base).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_base"))
    val newCells = batch.select(assign(batch).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_new"))
    baseCells.join(newCells, Seq("cell"), "full_outer")
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("total", col("n_base") + col("n_new"))
      .withColumn("growth_pct",
        round(col("n_new") / greatest(col("n_base"), lit(1L)) * lit(100.0), 4))
  }

  /** Recall@k report of the pivot-IVF path against the exact baseline —
    * the evaluation harness every ANN deployment needs BEFORE trusting an
    * index at scale: per query, how many of the true top-k the
    * approximate path returned. Both legs are deterministic (the exact
    * window rank and the SQL-replayable pivot quantizer), so the report
    * itself is oracle-exact — x103 replays exact top-k, IVF top-k and the
    * join in DuckDB and agrees on every hit count.
    *
    * Shape: the two legs share the broadcast query set; the comparison is
    * an equi-join on (qid, vec_id) of two k-row-per-query frames —
    * metadata-sized next to the scans that produce them, so the report
    * costs what its two legs cost. Output: (qid, n_hits, recall),
    * recall = hits/k rounded to 4. */
  def annRecallReport(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      seed: String = "v1"): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, qidCol, qvecCol, k)
      .select(col(qidCol).as("qid"), col(idCol).as("vec_id"))
    val approx = ivfTopKPivots(corpus, queries, idCol, vecCol,
      qidCol, qvecCol, k, nCells, nProbe, seed)
      .select(col(qidCol).as("qid"), col(idCol).as("vec_id"), lit(1L).as("__hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(
        coalesce(sum("__hit"), lit(0L)).as("n_hits"),
        round(coalesce(sum("__hit"), lit(0L)) / lit(k.toDouble), 4).as("recall"))
  }

  /** The composed IVF-PQ serving path — the layout every billion-vector
    * ANN system actually deploys (Jégou 2011 §V): a coarse quantizer
    * routes each query to its nProbe nearest cells, PQ codes stand in for
    * the vectors inside those cells (ADC lookups — the only per-row work
    * in the candidate stage), and the top `rerank` ADC candidates are
    * re-scored with the exact cosine. At 100 TB the property that matters
    * is WHAT each stage scans: the candidate stage reads only the
    * (id, cell, codes) projection (≈ a few bytes/vector), raw vectors are
    * touched only for the ≤ |queries|·rerank candidate rows (a broadcast
    * semi-join into one corpus scan — the analog of a point-lookup fetch).
    *
    * Every stage is deterministic (pivot cells, pivot codebooks, strict-<
    * argmins, rounded-ADC rank, exact-cosine re-rank), so x107's oracle
    * replays the ENTIRE composition in DuckDB. Output contract: (qid,
    * vec_id, sim, rank), rank 1..k by exact descending cosine; self
    * matches excluded at the candidate stage. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qidCol: String, qvecCol: String,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      nSubspaces: Int = 8,
      nCodes: Int = 16,
      rerank: Int = 50,
      cellSeed: String = "v1",
      pqSeed: String = "pq1",
      maxQueries: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val qRows = queries.select(col(qidCol), col(qvecCol))
      .orderBy(col(qidCol)).limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"ivfPqTopK: query set exceeds maxQueries=$maxQueries — probe sets and " +
        "ADC LUTs are driver state; batch larger query sets")
    if (qRows.isEmpty)
      return Seq.empty[(Long, Long, Double, Long)].toDF("qid", "vec_id", "sim", "rank")

    val cellPivots = pivotMatrix(corpus, idCol, vecCol, nCells, cellSeed)
    val cbs = pqCodebooks(corpus, idCol, vecCol, nSubspaces, nCodes, pqSeed)
    val dsub = cbs.head.head.length
    // ONE projection carries everything the candidate stage needs:
    // coarse cell + the nSubspaces codes. Pure codegen, no shuffle.
    val codeCols = (0 until nSubspaces).map { s =>
      call_function("graft_nearest_centroid",
        slice(col(vecCol), s * dsub + 1, dsub),
        typedlit(cbs(s).map(_.toSeq).toSeq)).as(s"__c$s")
    }
    val assigned = corpus.select(
      col(idCol).as("vec_id") +:
        call_function("graft_nearest_centroid", col(vecCol),
          typedlit(cellPivots.map(_.toSeq).toSeq)).as("__cell") +:
        codeCols: _*)

    def sq(x: Double): Double = x * x
    // per query, driver-side (metadata): nProbe nearest cells under the
    // kernel's i-ascending L2 with cell-ascending ties, and the
    // nSubspaces × nCodes ADC LUT
    val qInfo = qRows.map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Number](1).map(_.doubleValue())
      val dists = cellPivots.zipWithIndex.map { case (p, c) =>
        var d = 0.0
        var i = 0
        val m = math.min(qv.length, p.length)
        while (i < m) { d += sq(qv(i) - p(i)); i += 1 }
        (d, c)
      }
      val probeCells = dists.sortBy { case (d, c) => (d, c) }.take(nProbe).map(_._2)
      val lut = Array.tabulate(nSubspaces, nCodes) { (s, c) =>
        var d = 0.0
        var i = 0
        while (i < dsub) { d += sq(qv(s * dsub + i) - cbs(s)(c)(i)); i += 1 }
        d
      }
      (qid, probeCells, lut)
    }
    val adcStructs = qInfo.map { case (qid, cells, lut) =>
      when(col("__cell").isin(cells.map(Int.box).toSeq: _*) &&
        col("vec_id") =!= qid,
        struct(
          lit(qid).as("qid"),
          (0 until nSubspaces).map { s =>
            element_at(typedlit(lut(s).toSeq), col(s"__c$s") + 1)
          }.reduce(_ + _).as("adc")))
    }
    val wAdc = Window.partitionBy("qid").orderBy(col("__r"), col("vec_id"))
    val cand = assigned
      .select(col("vec_id"),
        explode(filter(array(adcStructs.toIndexedSeq: _*), x => x.isNotNull))
          .as("__q"))
      .select(col("vec_id"), col("__q.qid").as("qid"),
        round(col("__q.adc"), 4).as("__r"))
      .withColumn("__ar", row_number().over(wAdc))
      .where(col("__ar") <= rerank)
      .select(col("qid"), col("vec_id"))
    // exact re-rank: ≤ |queries|·rerank candidate ids broadcast into one
    // raw-vector scan (the point-lookup fetch), exact cosine, top-k
    val qvecs = queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
    val wK = Window.partitionBy("qid").orderBy(desc("sim"), col("vec_id"))
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qvecs), Seq("qid"))
      .withColumn("sim",
        dot(col("__qv"), col("__v")) / (norm(col("__qv")) * norm(col("__v"))))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("sim"), col("rank"))
  }

  def quantizeInt8Rows(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("id"), posexplode(col(vecCol)))
      .withColumnsRenamed(Map("pos" -> "i", "col" -> "x"))
    val w = Window.partitionBy("id")
    ex.withColumn("__scale", max(abs(col("x").cast("double"))).over(w) / 127.0)
      .withColumn("q",
        when(col("__scale") === 0.0, lit(0))
          .otherwise(floor(col("x").cast("double") / col("__scale") + 0.5).cast("int")))
      .select(col("id"), col("i"), col("q"), round(col("__scale"), 6).as("scale"))
  }
}
