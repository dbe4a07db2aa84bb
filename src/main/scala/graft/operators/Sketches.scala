package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Count-min sketch over a token stream (Cormode & Muthukrishnan 2005) —
  * the fixed-memory scale path for corpus frequency questions. The exact
  * vocabulary count (Vocabulary.termStats) shuffles one row per distinct
  * term: correct, but its reduce state grows with vocabulary size. The CMS
  * reduce state is a constant depth × width grid regardless of corpus size
  * — at 100 TB the partial aggregation map-side combines to ≤ d·w rows per
  * partition and the final sketch always broadcasts.
  *
  * Determinism contract (what makes this oracle-checkable, like the x08
  * simhash replay): the row hashes derive from graft_token_hashes_fnv's
  * FNV-1a+fmix64 token hash via Knuth multiplicative hashing —
  * cell_r = (h · A_r + B_r mod 2⁶⁴) >>> (64 − log₂ width) — all of which
  * replays exactly in DuckDB HUGEINT arithmetic. Top bits of the product
  * are used (not low bits): with width a power of two, low bits would
  * depend only on h's low bits and collide identically across rows,
  * destroying the independence the min-over-rows bound needs.
  */
object Sketches {

  /** Four (multiplier, offset) pairs — splitmix64/murmur3 mixing constants,
    * all multipliers odd (bijective mod 2⁶⁴). Depth ≤ 4. Exposed to the
    * query pack so the DuckDB oracle replays the same family. */
  private[graft] val RowSeeds: Seq[(Long, Long)] = Seq(
    (0x9e3779b97f4a7c15L, 0x2545f4914f6cdd1dL),
    (0xbf58476d1ce4e5b9L, 0x94d049bb133111ebL),
    (0xff51afd7ed558ccdL, 0xc4ceb9fe1a85ec53L),
    (0xd6e8feb86659fd93L, 0x589965cc75374cc3L))

  private def log2Exact(w: Int): Int = {
    require(w >= 2 && (w & (w - 1)) == 0, s"width must be a power of two, got $w")
    java.lang.Integer.numberOfTrailingZeros(w)
  }

  /** cell_r for a 64-bit token-hash column. graft_mix64 wraps mod 2⁶⁴ by
    * construction (a plain `h * a + b` Column trips Spark 4's ANSI overflow
    * check — the wrap IS the hash here). */
  private def cell(h: Column, r: Int, widthBits: Int): Column = {
    val (a, b) = RowSeeds(r)
    shiftrightunsigned(call_function("graft_mix64", h, lit(a), lit(b)), 64 - widthBits)
  }

  /** One (row, cell) output row per token occurrence × sketch row — the
    * narrow projection shared by the batch sketch and the streaming leg
    * (StreamingSketch aggregates the same cells incrementally). Token
    * strings never leave the scan projection. */
  private[graft] def streamCells(
      df: DataFrame,
      textCol: String,
      width: Int,
      depth: Int): DataFrame = {
    require(depth >= 1 && depth <= RowSeeds.size,
      s"depth must be in [1, ${RowSeeds.size}]")
    val k = log2Exact(width)
    df.select(
      explode(call_function("graft_token_hashes_fnv", col(textCol))).as("__h"))
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("row"), cell(col("__h"), r, k).as("cell"))): _*)).as("rc"))
      .select(col("rc.row").as("row"), col("rc.cell").as("cell"))
  }

  /** Build the sketch: (row, cell, cnt) with exactly one count shuffle whose
    * reduce key space is depth × width. Token occurrences (not distinct
    * tokens) are counted — the CMS estimates occurrence frequency. */
  def countMinTokenSketch(
      df: DataFrame,
      textCol: String,
      width: Int,
      depth: Int): DataFrame =
    streamCells(df, textCol, width, depth)
      .groupBy("row", "cell")
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for candidate tokens: min over rows of the candidate's
    * cell count (the classic overestimate-only bound: est ≥ true count, and
    * est ≤ true + εN w.h.p. with ε = e/width). `candidates` must carry a
    * string column `token`; the sketch side is ≤ d·w rows and broadcasts. */
  def cmsEstimates(
      sketch: DataFrame,
      candidates: DataFrame,
      width: Int,
      depth: Int): DataFrame = {
    val k = log2Exact(width)
    val withHash = candidates
      .select(col("token"))
      .withColumn("__h",
        element_at(call_function("graft_token_hashes_fnv", col("token")), 1))
    withHash
      .select(col("token"), explode(array((0 until depth).map(r =>
        struct(lit(r).as("row"), cell(col("__h"), r, k).as("cell"))): _*)).as("rc"))
      .join(broadcast(sketch),
        col("rc.row") === sketch("row") && col("rc.cell") === sketch("cell"))
      .groupBy(col("token"))
      .agg(min(col("cnt")).as("est"))
  }

  /** Heavy hitters by CMS estimate among the supplied candidate tokens,
    * deterministic tie-break (est desc, token asc). At scale the candidate
    * set comes from a sample or a prior round — the sketch itself never
    * enumerates the vocabulary. */
  def cmsHeavyHitters(
      df: DataFrame,
      textCol: String,
      candidates: DataFrame,
      width: Int,
      depth: Int,
      topK: Int): DataFrame = {
    val sketch = countMinTokenSketch(df, textCol, width, depth)
    cmsEstimates(sketch, candidates, width, depth)
      .orderBy(col("est").desc, col("token"))
      .limit(topK)
  }

  /** Misra–Gries frequent-items summary per group (graft_mg_topk, a
    * bounded TypedImperativeAggregate: ≤ capacity counters per state,
    * MG-merged). Where cmsHeavyHitters needs a candidate set to probe the
    * sketch, MG surfaces the candidates ITSELF in one pass — the right
    * tool when no prior vocabulary sample exists. Returns one row per
    * surviving (group, term) with est count and a per-group rank
    * (count desc, term asc), trimmed to topK. Exactness contract: with
    * per-group distinct terms ≤ capacity the counts are exact and
    * partition-independent (the x93 oracle); past capacity every estimate
    * undercounts by ≤ n_group/(capacity+1) — MgSketchSpec pins both. */
  def mgHeavyHitters(
      df: DataFrame,
      termCol: Column,
      groupCol: String,
      capacity: Int,
      topK: Int): DataFrame = {
    require(topK >= 1 && capacity >= topK,
      "need capacity ≥ topK ≥ 1 (entries past capacity are never reportable)")
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(groupCol).as("__grp"), termCol.as("__term"))
      .groupBy("__grp")
      .agg(call_function("graft_mg_topk", col("__term"), lit(capacity)).as("__mg"))
      .select(col("__grp").as(groupCol), posexplode(slice(col("__mg"), 1, topK)))
      .select(col(groupCol), col("col.term").as("term"),
        col("col.count").as("est_count"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group — the
    * MERGEABLE distinct estimator whose whole state is the k smallest
    * hash draws: estimate = (k−1)/u_k with u_k the k-th smallest hash
    * mapped into (0,1]; fewer than k distinct hashes means the state IS
    * the exact answer. Draws are md5-derived (first 15 hex chars → a
    * 60-bit integer), so unlike HLL (x36, rows-only with an error
    * envelope) the estimate is DETERMINISTIC and the oracle replays it
    * bit-for-bit via a HUGEINT hex fold.
    *
    * Output: groupCol, n_exact (distinct hash count — 60-bit collisions
    * are negligible and identical in both engines), kmv_estimate.
    *
    * Shape note: the estimate comes from graft_kmv_agg — a
    * TypedImperativeAggregate whose state is the bottom-k distinct draws
    * (k doubles, period), partially aggregated map-side and merged by
    * re-taking the bottom-k. No window, no sort, no per-group distinct
    * materialization anywhere in the estimate's path — at 100 TB the
    * exchange moves ≤ k doubles per (group × partition). The n_exact
    * audit column is the one deliberately-exact part of the report (it
    * shuffles distinct hashes, like any exact count_distinct must); drop
    * it when only the estimate is needed and the whole query is
    * sketch-sized. */
  /** The KMV draw: md5's first 15 hex chars as a 60-bit integer mapped
    * into (0,1] — shared by the batch report, the streaming leg and the
    * DuckDB oracle's HUGEINT hex fold. */
  private[graft] def kmvDraw(keyCol: Column): Column =
    conv(substring(md5(keyCol.cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0d) // 2^60

  def kmvDistinct(
      df: DataFrame,
      keyCol: String,
      groupCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(groupCol).as("__grp"), kmvDraw(col(keyCol)).as("__u"))
      .groupBy("__grp")
      .agg(
        count_distinct(col("__u")).as("n_exact"),
        call_function("graft_kmv_agg", col("__u"), lit(k)).as("__est"))
      .select(col("__grp").as(groupCol), col("n_exact"),
        round(col("__est"), 4).as("kmv_estimate"))
  }

  /** Per-group KMV SKETCHES (the bottom-k draw arrays themselves) over an
    * arbitrary draw column — the persistable form: write these once per
    * snapshot, combine forever. */
  def kmvSketches(
      df: DataFrame,
      drawCol: Column,
      groupCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(groupCol).as("grp"), drawCol.as("__u"))
      .groupBy("grp")
      .agg(call_function("graft_kmv_sketch_agg", col("__u"), lit(k)).as("sk"))
  }

  /** Pairwise distinct-set OVERLAP estimates from per-group KMV sketches
    * (Beyer et al. 2007 multiset synopses): for each group pair, merge the
    * two bottom-k arrays into the union's bottom-k K, read θ = k-th
    * smallest, and estimate
    *   |A∪B| ≈ (k−1)/θ,   J(A,B) ≈ |K ∩ K(A) ∩ K(B)| / k,
    *   |A∩B| ≈ J · |A∪B|.
    * When the merged sketch holds fewer than k draws BOTH input sketches
    * were exhaustive, so the "estimates" are the exact answers — the same
    * exact-fallback contract as graft_kmv_agg.
    *
    * Scale shape: input is the aggregated sketch frame (one array ≤ k per
    * group — metadata-sized for any sane group count), so the pair
    * combination is a nGroups² nested-loop over bounded arrays with NO
    * revisit of raw data; the raw corpus is touched exactly once, by the
    * sketch aggregation, whose exchange moves ≤ k doubles per
    * (group × partition). This is the sketch-bounded path for the question
    * x65 answers exactly by shuffling every distinct (source, gram) pair. */
  def kmvOverlapEstimates(sketches: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    // Materialize the (group × ≤k doubles) sketch frame before the pair
    // self-join: without this, BOTH join sides re-run the full sketch
    // aggregation — two complete corpus scans for a metadata-sized input
    // (measured 14.9 s → 7.5 s at sf0.1 on x87). The cache is bounded by
    // nGroups·k doubles, the same budget as the sketches themselves, and
    // released by the caller's Scope once the overlap result is consumed.
    val mat = Scope.persist(sketches)
    mat.count()
    val a = mat.select(col("grp").as("source_a"), col("sk").as("__ska"))
    val b = mat.select(col("grp").as("source_b"), col("sk").as("__skb"))
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("__mrg",
        slice(array_sort(array_union(col("__ska"), col("__skb"))), 1, k))
      .withColumn("__nm", size(col("__mrg")))
      .withColumn("__theta",
        when(col("__nm") >= k, element_at(col("__mrg"), k)))
      .withColumn("__c",
        when(col("__theta").isNotNull,
          size(filter(array_intersect(col("__ska"), col("__skb")),
            u => u <= col("__theta"))))
          .otherwise(size(array_intersect(col("__ska"), col("__skb")))))
      .withColumn("__uest",
        when(col("__theta").isNotNull, lit((k - 1).toDouble) / col("__theta"))
          .otherwise(col("__nm").cast("double")))
      .withColumn("__jest",
        col("__c").cast("double") /
          when(col("__theta").isNotNull, lit(k.toDouble))
            .otherwise(col("__nm").cast("double")))
      .select(col("source_a"), col("source_b"),
        round(col("__uest"), 4).as("union_est"),
        round(col("__jest") * col("__uest"), 4).as("inter_est"),
        round(col("__jest"), 4).as("jaccard_est"))
  }

  /** Cross-source content-overlap estimation on bounded state: distinct
    * token-shingles per source, sketched to k draws, combined pairwise —
    * the 100 TB path for x65's exact shingle-overlap matrix. Draws are
    * md5(shingle) (first 15 hex chars → 60-bit uniform), so every estimate
    * replays bit-for-bit in the DuckDB oracle. Shingle strings exist only
    * inside the scan projection: the KMV aggregate partially combines
    * map-side, so nothing wider than k doubles per source ever shuffles. */
  def kmvSourceOverlap(
      docs: DataFrame,
      textCol: String,
      sourceCol: String,
      shingleSize: Int = 3,
      k: Int = 64): DataFrame = {
    require(shingleSize >= 1, "shingleSize must be positive")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "")
    val sep = "\u001f" // chr(31), the x65/x86 shingle joint
    // tokens MUST be materialized in their own projection before the
    // shingle lambda references them: a HOF lambda re-evaluates any outer
    // NON-COLUMN expression per element, so inlining the split/filter here
    // re-tokenized the document once per shingle position × arity
    // (measured 12.2 s → 0.9 s at sf0.1 for this stage alone). No
    // array_distinct either: duplicate shingles map to the same md5 draw
    // and the KMV TreeSet dedups on insert.
    val tk = col("__toks")
    val shingles = when(size(tk) >= shingleSize,
      transform(
        sequence(lit(0), size(tk) - lit(shingleSize)),
        i => concat_ws(sep, (0 until shingleSize).map(j =>
          element_at(tk, (i + lit(j + 1)).cast("int"))): _*)))
      .otherwise(array().cast("array<string>"))
    val drawn = docs
      .select(col(sourceCol).as("src"), toks.as("__toks"))
      .select(col("src"), explode(shingles).as("__sh"))
      .select(col("src"), kmvDraw(col("__sh")).as("__u"))
    kmvOverlapEstimates(
      kmvSketches(drawn, col("__u"), "src", k), k)
  }

  /** Robust-stats (median / MAD / Hampel outlier) report on BOUNDED state
    * — the sketch twin of d38's exact-percentile MAD report, and the
    * reason graft_hist exists: exact `percentile` buffers every value per
    * group, which cannot stream and grows with the data; the fixed-grid
    * histogram is nBins + 2 longs per group, period, so this exact
    * pipeline runs unchanged as a Structured Streaming Complete-mode
    * aggregation (StreamingMad — d38's streaming twin).
    *
    * Per group: n, med_est (grid lower median), mad_est (grid weighted
    * median of |rep − med|), n_outliers_est (count in cells whose
    * representative deviates > 3·MAD — Hampel's rule at grid resolution).
    * Cell representatives: underflow → lo, cell i → lo + (i−½)·w,
    * overflow → hi. Estimates are exact up to the grid width w and are
    * INDEPENDENT of row order and partitioning — the property that gives
    * batch/streaming bit-parity and a bit-exact DuckDB oracle (both
    * engines walk identical binary64 reps over identical integer counts).
    *
    * Shape: ONE bounded-state aggregation touches the data; the quantile
    * walks are pure projection over the (nBins + 2)-long array using
    * nested HOFs — O(nBins²) arithmetic per GROUP (not per row), zero
    * extra exchanges, no window functions (which Structured Streaming
    * would reject after a stateful aggregation). */
  def gridMadReport(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    require(nBins >= 1, "gridMadReport needs nBins >= 1")
    require(lo < hi, "gridMadReport needs lo < hi")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = (hi - lo) / nBins
    val idxs = sequence(lit(0), lit(nBins + 1))
    def rep(i: Column): Column =
      when(i === 0, lit(lo))
        .when(i === nBins + 1, lit(hi))
        .otherwise(lit(lo) + (i.cast("double") - lit(0.5)) * lit(w))
    def rnd4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

    // med/mad/rank materialize as REAL columns stage by stage — a HOF
    // lambda re-evaluates outer non-column expressions per element (the
    // kmvSourceOverlap lesson), and the mad walk references med inside a
    // doubly-nested lambda
    df.select(col(groupCol).as("__grp"), col(valueCol).as("__v"))
      .groupBy("__grp")
      .agg(call_function("graft_hist", col("__v"), lit(lo), lit(hi), lit(nBins))
        .as("__h"))
      .withColumn("__n", aggregate(col("__h"), lit(0L), (a, x) => a + x))
      // lower median rank: floor((n+1)/2) — exact in binary64 for any
      // realistic n, and `(n + 1) // 2` in the DuckDB replay
      .withColumn("__rank",
        floor((col("__n").cast("double") + lit(1.0)) / lit(2.0)).cast("long"))
      // med = min rep_j with prefix count ≥ rank (reps are idx-monotone,
      // so the min IS the first crossing cell)
      .withColumn("__med", array_min(filter(
        transform(idxs, j =>
          when(aggregate(slice(col("__h"), lit(1), (j + 1).cast("int")),
            lit(0L), (a, x) => a + x) >= col("__rank"), rep(j))),
        x => x.isNotNull)))
      // mad = min dev_j such that the count of mass at dev ≤ dev_j ≥ rank
      // (monotone in dev, so again the min is the crossing value; idx
      // tie-breaks cannot change the VALUE selected)
      .withColumn("__mad", array_min(filter(
        transform(idxs, j =>
          when(aggregate(idxs, lit(0L), (a, i) =>
            a + when(abs(rep(i) - col("__med")) <= abs(rep(j) - col("__med")),
              element_at(col("__h"), (i + 1).cast("int"))).otherwise(lit(0L)))
            >= col("__rank"),
            abs(rep(j) - col("__med")))),
        x => x.isNotNull)))
      .select(
        col("__grp").as(groupCol),
        col("__n").as("n"),
        rnd4(col("__med")).as("med_est"),
        rnd4(col("__mad")).as("mad_est"),
        aggregate(idxs, lit(0L), (a, i) =>
          a + when(abs(rep(i) - col("__med")) > col("__mad") * lit(3.0),
            element_at(col("__h"), (i + 1).cast("int"))).otherwise(lit(0L)))
          .as("n_outliers_est"))
  }

  /** Estimate-only KMV — the form whose WHOLE aggregation state is the
    * k-bounded sketch (no exact-distinct audit column), usable unchanged
    * as a streaming stateful aggregation (StreamingKmv). */
  def kmvEstimate(
      df: DataFrame,
      keyCol: String,
      groupCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(groupCol).as("__grp"), kmvDraw(col(keyCol)).as("__u"))
      .groupBy("__grp")
      .agg(call_function("graft_kmv_agg", col("__u"), lit(k)).as("__est"))
      .select(col("__grp").as(groupCol), round(col("__est"), 4).as("kmv_estimate"))
  }
}
