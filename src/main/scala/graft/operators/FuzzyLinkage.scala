package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorted-neighborhood record linkage (Hernández & Stolfo 1995 — public):
  * instead of blocking on an equality key (whose hottest block degenerates
  * to n² pairs) or comparing all pairs, ORDER the union of both sides by
  * the match key and compare each row only to its `neighborhood` sorted
  * neighbors. Candidates are n·k, the sort is skew-proof, and exact
  * Levenshtein scores the survivors.
  *
  * Scale shape: Sharding.rankByColumns supplies the global 0-based sort
  * position via range partitioning + two-phase prefix sums (no
  * single-partition window anywhere); the candidate generation is an
  * explode to the k probe positions followed by ONE equi-join on the
  * position — a hash join moving n·k rows, never a cross product. The
  * per-dirty-row argmin is a window over candidate groups.
  *
  * A candidate pair farther than `neighborhood` positions apart in the
  * sort is NOT considered (the SNM trade-off); pick the sort key so edits
  * keep variants nearby, or union several passes with different keys. */
object FuzzyLinkage {

  /** For each `dirty` row, its best `clean` match: minimum Levenshtein
    * distance ≤ `maxDist` among the sorted neighborhood, ties to the
    * smallest clean id. Output: dirty_id, dirty_val, clean_id, clean_val,
    * dist — one row per dirty row that found a match. */
  def bestMatch(
      clean: DataFrame,
      dirty: DataFrame,
      cleanId: String,
      cleanCol: String,
      dirtyId: String,
      dirtyCol: String,
      neighborhood: Int = 8,
      maxDist: Int = 2): DataFrame = {
    require(neighborhood > 0, "neighborhood must be positive")
    require(maxDist >= 0, "maxDist must be non-negative")
    val u = clean
      .select(col(cleanId).cast("long").as("__id"), col(cleanCol).as("__val"),
        lit(0).as("__src"))
      .unionByName(dirty.select(col(dirtyId).cast("long").as("__id"),
        col(dirtyCol).as("__val"), lit(1).as("__src")))
    val ranked = Sharding.rankByColumns(u, Seq("__val", "__src", "__id"))

    val probes = ranked.where(col("__src") === 1)
      .select(col("__id").as("dirty_id"), col("__val").as("dirty_val"),
        explode(sequence(col("pos") - neighborhood, col("pos") + neighborhood))
          .as("pos"))
    val targets = ranked.where(col("__src") === 0)
      .select(col("__id").as("clean_id"), col("__val").as("clean_val"), col("pos"))
    val scored = probes.join(targets, Seq("pos"))
      .withColumn("dist", levenshtein(col("dirty_val"), col("clean_val")))
      .where(col("dist") <= maxDist)
    val w = Window.partitionBy("dirty_id").orderBy(col("dist"), col("clean_id"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select("dirty_id", "dirty_val", "clean_id", "clean_val", "dist")
  }

  /** EXACT edit-distance join via q-gram prefix filtering (ED-Join —
    * Xiao, Wang & Lin 2008, building on Gravano et al. 2001's count
    * filter): all (left, right) pairs with Levenshtein ≤ maxDist. The
    * complement of bestMatch's sorted-neighborhood heuristic — no
    * neighborhood trade-off: every qualifying pair is returned.
    *
    * Exactness argument: ed ≤ d destroys at most d·q of a string's
    * |s| − q + 1 positional q-grams, so the BAG intersection satisfies
    * |A ∩ B| ≥ max(|A|, |B|) − d·q = T. Under ANY global order on bag
    * elements, a pair meeting T must then share an element inside each
    * side's first n − T + 1 ≤ d·q + 1 elements — so joining only the
    * d·q + 1 globally-RAREST (gram, occurrence#) elements per string
    * (df asc: rare grams carry the prefixes) loses no true pair. A plain
    * count-filter join (all grams) degenerates to a near-cross-product on
    * low-entropy shared prefixes ("Customer#000…" in every row); the
    * rarest-gram prefix is what keeps candidate volume ∝ Σ prefixDf².
    * Bag semantics via occurrence numbering: the join key is
    * (gram, occ#), so a gram appearing 3× on both sides matches exactly
    * 3 times and repeated-gram strings can't cheat the bound.
    *
    * Strings too short for a positive threshold (|s| ≤ q − 1 + d·q) can
    * share ZERO grams with a true match, so they go through a
    * length-bucketed branch instead: each short string joins the (2d+1)
    * exact-length buckets it can match — an equi-join on length, volume
    * bounded by shortCount × bucket size, never a cross product. Exact
    * Levenshtein verifies every candidate; the length filter
    * ||a| − |b|| ≤ d prunes before the verify.
    *
    * Scale shape: one gram explode per side (≈ |s| rows per string), one
    * df aggregation over the union, one per-string window to take the
    * d·q + 1 rarest elements (the prefixJaccardPairs economics), one
    * (gram, occ)-keyed equi-join of PREFIXES only, one id-keyed verify
    * join per side; the short branch is an equi-join on length. No
    * driver state.
    *
    * 100 TB guidance — exact vs approximate: the candidate volume is
    * ∝ Σ prefixDf², which LOW-ENTROPY gram spectra inflate
    * super-linearly (observed: sf0.1→sf1 wall-time exponent 1.60 on the
    * x154 fixture). Before a large run, call [[qgramJoinPreflight]] with
    * the SAME arguments: it prices the quadratic phase from the df
    * spectrum after only the linear prologue. If the projected pair
    * count exceeds budget, use the approximate siblings — ppjoin
    * (prefix-Jaccard) or minhash near-duplicates with
    * [[LshPlanner.lshPlan]]-chosen parameters — and verify survivors
    * with exact Levenshtein instead of running the exact join.
    *
    * ID contract: `leftId` / `rightId` must be UNIQUE KEYS of their
    * frames. The output's per-pair single-emission guarantee (the
    * disjointness of the long branch and the two short legs, and each
    * short leg's at-most-once emission) is stated over id pairs —
    * duplicate (id, value) input rows produce duplicate output rows
    * where a pre-r13 shape's final dropDuplicates collapsed them. Every
    * engine caller feeds key-projected frames; external callers on dirty
    * data should dropDuplicates(id) first. */
  def qgramJoin(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftCol: String,
      rightId: String,
      rightCol: String,
      maxDist: Int,
      q: Int = 2): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(q >= 1, "q must be >= 1")
    val p = prologue(left, right, leftId, leftCol, rightId, rightCol,
      maxDist, q, persistPrefix = true)
    // materialize the persisted prefix frames NOW and release the
    // gram/df spectrum they fully consume (the similarityJoinAuto
    // treatment, guide §5): with everything lazy, all six prologue
    // frames stayed pinned through the caller's one action, and the
    // candidate join ran at peak cache pressure — measured in the full
    // sf0.1 sweep, the auto route (which releases early after its
    // preflight) ran the SAME join in 6.9 s while this stayed at 14.7 s.
    // Two metadata-sized eager jobs buy the early release.
    Seq(p.prefixL, p.prefixR).foreach(_.count())
    Seq(p.gl, p.gr, p.dfreq).foreach(_.unpersist(blocking = false))
    joinFromProlog(p, maxDist)
  }

  /** The LINEAR prologue shared verbatim by [[qgramJoin]],
    * [[qgramJoinPreflight]] and [[similarityJoinAuto]]: side projections,
    * long/short split, occurrence-numbered gram frames, the union df
    * spectrum and the per-string rarest-gram prefixes. Everything
    * corpus-scaled persists + tracks ONCE here, so an operator needing
    * both the preflight arithmetic AND the join (the auto route) never
    * computes or caches the prologue twice — before this was shared, the
    * auto route's exact leg re-ran the gram explode, the df aggregation
    * and both prefix windows from scratch after the preflight had already
    * paid for them (guide §2.4: remove recomputed passes before tuning
    * anything inside them). */
  private final case class Prolog(
      l: DataFrame,
      r: DataFrame,
      longL: DataFrame,
      longR: DataFrame,
      gl: DataFrame,
      gr: DataFrame,
      dfreq: DataFrame,
      prefixL: DataFrame,
      prefixR: DataFrame,
      minLen: Int)

  private def prologue(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftCol: String,
      rightId: String,
      rightCol: String,
      maxDist: Int,
      q: Int,
      persistPrefix: Boolean): Prolog = {
    val l = sideFrame(left, leftId, leftCol, "left")
    val r = Scope.persist(sideFrame(right, rightId, rightCol, "right"))
    val minLenForFilter = q + maxDist * q // |s| ≥ this ⇒ count threshold ≥ 1
    val longL = Scope.persist(l.where(col("left_len") >= minLenForFilter))
    val longR = Scope.persist(r.where(col("right_len") >= minLenForFilter))
    val gl = Scope.persist(occGrams(longL, "left", q))
    val gr = Scope.persist(occGrams(longR, "right", q))
    // one global element order for both sides: df asc over the UNION
    // (rarest first), then (gram, occ) for determinism. Persisted: BOTH
    // prefix windows read it (it was recomputed once per side before).
    val dfreq = Scope.persist(gl.unionByName(gr).groupBy("__g", "__occ")
      .agg(count(lit(1)).as("__df")))
    val prefixLen = maxDist * q + 1
    // the prefix frames persist only when a caller consumes them twice
    // (the auto route: preflight counts + the exact join)
    def maybe(df: DataFrame): DataFrame =
      if (persistPrefix) Scope.persist(df) else df
    Prolog(l, r, longL, longR, gl, gr, dfreq,
      maybe(rarestPrefix(gl, dfreq, prefixLen, "left_id")),
      maybe(rarestPrefix(gr, dfreq, prefixLen, "right_id")),
      minLenForFilter)
  }

  // qgramJoin's candidate + verify plan over a prologue's frames.
  // Dedup placement (guide §2.3 — shuffle fewer bytes): the prefix join
  // emits a pair once per shared rare (gram, occ), so its ID pairs dedup
  // FIRST (16-byte rows) and only then join the values; the previous
  // shape joined values onto the duplicated pairs and deduped the full
  // (id, id, val, val) rows after the union. No dedup is needed across
  // the union at all: the long branch (both sides ≥ minLen) and the two
  // short legs (left < minLen × all; right < minLen × long left) are
  // pairwise disjoint by the length split, and each short leg emits a
  // pair at most once (the bucket key equals one side's exact length).
  private def joinFromProlog(p: Prolog, maxDist: Int): DataFrame = {
    val longCand = p.prefixL
      .join(p.prefixR, Seq("__g", "__occ"))
      .select("left_id", "right_id")
      .dropDuplicates("left_id", "right_id")
      .join(p.longL.select("left_id", "left_val", "left_len"), Seq("left_id"))
      .join(p.longR.select("right_id", "right_val", "right_len"), Seq("right_id"))
      .where(abs(col("left_len") - col("right_len")) <= maxDist)
      .select("left_id", "left_val", "right_id", "right_val")

    val shortCand = shortBranchCandidates(p.l, p.r, p.longL, maxDist, p.minLen, p.minLen)

    longCand.unionByName(shortCand)
      .withColumn("dist", levenshtein(col("left_val"), col("right_val")).cast("long"))
      .where(col("dist") <= maxDist)
      .select("left_id", "right_id", "dist")
  }

  // short branch, shared by qgramJoin, both similarityJoinAuto routes and
  // the incremental matcher: either side below its filter floor joins by
  // exact length bucket (2d+1 buckets per row) — candidates bounded, no
  // grams. Short-left buckets against ALL right; short-right against LONG
  // left only, so no short-short pair is generated twice. The two floors
  // may differ (the incremental matcher routes batch strings shorter than
  // the INDEX's planned floor anchor through this branch so the pinned
  // banding keeps its planned recall floor exactly).
  private def shortBranchCandidates(
      l: DataFrame,
      r: DataFrame,
      longL: DataFrame,
      maxDist: Int,
      minLenLeft: Int,
      minLenRight: Int): DataFrame = {
    val shortL = l.where(col("left_len") < minLenLeft)
    val shortR = r.where(col("right_len") < minLenRight)
    def lenBuckets(df: DataFrame, lenCol: String): DataFrame = df
      .withColumn("__bl", explode(sequence(
        col(lenCol) - maxDist, col(lenCol) + maxDist)))
    lenBuckets(shortL, "left_len").join(r.withColumn("__bl", col("right_len")),
      Seq("__bl"))
      .select("left_id", "left_val", "right_id", "right_val")
      .unionByName(
        lenBuckets(shortR, "right_len")
          .join(longL.withColumn("__bl", col("left_len")), Seq("__bl"))
          .select("left_id", "left_val", "right_id", "right_val"))
  }

  private def sideFrame(df: DataFrame, id: String, v: String, tag: String): DataFrame =
    df.select(col(id).cast("long").as(s"${tag}_id"),
      col(v).as(s"${tag}_val"), length(col(v)).as(s"${tag}_len"))

  // occurrence-numbered q-grams: (id, gram, occ) with occ = 1..multiplicity
  // — numbering via count+explode (map-side-combinable agg), no window:
  // any per-copy numbering realizes bag semantics, since (g, occ) equality
  // then matches exactly min(mult_left, mult_right) times per gram
  private def occGrams(df: DataFrame, tag: String, q: Int): DataFrame = df
    .where(col(s"${tag}_len") >= q)
    .select(col(s"${tag}_id").as("__id"),
      explode(expr(
        s"transform(sequence(1, ${tag}_len - ${q - 1}), i -> substring(${tag}_val, i, $q))"))
        .as("__g"))
    .groupBy("__id", "__g").agg(count(lit(1)).as("__m"))
    .select(col("__id"), col("__g"),
      explode(sequence(lit(1), col("__m"))).as("__occ"))

  // each string's prefixLen globally-RAREST (gram, occ) elements under the
  // shared union-df order — (df, g, occ) is a total order per id, so the
  // prefix set is engine- and layout-independent
  private def rarestPrefix(
      g: DataFrame,
      dfreq: DataFrame,
      prefixLen: Int,
      idOut: String): DataFrame = {
    val w = Window.partitionBy("__id")
      .orderBy(col("__df"), col("__g"), col("__occ"))
    g.join(dfreq, Seq("__g", "__occ"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= prefixLen)
      .select(col("__g"), col("__occ"), col("__id").as(idOut))
  }

  /** Pre-flight candidate-volume estimate for [[qgramJoin]] — the 100 TB
    * guard rail the ED-Join economics demand: the candidate volume is
    * ∝ Σ prefixDf², which the df SPECTRUM alone determines, so the cost
    * of the quadratic phase is knowable after only the LINEAR phase
    * (gram explode + df aggregation + per-string prefix windows). This
    * runs exactly that linear prologue, then counts — never materializes
    * — the pairs each branch of qgramJoin would generate:
    *
    *   long_pairs  = Σ_{(g,occ)} |prefixL(g,occ)| · |prefixR(g,occ)|
    *                 (group-then-multiply on the two prefix frames — the
    *                 exact pre-length-filter, pre-dedup row count of the
    *                 prefix equi-join)
    *   short_pairs = the short branch's exact length-bucket volume
    *                 (short-left × all-right + short-right × long-left
    *                 over the (2d+1)-bucket length histograms)
    *
    * Decision rule (route column): when total_pairs ≤ budgetPairs the
    * exact join is affordable — run [[qgramJoin]]. When it is not, the
    * corpus's gram spectrum is too low-entropy for the exact algorithm
    * at this scale: route to the approximate siblings instead —
    * Dedup.ppjoinPairs (prefix-Jaccard, x86) or minhash near-duplicates
    * (x07) with band/row parameters chosen by LshPlanner.lshPlan (x233).
    * Budget intuition: pairs × ~100 B shuffled + a Levenshtein verify
    * each; 10⁸ pairs ≈ 10 GB shuffle — a sane single-job default.
    *
    * Output (one row, exact integers): n_long_left, n_long_right,
    * n_short_left, n_short_right, long_pairs, short_pairs, total_pairs,
    * budget_pairs, within_budget, route.
    *
    * Scale shape: identical linear prologue to qgramJoin (same helpers),
    * then THREE metadata-sized aggregations — per-key prefix counts
    * joined and summed (never exploded into pairs), and two length
    * histograms. Consume the result inside a Scope. */
  def qgramJoinPreflight(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftCol: String,
      rightId: String,
      rightCol: String,
      maxDist: Int,
      q: Int = 2,
      budgetPairs: Long = 100000000L): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(q >= 1, "q must be >= 1")
    require(budgetPairs > 0L, "budgetPairs must be positive")
    preflightFromProlog(prologue(left, right, leftId, leftCol,
      rightId, rightCol, maxDist, q, persistPrefix = false),
      maxDist, budgetPairs)
  }

  // the preflight arithmetic over a prologue's frames: three
  // metadata-sized aggregations, never a pair row
  private def preflightFromProlog(
      p: Prolog,
      maxDist: Int,
      budgetPairs: Long): DataFrame = {
    val minLenForFilter = p.minLen
    val l = p.l
    val r = p.r
    val longL = p.longL
    val longR = p.longR

    // group-then-multiply: the prefix equi-join's output row count without
    // producing a single pair row
    val cl = p.prefixL
      .groupBy("__g", "__occ").agg(count(lit(1)).as("__ca"))
    val cr = p.prefixR
      .groupBy("__g", "__occ").agg(count(lit(1)).as("__cb"))
    val longPairs = cl.join(cr, Seq("__g", "__occ"))
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L)).as("long_pairs"))

    // short branch volume over length histograms, mirroring qgramJoin's
    // short-left × ALL right and short-right × LONG left unions
    def buckets(hist: DataFrame, lenCol: String): DataFrame = hist
      .withColumn("__bl", explode(sequence(
        col(lenCol) - maxDist, col(lenCol) + maxDist)))
    val histShortL = l.where(col("left_len") < minLenForFilter)
      .groupBy("left_len").agg(count(lit(1)).as("__c"))
    val histShortR = r.where(col("right_len") < minLenForFilter)
      .groupBy("right_len").agg(count(lit(1)).as("__c"))
    val histAllR = r.groupBy(col("right_len").as("__bl"))
      .agg(count(lit(1)).as("__cr"))
    val histLongL = longL.groupBy(col("left_len").as("__bl"))
      .agg(count(lit(1)).as("__cl"))
    val shortPairs = buckets(histShortL, "left_len").join(histAllR, Seq("__bl"))
      .select((col("__c") * col("__cr")).as("__p"))
      .unionByName(buckets(histShortR, "right_len").join(histLongL, Seq("__bl"))
        .select((col("__c") * col("__cl")).as("__p")))
      .agg(coalesce(sum(col("__p")), lit(0L)).as("short_pairs"))

    val counts = longL.agg(count(lit(1)).as("n_long_left"))
      .crossJoin(broadcast(longR.agg(count(lit(1)).as("n_long_right"))))
      .crossJoin(broadcast(l.where(col("left_len") < minLenForFilter)
        .agg(count(lit(1)).as("n_short_left"))))
      .crossJoin(broadcast(r.where(col("right_len") < minLenForFilter)
        .agg(count(lit(1)).as("n_short_right"))))

    counts
      .crossJoin(broadcast(longPairs))
      .crossJoin(broadcast(shortPairs))
      .withColumn("total_pairs", col("long_pairs") + col("short_pairs"))
      .withColumn("budget_pairs", lit(budgetPairs))
      .withColumn("within_budget", col("total_pairs") <= col("budget_pairs"))
      .withColumn("route",
        when(col("within_budget"), lit("qgram_exact"))
          .otherwise(lit("approximate_minhash")))
  }

  /** Analytic (bands, rowsPerBand) plan for the approximate edit-distance
    * route — the [[LshPlanner.lshPlan]] scoring rule fed by a DERIVED
    * similarity floor instead of a measured spectrum: a pair at edit
    * distance ≤ d whose shorter side has ≥ `lMinLong` chars shares at
    * least g − d·q of its g = lMinLong − q + 1 q-grams (each edit
    * destroys at most q grams; Gravano 2001 / Xiao ED-Join 2008), so its
    * q-gram Jaccard is at least
    *   (g − d·q) / (g + d·q + d)
    * The floor gets a 10 % haircut because the engine hashes DISTINCT
    * grams (a bag-count bound applied to sets — repeated-gram strings can
    * sit slightly below it). P(s) = 1 − (1 − s^r)^b is increasing in s,
    * so any config with P(floor) ≥ targetRecallPpm detects every such
    * pair with at least that probability; among qualifying configs the
    * FEWEST bands (= least bucket-join shuffle) wins, the x233 economics.
    * When no config qualifies (floor too low for the signature budget)
    * the max-recall split (numPerms bands × 1 row) ships — documented
    * best-effort, visible via the returned threshold.
    *
    * Returns (bands, rowsPerBand, thresholdPpm). */
  private[operators] def planBandsForEditDistance(
      lMinLong: Int,
      maxDist: Int,
      q: Int,
      numPerms: Int,
      targetRecallPpm: Long): (Int, Int, Long) = {
    require(numPerms >= 2 && Integer.bitCount(numPerms) == 1,
      "planBandsForEditDistance: numPerms must be a power of two")
    val thresholdPpm = editFloorPpm(lMinLong, maxDist, q)
    val configs = Iterator.iterate(1)(_ * 2).takeWhile(_ <= numPerms)
      .map(r => (numPerms / r, r)).toSeq
    val qualifying = configs.filter { case (b, r) =>
      LshPlanner.detectPpm(thresholdPpm, b, r) >= targetRecallPpm
    }
    val (b, r) =
      if (qualifying.nonEmpty) qualifying.minBy(_._1) else (numPerms, 1)
    (b, r, thresholdPpm)
  }

  /** The derived q-gram Jaccard floor (ppm, incl. the distinct-gram
    * haircut — see [[planBandsForEditDistance]]) for a pair whose shorter
    * side has `len` chars at edit distance ≤ maxDist. Monotone
    * non-decreasing in `len`. */
  private def editFloorPpm(len: Int, maxDist: Int, q: Int): Long = {
    val g = len - q + 1
    val interMin = g.toLong - maxDist.toLong * q
    val unionMax = g.toLong + maxDist.toLong * q + maxDist
    val boundPpm =
      if (interMin <= 0L || unionMax <= 0L) 1L
      else interMin * 1000000L / unionMax
    math.max(1L, boundPpm * 9L / 10L)
  }

  /** Budget-gated AUTO-ROUTED edit-distance similarity join — the
    * operator a 100 TB user actually calls: run [[qgramJoinPreflight]]
    * first (linear cost, one metadata row), then execute whichever plan
    * the verdict routes to, tagging every output row with the route
    * taken.
    *
    *   - within budget  → [[qgramJoin]], the exact ED-Join
    *                      (route = 'qgram_exact')
    *   - over budget    → banded char-gram MinHash-LSH candidates
    *                      across the two sides (SIGNATURE grams of size
    *                      max(q+2, 5) — longer than the verification
    *                      grams, the ED-Join signature/verification
    *                      split, so minhash minima keep their entropy
    *                      on common-gram corpora) with
    *                      [[planBandsForEditDistance]]-chosen (b, r),
    *                      verified by exact Levenshtein
    *                      (route = 'approximate_minhash')
    *
    * Both routes share the exact SHORT-string branch (bounded
    * length-bucket equi-join — it is never the quadratic term the
    * preflight guards against) and the same verify predicate, so the
    * approximate route's output is always a SUBSET of the exact route's
    * (precision 1 by construction; recall ≥ the planned floor for pairs
    * at/above the corpus's minimum long-string length, for corpora
    * where repeated grams are a small fraction of each string's grams —
    * the planner's floor converts a bag-count gram bound to distinct-
    * gram Jaccard with a 10 % haircut, which strings DOMINATED by
    * repeated grams can undershoot; see [[planBandsForEditDistance]]).
    * The reference
    * applies the same guard-before-ingest philosophy at download time
    * (udata_hydra utils/file.py:48-65 aborts oversized payloads before
    * paying for them); here the guarded resource is the candidate-pair
    * shuffle.
    *
    * Scale shape: the preflight is the linear prologue + metadata
    * aggregations (collected: ONE row). The exact route is qgramJoin's
    * documented shape. The approximate route explodes b band keys per
    * long string (b rows, linear), equi-joins band buckets across sides
    * (never within — no self-join), joins values back by id, and only
    * candidates pay Levenshtein. Driver state: the preflight row and two
    * length minima.
    *
    * Output: (left_id, right_id, dist, route). Consume the result inside a Scope. */
  def similarityJoinAuto(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftCol: String,
      rightId: String,
      rightCol: String,
      maxDist: Int,
      q: Int = 2,
      budgetPairs: Long = 100000000L,
      numPerms: Int = 64,
      targetRecallPpm: Long = 950000L): DataFrame = {
    require(targetRecallPpm >= 1L && targetRecallPpm <= 1000000L,
      "similarityJoinAuto: targetRecallPpm in [1, 1e6]")
    // ONE shared prologue (guide §2.4): the preflight prices from the
    // same persisted frames the exact route then joins — with the
    // prefix frames persisted too, the verdict's group-counts
    // materialize exactly the frames the join consumes, so the exact
    // route pays zero recomputation. The round-12 hygiene rule (the
    // preflight's scratch must not stay pinned through the routed
    // join) survives in sharper form: frames the ROUTE no longer needs
    // (the gram + df spectrum once the prefixes are materialized; the
    // whole q-gram prologue on the approximate route) release right
    // after the verdict row lands, and only frames the join actually
    // reads stay cached.
    val p = prologue(left, right, leftId, leftCol, rightId, rightCol,
      maxDist, q, persistPrefix = true)
    val pf = preflightFromProlog(p, maxDist, budgetPairs).collect()(0)
    if (pf.getAs[Boolean]("within_budget")) {
      // the persisted prefixes were materialized by the preflight's
      // group-counts; the gram/df frames are fully consumed
      Seq(p.gl, p.gr, p.dfreq).foreach(_.unpersist(blocking = false))
      joinFromProlog(p, maxDist)
        .withColumn("route", lit("qgram_exact"))
    } else {
      // the signature route regrams at sigQ — only the side projections
      // survive; everything q-gram-scaled releases now
      Seq(p.longL, p.longR, p.gl, p.gr, p.dfreq, p.prefixL, p.prefixR)
        .foreach(_.unpersist(blocking = false))
      graft.functions.GraftFunctions.register(left.sparkSession)
      val l = p.l
      val r = p.r
      // SIGNATURE grams are LONGER than the verification grams (Xiao
      // ED-Join 2008 separates signature from verification granularity):
      // the q-gram bound loses almost nothing from a larger gram — for
      // L=39, d=1: (g−3q')/(g+3) barely moves from q'=3 to q'=5 — but the
      // gram UNIVERSE grows combinatorially, so the corpus-wide minhash
      // minima stop concentrating on a handful of ubiquitous trigrams
      // (measured at sf10: 3-gram signatures put ~10⁹ candidate pairs
      // into a few hot buckets; 5-gram signatures restore entropy).
      val sigQ = math.max(q + 2, 5)
      // strings too short for a positive SIGNATURE bound go through the
      // exact short branch below — a larger set than the exact route's
      // short branch, still bounded by the length-bucket equi-join shape
      val minLenForFilter = sigQ + maxDist * sigQ
      val longL = Scope.persist(l.where(col("left_len") >= minLenForFilter))
      val longR = Scope.persist(r.where(col("right_len") >= minLenForFilter))

      // the similarity floor anchors at the shortest LONG string across
      // both sides (two metadata aggregations); when either side has no
      // long strings the long branch is empty and any split works
      val lMinLong = (longL.agg(min("left_len")).collect()(0),
        longR.agg(min("right_len")).collect()(0)) match {
        case (a, b) if a.isNullAt(0) || b.isNullAt(0) => None
        case (a, b) => Some(math.min(a.getInt(0), b.getInt(0)))
      }
      val (bands, rowsPerBand, _) = lMinLong
        .map(planBandsForEditDistance(_, maxDist, sigQ, numPerms, targetRecallPpm))
        .getOrElse((numPerms, 1, 1L))

      def banded(df: DataFrame, tag: String): DataFrame = df
        .select(col(s"${tag}_id"),
          posexplode(call_function("graft_minhash_bands",
            call_function("graft_ngram_hashes", col(s"${tag}_val"), lit(sigQ)),
            lit(bands), lit(rowsPerBand))))
        .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bh"))
        .select(col("__band"), col("__bh"), col(s"${tag}_id"))

      // band-bucket equi-join ACROSS sides — only (band, hash, id) travel;
      // values join back by id exactly as qgramJoin's long branch does.
      // SALTED (the Skew.saltedJoin discipline, inlined for the two-column
      // key): a skewed gram spectrum concentrates a large share of the
      // corpus on one (band, hash) bucket, and an unsalted join makes ONE
      // task emit and partially dedup that bucket's entire c_l x c_r
      // candidate block (measured: a 20+ min single-thread straggler at
      // sf10 while 31 cores idled). The left side salts by id hash (ids
      // are unique per bucket, so a hot bucket spreads across all salts);
      // the right side replicates into every salt — 16x a frame of
      // ~28-byte rows, a fixed parallel cost that buys bucket emission
      // parallelism. AQE can't fix this one: its skew split looks at the
      // join INPUT partition sizes, and a hot band bucket's inputs are
      // small — only its OUTPUT is quadratic.
      val salts = 16
      val bl = banded(longL, "left")
        .withColumn("__salt",
          pmod(xxhash64(col("left_id")), lit(salts)).cast("int"))
      val br = banded(longR, "right")
        .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      // every frame in this join tree is ROW-SCALED (band keys, candidate
      // pairs, the long-string sides), so none may ever become a
      // broadcast build side: AQE's compressed-size estimate can dip
      // under the autoBroadcast threshold while the deserialized rows
      // run to GBs (observed at sf10: a 1 GiB BroadcastExchange collect
      // aborted on spark.driver.maxResultSize). shuffle_hash hints pin
      // shuffled joins — the 100 TB-safe plan — at every step.
      val longCand = bl.hint("shuffle_hash")
        .join(br, Seq("__band", "__bh", "__salt"))
        .select("left_id", "right_id")
        .dropDuplicates("left_id", "right_id")
        .join(longL.select("left_id", "left_val", "left_len")
          .hint("shuffle_hash"), Seq("left_id"))
        .join(longR.select("right_id", "right_val", "right_len")
          .hint("shuffle_hash"), Seq("right_id"))
        .where(abs(col("left_len") - col("right_len")) <= maxDist)
        .select("left_id", "left_val", "right_id", "right_val")

      val shortCand = shortBranchCandidates(l, r, longL, maxDist, minLenForFilter, minLenForFilter)

      // no dedup across the union (the joinFromProlog argument): the
      // banded branch (both sides ≥ sigMinLen, deduped above) and the
      // two short legs are pairwise disjoint by the length split, and
      // each short leg emits a pair at most once
      longCand.unionByName(shortCand)
        .withColumn("dist",
          levenshtein(col("left_val"), col("right_val")).cast("long"))
        .where(col("dist") <= maxDist)
        .select("left_id", "right_id", "dist")
        .withColumn("route", lit("approximate_minhash"))
    }
  }

  /** Pre-built corpus-side index for [[incrementalSimilarityJoin]] — the
    * CONTINUOUS form of the [[similarityJoinAuto]] guard rail: everything
    * corpus-scaled (the side projection, the corpus df spectrum, the
    * rarest-gram prefixes and their per-key counts, the planned-banding
    * signature table, the pricing histogram) is computed ONCE and
    * persisted, so each arriving batch pays only batch-linear work to be
    * priced AND matched. Release with [[QgramIndex.release]] when the
    * maintenance loop retires the index (deliberately NOT tracked by a
    * Scope — the index outlives batches). */
  final case class QgramIndex private[operators] (
      side: DataFrame,
      dfreq: DataFrame,
      prefix: DataFrame,
      prefixCounts: DataFrame,
      bandedSig: DataFrame,
      lenHist: DataFrame,
      maxDist: Int,
      q: Int,
      sigQ: Int,
      bands: Int,
      rowsPerBand: Int,
      thresholdPpm: Long,
      lMinLong: Option[Int],
      anchorLen: Int,
      private val cached: Seq[DataFrame]) {
    /** Unpersist every frame this index pinned. */
    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** Build a [[QgramIndex]] over the stored (clean) corpus — ONE corpus
    * scan amortized over every future batch:
    *
    *   - `side`          (right_id, right_val, right_len), the verify side
    *   - `dfreq`         the CORPUS-ONLY (gram, occ) document frequencies.
    *                     Batch prefixes rank under this same order with
    *                     unseen grams at df 0 — the ED-Join prefix lemma
    *                     holds under ANY total order shared by both sides
    *                     of a pair, and a shared gram is by definition in
    *                     the corpus universe, so corpus-df order is a
    *                     valid (and batch-independent) global order.
    *   - `prefix`        each corpus string's d·q+1 rarest (gram, occ)
    *                     elements; `prefixCounts` their per-key counts
    *                     (the group-then-multiply pricing operand)
    *   - `bandedSig`     minhash band keys of the sigQ-gram signatures at
    *                     (bands, rowsPerBand) PLANNED AT BUILD TIME from
    *                     the corpus's min long-string length — pinned, so
    *                     the per-batch recall floor stays exactly the
    *                     planned one (batches route shorter strings
    *                     through the exact length-bucket branch instead
    *                     of diluting the floor)
    *   - `lenHist`       the corpus length histogram (pricing + metadata)
    */
  def buildQgramIndex(
      right: DataFrame,
      rightId: String,
      rightCol: String,
      maxDist: Int,
      q: Int = 2,
      numPerms: Int = 64,
      targetRecallPpm: Long = 950000L): QgramIndex = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(q >= 1, "q must be >= 1")
    graft.functions.GraftFunctions.register(right.sparkSession)
    val r = sideFrame(right, rightId, rightCol, "right").persist()
    val minLenExact = q + maxDist * q
    val longR = r.where(col("right_len") >= minLenExact)
    val gr = occGrams(longR, "right", q).persist()
    val dfreq = gr.groupBy("__g", "__occ").agg(count(lit(1)).as("__df")).persist()
    val prefixLen = maxDist * q + 1
    val prefix = rarestPrefix(gr, dfreq, prefixLen, "right_id").persist()
    val prefixCounts = prefix.groupBy("__g", "__occ")
      .agg(count(lit(1)).as("__cb")).persist()
    val lenHist = r.groupBy(col("right_len").as("__bl"))
      .agg(count(lit(1)).as("__cr")).persist()

    val sigQ = math.max(q + 2, 5)
    val sigMinLen = sigQ + maxDist * sigQ
    val longSigR = r.where(col("right_len") >= sigMinLen)
    val lMinLong = longSigR.agg(min("right_len")).collect()(0) match {
      case row if row.isNullAt(0) => None
      case row => Some(row.getInt(0))
    }
    val (bands, rowsPerBand, thresholdPpm) = lMinLong
      .map(planBandsForEditDistance(_, maxDist, sigQ, numPerms, targetRecallPpm))
      .getOrElse((numPerms, 1, 1L))
    // the shortest batch string the PINNED (bands, rowsPerBand) still
    // detects at >= targetRecallPpm on its length's similarity floor —
    // batch strings below it take the exact length-bucket branch instead
    // of diluting the planned recall. When planning succeeded this is
    // <= lMinLong (floor is monotone in length), so every corpus-banded
    // string clears it by construction; when no config qualified even at
    // lMinLong, it can exceed lMinLong (banding can't meet the target
    // there — exactness-by-bucket is the honest fallback) and caps at
    // sigMinLen + 4096 ~ "no length qualifies".
    val anchorLen = (sigMinLen to (sigMinLen + 4096)).find { len =>
      LshPlanner.detectPpm(editFloorPpm(len, maxDist, sigQ),
        bands, rowsPerBand) >= targetRecallPpm
    }.getOrElse(Int.MaxValue)
    val bandedSig = longSigR
      .select(col("right_id"),
        posexplode(call_function("graft_minhash_bands",
          call_function("graft_ngram_hashes", col("right_val"), lit(sigQ)),
          lit(bands), lit(rowsPerBand))))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bh"))
      .select(col("__band"), col("__bh"), col("right_id"))
      .persist()

    // materialize the query-time frames now (the build-time scan), then
    // retire the gram frame — prefix/prefixCounts fully consumed it.
    // Deliberately SEQUENTIAL: concurrent fills (guide §2.6) were tried
    // in round 13 and measured 2× slower end-to-end here — the six
    // frames form a dependency CHAIN (prefixCounts → prefix → dfreq →
    // gr → r), so concurrent jobs mostly contend on the same cache
    // blocks instead of overlapping independent work.
    Seq(r, dfreq, prefix, prefixCounts, lenHist, bandedSig).foreach(_.count())
    gr.unpersist(blocking = false)

    QgramIndex(r, dfreq, prefix, prefixCounts, bandedSig, lenHist,
      maxDist, q, sigQ, bands, rowsPerBand, thresholdPpm, lMinLong, anchorLen,
      cached = Seq(r, dfreq, prefix, prefixCounts, lenHist, bandedSig))
  }

  /** Budget-gated ROUTED matching of one batch against a [[QgramIndex]] —
    * [[similarityJoinAuto]] made continuous: every micro-batch of a
    * maintenance loop is priced (batch-linear: batch grams + prefix
    * counts joined against the index's pre-aggregated counts, batch
    * length histogram against the corpus one — ONE collected row) and
    * then executes the routed plan against the index, so the 100 TB
    * guard rail holds per batch, not once per job.
    *
    *   - within budget  → exact ED-Join of batch prefixes against the
    *                      index's stored prefixes (route = 'qgram_exact')
    *   - over budget    → batch signature bands against the index's
    *                      PINNED banding (route = 'approximate_minhash');
    *                      batch strings shorter than the planned floor
    *                      anchor take the exact length-bucket branch, so
    *                      recall ≥ the floor planned at BUILD time (same
    *                      repeated-gram caveat as similarityJoinAuto)
    *
    * Both routes share the exact short branch and the Levenshtein verify
    * (approximate ⊆ exact, precision 1). With `broadcastBatch` (default)
    * the batch side of the candidate joins broadcasts, so the index's
    * band/prefix tables never shuffle — the incrementalNearDuplicates
    * posture; the id-keyed verify fetches against `index.side` stay
    * shuffled (store the corpus bucketed by id to co-locate them at
    * 100 TB). Output: (left_id, right_id, dist, route). Consume each
    * batch's result inside a Scope. */
  // the per-batch projections every incremental entry point starts from:
  // side frame, its exact-route long split, and the batch prefixes ranked
  // under the INDEX's corpus-df order (unseen grams at df 0 — any order
  // extension is valid, see buildQgramIndex). All three persisted +
  // tracked on the calling thread.
  private def batchFrames(
      batch: DataFrame,
      index: QgramIndex,
      leftId: String,
      leftCol: String): (DataFrame, DataFrame, DataFrame) = {
    val d = index.maxDist
    val q = index.q
    val minLenExact = q + d * q
    val l = Scope.persist(sideFrame(batch, leftId, leftCol, "left"))
    val longL = Scope.persist(l.where(col("left_len") >= minLenExact))
    val w = Window.partitionBy("__id")
      .orderBy(col("__df"), col("__g"), col("__occ"))
    val lPrefix = Scope.persist(occGrams(longL, "left", q)
      .join(index.dfreq, Seq("__g", "__occ"), "left")
      .na.fill(0L, Seq("__df"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= d * q + 1)
      .select(col("__g"), col("__occ"), col("__id").as("left_id")))
    (l, longL, lPrefix)
  }

  // the qgramJoinPreflight arithmetic against PRE-AGGREGATED index
  // operands: batch prefix counts × stored prefix counts (long branch)
  // plus the two length-histogram products (short branch) — batch-linear,
  // ONE collected row
  private def priceAgainst(
      l: DataFrame,
      longL: DataFrame,
      lPrefix: DataFrame,
      index: QgramIndex): Long = {
    val d = index.maxDist
    val minLenExact = index.q + d * index.q
    val longPairs = lPrefix.groupBy("__g", "__occ")
      .agg(count(lit(1)).as("__ca"))
      .join(index.prefixCounts, Seq("__g", "__occ"))
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L)).as("lp"))
    val histShortL = l.where(col("left_len") < minLenExact)
      .groupBy("left_len").agg(count(lit(1)).as("__c"))
      .withColumn("__bl", explode(sequence(
        col("left_len") - d, col("left_len") + d)))
    val histLongL = longL.groupBy(col("left_len").as("__bl"))
      .agg(count(lit(1)).as("__cl"))
    val shortPairs = histShortL
      .join(index.lenHist, Seq("__bl"))
      .select((col("__c") * col("__cr")).as("__p"))
      .unionByName(index.lenHist.where(col("__bl") < minLenExact)
        .withColumnRenamed("__bl", "__rl")
        .withColumn("__bl", explode(sequence(col("__rl") - d, col("__rl") + d)))
        .join(histLongL, Seq("__bl"))
        .select((col("__cr") * col("__cl")).as("__p")))
      .agg(coalesce(sum(col("__p")), lit(0L)).as("sp"))
    longPairs.crossJoin(broadcast(shortPairs))
      .select((col("lp") + col("sp")).as("total")).collect()(0).getLong(0)
  }

  /** Price ONE batch against a [[QgramIndex]] without executing any join:
    * the exact route's projected candidate volume (pre-dedup), the same
    * number [[incrementalSimilarityJoin]] gates on — exposed so a
    * maintenance loop can observe/log the guard rail's verdicts. Cost is
    * batch-linear; its scratch caches release before returning. */
  def incrementalPreflight(
      batch: DataFrame,
      index: QgramIndex,
      leftId: String,
      leftCol: String): Long = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    Scope {
      val (l, longL, lPrefix) = batchFrames(batch, index, leftId, leftCol)
      priceAgainst(l, longL, lPrefix, index)
    }
  }

  def incrementalSimilarityJoin(
      batch: DataFrame,
      index: QgramIndex,
      leftId: String,
      leftCol: String,
      budgetPairs: Long = 100000000L,
      broadcastBatch: Boolean = true): DataFrame = {
    require(budgetPairs > 0L, "budgetPairs must be positive")
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val d = index.maxDist
    val (l, longL, lPrefix) = batchFrames(batch, index, leftId, leftCol)
    val priced = priceAgainst(l, longL, lPrefix, index)

    def maybeBroadcast(df: DataFrame): DataFrame =
      if (broadcastBatch) broadcast(df) else df.hint("shuffle_hash")
    def verify(cands: DataFrame, route: String): DataFrame = cands
      .dropDuplicates("left_id", "right_id")
      .join(l.select("left_id", "left_val", "left_len"), Seq("left_id"))
      .join(index.side.select("right_id", "right_val", "right_len")
        .hint("shuffle_hash"), Seq("right_id"))
      .where(abs(col("left_len") - col("right_len")) <= d)
      .withColumn("dist",
        levenshtein(col("left_val"), col("right_val")).cast("long"))
      .where(col("dist") <= d)
      .select("left_id", "right_id", "dist")
      .withColumn("route", lit(route))

    if (priced <= budgetPairs) {
      val longCand = index.prefix
        .join(maybeBroadcast(lPrefix), Seq("__g", "__occ"))
        .select("left_id", "right_id")
      val minLenExact = index.q + d * index.q
      val shortCand = shortBranchCandidates(l, index.side, longL,
        d, minLenExact, minLenExact).select("left_id", "right_id")
      verify(longCand.unionByName(shortCand), "qgram_exact")
    } else {
      // floor anchor: batch strings shorter than the length at which the
      // PINNED banding still meets the recall target take the exact
      // bucket branch (see buildQgramIndex's anchorLen derivation);
      // corpus-banded strings clear the anchor by construction, so every
      // BANDED pair detects at >= the planned target
      val anchor = index.anchorLen
      val sigMinLenR = index.sigQ + d * index.sigQ
      val bandedL = l.where(col("left_len") >= anchor)
        .select(col("left_id"),
          posexplode(call_function("graft_minhash_bands",
            call_function("graft_ngram_hashes", col("left_val"),
              lit(index.sigQ)),
            lit(index.bands), lit(index.rowsPerBand))))
        .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bh"))
        .select(col("__band"), col("__bh"), col("left_id"))
      val longCand = index.bandedSig
        .join(maybeBroadcast(bandedL), Seq("__band", "__bh"))
        .select("left_id", "right_id")
      val longAnchorL = Scope.persist(l.where(col("left_len") >= anchor))
      val shortCand = shortBranchCandidates(l, index.side, longAnchorL,
        d, anchor, sigMinLenR).select("left_id", "right_id")
      verify(longCand.unionByName(shortCand), "approximate_minhash")
    }
  }
}
