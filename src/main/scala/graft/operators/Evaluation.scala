package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier evaluation over a scored corpus — the harness a quality
  * filter needs before its threshold is trusted on 100 TB: sweep a score
  * column against a boolean label and report the confusion counts +
  * precision/recall/F1 at every threshold.
  *
  * Scale shape: ONE aggregation pass computes every threshold's
  * (tp, fp, fn, tn) as conditional sums — thresholds are plan literals,
  * so the corpus is scanned once, never exploded |thresholds|×, and the
  * reduce state is 4·|thresholds| longs. The per-threshold unpivot then
  * runs on a single 1-row frame (driver-sized). Deterministic end to end
  * — x105's oracle recomputes the same counts and ratio algebra in SQL. */
object Evaluation {

  /** (threshold, tp, fp, fn, tn, precision, recall, f1) per threshold.
    * A null score matches neither `>= t` nor `< t` and lands in no count
    * (mirrors SQL three-valued logic). Precision/recall/F1 define 0/0 as
    * 0.0; ratios are computed unrounded and rounded at the output. */
  def prCurve(
      df: DataFrame,
      score: Column,
      label: Column,
      thresholds: Seq[Double],
      roundTo: Int = 4): DataFrame = {
    require(thresholds.nonEmpty, "prCurve needs at least one threshold")
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(score >= t && label, 1L).otherwise(0L)).as(s"__tp_$i"),
        sum(when(score >= t && !label, 1L).otherwise(0L)).as(s"__fp_$i"),
        sum(when(score < t && label, 1L).otherwise(0L)).as(s"__fn_$i"),
        sum(when(score < t && !label, 1L).otherwise(0L)).as(s"__tn_$i"))
    }
    val counts = df.agg(aggs.head, aggs.tail: _*)
    val perT = thresholds.zipWithIndex.map { case (t, i) =>
      struct(
        lit(t).as("threshold"),
        col(s"__tp_$i").as("tp"), col(s"__fp_$i").as("fp"),
        col(s"__fn_$i").as("fn"), col(s"__tn_$i").as("tn"))
    }
    val long = counts
      .select(explode(array(perT: _*)).as("r"))
      .select(col("r.threshold").as("threshold"),
        col("r.tp").as("tp"), col("r.fp").as("fp"),
        col("r.fn").as("fn"), col("r.tn").as("tn"))
    val p = when(col("tp") + col("fp") === 0L, lit(0.0))
      .otherwise(col("tp") / (col("tp") + col("fp")))
    val r = when(col("tp") + col("fn") === 0L, lit(0.0))
      .otherwise(col("tp") / (col("tp") + col("fn")))
    val f1 = when(p + r === 0.0, lit(0.0)).otherwise(lit(2.0) * p * r / (p + r))
    long.select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
      round(p, roundTo).as("precision"),
      round(r, roundTo).as("recall"),
      round(f1, roundTo).as("f1"))
  }

  /** One-row ranking report for a scored binary target: exact Mann–Whitney
    * AUC, accuracy at `predThreshold`, and MSE —
    * (n, n_pos, n_neg, auc, accuracy, mse).
    *
    * AUC uses average ranks over ties, computed EXACTLY in integer
    * arithmetic: group by score value, cumulative-count window, then
    * AUC = (Σ p_s·(2·cum_s + n_s + 1) − n_pos·(n_pos+1)) /
    * (2·n_pos·n_neg) — every term a long until the final division, so the
    * result is order- and partitioning-independent (the same exact-integer
    * contract as the fixed-point PageRank). Degenerate inputs (single
    * class) yield NULL auc rather than a fake 0.5.
    *
    * Scale shape: scores in this engine are 4-dp-quantized, so the
    * group-by collapses the corpus to ≤ ~10⁴ distinct values and the
    * (single-partition) cumulative window runs on THAT — bounded —
    * frame, never on corpus rows. The corpus itself is touched by one
    * keyed aggregation with two-long partials. */
  def aucReport(
      df: DataFrame,
      score: Column,
      label: Column,
      predThreshold: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    val s = df.select(score.as("s"), label.cast("boolean").as("y"))
    val byScore = s.groupBy("s").agg(
      count(lit(1)).as("n"),
      sum(when(col("y"), 1L).otherwise(0L)).as("p"),
      sum(when((col("s") >= predThreshold) === col("y"), 1L).otherwise(0L))
        .as("correct"),
      sum((col("s") - when(col("y"), 1.0).otherwise(0.0)) *
        (col("s") - when(col("y"), 1.0).otherwise(0.0))).as("se"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = byScore.withColumn("cum", coalesce(sum("n").over(w), lit(0L)))
    val agg = ranked.agg(
      sum(col("p") * (lit(2L) * col("cum") + col("n") + lit(1L))).as("ph"),
      sum("n").as("ntot"), sum("p").as("npos"),
      sum("correct").as("corr"), sum("se").as("sse"))
    agg.select(
      col("ntot").as("n"),
      col("npos").as("n_pos"),
      (col("ntot") - col("npos")).as("n_neg"),
      when(col("npos") === 0L || col("ntot") === col("npos"), lit(null))
        .otherwise(round(
          (col("ph") - col("npos") * (col("npos") + lit(1L))) /
            (lit(2.0) * col("npos") * (col("ntot") - col("npos"))), roundTo))
        .cast("double").as("auc"),
      round(col("corr") / col("ntot"), roundTo).as("accuracy"),
      round(col("sse") / col("ntot"), roundTo).as("mse"))
  }

  /** Feature-separability screening: the exact tie-corrected Mann–Whitney
    * AUC of EVERY candidate feature against a binary label, in one plan —
    * "which cheap signals actually separate the classes" before anyone
    * trains a probe. Unlike aucReport (one fp-rounded score), this emits
    * exact integer ppm (2U·10⁶ ÷ 2·n₊·n₋, floor), so the screening table
    * replays bit-for-bit in any engine, and ranks features by distance
    * from the coin-flip 500000.
    *
    * Scale shape: features fan out via ONE explode of the source row (a
    * single corpus scan), collapse to (feature, value) groups map-side,
    * and the rank algebra runs on the distinct-value frame under a window
    * PARTITIONED by feature — corpus-sized work is one keyed exchange;
    * the window never sees more than one feature's distinct values. For a
    * single high-cardinality feature at extreme scale, substitute the
    * two-phase range rank (Sharding.rankByColumns' rationale). */
  def featureAuc(
      df: DataFrame,
      label: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "featureAuc needs at least one feature")
    val rows = df.select(
      label.cast("boolean").as("y"),
      explode(array(features.map { case (name, c) =>
        struct(lit(name).as("feature"), c.cast("long").as("v"))
      }: _*)).as("fv"))
      .select(col("fv.feature").as("feature"), col("fv.v").as("v"), col("y"))
      .where(col("v").isNotNull && col("y").isNotNull)
    val byValue = rows.groupBy("feature", "v").agg(
      count(lit(1)).as("n"),
      sum(when(col("y"), 1L).otherwise(0L)).as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("feature").orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = byValue.withColumn("cum", coalesce(sum("n").over(w), lit(0L)))
    val perFeature = ranked.groupBy("feature").agg(
      sum(col("p") * (lit(2L) * col("cum") + col("n") + lit(1L))).as("ph"),
      sum("n").as("n"), sum("p").as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
      .withColumn("auc_ppm",
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            "((ph - n_pos * (n_pos + 1)) * 1000000) div (2 * n_pos * n_neg)")))
    // separability rank over the |features|-row frame (bounded window)
    perFeature
      .withColumn("sep", abs(col("auc_ppm") - lit(500000L)))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc_nulls_last("sep"), col("feature"))).cast("long"))
      .select("feature", "n", "n_pos", "n_neg", "auc_ppm", "rank")
  }

  /** Reliability diagram (calibration report) for a scored binary target:
    * per equal-width score bin, (bin, lo, n, mean_score, frac_pos, gap)
    * where gap = |frac_pos − mean_score| is the per-bin calibration error
    * (weighted-averaging the gaps gives ECE). Scores outside [0, 1) land
    * in clamp bins −1 / nBins so a probe whose logits escape the unit
    * interval is VISIBLE, not silently folded into the edge bins.
    *
    * Scale shape: one keyed aggregation to nBins+2 groups with three-value
    * partials — map-side combined, constant state. Determinism: bin index
    * is floor(s·nBins) on the 4-dp-quantized score (one IEEE multiply +
    * floor, identical in any engine); means round at 6 over sums of
    * quantized values. */
  def calibrationReport(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10,
      roundTo: Int = 6): DataFrame =
    finishCalibration(calibrationBinStats(df, score, label, nBins), nBins, roundTo)

  /** The STATEFUL half of the reliability diagram: per-bin
    * (bin, n, sum_s, n_pos) — three commutative numbers per bin, which is
    * exactly the aggregation state Structured Streaming maintains
    * incrementally (streaming/StreamingCalibration). */
  def calibrationBinStats(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 10000, "calibrationReport: nBins in [1, 10000]")
    val s = df.select(score.as("s"), label.cast("boolean").as("y"))
    val bin = when(col("s") < 0.0, lit(-1))
      .when(col("s") >= 1.0, lit(nBins))
      .otherwise(floor(col("s") * nBins).cast("int"))
    s.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum("s").as("sum_s"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
  }

  /** The stateless finishing view over the ≤ nBins+2-row statistics:
    * means rounded, gap arithmetic. Shared by the batch report and the
    * streaming twin's consumer so the two legs agree by construction. */
  def finishCalibration(
      stats: DataFrame,
      nBins: Int = 10,
      roundTo: Int = 6): DataFrame =
    stats
      .select(col("bin"), col("n"),
        round(col("sum_s") / col("n"), roundTo).as("mean_score"),
        round(col("n_pos") / col("n"), roundTo).as("frac_pos"))
      .select(col("bin"), round(col("bin") / lit(nBins.toDouble), 4).as("lo"),
        col("n"), col("mean_score"), col("frac_pos"),
        round(abs(col("frac_pos") - col("mean_score")), roundTo).as("gap"))

  /** Inter-rater agreement (Cohen's kappa, multi-class) between two
    * categorical raters — the check a labeling pipeline needs before one
    * noisy signal is trusted to gate another (e.g. two quality heuristics
    * that "agree 85%" may owe all of it to chance on a skewed corpus).
    * One row: (n, n_classes, agree, po_ppm, pe_ppm, kappa_ppm) with
    * po = Σ_k n_kk / n, pe = Σ_k row_k·col_k / n², and
    * kappa = (n·agree − Σ row·col) / (n² − Σ row·col).
    *
    * Exact end to end: every term is an integer, carried in
    * decimal(38,0) so n up to ~10¹⁶ rows squares without overflow, and
    * the three ratios are parts-per-million INTEGER divisions — the
    * result is partitioning- and order-independent, bit-replayable by
    * any engine with 128-bit integers (the oracle uses HUGEINT).
    * Rows where either rater is NULL are excluded (no agreement claim
    * can be made). Degenerate chance-perfect tables (n² = Σ row·col,
    * e.g. a single class) yield NULL kappa rather than a fake value.
    *
    * Scale shape: ONE keyed aggregation collapses the corpus to the
    * (classes × classes) contingency table; margins, the Σ row·col
    * join, and the final algebra all run on that driver-sized frame.
    * The corpus is scanned once with two-long partials per cell. */
  def agreementReport(df: DataFrame, a: Column, b: Column): DataFrame = {
    val dec = "decimal(38,0)"
    // the classes²-row contingency feeds five downstream aggregates —
    // cache it so the corpus is scanned exactly once (released by the caller's Scope)
    val cells = Scope.persist(df
      .where(a.isNotNull && b.isNotNull)
      .groupBy(a.cast("string").as("ra"), b.cast("string").as("rb"))
      .agg(count(lit(1)).cast(dec).as("c")))
    val classes = cells.select(col("ra").as("k"))
      .unionAll(cells.select(col("rb").as("k")))
      .agg(countDistinct(col("k")).as("n_classes"))
    val rowM = cells.groupBy(col("ra").as("k")).agg(sum("c").as("rc"))
    val colM = cells.groupBy(col("rb").as("k")).agg(sum("c").as("cc"))
    val srcF = rowM.join(colM, Seq("k"))
      .agg(coalesce(sum(col("rc") * col("cc")), lit(0).cast(dec)).as("src"))
    val tot = cells.agg(
      coalesce(sum("c"), lit(0).cast(dec)).as("n"),
      coalesce(sum(when(col("ra") === col("rb"), col("c"))
        .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).as("agree"))
    tot.crossJoin(classes).crossJoin(srcF)
      .select(
        col("n").cast("long").as("n"),
        col("n_classes"),
        col("agree").cast("long").as("agree"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr("(agree * 1000000) div n")).as("po_ppm"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr("(src * 1000000) div (n * n)")).as("pe_ppm"),
        when(expr("n * n = src"), lit(null).cast("long"))
          .otherwise(expr("((n * agree - src) * 1000000) div (n * n - src)"))
          .as("kappa_ppm"))
  }

  /** Distribution-drift monitor between two cohorts of one corpus (e.g.
    * the serving window vs the training window): per bin, both counts
    * and the bin's total-variation-distance contribution in ppm —
    * contrib = |c_a·n_b − c_b·n_a| · 10⁶ div (2·n_a·n_b) — plus a
    * `__total` row carrying the cohort sizes and the summed TVD. TVD
    * rather than PSI/KL because it is EXACT in integer arithmetic (no
    * logarithms): decimal(38,0) cross-products, ppm integer division,
    * so the report is bit-replayable (oracle: HUGEINT). A bin absent
    * from one cohort counts with c = 0 (full-weight contribution) —
    * precisely the disappearing-category case a drift monitor exists to
    * catch. Rows where `inA` is NULL belong to neither cohort.
    *
    * Scale shape: one keyed aggregation to the ≤ |bins| × 2-long
    * contingency; everything after runs on that bounded frame. */
  def driftReport(df: DataFrame, bin: Column, inA: Column): DataFrame =
    finishDrift(driftBinCounts(df, bin, inA))

  /** The STATEFUL half of the drift monitor: per-bin (cnt_a, cnt_b) —
    * two commutative longs per bin, the aggregation state Structured
    * Streaming maintains incrementally (streaming/StreamingDrift). */
  def driftBinCounts(df: DataFrame, bin: Column, inA: Column): DataFrame =
    df.where(inA.isNotNull)
      .groupBy(bin.cast("string").as("bin"))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(inA, 0L).otherwise(1L)).as("cnt_b"))

  /** The stateless finishing view over the ≤ |bins|-row counts: cohort
    * totals, per-bin TVD contributions, the `__total` row. Shared by the
    * batch report and the streaming twin's consumer. */
  def finishDrift(binCounts: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    // SINGLE-PASS formulation: the naive "counts → totals → per-bin →
    // total row" references the counts frame four times, and in batch
    // each reference re-derives it — four corpus scans. Instead each
    // (already aggregated) bin row is duplicated into itself + the
    // __total bucket (row expansion AFTER the aggregation, so the corpus
    // is scanned exactly once), regrouped, and the remaining algebra is
    // one unpartitioned window over the ≤ |bins|+1-row frame. `__total`
    // is a reserved bin name; empty input → empty report.
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    binCounts
      .select(explode(array(col("bin"), lit("__total"))).as("obin"),
        col("cnt_a").cast(dec).as("cnt_a"), col("cnt_b").cast(dec).as("cnt_b"))
      .groupBy("obin")
      .agg(sum("cnt_a").as("cnt_a"), sum("cnt_b").as("cnt_b"))
      .withColumn("__na",
        max(when(col("obin") === "__total", col("cnt_a"))).over(all))
      .withColumn("__nb",
        max(when(col("obin") === "__total", col("cnt_b"))).over(all))
      .withColumn("__c",
        when(expr("__na = 0 OR __nb = 0"), lit(null).cast("long"))
          .otherwise(expr(
            "(abs(cnt_a * __nb - cnt_b * __na) * 1000000) div (2 * __na * __nb)")))
      .select(col("obin").as("bin"),
        col("cnt_a").cast("long").as("cnt_a"),
        col("cnt_b").cast("long").as("cnt_b"),
        when(col("obin") === "__total",
          sum(when(col("obin") =!= "__total", col("__c"))).over(all))
          .otherwise(col("__c")).as("contrib_ppm"))
  }

  /** Full Pearson correlation matrix over k declared integer features in
    * ONE corpus aggregation — the multicollinearity screen read before
    * trusting a feature set (d27 is one pair; this is all k(k−1)/2 at the
    * same scan cost). Output: one row per unordered pair
    * (f1, f2, n, corr), f1 < f2, ordered by (f1, f2).
    *
    * Scale shape: NO explode — all k sums, k squared-sums and k(k−1)/2
    * cross-sums are PLAN-LITERAL aggregation expressions on a single
    * scan (reduce state = O(k²) decimals); rows where ANY feature is
    * null are dropped so every pair shares one n and the matrix is
    * consistent. The pair unpivot is a union of projections of the 1-row
    * frame (driver-sized). Sums are exact decimals; each corr is the
    * [[spearmanRho]] closing ratio from identically-converted
    * components. */
  def correlationMatrix(
      df: DataFrame,
      features: Seq[(String, Column)],
      roundTo: Int = 4): DataFrame = {
    require(features.size >= 2 && features.size <= 32,
      "correlationMatrix: 2 to 32 features")
    val dec = "decimal(38,0)"
    val names = features.map(_._1)
    require(names.distinct.size == names.size,
      "correlationMatrix: feature names must be unique")
    val base = df.select(features.map { case (n, c) =>
      c.cast("long").as(n)
    }: _*).na.drop()
    val aggs =
      (count(lit(1)).as("n") +:
        names.map(n => sum(col(n).cast(dec)).as(s"s_$n"))) ++
        names.map(n => sum(col(n).cast(dec) * col(n)).as(s"q_$n")) ++
        (for (i <- names.indices; j <- (i + 1) until names.size)
          yield sum(col(names(i)).cast(dec) * col(names(j)))
            .as(s"x_${names(i)}__${names(j)}"))
    val wide = Scope.persist(base.agg(aggs.head, aggs.tail: _*))
    val pairs = for (i <- names.indices; j <- (i + 1) until names.size) yield {
      val (a, b) = (names(i), names(j))
      val nD = col("n").cast("double")
      val num = nD * col(s"x_${a}__$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
      val da = nD * col(s"q_$a").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$a").cast("double")
      val db = nD * col(s"q_$b").cast("double") -
        col(s"s_$b").cast("double") * col(s"s_$b").cast("double")
      wide.select(
        lit(a).as("f1"), lit(b).as("f2"), col("n"),
        when(col("n") < 2L || da <= lit(0.0d) || db <= lit(0.0d),
          lit(null).cast("double"))
          .otherwise(round(num / (sqrt(da) * sqrt(db)), roundTo)).as("corr"))
    }
    pairs.reduce(_ unionAll _).orderBy("f1", "f2")
  }

  /** Population Stability Index (the credit-scoring drift scalar) as ONE
    * MORE stateless lens over the exact (bin, cnt_a, cnt_b) state that
    * [[finishDrift]] and streaming/StreamingDrift already share — the
    * log-weighted drift magnitude read next to the TVD contributions.
    * Laplace-smoothed (+1 per bin on both cohorts, +|bins| on both
    * denominators) so empty bins stay defined; contributions
    * (p′−q′)·ln(p′/q′) are non-negative, reported in ppm rounded to
    * integers per bin — so the `__total` row is an order-free long sum.
    * Same single-pass row-expansion shape as finishDrift. */
  def finishPsi(binCounts: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val pa = "CAST(cnt_a + 1 AS DOUBLE) / CAST(__na + __k AS DOUBLE)"
    val pb = "CAST(cnt_b + 1 AS DOUBLE) / CAST(__nb + __k AS DOUBLE)"
    binCounts
      .select(explode(array(col("bin"), lit("__total"))).as("obin"),
        col("cnt_a"), col("cnt_b"))
      .groupBy("obin")
      .agg(sum("cnt_a").as("cnt_a"), sum("cnt_b").as("cnt_b"))
      .withColumn("__na",
        max(when(col("obin") === "__total", col("cnt_a"))).over(all))
      .withColumn("__nb",
        max(when(col("obin") === "__total", col("cnt_b"))).over(all))
      .withColumn("__k",
        sum(when(col("obin") =!= "__total", 1L).otherwise(0L)).over(all))
      .withColumn("__c",
        when(expr("__na = 0 OR __nb = 0"), lit(null).cast("long"))
          .otherwise(expr(
            s"CAST(round(1000000.0D * (($pa) - ($pb)) * ln(($pa) / ($pb))) AS LONG)")))
      .select(col("obin").as("bin"),
        col("cnt_a").cast("long").as("cnt_a"),
        col("cnt_b").cast("long").as("cnt_b"),
        when(col("obin") === "__total",
          sum(when(col("obin") =!= "__total", col("__c"))).over(all))
          .otherwise(col("__c")).as("psi_ppm"))
  }

  /** Jensen–Shannon divergence (Lin 1991) as a THIRD stateless lens over
    * the exact (bin, cnt_a, cnt_b) state [[finishDrift]] (TVD, x123),
    * [[finishPsi]] (x180) and streaming/StreamingDrift already share —
    * the bounded (≤ ln 2), symmetric drift magnitude PSI's unbounded
    * log-ratio can't give. Same Laplace smoothing as finishPsi (+1 per
    * bin, +|bins| on both denominators), per-bin contributions
    * ½·(p′·ln(p′/m′) + q′·ln(q′/m′)) with m′ = (p′+q′)/2, reported as
    * rounded integer ppm — so the `__total` row is an order-free long
    * sum. Identical single-pass row-expansion shape as its siblings. */
  def finishJsd(binCounts: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val pa = "CAST(cnt_a + 1 AS DOUBLE) / CAST(__na + __k AS DOUBLE)"
    val pb = "CAST(cnt_b + 1 AS DOUBLE) / CAST(__nb + __k AS DOUBLE)"
    val m = s"((($pa) + ($pb)) / 2.0D)"
    binCounts
      .select(explode(array(col("bin"), lit("__total"))).as("obin"),
        col("cnt_a"), col("cnt_b"))
      .groupBy("obin")
      .agg(sum("cnt_a").as("cnt_a"), sum("cnt_b").as("cnt_b"))
      .withColumn("__na",
        max(when(col("obin") === "__total", col("cnt_a"))).over(all))
      .withColumn("__nb",
        max(when(col("obin") === "__total", col("cnt_b"))).over(all))
      .withColumn("__k",
        sum(when(col("obin") =!= "__total", 1L).otherwise(0L)).over(all))
      .withColumn("__c",
        when(expr("__na = 0 OR __nb = 0"), lit(null).cast("long"))
          .otherwise(expr(
            s"CAST(round(1000000.0D * 0.5D * (($pa) * ln(($pa) / $m)" +
              s" + ($pb) * ln(($pb) / $m))) AS LONG)")))
      .select(col("obin").as("bin"),
        col("cnt_a").cast("long").as("cnt_a"),
        col("cnt_b").cast("long").as("cnt_b"),
        when(col("obin") === "__total",
          sum(when(col("obin") =!= "__total", col("__c"))).over(all))
          .otherwise(col("__c")).as("jsd_ppm"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945) for PAIRED integer-scaled
    * measurements — "did condition A systematically beat condition B on
    * the same documents?", the paired complement of x112's unpaired
    * Mann–Whitney. Inputs are LONG columns by contract (callers scale to
    * ppm upstream), so differences, |d| ordering, and tie groups are all
    * exact integers — no fp enters until the final z.
    *
    * Definition pinned for cross-engine replay: zero differences drop
    * (the standard Wilcoxon reduction); ranks of |d| use midrank ties
    * carried as DOUBLED ranks r₂ = 2·cntBelow + cnt + 1 (half-units stay
    * integer); w2_plus/w2_minus are the doubled rank sums over positive/
    * negative differences; z uses the tie-corrected normal approximation
    *   z = ((w2_plus − n(n+1)/2) / 2) / √((n(n+1)(2n+1) − Σ(t³−t)/2)/24)
    * computed from the integer components in the same literal shape both
    * engines, rounded to 4 dp. NULL z when n = 0 or the variance is 0
    * (all differences tied at one magnitude… which for a single tie
    * group of size n zeroes nothing — variance 0 only when n = 0).
    *
    * Scale shape: one pruned scan → nonzero diffs; tie groups are ONE
    * keyed aggregation on |d| (distinct-magnitude-sized, not row-sized);
    * cntBelow is a prefix sum over that frame via the TWO-PHASE range
    * exchange (rankByColumns' shape: range-partition by |d|, in-partition
    * running window, per-partition offsets broadcast — never a
    * single-partition global window); the rank sums then aggregate
    * directly from the tie frame (Σ rows r₂ = Σ groups cnt·r₂), so the
    * corpus is touched exactly once and everything after is
    * magnitude-granular. One output row. Consume the result inside a Scope. */
  def wilcoxonSignedRank(
      df: DataFrame,
      aCol: Column,
      bCol: Column,
      roundTo: Int = 4): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val diffs = df
      .select((aCol.cast("long") - bCol.cast("long")).as("d"))
      .where(col("d") =!= 0L)
      .select(abs(col("d")).as("ad"), (col("d") > 0L).as("pos"))
    val groups = diffs.groupBy("ad")
      .agg(count(lit(1)).as("t"), sum(when(col("pos"), 1L).otherwise(0L)).as("tp"))
    // two-phase prefix sum of t over ascending |d|: range-partition,
    // per-partition running window, partition offsets broadcast back
    val parted = Scope.persist(groups
      .repartitionByRange(col("ad"))
      .withColumn("__pid", spark_partition_id()))
    val partSums = parted.groupBy("__pid").agg(sum("t").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partSums.toSeq.sortBy(_._1).map { case (pid, s) =>
        val off = acc; acc += s; pid -> off
      }.toMap
    }
    val w = W.partitionBy("__pid").orderBy("ad")
      .rowsBetween(W.unboundedPreceding, -1)
    parted
      .withColumn("below",
        coalesce(sum(col("t")).over(w), lit(0L)) +
          (if (offsets.isEmpty) lit(0L)
           else element_at(typedlit(offsets), col("__pid"))))
      .withColumn("r2", (lit(2L) * col("below") + col("t") + lit(1L)).cast(dec))
      .agg(
        sum(col("t")).as("n"),
        sum(col("tp").cast(dec) * col("r2")).as("w2_plus"),
        sum((col("t") - col("tp")).cast(dec) * col("r2")).as("w2_minus"),
        sum(col("t").cast(dec) * col("t") * col("t") - col("t")).as("ties3"))
      .select(
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("w2_plus"), lit(0L).cast(dec)).cast("long").as("w2_plus"),
        coalesce(col("w2_minus"), lit(0L).cast(dec)).cast("long").as("w2_minus"),
        when(col("n").isNull || col("n") < 1L, lit(null).cast("double"))
          .otherwise(round(
            // A = 2·w2p − n(n+1), B = 2n(n+1)(2n+1) − Σ(t³−t): exact
            // decimal integers, converted once to double — identical
            // nearest-double conversions in both engines
            (expr(s"CAST(2 * w2_plus - CAST(n AS $dec) * (n + 1) AS DOUBLE)") / lit(4.0d)) /
              sqrt(expr(
                s"CAST(2 * CAST(n AS $dec) * (n + 1) * (2 * n + 1) - ties3 AS DOUBLE)") /
                lit(48.0d)),
            roundTo)).as("z"))
  }

  /** Doubled midranks (2·rank, so ties stay integer) for one long-typed
    * column, as a (value → r2) frame. Scale shape: the tie frame is
    * DISTINCT-VALUE-sized, not corpus-sized; its prefix sum runs via the
    * two-phase range exchange (Sharding.rankByColumns' shape — range
    * partition, per-partition running window, per-partition offsets
    * broadcast), never a single-partition global window. */
  private def midrank2(rows: DataFrame, vc: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val groups = rows.groupBy(vc).agg(count(lit(1)).as("t"))
    val parted = Scope.persist(groups
      .repartitionByRange(col(vc))
      .withColumn("__pid", spark_partition_id()))
    val partSums = parted.groupBy("__pid").agg(sum("t").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partSums.toSeq.sortBy(_._1).map { case (pid, s) =>
        val off = acc; acc += s; pid -> off
      }.toMap
    }
    val w = W.partitionBy("__pid").orderBy(vc)
      .rowsBetween(W.unboundedPreceding, -1)
    parted
      .withColumn("below",
        coalesce(sum(col("t")).over(w), lit(0L)) +
          (if (offsets.isEmpty) lit(0L)
           else element_at(typedlit(offsets), col("__pid"))))
      .select(col(vc),
        (lit(2L) * col("below") + col("t") + lit(1L)).as(s"${vc}_r2"))
  }

  /** Spearman rank correlation (tie-aware midranks) between two integer
    * columns — the monotone-association check for quality signals that
    * Pearson's linearity assumption breaks on. Inputs are integer by
    * contract (callers pre-scale to ppm); output is 1 row (n, rho).
    *
    * Scale shape: the corpus is scanned once into (x, y); each variable's
    * midranks come from a distinct-value-sized tie frame ([[midrank2]]'s
    * two-phase range exchange), joined back by value (keyed shuffle joins
    * AQE can broadcast when the tie frames are small); then ONE
    * aggregation produces the six exact decimal sufficient statistics
    * (n, ΣR, ΣS, ΣR², ΣS², ΣRS — doubled ranks ≤ 2n keep ΣR² ≤ 4n³,
    * inside decimal(38) to ~1e12 rows). Only the closing Pearson-on-ranks
    * ratio touches fp, from identically-converted decimal components —
    * x167's oracle replays the identical rank algebra in HUGEINTs.
    * Consume the result inside a Scope. */
  def spearmanRho(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val rows = Scope.persist(df
      .select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull))
    val ranked = rows
      .join(midrank2(rows, "x"), "x")
      .join(midrank2(rows, "y"), "y")
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val dx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val dy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    ranked.agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("x_r2").cast(dec)), lit(0L).cast(dec)).as("sx"),
      coalesce(sum(col("y_r2").cast(dec)), lit(0L).cast(dec)).as("sy"),
      coalesce(sum(col("x_r2").cast(dec) * col("x_r2")), lit(0L).cast(dec)).as("sxx"),
      coalesce(sum(col("y_r2").cast(dec) * col("y_r2")), lit(0L).cast(dec)).as("syy"),
      coalesce(sum(col("x_r2").cast(dec) * col("y_r2")), lit(0L).cast(dec)).as("sxy"))
      .select(col("n"),
        when(col("n") < 2L || dx <= lit(0.0d) || dy <= lit(0.0d),
          lit(null).cast("double"))
          .otherwise(round(num / (sqrt(dx) * sqrt(dy)), roundTo)).as("rho"))
  }

  /** Kendall tau-b between two bucketed integer columns, exact, via the
    * joint contingency table — the rank-concordance complement of
    * [[spearmanRho]] that stays meaningful under heavy ties (bucketed
    * scores). Output is 1 row (n, concordant, discordant, tau_b).
    *
    * Scale shape: ONE aggregation collapses the corpus to its
    * (x, y, count) contingency cells — DOMAIN-bounded (|x-buckets| ×
    * |y-buckets|), not corpus-sized, by the bucketing contract — and all
    * pair counting is a broadcast non-equi self-join over that bounded
    * cell frame (c_a·c_b products, each unordered pair counted once via
    * the strict x-order). Concordant/discordant/tie counts are exact
    * decimals; only the closing tau-b ratio touches fp, from
    * identically-converted components — x168's oracle replays the same
    * cell algebra in HUGEINTs. Consume the result inside a Scope. */
  def kendallTauB(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = Scope.persist(df
      .select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy("x", "y").agg(count(lit(1)).as("c")))
    val a = cells.select(col("x").as("ax"), col("y").as("ay"), col("c").as("ca"))
    val b = cells.select(col("x").as("bx"), col("y").as("by"), col("c").as("cb"))
    // strict x-order: every x-distinct unordered pair appears exactly once
    val pairs = a.join(broadcast(b), col("bx") > col("ax"))
      .select((col("ca").cast(dec) * col("cb")).as("cc"),
        (col("by") > col("ay")).as("conc"), (col("by") < col("ay")).as("disc"))
      .agg(
        coalesce(sum(when(col("conc"), col("cc"))), lit(0L).cast(dec)).as("concordant"),
        coalesce(sum(when(col("disc"), col("cc"))), lit(0L).cast(dec)).as("discordant"))
    val tx = cells.groupBy("x").agg(sum("c").as("t"))
      .agg(coalesce(sum(col("t").cast(dec) * (col("t") - 1L)), lit(0L).cast(dec))
        .as("tx2"))
    val ty = cells.groupBy("y").agg(sum("c").as("t"))
      .agg(coalesce(sum(col("t").cast(dec) * (col("t") - 1L)), lit(0L).cast(dec))
        .as("ty2"))
    val tot = cells.agg(coalesce(sum("c"), lit(0L)).as("n"))
    // doubled form avoids the halving: with A = n(n−1) − Σtx(tx−1) and
    // B = n(n−1) − Σty(ty−1) (exact decimals), tau_b = 2(C−D)/(√A·√B)
    val d1 = expr(s"CAST(CAST(n AS $dec) * (n - 1) - tx2 AS DOUBLE)")
    val d2 = expr(s"CAST(CAST(n AS $dec) * (n - 1) - ty2 AS DOUBLE)")
    tot.crossJoin(pairs).crossJoin(tx).crossJoin(ty)
      .select(col("n"),
        col("concordant").cast("long").as("concordant"),
        col("discordant").cast("long").as("discordant"),
        when(col("n") < 2L || d1 <= lit(0.0d) || d2 <= lit(0.0d),
          lit(null).cast("double"))
          .otherwise(round(
            expr("CAST(2 * (concordant - discordant) AS DOUBLE)") /
              (sqrt(d1) * sqrt(d2)), roundTo)).as("tau_b"))
  }

  /** Two-sample Kolmogorov–Smirnov test, exact — did the two cohorts draw
    * their (integer) values from the same distribution? D is computed in
    * EXACT integer form: over distinct values v,
    *   D·n₁·n₂ = max |n₂·cum₁(v) − n₁·cum₂(v)|,
    * reported as ks_d_ppm = 10⁶·D (integer div) plus the scaled statistic
    * KS = D·√(n₁n₂/(n₁+n₂)) (fp only there, from identically-converted
    * components). Output: 1 row (n1, n2, ks_d_ppm, ks_stat).
    *
    * Scale shape: ONE corpus aggregation to the distinct-value frame with
    * BOTH cohort counts; both ECDF prefix sums ride a single two-phase
    * range exchange (per-partition windows + broadcast offsets — the
    * totals n₁/n₂ fall out of the same offset collection for free); the
    * max is one more aggregation on the distinct-value frame. x171's
    * oracle replays the identical integer ECDF algebra. Consume the result inside a Scope. */
  def ksTest(
      df: DataFrame,
      vCol: Column,
      inACol: Column,
      roundTo: Int = 4): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val groups = df
      .select(vCol.cast("long").as("v"), inACol.cast("boolean").as("a"))
      .where(col("v").isNotNull && col("a").isNotNull)
      .groupBy("v")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("a"), 0L).otherwise(1L)).as("c2"))
    val parted = Scope.persist(groups
      .repartitionByRange(col("v"))
      .withColumn("__pid", spark_partition_id()))
    val partSums = parted.groupBy("__pid")
      .agg(sum("c1").as("s1"), sum("c2").as("s2"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (off1, off2) = {
      var a1 = 0L; var a2 = 0L
      val o1 = Map.newBuilder[Int, Long]; val o2 = Map.newBuilder[Int, Long]
      partSums.toSeq.sortBy(_._1).foreach { case (pid, (s1, s2)) =>
        o1 += pid -> a1; o2 += pid -> a2; a1 += s1; a2 += s2
      }
      (o1.result(), o2.result())
    }
    val n1 = partSums.values.map(_._1).sum
    val n2 = partSums.values.map(_._2).sum
    val w = W.partitionBy("__pid").orderBy("v")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    def cum(c: String, off: Map[Int, Long]): Column =
      sum(col(c)).over(w) +
        (if (off.isEmpty) lit(0L) else element_at(typedlit(off), col("__pid")))
    parted
      .withColumn("dnum", abs(
        lit(n2).cast(dec) * cum("c1", off1) -
          lit(n1).cast(dec) * cum("c2", off2)))
      .agg(max(col("dnum")).as("maxd"))
      .select(
        lit(n1).as("n1"), lit(n2).as("n2"),
        when(lit(n1) === 0L || lit(n2) === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"(CAST(1000000 AS $dec) * maxd) div " +
              s"(CAST($n1 AS $dec) * $n2)").cast("long")).as("ks_d_ppm"),
        // n₁n₂ as a double product of exact longs = the correctly-rounded
        // double of the exact product — identical to the oracle's
        // HUGEINT-product conversion
        when(lit(n1) === 0L || lit(n2) === 0L, lit(null).cast("double"))
          .otherwise(round(
            (col("maxd").cast("double") /
              (lit(n1).cast("double") * lit(n2).cast("double"))) *
              sqrt(lit(n1).cast("double") * lit(n2).cast("double") /
                lit(n1 + n2).cast("double")), roundTo)).as("ks_stat"))
  }

  /** Exact 1-Wasserstein (earth-mover) distance between two cohorts'
    * integer-value distributions — the drift magnitude KS's max-gap
    * misses when many small ECDF gaps add up. W₁ = ∫|F₁ − F₂| dv,
    * computed in EXACT integer form over distinct values:
    *   W₁·n₁·n₂ = Σ_v |n₂·cum₁(v) − n₁·cum₂(v)| · (next(v) − v),
    * reported as w1_ppm = 10⁶·W₁ (value units, integer div). Output:
    * 1 row (n1, n2, w1_ppm).
    *
    * Scale shape: the [[ksTest]] shape plus a next-distinct-value lead —
    * ONE corpus aggregation to the distinct-value frame with both cohort
    * counts, one two-phase range exchange carrying both ECDF prefix sums
    * AND the cross-partition next-value handoff (each partition's min
    * value is already in the driver's offset collection; the last row of
    * partition p reads partition p+1's min as its lead). x176's oracle
    * replays the identical integer algebra. Consume the result inside a Scope. */
  def wasserstein1(
      df: DataFrame,
      vCol: Column,
      inACol: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val groups = df
      .select(vCol.cast("long").as("v"), inACol.cast("boolean").as("a"))
      .where(col("v").isNotNull && col("a").isNotNull)
      .groupBy("v")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("a"), 0L).otherwise(1L)).as("c2"))
    val parted = Scope.persist(groups
      .repartitionByRange(col("v"))
      .withColumn("__pid", spark_partition_id()))
    val partStats = parted.groupBy("__pid")
      .agg(sum("c1").as("s1"), sum("c2").as("s2"), min("v").as("mv"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val (off1, off2) = {
      var a1 = 0L; var a2 = 0L
      val o1 = Map.newBuilder[Int, Long]; val o2 = Map.newBuilder[Int, Long]
      partStats.foreach { case (pid, (s1, s2, _)) =>
        o1 += pid -> a1; o2 += pid -> a2; a1 += s1; a2 += s2
      }
      (o1.result(), o2.result())
    }
    // partition p's boundary lead = the NEXT present partition's min v
    val nextMin: Map[Int, Long] = partStats.zip(partStats.drop(1))
      .map { case ((pid, _), (_, (_, _, mv))) => pid -> mv }.toMap
    val n1 = partStats.map(_._2._1).sum
    val n2 = partStats.map(_._2._2).sum
    val w = W.partitionBy("__pid").orderBy("v")
    val wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    def cum(c: String, off: Map[Int, Long]): Column =
      sum(col(c)).over(wc) +
        (if (off.isEmpty) lit(0L) else element_at(typedlit(off), col("__pid")))
    parted
      .withColumn("nv", coalesce(lead(col("v"), 1).over(w),
        if (nextMin.isEmpty) lit(null).cast("long")
        else element_at(typedlit(nextMin), col("__pid"))))
      .withColumn("term",
        when(col("nv").isNull, lit(null).cast(dec))
          .otherwise(abs(
            lit(n2).cast(dec) * cum("c1", off1) -
              lit(n1).cast(dec) * cum("c2", off2)) * (col("nv") - col("v"))))
      .agg(coalesce(sum(col("term")), lit(0L).cast(dec)).as("w1num"))
      .select(
        lit(n1).as("n1"), lit(n2).as("n2"),
        when(lit(n1) === 0L || lit(n2) === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"(CAST(1000000 AS $dec) * w1num) div " +
              s"(CAST($n1 AS $dec) * $n2)").cast("long")).as("w1_ppm"))
  }

  /** Two-proportion z-test (pooled) — the A/B significance readout on
    * exact success counts. Output: 1 row (n1, x1, n2, x2, p1_ppm, p2_ppm,
    * z). All counts and the ppm rates are exact integers; z is the one fp
    * expression, from identically-converted components.
    *
    * Scale shape: ONE aggregation (four conditional sums) collapses the
    * corpus; everything after is a 1-row projection. */
  def twoProportionZ(
      df: DataFrame,
      inACol: Column,
      successCol: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    df.select(inACol.cast("boolean").as("a"),
      successCol.cast("boolean").as("s"))
      .where(col("a").isNotNull && col("s").isNotNull)
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("a") && col("s"), 1L).otherwise(0L)).as("x1"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("a") && col("s"), 1L).otherwise(0L)).as("x2"))
      .select(
        coalesce(col("n1"), lit(0L)).as("n1"), coalesce(col("x1"), lit(0L)).as("x1"),
        coalesce(col("n2"), lit(0L)).as("n2"), coalesce(col("x2"), lit(0L)).as("x2"))
      .select(col("n1"), col("x1"), col("n2"), col("x2"),
        when(col("n1") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(CAST(x1 AS $dec) * 1000000) div n1").cast("long"))
          .as("p1_ppm"),
        when(col("n2") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(CAST(x2 AS $dec) * 1000000) div n2").cast("long"))
          .as("p2_ppm"),
        when(col("n1") === 0L || col("n2") === 0L ||
          col("x1") + col("x2") === 0L ||
          col("x1") + col("x2") === col("n1") + col("n2"),
          lit(null).cast("double"))
          // z = (x1/n1 − x2/n2) / √(p̂(1−p̂)(1/n1 + 1/n2)), p̂ pooled —
          // every operand converted from an exact long exactly once
          .otherwise(round(
            (col("x1").cast("double") / col("n1").cast("double") -
              col("x2").cast("double") / col("n2").cast("double")) /
              sqrt((expr("CAST(x1 + x2 AS DOUBLE)") /
                expr("CAST(n1 + n2 AS DOUBLE)")) *
                (lit(1.0d) - expr("CAST(x1 + x2 AS DOUBLE)") /
                  expr("CAST(n1 + n2 AS DOUBLE)")) *
                (lit(1.0d) / col("n1").cast("double") +
                  lit(1.0d) / col("n2").cast("double"))), roundTo))
          .as("z"))
  }

  /** Pearson χ² independence test + Cramér's V over a two-way categorical
    * contingency (is the (source × lang) mix independent? — the
    * association readout behind every stratification decision). Output:
    * 1 row (n, n_rows, n_cols, dof, chi2, cramers_v).
    *
    * Scale shape: ONE corpus aggregation to the DOMAIN-bounded
    * contingency cells; marginals are two aggregations of that bounded
    * frame joined back by key; the χ² sum runs as an ORDER-PINNED fold
    * over the one collected (x, y)-sorted cell array (bounded by
    * contract), so the fp sum is partition-order-free and the oracle
    * replays the identical fold via list_reduce. Consume the result inside a Scope. */
  def chiSquareIndependence(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      roundTo: Int = 4): DataFrame = {
    val cells = Scope.persist(df
      .select(xCol.cast("string").as("x"), yCol.cast("string").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy("x", "y").agg(count(lit(1)).as("obs")))
    val rows = cells.groupBy("x").agg(sum("obs").as("rs"))
    val cols = cells.groupBy("y").agg(sum("obs").as("cs"))
    val shape = cells.agg(
      coalesce(sum("obs"), lit(0L)).as("n"),
      count_distinct(col("x")).as("n_rows"),
      count_distinct(col("y")).as("n_cols"))
    cells
      .join(rows, Seq("x")).join(cols, Seq("y"))
      .agg(sort_array(collect_list(struct(
        col("x"), col("y"), col("obs"), col("rs"), col("cs")))).as("o"))
      .crossJoin(shape)
      // zero cells never materialize, but each contributes exactly its
      // expectation E to χ² ((0−E)²/E = E) and Σ_all E = n — so fold
      // (obs−E)²/E − E over the OBSERVED cells and add n at the end
      .withColumn("chi2raw", expr(
        """aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + (CAST(s.obs AS DOUBLE)
          |          - CAST(s.rs AS DOUBLE) * CAST(s.cs AS DOUBLE) / CAST(n AS DOUBLE))
          |      * (CAST(s.obs AS DOUBLE)
          |          - CAST(s.rs AS DOUBLE) * CAST(s.cs AS DOUBLE) / CAST(n AS DOUBLE))
          |      / (CAST(s.rs AS DOUBLE) * CAST(s.cs AS DOUBLE) / CAST(n AS DOUBLE))
          |      - CAST(s.rs AS DOUBLE) * CAST(s.cs AS DOUBLE) / CAST(n AS DOUBLE))
          |  + CAST(n AS DOUBLE)""".stripMargin))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1L) * (col("n_cols") - 1L)).as("dof"),
        when(col("n") === 0L, lit(null).cast("double"))
          .otherwise(round(col("chi2raw"), roundTo)).as("chi2"),
        when(col("n") === 0L || col("n_rows") < 2L || col("n_cols") < 2L,
          lit(null).cast("double"))
          .otherwise(round(sqrt(col("chi2raw") /
            (col("n").cast("double") *
              least(col("n_rows") - 1L, col("n_cols") - 1L).cast("double"))),
            roundTo)).as("cramers_v"))
  }

  /** Gini-impurity-gain feature screen (the CART split criterion, Breiman
    * 1984) — which bucketed feature most purifies a boolean label? The
    * EXACT-integer complement of [[featureAuc]]: per feature,
    *   gain_ppm = parent_gini_ppm − Σ_v (10⁶·(n_v² − Σ_l c_{v,l}²)) div (n·n_v),
    * every term an exact floor-division integer (the documented
    * per-bucket floor makes the statistic bit-replayable — no fp
    * anywhere). Output: one row per feature (feature, n, gini_parent_ppm,
    * gini_children_ppm, gain_ppm), gain DESC.
    *
    * Scale shape: ONE scan fans every feature out through a single
    * explode (featureAuc's shape); (feature, bucket, label) counts
    * collapse map-side; everything after runs on the bounded
    * (feature × bucket) frame. Null feature values are skipped (that
    * feature just sees fewer rows — mirrors x143). */
  def giniGainScreen(
      df: DataFrame,
      labelCol: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "giniGainScreen needs at least one feature")
    val dec = "decimal(38,0)"
    val rows = df
      .select(labelCol.cast("boolean").as("yy"),
        explode(array(features.map { case (name, c) =>
          struct(lit(name).as("feature"), c.cast("long").as("v"))
        }: _*)).as("fv"))
      .select(col("fv.feature").as("feature"), col("fv.v").as("v"), col("yy"))
      .where(col("yy").isNotNull && col("v").isNotNull)
    val cells = Scope.persist(rows
      .groupBy("feature", "v")
      .agg(count(lit(1)).as("nv"),
        sum(when(col("yy"), 1L).otherwise(0L)).as("pv")))
    // per feature: n, positives (the parent split is per feature — each
    // feature may drop a different null set)
    val parent = cells.groupBy("feature")
      .agg(sum("nv").as("n"), sum("pv").as("p"))
      .select(col("feature"), col("n"),
        expr(s"(1000000 * (CAST(n AS $dec) * n - CAST(p AS $dec) * p" +
          s" - CAST(n - p AS $dec) * (n - p))) div (CAST(n AS $dec) * n)")
          .cast("long").as("gini_parent_ppm"))
    val children = cells
      .join(parent.select(col("feature"), col("n")), Seq("feature"))
      .select(col("feature"),
        expr(s"(1000000 * (CAST(nv AS $dec) * nv - CAST(pv AS $dec) * pv" +
          s" - CAST(nv - pv AS $dec) * (nv - pv))) div (CAST(n AS $dec) * nv)")
          .cast("long").as("t"))
      .groupBy("feature").agg(sum("t").as("gini_children_ppm"))
    parent.join(children, Seq("feature"))
      .select(col("feature"), col("n"), col("gini_parent_ppm"),
        col("gini_children_ppm"),
        (col("gini_parent_ppm") - col("gini_children_ppm")).as("gain_ppm"))
      .orderBy(desc("gain_ppm"), col("feature"))
  }

  /** Mutual-information feature screen (Cover & Thomas) — which bucketed
    * feature carries the most bits about a boolean label? The LOG-scaled
    * complement of [[giniGainScreen]]'s impurity gain (MI weighs rare
    * informative buckets CART's gain discounts). Per feature:
    *   mi = Σ_{v,l} (c_vl/n)·ln(c_vl·n / (n_v·n_l))   (nats)
    *   u_label = mi / H(label)  (the uncertainty coefficient, Theil's U)
    * All counts are exact longs; the fp sum runs as an ORDER-PINNED
    * `aggregate()` fold over the one collected (v, l)-sorted cell array
    * per feature (the [[chiSquareIndependence]] discipline — cell counts
    * are feature×bucket×2 bounded, never corpus-sized), so the statistic
    * replays bit-for-bit. H(label) is the fixed two-term expression from
    * the same frame. Output: (feature, n, mi_nats, u_label) ordered by
    * mi DESC, NULL u when the label is constant under that feature's
    * null-drop. Consume the result inside a Scope.
    *
    * Scale shape: ONE scan fans every feature out through a single
    * explode (featureAuc's shape); (feature, v, label) counts collapse
    * map-side; margins, the sorted-array collect and the fold all run on
    * the bounded cell frame. */
  def miScreen(
      df: DataFrame,
      labelCol: Column,
      features: Seq[(String, Column)],
      roundTo: Int = 6): DataFrame = {
    require(features.nonEmpty, "miScreen needs at least one feature")
    val rows = df
      .select(labelCol.cast("boolean").as("yy"),
        explode(array(features.map { case (name, c) =>
          struct(lit(name).as("feature"), c.cast("long").as("v"))
        }: _*)).as("fv"))
      .select(col("fv.feature").as("feature"), col("fv.v").as("v"), col("yy"))
      .where(col("yy").isNotNull && col("v").isNotNull)
    val cells = Scope.persist(rows
      .groupBy("feature", "v", "yy")
      .agg(count(lit(1)).as("c")))
    val nv = cells.groupBy("feature", "v").agg(sum("c").as("nv"))
    val nl = cells.groupBy("feature", "yy").agg(sum("c").as("nl"))
    val tot = cells.groupBy("feature")
      .agg(sum("c").as("n"), sum(when(col("yy"), col("c"))
        .otherwise(0L)).as("p"))
    val mi = cells
      .join(nv, Seq("feature", "v")).join(nl, Seq("feature", "yy"))
      .groupBy("feature")
      .agg(sort_array(collect_list(struct(
        col("v"), col("yy"), col("c"), col("nv"), col("nl")))).as("o"))
      .join(tot, Seq("feature"))
      .withColumn("__mi", expr(
        """aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + CAST(s.c AS DOUBLE) / CAST(n AS DOUBLE)
          |      * ln(CAST(s.c AS DOUBLE) * CAST(n AS DOUBLE)
          |           / (CAST(s.nv AS DOUBLE) * CAST(s.nl AS DOUBLE))))"""
          .stripMargin))
      .withColumn("__h", expr(
        """(CASE WHEN p > 0 THEN
          |  -(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
          |    * ln(CAST(p AS DOUBLE) / CAST(n AS DOUBLE)) ELSE 0.0D END)
          |+ (CASE WHEN n - p > 0 THEN
          |  -(CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE))
          |    * ln(CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE)) ELSE 0.0D END)"""
          .stripMargin))
    mi.select(col("feature"), col("n"),
      round(col("__mi"), roundTo).as("mi_nats"),
      when(col("__h") <= 0.0d, lit(null).cast("double"))
        .otherwise(round(col("__mi") / col("__h"), roundTo)).as("u_label"))
      .orderBy(desc("mi_nats"), col("feature"))
  }

  /** Paired sign-flip permutation test (Fisher 1935 randomization), fully
    * derandomized: replicate b flips row key k's sign iff the low hex
    * nibble of md5("perm:b:k") is odd — the d08 draw convention, so the
    * "random" signs are pure deterministic columns both engines compute
    * identically. Output: 1 row (n, t_obs, n_extreme, p_ppm) with
    * p = (1 + #{b: |T_b| ≥ |T_obs|}) / (B + 1), exact integers end to end
    * (inputs are integer by contract — callers pre-scale to ppm).
    *
    * Scale shape: all B replicate statistics come from ONE corpus
    * aggregation — the B sign columns are plan literals (conditional
    * sums), so the corpus is scanned once, never exploded B×, and the
    * reduce state is B+1 decimals. The extreme-count finish runs on the
    * 1-row frame. */
  def permutationTest(
      df: DataFrame,
      keyCol: Column,
      dCol: Column,
      replicates: Int = 64): DataFrame = {
    require(replicates >= 1 && replicates <= 512,
      "permutationTest: replicates in [1, 512]")
    val dec = "decimal(38,0)"
    val rows = df.select(keyCol.cast("string").as("k"),
      dCol.cast("long").as("d"))
      .where(col("k").isNotNull && col("d").isNotNull)
    // sign_b = ±1 from the md5 low nibble's parity — engine-exact
    def sign(b: Int): Column =
      when(expr(s"conv(substring(md5(concat('perm:', '$b', ':', k)), 32, 1), 16, 10)")
        .cast("int") % 2 === 1, lit(-1L)).otherwise(lit(1L))
    val aggs =
      (count(lit(1)).as("n") +: sum(col("d").cast(dec)).as("t_obs") +:
        (1 to replicates).map(b =>
          sum((col("d") * sign(b)).cast(dec)).as(s"t_$b"))).toSeq
    val wide = rows.agg(aggs.head, aggs.tail: _*)
    val extreme = (1 to replicates)
      .map(b => when(abs(col(s"t_$b")) >= abs(col("t_obs")), 1L).otherwise(0L))
      .reduce(_ + _)
    wide.select(
      col("n"),
      coalesce(col("t_obs"), lit(0L).cast(dec)).cast("long").as("t_obs"),
      when(col("n") === 0L, lit(null).cast("long"))
        .otherwise(extreme).as("n_extreme"))
      .withColumn("p_ppm",
        when(col("n") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"(1000000 * (n_extreme + 1)) div ${replicates + 1}")))
  }

  /** Cochran–Armitage trend test (Cochran 1954, Armitage 1955) — is a
    * boolean outcome MONOTONE in an ordered integer bucket? The ordered
    * complement of [[chiSquareIndependence]] (which spends power on
    * arbitrary deviations). With bucket scores w = v and per-bucket
    * (n_v, r_v) counts:
    *   z = (N·Σw·r − R·Σw·n) / √(R·(N−R)·(N·Σw²n − (Σwn)²) / N)
    * — numerator and every radicand factor EXACT decimal integers
    * (cross-multiplied clear of divisions), fp only in the closing ratio
    * from identically-converted components. One output row:
    * (n, n_pos, t_num, z); z NULL on degenerate inputs (constant label
    * or single bucket).
    *
    * Scale shape: ONE keyed aggregation to the domain-bounded bucket
    * frame (map-side combined two-long partials), then a 1-row
    * aggregation of five exact decimals. */
  def cochranArmitage(
      df: DataFrame,
      bucket: Column,
      label: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .select(bucket.cast("long").as("v"), label.cast("boolean").as("y"))
      .where(col("v").isNotNull && col("y").isNotNull)
      .groupBy("v")
      .agg(count(lit(1)).as("nv"),
        sum(when(col("y"), 1L).otherwise(0L)).as("rv"))
    cells.agg(
      coalesce(sum(col("nv")), lit(0L)).cast(dec).as("n"),
      coalesce(sum(col("rv")), lit(0L)).cast(dec).as("r"),
      coalesce(sum(col("v").cast(dec) * col("nv")), lit(0L).cast(dec)).as("wn"),
      coalesce(sum(col("v").cast(dec) * col("rv")), lit(0L).cast(dec)).as("wr"),
      coalesce(sum(col("v").cast(dec) * col("v") * col("nv")),
        lit(0L).cast(dec)).as("wwn"))
      .select(
        col("n").cast("long").as("n"),
        col("r").cast("long").as("n_pos"),
        (col("n") * col("wr") - col("r") * col("wn")).cast("long").as("t_num"),
        {
          val varNum = (col("r") * (col("n") - col("r")) *
            (col("n") * col("wwn") - col("wn") * col("wn"))).cast("double")
          when(col("n") === 0 || varNum <= 0.0d, lit(null).cast("double"))
            .otherwise(round(
              (col("n") * col("wr") - col("r") * col("wn")).cast("double") /
                sqrt(varNum / col("n").cast("double")), roundTo)).as("z")
        })
  }

  /** Cliff's delta ordinal effect size (Cliff 1993) between two cohorts
    * of an integer-bucketed score — the MAGNITUDE companion to x112's
    * Mann–Whitney direction test (δ = 2·AUC − 1, robust where means
    * mislead): δ = (#(x₁ > x₂) − #(x₁ < x₂)) / (n₁·n₂). All pair counts
    * come from prefix sums over the DOMAIN-BOUNDED distinct-value frame
    * (never a pairwise join): #(x₁>x₂) = Σ_v c₁(v)·Σ_{u<v} c₂(u) — exact
    * decimals, δ as exact integer ppm. One row:
    * (n_a, n_b, gt_pairs, lt_pairs, delta_ppm).
    *
    * Scale shape: ONE keyed aggregation to distinct score values, two
    * prefix-sum windows on that bounded frame, a 1-row close. */
  def cliffsDelta(
      df: DataFrame,
      score: Column,
      inA: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .select(score.cast("long").as("v"), inA.cast("boolean").as("a"))
      .where(col("v").isNotNull && col("a").isNotNull)
      .groupBy("v")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("a"), 0L).otherwise(1L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // the value domain is bounded by construction (callers bucket), so the
    // unpartitioned prefix window runs on a distinct-value-sized frame
    val pref = cells
      .withColumn("cbBelow", coalesce(sum("cb").over(w), lit(0L)))
      .withColumn("caBelow", coalesce(sum("ca").over(w), lit(0L)))
    pref.agg(
      coalesce(sum("ca"), lit(0L)).cast(dec).as("na"),
      coalesce(sum("cb"), lit(0L)).cast(dec).as("nb"),
      coalesce(sum(col("ca").cast(dec) * col("cbBelow")), lit(0L).cast(dec))
        .as("gt"),
      coalesce(sum(col("cb").cast(dec) * col("caBelow")), lit(0L).cast(dec))
        .as("lt"))
      .select(
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        col("gt").cast("long").as("gt_pairs"),
        col("lt").cast("long").as("lt_pairs"),
        when(col("na") === 0 || col("nb") === 0, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST(((gt - lt) * 1000000) div (na * nb) AS LONG)"))
          .as("delta_ppm"))
  }

  /** Cumulative-gains / lift report over an integer score (the targeting
    * readout behind "screen the top-scored X% of the corpus"): per
    * distinct score value DESCENDING, the cumulative population and
    * positives at threshold ≥ v, recall, and lift = (cum_pos/cum_n) /
    * (P/N) — all EXACT integer ppm by cross-multiplication. The
    * bounded-domain complement of [[featureAuc]] (AUC summarizes; this
    * is the whole curve an ops team thresholds on).
    *
    * Scale shape: ONE keyed aggregation to distinct score values, two
    * suffix-sum windows on that bounded frame. Output per value:
    * (v, n, pos, cum_n, cum_pos, recall_ppm, lift_ppm), score DESC. */
  def gainsReport(
      df: DataFrame,
      score: Column,
      label: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .select(score.cast("long").as("v"), label.cast("boolean").as("y"))
      .where(col("v").isNotNull && col("y").isNotNull)
      .groupBy("v")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(desc("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    cells
      .withColumn("cum_n", sum("n").over(wCum))
      .withColumn("cum_pos", sum("pos").over(wCum))
      .withColumn("__N", sum("n").over(wAll))
      .withColumn("__P", sum("pos").over(wAll))
      .select(col("v"), col("n"), col("pos"), col("cum_n"), col("cum_pos"),
        when(col("__P") === 0L, lit(null).cast("long"))
          .otherwise(expr("(cum_pos * 1000000) div __P")).as("recall_ppm"),
        when(col("__P") === 0L || col("cum_n") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"(CAST(cum_pos AS $dec) * __N * 1000000) div (CAST(cum_n AS $dec) * __P)"))
          .as("lift_ppm"))
      .orderBy(desc("v"))
  }

  /** The STATEFUL half of the Brier decomposition: per equal-width score
    * bin, (bin, n, sum_s4, sum_sq4, n_pos, sum_s4_pos) where s4 is the
    * score quantized to an INTEGER in 1e-4 units (round(s·10⁴)) — unlike
    * x113's fp sums this state is EXACT (five commutative longs/decimals
    * per bin), so batch and stream agree bit-for-bit under any arrival
    * order (streaming/StreamingBrier). Out-of-unit scores land in clamp
    * bins −1 / nBins, mirroring calibrationBinStats. */
  def brierBinStats(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 10000 && 10000 % nBins == 0,
      "brierBinStats: nBins in [1, 10000] dividing 10000")
    val dec = "decimal(38,0)"
    val s = df.select(
      round(score * lit(10000.0d), 0).cast("long").as("s4"),
      label.cast("boolean").as("y"))
      .where(col("s4").isNotNull && col("y").isNotNull)
    val width = 10000 / nBins
    val bin = when(col("s4") < 0L, lit(-1))
      .when(col("s4") >= 10000L, lit(nBins))
      .otherwise((col("s4") / lit(width.toLong)).cast("int"))
    s.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum("s4").as("sum_s4"),
        sum(col("s4").cast(dec) * col("s4")).as("sum_sq4"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y"), col("s4")).otherwise(0L)).as("sum_s4_pos"))
  }

  /** Murphy (1973) decomposition of the Brier score over the
    * [[brierBinStats]] state — the calibration scalar triple behind
    * x113's reliability diagram: Brier = REL − RES + UNC where REL is the
    * (bad) calibration gap, RES the (good) sharpness, UNC the label
    * entropy floor. One row: (n, n_pos, brier_ppm, reliability_ppm,
    * resolution_ppm, uncertainty_ppm, ece_ppm).
    *
    * EXACT integers end to end: the quantized-score state makes every
    * numerator a cross-multiplied decimal; per-bin divisions are
    * documented floor divisions (the x178 discipline), so the statistic
    * is partition- and order-independent — bit-replayable via HUGEINT.
    * The identity Brier = REL − RES + UNC holds exactly only for
    * bin-constant forecasts; brier_ppm here is the TRUE row-level score
    * (from Σs², Σs·y), so the reported residual gap IS the within-bin
    * variance the diagram cannot see. */
  def finishBrier(stats: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    // totals ride a window over the ≤ nBins+2-row state so the stats
    // plan (a full corpus scan when unpersisted) executes exactly ONCE
    val withTot = stats
      .withColumn("nn", coalesce(sum("n").over(all), lit(0L)))
      .withColumn("pp", coalesce(sum("n_pos").over(all), lit(0L)))
      .withColumn("sq",
        coalesce(sum(col("sum_sq4").cast(dec)).over(all), lit(0L).cast(dec)))
      .withColumn("sp",
        coalesce(sum(col("sum_s4_pos").cast(dec)).over(all), lit(0L).cast(dec)))
    val agg = withTot.agg(
      max("nn").as("nn"), max("pp").as("pp"),
      max("sq").as("sq"), max("sp").as("sp"),
      // Σ_k floor(10⁶·(10⁴·pos_k − Σs4_k)² / (10⁸·n_k))  — REL·N·10⁶
      coalesce(sum(expr(
        s"""(CAST(1000000 AS $dec)
           |  * (CAST(n_pos AS $dec) * 10000 - CAST(sum_s4 AS $dec))
           |  * (CAST(n_pos AS $dec) * 10000 - CAST(sum_s4 AS $dec)))
           |div (CAST(100000000 AS $dec) * CAST(n AS $dec))""".stripMargin)),
        lit(0L).cast(dec)).as("reln"),
      // Σ_k floor(10⁶·(pos_k·N − P·n_k)² / (n_k·N²)) — RES·N·10⁶
      coalesce(sum(expr(
        s"""(CAST(1000000 AS $dec)
           |  * (CAST(n_pos AS $dec) * nn - CAST(pp AS $dec) * n)
           |  * (CAST(n_pos AS $dec) * nn - CAST(pp AS $dec) * n))
           |div (CAST(n AS $dec) * CAST(nn AS $dec) * nn)""".stripMargin)),
        lit(0L).cast(dec)).as("resn"),
      // Σ_k floor(100·|10⁴·pos_k − Σs4_k|) — ECE·N·10⁶ (÷10⁴ folded in)
      coalesce(sum(expr(
        s"""CAST(100 AS $dec)
           |  * abs(CAST(n_pos AS $dec) * 10000 - CAST(sum_s4 AS $dec))""".stripMargin)),
        lit(0L).cast(dec)).as("ecen"))
    agg.select(
      coalesce(col("nn"), lit(0L)).cast("long").as("n"),
      coalesce(col("pp"), lit(0L)).cast("long").as("n_pos"),
      when(coalesce(col("nn"), lit(0L)) === 0L, lit(null).cast("long"))
        // (Σs4² − 2·10⁴·Σs4_pos + 10⁸·P)·10⁶ / (10⁸·N)
        .otherwise(expr(
          s"""((CAST(sq AS $dec) - CAST(20000 AS $dec) * sp
             |   + CAST(100000000 AS $dec) * pp) * 1000000)
             |div (CAST(100000000 AS $dec) * nn)""".stripMargin).cast("long"))
        .as("brier_ppm"),
      when(coalesce(col("nn"), lit(0L)) === 0L, lit(null).cast("long"))
        .otherwise(expr("reln div nn").cast("long")).as("reliability_ppm"),
      when(coalesce(col("nn"), lit(0L)) === 0L, lit(null).cast("long"))
        .otherwise(expr("resn div nn").cast("long")).as("resolution_ppm"),
      when(coalesce(col("nn"), lit(0L)) === 0L, lit(null).cast("long"))
        .otherwise(expr(
          s"(CAST(1000000 AS $dec) * pp * (CAST(nn AS $dec) - pp)) div (CAST(nn AS $dec) * nn)")
          .cast("long")).as("uncertainty_ppm"),
      when(coalesce(col("nn"), lit(0L)) === 0L, lit(null).cast("long"))
        .otherwise(expr("ecen div nn").cast("long")).as("ece_ppm"))
  }

  /** [[brierBinStats]] + [[finishBrier]] in one call (the batch leg). */
  def brierReport(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10): DataFrame =
    finishBrier(brierBinStats(df, score, label, nBins))

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) — does ANY of k groups
    * stochastically dominate on an integer-bucketed value? The k-group
    * generalization of x112's Mann–Whitney, rank-based so outliers and
    * monotone transforms cannot move it. One row:
    * (n, n_groups, h, h_corrected) with the tie-corrected
    * H_c = H / (1 − Σ(t³−t)/(N³−N)).
    *
    * Scale shape: ONE keyed aggregation to the DOMAIN-bounded
    * (value × group) cells; doubled midranks (2·below + t + 1 — integers,
    * no fp halves) from a prefix window on the distinct-value frame; per
    * -group doubled-rank sums R2_g are exact decimals, and the one fp
    * reduction Σ R2_g²/n_g runs as an ORDER-PINNED fold over the
    * collected group-sorted array (the chiSquareIndependence discipline)
    * so the oracle replays it via list_reduce. */
  def kruskalWallis(
      df: DataFrame,
      value: Column,
      group: Column,
      roundTo: Int = 4): DataFrame =
    // the bounded (value × group) cell frame feeds both the rank frame
    // and the per-group join — cache it so the corpus is scanned exactly
    // once (released by the caller's Scope)
    finishKruskalWallis(
      Scope.persist(valueGroupCells(df, value, group)), roundTo)

  /** The STATEFUL half of the rank tests: per (value, group) cell count —
    * one commutative long per cell, exactly the aggregation state
    * Structured Streaming maintains incrementally
    * (streaming/StreamingGroupTests). */
  def valueGroupCells(
      df: DataFrame,
      value: Column,
      group: Column): DataFrame =
    df.select(value.cast("long").as("v"), group.cast("string").as("g"))
      .where(col("v").isNotNull && col("g").isNotNull)
      .groupBy("v", "g").agg(count(lit(1)).as("c"))

  /** The stateless Kruskal–Wallis finish over an ALREADY-MATERIALIZED
    * (v, g, c) cell frame — shared by the batch test and the streaming
    * twin's consumer. */
  def finishKruskalWallis(cells: DataFrame, roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val byV = cells.groupBy("v").agg(sum("c").as("tv"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // bounded by contract (callers bucket), so the unpartitioned prefix
    // window runs on a distinct-value-sized frame
    val ranked = byV
      .withColumn("below", coalesce(sum("tv").over(w), lit(0L)))
      .select(col("v"), col("tv"),
        (lit(2L) * col("below") + col("tv") + 1L).as("r2"))
    val perG = cells.join(ranked, Seq("v"))
      .groupBy("g")
      .agg(sum("c").as("ng"),
        sum(col("c").cast(dec) * col("r2")).as("rr2"))
    val ties = ranked.agg(
      coalesce(sum("tv"), lit(0L)).cast(dec).as("nn"),
      coalesce(sum(expr(s"CAST(tv AS $dec) * tv * tv - tv")),
        lit(0L).cast(dec)).as("tsum"))
    perG
      .agg(count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("g"), col("ng"), col("rr2")))).as("o"))
      .crossJoin(ties)
      // H = 3·Σ R2_g²/n_g / (N(N+1)) − 3(N+1)   [R_g = R2_g/2]
      .withColumn("sr", expr(
        """aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + CAST(s.rr2 AS DOUBLE) * CAST(s.rr2 AS DOUBLE)
          |      / CAST(s.ng AS DOUBLE))""".stripMargin))
      .select(
        col("nn").cast("long").as("n"),
        col("k").as("n_groups"),
        when(col("nn") < 2L || col("k") < 2L, lit(null).cast("double"))
          .otherwise(round(
            lit(3.0d) * col("sr") /
              (col("nn").cast("double") * (col("nn").cast("double") + 1.0d)) -
              lit(3.0d) * (col("nn").cast("double") + 1.0d), roundTo))
          .as("h"),
        when(col("nn") < 2L || col("k") < 2L ||
          // all values tied in one bucket → correction denominator 0
          col("tsum") === expr(s"CAST(nn AS $dec) * nn * nn - nn"),
          lit(null).cast("double"))
          .otherwise(round(
            (lit(3.0d) * col("sr") /
              (col("nn").cast("double") * (col("nn").cast("double") + 1.0d)) -
              lit(3.0d) * (col("nn").cast("double") + 1.0d)) /
              (lit(1.0d) - col("tsum").cast("double") /
                (expr(s"CAST(nn AS $dec) * nn * nn - nn")).cast("double")),
            roundTo))
          .as("h_corrected"))
  }

  /** One-way ANOVA F + η² (Fisher) — does the group mean of an integer
    * feature differ across k groups more than within-group noise allows?
    * The mean-based complement of [[kruskalWallis]]. One row:
    * (n, n_groups, f, eta2) where η² = SSB/SST is the variance-explained
    * effect size.
    *
    * Scale shape: ONE keyed aggregation to per-group exact decimal
    * (n_g, Σy, Σy²); the single fp reduction Σ S_g²/n_g runs as an
    * ORDER-PINNED fold over the collected group-sorted array — the
    * chiSquareIndependence discipline, bit-replayable via list_reduce. */
  def anovaF(
      df: DataFrame,
      value: Column,
      group: Column,
      roundTo: Int = 4): DataFrame =
    finishAnova(groupValueStats(df, value, group), roundTo)

  /** The STATEFUL half of the ANOVA: per group, exact decimal
    * (n, Σy, Σy²) — three commutative numbers per group, exactly the
    * aggregation state Structured Streaming maintains incrementally
    * (streaming/StreamingGroupTests). */
  def groupValueStats(
      df: DataFrame,
      value: Column,
      group: Column): DataFrame = {
    val dec = "decimal(38,0)"
    df.select(value.cast("long").as("y"), group.cast("string").as("g"))
      .where(col("y").isNotNull && col("g").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).as("ng"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("y").cast(dec) * col("y")).as("sq"))
  }

  /** The stateless ANOVA finish over an ALREADY-MATERIALIZED per-group
    * stats frame — shared by the batch test and the streaming twin's
    * consumer. */
  def finishAnova(perG: DataFrame, roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    perG
      .agg(count(lit(1)).as("k"),
        coalesce(sum("ng"), lit(0L)).cast(dec).as("nn"),
        coalesce(sum("sy"), lit(0L).cast(dec)).as("s"),
        coalesce(sum("sq"), lit(0L).cast(dec)).as("q"),
        sort_array(collect_list(struct(col("g"), col("ng"), col("sy")))).as("o"))
      // Σ_g S_g²/n_g — the only fp sum, order-pinned over ≤ k rows
      .withColumn("sb", expr(
        """aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + CAST(s.sy AS DOUBLE) * CAST(s.sy AS DOUBLE)
          |      / CAST(s.ng AS DOUBLE))""".stripMargin))
      .select(
        col("nn").cast("long").as("n"),
        col("k").as("n_groups"),
        {
          val ssb = col("sb") -
            col("s").cast("double") * col("s").cast("double") /
              col("nn").cast("double")
          val ssw = col("q").cast("double") - col("sb")
          when(col("k") < 2L || col("nn") <= col("k").cast(dec) || ssw <= 0.0d,
            lit(null).cast("double"))
            .otherwise(round(
              (ssb / (col("k").cast("double") - 1.0d)) /
                (ssw / (col("nn").cast("double") - col("k").cast("double"))),
              roundTo)).as("f")
        },
        {
          val ssb = col("sb") -
            col("s").cast("double") * col("s").cast("double") /
              col("nn").cast("double")
          val sst = col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("nn").cast("double")
          when(col("nn") < 2L || sst <= 0.0d, lit(null).cast("double"))
            .otherwise(round(ssb / sst, roundTo)).as("eta2")
        })
  }

  /** Welch's unequal-variance t-test (Welch 1947) between two cohorts of
    * an integer value — the robust default where Student's pooled-SD
    * assumption fails (cohort variances differ, sizes differ):
    *   t = (m₁−m₂)/√(v₁/n₁ + v₂/n₂),
    *   ν = (v₁/n₁+v₂/n₂)² / ((v₁/n₁)²/(n₁−1) + (v₂/n₂)²/(n₂−1))
    * (Welch–Satterthwaite). One row: (n_a, n_b, mean_a, mean_b, t, dof).
    *
    * Scale shape: ONE aggregation of six conditional sums to exact
    * decimal sufficient statistics (the effectSize discipline); fp only
    * in the documented double close. */
  def welchT(
      df: DataFrame,
      value: Column,
      inA: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val v = value.cast("long")
    val a = inA.cast("boolean")
    val agg = df.where(v.isNotNull && a.isNotNull)
      .agg(
        sum(when(a, 1L).otherwise(0L)).as("na"),
        sum(when(!a, 1L).otherwise(0L)).as("nb"),
        coalesce(sum(when(a, v).otherwise(0L).cast(dec)), lit(0L).cast(dec))
          .as("sa"),
        coalesce(sum(when(!a, v).otherwise(0L).cast(dec)), lit(0L).cast(dec))
          .as("sb"),
        coalesce(sum(when(a, v.cast(dec) * v).otherwise(lit(0L).cast(dec))),
          lit(0L).cast(dec)).as("qa"),
        coalesce(sum(when(!a, v.cast(dec) * v).otherwise(lit(0L).cast(dec))),
          lit(0L).cast(dec)).as("qb"))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val va = (col("qa").cast("double") -
      col("sa").cast("double") * col("sa").cast("double") / naD) /
      (naD - lit(1.0d))
    val vb = (col("qb").cast("double") -
      col("sb").cast("double") * col("sb").cast("double") / nbD) /
      (nbD - lit(1.0d))
    val se2 = va / naD + vb / nbD
    val bad = col("na") < 2L || col("nb") < 2L || se2 <= 0.0d
    agg.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      when(col("na") === 0L, lit(null).cast("double"))
        .otherwise(round(col("sa").cast("double") / naD, roundTo)).as("mean_a"),
      when(col("nb") === 0L, lit(null).cast("double"))
        .otherwise(round(col("sb").cast("double") / nbD, roundTo)).as("mean_b"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(
          (col("sa").cast("double") / naD - col("sb").cast("double") / nbD) /
            sqrt(se2), roundTo)).as("t"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(se2 * se2 /
          ((va / naD) * (va / naD) / (naD - lit(1.0d)) +
            (vb / nbD) * (vb / nbD) / (nbD - lit(1.0d))), roundTo)).as("dof"))
  }

  /** Jarque–Bera normality test per group (Jarque & Bera 1980) +
    * skewness / excess kurtosis — the moment-based normality gate read
    * next to x200's Box–Cox scan (JB tells you IF the feature is
    * non-Gaussian; Box–Cox tells you which power fixes it). Output per
    * group: (group, n, skewness, ex_kurtosis, jb), χ²(2) under
    * normality.
    *
    * Scale shape: ONE keyed aggregation to exact decimal raw moments
    * (n, Σy, Σy², Σy³, Σy⁴ — decimal(38,0) holds Σy⁴ to ~10¹⁵ rows of
    * 6-digit values); central moments, skewness and kurtosis close in
    * documented double algebra from identically-converted components.
    * NULL when n < 2 or the variance is 0. */
  def jarqueBera(
      df: DataFrame,
      value: Column,
      group: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val v = value.cast("long")
    val perG = df
      .select(v.as("y"), group.cast("string").as("g"))
      .where(col("y").isNotNull && col("g").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast(dec)).as("s1"),
        sum(col("y").cast(dec) * col("y")).as("s2"),
        sum(col("y").cast(dec) * col("y") * col("y")).as("s3"),
        sum(col("y").cast(dec) * col("y") * col("y") * col("y")).as("s4"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mean * mean
    val m3 = col("s3").cast("double") / nD -
      lit(3.0d) * mean * (col("s2").cast("double") / nD) +
      lit(2.0d) * mean * mean * mean
    val m4 = col("s4").cast("double") / nD -
      lit(4.0d) * mean * (col("s3").cast("double") / nD) +
      lit(6.0d) * mean * mean * (col("s2").cast("double") / nD) -
      lit(3.0d) * mean * mean * mean * mean
    val skew = m3 / sqrt(m2 * m2 * m2)
    val exk = m4 / (m2 * m2) - lit(3.0d)
    val bad = col("n") < 2L || m2 <= 0.0d
    perG.select(
      col("g").as("group"), col("n"),
      when(bad, lit(null).cast("double")).otherwise(round(skew, roundTo))
        .as("skewness"),
      when(bad, lit(null).cast("double")).otherwise(round(exk, roundTo))
        .as("ex_kurtosis"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(nD / lit(6.0d) *
          (skew * skew + exk * exk / lit(4.0d)), roundTo)).as("jb"))
      .orderBy("group")
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013): how much
    * experiment variance would the pre-period covariate remove? With
    * per-entity (x = pre metric, y = post metric),
    * θ = cov(x,y)/var(x) and the adjusted metric y − θ(x − x̄) has
    * variance var(y)·(1 − ρ²) — so the report IS the correlation
    * structure: (n, theta, var_y, var_adj, reduction_ppm = ρ² exact by
    * cross-multiplied integer division). One row.
    *
    * Scale shape: the caller supplies the per-entity frame (one keyed
    * aggregation from events); ONE aggregation to six exact decimal
    * sufficient statistics; fp only in the close. */
  def cupedReport(
      perEntity: DataFrame,
      x: Column,
      y: Column,
      roundTo: Int = 6): DataFrame = {
    val dec = "decimal(38,0)"
    val agg = perEntity
      .select(x.cast("long").as("x"), y.cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"))
    val nD = col("n").cast("double")
    val covN = col("sxy").cast("double") * nD -
      col("sx").cast("double") * col("sy").cast("double")
    val varXN = col("sxx").cast("double") * nD -
      col("sx").cast("double") * col("sx").cast("double")
    val varYN = col("syy").cast("double") * nD -
      col("sy").cast("double") * col("sy").cast("double")
    agg.select(
      col("n"),
      when(col("n") < 2L || varXN <= 0.0d, lit(null).cast("double"))
        .otherwise(round(covN / varXN, roundTo)).as("theta"),
      when(col("n") < 2L, lit(null).cast("double"))
        .otherwise(round(varYN / (nD * nD), roundTo)).as("var_y"),
      when(col("n") < 2L || varXN <= 0.0d || varYN <= 0.0d,
        lit(null).cast("double"))
        .otherwise(round(
          (varYN - covN * covN / varXN) / (nD * nD), roundTo)).as("var_adj"),
      // ρ² as EXACT integer ppm: (n·Σxy − ΣxΣy)²·10⁶ div ((n·Σxx − Σx²)(n·Σyy − Σy²))
      when(col("n") < 2L, lit(null).cast("long"))
        .otherwise(expr(
          s"""CASE WHEN (CAST(n AS $dec) * sxx - sx * sx) <= 0
             |  OR (CAST(n AS $dec) * syy - sy * sy) <= 0 THEN NULL
             |ELSE CAST(
             |  ((CAST(n AS $dec) * sxy - sx * sy)
             |   * (CAST(n AS $dec) * sxy - sx * sy) * 1000000)
             |  div ((CAST(n AS $dec) * sxx - sx * sx)
             |       * (CAST(n AS $dec) * syy - sy * sy)) AS BIGINT)
             |END""".stripMargin)).as("reduction_ppm"))
  }

  /** Minimum detectable effect at 5% two-sided α / 80% power for the
    * x172 two-proportion setup (the "is this experiment even big
    * enough?" lens over the SAME four conditional sums):
    * MDE = (z_{α/2} + z_β)·√(2·p̄(1−p̄)/n_h) with n_h the harmonic mean
    * of the two cohort sizes — the z quantiles are plan literals
    * (1.9599639845400545, 0.8416212335729143), so the close is pure
    * documented double algebra. One row:
    * (n_a, n_b, p_pooled_ppm, mde_ppm). */
  def mdeReport(
      df: DataFrame,
      success: Column,
      inA: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val s = success.cast("boolean")
    val a = inA.cast("boolean")
    df.where(s.isNotNull && a.isNotNull)
      .agg(
        sum(when(a, 1L).otherwise(0L)).as("na"),
        sum(when(!a, 1L).otherwise(0L)).as("nb"),
        sum(when(a && s, 1L).otherwise(0L)).as("xa"),
        sum(when(!a && s, 1L).otherwise(0L)).as("xb"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") + col("nb") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"(CAST(xa + xb AS $dec) * 1000000) div (na + nb)").cast("long"))
          .as("p_pooled_ppm"),
        {
          val p = expr("CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE)")
          val nh = lit(2.0d) /
            (lit(1.0d) / col("na").cast("double") +
              lit(1.0d) / col("nb").cast("double"))
          when(col("na") === 0L || col("nb") === 0L ||
            p <= 0.0d || p >= 1.0d, lit(null).cast("long"))
            .otherwise((round(
              lit(1.9599639845400545d + 0.8416212335729143d) *
                sqrt(lit(2.0d) * p * (lit(1.0d) - p) / nh) * lit(1000000.0d),
              0)).cast("long")).as("mde_ppm")
        })
  }

  /** One-stop A/B readout — the composed flagship of the experiment
    * family: from ONE aggregation of the four conditional sums x172/x215
    * share, report both rates, the observed absolute effect, the pooled
    * z (x172's algebra), the 5%/80% minimum detectable effect (x215's
    * literal quantiles), and the POWERED verdict |diff| ≥ MDE — the
    * "significant, but was the test even big enough to trust a null?"
    * row an experiment review starts from. One row:
    * (n_a, n_b, p_a_ppm, p_b_ppm, diff_ppm, z, mde_ppm, powered).
    *
    * Exact integer ppm rates and diff; z and MDE in the same documented
    * double algebra as their standalone lenses (bit-identical by
    * construction — the spec pins equality against x172/x215). */
  def abReadout(
      df: DataFrame,
      inA: Column,
      success: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val s = success.cast("boolean")
    val a = inA.cast("boolean")
    df.where(s.isNotNull && a.isNotNull)
      .agg(
        sum(when(a, 1L).otherwise(0L)).as("na"),
        sum(when(!a, 1L).otherwise(0L)).as("nb"),
        sum(when(a && s, 1L).otherwise(0L)).as("xa"),
        sum(when(!a && s, 1L).otherwise(0L)).as("xb"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(CAST(xa AS $dec) * 1000000) div na")
            .cast("long")).as("p_a_ppm"),
        when(col("nb") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(CAST(xb AS $dec) * 1000000) div nb")
            .cast("long")).as("p_b_ppm"),
        when(col("na") === 0L || col("nb") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"""abs((CAST(xa AS $dec) * 1000000) div na
               |  - (CAST(xb AS $dec) * 1000000) div nb)""".stripMargin)
            .cast("long")).as("diff_ppm"),
        // x172's z, verbatim algebra
        when(col("na") === 0L || col("nb") === 0L ||
          col("xa") + col("xb") === 0L ||
          col("xa") + col("xb") === col("na") + col("nb"),
          lit(null).cast("double"))
          .otherwise(round(
            (col("xa").cast("double") / col("na").cast("double") -
              col("xb").cast("double") / col("nb").cast("double")) /
              sqrt((expr("CAST(xa + xb AS DOUBLE)") /
                expr("CAST(na + nb AS DOUBLE)")) *
                (lit(1.0d) - expr("CAST(xa + xb AS DOUBLE)") /
                  expr("CAST(na + nb AS DOUBLE)")) *
                (lit(1.0d) / col("na").cast("double") +
                  lit(1.0d) / col("nb").cast("double"))), roundTo))
          .as("z"),
        // x215's MDE, verbatim algebra
        {
          val p = expr("CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE)")
          val nh = lit(2.0d) /
            (lit(1.0d) / col("na").cast("double") +
              lit(1.0d) / col("nb").cast("double"))
          when(col("na") === 0L || col("nb") === 0L ||
            p <= 0.0d || p >= 1.0d, lit(null).cast("long"))
            .otherwise((round(
              lit(1.9599639845400545d + 0.8416212335729143d) *
                sqrt(lit(2.0d) * p * (lit(1.0d) - p) / nh) * lit(1000000.0d),
              0)).cast("long")).as("mde_ppm")
        })
      .withColumn("powered",
        when(col("diff_ppm").isNull || col("mde_ppm").isNull,
          lit(null).cast("boolean"))
          .otherwise(col("diff_ppm") >= col("mde_ppm")))
  }

  /** Cochran's Q test (Cochran 1950) on k PAIRED binary classifiers —
    * the k-way generalization of [[mcnemar]]: do ANY of the heuristics
    * err at a different rate on the SAME documents? With x_ij ∈ {0,1}
    * "classifier j correct on doc i", C_j column sums, R_i row sums:
    *   Q = (k−1)·(k·ΣC_j² − (ΣC_j)²) / (k·ΣR_i − ΣR_i²),
    * asymptotically χ²(k−1) under marginal homogeneity. One row:
    * (n, k, plus acc_<name>_ppm per classifier, q).
    *
    * Scale shape: ONE aggregation — per-classifier conditional sums plus
    * ΣR_i and ΣR_i² computed from the per-row correct-count projection
    * (R_i is bounded by k, so R_i² is exact long arithmetic in the
    * scan). Exact integers end to end; fp only in the closing ratio.
    * Rows where any classifier or the truth is NULL are excluded. */
  def cochranQ(
      df: DataFrame,
      preds: Seq[(String, Column)],
      truth: Column,
      roundTo: Int = 4): DataFrame = {
    require(preds.size >= 2, "cochranQ needs at least two classifiers")
    val dec = "decimal(38,0)"
    val k = preds.size
    val t = truth.cast("boolean")
    val oks = preds.map { case (name, p) =>
      name -> when(p.cast("boolean") === t, 1L).otherwise(0L)
    }
    val r = oks.map(_._2).reduce(_ + _)
    val nonNull = preds.map(_._2.isNotNull).reduce(_ && _) && truth.isNotNull
    val aggs =
      Seq(count(lit(1)).as("n"),
        coalesce(sum(r.cast(dec)), lit(0L).cast(dec)).as("sr"),
        coalesce(sum((r * r).cast(dec)), lit(0L).cast(dec)).as("sr2")) ++
        oks.map { case (name, ok) => sum(ok).as(s"__c_$name") }
    val counts = df.where(nonNull).agg(aggs.head, aggs.tail: _*)
    val sc = oks.map { case (name, _) =>
      col(s"__c_$name").cast(dec)
    }
    val sumC = sc.reduce(_ + _)
    val sumC2 = sc.map(c => c * c).reduce(_ + _)
    val accCols = oks.map { case (name, _) =>
      when(col("n") === 0L, lit(null).cast("long"))
        .otherwise(expr(s"(CAST(__c_$name AS $dec) * 1000000) div n")
          .cast("long")).as(s"acc_${name}_ppm")
    }
    counts.select(
      (Seq(col("n"), lit(k).cast("long").as("k")) ++ accCols :+ {
        val num = lit(k - 1).cast(dec) *
          (lit(k).cast(dec) * sumC2 - sumC * sumC)
        val den = lit(k).cast(dec) * col("sr") - col("sr2")
        when(col("n") === 0L || den <= lit(0L).cast(dec),
          lit(null).cast("double"))
          .otherwise(round(num.cast("double") / den.cast("double"), roundTo))
          .as("q")
      }): _*)
  }

  /** Isotonic (PAV) calibration of a binned score (Ayer et al. 1955;
    * Zadrozny & Elkan 2002) — the monotone fit that turns a ranking
    * score into a probability without assuming a sigmoid shape. Output
    * per score bin ASC: (bin, lo, n, n_pos, raw_ppm, fitted_ppm) with
    * fitted non-decreasing; adjacent bins whose raw rates violate
    * monotonicity share one pooled fitted rate. lo is the bin's left
    * edge, NULL on the −1/nBins clamp bins (open out-of-unit buckets,
    * not 1/nBins-wide intervals).
    *
    * Instead of the sequential pool-adjacent-violators stack (which a
    * SQL lambda cannot loop), the fit uses the minimax identity
    * fitted(i) = max_{j≤i} min_{k≥i} avg(pos[j..k] / n[j..k])
    * (Robertson, Wright & Dykstra 1988) — interval averages from prefix
    * sums on the BOUNDED bin frame, then a (i, j, k) triple join that is
    * ≤ (nBins+2)³ rows by construction. Because floor is monotone and
    * commutes with min/max, the truncated-ppm minimax IS the floor of
    * the exact rational PAV fit — bit-replayable, no fp anywhere.
    *
    * Scale shape: ONE corpus aggregation to the quantized bin state
    * (the [[brierBinStats]] kernel); every join after runs on the
    * cached ≤ nBins+2-row frame. Consume the result inside a Scope. */
  def pavCalibrate(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = Scope.persist(
      brierBinStats(df, score, label, nBins)
        .select(col("bin"), col("n"), col("n_pos")))
    pavFit(cells)
      .select(col("bin"),
        // lo is the bin's real left edge — the −1/nBins CLAMP bins are open
        // buckets (score < 0 / score ≥ 1), not 1/nBins-wide intervals, so
        // they carry a NULL edge instead of a fabricated one
        when(col("bin") < 0 || col("bin") >= nBins, lit(null).cast("double"))
          .otherwise(round(col("bin") / lit(nBins.toDouble), 4)).as("lo"),
        col("n"), col("n_pos"),
        expr(s"(CAST(n_pos AS $dec) * 1000000) div n").cast("long").as("raw_ppm"),
        col("fitted_ppm"))
      .orderBy("bin")
  }

  /** The minimax PAV fit over an ALREADY-MATERIALIZED (bin, n, n_pos)
    * frame — shared by [[pavCalibrate]] and the x206 recalibration-lift
    * report. Returns (bin, n, n_pos, fitted_ppm), fitted non-decreasing
    * in bin. */
  private[operators] def pavFit(cells: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pref = cells
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("n_pos").over(w))
    val jSide = pref.select(col("bin").as("j"),
      (col("cum_n") - col("n")).as("nj0"), (col("cum_pos") - col("n_pos")).as("pj0"))
    val kSide = pref.select(col("bin").as("k"),
      col("cum_n").as("nk"), col("cum_pos").as("pk"))
    // interval averages avg_ppm(j,k) for j ≤ k, exact floor-division ppm
    val ivals = jSide.join(kSide, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr(s"(CAST(pk - pj0 AS $dec) * 1000000) div (nk - nj0)")
          .cast("long").as("a_ppm"))
    val bins = cells.select(col("bin").as("i"), col("n"), col("n_pos"))
    val fit = bins
      .join(ivals, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j"), col("n"), col("n_pos"))
      .agg(min("a_ppm").as("mn"))
      .groupBy(col("i"), col("n"), col("n_pos"))
      .agg(max("mn").as("fitted_ppm"))
    fit.select(col("i").as("bin"), col("n"), col("n_pos"), col("fitted_ppm"))
  }

  /** Recalibration-lift report: does isotonic (PAV) recalibration of the
    * probe scores actually reduce the Brier score and the calibration
    * gap? The composed flagship of the probability-quality family — one
    * row: (n, n_pos, brier_raw_ppm, brier_pav_ppm, brier_lift_ppm,
    * ece_raw_ppm, ece_pav_ppm). In-sample by design (fit and evaluation
    * share the corpus): the report measures how much of the raw Brier
    * was CALIBRATION error — PAV cannot repair resolution, so the lift
    * is bounded by x194's reliability term (the spec pins the identity
    * lift ≤ REL + within-bin residue).
    *
    * EXACT end to end: the PAV fit is integer-ppm (the pavCalibrate
    * minimax), and the post-fit Brier needs NO second corpus pass —
    * fitted scores are bin-constant, so
    * Σ(f − 10⁶y)² = n·f² − 2·f·10⁶·pos + 10¹²·pos per bin, all from the
    * SAME quantized bin state. Scale shape: ONE corpus aggregation; the
    * fit joins and both closes run on the ≤ nBins+2-row cached frame.
    * Consume the result inside a Scope. */
  def recalibrationLift(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10): DataFrame = {
    val dec = "decimal(38,0)"
    val stats = Scope.persist(
      brierBinStats(df, score, label, nBins))
    val before = finishBrier(stats)
      .select(col("n"), col("n_pos"),
        col("brier_ppm").as("brier_raw_ppm"),
        col("ece_ppm").as("ece_raw_ppm"))
    val after = pavFit(stats.select(col("bin"), col("n"), col("n_pos")))
      .agg(
        coalesce(sum(expr(
          s"""CAST(n AS $dec) * fitted_ppm * fitted_ppm
             |  - CAST(2 AS $dec) * fitted_ppm * 1000000 * n_pos
             |  + CAST(1000000000000 AS $dec) * n_pos""".stripMargin)),
          lit(0L).cast(dec)).as("sqe"),
        coalesce(sum(expr(
          s"abs(CAST(n AS $dec) * fitted_ppm - CAST(1000000 AS $dec) * n_pos)")),
          lit(0L).cast(dec)).as("ae"),
        coalesce(sum("n"), lit(0L)).as("nn2"))
    before.crossJoin(after)
      .select(
        col("n"), col("n_pos"), col("brier_raw_ppm"),
        when(col("nn2") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"(CAST(1000000 AS $dec) * sqe) div (CAST(1000000000000 AS $dec) * nn2)")
            .cast("long")).as("brier_pav_ppm"),
        when(col("nn2") === 0L, lit(null).cast("long"))
          .otherwise(col("brier_raw_ppm") - expr(
            s"(CAST(1000000 AS $dec) * sqe) div (CAST(1000000000000 AS $dec) * nn2)")
            .cast("long")).as("brier_lift_ppm"),
        col("ece_raw_ppm"),
        when(col("nn2") === 0L, lit(null).cast("long"))
          .otherwise(expr("ae div nn2").cast("long")).as("ece_pav_ppm"))
  }

  /** Standardized mean-difference effect sizes between two cohorts of an
    * integer value: Cohen's d (pooled-SD) and the small-sample-corrected
    * Hedges' g (Hedges 1981, g = d·(1 − 3/(4(n₁+n₂)−9))) — the MAGNITUDE
    * readout next to x172's significance z (a significant z on 10⁷ rows
    * can carry a uselessly small d). One row:
    * (n_a, n_b, mean_a, mean_b, d, g).
    *
    * Scale shape: ONE aggregation of six conditional sums collapses the
    * corpus to exact decimal sufficient statistics; fp only in the
    * closing algebra, every operand converted from an exact decimal
    * exactly once (the twoProportionZ discipline). */
  def effectSize(
      df: DataFrame,
      value: Column,
      inA: Column,
      roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val v = value.cast("long")
    val a = inA.cast("boolean")
    df.where(v.isNotNull && a.isNotNull)
      .agg(
        sum(when(a, 1L).otherwise(0L)).as("na"),
        sum(when(!a, 1L).otherwise(0L)).as("nb"),
        coalesce(sum(when(a, v).otherwise(0L).cast(dec)), lit(0L).cast(dec))
          .as("sa"),
        coalesce(sum(when(!a, v).otherwise(0L).cast(dec)), lit(0L).cast(dec))
          .as("sb"),
        coalesce(sum(when(a, v.cast(dec) * v).otherwise(lit(0L).cast(dec))),
          lit(0L).cast(dec)).as("qa"),
        coalesce(sum(when(!a, v.cast(dec) * v).otherwise(lit(0L).cast(dec))),
          lit(0L).cast(dec)).as("qb"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") === 0L, lit(null).cast("double"))
          .otherwise(round(col("sa").cast("double") / col("na").cast("double"),
            roundTo)).as("mean_a"),
        when(col("nb") === 0L, lit(null).cast("double"))
          .otherwise(round(col("sb").cast("double") / col("nb").cast("double"),
            roundTo)).as("mean_b"),
        {
          // pooled variance from exact decimals: ((qa − sa²/na) +
          // (qb − sb²/nb)) / (na + nb − 2)
          val ssa = col("qa").cast("double") -
            col("sa").cast("double") * col("sa").cast("double") /
              col("na").cast("double")
          val ssb = col("qb").cast("double") -
            col("sb").cast("double") * col("sb").cast("double") /
              col("nb").cast("double")
          val sp2 = (ssa + ssb) /
            (col("na").cast("double") + col("nb").cast("double") - 2.0d)
          val dEff = (col("sa").cast("double") / col("na").cast("double") -
            col("sb").cast("double") / col("nb").cast("double")) / sqrt(sp2)
          when(col("na") < 2L || col("nb") < 2L || sp2 <= 0.0d,
            lit(null).cast("double"))
            .otherwise(round(dEff, roundTo)).as("d")
        },
        {
          val ssa = col("qa").cast("double") -
            col("sa").cast("double") * col("sa").cast("double") /
              col("na").cast("double")
          val ssb = col("qb").cast("double") -
            col("sb").cast("double") * col("sb").cast("double") /
              col("nb").cast("double")
          val sp2 = (ssa + ssb) /
            (col("na").cast("double") + col("nb").cast("double") - 2.0d)
          val dEff = (col("sa").cast("double") / col("na").cast("double") -
            col("sb").cast("double") / col("nb").cast("double")) / sqrt(sp2)
          val corr = lit(1.0d) - lit(3.0d) /
            (lit(4.0d) * (col("na").cast("double") + col("nb").cast("double")) -
              lit(9.0d))
          when(col("na") < 2L || col("nb") < 2L || sp2 <= 0.0d,
            lit(null).cast("double"))
            .otherwise(round(dEff * corr, roundTo)).as("g")
        })
  }

  /** Box–Cox transform selection (Box & Cox 1964) for a POSITIVE integer
    * feature: per candidate λ, the profile Gaussian log-likelihood of the
    * transformed variable,
    *   ll(λ) = −n/2·ln(σ̂²_λ) + (λ−1)·Σ ln v,
    * with the transform t_λ(v) = (v^λ−1)/λ (ln v at λ=0) — the
    * normalizing-power scan run before a mean/σ-based screen trusts a
    * skewed feature. Output per λ: (lambda, n, loglik, is_best), λ ASC.
    *
    * Supported λ grid is {−1, −0.5, 0, 0.5, 1}: every transform reduces
    * to division / sqrt / ln — NO pow(), whose last-ulp behavior differs
    * across libm implementations; ln and sqrt replay bit-for-bit (the
    * x180/x186 precedent).
    *
    * Scale shape: ONE corpus aggregation to the DOMAIN-bounded
    * (value, count) frame; all λ arms are ORDER-PINNED folds over the one
    * collected value-sorted array (the chiSquareIndependence discipline),
    * so every fp sum is partition-order-free and the oracle replays the
    * identical folds via list_reduce. Non-positive values are REJECTED
    * (null row in, null out would hide a contract violation) — they are
    * filtered with a count reported in n_dropped. */
  def boxCoxScan(
      df: DataFrame,
      value: Column,
      roundTo: Int = 4): DataFrame = {
    val lambdas = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)
    val base = df.select(value.cast("long").as("v"))
      .where(col("v").isNotNull)
    val cells = base
      .groupBy("v")
      .agg(count(lit(1)).as("c"))
    val one = cells.agg(
      coalesce(sum(when(col("v") > 0L, col("c")).otherwise(0L)), lit(0L)).as("n"),
      coalesce(sum(when(col("v") <= 0L, col("c")).otherwise(0L)), lit(0L))
        .as("n_dropped"),
      sort_array(collect_list(when(col("v") > 0L,
        struct(col("v"), col("c"))))).as("o"))
      // a constant sample's variance is an fp cancellation residue, not a
      // trustworthy 0 — gate on the DISTINCT positive-value count instead
      .withColumn("ndist", size(col("o")))
    def t(lam: Double): String = lam match {
      case 0.0  => "ln(CAST(s.v AS DOUBLE))"
      case 1.0  => "CAST(s.v AS DOUBLE) - 1.0D"
      case -1.0 => "1.0D - 1.0D / CAST(s.v AS DOUBLE)"
      case 0.5  => "2.0D * (sqrt(CAST(s.v AS DOUBLE)) - 1.0D)"
      case -0.5 => "2.0D * (1.0D - 1.0D / sqrt(CAST(s.v AS DOUBLE)))"
      case other => throw new IllegalArgumentException(
        s"boxCoxScan: unsupported lambda $other")
    }
    def fold(inner: String): Column = expr(
      s"""aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
         |  acc + CAST(s.c AS DOUBLE) * ($inner))""".stripMargin)
    val arms = lambdas.map { lam =>
      val s1 = fold(t(lam))
      val s2 = fold(s"(${t(lam)}) * (${t(lam)})")
      val slv = fold("ln(CAST(s.v AS DOUBLE))")
      val nD = col("n").cast("double")
      val variance = (s2 - s1 * s1 / nD) / nD
      struct(
        lit(lam).as("lambda"),
        col("n").as("n"),
        when(col("n") < 2L || col("ndist") < 2 || variance <= 0.0d,
          lit(null).cast("double"))
          .otherwise(round(
            lit(-0.5d) * nD * log(variance) + lit(lam - 1.0d) * slv, roundTo))
          .as("loglik"))
    }
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    one.select(col("n_dropped"), explode(array(arms: _*)).as("r"))
      .select(col("r.lambda").as("lambda"), col("r.n").as("n"),
        col("n_dropped"), col("r.loglik").as("loglik"))
      .withColumn("is_best",
        col("loglik").isNotNull && col("loglik") === max("loglik").over(all))
      .orderBy("lambda")
  }

  /** McNemar's test (McNemar 1947, continuity-corrected) on PAIRED binary
    * classifiers — do two quality heuristics disagree with the truth at
    * different rates on the SAME documents? The paired complement of
    * x172's independent two-proportion z. One row:
    * (n, acc_a_ppm, acc_b_ppm, b_only, c_only, chi2_ppm) where b_only =
    * A-correct ∧ B-wrong, c_only the reverse, and
    * chi2 = (|b−c|−1)²/(b+c) — reported as exact integer ppm (floor).
    *
    * Scale shape: ONE aggregation of five conditional sums collapses the
    * corpus; everything after is 1-row algebra. Exact end to end. */
  def mcnemar(
      df: DataFrame,
      predA: Column,
      predB: Column,
      truth: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val okA = predA.cast("boolean") === truth.cast("boolean")
    val okB = predB.cast("boolean") === truth.cast("boolean")
    df.where(predA.isNotNull && predB.isNotNull && truth.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(okA, 1L).otherwise(0L)).as("ca"),
        sum(when(okB, 1L).otherwise(0L)).as("cb"),
        sum(when(okA && !okB, 1L).otherwise(0L)).as("b_only"),
        sum(when(!okA && okB, 1L).otherwise(0L)).as("c_only"))
      .select(
        col("n"),
        when(col("n") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(CAST(ca AS $dec) * 1000000) div n").cast("long"))
          .as("acc_a_ppm"),
        when(col("n") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(CAST(cb AS $dec) * 1000000) div n").cast("long"))
          .as("acc_b_ppm"),
        col("b_only"), col("c_only"),
        when(col("b_only") + col("c_only") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"""((abs(CAST(b_only AS $dec) - c_only) - 1)
               | * (abs(CAST(b_only AS $dec) - c_only) - 1)
               | * 1000000) div (CAST(b_only AS $dec) + c_only)""".stripMargin)
            .cast("long"))
          .as("chi2_ppm"))
  }

  /** Group-fairness audit of a binary classifier (Hardt, Price & Srebro
    * 2016's equalized-odds frame + the demographic-parity rate check) —
    * the per-cohort readout run before a quality filter is allowed to
    * gate a corpus: a filter that is 95 % accurate OVERALL can still
    * silently delete one source or language. Per group:
    *   pos_rate_ppm — predicted-positive rate (demographic parity view)
    *   tpr_ppm/fpr_ppm — the equalized-odds pair (NULL when the group
    *     has no positives / no negatives)
    *   acc_ppm — group accuracy
    * plus two corpus-level gap columns repeated on every row (the
    * broadcast-global house pattern): dp_gap_ppm = max−min pos rate, and
    * eo_gap_ppm = the larger of the TPR and FPR ranges across groups.
    * All rates are exact integer ppm (count·10⁶ div n) — no fp anywhere.
    *
    * Scale shape: ONE keyed aggregation collapses the corpus to
    * |groups| rows of six longs; the gap frame is a 1-row aggregate of
    * that, broadcast back. Rows with a NULL group/pred/label are
    * excluded (three-valued logic would silently skew the rates). */
  def fairnessAudit(
      df: DataFrame,
      group: Column,
      pred: Column,
      label: Column): DataFrame =
    finishFairness(fairnessCells(df, group, pred, label))

  /** The per-group confusion-cell state under [[fairnessAudit]] and its
    * streaming twin: six commutative longs per group — grows
    * monotonically under any arrival order, no watermark needed. */
  def fairnessCells(
      df: DataFrame,
      group: Column,
      pred: Column,
      label: Column): DataFrame = {
    val p = pred.cast("boolean")
    val y = label.cast("boolean")
    df.where(group.isNotNull && p.isNotNull && y.isNotNull)
      .groupBy(group.cast("string").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(y, 1L).otherwise(0L)).as("n_pos"),
        sum(when(p, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(p && y, 1L).otherwise(0L)).as("tp"),
        sum(when(p && !y, 1L).otherwise(0L)).as("fp"),
        sum(when(p === y, 1L).otherwise(0L)).as("ok"))
  }

  /** The stateless rate/gap view over [[fairnessCells]] state. */
  def finishFairness(cells: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val rates = cells.select(
      col("grp"), col("n"), col("n_pos"),
      expr(s"(CAST(n_pred_pos AS $dec) * 1000000) div n").cast("long")
        .as("pos_rate_ppm"),
      when(col("n_pos") > 0L,
        expr(s"(CAST(tp AS $dec) * 1000000) div n_pos").cast("long"))
        .otherwise(lit(null).cast("long")).as("tpr_ppm"),
      when(col("n") - col("n_pos") > 0L,
        expr(s"(CAST(fp AS $dec) * 1000000) div (n - n_pos)").cast("long"))
        .otherwise(lit(null).cast("long")).as("fpr_ppm"),
      expr(s"(CAST(ok AS $dec) * 1000000) div n").cast("long").as("acc_ppm"))
    val gaps = rates.agg(
      (max("pos_rate_ppm") - min("pos_rate_ppm")).as("dp_gap_ppm"),
      greatest(
        coalesce(max("tpr_ppm") - min("tpr_ppm"), lit(0L)),
        coalesce(max("fpr_ppm") - min("fpr_ppm"), lit(0L))).as("eo_gap_ppm"))
    rates.crossJoin(broadcast(gaps)).orderBy("grp")
  }

  /** Inverse-propensity-score off-policy evaluation (Horvitz & Thompson
    * 1952; SNIPS: Swaminathan & Joachims 2015) of the UNIFORM target
    * policy against the logged behavior policy — "what would the average
    * reward have been had every action been tried equally?", plus the
    * diagnostics that say whether the logs can answer that at all. The
    * behavior propensity is the empirical action share p̂(a) = n_a/N (the
    * MLE of a stationary logger), so the per-event weight is the exact
    * rational w(a) = (1/K)/(n_a/N) = N/(K·n_a), carried as a truncated
    * ppm integer. Output one row:
    *   n_events, n_actions,
    *   ips_micro    — IPS estimate of the target-policy mean reward, in
    *                  10⁻⁶ reward units: (Σ_a sr_a·w_a) div (10⁶·N)
    *   snips_micro  — self-normalized IPS: (Σ_a sr_a·w_a) div Σ_a n_a·w_a
    *   ess_ppm      — effective sample share (Σw)²/(N·Σw²) as ppm: the
    *                  "how many events actually back this estimate"
    *                  overlap diagnostic (Owen, Monte Carlo §9)
    *   max_w_ppm    — the largest weight: a handful of rare actions
    *                  carrying 10⁶⁺ ppm weights means the estimate rides
    *                  on outliers
    * Rewards quantize to the 10⁻⁶ grid per row (⌊r·10⁶ + 0.5⌋) before
    * integer summation, every division is a truncating integer div, and
    * all wide products run in decimal(38,0) — exact, arrival-order-free,
    * SQL-replayable (ESS's W1² term bounds N at ~10¹⁰ events per call;
    * shard the audit beyond that).
    *
    * Scale shape: ONE keyed aggregation to the |actions| frame, then
    * metadata-sized arithmetic — the 100 TB plan for a log audit. */
  def ipsOffPolicy(df: DataFrame, action: Column, reward: Column): DataFrame =
    finishIps(ipsActionCells(df, action, reward))

  /** The per-action sufficient statistics under [[ipsOffPolicy]] and its
    * streaming twin: two commutative longs per action (count, quantized
    * reward sum) — grows under any arrival order, no watermark needed. */
  def ipsActionCells(df: DataFrame, action: Column, reward: Column): DataFrame =
    df.where(action.isNotNull && reward.isNotNull)
      .select(action.cast("string").as("a"),
        floor(reward.cast("double") * lit(1000000.0d) + lit(0.5d))
          .cast("long").as("r_micro"))
      .groupBy("a")
      .agg(count(lit(1)).as("n"), sum("r_micro").as("sr"))

  /** The stateless report over [[ipsActionCells]] state. */
  def finishIps(cells: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val tot = cells.agg(
      coalesce(sum("n"), lit(0L)).as("n_events"),
      count(lit(1)).as("n_actions"))
    val weighted = cells.crossJoin(broadcast(tot))
      .withColumn("w_ppm",
        expr(s"(CAST(n_events AS $dec) * 1000000) div (n_actions * n)")
          .cast("long"))
    val sums = weighted.agg(
      sum(expr(s"CAST(sr AS $dec) * w_ppm")).as("srw"),
      sum(expr(s"CAST(n AS $dec) * w_ppm")).as("w1"),
      sum(expr(s"CAST(n AS $dec) * w_ppm * w_ppm")).as("w2"),
      max("w_ppm").as("max_w_ppm"))
    tot.crossJoin(broadcast(sums))
      .select(
        col("n_events"), col("n_actions"),
        when(col("n_events") > 0L,
          expr(s"srw div (CAST(1000000 AS $dec) * n_events)").cast("long"))
          .otherwise(lit(null).cast("long")).as("ips_micro"),
        // w_ppm truncates to 0 for an action holding > 10⁶/K of all
        // events — the degenerate-overlap case where the normalized
        // estimators are undefined; report NULL rather than divide.
        // Nested whens (the finishSmd discipline): a single And can be
        // reordered under ANSI and leave the div evaluated on
        // degenerate groups, so the outer guard gates the inner compute
        when(col("n_events") > 0L,
          when(expr("w1 > 0"), expr("srw div w1").cast("long")))
          .as("snips_micro"),
        when(col("n_events") > 0L,
          when(expr("w2 > 0"),
            expr("(w1 * w1 * 1000000) div (w2 * n_events)").cast("long")))
          .as("ess_ppm"),
        col("max_w_ppm"))
      .orderBy("n_events")
  }

  /** Covariate-balance audit between two experiment arms via the
    * standardized mean difference (Austin 2009, "Balance diagnostics for
    * comparing the distribution of baseline covariates"):
    *   SMD = (μ₁ − μ₀) / √((σ₁² + σ₀²)/2)
    * per covariate — the pre-readout sanity table that catches a broken
    * randomizer or a skewed trigger condition BEFORE anyone interprets
    * the treatment effect (|SMD| ≳ 0.1 is the conventional imbalance
    * flag). Moments come from exact per-arm integer sums (each value
    * quantized to the 10⁻⁶ grid per row, squares summed in
    * decimal(38,0) — the lookArmStats discipline), so the doubles both
    * engines derive them from are identical; σ² is the biased MLE
    * variance. Output per covariate:
    * (covariate, n0, n1, mean0, mean1, var0, var1, smd), means/vars
    * rounded to 6 dp, smd to 4; NULL where an arm is empty or both
    * variances vanish.
    *
    * Scale shape: one explode to |covariates|·N rows that collapses
    * map-side into the 2·|covariates| sufficient-statistics cells —
    * nothing row-sized moves. */
  def smdBalance(
      df: DataFrame,
      treatment: Column,
      covariates: Seq[(String, Column)]): DataFrame =
    finishSmd(smdCells(df, treatment, covariates))

  /** The per-covariate sufficient statistics under [[smdBalance]] and its
    * streaming twin: six commutative per-arm sums per covariate (counts,
    * quantized value sums, decimal squares) — grows under any arrival
    * order, no watermark needed. */
  def smdCells(
      df: DataFrame,
      treatment: Column,
      covariates: Seq[(String, Column)]): DataFrame = {
    require(covariates.nonEmpty, "smdBalance: at least one covariate")
    val dec = "decimal(38,0)"
    val t = treatment.cast("boolean")
    df.where(t.isNotNull)
      .select(t.as("t"), array(covariates.map { case (nm, c) =>
        struct(lit(nm).as("cov"), c.cast("double").as("v"))
      }: _*).as("cs"))
      .select(col("t"), explode(col("cs")).as("x"))
      .select(col("t"), col("x.cov").as("cov"), col("x.v").as("v"))
      .where(col("v").isNotNull)
      .withColumn("q",
        floor(col("v") * lit(1000000.0d) + lit(0.5d)).cast("long"))
      .groupBy("cov")
      .agg(
        sum(when(!col("t"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("t"), col("q"))).as("s0"),
        sum(when(col("t"), col("q"))).as("s1"),
        sum(when(!col("t"), expr(s"CAST(q AS $dec) * q"))).as("ss0"),
        sum(when(col("t"), expr(s"CAST(q AS $dec) * q"))).as("ss1"))
  }

  /** The stateless SMD view over [[smdCells]] state. */
  def finishSmd(cells: DataFrame): DataFrame = {
    def mean(s: String, n: String): Column =
      expr(s"(CAST($s AS DOUBLE) / 1000000.0D) / $n")
    def vr(ss: String, s: String, n: String): Column =
      expr(s"(CAST($ss AS DOUBLE) / 1000000000000.0D) / $n") -
        mean(s, n) * mean(s, n)
    cells.select(
      col("cov").as("covariate"), col("n0"), col("n1"),
      when(col("n0") > 0L, round(mean("s0", "n0"), 6)).as("mean0"),
      when(col("n1") > 0L, round(mean("s1", "n1"), 6)).as("mean1"),
      when(col("n0") > 0L, round(vr("ss0", "s0", "n0"), 6)).as("var0"),
      when(col("n1") > 0L, round(vr("ss1", "s1", "n1"), 6)).as("var1"),
      // nested whens: the variance expressions divide by n0/n1, so they
      // must stay unevaluated (not merely unreturned) when an arm is
      // empty — a single And condition could be reordered under ANSI
      when(col("n0") > 0L && col("n1") > 0L,
        when(vr("ss0", "s0", "n0") + vr("ss1", "s1", "n1") > 0.0d,
          round((mean("s1", "n1") - mean("s0", "n0")) /
            sqrt((vr("ss1", "s1", "n1") + vr("ss0", "s0", "n0")) / 2.0d), 4)))
        .as("smd"))
      .orderBy("covariate")
  }

  /** Cross-fitted doubly-robust off-policy evaluation (Dudík, Langford &
    * Li 2011) of the uniform target policy — [[ipsOffPolicy]]'s
    * variance-reduced sibling: a direct-method baseline q̂(a) (per-action
    * mean reward) absorbs most of the value, and the IPS term only
    * corrects the baseline's residuals. q̂ is fit on the `fitSplit` half
    * and evaluated on the other (cross-fitting — fitting q̂ on the same
    * rows would cancel the correction identically and overfit in
    * general); eval-half actions unseen in the fit half fall back to the
    * fit half's global mean. Output one row:
    *   n_eval, n_fit, n_actions (eval-half action count),
    *   dm_micro   — the direct-method estimate: uniform average of q̂
    *                over eval-half actions
    *   corr_micro — the IPS-weighted residual correction
    *   dr_micro   — dm + corr, the DR estimate
    *   ips_micro  — plain IPS on the eval half, for comparison
    * Same exact micro/ppm integer discipline as [[ipsOffPolicy]]; every
    * division truncates, decimal(38,0) for wide products.
    *
    * Scale shape: TWO keyed aggregations (one per split) to |actions|
    * frames, then metadata arithmetic. */
  def drOffPolicy(
      df: DataFrame,
      action: Column,
      reward: Column,
      fitSplit: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val f = fitSplit.cast("boolean")
    val base = df.where(action.isNotNull && reward.isNotNull && f.isNotNull)
      .select(action.cast("string").as("a"),
        floor(reward.cast("double") * lit(1000000.0d) + lit(0.5d))
          .cast("long").as("r_micro"),
        f.as("fit"))
    val cells = base.groupBy("a").agg(
      sum(when(col("fit"), 1L).otherwise(0L)).as("n_fit"),
      sum(when(col("fit"), col("r_micro"))).as("sr_fit"),
      sum(when(!col("fit"), 1L).otherwise(0L)).as("n_ev"),
      sum(when(!col("fit"), col("r_micro"))).as("sr_ev"))
    val tot = cells.agg(
      coalesce(sum("n_ev"), lit(0L)).as("n_eval"),
      coalesce(sum("n_fit"), lit(0L)).as("n_fit_total"),
      coalesce(sum(when(col("n_ev") > 0L, 1L).otherwise(0L)), lit(0L))
        .as("n_actions"),
      coalesce(sum("sr_fit"), lit(0L)).as("sr_fit_total"))
    val withQ = cells.where(col("n_ev") > 0L).crossJoin(broadcast(tot))
      .withColumn("qhat",
        when(col("n_fit") > 0L, expr("sr_fit div n_fit"))
          .otherwise(when(col("n_fit_total") > 0L,
            expr("sr_fit_total div n_fit_total")).otherwise(lit(0L))))
      .withColumn("w_ppm",
        expr(s"(CAST(n_eval AS $dec) * 1000000) div (n_actions * n_ev)")
          .cast("long"))
    val sums = withQ.agg(
      sum("qhat").as("sum_qhat"),
      sum(expr(s"CAST(sr_ev - n_ev * qhat AS $dec) * w_ppm")).as("resw"),
      sum(expr(s"CAST(sr_ev AS $dec) * w_ppm")).as("srw"))
    tot.crossJoin(broadcast(sums))
      .select(
        col("n_eval"), col("n_fit_total").as("n_fit"), col("n_actions"),
        when(col("n_actions") > 0L, expr("sum_qhat div n_actions"))
          .otherwise(lit(null).cast("long")).as("dm_micro"),
        when(col("n_eval") > 0L,
          expr(s"resw div (CAST(1000000 AS $dec) * n_eval)").cast("long"))
          .otherwise(lit(null).cast("long")).as("corr_micro"),
        // nested whens (finishSmd discipline): the sum divides by BOTH
        // n_actions and n_eval — a single conjunction can be reordered
        // under ANSI, so each guard stays outside the compute
        when(col("n_eval") > 0L,
          when(col("n_actions") > 0L,
            expr("sum_qhat div n_actions") +
              expr(s"resw div (CAST(1000000 AS $dec) * n_eval)").cast("long")))
          .as("dr_micro"),
        when(col("n_eval") > 0L,
          expr(s"srw div (CAST(1000000 AS $dec) * n_eval)").cast("long"))
          .otherwise(lit(null).cast("long")).as("ips_micro"))
      .orderBy("n_eval")
  }

  /** Per-look A/B sufficient statistics — the bounded state under the
    * mSPRT monitor [[finishMsprt]] and its streaming twin: for each look
    * (a calendar day, an hour bucket…) the six commutative sums
    * (n, Σq, Σq²) per arm, with the metric quantized to the 10⁻⁶ grid
    * (q = ⌊v·10⁶ + 0.5⌋, a pure function of the row) and squares summed
    * in decimal(38,0) — exact integers, so the state is identical under
    * any partitioning or arrival order and only ever GROWS (no watermark
    * needed; batch and stream share this view verbatim). */
  def lookArmStats(
      df: DataFrame,
      look: Column,
      armA: Column,
      value: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val q = floor(value.cast("double") * lit(1000000.0d) + lit(0.5d))
      .cast("long")
    val zero = lit(0L).cast(dec)
    df.where(look.isNotNull && armA.isNotNull && value.isNotNull)
      .select(look.as("look"), armA.cast("boolean").as("a"), q.as("q"))
      .groupBy("look")
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("a"), col("q").cast(dec)).otherwise(zero)).as("s_t"),
        sum(when(col("a"), col("q").cast(dec) * col("q")).otherwise(zero))
          .as("ss_t"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("a"), col("q").cast(dec)).otherwise(zero)).as("s_c"),
        sum(when(!col("a"), col("q").cast(dec) * col("q")).otherwise(zero))
          .as("ss_c"))
  }

  /** mSPRT always-valid sequential A/B monitor (Johari, Koomen, Pekelis &
    * Walsh 2017 — the mixture sequential probability ratio test with a
    * normal mixture over the effect): at every look, over the CUMULATIVE
    * per-arm stats,
    *   Λₙ = √(V/(V+τ²)) · exp(δ̂²τ² / (2V(V+τ²))),
    *   V  = σ̂²_pooled·(1/n_t + 1/n_c)
    * reported in the ln domain, with the always-valid decision
    * "reject once max_{looks ≤ n} ln Λ ≥ ln(1/α)" — the test a dashboard
    * can peek at EVERY day without inflating its false-positive rate,
    * unlike the fixed-horizon z-test (x172) it complements. Looks with
    * n_t < 2, n_c < 2 or zero pooled variance carry NULL ln Λ and do not
    * move the running max.
    *
    * Determinism: every statistic is a row-local IEEE function of the
    * exact integer cumulative sums (ln on identical inputs — the x199
    * contract), so the readout replays bit-for-bit in SQL. Scale shape:
    * raw events collapse to the |looks| frame in the FIRST aggregation
    * ([[lookArmStats]]); the cumulative and running-max windows run on
    * that calendar-bounded frame only. */
  def finishMsprt(
      statsIn: DataFrame,
      tau2: Double = 0.01,
      alpha: Double = 0.05): DataFrame = {
    require(tau2 > 0.0, "finishMsprt: tau2 must be > 0")
    require(alpha > 0.0 && alpha < 1.0, "finishMsprt: alpha in (0, 1)")
    val w = Window.orderBy("look")
      .rowsBetween(Window.unboundedPreceding, 0)
    val llrThresh = math.log(1.0 / alpha)
    statsIn
      .select(col("look"),
        sum("n_t").over(w).as("nt"),
        sum("s_t").over(w).as("st"),
        sum("ss_t").over(w).as("sst"),
        sum("n_c").over(w).as("nc"),
        sum("s_c").over(w).as("sc"),
        sum("ss_c").over(w).as("ssc"))
      .withColumn("mt", expr(
        "CASE WHEN nt > 0 THEN " +
          "(CAST(st AS DOUBLE) / 1000000.0) / CAST(nt AS DOUBLE) END"))
      .withColumn("mc", expr(
        "CASE WHEN nc > 0 THEN " +
          "(CAST(sc AS DOUBLE) / 1000000.0) / CAST(nc AS DOUBLE) END"))
      .withColumn("delta", expr("mt - mc"))
      .withColumn("ssqt", expr(
        """CASE WHEN nt > 0 THEN
          |  (CAST(sst AS DOUBLE) / 1000000000000.0)
          |  - (((CAST(st AS DOUBLE) / 1000000.0)
          |      * (CAST(st AS DOUBLE) / 1000000.0)) / CAST(nt AS DOUBLE))
          |END""".stripMargin))
      .withColumn("ssqc", expr(
        """CASE WHEN nc > 0 THEN
          |  (CAST(ssc AS DOUBLE) / 1000000000000.0)
          |  - (((CAST(sc AS DOUBLE) / 1000000.0)
          |      * (CAST(sc AS DOUBLE) / 1000000.0)) / CAST(nc AS DOUBLE))
          |END""".stripMargin))
      .withColumn("s2p", expr(
        "CASE WHEN nt + nc - 2 > 0 THEN " +
          "(ssqt + ssqc) / CAST(nt + nc - 2 AS DOUBLE) END"))
      .withColumn("vd", expr(
        "CASE WHEN nt > 0 AND nc > 0 THEN " +
          "s2p * (1.0 / CAST(nt AS DOUBLE) + 1.0 / CAST(nc AS DOUBLE)) END"))
      .withColumn("llr",
        expr(s"""CASE WHEN nt >= 2 AND nc >= 2 AND s2p > 0.0 THEN
                |  0.5 * ln(vd / (vd + $tau2))
                |    + ((delta * delta) * $tau2) / ((2.0 * vd) * (vd + $tau2))
                |END""".stripMargin))
      .withColumn("max_llr", max("llr").over(w))
      .select(
        col("look"), col("nt").as("n_t"), col("nc").as("n_c"),
        round(col("mt"), 6).as("mean_t"),
        round(col("mc"), 6).as("mean_c"),
        round(col("delta"), 6).as("delta"),
        round(col("llr"), 4).as("llr"),
        round(col("max_llr"), 4).as("max_llr"),
        coalesce(col("max_llr") >= lit(llrThresh), lit(false)).as("reject"))
      .orderBy("look")
  }

  /** The batch mSPRT monitor: [[lookArmStats]] → [[finishMsprt]]. */
  def msprtMonitor(
      df: DataFrame,
      look: Column,
      armA: Column,
      value: Column,
      tau2: Double = 0.01,
      alpha: Double = 0.05): DataFrame =
    finishMsprt(lookArmStats(df, look, armA, value), tau2, alpha)
}
