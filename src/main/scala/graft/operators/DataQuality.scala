package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relationship-level data-quality audits — the dbt-test / Deequ-style
  * constraint checks a warehouse runs before a corpus or mart is
  * released, as ONE declarative report (no driver-side counting loops).
  */
object DataQuality {

  /** One declared foreign-key relationship: child rows referencing a
    * parent key set. */
  final case class Rel(
      name: String,
      child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column)

  /** Two-directional referential-integrity audit. Per relationship:
    *   n_child, n_orphans      — child rows whose key has NO parent
    *                             (broken reference)
    *   n_parent, n_childless   — parent keys with NO child row
    *                             (coverage gap — e.g. orders that never
    *                             produced a line item)
    * with both rates in exact ppm. NULL child keys count as orphans
    * (a reference that points nowhere is broken, whatever the reason).
    *
    * Scale shape: per relationship, ONE scan of each side — the child
    * projects to per-key counts (map-side-combining aggregation), the
    * parent to its distinct key set — then ONE full-outer hash join on
    * the key and ONE 1-row aggregation read off all four numbers: a
    * child key group with no parent row is orphaned mass (NULL child
    * keys never equal a parent key, so the null group lands there too,
    * preserving the nulls-are-orphans contract), a parent key with no
    * child group is childless. The previous shape scanned the child
    * three times and the parent's distinct set three times across two
    * anti-joins and four separate aggregations (guide §2.4). The report
    * is |rels| rows built by unionAll of 1-row aggregates — nothing
    * row-sized reaches the driver. */
  def referentialAudit(rels: Seq[Rel]): DataFrame = {
    require(rels.nonEmpty, "referentialAudit: at least one relationship")
    require(rels.map(_.name).distinct.size == rels.size,
      "referentialAudit: relationship names must be unique")
    val reports = rels.map { r =>
      val cg = r.child.select(r.childKey.cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("__c"))
      val pk = r.parent.select(r.parentKey.cast("long").as("k"))
        .where(col("k").isNotNull).distinct()
        .withColumn("__p", lit(1))
      cg.join(pk, Seq("k"), "full_outer")
        .agg(
          coalesce(sum(col("__c")), lit(0L)).as("n_child"),
          coalesce(sum(when(col("__p").isNull, col("__c"))), lit(0L))
            .as("n_orphans"),
          count(col("__p")).as("n_parent"),
          count(when(col("__p").isNotNull && col("__c").isNull, 1))
            .as("n_childless"))
        .select(
          lit(r.name).as("rel"),
          col("n_child"), col("n_orphans"),
          when(col("n_child") === 0, lit(null).cast("long"))
            .otherwise(expr(
              "(cast(n_orphans as decimal(38,0)) * 1000000) div n_child"))
            .as("orphan_ppm"),
          col("n_parent"), col("n_childless"),
          when(col("n_parent") === 0, lit(null).cast("long"))
            .otherwise(expr(
              "(cast(n_childless as decimal(38,0)) * 1000000) div n_parent"))
            .as("childless_ppm"))
    }
    reports.reduce(_ unionAll _)
  }

  /** Categorical diversity audit: per declared column, the cardinality
    * and concentration numbers a mixture/curation pass reads before
    * trusting a category as a stratification key — n (non-null rows),
    * distinct values, the top value's share, and the Simpson effective
    * number of classes (n²·10⁶ div Σc², the inverse Simpson index: ~k
    * for k balanced classes, →1 as one value dominates). All exact
    * integers (decimal(38) guards the n² product at any corpus size).
    *
    * Scale shape: ONE scan fans every audited column out through a
    * single explode; (column, value) counts collapse map-side; the
    * per-column finish aggregates |columns| groups. */
  def diversityAudit(
      df: DataFrame,
      columns: Seq[(String, Column)]): DataFrame = {
    require(columns.nonEmpty, "diversityAudit needs at least one column")
    val rows = df.select(
      explode(array(columns.map { case (name, c) =>
        struct(lit(name).as("column"), c.cast("string").as("v"))
      }: _*)).as("cv"))
      .select(col("cv.column").as("column"), col("cv.v").as("v"))
      .where(col("v").isNotNull)
    rows.groupBy("column", "v")
      .agg(count(lit(1)).as("c"))
      .groupBy("column")
      .agg(
        sum("c").as("n"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_cnt"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("ss"))
      .select(
        col("column"), col("n"), col("n_distinct"),
        expr("(cast(top_cnt as decimal(38,0)) * 1000000) div n")
          .cast("long").as("top_share_ppm"),
        expr("(cast(n as decimal(38,0)) * n * 1000000) div ss")
          .cast("long").as("simpson_eff_ppm"))
  }

  /** One approximate-functional-dependency candidate: does lhs → rhs
    * (nearly) hold in df? */
  final case class FdCandidate(
      name: String, df: DataFrame, lhs: Column, rhs: Column)

  /** Approximate functional-dependency audit (Kivinen & Mannila's g₃
    * error, the TANE/metanome measure): for each declared candidate
    * lhs → rhs, the minimum fraction of rows to delete for the FD to
    * hold exactly — g₃ = (n − Σ_a max_b count(a, b)) / n, reported in
    * exact ppm. 0 ppm = the FD holds; small = near-FD worth enforcing;
    * large = not a dependency. Null lhs/rhs rows are dropped (a null
    * determines nothing). Output per candidate:
    * (fd, n, n_lhs_keys, violations, g3_ppm).
    *
    * Scale shape: per candidate, ONE aggregation to the (lhs, rhs) cell
    * frame (map-side combined), one lhs-keyed max/sum aggregation of that
    * cell frame, one 1-row finish; the report is |candidates| rows built
    * by unionAll — nothing row-sized reaches the driver. */
  def fdAudit(cands: Seq[FdCandidate]): DataFrame = {
    require(cands.nonEmpty, "fdAudit: at least one candidate")
    require(cands.map(_.name).distinct.size == cands.size,
      "fdAudit: candidate names must be unique")
    val reports = cands.map { cand =>
      cand.df
        .select(cand.lhs.cast("string").as("a"), cand.rhs.cast("string").as("b"))
        .where(col("a").isNotNull && col("b").isNotNull)
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
        .groupBy("a").agg(sum("c").as("tot"), max("c").as("mx"))
        .agg(
          coalesce(sum("tot"), lit(0L)).as("n"),
          count(lit(1)).as("n_lhs_keys"),
          coalesce(sum(col("tot") - col("mx")), lit(0L)).as("violations"))
        .select(
          lit(cand.name).as("fd"),
          col("n"), col("n_lhs_keys"), col("violations"),
          when(col("n") === 0L, lit(null).cast("long"))
            .otherwise(expr(
              "(CAST(violations AS decimal(38,0)) * 1000000) div n")
              .cast("long")).as("g3_ppm"))
    }
    reports.reduce(_ unionAll _)
  }

  /** Benford first-digit expectation, ppm (⌊10⁶·log₁₀(1+1/d)⌉ for
    * d = 1…9; sums to exactly 10⁶). Literal constants, not runtime logs
    * — both engines read the same integers. */
  private[operators] val benfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  /** Per-first-digit observed counts of a positive numeric column (values
    * ≥ 1 by contract — the integer part carries the leading digit). The
    * 9-long count state is mergeable by pointwise sum, so the streaming
    * twin keeps exactly this frame as its running state. */
  /** One-sample Kolmogorov–Smirnov uniformity audit of the HOUSE md5
    * draw (Sketches.kmvDraw — the 60-bit derandomization primitive the
    * KMV sketch, every sampler and the permutation test all trust):
    * D = max(D⁺, D⁻) of the draws' ECDF against U(0,1]. A drifting D
    * (√n·D ≫ 1.36, the 5% KS band) would mean the md5 fold is biased —
    * the self-audit the whole deterministic-sampling family rests on.
    * One row: (n, d_plus, d_minus, d, d_scaled = √n·D).
    *
    * Scale shape: draws DEDUP to distinct values (one keyed exchange),
    * the global rank is the two-phase range-exchange rank
    * (Sharding.rankByColumns — per-partition windows + metadata-sized
    * driver offsets, never a single-partition sort), and the maxima are
    * one aggregation. Consume the result inside a Scope. */
  def drawUniformityAudit(
      df: DataFrame,
      keyCol: Column,
      roundTo: Int = 6): DataFrame = {
    val draws = df.select(Sketches.kmvDraw(keyCol).as("u"))
      .where(col("u").isNotNull)
      .distinct()
    val ranked = Sharding.rankByColumns(draws, Seq("u"))
    // rankByColumns caches its partitioned frame, so both passes below
    // (the count and the maxima) read that cache, never the corpus
    val nRow = ranked.agg(count(lit(1)).as("n"))
    ranked
      .crossJoin(broadcast(nRow))
      .agg(
        max("n").as("n"),
        // pos is 0-based: ECDF steps are (pos+1)/n above, pos/n below
        max(expr("CAST(pos + 1 AS DOUBLE) / CAST(n AS DOUBLE) - u"))
          .as("dp"),
        max(expr("u - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)")).as("dm"))
      .select(
        coalesce(col("n"), lit(0L)).as("n"),
        when(coalesce(col("n"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(round(col("dp"), roundTo)).as("d_plus"),
        when(coalesce(col("n"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(round(col("dm"), roundTo)).as("d_minus"),
        when(coalesce(col("n"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(round(greatest(col("dp"), col("dm")), roundTo)).as("d"),
        when(coalesce(col("n"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(round(
            sqrt(col("n").cast("double")) * greatest(col("dp"), col("dm")),
            roundTo)).as("d_scaled"))
  }

  def benfordDigitCounts(df: DataFrame, value: Column): DataFrame =
    df.select(value.cast("double").as("v"))
      .where(col("v") >= 1.0d)
      // floor is exact on IEEE doubles; an integral double casts to
      // decimal exactly in both engines, so the leading character of its
      // digit string is engine-independent
      .select(substring(floor(col("v")).cast("decimal(38,0)").cast("string"), 1, 1)
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("observed"))

  /** Benford's-law first-digit audit (Newcomb 1881, Benford 1938 — the
    * fabricated-data / unit-mixup smell test an intake pipeline runs on
    * monetary columns). Output: 9 rows (digit, observed, expected_ppm,
    * chi2_ppm) — chi2_ppm is the digit's χ² contribution
    * (obs − n·p)²/(n·p) in exact-rational form scaled to ppm, so the
    * whole report is integer end-to-end (NO runtime fp: the numerator
    * (10⁶·obs − n·ppm)² and denominator 10⁶·n·ppm are exact decimals and
    * the scaled quotient is an integer div).
    *
    * Scale shape: ONE aggregation collapses the corpus to ≤ 9 digit
    * counts; everything after runs on the 9-row literal digit frame
    * (missing digits surface with observed = 0). */
  def benfordReport(df: DataFrame, value: Column): DataFrame =
    finishBenford(df.sparkSession, benfordDigitCounts(df, value))

  /** The audit finish as a stateless view over an already-materialized
    * (digit, observed) frame — shared by the batch report and the
    * streaming twin, whose running digit counts ARE this frame. */
  def finishBenford(
      spark: org.apache.spark.sql.SparkSession,
      digitCounts: DataFrame): DataFrame = {
    val expected = spark.range(1, 10)
      .select(col("id").cast("string").as("digit"),
        element_at(typedlit(benfordPpm.zipWithIndex
          .map { case (p, i) => (i + 1).toString -> p }.toMap), col("digit"))
          .as("expected_ppm"))
    val total = digitCounts.agg(coalesce(sum("observed"), lit(0L)).as("n"))
    expected
      .join(digitCounts, Seq("digit"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("observed"), lit(0L)).as("observed"),
        col("expected_ppm"),
        when(col("n") === 0L, lit(null).cast("long"))
          // (10⁶·obs − n·ppm)² div (n·ppm) = 10⁶·(obs − n·p)²/(n·p):
          // already ppm-scaled, and the square stays ≤ (10⁶·n)² < 10³⁸
          // for corpora to ~10¹² rows
          .otherwise(expr(
            """((CAST(1000000 AS decimal(38,0)) * coalesce(observed, 0) -
              |  CAST(n AS decimal(38,0)) * expected_ppm) *
              | (CAST(1000000 AS decimal(38,0)) * coalesce(observed, 0) -
              |  CAST(n AS decimal(38,0)) * expected_ppm))
              | div (CAST(n AS decimal(38,0)) * expected_ppm)"""
              .stripMargin).cast("long"))
          .as("chi2_ppm"))
      .orderBy("digit")
  }
}
