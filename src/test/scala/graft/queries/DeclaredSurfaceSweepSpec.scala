package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.SparkSpec
import graft.operators.Scope

/** THE blanket sweep over every declared query — one execution pass,
  * four audits on the same collected output (consolidating the former
  * GlobalWindowSweepSpec, SignedZeroSweepSpec and
  * PartitioningInvarianceSpec, which each re-executed the whole surface;
  * the assertions are unchanged, the executions collapse ~3x):
  *
  *   1. GLOBAL WINDOWS — a partition-less Window (`Window.orderBy` with
  *      no partitionBy) funnels its whole input frame through one
  *      partition (the x117/x137 round-9 scale defect). Allowed only
  *      when the frame below it is bounded by construction: a limit
  *      operator in the subtree, or a whitelisted metadata-sized
  *      aggregate (constant cardinality in corpus size).
  *   2. SIGNED ZEROS — no output cell may carry IEEE −0.0 (the x109
  *      round-10 defect class): the driver's gate hashes canonical
  *      bytes, where −0.0 ≠ +0.0, while value-level comparisons are
  *      blind to it. Spark-side rounds go through BigDecimal HALF_UP;
  *      the oracle half of this audit lives in scripts/check_oracle.py.
  *   3. LAYOUT INVARIANCE — every member of the evaluation-science pack
  *      (and a committed-seed rotating subset of everything else) is
  *      exact-integer/derandomized BY DESIGN, so its result must be
  *      IDENTICAL under any partition layout. Invariance members run
  *      under two EXTRA layouts (serial, and 97-way with 64 KB scan
  *      splits) and must match the base pass row-for-row; every query
  *      declares a total ORDER BY, so ordered equality is the right
  *      comparison.
  *   4. RELEASE — each query is built and collected inside a Scope, and
  *      no cached plan or persisted RDD of it may outlive that Scope.
  *
  * The base pass runs under the mid-parallel layout (8 shuffle
  * partitions, default scan splits) — the middle layout of the old
  * invariance triple — so one collect serves all three audits. */
class DeclaredSurfaceSweepSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // ---- audit 1 machinery -------------------------------------------------

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case w: WholeStageCodegenExec => w +: flatten(w.child)
    case other => other +: other.children.flatMap(flatten)
  }

  /** Queries whose global windows run on frames bounded by AGGREGATION to
    * a cardinality that is constant (or metadata-sized) in corpus size, so
    * no limit operator appears below the window. Value = (max allowed
    * count of such windows, justification). The count is pinned: a NEW
    * partition-less window sneaking into one of these plans still fails
    * the sweep. */
  private val boundedAggAllowance: Map[String, (Int, String)] = Map(
    "d13_count_over" -> (1 ->
      ("reference-parity count(*) OVER () — documented dimension-table-only contract")),
    "x66_vocab_growth" -> (1 -> "running sum over the nBuckets(=10)-row bucket frame"),
    "x98_heaps_fit" -> (1 -> "cumulative fold over the nBuckets-row bucket frame"),
    "x111_source_prior" -> (1 -> "shrinkage over the |sources| stats frame"),
    "x112_probe_eval" -> (1 -> "threshold sweep over the 4-dp-quantized score cells"),
    "x115_signal_fusion" -> (3 ->
      ("per-signal cumulative over distinct-value cells (4-dp scores / bounded " +
        "ints / per-source priors); the corpus-wide fused rank is the two-phase " +
        "range rank, NOT one of these")),
    "x122_group_kfold" -> (1 -> "fold assignment over the |groups| frame"),
    "x123_drift_tvd" -> (3 -> "share/diff windows over the domain-bounded cell frame"),
    "x125_mixture_waterfill" -> (7 ->
      ("water-filling iterations over the |sources| frame")),
    "x143_feature_auc" -> (1 ->
      ("separability rank over the |features|-row frame (x143's own audit pins <= 1)")),
    "x146_poisson_bootstrap" -> (1 -> "percentile rank over the B-replicate frame"),
    "x166_source_gini" -> (1 -> "Lorenz rank over the |sources| frame"),
    "x180_psi_drift" -> (4 -> "bin-share windows over the domain-bounded bin frame"),
    "x186_jsd_drift" -> (4 -> "bin-share windows over the domain-bounded bin frame"),
    "x191_cliffs_delta" -> (1 ->
      ("prefix counts over the distinct-magnitude frame (integer-granular)")),
    "x192_gains_lift" -> (2 -> "cumulative gains over the distinct-score cells"),
    "x194_brier_decomposition" -> (3 -> "Murphy close on the <= nBins+2 bin frame"),
    "x200_boxcox_scan" -> (1 -> "rank over the domain-bounded distinct-value frame"),
    "x207_neyman_sample" -> (3 ->
      ("allocation algebra over the |strata| frame (draw window is group-partitioned)")),
    "x227_ecod_outliers" -> (6 ->
      ("per-feature cdf prefix + total windows over the distinct-value frames " +
        "of integer features — the x191 class, one bounded frame per feature")),
    "x231_msprt_monitor" -> (2 ->
      ("cumulative-sums + running-max windows over the calendar-day look " +
        "frame (raw events collapse to |days| rows in the first aggregation)")),
    // the five below were cached outputs (an InMemoryTableScan hid their
    // plans from this audit) until the builders became lazy
    "x139_tcloseness" -> (1 ->
      ("global total over the <= |quasi groups x sensitive values| cell frame " +
        "(the x123 finishDrift discipline; the view must stay self-join-free " +
        "for its streaming twin)")),
    "x195_kruskal_wallis" -> (1 ->
      "midrank prefix sum over the distinct-value frame (callers bucket the value)"),
    "x198_pav_calibration" -> (2 -> "PAV prefix sums over the <= nBins+2 bin frame"),
    "x201_friedman" -> (1 -> "treatment count over the |series|-row rank-sum frame"),
    "x206_recalibration_lift" -> (5 ->
      ("x194's Murphy close (3) + x198's PAV prefix sums (2), all on the " +
        "<= nBins+2 bin frame")))

  // ---- audit 2 machinery -------------------------------------------------

  private def negZeros(v: Any): Int = v match {
    case d: Double =>
      if (java.lang.Double.doubleToRawLongBits(d) == java.lang.Long.MIN_VALUE) 1 else 0
    case f: Float =>
      if (java.lang.Float.floatToRawIntBits(f) == Int.MinValue) 1 else 0
    case r: Row => r.toSeq.map(negZeros).sum
    case s: scala.collection.Seq[_] => s.map(negZeros).sum
    case m: scala.collection.Map[_, _] => m.valuesIterator.map(negZeros).sum
    case _ => 0
  }

  // ---- audit 3 machinery -------------------------------------------------

  // >= 20 fixed members spanning the evaluation pack's families: rank
  // tests, contingency tests, moment tests, drift, effect sizes,
  // calibration, time-series, survival, A/B, permutation draws, plus the
  // gram-fit consumers whose determinism round 10 re-founded, and the
  // round-10 additions (gram-ablation refits, TakeOrdered + ordered fold,
  // exact-ppm fairness cells, day-frame cumsums, integer Sinkhorn).
  private val invarianceMembers = Seq(
    "x109_pca_project", "x110_ridge_probe", "x112_probe_eval",
    "x164_wilcoxon_paired", "x171_ks_test", "x172_ab_ztest",
    "x173_permutation_test", "x176_wasserstein", "x177_chi2_cramers_v",
    "x180_psi_drift", "x182_mann_kendall", "x184_acf", "x185_theil_sen",
    "x191_cliffs_delta", "x192_gains_lift", "x194_brier_decomposition",
    "x195_kruskal_wallis", "x196_anova_f", "x197_mcnemar",
    "x198_pav_calibration", "x200_boxcox_scan", "x204_effect_size",
    "x205_nelson_aalen", "x208_cochran_q", "x210_runs_test",
    "x213_jarque_bera", "x214_cuped", "x215_mde", "x216_welch_t",
    "x219_ab_readout",
    "x228_logo_influence", "x229_hill_tail", "x230_fairness_audit",
    "x231_msprt_monitor", "x232_sinkhorn_ot", "x233_lsh_plan",
    "x234_good_turing", "x235_capture_recapture")

  // COMMITTED rotation seed — bump alongside each round's commits so the
  // drawn subset rotates with the code, not with the wall clock: a failure
  // observed at any commit replays at that commit, forever. Override via
  // SPARK_GRAFT_INVARIANCE_SEED to audit any other subset.
  private val rotationSeed = 202613L // round 13

  /** Declared-hot oracle fixtures excluded from the EXTRA-layout draws
    * (they still run the base pass, so the window/zero audits keep full
    * coverage) — the BenchScale documented-exclusion rule: x246 is the
    * exact all-pairs full-recall exhibit and x248 executes the
    * deliberately-hot (32, 2) banding point; each costs multiple full
    * fixture joins per extra layout while their layout sensitivity is
    * already pinned by SimilarityJoinAutoSpec / their declared oracles. */
  private val rotationExcluded =
    Set("x246_embedding_neardup_full", "x248_similarity_join_routed")

  private lazy val rotatingSubset: Seq[String] = {
    val fixed = invarianceMembers.toSet ++ rotationExcluded
    val pool = graft.SparkEntry.queries.keys.filterNot(fixed).toSeq.sorted
    val seed = sys.env.get("SPARK_GRAFT_INVARIANCE_SEED").map(_.toLong)
      .getOrElse(rotationSeed)
    new scala.util.Random(seed).shuffle(pool).take(20)
  }

  // (shuffle.partitions, files.maxPartitionBytes). The BASE layout is the
  // mid-parallel one; invariance members additionally run serial and a
  // 97-way layout with 64 KB splits so even sf0.001 parquet fans out —
  // merge orders maximally different from serial.
  private val baseLayout = ("8", "134217728")
  private val extraLayouts = Seq(("1", "134217728"), ("97", "65536"))

  // ---- the single execution pass ------------------------------------------

  private case class Audit(
      windowOffenders: Seq[String],
      zeroOffenders: Seq[String],
      invarianceOffenders: Seq[String],
      leakOffenders: Seq[String])

  /** (cached-plan entries, persisted RDD ids) the session holds. The
    * suite shares its session with the other suites of its JVM, so each
    * query is held to the state it started from: its Scope must close
    * with no entry added to either store. */
  private def held(): (Seq[AnyRef], Set[Int]) = graft.SparkProbe.held(spark)

  /** Rows, executed plan nodes and what the query left held after its
    * Scope closed (None when nothing). */
  private def runUnder(
      fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
      layout: (String, String)): (Seq[Row], Seq[SparkPlan], Option[String]) = {
    spark.conf.set("spark.sql.shuffle.partitions", layout._1)
    spark.conf.set("spark.sql.files.maxPartitionBytes", layout._2)
    try {
      val before = held()
      val (rows, nodes) = Scope {
        val df = fn(spark, dir)
        val rows = df.collect().toSeq // finalizes AQE so re-planned stages are visible
        (rows, flatten(df.queryExecution.executedPlan))
      }
      val after = held()
      val plans = after._1.filterNot(p => before._1.exists(_ eq p))
      val rdds = after._2 -- before._2
      val leak =
        if (plans.isEmpty && rdds.isEmpty) None
        else Some(s"${plans.size} cached plan(s), persisted RDDs " +
          rdds.toSeq.sorted.mkString(","))
      (rows, nodes, leak)
    } finally {
      spark.conf.unset("spark.sql.shuffle.partitions")
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  private lazy val sweep: Audit = {
    val windowOff = scala.collection.mutable.ArrayBuffer.empty[String]
    val zeroOff = scala.collection.mutable.ArrayBuffer.empty[String]
    val invOff = scala.collection.mutable.ArrayBuffer.empty[String]
    val leakOff = scala.collection.mutable.ArrayBuffer.empty[String]
    val invariant = invarianceMembers.toSet ++ rotatingSubset
    info(s"rotating seed=${sys.env.getOrElse("SPARK_GRAFT_INVARIANCE_SEED", rotationSeed.toString)} " +
      s"subset=${rotatingSubset.mkString(",")}")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (rows, nodes, leak) =
        try runUnder(fn, baseLayout)
        catch { case e: Throwable => fail(s"$name failed to run: ${e.getMessage}") }
      leak.foreach(l => leakOff += s"$name: $l")

      // audit 1: partition-less windows over unbounded frames
      val globals = nodes.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      val unbounded = globals.filterNot { w =>
        val below = flatten(w.child).mkString
        below.contains("TakeOrdered") ||
          below.contains("GlobalLimit") || below.contains("CollectLimit")
      }
      val allowed = boundedAggAllowance.get(name).map(_._1).getOrElse(0)
      if (unbounded.size > allowed) windowOff +=
        s"$name: ${unbounded.size} global Window(s) over unbounded frames " +
          s"(allowance $allowed)\n  ${unbounded.map(_.nodeName).mkString(", ")}"

      // audit 2: raw -0.0 bits anywhere in the output
      val hits = rows.iterator.map(negZeros(_)).sum
      if (hits > 0) zeroOff += s"$name: $hits -0.0 cell(s)"

      // audit 3: two extra layouts for invariance members, compared to
      // the base pass's rows (ordered equality — total ORDER BY everywhere)
      if (invariant(name)) {
        extraLayouts.foreach { layout =>
          val (other, _, _) =
            try runUnder(fn, layout)
            catch { case e: Throwable =>
              fail(s"$name failed to run under layout $layout: ${e.getMessage}")
            }
          if (other != rows) {
            val diff = rows.zip(other).indexWhere { case (a, b) => a != b }
            invOff += s"$name: layout $layout differs from base " +
              s"(sizes ${rows.size}/${other.size}, first diff at $diff)"
          }
        }
      }
    }
    Audit(windowOff.toSeq, zeroOff.toSeq, invOff.toSeq, leakOff.toSeq)
  }

  test("every partition-less Window ranks a frame bounded by construction") {
    assert(sweep.windowOffenders.isEmpty,
      s"${sweep.windowOffenders.size} global-window offender(s):\n" +
        sweep.windowOffenders.mkString("\n"))
  }

  test("no declared query emits an IEEE -0.0 cell") {
    assert(sweep.zeroOffenders.isEmpty,
      s"${sweep.zeroOffenders.size} signed-zero offender(s):\n" +
        sweep.zeroOffenders.mkString("\n"))
  }

  test("every declared query releases its caches and checkpoints with its Scope") {
    assert(sweep.leakOffenders.isEmpty,
      s"${sweep.leakOffenders.size} query(ies) left cached state behind:\n" +
        sweep.leakOffenders.mkString("\n"))
  }

  test("evaluation pack + rotating subset are partition-layout invariant") {
    // seed + full subset ride in the message so a red CI log is
    // self-contained — replay with SPARK_GRAFT_INVARIANCE_SEED=<seed>
    assert(sweep.invarianceOffenders.isEmpty,
      s"partition-layout-dependent results (rotating seed=$rotationSeed, " +
        s"subset=${rotatingSubset.mkString(",")}):\n" +
        sweep.invarianceOffenders.mkString("\n"))
  }
}
