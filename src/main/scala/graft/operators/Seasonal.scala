package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seasonality-adjusted anomaly detection on an event stream — the
  * monitor a continuously-harvested corpus needs: raw daily volume is
  * dominated by the weekly cycle, so a useful alert compares each day
  * against its OWN weekday's typical volume, not a global mean.
  *
  * Per (series, day): the day's count, the low-median of that series ×
  * ISO-weekday's daily counts, the MAD (low-median of absolute
  * deviations from that median), and a Hampel-style flag
  * `|cnt − med| > k · mad`. Exact integer arithmetic end to end — counts
  * are longs, the low-median is an order statistic (row at position
  * ⌊(n+1)/2⌋ ascending), so the report is bit-replayable in SQL and
  * independent of partitioning. A strict `>` keeps constant series
  * (mad = 0, dev = 0) unflagged while any nonzero deviation on a
  * zero-mad series flags — the sharpest possible alert.
  *
  * Scale shape: ONE keyed aggregation collapses the raw stream to
  * (series × day) counts — partial map-side combine, two-long state —
  * and every window below runs on that bounded frame (|series| × |days|
  * rows, thousands not billions), never on raw events. */
object Seasonal {

  def weekdayAnomalies(
      df: DataFrame,
      series: Column,
      ts: Column,
      k: Int = 3): DataFrame =
    finishWeekdayAnomalies(dailyCounts(df, series, ts), k)

  /** The STATEFUL half of the monitor: per (series, day) counts — one
    * commutative long per cell, the aggregation state Structured
    * Streaming maintains incrementally (streaming/StreamingSeasonal). */
  def dailyCounts(df: DataFrame, series: Column, ts: Column): DataFrame =
    df.groupBy(series.cast("string").as("series"), to_date(ts).as("day"))
      .agg(count(lit(1)).as("cnt"))

  /** Friedman rank test (Friedman 1937, tie-corrected) over the daily
    * count table: blocks = calendar days, treatments = series — does ANY
    * series systematically out-rank the others day after day? The
    * blocked complement of x195's Kruskal–Wallis (which pools all days
    * into one ranking and so confounds between-day volume drift with
    * between-series differences). One row:
    * (n_blocks, n_treatments, chi2).
    *
    * A series absent on a day is a REAL zero (the grid completes via a
    * bounded days × series cross join), not a missing cell — Friedman
    * requires complete blocks. DOUBLED within-block midranks
    * (2·rank_min + ties − 1) keep everything integer; with
    * R2_j = Σ_blocks r2_ij, the tie-corrected statistic reduces to
    *   χ² = (k−1)·Σ_j (R2_j − n(k+1))² / (Σ r2² − n·k·(k+1)²),
    * every term an exact decimal — fp only in the closing division.
    *
    * Scale shape: ONE keyed aggregation to the calendar-bounded daily
    * frame (the same state the seasonal/CUSUM/Holt twins keep); the
    * grid completion, rank windows and sums all run on that bounded
    * frame. */
  def friedmanTest(
      df: DataFrame,
      series: Column,
      ts: Column,
      roundTo: Int = 4): DataFrame =
    // the calendar-bounded daily frame feeds the grid completion, both
    // domain projections and the rank pass — cache it so the corpus
    // aggregates exactly once (released by the caller's Scope)
    finishFriedman(
      Scope.persist(dailyCounts(df, series, ts)), roundTo)

  /** The stateless Friedman finish over an ALREADY-MATERIALIZED
    * (series, day, cnt) frame — shared by the batch test and the
    * streaming twin's consumer (StreamingTrend.dailyCounts state), so
    * the two legs agree by construction. */
  def finishFriedman(daily: DataFrame, roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val days = daily.select(col("day")).distinct()
    val sers = daily.select(col("series")).distinct()
    val grid = days.crossJoin(sers)
      .join(daily, Seq("day", "series"), "left")
      .select(col("day"), col("series"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val wBlock = Window.partitionBy("day").orderBy("cnt")
    val wTie = Window.partitionBy("day", "cnt")
    val ranked = grid
      .withColumn("r2",
        lit(2L) * rank().over(wBlock) + count(lit(1)).over(wTie) - lit(1L))
    val perJ = ranked.groupBy("series")
      .agg(count(lit(1)).as("n"), sum(col("r2").cast(dec)).as("rr2"))
    val sq = ranked.agg(
      coalesce(sum(col("r2").cast(dec) * col("r2")), lit(0L).cast(dec)).as("sr2"))
    val all = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    perJ
      // k rides a window over the |series|-bounded frame so the per-
      // treatment deviations can reference it inside one aggregation
      .withColumn("k", count(lit(1)).over(all))
      .agg(max("k").as("k"), max("n").as("n"),
        coalesce(sum(expr(
          s"""(rr2 - CAST(n AS $dec) * (k + 1))
             |* (rr2 - CAST(n AS $dec) * (k + 1))""".stripMargin)),
          lit(0L).cast(dec)).as("num"))
      .crossJoin(sq)
      .select(
        col("n").as("n_blocks"),
        col("k").as("n_treatments"),
        {
          val den = col("sr2") -
            col("n").cast(dec) * col("k").cast(dec) *
              (col("k").cast(dec) + 1) * (col("k").cast(dec) + 1)
          when(col("k") < 2L || col("n") < 1L || den <= lit(0L).cast(dec),
            lit(null).cast("double"))
            .otherwise(round(
              (col("k").cast("double") - 1.0d) * col("num").cast("double") /
                den.cast("double"), roundTo)).as("chi2")
        })
  }

  /** Weekly seasonal strength per series (the Wang–Smith–Hyndman 2006
    * measure specialized to the day-of-week profile): by the ANOVA
    * identity, the variance share explained by the isodow grouping is
    * exactly η² = SSB/SST over the daily counts — strength 1 means the
    * weekday profile determines the volume, 0 means no weekly cycle.
    * Output per series: (series, n_days, strength), strength NULL when
    * the series has < 2 days or zero total variance.
    *
    * Scale shape: the (series × isodow) stats collapse from the SAME
    * calendar-bounded daily frame the trend family keeps (a third
    * stateless lens over StreamingTrend's state); the one fp reduction
    * Σ S_d²/n_d per series is an ORDER-PINNED fold over the ≤ 7-element
    * dow array (list_reduce replay). */
  def seasonalStrength(
      df: DataFrame,
      series: Column,
      ts: Column,
      roundTo: Int = 4): DataFrame =
    finishSeasonalStrength(dailyCounts(df, series, ts), roundTo)

  /** The stateless seasonal-strength finish over an ALREADY-MATERIALIZED
    * (series, day, cnt) frame — shared with the streaming twin. */
  def finishSeasonalStrength(daily: DataFrame, roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val dow = daily
      .withColumn("dow", (weekday(col("day")) + lit(1)).cast("int"))
      .groupBy("series", "dow")
      .agg(count(lit(1)).as("nd"),
        sum(col("cnt").cast(dec)).as("sd"),
        sum(col("cnt").cast(dec) * col("cnt")).as("qd"))
    dow.groupBy("series")
      .agg(
        coalesce(sum("nd"), lit(0L)).as("n_days"),
        coalesce(sum("sd"), lit(0L).cast(dec)).as("s"),
        coalesce(sum("qd"), lit(0L).cast(dec)).as("q"),
        sort_array(collect_list(struct(col("dow"), col("nd"), col("sd"))))
          .as("o"))
      .withColumn("sb", expr(
        """aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + CAST(s.sd AS DOUBLE) * CAST(s.sd AS DOUBLE)
          |      / CAST(s.nd AS DOUBLE))""".stripMargin))
      .select(
        col("series"), col("n_days"),
        {
          val sst = col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n_days").cast("double")
          val ssb = col("sb") -
            col("s").cast("double") * col("s").cast("double") /
              col("n_days").cast("double")
          when(col("n_days") < 2L || sst <= 0.0d, lit(null).cast("double"))
            .otherwise(round(ssb / sst, roundTo)).as("strength")
        })
      .orderBy("series")
  }

  /** Wald–Wolfowitz runs test per series (Wald & Wolfowitz 1940): is the
    * above-mean/below-mean day sequence RANDOM, or do high-volume days
    * clump (fewer runs than chance) / alternate (more)? Exact-equal days
    * are excluded (the classical two-category convention; the comparison
    * cnt·n vs total is exact cross-multiplied integers — no fp mean).
    * Output per series: (series, n, n_above, n_below, runs, z) with
    *   μ_R = 2n₁n₂/n + 1,  σ²_R = 2n₁n₂(2n₁n₂−n) / (n²(n−1)),
    * z NULL when n₁ = 0 or n₂ = 0 or n < 2.
    *
    * Scale shape: one keyed agg to the calendar-bounded daily frame
    * (the trend-family state again), a lag window per series on that
    * bounded frame to count run boundaries, exact integer moments, fp
    * only in the closing z. */
  def runsTest(
      df: DataFrame,
      series: Column,
      ts: Column,
      roundTo: Int = 4): DataFrame =
    finishRunsTest(dailyCounts(df, series, ts), roundTo)

  /** The stateless runs-test finish over an ALREADY-MATERIALIZED
    * (series, day, cnt) frame — shared with the streaming twin. */
  def finishRunsTest(daily: DataFrame, roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val tot = daily.groupBy("series")
      .agg(count(lit(1)).as("nd"), sum(col("cnt").cast(dec)).as("s"))
    val marked = daily.join(tot, Seq("series"))
      // above ⟺ cnt·n_days > total — exact integers, no fp mean
      .withColumn("above",
        when(col("cnt").cast(dec) * col("nd") > col("s"), true)
          .when(col("cnt").cast(dec) * col("nd") < col("s"), false)
          .otherwise(lit(null).cast("boolean")))
      .where(col("above").isNotNull)
    val w = Window.partitionBy("series").orderBy("day")
    val runs = marked
      .withColumn("chg",
        when(lag(col("above"), 1).over(w).isNull ||
          lag(col("above"), 1).over(w) =!= col("above"), 1L).otherwise(0L))
      .groupBy("series")
      .agg(count(lit(1)).as("n"),
        sum(when(col("above"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("above"), 1L).otherwise(0L)).as("n2"),
        sum("chg").as("runs"))
    runs.select(
      col("series"), col("n"), col("n1").as("n_above"),
      col("n2").as("n_below"), col("runs"),
      {
        val nD = col("n").cast("double")
        val p = lit(2.0d) * col("n1").cast("double") *
          col("n2").cast("double")
        val mu = p / nD + lit(1.0d)
        val v = p * (p - nD) / (nD * nD * (nD - 1.0d))
        when(col("n1") === 0L || col("n2") === 0L || col("n") < 2L ||
          v <= 0.0d, lit(null).cast("double"))
          .otherwise(round((col("runs").cast("double") - mu) / sqrt(v),
            roundTo)).as("z")
      })
      .orderBy("series")
  }

  /** The stateless finishing view over the (series × day) counts: the
    * order-statistic baseline and the Hampel flag. Shared by the batch
    * report and the streaming twin's consumer. */
  def finishWeekdayAnomalies(dailyIn: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "weekdayAnomalies: k must be >= 1")
    val daily = dailyIn
      .withColumn("dow", (weekday(col("day")) + lit(1)).cast("int"))
    val grp = Window.partitionBy("series", "dow")
    // low-median of cnt within (series, isodow): order statistic at
    // position (n+1)/2 — ties in cnt cannot change the selected VALUE
    val byCnt = grp.orderBy(col("cnt"), col("day"))
    val withMed = daily
      .withColumn("__rn", row_number().over(byCnt))
      .withColumn("__n", count(lit(1)).over(grp))
      .withColumn("med",
        max(when(col("__rn") === expr("(__n + 1) div 2"), col("cnt"))).over(grp))
      .withColumn("dev", abs(col("cnt") - col("med")))
    val byDev = grp.orderBy(col("dev"), col("day"))
    withMed
      .withColumn("__rd", row_number().over(byDev))
      .withColumn("mad",
        max(when(col("__rd") === expr("(__n + 1) div 2"), col("dev"))).over(grp))
      .select(col("series"), col("day"), col("dow"), col("cnt"),
        col("med"), col("mad"), col("dev"),
        (col("dev") > lit(k.toLong) * col("mad")).as("flagged"))
  }

  /** Two-sided CUSUM changepoint detection (Page 1954) on the per-series
    * daily counts: the statistic that catches a SUSTAINED small shift the
    * per-day Hampel flag (weekdayAnomalies) cannot see. The textbook
    * recurrence S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − μ)) is sequential, but it has
    * a closed prefix form — S⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) with
    * P the running sum of deviations — so the whole detector is two
    * running windows, no driver iteration, exact integers end to end
    * (μ is the floored per-series integer mean; any engine replays it).
    * Returns per (series, day): cnt, deviation prefix, s_pos, s_neg, and
    * the `h`-threshold flags.
    *
    * Scale shape: one keyed aggregation collapses events to the
    * (series × day) frame; the two running windows are per-series over
    * that bounded frame. */
  def cusumChangepoints(
      df: DataFrame,
      series: Column,
      ts: Column,
      h: Long): DataFrame =
    finishCusum(dailyCounts(df, series, ts), h)

  /** The stateless CUSUM finishing view over the (series × day) counts —
    * the SAME streaming state as finishWeekdayAnomalies, so one running
    * daily-count query feeds both monitors (streaming/StreamingSeasonal). */
  def finishCusum(dailyIn: DataFrame, h: Long): DataFrame = {
    require(h >= 1, "cusumChangepoints: h must be >= 1")
    val run = Window.partitionBy("series").orderBy("day")
      .rowsBetween(Long.MinValue, 0)
    dailyIn
      .withColumn("__mu", expr(
        "sum(cnt) OVER (PARTITION BY series) div count(*) OVER (PARTITION BY series)"))
      .withColumn("__pf", sum(col("cnt") - col("__mu")).over(run))
      .withColumn("s_pos", col("__pf") - least(lit(0L), min("__pf").over(run)))
      .withColumn("s_neg", greatest(lit(0L), max("__pf").over(run)) - col("__pf"))
      .select(col("series"), col("day"), col("cnt"),
        col("s_pos"), col("s_neg"),
        (col("s_pos") > h).as("shift_up"),
        (col("s_neg") > h).as("shift_down"))
  }

  /** Seasonal-naive forecast evaluation (MASE, Hyndman 2006): how much
    * better does "same weekday last week" predict daily volume than
    * "same as yesterday"? MASE < 1 says the weekly cycle carries real
    * signal — the calibration a capacity-planning forecast needs before
    * anyone trusts it. Exact integer sums of absolute errors; the final
    * ratio is a cross-multiplied ppm integer division
    * (Σ|xᵢ−xᵢ₋₇|·n₁·10⁶) div (Σ|xᵢ−xᵢ₋₁|·n₇), NULL when either window
    * is empty or the naive error is zero. One row per series:
    * (series, n_days, sae_seasonal, n_seasonal, sae_naive, n_naive,
    * mase_ppm).
    *
    * Scale shape: the two lags are one per-series ordered window over
    * the bounded daily frame; everything after is a per-series
    * aggregation of four longs. */
  def seasonalNaiveMase(
      df: DataFrame,
      series: Column,
      ts: Column,
      season: Int = 7): DataFrame =
    finishMase(dailyCounts(df, series, ts), season)

  /** The stateless MASE finishing view — the third consumer of the same
    * (series × day) running state. */
  def finishMase(dailyIn: DataFrame, season: Int = 7): DataFrame = {
    require(season >= 2, "seasonalNaiveMase: season must be >= 2")
    val ord = Window.partitionBy("series").orderBy("day")
    val dec = "decimal(38,0)"
    dailyIn
      .withColumn("__l1", lag("cnt", 1).over(ord))
      .withColumn("__ls", lag("cnt", season).over(ord))
      .groupBy("series")
      .agg(
        count(lit(1)).as("n_days"),
        coalesce(sum(abs(col("cnt") - col("__ls"))), lit(0L)).as("sae_seasonal"),
        count(col("__ls")).as("n_seasonal"),
        coalesce(sum(abs(col("cnt") - col("__l1"))), lit(0L)).as("sae_naive"),
        count(col("__l1")).as("n_naive"))
      .select(col("series"), col("n_days"),
        col("sae_seasonal"), col("n_seasonal"),
        col("sae_naive"), col("n_naive"),
        when(col("n_seasonal") === 0 || col("n_naive") === 0 ||
          col("sae_naive") === 0, lit(null).cast("long"))
          .otherwise(expr(
            s"(cast(sae_seasonal as $dec) * n_naive * 1000000)" +
              s" div (cast(sae_naive as $dec) * n_seasonal)"))
          .as("mase_ppm"))
  }

  /** The composed monitoring dashboard: per (series, day), the Hampel
    * seasonal flag, both CUSUM shift flags, and the series' MASE context
    * in ONE plan — the daily health view an ops console renders. The
    * three finishing views are the independent monitors above; composing
    * them here demonstrates the single-state discipline: the raw stream
    * collapses to (series × day) counts EXACTLY ONCE (cached), every
    * monitor reads that frame, and the per-series MASE row broadcasts
    * back onto the daily grain. Consume the result inside a Scope. */
  def seriesHealthReport(
      df: DataFrame,
      series: Column,
      ts: Column,
      k: Int = 3,
      h: Long = 40,
      season: Int = 7): DataFrame =
    finishHealth(Scope.persist(dailyCounts(df, series, ts)),
      k, h, season)

  /** The composed finishing view over an ALREADY-MATERIALIZED daily
    * frame — shared by the batch dashboard (which caches the frame) and
    * the streaming twin's consumer (whose frame IS the running state, so
    * no cache is needed there). */
  def finishHealth(
      daily: DataFrame,
      k: Int = 3,
      h: Long = 40,
      season: Int = 7): DataFrame = {
    // the three branches share one logical source: re-alias the join
    // keys on the right sides so the joins carry fresh attribute ids
    // (the standard conflicting-self-join-references discipline)
    val anomalies = finishWeekdayAnomalies(daily, k)
    val cusum = finishCusum(daily, h)
      .select(col("series").as("__cs"), col("day").as("__cd"),
        col("s_pos"), col("s_neg"), col("shift_up"), col("shift_down"))
    val mase = finishMase(daily, season)
      .select(col("series").as("__ms"), col("mase_ppm"))
    anomalies
      .join(cusum, col("series") === col("__cs") && col("day") === col("__cd"))
      .join(broadcast(mase), col("series") === col("__ms"), "left")
      .drop("__cs", "__cd", "__ms")
  }

  /** Holt double exponential smoothing (Holt 1957) per series — the
    * level+trend forecaster between the seasonal-naive baseline (x133)
    * and full seasonal decomposition: l ← αy + (1−α)(l+b),
    * b ← β(l′−l) + (1−β)b over the observed days in order (gaps carry no
    * observation — the smoothing walks the observed sequence),
    * initialized l₀ = y₀, b₀ = 0. Forecast = l + horizon·b.
    *
    * Determinism contract: the recurrence is a SEQUENTIAL fold, so it
    * runs as one `aggregate()` higher-order fold over the per-series
    * day-ordered array — exact IEEE evaluation order, identical
    * parenthesization to the oracle's list_reduce replay ((1−α)/(1−β)
    * are computed at runtime from the same literals in both engines,
    * never pre-folded by the driver). Outputs round to `roundTo` dp.
    *
    * Scale shape: ONE keyed aggregation collapses raw events to daily
    * counts (map-side combined), then one collect per series whose state
    * is the series' own day count — bounded by the calendar, not the
    * corpus (a 10-year daily series is 3,652 doubles). The fold itself
    * is a codegen'd array expression; nothing touches the driver. */
  def holtLinear(
      df: DataFrame,
      series: Column,
      ts: Column,
      alpha: Double = 0.5,
      beta: Double = 0.3,
      horizon: Int = 7,
      roundTo: Int = 4): DataFrame =
    finishHolt(dailyCounts(df, series, ts), alpha, beta, horizon, roundTo)

  /** The Holt fold as a stateless view over an ALREADY-MATERIALIZED
    * (series, day, cnt) frame — shared by the batch forecaster and the
    * streaming twin, whose running daily counts (the same state that
    * feeds the seasonal/CUSUM/health views) ARE this frame. */
  def finishHolt(
      dailyIn: DataFrame,
      alpha: Double = 0.5,
      beta: Double = 0.3,
      horizon: Int = 7,
      roundTo: Int = 4): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "holtLinear: alpha in (0, 1)")
    require(beta > 0.0 && beta < 1.0, "holtLinear: beta in (0, 1)")
    require(horizon >= 1 && horizon <= 3650, "holtLinear: horizon in [1, 3650]")
    val lNew = s"$alpha * x + (1.0D - $alpha) * (acc.l + acc.b)"
    dailyIn
      .groupBy("series")
      .agg(sort_array(collect_list(struct(col("day"),
        col("cnt").cast("double").as("y")))).as("o"))
      .withColumn("ys", expr("transform(o, s -> s.y)"))
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(ys, 2, greatest(size(ys) - 1, 0)),
           |  named_struct('l', element_at(ys, 1), 'b', cast(0.0 as double)),
           |  (acc, x) -> named_struct(
           |    'l', $lNew,
           |    'b', $beta * (($lNew) - acc.l) + (1.0D - $beta) * acc.b))""".stripMargin))
      .select(col("series"), size(col("ys")).cast("long").as("n_days"),
        round(col("st.l"), roundTo).as("level"),
        round(col("st.b"), roundTo).as("trend"),
        round(col("st.l") + lit(horizon.toDouble) * col("st.b"), roundTo)
          .as("forecast"))
  }

  /** Mann–Kendall monotone-trend test per series (Mann 1945, Kendall
    * 1975 — the nonparametric "is volume actually trending?" readout,
    * immune to the outliers that wreck a least-squares slope):
    *   S = Σ_{i<j} sgn(y_j − y_i)  over day-ordered counts,
    *   Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)  (tie-corrected),
    *   z = (S ∓ 1)/√Var  (continuity-corrected).
    * S and the variance numerator are exact longs; z is the one fp
    * expression, from identically-converted components. Output per
    * series: (series, n_days, s_stat, var18, z).
    *
    * Scale shape: the corpus collapses in ONE keyed aggregation to the
    * CALENDAR-BOUNDED daily frame (the x125 discipline — the same state
    * the seasonal/CUSUM/Holt twins keep); the pairwise S is a
    * series-keyed self-join of that bounded frame (≤ days² pairs per
    * series, a constant in corpus size), never a corpus-sized join. */
  def mannKendall(
      df: DataFrame,
      series: Column,
      ts: Column,
      roundTo: Int = 4): DataFrame =
    finishMannKendall(dailyCounts(df, series, ts), roundTo)

  /** The trend finish as a stateless view over an already-materialized
    * (series, day, cnt) frame — shared with the streaming twins' running
    * daily-count state. */
  def finishMannKendall(dailyIn: DataFrame, roundTo: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val a = dailyIn.select(col("series"), col("day").as("di"), col("cnt").as("yi"))
    val b = dailyIn.select(col("series"), col("day").as("dj"), col("cnt").as("yj"))
    val s = a.join(b, Seq("series"))
      .where(col("dj") > col("di"))
      .groupBy("series")
      .agg(coalesce(sum(signum(col("yj") - col("yi")).cast("long")), lit(0L))
        .as("s_stat"))
    val nd = dailyIn.groupBy("series").agg(count(lit(1)).as("n_days"))
    val ties = dailyIn.groupBy("series", "cnt").agg(count(lit(1)).as("t"))
      .groupBy("series")
      .agg(coalesce(sum(expr(
        s"CAST(t AS $dec) * (t - 1) * (2 * t + 5)")), lit(0L).cast(dec))
        .as("tt"))
    nd.join(s, Seq("series")).join(ties, Seq("series"))
      .select(col("series"), col("n_days"), col("s_stat"),
        expr(s"CAST(CAST(n_days AS $dec) * (n_days - 1) * (2 * n_days + 5)" +
          s" - tt AS LONG)").as("var18"))
      .withColumn("z",
        when(col("var18") <= 0L, lit(null).cast("double"))
          .otherwise(round(
            when(col("s_stat") > 0L, col("s_stat").cast("double") - 1.0d)
              .when(col("s_stat") < 0L, col("s_stat").cast("double") + 1.0d)
              .otherwise(lit(0.0d)) /
              sqrt(col("var18").cast("double") / lit(18.0d)), roundTo)))
      .orderBy("series")
  }

  /** Autocorrelation function of daily volume per series at calendar
    * lags 1..maxLag — the periodicity fingerprint (a lag-7 spike = a
    * real weekly cycle) read before trusting any seasonal model.
    * Definition: acf_k = Pearson correlation of the aligned day pairs
    * (y_t, y_{t+k days}) — gap-aware (a missing day simply contributes
    * no pair), exact decimal sufficient statistics per (series, lag),
    * fp only in the closing ratio. Output:
    * (series, lag, n_pairs, acf), ordered.
    *
    * Scale shape: ONE keyed aggregation to the CALENDAR-BOUNDED daily
    * frame (the same state the seasonal/CUSUM/Holt/Mann–Kendall views
    * share), then one series-keyed self-join of that bounded frame with
    * the lag window as a join-range predicate (≤ days·maxLag pairs per
    * series — constant in corpus size), one (series, lag) aggregation. */
  def acf(
      df: DataFrame,
      series: Column,
      ts: Column,
      maxLag: Int = 14,
      roundTo: Int = 4): DataFrame =
    finishAcf(dailyCounts(df, series, ts), maxLag, roundTo)

  /** The Pearson closing ratio from exact decimal sufficient statistics
    * (n, Σx, Σy, Σx², Σy², Σxy) — identically-converted doubles, NULL on
    * degenerate inputs. Shared by finishAcf / finishCcf (and the same
    * literal shape as Evaluation.correlationMatrix / spearmanRho). */
  private def pearsonClose(roundTo: Int): Column = {
    val nD = col("n_pairs").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val da = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val db = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    when(col("n_pairs") < 2L || da <= lit(0.0d) || db <= lit(0.0d),
      lit(null).cast("double"))
      .otherwise(round(num / (sqrt(da) * sqrt(db)), roundTo))
  }

  private def pairSums(pairs: DataFrame, keys: Seq[String]): DataFrame = {
    val dec = "decimal(38,0)"
    pairs.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("ya").cast(dec)).as("sx"),
        sum(col("yb").cast(dec)).as("sy"),
        sum(col("ya").cast(dec) * col("ya")).as("sxx"),
        sum(col("yb").cast(dec) * col("yb")).as("syy"),
        sum(col("ya").cast(dec) * col("yb")).as("sxy"))
  }

  /** The ACF finish as a stateless view over an already-materialized
    * (series, day, cnt) frame — shared with the streaming twins' state. */
  def finishAcf(
      dailyIn: DataFrame,
      maxLag: Int = 14,
      roundTo: Int = 4): DataFrame = {
    require(maxLag >= 1 && maxLag <= 3650, "acf: maxLag in [1, 3650]")
    val a = dailyIn.select(col("series"), col("day").as("da"), col("cnt").as("ya"))
    val b = dailyIn.select(col("series"), col("day").as("db"), col("cnt").as("yb"))
    val pairs = a.join(b, Seq("series"))
      .where(datediff(col("db"), col("da")).between(1, maxLag))
      .select(col("series"),
        datediff(col("db"), col("da")).cast("long").as("lag"),
        col("ya"), col("yb"))
    pairSums(pairs, Seq("series", "lag"))
      .select(col("series"), col("lag"), col("n_pairs"),
        pearsonClose(roundTo).as("acf"))
      .orderBy("series", "lag")
  }

  /** Ljung–Box portmanteau test per series (Ljung & Box 1978):
    *   Q = n(n+2)·Σ_{k≤m} r_k²/(n−k),
    * asymptotically χ²(m) under "the daily series is white noise" — the
    * one-number autocorrelation gate read before any forecasting model
    * is pointed at a stream. Gap-aware contract: the sum runs over the
    * lags PRESENT in the gap-aware ACF (a lag with no aligned day pairs
    * contributes nothing), each with its own (n−k) weight. Output per
    * series: (series, n_days, m_lags, q).
    *
    * Scale shape: the ACF machinery's one keyed aggregation + bounded
    * lag self-join; the Q sum is an ORDER-PINNED fold over the
    * ≤ maxLag-element collected lag array per series. */
  def ljungBox(
      df: DataFrame,
      series: Column,
      ts: Column,
      maxLag: Int = 7,
      roundTo: Int = 4): DataFrame =
    // the daily frame feeds the ACF self-join AND the n_days aggregation
    // — cache it (released by the caller's Scope)
    finishLjungBox(
      Scope.persist(dailyCounts(df, series, ts)), maxLag, roundTo)

  /** The stateless Ljung–Box finish over the shared daily frame. */
  def finishLjungBox(
      dailyIn: DataFrame,
      maxLag: Int = 7,
      roundTo: Int = 4): DataFrame = {
    val daily = dailyIn
    val acfRows = finishAcf(daily, maxLag, roundTo = 12)
    val nDays = daily.groupBy("series").agg(count(lit(1)).as("n_days"))
    acfRows.join(nDays, Seq("series"))
      .groupBy("series")
      .agg(max("n_days").as("n_days"),
        count(lit(1)).as("m_lags"),
        sort_array(collect_list(struct(col("lag"), col("acf")))).as("o"))
      .select(col("series"), col("n_days"), col("m_lags"),
        when(col("n_days") < 3L, lit(null).cast("double"))
          .otherwise(round(
            col("n_days").cast("double") *
              (col("n_days").cast("double") + 2.0d) *
              expr(
                """aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
                  |  acc + CASE WHEN s.acf IS NULL OR n_days - s.lag <= 0
                  |    THEN 0.0D
                  |    ELSE s.acf * s.acf / CAST(n_days - s.lag AS DOUBLE)
                  |  END)""".stripMargin), roundTo))
          .as("q"))
      .orderBy("series")
  }

  /** Partial autocorrelation function per series at lags 1..m via the
    * Durbin–Levinson recursion (Durbin 1960) — PACF isolates the DIRECT
    * lag-k dependence ACF smears (an AR(1) stream has ACF at every lag
    * but PACF only at lag 1: the model-order readout). The recursion is
    * UNROLLED at plan-build time into closed-form column algebra over
    * the per-series pivoted ACF values r_1..r_m (m ≤ 6 keeps the
    * expression tree small), so the whole statistic is deterministic
    * scalar arithmetic — the oracle replays the identical unrolled
    * algebra. Requires contiguous lags: a series with a gap or a NULL
    * ACF inside 1..m reports NULL at every affected order (the
    * recursion is undefined there). Output per series:
    * (series, pacf_1 .. pacf_m).
    *
    * Scale shape: the ACF machinery, then ONE pivot aggregation to a
    * |series|-row frame where the unrolled algebra runs. */
  def pacf(
      df: DataFrame,
      series: Column,
      ts: Column,
      maxLag: Int = 5,
      roundTo: Int = 4): DataFrame =
    // the ACF self-join references the daily frame twice — cache it
    // (released by the caller's Scope)
    finishPacf(
      Scope.persist(dailyCounts(df, series, ts)), maxLag, roundTo)

  /** The stateless PACF finish over the shared daily frame. */
  def finishPacf(
      dailyIn: DataFrame,
      maxLag: Int = 5,
      roundTo: Int = 4): DataFrame = {
    require(maxLag >= 1 && maxLag <= 6, "pacf: maxLag in [1, 6] (unrolled)")
    val acfRows = finishAcf(dailyIn, maxLag, roundTo = 12)
    val rAggs = (1 to maxLag).map(k =>
      max(when(col("lag") === k.toLong, col("acf"))).as(s"r$k"))
    val pivoted = acfRows.groupBy("series").agg(rAggs.head, rAggs.tail: _*)
    // Durbin–Levinson unrolled: φ(k,j) as column expressions
    val r = (1 to maxLag).map(k => col(s"r$k"))
    val phi = scala.collection.mutable.Map[(Int, Int), Column]()
    phi((1, 1)) = r(0)
    for (k <- 2 to maxLag) {
      val num = r(k - 1) - (1 until k)
        .map(j => phi((k - 1, j)) * r(k - j - 1)).reduce(_ + _)
      val den = lit(1.0d) - (1 until k)
        .map(j => phi((k - 1, j)) * r(j - 1)).reduce(_ + _)
      phi((k, k)) = num / den
      for (j <- 1 until k)
        phi((k, j)) = phi((k - 1, j)) - phi((k, k)) * phi((k - 1, k - j))
    }
    pivoted.select(
      col("series") +: (1 to maxLag).map(k =>
        round(phi((k, k)), roundTo).as(s"pacf_$k")): _*)
      .orderBy("series")
  }

  /** Theil–Sen robust trend slope per series (Theil 1950, Sen 1968 —
    * the median of all pairwise slopes: the outlier-immune MAGNITUDE
    * companion to [[mannKendall]]'s direction test; up to ~29% corrupted
    * days cannot move it). Slopes are exact integers by construction:
    * slope_ppm = (10⁶·(y_j − y_i)) div (d_j − d_i), truncated toward
    * zero — Spark's `div` and DuckDB's `//` agree on signed operands —
    * and the median is the house low-median order statistic at position
    * (n+1) div 2, so the whole readout is bit-replayable. Output per
    * series: (series, n_days, n_pairs, sen_slope_ppm) — slope NULL when
    * the series has a single day.
    *
    * Scale shape: ONE keyed aggregation to the CALENDAR-BOUNDED daily
    * frame (the state every Seasonal view shares), a series-keyed
    * self-join of that bounded frame (≤ days²/2 pairs per series —
    * constant in corpus size), and a series-partitioned rank window on
    * the bounded pair frame — never a corpus-sized sort. */
  def theilSen(
      df: DataFrame,
      series: Column,
      ts: Column): DataFrame =
    finishTheilSen(dailyCounts(df, series, ts))

  /** The Theil–Sen finish as a stateless view over an already-
    * materialized (series, day, cnt) frame — the shared daily state. */
  def finishTheilSen(dailyIn: DataFrame): DataFrame = {
    val a = dailyIn.select(col("series"), col("day").as("da"), col("cnt").as("ya"))
    val b = dailyIn.select(col("series"), col("day").as("db"), col("cnt").as("yb"))
    val slopes = a.join(b, Seq("series"))
      .where(col("db") > col("da"))
      .select(col("series"),
        expr("(1000000 * (yb - ya)) div datediff(db, da)").as("sl"))
    val grp = Window.partitionBy("series")
    val med = slopes
      .withColumn("__rn", row_number().over(grp.orderBy(col("sl"))))
      .withColumn("__np", count(lit(1)).over(grp))
      .where(col("__rn") === expr("(__np + 1) div 2"))
      .select(col("series"), col("__np").as("n_pairs"),
        col("sl").as("sen_slope_ppm"))
    dailyIn.groupBy("series").agg(count(lit(1)).as("n_days"))
      .join(med, Seq("series"), "left")
      .select(col("series"), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("sen_slope_ppm"))
      .orderBy("series")
  }

  /** Cross-correlation (lead–lag) between every ordered pair of series
    * at calendar lags −maxLag..maxLag: ccf(s1, s2, k) = Pearson of the
    * aligned day pairs (s1 at t, s2 at t+k) — the "which stream LEADS
    * which" readout (a peak at k>0 says s1 leads s2 by k days) read
    * before wiring one series as a predictor of another. Gap-aware like
    * [[acf]] (a missing day contributes no pair), exact decimal
    * sufficient statistics, fp only in the closing ratio. Output:
    * (s1, s2, lag, n_pairs, ccf) with s1 < s2 lexically, ordered.
    *
    * Scale shape: ONE keyed aggregation to the calendar-bounded daily
    * frame, then one day-range self-join ACROSS series of that bounded
    * frame (≤ |series|²·days·(2·maxLag+1) pairs — constant in corpus
    * size), one (s1, s2, lag) aggregation. */
  def crossCorrelation(
      df: DataFrame,
      series: Column,
      ts: Column,
      maxLag: Int = 7,
      roundTo: Int = 4): DataFrame =
    finishCcf(dailyCounts(df, series, ts), maxLag, roundTo)

  /** The CCF finish as a stateless view over the shared daily state.
    * The lag window is EXPLODED on the right side so the join carries a
    * day EQUALITY — a hash join on the bounded frame, never a
    * nested-loop theta-join. */
  def finishCcf(
      dailyIn: DataFrame,
      maxLag: Int = 7,
      roundTo: Int = 4): DataFrame = {
    require(maxLag >= 0 && maxLag <= 3650, "crossCorrelation: maxLag in [0, 3650]")
    val a = dailyIn.select(col("series").as("s1"), col("day").as("da"),
      col("cnt").as("ya"))
    val b = dailyIn.select(col("series").as("s2"), col("day").as("db"),
      col("cnt").as("yb"))
      .withColumn("__lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      // pair (s1 at t, s2 at t+lag): db = da + lag ⟹ align on da = db − lag
      .withColumn("da", date_add(col("db"), -col("__lag")))
      .withColumn("lag", col("__lag").cast("long"))
    val pairs = a.join(b, Seq("da")).where(col("s1") < col("s2"))
      .select(col("s1"), col("s2"), col("lag"), col("ya"), col("yb"))
    pairSums(pairs, Seq("s1", "s2", "lag"))
      .select(col("s1"), col("s2"), col("lag"), col("n_pairs"),
        pearsonClose(roundTo).as("ccf"))
      .orderBy("s1", "s2", "lag")
  }
}
