package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact DBSCAN (Ester, Kriegel, Sander & Xu 1996) over low-dimensional
  * projected points — the density-clustering leg of an embedding-curation
  * pipeline (cluster the PCA/JL projection, then act per cluster: cap
  * over-represented modes, drop noise, pick per-cluster canonicals).
  *
  * Determinism contract (this is EXACT DBSCAN, not an approximation):
  * core points (≥ minPts neighbors within eps, self included) and the
  * core-core connectivity are order-independent facts of the point set;
  * cluster labels are canonicalized to the SMALLEST core id of the
  * cluster (min-label components, the x118/x25 convention); border points
  * (non-core with ≥ 1 core neighbor) attach to the smallest adjacent
  * cluster label — the one classical free choice in DBSCAN, pinned here
  * so any engine replaying the definition agrees bit-for-bit. Noise gets
  * cluster −1.
  *
  * Scale shape: the eps-grid equi-join is the classic block-local
  * candidate generator — each point lands in ONE cell
  * (⌊x/eps⌋, ⌊y/eps⌋), probes explode to their 3×3 cell block, and the
  * candidate join is an EQUI-join on the cell key (never a distance
  * theta-join), so candidate volume is n × (9 × occupancy) with
  * occupancy a density property, not a corpus-size property (shrink eps
  * with density, the x144 occupancy discipline). The exact-distance
  * filter runs inside the same codegen stage; neighbor counts are one
  * keyed aggregation; components ride Graph.connectedComponents'
  * cached-edge Pregel rounds (state = one long per CORE point —
  * core-subgraph-sized, not corpus-sized). */
object Clustering {

  /** DBSCAN over (idCol, xCol, yCol) points: returns
    * (id, cluster, is_core, n_neighbors) per input point — cluster is the
    * smallest member core id, −1 for noise; n_neighbors counts the
    * eps-ball including the point itself. */
  def gridDbscan(
      points: DataFrame,
      idCol: String,
      xCol: String,
      yCol: String,
      eps: Double,
      minPts: Int): DataFrame = {
    require(eps > 0.0, "gridDbscan: eps must be positive")
    require(minPts >= 1 && minPts <= 1000000, "gridDbscan: minPts in [1, 1e6]")

    val pts = Scope.persist(points
      .select(col(idCol).cast("long").as("id"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long")))

    // directed neighbor pairs (ia → ib, ia ≠ ib, dist² ≤ eps²): probes
    // explode to the 3×3 block, candidates equi-join on the cell key
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val probe = pts
      .select(col("id").as("ia"), col("x").as("xa"), col("y").as("ya"),
        explode(typedlit(offsets)).as("o"), col("cx"), col("cy"))
      .select(col("ia"), col("xa"), col("ya"),
        (col("cx") + col("o._1")).as("ncx"), (col("cy") + col("o._2")).as("ncy"))
    val nb = Scope.persist(probe
      .join(pts.select(col("id").as("ib"), col("x").as("xb"), col("y").as("yb"),
        col("cx").as("ncx"), col("cy").as("ncy")), Seq("ncx", "ncy"))
      .where(col("ia") =!= col("ib"))
      .where(((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb"))) <= lit(eps) * lit(eps))
      .select("ia", "ib"))

    val counts = nb.groupBy("ia").agg((count(lit(1)) + lit(1L)).as("n"))
    val withN = Scope.persist(pts.select("id")
      .join(counts.withColumnRenamed("ia", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("n"), lit(1L)).as("n_neighbors")))
    val core = withN.where(col("n_neighbors") >= minPts).select("id")

    // components over the core-core subgraph; self-loops keep isolated
    // cores as singleton clusters
    val coreCore = nb
      .join(core.withColumnRenamed("id", "ia"), Seq("ia"))
      .join(core.withColumnRenamed("id", "ib"), Seq("ib"))
      .select(col("ia").as("src"), col("ib").as("dst"))
    // Components via Dedup's adaptive machinery (same min-id canonical
    // labels as Graph.connectedComponents, pinned by DbscanSpec's
    // union-find reference): core-core pair sets are usually FAR smaller
    // than the corpus, so they resolve in the driver union-find fast
    // path; genuinely large sets take the O(log diameter) pointer-jump
    // rounds instead of min-label's O(diameter) — the geometric-chain
    // worst case that made the plain propagation the x159 bench heavy.
    val comp = Scope.persist(Dedup.duplicateClusters(
      coreCore.unionAll(core.select(col("id").as("src"), col("id").as("dst"))),
      aCol = "src", bCol = "dst")
      .withColumnsRenamed(Map("id" -> "node", "cluster" -> "comp")))

    val coreAssign = comp.select(col("node").as("id"), col("comp").as("cluster"),
      lit(true).as("is_core"))
    val border = nb
      .join(comp.select(col("node").as("ib"), col("comp")), Seq("ib"))
      .groupBy("ia").agg(min("comp").as("cluster"))
      .join(core.withColumnRenamed("id", "ia"), Seq("ia"), "left_anti")
      .select(col("ia").as("id"), col("cluster"), lit(false).as("is_core"))

    withN
      .join(coreAssign.unionByName(border), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"),
        coalesce(col("is_core"), lit(false)).as("is_core"),
        col("n_neighbors"))
  }

  /** Cluster-capped curation (the SemDeDup-style endpoint of density
    * clustering): keep at most `cap` members per cluster, chosen in the
    * engine's deterministic md5(seed:id) draw order (the d08 sampling
    * convention — layout-independent, engine-replayable); noise (−1)
    * passes uncapped, since un-clustered points ARE the diverse tail the
    * cap is protecting. Adds a `kept` flag (never drops rows — the caller
    * chooses to filter or to weight).
    *
    * Scale shape: one keyed window per cluster over the ASSIGNMENT frame
    * (id + label, not the corpus payload); the md5 order is a pure
    * projection. A pathological giant cluster concentrates its window
    * partition — at that shape, cap upstream with the group-limited
    * two-phase pattern (x83) before the final window. */
  def clusterCap(
      assignments: DataFrame,
      idCol: String,
      clusterCol: String,
      cap: Int,
      seed: String = "cc"): DataFrame = {
    require(cap >= 1, "clusterCap: cap must be >= 1")
    require(!assignments.columns.contains("__rk"),
      "clusterCap reserves the column name __rk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol))
      .orderBy(md5(concat_ws(":", lit(seed), col(idCol).cast("string"))),
        col(idCol))
    assignments
      .withColumn("__rk", row_number().over(w))
      .withColumn("kept", col(clusterCol) === lit(-1L) || col("__rk") <= cap)
      .drop("__rk")
  }

  /** Simplified (centroid-based) silhouette quality report over the
    * deterministic IVF pivot cells (Rousseeuw 1987's silhouette with the
    * per-point pairwise sums replaced by centroid distances — the
    * standard O(n·k) form; Hruschka 2004): per point, a = squared L2 to
    * the OWN cell's centroid, b = min over other cells, s = (b−a)/max(a,b)
    * — the "are these cells real structure?" readout run before any
    * per-cluster curation (x144/x159/x160) is trusted.
    *
    * Determinism contract: vectors are int8-quantized first (x39's exact
    * per-element formula), so the distance NUMERATOR to cell c,
    * N_c(v) = Σ_d (n_c·q_d − S_{c,d})², is EXACT integer arithmetic
    * (centroid mean S/n cleared of division by cross-multiplying) —
    * decimal(38,0) terms, no fp until the final a = N/n² conversion, b's
    * min over identically-converted doubles, and the rounded ppm ratio.
    * Singleton cells score s = 0 (the sklearn convention — a = 0 against
    * the self-centroid says nothing). A point whose corpus has only one
    * populated cell has no b → s NULL (counted, not scored).
    *
    * Scale shape: the pivot pick is one TakeOrdered (pivotMatrix,
    * metadata-sized); assignment + quantization are a pure projection;
    * per-cell stats are ONE (cell, dim) aggregation whose collected form
    * is nCells × dim longs (driver metadata, the pivotMatrix precedent);
    * all nCells distance numerators are then PLAN-LITERAL fold
    * expressions on a single cached scan (the x183/x173 discipline —
    * nothing shuffles after the stats agg except the |cells|-row report
    * aggregation). Consume the result inside a Scope. */
  /** External cluster validation: adjusted Rand index (Hubert & Arabie
    * 1985) + normalized mutual information (Strehl & Ghosh 2002, sqrt
    * normalization) between a GIVEN labeling and the deterministic IVF
    * pivot-cell assignment — the "did unsupervised structure recover the
    * labels?" readout run before any per-cluster curation inherits the
    * cells. One row: (n, n_labels, n_cells, ari_ppm, nmi).
    *
    * ARI is EXACT integer ppm: every pair count C(x,2) is an exact
    * decimal ((x·(x−1)) div 2 — even product, no truncation), and the
    * close is the cross-multiplied form
    * 2(T·Σij − Σa·Σb) / (T(Σa+Σb) − 2·Σa·Σb) — exact to ~10⁸ rows
    * (T·Σij ≲ N⁴/4 must fit decimal(38,0)); chance-perfect degenerate
    * tables (denominator 0) yield NULL. NMI's logs run as ORDER-PINNED
    * folds over the collected (label, cell)-sorted contingency and
    * margin arrays (the chiSquareIndependence discipline) —
    * bit-replayable via list_reduce.
    *
    * Scale shape: assignment is a pure projection through plan-literal
    * pivots (the pivotMatrix precedent); ONE corpus aggregation to the
    * (labels × cells)-bounded contingency; margins, pair sums and folds
    * all run on that cached frame. Consume the result inside a Scope. */
  def clusterAgreement(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      nCells: Int = 8,
      seed: String = "v1",
      roundTo: Int = 6): DataFrame = {
    require(nCells >= 2 && nCells <= 64, "clusterAgreement: nCells in [2, 64]")
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val pivots = Similarity.pivotMatrix(emb, idCol, vecCol, nCells, seed)
    val dec = "decimal(38,0)"
    val cells = Scope.persist(emb
      .select(col(labelCol).cast("long").as("l"), col(vecCol).as("__v"))
      .where(col("l").isNotNull)
      .withColumn("c",
        call_function("graft_nearest_centroid", col("__v"),
          typedlit(pivots.map(_.toSeq).toSeq)).cast("long"))
      .groupBy("l", "c").agg(count(lit(1)).as("nij")))
    val rowM = cells.groupBy("l").agg(sum("nij").as("ai"))
    val colM = cells.groupBy("c").agg(sum("nij").as("bj"))
    val tot = cells.agg(
      coalesce(sum("nij"), lit(0L)).cast(dec).as("nn"),
      count_distinct(col("l")).as("kl"),
      count_distinct(col("c")).as("kc"),
      coalesce(sum(expr(s"(CAST(nij AS $dec) * (nij - 1)) div 2")),
        lit(0L).cast(dec)).as("sij"))
    val aSide = rowM.crossJoin(tot.select("nn"))
      .agg(
        coalesce(sum(expr(s"(CAST(ai AS $dec) * (ai - 1)) div 2")),
          lit(0L).cast(dec)).as("sa"),
        sort_array(collect_list(struct(col("l"), col("ai")))).as("oa"),
        max("nn").as("__nna"))
      .withColumn("hl", expr(
        """-aggregate(oa, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + (CAST(s.ai AS DOUBLE) / CAST(__nna AS DOUBLE))
          |      * ln(CAST(s.ai AS DOUBLE) / CAST(__nna AS DOUBLE)))""".stripMargin))
      .select("sa", "hl")
    val bSide = colM.crossJoin(tot.select("nn"))
      .agg(
        coalesce(sum(expr(s"(CAST(bj AS $dec) * (bj - 1)) div 2")),
          lit(0L).cast(dec)).as("sb"),
        sort_array(collect_list(struct(col("c"), col("bj")))).as("ob"),
        max("nn").as("__nnb"))
      .withColumn("hc", expr(
        """-aggregate(ob, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + (CAST(s.bj AS DOUBLE) / CAST(__nnb AS DOUBLE))
          |      * ln(CAST(s.bj AS DOUBLE) / CAST(__nnb AS DOUBLE)))""".stripMargin))
      .select("sb", "hc")
    val miSide = cells.join(rowM, Seq("l")).join(colM, Seq("c"))
      .crossJoin(tot.select("nn"))
      .agg(
        sort_array(collect_list(struct(
          col("l"), col("c"), col("nij"), col("ai"), col("bj")))).as("o"),
        max("nn").as("__nnm"))
      .withColumn("mi", expr(
        """aggregate(o, CAST(0.0 AS DOUBLE), (acc, s) ->
          |  acc + (CAST(s.nij AS DOUBLE) / CAST(__nnm AS DOUBLE))
          |      * ln(CAST(s.nij AS DOUBLE) * CAST(__nnm AS DOUBLE)
          |           / (CAST(s.ai AS DOUBLE) * CAST(s.bj AS DOUBLE))))""".stripMargin))
      .select("mi")
    tot.crossJoin(aSide).crossJoin(bSide).crossJoin(miSide)
      .select(
        col("nn").cast("long").as("n"),
        col("kl").as("n_labels"),
        col("kc").as("n_cells"),
        {
          // T = C(N,2); ari = 2(T·Σij − Σa·Σb) / (T(Σa+Σb) − 2·Σa·Σb)
          val t = expr(s"(CAST(nn AS $dec) * (nn - 1)) div 2")
          val den = t * (col("sa") + col("sb")) -
            lit(2).cast(dec) * col("sa") * col("sb")
          when(col("nn") < 2L || den === lit(0).cast(dec), lit(null).cast("long"))
            .otherwise(expr(
              s"""(CAST(2000000 AS $dec)
                 |  * (((CAST(nn AS $dec) * (nn - 1)) div 2) * sij - sa * sb))
                 |div (((CAST(nn AS $dec) * (nn - 1)) div 2) * (sa + sb)
                 |     - CAST(2 AS $dec) * sa * sb)""".stripMargin).cast("long"))
            .as("ari_ppm")
        },
        when(col("nn") < 2L || col("hl") <= 0.0d || col("hc") <= 0.0d,
          lit(null).cast("double"))
          .otherwise(round(col("mi") / sqrt(col("hl") * col("hc")), roundTo))
          .as("nmi"))
  }

  def silhouetteReport(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int = 8,
      seed: String = "v1"): DataFrame = {
    require(nCells >= 2 && nCells <= 32, "silhouetteReport: nCells in [2, 32]")
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val pivots = Similarity.pivotMatrix(emb, idCol, vecCol, nCells, seed)
    val dec = "decimal(38,0)"
    val quant = Scope.persist(emb
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("__scale",
        expr("array_max(transform(__v, x -> abs(CAST(x AS DOUBLE)))) / 127.0D"))
      .withColumn("q", expr(
        "transform(__v, x -> CASE WHEN __scale = 0.0D THEN 0 " +
          "ELSE CAST(floor(CAST(x AS DOUBLE) / __scale + 0.5D) AS INT) END)"))
      .withColumn("cell",
        call_function("graft_nearest_centroid", col("__v"),
          org.apache.spark.sql.functions.typedlit(pivots.map(_.toSeq).toSeq)))
      .select(col("id"), col("cell"), col("q")))
    // per-cell integer centroid stats: ONE (cell, dim) aggregation →
    // nCells × dim longs on the driver (metadata-sized)
    val statRows = quant
      .select(col("cell"), posexplode(col("q")))
      .groupBy("cell", "pos")
      .agg(sum(col("col").cast("long")).as("s"), count(lit(1)).as("n"))
      .collect()
    val byCell: Map[Int, (Long, Array[Long])] = statRows
      .groupBy(_.getInt(0))
      .map { case (c, rs) =>
        val n = rs.head.getLong(3)
        val s = rs.sortBy(_.getInt(1)).map(_.getLong(2))
        c -> (n, s)
      }
    require(byCell.nonEmpty, "silhouetteReport: empty corpus")
    val present = byCell.keys.toSeq.sorted
    // exact integer distance numerator to cell c as a plan-literal fold
    def numTo(c: Int): Column = {
      val (n, s) = byCell(c)
      val sArr = s.map(v => s"CAST($v AS $dec)").mkString("array(", ", ", ")")
      expr(s"""aggregate(
        |  zip_with(q, $sArr,
        |    (qd, sd) -> (CAST(qd AS $dec) * $n - sd) * (CAST(qd AS $dec) * $n - sd)),
        |  CAST(0 AS $dec), (acc, x) -> acc + x)""".stripMargin)
    }
    def distTo(c: Int): Column = {
      val n = byCell(c)._1
      numTo(c).cast("double") / lit((n * n).toDouble)
    }
    val aCol = present.map(c => when(col("cell") === c, distTo(c)))
      .reduce((x, y) => coalesce(x, y))
    // least() needs ≥ 2 args; a single populated cell has no "other"
    val bCol =
      if (present.size == 1) lit(null).cast("double")
      else least(present.map(c => when(col("cell") =!= c, distTo(c))): _*)
    val nOwnCol = present.map(c => when(col("cell") === c, lit(byCell(c)._1)))
      .reduce((x, y) => coalesce(x, y))
    val scored = quant
      .withColumn("__a", aCol).withColumn("__b", bCol)
      .withColumn("s_ppm",
        when(col("__b").isNull, lit(null).cast("long"))
          .when(nOwnCol === 1L, lit(0L))
          .when(greatest(col("__a"), col("__b")) === 0.0d, lit(0L))
          .otherwise(expr(
            "CAST(round(1000000.0D * (__b - __a) / greatest(__a, __b)) AS LONG)")))
    val perCell = scored.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n"), count(col("s_ppm")).as("n_scored"),
        sum(col("s_ppm")).as("__s"))
    val total = scored.agg(count(lit(1)).as("n"),
      count(col("s_ppm")).as("n_scored"), sum(col("s_ppm")).as("__s"))
      .select(lit(-1L).as("cell"), col("n"), col("n_scored"), col("__s"))
    perCell.unionByName(total)
      .select(col("cell"), col("n"), col("n_scored"),
        when(col("n_scored") === 0L, lit(null).cast("long"))
          .otherwise(expr("__s div n_scored")).as("mean_s_ppm"))
      .orderBy("cell")
  }
}
