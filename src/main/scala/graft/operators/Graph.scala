package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames — the link-structure
  * layer a web-scale curation pipeline runs BEFORE content filtering (domain
  * authority as a quality prior, à la Common Crawl's host-level ranking;
  * Page et al. 1999). No graph library: the natural Spark formulation is the
  * edge list as a DataFrame, one hash-partitioned join + keyed aggregation
  * per superstep, which is exactly Pregel's shape and survives 1000
  * executors — ranks are one row per node, edges are scanned from a cached,
  * pre-partitioned projection every round.
  *
  * Determinism: PageRank in floating point is NOT cross-engine replayable —
  * per-node contribution sums are fp-order-dependent, and at 10⁵+ nodes
  * per-iteration rounding knife-edges become near-certain. So the kernel is
  * a FIXED-POINT INTEGER PageRank: ranks live in units of 1/scale
  * (scale = 10¹² by default), every share is an integer floor-division
  * `rank div out_degree`, and every sum is an exact 64-bit integer sum —
  * order-independent, partitioning-independent, and bit-replayable in any
  * engine with integer division (the same determinism contract as
  * MixtureSampling's integer draws). The floor loss per superstep is
  * ≤ (out_degree + 2)/scale per node — at scale 10¹² that is noise in the
  * 12th decimal, while making the result EXACT rather than approximately
  * reproducible.
  *
  * Recurrence (N nodes, damping d/100):
  *   r₀(v)    = scale div N
  *   share(u) = rₜ(u) div deg(u)                    (deg > 0)
  *   dangₜ    = Σ_{deg(u)=0} rₜ(u)                  (exact long sum)
  *   rₜ₊₁(v)  = ((100−d)·(scale div N)) div 100
  *            + (d·(Σ_{u→v} share(u) + dangₜ div N)) div 100
  */
object Graph {

  /** Symmetrize a (src, dst) edge projection in ONE scan of its input:
    * `dir.unionAll(dir.swap)` evaluates the underlying derivation once PER
    * LEG inside the edge-cache fill job (Spark does not dedup common
    * subexpressions across union legs — for callers whose edge frame is an
    * uncached join+distinct, that ran the join twice), while a 2-struct
    * explode emits both directions from a single pass (guide §2.4). Same
    * row multiset, so every downstream distinct/aggregation is unchanged. */
  private def symmetrized(dir: DataFrame): DataFrame =
    dir.select(explode(array(
      struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Executed superstep plans, captured for the audit spec that pins "every
    * superstep reads the cached edge projection and broadcasts the 1-row
    * dangling aggregate". OFF by default (same opt-in contract as
    * Similarity.capturePlans) so production calls don't render plan strings
    * or mutate shared state on the hot path. */
  @volatile private[graft] var capturePlans = false
  private[graft] val lastStepPlans =
    scala.collection.mutable.ArrayBuffer.empty[String]

  /** Fixed-point integer PageRank over an edge list. Input rows are directed
    * edges (multigraph semantics: a repeated (src, dst) row counts twice —
    * pre-`distinct` the frame for simple-graph semantics). Returns one row
    * per node: (node, deg = out-degree, rank_fp = rank in units of
    * 1/scale).
    *
    * Scale shape: edges are projected to 16 bytes/row, hash-partitioned by
    * src ONCE and persisted — every superstep's join reuses that exchange;
    * only the rank table (one long per node) reshuffles per round. Each
    * round materializes its rank table with ONE job — the dangling-mass
    * aggregate is the action that materializes the lazily-marked
    * localCheckpoint — and releases the previous round's checkpoint RDD,
    * so exactly two rank tables are alive at any time. The dangling mass
    * reaches the driver as one exact long (never a collect of node rows)
    * and enters the next superstep as a literal.
    *
    * Why checkpoint and not persist: each superstep references the rank
    * table TWICE (shares + dangling mass), so with persist-only rounds the
    * LOGICAL plan doubles per iteration — execution still hits the cache,
    * but Catalyst re-analyzes a 2^t-node tree every round (measured: 97 s
    * for 5 supersteps at sf0.1, growing per round; with lineage truncation
    * the same run is ~5 s with FLAT ~1 s rounds through iteration 10).
    * This is the standard iterative-algorithm discipline (GraphX/ALS
    * checkpoint for the same reason). On a multi-executor cluster, swap
    * localCheckpoint for reliable `checkpoint()` every few rounds if
    * executor loss must be survivable — rank state is one long per node,
    * so either is cheap. */
  def pageRankFixedPoint(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      iters: Int = 5,
      dampNum: Int = 85,
      scale: Long = 1000000000000L): DataFrame =
    pageRank(edges, srcCol, dstCol, iters, dampNum, scale, seeds = None)

  /** Personalized PageRank (random walk with restart, Haveliwala 2002):
    * the teleport distribution concentrates on `seeds` instead of being
    * uniform, so the stationary mass measures proximity TO THE SEED SET —
    * the recommendation/affinity variant ("entities most connected to
    * these customers"). Same fixed-point integer contract: the teleport
    * unit is scale div |seeds| for seed nodes and 0 elsewhere, the
    * dangling mass re-teleports to the seeds (dang div |seeds|), and
    * every superstep stays exact long arithmetic. r₀ gives each seed
    * scale div |seeds| and non-seeds 0 — walks begin at the seeds. Seeds
    * are a driver-side list (a seed SET is query metadata, not data;
    * broadcast into the plan as a literal is-seed predicate). */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      seeds: Seq[Long],
      iters: Int = 5,
      dampNum: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(seeds.nonEmpty && seeds.size <= 100000,
      "personalizedPageRank: 1 to 1e5 seed nodes (driver-side list)")
    pageRank(edges, srcCol, dstCol, iters, dampNum, scale, Some(seeds.distinct))
  }

  /** Weakly connected components by min-label propagation: every node
    * starts labeled with itself; each round takes the min over its own
    * label and its neighbors' labels; fixpoint when no label changes.
    * Returns (node, component) with component = the smallest node id in
    * the component — a canonical, data-derived name (the same convention
    * as Dedup's cluster canonicals). The result is the unique fixpoint,
    * so it is independent of iteration count, partitioning, and arrival
    * order — an engine replaying reachability any other way (the oracle
    * uses a recursive-CTE closure) must agree exactly.
    *
    * Scale shape: same Pregel discipline as pageRank — edges projected,
    * symmetrized, src-partitioned, cached ONCE; per round one keyed
    * join+agg over the cached edges and a localCheckpoint'd label table
    * (lineage truncation — the label table is referenced twice per round);
    * convergence needs O(component diameter) rounds, and the driver stops
    * on an exact changed-count of zero (one tiny aggregate per round). */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    require(maxIters >= 1 && maxIters <= 200, "connectedComponents: maxIters in [1, 200]")
    val dir = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val e = Scope.persist(
      symmetrized(dir)
        .distinct()
        .repartition(col("src")))
    val nodes = e.select(col("src").as("node")).distinct()

    var labels = Scope.checkpoint(nodes.select(col("node"), col("node").as("comp")), eager = true)
    var t = 0
    var converged = false
    while (t < maxIters && !converged) {
      val nbrMin = e.join(labels.select(col("node").as("src"), col("comp")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min("comp").as("nmin"))
      val step = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          (col("comp") =!= least(col("comp"), coalesce(col("nmin"), col("comp"))))
            .as("__chg"))
      // ONE job per round: the checkpoint is marked lazy and the
      // changed-row count is the action that materializes it (the old
      // shape paid the eager-count job AND a separate limit-probe job —
      // Dedup.duplicateClusters' convergence discipline, guide §2.6)
      val next = Scope.checkpoint(step, eager = false)
      converged = next.where(col("__chg")).count() == 0L
      Scope.release(labels)
      labels = next
      t += 1
    }
    require(converged, s"connectedComponents: no fixpoint after $maxIters rounds")
    labels.select(col("node"), col("comp"))
  }

  /** Exact triangle counting by degree-ordered edge orientation (the
    * MapReduce-classic plan: Suri & Vassilvitskii 2011, "Counting
    * triangles and the curse of the last reducer"). Input rows are an
    * edge list in either direction; self-loops and duplicates are
    * dropped. Returns one row per node: (node, deg, triangles) with
    * `deg` the undirected simple-graph degree and `triangles` the exact
    * number of triangles through the node.
    *
    * Scale shape: each undirected edge is oriented from its LOWER
    * (degree, id) endpoint to its higher — so every wedge is generated
    * at its lowest-degree corner and per-node join fanout is bounded by
    * O(√m) oriented out-degree instead of the raw max degree (the
    * hub-node "last reducer" killer: a degree-10⁶ hub generates 10¹²
    * wedges unoriented, ~m oriented). The oriented projection (u, v,
    * deg v) is 24 bytes/row, cached ONCE, and feeds all three scans
    * (two wedge legs + the closing-edge probe); the closure is an
    * equi-join on (v, w) — no cartesian, no driver state. Counting is
    * exact integer arithmetic end-to-end, so any engine replaying the
    * same definition (the oracle does, in SQL) agrees bit-for-bit. */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val a = col(srcCol).cast("long"); val b = col(dstCol).cast("long")
    // the normalized edge list and degree table each feed multiple scans
    // (orientation ×2, the final join) — cache both so the caller's edge
    // DERIVATION (often a join-heavy projection) runs exactly once
    val und = Scope.persist(edges.where(a =!= b)
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .distinct())
    val deg = Scope.persist(und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient low (deg, id) -> high (deg, id); carry the head's degree so
    // the wedge join can order its two legs without re-joining deg
    val oriented = Scope.persist(
      und.join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
        .select(
          when(col("da") < col("db") ||
               (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"),
          when(col("da") < col("db") ||
               (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("v"),
          when(col("da") < col("db") ||
               (col("da") === col("db") && col("a") < col("b")),
            col("db")).otherwise(col("da")).as("dv"))
        .repartition(col("u")))
    val o1 = oriented
    val o2 = oriented.select(
      col("u").as("u2"), col("v").as("w"), col("dv").as("dw"))
    val wedges = o1.join(o2,
      col("u") === col("u2") &&
        (col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w"))))
      .select(col("u"), col("v"), col("w"))
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    val tris = wedges.join(closing, Seq("v", "w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** INCREMENTAL connected components: merge a batch of new edges into
    * an existing fixpoint labeling WITHOUT rescanning the corpus — the
    * graph analog of the incremental dedup-index maintenance (x70): at
    * 100 TB the entity graph's labeling is an asset you update, not a
    * query you re-run. Exactness argument: a component's canonical label
    * is its minimum node id, and the merge graph below connects OLD
    * canonical ids whenever a new edge joins their components — the min
    * over merged canonicals IS the min node id of the merged component,
    * so the result equals the full-recompute fixpoint bit-for-bit (the
    * oracle recomputes from scratch over the union edge set).
    *
    * Scale shape: the corpus labeling is SCANNED twice and SHUFFLED never
    * — (1) the batch's endpoint set broadcasts INTO the labeling to pull
    * existing labels out (a broadcast semi-lookup, so the corpus side
    * only streams through a hash probe); (2) the final remap rides a
    * BROADCAST join of the ≤ |batch|-row (old canonical → new canonical)
    * table onto the labeling scan. The label-merge CC runs on the
    * COMPONENT graph (≤ 2·|batch| nodes — batch-sized, not
    * corpus-sized). Pinned by the x135 plan audit: with auto-broadcast
    * disabled, the labeling never sits below a shuffle exchange. Consume
    * the result inside a Scope. */
  def componentsIncremental(
      labels: DataFrame,
      newEdges: DataFrame,
      srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    val e = Scope.persist(newEdges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val nn = Scope.persist(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct())
    // labels of batch endpoints already in the corpus: the batch-sized
    // node set broadcasts into the labeling — corpus scanned, not shuffled
    val hit = Scope.persist(
      labels.join(broadcast(nn), Seq("node")))
    // endpoints take their existing component; unseen nodes self-label
    val lab = Scope.persist(nn
      .join(broadcast(hit), Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp")))
    // the merge graph connects old canonical labels via the new edges
    val le = e
      .join(lab.select(col("node").as("src"), col("comp").as("__ca")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("comp").as("__cb")), Seq("dst"))
      .select(col("__ca").as("src"), col("__cb").as("dst"))
    val remap = connectedComponents(le, "src", "dst", maxIters)
      .select(col("node").as("__oldc"), col("comp").as("__newc"))
      .where(col("__oldc") =!= col("__newc"))
    val updated = labels
      .join(broadcast(remap), labels("comp") === col("__oldc"), "left")
      .select(labels("node"),
        coalesce(col("__newc"), labels("comp")).as("comp"))
    val newNodes = lab
      .join(broadcast(hit.select(col("node"))), Seq("node"), "left_anti")
      .join(broadcast(remap), lab("comp") === col("__oldc"), "left")
      .select(lab("node"), coalesce(col("__newc"), lab("comp")).as("comp"))
    updated.unionAll(newNodes)
  }

  /** Multi-source BFS: minimum hop distance from a seed set, plus the
    * smallest seed id achieving that distance — the "how far is every
    * entity from a trusted core" primitive (quality priors radiating from
    * curated seed domains, influence radius of flagged sources).
    * Undirected: edges are symmetrized like connectedComponents. Returns
    * only REACHED nodes as (node, dist, seed) — an unreachable node has
    * no distance, not an infinite one.
    *
    * Determinism: the superstep folds candidate states with a
    * lexicographic min over (dist, seed), so the fixpoint is exactly
    * (shortest-path distance, min seed id among seeds at that distance) —
    * by induction every seed at distance d reaches the node through some
    * predecessor at d−1 whose own min-seed is ≤ it, so the pairwise min
    * loses nothing. Integer state end to end, replayable in any engine
    * (the oracle is a bounded recursive closure + arg-min).
    *
    * Scale shape: FRONTIER-ONLY expansion — a node's (dist, seed) is
    * FINAL the round it is first reached (all distance-(d−1)
    * predecessors settle in round d−1, so every round-d candidate set is
    * complete; the min loses nothing), so each round joins the edges
    * against only the NEWLY-REACHED frontier, not the whole state: the
    * textbook BFS optimization, and at 100 TB the difference between
    * touching edges incident to the wavefront and rescanning the graph
    * per round. Per round: ONE keyed join frontier⋈edges + keyed
    * struct-min + an anti-join against the accumulated state; state and
    * frontier are localCheckpoint'd, previous rounds released.
    * Convergence = an empty frontier (no scan of the full state). Seeds
    * are a driver-side list (query metadata). Consume the result inside a Scope. */
  def bfsLevels(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      seeds: Seq[Long],
      maxIters: Int = 50): DataFrame = {
    require(seeds.nonEmpty && seeds.size <= 100000,
      "bfsLevels: 1 to 1e5 seed nodes (driver-side list)")
    require(maxIters >= 1 && maxIters <= 200, "bfsLevels: maxIters in [1, 200]")
    val spark = edges.sparkSession
    import spark.implicits._
    val dir = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val e = Scope.persist(
      symmetrized(dir)
        .distinct()
        .repartition(col("src")))
    // the accumulated state is the UNION of the (checkpointed) per-round
    // frontiers — never re-materialized: the old shape localCheckpointed
    // state ∪ fresh every round, an O(|state|) eager write per round on
    // top of the frontier's own checkpoint (guide §2.4: a re-materialized
    // pass is a removable pass). Each frontier is already a flat
    // LogicalRDD, so the union plan stays shallow (≤ maxIters legs), the
    // per-round anti-join reads exactly the same rows it did before, and
    // total pinned blocks equal the old final-state checkpoint's.
    // GUARD: plan width is bounded by the maxIters ≤ 200 require above —
    // round t's state union carries t flat legs, so cumulative planning
    // cost is O(maxIters²) cheap leg visits. Acceptable at the 200-round
    // cap; if that cap is ever raised past a few thousand, fold frontiers
    // into a periodically re-checkpointed state instead.
    var frames = List(Scope.checkpoint(
      seeds.distinct.map(s => (s, 0L, s)).toDF("node", "dist", "seed"), eager = true))
    var frontier = frames.head
    var t = 0
    var done = false
    while (t < maxIters && !done) {
      val stateNodes = frames.map(_.select(col("node"))).reduce(_ unionAll _)
      val cand = e
        .join(frontier.select(col("node").as("src"), col("dist"), col("seed")),
          Seq("src"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"), col("seed"))
        .groupBy("node")
        .agg(min(struct(col("dist"), col("seed"))).as("m"))
      // ONE job per round: the frontier checkpoint is marked lazy and the
      // emptiness count is the action that materializes it (the old shape
      // paid the eager-count job AND a separate limit-probe job whose
      // executeTake scanned every partition on the final empty round)
      val fresh = Scope.checkpoint(cand
        .join(stateNodes, Seq("node"), "left_anti")
        .select(col("node"), col("m.dist").as("dist"), col("m.seed").as("seed")), eager = false)
      done = fresh.count() == 0L
      if (!done) {
        frames = fresh :: frames
        frontier = fresh
      } else {
        Scope.release(fresh)
      }
      t += 1
    }
    require(done, s"bfsLevels: frontier still growing after $maxIters rounds")
    frames.reverse.reduce(_ unionAll _).select(col("node"), col("dist"), col("seed"))
  }

  /** Resource-allocation shared-neighbor similarity between LEFT nodes of
    * a bipartite graph (Zhou, Lü & Zhang 2009 — the strongest of the
    * degree-penalized common-neighbor link-prediction indices): for a
    * left pair (a, b), ra = Σ over shared right neighbors r of 1/deg(r),
    * so a rare shared partner counts for more than a ubiquitous one.
    * The user-user / item-item collaborative-filtering primitive.
    *
    * Determinism: fixed-point integers — each shared neighbor contributes
    * `scale div deg(r)` (exact floor division), the pair score is an
    * exact long sum; bit-replayable in any engine. Returns one row per
    * co-visiting pair: (a, b, shared, ra_fp) with a < b.
    *
    * Scale shape: one wedge self-join keyed by the shared RIGHT node
    * (candidate volume Σ_r deg(r)² — the same documented super-linear
    * budget as the butterfly census; bound it upstream by thresholding
    * edges, as x137 does with repeat-trade strength), with deg(r) joined
    * in BEFORE the wedge so each wedge row carries its weight — then ONE
    * keyed aggregation per pair. No driver-side state. */
  def sharedNeighborScores(
      edges: DataFrame,
      leftCol: String, rightCol: String,
      scale: Long = 1000000000000L): DataFrame = {
    val e = Scope.persist(
      edges.select(col(leftCol).cast("long").as("l"),
        col(rightCol).cast("long").as("r"))
        .distinct()
        .repartition(col("r")))
    val deg = e.groupBy("r").agg(count(lit(1)).as("__deg"))
    val weighted = e.join(deg, Seq("r"))
      .select(col("r"), col("l"), expr(s"${scale}L div __deg").as("__w"))
    val e2 = e.select(col("r"), col("l").as("l2"))
    weighted.join(e2, Seq("r"))
      .where(col("l") < col("l2"))
      .groupBy(col("l").as("a"), col("l2").as("b"))
      .agg(count(lit(1)).as("shared"), sum("__w").as("ra_fp"))
  }

  /** Item-based collaborative-filtering recommendations over a bipartite
    * interaction graph (the classic neighborhood method — Sarwar 2001
    * shape, with the resource-allocation similarity of
    * sharedNeighborScores as the peer weight): a left node's score for a
    * right node it has NOT interacted with is Σ over peers who did
    * interact of ra(left, peer). Exact fixed-point integers end to end,
    * so the ranking is bit-replayable. Returns the top-k novel right
    * nodes per left node: (l, rank, r, score_fp, n_contributors).
    *
    * Scale shape: pair scores come from the wedge join (documented
    * super-linear Σ deg(r)² budget — threshold edges upstream); the
    * contribution join is keyed by peer against the cached edge
    * projection; existing interactions leave via a keyed anti-join; the
    * per-left top-k is a group-partitioned window (never a global sort).
    * Consume the result inside a Scope. */
  def recommendations(
      edges: DataFrame,
      leftCol: String, rightCol: String,
      k: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(k >= 1 && k <= 100, "recommendations: k in [1, 100]")
    val e = Scope.persist(
      edges.select(col(leftCol).cast("long").as("l"),
        col(rightCol).cast("long").as("r"))
        .distinct())
    // the pair-score frame feeds BOTH symmetrization branches — persisted,
    // or the Σ deg² wedge self-join (the expensive phase) runs twice
    // (guide §2.4; rows are 32-byte integers, so the cache is cheap where
    // a full-text cache was not — see the x100 experiment)
    val sims = Scope.persist(sharedNeighborScores(e, "l", "r", scale))
    val sym = sims.select(col("a").as("c"), col("b").as("peer"), col("ra_fp"))
      .unionAll(sims.select(col("b").as("c"), col("a").as("peer"), col("ra_fp")))
    val contrib = sym
      .join(e.select(col("l").as("peer"), col("r")), Seq("peer"))
      .groupBy(col("c"), col("r"))
      .agg(sum("ra_fp").as("score_fp"), count(lit(1)).as("n_contributors"))
    val novel = contrib
      .join(e.select(col("l").as("c"), col("r")), Seq("c", "r"), "left_anti")
    novel
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("c").orderBy(desc("score_fp"), col("r"))).cast("long"))
      .where(col("rank") <= k)
      .select(col("c").as("l"), col("rank"), col("r"),
        col("score_fp"), col("n_contributors"))
  }

  /** Butterfly (K_{2,2}) counting on a bipartite edge list — the
    * bipartite analog of the triangle (a 4-cycle: two left nodes both
    * connected to two right nodes; Sanei-Mehri 2018). On a
    * customer×supplier graph a butterfly is the smallest unit of
    * co-purchasing structure, so per-node butterfly counts are the
    * bipartite clustering signal the projected-graph triangle census
    * (x119) approximates with an extra projection step. Returns one row
    * per RIGHT node: (node, deg, butterflies), exact integers.
    *
    * butterflies(r) = Σ_{r'} C(common(r, r'), 2) — computed from wedges
    * (r1 < r2 sharing a left node) grouped to common-neighbor counts, so
    * the heavy join moves 16-byte wedge rows, never text. Wedge volume
    * is Σ_left deg² — the documented super-linear budget of the exact
    * regime (a degree-d left hub emits C(d,2) wedges; cap or sample
    * hub lefts for the approximate scale path, as with the x09 family).
    * The normalized edge list is cached ONCE and feeds the wedge
    * self-join and the degree count. */
  def butterflyCounts(
      edges: DataFrame,
      leftCol: String, rightCol: String): DataFrame = {
    val e = Scope.persist(
      edges.select(col(leftCol).cast("long").as("l"),
        col(rightCol).cast("long").as("r"))
        .distinct()
        .repartition(col("l")))
    val e2 = e.select(col("l"), col("r").as("r2"))
    val pairs = e.join(e2, Seq("l"))
      .where(col("r") < col("r2"))
      .groupBy("r", "r2").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select(col("r"), col("r2"), expr("(c * (c - 1)) div 2").as("bf"))
    val perNode = pairs
      .select(explode(array(col("r"), col("r2"))).as("node"), col("bf"))
      .groupBy("node").agg(sum("bf").as("butterflies"))
    val deg = e.groupBy(col("r").as("node")).agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("butterflies"), lit(0L)).as("butterflies"))
  }

  /** k-core extraction by iterative peeling (Seidman 1983): repeatedly
    * delete every node with degree < k until none remains; what survives
    * is the UNIQUE maximal subgraph with all degrees ≥ k (the peel order
    * cannot change the fixpoint, so the result is deterministic however
    * the rounds are batched — an engine peeling one node at a time and
    * this operator peeling whole frontiers per round agree exactly).
    * Returns the surviving nodes as (node, core_deg) with core_deg the
    * degree WITHIN the core. An empty result is a real answer: the graph
    * has no k-core.
    *
    * Scale shape: same Pregel discipline as connectedComponents — the
    * normalized edge list is localCheckpoint'd per round (each round
    * references it three times: degree count + two semi-joins), rounds
    * are one keyed aggregation + two hash semi-joins each, and the
    * frontier test is an exact edge count (counts strictly decrease, so
    * convergence needs at most |peel depth| rounds). Nothing row-sized
    * ever reaches the driver. */
  def kCore(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      k: Int,
      maxIters: Int = 30): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    require(maxIters >= 1 && maxIters <= 200, "kCore: maxIters in [1, 200]")
    val a = col(srcCol).cast("long"); val b = col(dstCol).cast("long")
    // lazy checkpoints: the edge counts below are the materializing
    // actions, so each round (and the init) is ONE job — the old eager
    // flag paid an internal count job and then ran the same count again
    var cur = Scope.checkpoint(edges.where(a =!= b)
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .distinct(), eager = false)
    var nEdges = cur.count()
    var t = 0
    var converged = false
    while (t < maxIters && !converged) {
      val alive = cur.select(col("a").as("node"))
        .unionAll(cur.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select("node")
      val next = Scope.checkpoint(cur
        .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
        .select("a", "b"), eager = false)
      val nNext = next.count()
      converged = nNext == nEdges
      Scope.release(cur)
      cur = next
      nEdges = nNext
      t += 1
    }
    require(converged, s"kCore: no fixpoint after $maxIters rounds")
    cur.select(col("a").as("node"))
      .unionAll(cur.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }

  /** Deterministic random walks over a directed edge list — the corpus a
    * skip-gram graph embedding (DeepWalk/node2vec family) trains on. The
    * "randomness" is derandomized the engine's standard way (the d08 /
    * MixtureSampling md5 trick): at step r, walk (node, idx) moves to the
    * out-neighbor minimizing the uniform draw
    * md5(start ':' idx ':' r ':' neighbor) — a pure function of the walk
    * identity and step, so every walk replays bit-identically on any
    * cluster, any partitioning, any engine with md5 (the oracle replays
    * the argmin in SQL). Walks start at every distinct source node
    * (walksPerNode walks each) and TERMINATE at sinks (no out-edges).
    * Returns the path table (start, walk, step, node), step 0 = start.
    *
    * Scale shape: the edge projection is cached and src-hash-partitioned
    * ONCE; each step is one keyed join + argmin-aggregation (min of a
    * (draw, dst) struct — no window over raw candidates), and the
    * frontier localCheckpoints per step (pageRank's lineage discipline).
    * Candidate volume per step is Σ out-degree over the frontier — the
    * same bound as one PageRank superstep. */
  def deterministicWalks(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      steps: Int = 4,
      walksPerNode: Int = 2): DataFrame = {
    require(steps >= 1 && steps <= 50, "deterministicWalks: steps in [1, 50]")
    require(walksPerNode >= 1 && walksPerNode <= 64,
      "deterministicWalks: walksPerNode in [1, 64]")
    val e = Scope.persist(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .distinct()
        .repartition(col("src")))
    var frontier = Scope.checkpoint(e.select(col("src").as("start")).distinct()
      .select(col("start"),
        explode(array((0 until walksPerNode).map(i => lit(i.toLong)): _*))
          .as("widx"),
        col("start").as("node")), eager = true)
    // every step's frontier feeds the FINAL path union, so no checkpoint
    // is released mid-loop (unlike pageRank, where only two rank tables
    // are ever live); the ≤ steps+1 frames are |walks|-row each and the
    // caller's Scope frees them once the result is consumed
    val paths = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.select(col("start"), col("widx"), lit(0).as("step"), col("node")))
    (1 to steps).foreach { r =>
      val cand = frontier
        .join(e.select(col("src").as("node"), col("dst")), Seq("node"))
        .select(col("start"), col("widx"),
          struct(
            md5(concat_ws(":", col("start"), col("widx"), lit(r), col("dst")))
              .as("draw"),
            col("dst")).as("c"))
      frontier = Scope.checkpoint(cand.groupBy("start", "widx")
        .agg(min("c").as("m"))
        .select(col("start"), col("widx"), col("m.dst").as("node")), eager = true)
      paths += frontier.select(col("start"), col("widx"),
        lit(r).as("step"), col("node"))
    }
    paths.reduce(_ unionAll _)
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) on a DIRECTED bipartite
    * edge list src → dst: authority(d) = Σ hub(s) over in-edges, then
    * hub(s) = Σ authority(d) over out-edges, renormalized each half-step.
    * Complements PageRank's single-score authority with the two-sided
    * view — on a customer→supplier graph: which buyers have broad strong
    * baskets (hubs) and which suppliers those baskets concentrate on
    * (authorities).
    *
    * Same determinism contract as pageRankFixedPoint: scores are
    * fixed-point longs (units of 1/scale) and the per-half-step
    * renormalization `v · scale div max(v)` is an exact integer
    * division — HITS' usual L2 normalization is fp-order-dependent, the
    * max-norm is bit-replayable and keeps every score in [0, scale].
    * Returns (node, side ∈ {hub, auth}, score_fp).
    *
    * Scale shape: the edge projection is cached and src-hash-partitioned
    * ONCE; each half-step is one keyed join+agg over it, the 1-row max
    * rides a broadcast (never a driver collect), and both score tables
    * localCheckpoint per round (two longs per node alive at a time) —
    * the pageRank lineage discipline. */
  def hitsBipartite(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 100, "hitsBipartite: iters in [1, 100]")
    require(scale >= 1000, "hitsBipartite: scale too small for fixed-point")
    val e = Scope.persist(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .distinct()
        .repartition(col("src")))
    require(!e.isEmpty, "hitsBipartite: empty edge list")
    val dec = "decimal(38,0)"
    // ONE job per half-step: the raw-score checkpoint is marked lazy and
    // the max aggregate is the action that materializes it — the max then
    // enters the normalization as an exact decimal LITERAL (the old shape
    // paid a broadcast-build job for the 1-row max plus the eager-count
    // job per half-step). The normalized view is a lazy projection over
    // the checkpoint (`v·scale div max` — recomputed on each of its two
    // reads, trivially cheap); returns (normalized view, checkpoint to
    // release). The string round-trip is exact: decimal(38,0).toPlainString
    // is the integer's digits and the cast back is lossless, so the
    // division is bit-identical to the broadcast shape.
    def renorm(raw: DataFrame): (DataFrame, DataFrame) = {
      val ck = Scope.checkpoint(raw, eager = false)
      val m = ck.agg(max("rv").as("m")).collect()(0).getDecimal(0)
      (ck.select(col("node"),
        expr(s"(cast(rv as $dec) * $scale) div cast('${m.toPlainString}' as $dec)")
          .as("v")), ck)
    }
    var hubs = Scope.checkpoint(e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale).as("v")), eager = true)
    var hubsCk: DataFrame = hubs
    var auths: DataFrame = null
    var authsCk: DataFrame = null
    (1 to iters).foreach { _ =>
      // partials sum in decimal(38,0): Σ over a 10⁷-degree hub of
      // scale-sized longs would overflow int64
      val rawA = e.join(hubs.select(col("node").as("src"), col("v")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("v").cast("decimal(38,0)")).as("rv"))
      val (nextA, ckA) = renorm(rawA)
      if (authsCk != null) Scope.release(authsCk)
      auths = nextA
      authsCk = ckA
      val rawH = e.join(auths.select(col("node").as("dst"), col("v")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("v").cast("decimal(38,0)")).as("rv"))
      val (nextH, ckH) = renorm(rawH)
      Scope.release(hubsCk)
      hubs = nextH
      hubsCk = ckH
    }
    hubs.select(col("node"), lit("hub").as("side"), col("v").as("score_fp"))
      .unionAll(auths.select(col("node"), lit("auth").as("side"),
        col("v").as("score_fp")))
  }

  private def pageRank(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      iters: Int,
      dampNum: Int,
      scale: Long,
      seeds: Option[Seq[Long]]): DataFrame = {
    require(iters >= 1 && iters <= 64, "pageRankFixedPoint: iters in [1, 64]")
    require(dampNum >= 0 && dampNum <= 100, "pageRankFixedPoint: dampNum in [0, 100]")
    require(scale >= 1000000L && scale <= 1000000000000000000L,
      "pageRankFixedPoint: scale in [1e6, 1e18] (rank sums must fit a long)")

    val e = Scope.persist(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .repartition(col("src")))

    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val nd = Scope.persist(
      nodes.join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg")))
    val n = nd.count()
    require(n > 0, "pageRankFixedPoint: empty graph")
    // teleport set: all nodes (classic) or the seed set (personalized);
    // teleport unit and restart base are per-TELEPORT-NODE quantities
    val m = seeds.map(_.size.toLong).getOrElse(n)
    val tUnit = scale / m
    val base = ((100L - dampNum) * tUnit) / 100L
    val isTele = seeds match {
      case Some(s) => col("node").isin(s: _*)
      case None => lit(true)
    }

    // ONE job per round (was two): the rank checkpoint is marked lazy and
    // the NEXT round's dangling-mass aggregate is the action that
    // materializes it — the dangling sum rides the same job that persists
    // the rank table, replacing the old shape's separate broadcast-build
    // job and its extra full scan of the rank state. Only one exact long
    // reaches the driver (never node rows), and it re-enters the next
    // superstep as a LITERAL; `dang ≥ 0` and `m > 0` make driver Long
    // division equal SQL `div`, so every rank is bit-identical to the
    // broadcast shape. Free a round's localCheckpoint RDD once the next
    // round is live.
    def matWithDang(df: DataFrame): (DataFrame, Long) = {
      val ck = Scope.checkpoint(df, eager = false)
      val d = ck.where(col("deg") === 0)
        .agg(coalesce(sum("r"), lit(0L)).as("dang"))
        .collect()(0).getLong(0)
      (ck, d)
    }
    var (ranks, dang) = matWithDang(nd.select(col("node"), col("deg"),
      when(isTele, lit(tUnit)).otherwise(lit(0L)).as("r")))
    var t = 0
    while (t < iters) {
      val shares = ranks.where(col("deg") > 0)
        .select(col("node").as("src"), expr("r div deg").as("share"))
      val contrib = e.join(shares, Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("share").as("c"))
      val step = nd.join(contrib, Seq("node"), "left")
        .withColumn("__ds",
          when(isTele, lit(dang / m)).otherwise(lit(0L)))
        .select(col("node"), col("deg"),
          (when(isTele, lit(base)).otherwise(lit(0L)) +
            expr(s"($dampNum * (coalesce(c, 0L) + __ds)) div 100")).as("r"))
      val (next, dangNext) = matWithDang(step)
      if (capturePlans) {
        if (t == 0) lastStepPlans.clear()
        lastStepPlans += step.queryExecution.executedPlan.toString
      }
      Scope.release(ranks)
      ranks = next
      dang = dangNext
      t += 1
    }
    ranks.select(col("node"), col("deg"), col("r").as("rank_fp"))
  }

  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of endpoint degrees over the undirected simple graph —
    * positive = hubs prefer hubs (social-network shape), negative = hubs
    * fan out to leaves (the bipartite/infrastructure shape). The one
    * scalar that says which skew regime a graph's joins will hit.
    *
    * Exactness contract: over the symmetrized directed edge list
    * (each undirected edge contributes both (dj,dk) and (dk,dj)),
    *   r = (M·Σdjdk − (Σdj)²) / (M·Σdj² − (Σdj)²)
    * with every sum an exact decimal(38,0) integer — only the final
    * division touches fp (rounded to 4 dp), from identically-converted
    * components. NULL when the variance is 0 (a degree-regular graph —
    * correlation undefined).
    *
    * Scale shape: one distinct + one degree aggregation + one keyed
    * join of degrees back onto edges (both sides hash-partitioned by
    * node), one global 1-row aggregation — no windows, no iteration. */
  def degreeAssortativity(
      edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val dirE = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val sym = Scope.persist(
      symmetrized(dirE)
        .distinct())
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
    sym
      .join(deg.withColumnRenamed("d", "dj"), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("dk")), Seq("dst"))
      .agg(
        count(lit(1)).as("m2"),
        sum(col("dj").cast(dec) * col("dk")).as("sjk"),
        sum(col("dj").cast(dec)).as("sj"),
        sum(col("dj").cast(dec) * col("dj")).as("sj2"))
      .select(
        (col("m2") / lit(2L)).cast("long").as("m_edges"),
        when(expr(s"CAST(m2 AS $dec) * sj2 - sj * sj = 0"),
          lit(null).cast("double"))
          .otherwise(round(
            expr(s"CAST(CAST(m2 AS $dec) * sjk - sj * sj AS DOUBLE)") /
              expr(s"CAST(CAST(m2 AS $dec) * sj2 - sj * sj AS DOUBLE)"), 4))
          .as("assortativity"))
  }

  /** Synchronous label propagation (Raghavan 2007, derandomized) — the
    * near-linear community detector: every node starts as its own label;
    * each round every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label (the derandomization —
    * reference LPA breaks ties randomly; a deterministic total order
    * makes the result replayable bit-for-bit). Fixed `iters` synchronous
    * rounds (the streaming-friendly contract: no convergence test, no
    * oscillation detection — callers pick iters ≈ diameter of the
    * communities they care about). Returns (node, community).
    *
    * Scale shape: the symmetrized edge set is cached ONCE, partitioned by
    * src; each round is one keyed join (edges × labels), one (dst, label)
    * count aggregation, and one per-node argmin of the exact
    * (−count, label) struct — the PageRank superstep class. Labels are
    * localCheckpointed per round (lineage truncation); every node
    * appears as a dst in the symmetric edge set, so no
    * isolated-node/coalesce leg is needed. Consume the result inside a Scope. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 50, "labelPropagation: iters in [1, 50]")
    val dirE = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val e = Scope.persist(
      symmetrized(dirE)
        .distinct()
        .repartition(col("src")))
    var labels = Scope.checkpoint(e.select(col("src").as("node"), col("src").as("lbl"))
      .distinct(), eager = true)
    var t = 0
    while (t < iters) {
      val next = e
        .join(labels.select(col("node").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl"))).as("m"))
        .select(col("node"), col("m.lbl").as("lbl"))
      val old = labels
      labels = Scope.checkpoint(next, eager = true)
      Scope.release(old)
      t += 1
    }
    labels.select(col("node"), col("lbl").as("community"))
  }
}
