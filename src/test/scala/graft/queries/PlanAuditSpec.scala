package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.SparkSpec

/** Plan audits: the 100 TB posture is a property of the PHYSICAL PLAN, not
  * the row counts — these specs pin the plans we designed for (broadcast
  * dimensions, filter pushdown to the parquet scan, column pruning,
  * whole-stage codegen) so a refactor that silently degrades one fails CI,
  * not the next scale-up. Runs against sf0.001 (plan shape is scale-free). */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes its re-planned stages
    df.queryExecution.executedPlan
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case w: WholeStageCodegenExec => w +: flatten(w.child)
    case other => other +: other.children.flatMap(flatten)
  }

  private def planOf(name: String): SparkPlan =
    executedPlan(graft.SparkEntry.queries(name)(spark, dir))

  test("d01: dimension joins broadcast, never sort-merge") {
    val nodes = flatten(planOf("d01_join_filter"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "nation/region must broadcast")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join for tiny dimensions")
  }

  test("q01: column pruning reaches the lineitem scan") {
    val scans = flatten(planOf("q01_lineitem_agg")).collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    val needed = Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount")
    assert(readCols == needed,
      s"scan must read exactly the aggregation inputs, got $readCols")
  }

  test("d02: the user_id predicate pushes down to the events scan") {
    val scans = flatten(planOf("d02_ordered_history")).collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("user_id"), s"PushedFilters was: $pushed")
  }

  test("x13: the query side broadcasts; the corpus is never shuffled pre-score") {
    val nodes = flatten(planOf("x13_cosine_topk"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "20-query set must broadcast against the corpus scan")
  }

  test("d18: the latest-id set broadcasts into the checks join") {
    val nodes = flatten(planOf("d18_csv_sample"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]))
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("q01: the aggregation pipeline stays inside whole-stage codegen") {
    val nodes = flatten(planOf("q01_lineitem_agg"))
    assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]))
  }

  test("headline kernel queries keep codegen spans (no interpreted fallback)") {
    for (q <- Seq("x03_quality_score", "x07_minhash_neardup", "x09_ngram_jaccard")) {
      val nodes = flatten(planOf(q))
      assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]), q)
    }
  }

  test("x27: chunking is a pure projection — no exchange anywhere") {
    // chunk explode rides the document scan; a shuffle appearing here means
    // someone broke the narrow-only contract
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x27_doc_chunks"))
    // the query's orderBy adds a range-partitioning exchange for output
    // ordering; the CHUNKING subplan itself must be exchange-free — strip
    // the final sort's exchange by counting: exactly the one ordering
    // exchange is allowed
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size <= 1, s"chunking must not shuffle, saw ${shuffles.size}")
  }

  test("x26: LM scoring shuffles longs, never token strings; no interpreted HOFs") {
    val nodes = flatten(planOf("x26_ngram_lm_score"))
    assert(!nodes.exists(_.toString.contains("ArrayTransform")),
      "bigram construction must not use interpreted higher-order functions")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val stringShuffles = nodes.collect {
      case s: ShuffleExchangeLike if s.schema.fields.exists(
        f => (f.name == "b" || f.name == "w") &&
          f.dataType == org.apache.spark.sql.types.StringType) => s
    }
    assert(stringShuffles.isEmpty,
      "count/scoring exchanges must carry hashed keys, not token strings")
  }

  test("x14: the LSH candidate join moves only (id, sketch) longs") {
    val nodes = flatten(planOf("x14_cosine_lsh_topk"))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val vecShuffles = (nodes.collect { case s: ShuffleExchangeLike => s } ++
      nodes.collect { case b: BroadcastExchangeLike => b }).filter(
      _.schema.fields.exists(f => f.name == "embedding" &&
        f.dataType.typeName == "array"))
    // vectors may travel ONLY in the tiny broadcast query set for the final
    // verify join — never through a shuffle of candidate rows
    assert(!vecShuffles.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "corpus vectors must not shuffle through the candidate join")
  }

  test("d21: the as-of join is join-free — tagged union + window, no range join op") {
    // the whole point of the tagged-union construction: no join operator of
    // ANY kind appears (a BETWEEN-style formulation would plan a
    // BroadcastNestedLoop/cartesian that melts at scale)
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val nodes = flatten(planOf("d21_asof_join"))
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
      "as-of must compile to union+window, not a join operator")
  }

  test("d22: the interval join is a broadcast EQUI-join, never a nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nodes = flatten(planOf("d22_range_join"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "bucketized intervals must broadcast")
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]),
      "bucket keys must make the range join an equi-join")
  }

  test("d34: nearest as-of shares d21's join-free shape — one keyed exchange, two sorts") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("d34_asof_nearest"))
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
      "nearest as-of must compile to union+two-windows, not a join operator")
    // the forward carry must NOT cost a second keyed exchange: both window
    // sort orders reuse the user_id partitioning (one keyed + one range
    // exchange for the output ordering + AQE coalesce artifacts at most)
    val keyed = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(keyed.size <= 3, s"nearest as-of re-shuffled: ${keyed.size} exchanges")
  }

  test("x75: centroid drift shuffles the (label, dim) grid, never raw vectors; counts broadcast") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x75_embedding_drift"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "label-count frames must broadcast into the drift join")
    val vecShuffles = nodes.collect {
      case s: ShuffleExchangeLike if s.schema.fields.exists(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) => s
    }
    // only label-keyed CENTROID arrays (tens of rows) may move — the raw
    // embedding column must be exploded to scalars before any exchange
    assert(vecShuffles.forall(_.schema.fieldNames.contains("__ce")),
      "raw embedding vectors must not shuffle")
  }

  test("x74: format detection is one scan, one aggregation, no shuffle of row data") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x74_format_detect"))
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // partial+final agg moves only the count matrix (single row): every
    // exchange must carry the aggregate schema, never the synthesized text
    assert(shuffles.forall(_.schema.fieldNames.forall(f => !f.startsWith("cp") ||
      f.contains("__"))), "row data must not shuffle")
    assert(shuffles.size <= 2, s"format vote must be one agg, saw ${shuffles.size} exchanges")
  }

  test("d35: inter-arrival stats reuse the user-keyed exchange for lag + aggregation") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = flatten(planOf("d35_interarrival"))
      .collect { case s: ShuffleExchangeLike => s }
    // one user-keyed exchange for lag(), one for the per-type aggregation,
    // one range exchange for the output ordering
    assert(shuffles.size <= 3, s"inter-arrival re-shuffled: ${shuffles.size}")
  }

  test("x78: the bloom prune sits below the semi-join, on the fact side") {
    val nodes = flatten(planOf("x78_bloom_semi_join"))
    val text = nodes.mkString("\n")
    assert(text.contains("might_contain"),
      "the constant bloom filter must prune the fact scan")
  }

  test("d36: built-in session_window costs one keyed exchange, like the custom d20") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = flatten(planOf("d36_session_window"))
      .collect { case s: ShuffleExchangeLike => s }
    // session merge + aggregation ride the user_id partitioning; one keyed
    // exchange plus the output-ordering range exchange
    assert(shuffles.size <= 2, s"session_window re-shuffled: ${shuffles.size}")
  }

  test("d20: sessionization costs one keyed exchange (plus the output ordering)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = flatten(planOf("d20_sessionize"))
      .collect { case s: ShuffleExchangeLike => s }
    // lag + running sum + summary agg all reuse the user_id partitioning:
    // one keyed exchange, one range exchange for the final ORDER BY
    assert(shuffles.size <= 2, s"sessionize must not re-shuffle, saw ${shuffles.size}")
  }

  test("x34: shuffle positions never funnel through a single partition") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val single = flatten(planOf("x34_global_shuffle"))
      .collect { case s: ShuffleExchangeLike if s.outputPartitioning == SinglePartition => s }
    assert(single.isEmpty,
      "the global position must come from the two-phase prefix count, not a global window")
  }

  test("x33: the text explodes exactly once (df/N derived, not re-exploded)") {
    import org.apache.spark.sql.execution.GenerateExec
    val generates = flatten(planOf("x33_tfidf_topk"))
      .collect { case g: GenerateExec => g }
    assert(generates.size == 1,
      s"tf-idf must run one explode pass over text, saw ${generates.size}")
  }

  test("x39: quantization is explode + ONE keyed exchange, no interpreted HOFs") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x39_quantize_int8"))
    assert(!nodes.exists(_.toString.contains("ArrayTransform")),
      "per-dim math must ride posexplode, not interpreted transform()")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // one exchange for the max() window keyed by vec_id + the output sort
    assert(shuffles.size <= 2, s"quantize must not re-shuffle, saw ${shuffles.size}")
  }

  test("x15: ONE equi-join scores inline — no nested loop, no candidate join-back") {
    // the cell-blocked pair miner's contract: the (pass, cell) self-join is
    // the ONLY join operator (the exact cosine runs inside its condition —
    // a join-back design would re-join the quadratic candidate set twice),
    // cell assignment rides a single explode projection, and nothing plans
    // a nested loop or cartesian
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nodes = flatten(planOf("x15_embedding_neardup"))
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]),
      "cell keys must make the pair mining an equi-join")
    assert(nodes.count(_.isInstanceOf[BaseJoinExec]) == 1,
      "exactly one join: the self-join with inline scoring")
    // one explode per self-join side (Spark plans each side independently);
    // a join-back design would add a third scan with no explode plus two
    // more joins — caught by the join count above
    assert(nodes.count(_.isInstanceOf[GenerateExec]) <= 2,
      "pass-cell assignment must ride the per-side explode projections")
  }

  test("x45: window text never shuffles — frequency exchanges carry 8-byte hashes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nodes = flatten(planOf("x45_substring_spans"))
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]),
      "the dup-window flag must be an equi-semi-join on the window hash")
    val stringShuffles = nodes.collect {
      case s: ShuffleExchangeLike if s.schema.fields.exists(
        _.dataType == org.apache.spark.sql.types.StringType) => s
    }
    assert(stringShuffles.isEmpty,
      "window/token strings must never leave the scan projection")
  }

  test("x46: the sketch broadcasts into the estimate join; state stays bounded") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x46_cms_heavy_hitters"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the d×w sketch is bounded and must broadcast, never shuffle-join")
    // The only string-typed exchange allowed is the candidate-token set
    // (distinct tokens of the fixture); the sketch-build exchange must
    // carry (row, cell, cnt) only.
    val sketchShuffles = nodes.collect {
      case s: ShuffleExchangeLike if s.schema.fieldNames.contains("cell") => s
    }
    assert(sketchShuffles.forall(!_.schema.fields.exists(
      _.dataType == org.apache.spark.sql.types.StringType)),
      "sketch construction must aggregate hashes, not token strings")
  }

  test("x48: the NTILE rank never funnels through a single partition") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the corpus count's final exchange carries one partial-count row per
    // input partition — a keyless aggregate, not a row funnel
    def keylessPartial(p: SparkPlan): Boolean =
      flatten(p).find(!_.isInstanceOf[WholeStageCodegenExec]).exists {
        case h: HashAggregateExec => h.groupingExpressions.isEmpty
        case _ => false
      }
    val single = flatten(planOf("x48_curriculum_buckets")).collect {
      case s: ShuffleExchangeLike
          if s.outputPartitioning == SinglePartition && !keylessPartial(s.child) => s
    }
    assert(single.isEmpty,
      "bucket assignment must use the two-phase rank, not a global window")
  }

  test("x55: fingerprint joins move 8-byte longs; no nested loop anywhere") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nodes = flatten(planOf("x55_winnowing_pairs"))
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]),
      "pairing must be an equi-join on the fingerprint")
    val stringShuffles = nodes.collect {
      case s: ShuffleExchangeLike if s.schema.fields.exists(
        _.dataType == org.apache.spark.sql.types.StringType) => s
    }
    assert(stringShuffles.isEmpty, "gram text must never leave the scan projection")
  }

  test("x57: vocab/total sides broadcast into the KL grid; no nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nodes = flatten(planOf("x57_source_divergence"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the bounded vocab / scalar totals must broadcast")
    // the deliberate source × vocab cross join IS a BroadcastNestedLoop in
    // Spark's plan for a broadcast cross — assert no CARTESIAN (shuffled
    // quadratic) product instead
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "grid construction must broadcast, never shuffle a cartesian")
  }

  test("x16: probes broadcast into the assignment scan; corpus never sort-merges") {
    // the serving-side contract of the IVF rework: cell assignment is a
    // projection riding the corpus scan (centroids are a plan constant, so
    // no exchange feeds it) and the probe side — nProbe cells per query —
    // broadcasts; the big side must never shuffle for the join
    val nodes = flatten(planOf("x16_cosine_ivf_topk"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "probe set must broadcast against the assigned corpus")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "corpus-side sort-merge join defeats the IVF design")
    assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]),
      "nearest-centroid assignment must stay inside codegen")
  }

  test("x58: the Gopher report is a pure projection — only the ordering exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x58_gopher_rules"))
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size <= 1,
      s"rule evaluation must ride the scan; saw ${shuffles.size} exchanges")
  }

  test("x59: the decay anchor is a 1-row broadcast; the corpus never joins by shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x59_time_decay_sample"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "max-ts anchor must broadcast")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size <= 2, // anchor aggregation + output ordering
      s"accept test must ride the scan; saw ${shuffles.size} exchanges")
  }

  test("x61: both window sums reuse ONE source-keyed exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x61_length_histogram"))
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // bucket aggregation + shared window partitioning + output ordering
    assert(shuffles.size <= 3,
      s"the two windows must share the source partitioning; saw ${shuffles.size}")
  }

  test("x63: the vocabulary broadcasts; the corpus scan never shuffles for the probe") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x63_oov_rate"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "top-k vocab array must broadcast")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
    // term aggregation + vocab array collect + output ordering
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size <= 3, s"saw ${shuffles.size} exchanges")
  }

  test("d30: all three funnel stages collapse onto ONE user-keyed window exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = flatten(planOf("d30_event_funnel"))
    // three Window NODES are expected (each stage reads the previous one's
    // column), but they must all reuse the first stage's user-id hash
    // partitioning — the scale property is the EXCHANGE count:
    // one window partitioning + the distinct + the final 1-row aggregation
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.size == 3, s"expected the three stage windows, saw ${windows.size}")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size <= 3, s"saw ${shuffles.size} exchanges")
  }

  test("x67: the rate table folds into the scan as a literal predicate — no join at all") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val nodes = flatten(planOf("x67_temperature_mixture"))
    // the driver-derived rates become a when-chain literal: the corpus side
    // is scan + filter, with only the output-ordering exchange
    assert(!nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[BroadcastHashJoinExec] || n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "the accept test must not join")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size <= 1, s"saw ${shuffles.size} exchanges")
  }

  test("d31: the cohort triangle costs two user-keyed exchanges plus the grid aggregation") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("d31_retention_cohorts"))
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // (user, week) distinct + cohort min + join-back reuse + grid agg + order
    assert(shuffles.size <= 5, s"saw ${shuffles.size} exchanges")
    assert(!nodes.exists(_.toString.contains("CartesianProduct")))
  }

  test("d32: the 7-day fan-out rides the scan; the bound is a 1-row broadcast") {
    val nodes = flatten(planOf("d32_rolling_actives"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the max-day bound must broadcast")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "daily/rolling recombination must broadcast, never sort-merge")
  }

  test("x69: the manifest adds ONE aggregation exchange over the shard assignment") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = flatten(planOf("x69_shard_manifest"))
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // x22's ranged prefix-sum layout + the shard groupBy + output ordering
    assert(shuffles.size <= 4, s"saw ${shuffles.size} exchanges")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("x70: the batch's banded keys broadcast — the index side never shuffles for the join") {
    // audit the operator directly: the query's cache wrapper would hide the
    // join inside an InMemoryRelation
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = graft.operators.Dedup.buildMinhashIndex(
      docs.where(col("doc_id") % 2 === 0), "text", "doc_id")
    val out = graft.operators.Dedup.incrementalNearDuplicates(
      docs.where(col("doc_id") % 2 === 1), index, "text", "doc_id", threshold = 0.5)
    val nodes = flatten(executedPlan(out))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "batch bands must broadcast into the index join")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a sort-merge candidate join would shuffle the corpus side")
  }

  test("x64: the pair grid is a broadcast self-join of a plan-constant aggregate") {
    val nodes = flatten(planOf("x64_centroid_matrix"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "centroid table must broadcast for the pair grid")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "labels × dims rows must never sort-merge")
  }

  test("x83: the reservoir window is group-limited BEFORE the exchange") {
    // WindowGroupLimit's partial phase trims each partition to its local
    // top-k, so the shuffle moves ≤ k rows per (category × partition) —
    // the property that makes the sampler's exchange bounded at any scale
    val plan = planOf("x83_weighted_reservoir").toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), "no partial group-limit before the exchange")
  }

  test("x84: HRW assignment is a pure projection — no exchange, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Sharding.hrwShard(docs, "doc_id", nShards = 16)
    val nodes = flatten(executedPlan(out))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "shard assignment must not shuffle")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("x86: prefix join moves longs through keyed joins, never shingle text") {
    val nodes = flatten(planOf("x86_prefix_jaccard"))
    // every non-broadcast join is keyed (tok/id equi-joins) — a nested
    // loop anywhere would mean the prefix filter degenerated to all-pairs
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "prefix join must stay an equi-join")
    // the text column dies at the scan: only the scan stage may reference it
    val postScan = nodes.filterNot(n => n.isInstanceOf[FileSourceScanExec] ||
      n.nodeName.contains("InMemoryTableScan"))
    val joinNodes = postScan.filter(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.ShuffledHashJoinExec])
    joinNodes.foreach { j =>
      assert(!j.output.exists(_.name == "text"),
        s"shingle/text column travels through a join: ${j.output.map(_.name)}")
    }
  }

  test("x151: containment join stays an equi-join on hashed tokens; text dies at the scan") {
    val nodes = flatten(planOf("x151_containment_join"))
    // a nested loop anywhere would mean the asymmetric prefix filter
    // degenerated to ordered all-pairs
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "containment join must stay an equi-join")
    val postScan = nodes.filterNot(n => n.isInstanceOf[FileSourceScanExec] ||
      n.nodeName.contains("InMemoryTableScan"))
    postScan.filter(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]).foreach { j =>
      assert(!j.output.exists(_.name == "text"),
        s"shingle/text column travels through a join: ${j.output.map(_.name)}")
    }
  }

  test("d37: raw events collapse to user×day in the FIRST (partial) aggregation") {
    // The gaps-and-islands window and both follow-up aggs must see only
    // the user×day frame — a partial HashAggregate below the first
    // exchange is what keeps every shuffled row 12 bytes at any scale.
    val nodes = flatten(planOf("d37_streaks"))
    val aggs = nodes.filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.exists(_.toString.contains("partial")),
      "first aggregation must map-side combine before its exchange")
    // the window consumes only (user_id, d): no event columns survive
    val windows = nodes.filter(_.nodeName.contains("Window"))
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val names = w.output.map(_.name).toSet
      assert(!names.exists(n => n.contains("event_type") || n.contains("value")),
        s"window sees unpruned event columns: $names")
    }
  }

  test("d38: per-type medians broadcast back — the fact side never re-shuffles for a join") {
    val nodes = flatten(planOf("d38_mad_outliers"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the tiny per-type stats must broadcast")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join against metadata-sized per-type stats")
  }

  test("x93: the MG summary aggregates partially below the exchange — bounded partial state") {
    // the whole point of graft_mg_topk vs exact counting: the map-side
    // partial already holds ≤ capacity entries, so the exchange moves a
    // constant per (group × partition), never the vocabulary
    val plan = planOf("x93_mg_heavy_hitters").toString
    assert(plan.contains("graft_mg_topk"), plan.take(2000))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      "TypedImperativeAggregate must run in an object aggregate")
    assert(plan.contains("partial_"),
      "no partial MG aggregation below the exchange")
  }

  test("x96: the derived query-term profile broadcasts; no sort-merge join anywhere") {
    // audits the operator directly (the x96 queries-map entry returns a
    // cached frame whose executed plan is an InMemoryTableScan, hiding
    // the retrieval plan from this audit)
    val out = graft.operators.Vocabulary.moreLikeThis(
      graft.queries.Tables.documents(spark, dir), "text", "doc_id",
      queryDocId = 7L, nTerms = 6, k = 15)
    val nodes = flatten(executedPlan(out))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the metadata-sized term profile must broadcast into the postings")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "MLT must never sort-merge against its own term profile")
  }

  test("x96: the corpus tokenizes once — one cached token-array projection feeds " +
    "profile, df lookup and BM25 core") {
    val out = graft.operators.Vocabulary.moreLikeThis(
      graft.queries.Tables.documents(spark, dir), "text", "doc_id",
      queryDocId = 7L, nTerms = 6, k = 15)
    val plan = executedPlan(out)
    // every corpus consumer must read the cache, not re-run the split
    // regex: flatten() does not descend through the cache boundary
    // (InMemoryTableScan has no children), so any FileSourceScan it finds
    // is a consumer that bypassed the token-array cache
    val uncachedScans = flatten(plan).collect { case s: FileSourceScanExec => s }
    assert(uncachedScans.isEmpty,
      s"corpus consumers bypassed the token-array cache: " +
        uncachedScans.map(_.tableIdentifier).mkString(", "))
    assert(plan.toString.contains("InMemoryTableScan"),
      "the token-array projection must be cache-backed")
  }

  test("x82: the checked KMV surface is estimate-only — no exact-distinct " +
    "aggregation, no window/sort on the hash stream") {
    val plan = planOf("x82_kmv_distinct").toString
    assert(plan.contains("graft_kmv_agg"), plan.take(2000))
    assert(!plan.toLowerCase.contains("count(distinct"),
      "estimate-only x82 must not carry the exact-distinct audit column")
    assert(!plan.contains("Window"),
      "no window over the hash stream — the sketch aggregate IS the state")
  }

  test("x100: the flagship composes with exactly three documented caches and " +
    "no sort-merge join — every stage boundary between them is filter/projection/broadcast") {
    import org.apache.spark.sql.functions._
    val toksRaw = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    val lined = graft.queries.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toksRaw.as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"), col("source"), concat_ws("\n",
        transform(
          sequence(lit(0L), ceil(size(col("t")).cast("double") / 8.0).cast("long") - 1),
          i => concat(
            concat_ws(" ", slice(col("t"), (i * 8 + 1).cast("int"), lit(8))),
            when(i % 3 =!= 0, lit(".")).otherwise(lit("")))))
        .as("text"))
    val out = graft.operators.TrainingDataPipeline.curationFlagship(
      lined, "text", "doc_id", "source",
      benchmark = graft.queries.Tables.documents(spark, dir).where(col("doc_id") < 20),
      badPhrases = Seq("customer line", "spark group"),
      mixRates = Map("src0" -> 0.5, "src1" -> 0.5, "src2" -> 0.25),
      nShards = 8)
    val nodes = this.flatten(executedPlan(out))
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "the decontamination gram set and the HRW manifest must never sort-merge")
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the benchmark gram set must broadcast into the corpus scan")
    // exactly the three documented caches (C4 survivors — ParagraphDedup
    // reads its input twice by construction — + paragraph-dedup survivors
    // + final mixture corpus) appear as cache boundaries; distinct cached
    // RELATIONS, not scan count — the funnel's union legs re-read each
    // cache several times, which is the point of caching them
    val cachedRelations = nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        // the CachedRDDBuilder is shared by every scan of one cached plan,
        // so its identity distinguishes the two same-schema caches
        System.identityHashCode(s.relation.cacheBuilder)
    }.toSet
    assert(cachedRelations.size == 3,
      s"expected exactly 3 documented cache boundaries, got ${cachedRelations.size}")
  }

  test("x97: each coreset round evaluates exactly ONE new kernel arm above the cache boundary") {
    graft.operators.Similarity.capturePlans = true
    val plans =
      try {
        graft.SparkEntry.queries("x97_kcenter_coreset")(spark, dir).collect()
        graft.operators.Similarity.lastRoundPlans.toList
      } finally graft.operators.Similarity.capturePlans = false
    assert(plans.size >= 2, s"expected ≥ 2 recorded rounds, got ${plans.size}")
    // round 1 computes the seed arm from the source; every later round must
    // read the previous round's cache and add exactly one graft_l2sq arm
    plans.tail.foreach { p =>
      val aboveCache = p.split("InMemoryTableScan").head
      val arms = "graft_l2sq".r.findAllIn(aboveCache).size
      assert(p.contains("InMemoryTableScan"),
        s"round must read the persisted previous round:\n${p.take(1500)}")
      assert(arms == 1,
        s"expected exactly 1 new kernel arm above the cache, got $arms:\n${aboveCache.take(1500)}")
    }
  }

  test("x101: PQ encode is a pure projection — no shuffle, codegen end to end") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // audit the operator itself (the query wrapper adds a presentation
    // sort): codebooks are plan literals, assignment is the fused kernel
    // per block — nothing may move
    val emb = graft.queries.Tables.embeddings(spark, dir)
    val nodes = flatten(executedPlan(
      graft.operators.Similarity.pqEncode(emb, "vec_id", "embedding")))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "PQ encoding must not shuffle — codebooks ride the plan")
    assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]),
      "the per-block argmin kernels must stay inside whole-stage codegen")
  }

  test("x102: ADC top-k trims per-query ranks before the exchange, scans codes only") {
    val plan = planOf("x102_pq_adc_topk").toString
    assert(plan.contains("WindowGroupLimit"),
      "the per-query top-k must be group-limited below the rank exchange")
    assert(!plan.contains("graft_cosine") && !plan.contains("graft_dot"),
      "ADC scores come from LUT lookups over codes — raw vectors are never re-scored")
  }

  test("x104: HTML extraction is a pure projection — no shuffle, no UDF") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = graft.queries.Tables.documents(spark, dir)
    val nodes = flatten(executedPlan(docs.select(
      org.apache.spark.sql.functions.col("doc_id"),
      graft.operators.TextExtraction.htmlToText(
        org.apache.spark.sql.functions.col("text")))))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the highest-volume stage of the pipeline must never move a row")
    assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]),
      "the regex/replace chain must stay inside whole-stage codegen")
    assert(!nodes.mkString.contains("BatchEvalPython") &&
      !nodes.mkString.contains("ScalaUDF"), "no UDF on the extraction path")
  }

  test("x105: the threshold sweep scans the corpus ONCE — conditional sums, no per-threshold rescan") {
    val nodes = flatten(planOf("x105_pr_curve"))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1,
      s"expected one documents scan for all 10 thresholds, got ${scans.size}")
  }

  test("x109/x110: the gram fit is ONE bounded-state scan; scoring is a pure codegen projection") {
    // the training side: a single embeddings scan feeding a partial
    // graft_gram_agg (O(dim²) state) below the exchange — X'X never
    // explodes rows and nothing row-sized reaches the driver
    import org.apache.spark.sql.functions.{call_function, col, lit}
    val emb = graft.queries.Tables.embeddings(spark, dir)
    val fit = executedPlan(emb.agg(
      call_function("graft_gram_agg", col("embedding"), lit(0.0), lit(64))))
    val fitStr = fit.toString
    assert(fitStr.contains("graft_gram_agg"), fitStr.take(1500))
    assert(fitStr.contains("partial_"),
      "no partial gram aggregation below the exchange")
    assert(flatten(fit).collect { case f: FileSourceScanExec => f }.size == 1,
      "the fit must read the corpus exactly once")
    // the scoring side: broadcast-as-literal coefficients, no shuffle, no
    // UDF — whole-stage codegen end to end
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val score = flatten(executedPlan(
      graft.operators.Linalg.pcaProject(emb, "embedding", 64, Seq("vec_id"))))
    assert(!score.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "projection scoring must never move a row")
    assert(score.exists(_.isInstanceOf[WholeStageCodegenExec]),
      "graft_dot_fd scoring must stay inside whole-stage codegen")
    assert(!score.mkString.contains("ScalaUDF"), "no UDF on the scoring path")
  }

  test("x115: every rank table joins back as a broadcast; no sort-merge join") {
    // rank-normalization joins tiny distinct-value tables back to the
    // corpus — all three must broadcast (a sort-merge here would resort
    // the corpus per signal). Since the e25581f two-phase-rank epilogue
    // the fused frame is CACHED, so the broadcasts live inside the
    // InMemoryRelation's cached plan — descend through it (the x116
    // technique) instead of auditing only the outer read.
    def deepFlatten(p: SparkPlan): Seq[SparkPlan] = {
      val here = flatten(p)
      here ++ here.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          deepFlatten(s.relation.cachedPlan)
      }.flatten
    }
    val nodes = deepFlatten(planOf("x115_signal_fusion"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]))
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "value->rank maps must broadcast, never sort-merge")
  }

  test("x116: the basket self-join reuses ONE cached projection (no second scan)") {
    // the operator materializes the returned frame, so audit the operator
    // directly: both join sides must read the same persisted (basket,
    // item) projection — InMemoryTableScans, not two parquet scans
    val li = graft.queries.Tables.lineitem(spark, dir)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
    val out = graft.operators.MarketBasket.associationRules(
      li, "l_orderkey", "l_partkey", minPairCount = 2L, topK = 10)
    val nodes = flatten(executedPlan(out))
    val parquetScans = nodes.collect { case f: FileSourceScanExec => f }
    assert(parquetScans.isEmpty,
      s"self-join sides must read the cached projection, saw ${parquetScans.size} file scans")
    assert(nodes.mkString.contains("InMemoryTableScan"))
  }

  test("x120: the kappa algebra reads only the cached contingency — zero file scans") {
    // five downstream aggregates (margins, Σrow·col, totals, classes) all
    // consume the persisted classes²-row cells frame; the corpus parquet
    // is scanned exactly once, during the cache build
    import org.apache.spark.sql.functions.{col, when}
    val d = graft.queries.Tables.documents(spark, dir)
    val out = graft.operators.Evaluation.agreementReport(d,
      when(col("n_chars") < 216, "s").otherwise("l"),
      when(col("n_chars") < 379, "s").otherwise("l"))
    val nodes = flatten(executedPlan(out))
    assert(nodes.collect { case f: FileSourceScanExec => f }.isEmpty,
      "report plan must read the cached contingency, not re-scan documents")
    assert(nodes.mkString.contains("InMemoryTableScan"))
  }

  test("x121: raw events collapse to series×day in the FIRST (partial) aggregation; " +
    "one scan") {
    val nodes = flatten(planOf("x121_seasonal_anomaly"))
    assert(nodes.collect { case f: FileSourceScanExec => f }.size == 1,
      "the event stream is scanned exactly once")
    val aggs = nodes.filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.exists(_.toString.contains("partial")),
      "daily counting must map-side combine before its exchange")
    // every order-statistic window runs on the bounded daily frame: no
    // raw event columns survive into any window
    val windows = nodes.filter(_.nodeName.contains("Window"))
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val names = w.output.map(_.name).toSet
      assert(!names.exists(n => n.contains("user_id") || n.contains("value")),
        s"window sees unpruned event columns: $names")
    }
  }

  test("x123: the drift report is SINGLE-PASS — one corpus scan, row expansion " +
    "after the aggregation") {
    val nodes = flatten(planOf("x123_drift_tvd"))
    assert(nodes.collect { case f: FileSourceScanExec => f }.size == 1,
      "the naive totals/per-bin/total-row formulation scans 4x; this must scan once")
    // the __total duplication happens on already-aggregated bin rows:
    // (see also x125 below for the same single-scan discipline)
    // a HashAggregate (the corpus collapse) must sit BELOW the Generate
    // (flatten lists parents first, so "below" = after it in the list)
    val expandIdx = nodes.indexWhere(_.nodeName.contains("Generate"))
    assert(expandIdx >= 0, "explode-based __total expansion missing")
    assert(nodes.drop(expandIdx + 1).exists(_.nodeName.contains("HashAggregate")),
      "row expansion must happen AFTER the corpus aggregation, not on raw rows")
  }

  test("x125: the waterfill scans the corpus ONCE; all window algebra runs on " +
    "the per-source frame") {
    val nodes = flatten(planOf("x125_mixture_waterfill"))
    assert(nodes.collect { case f: FileSourceScanExec => f }.size == 1,
      "one documents scan feeds the per-source aggregation")
    // every window consumes only per-source columns — no text/doc columns
    val windows = nodes.filter(_.nodeName.contains("Window"))
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val names = w.output.map(_.name).toSet
      assert(!names.exists(n => n.contains("text") || n.contains("doc_id")),
        s"window sees unpruned corpus columns: $names")
    }
    val aggs = nodes.filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.exists(_.toString.contains("partial")),
      "per-source sizing must map-side combine before its exchange")
  }

  test("x134: all three monitors read ONE cached daily frame — zero file scans; " +
    "the per-series MASE row broadcasts") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Seasonal.seriesHealthReport(
      graft.queries.Tables.events(spark, dir), col("event_type"), col("ts"))
    val nodes = flatten(executedPlan(out))
    assert(nodes.collect { case f: FileSourceScanExec => f }.isEmpty,
      "every monitor must read the cached (series × day) frame, not re-scan events")
    assert(nodes.mkString.contains("InMemoryTableScan"))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the |series|-row MASE table must broadcast onto the daily grain")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("x135: the corpus labeling is scanned, never shuffled — broadcast " +
    "endpoint lookup + broadcast canonical remap") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import spark.implicits._
    // auto-broadcast OFF: any join not explicitly hinted would surface as
    // a sort-merge/shuffle join — so the assertion pins the HINTS, not a
    // small-input accident
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a valid canonical-min labeling (components = residue classes mod 50)
      val labels = (1L to 500L).map(i => (i, (i - 1) % 50 + 1))
        .toDF("node", "comp").localCheckpoint(true)
      val batch = Seq((3L, 903L), (51L, 904L), (905L, 906L)).toDF("src", "dst")
      val nodes = flatten(executedPlan(
        graft.operators.Graph.componentsIncremental(labels, batch, "src", "dst")))
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "the final update plan must be shuffle-free: the labeling streams " +
          "through broadcast probes only")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
      assert(nodes.count(_.isInstanceOf[BroadcastExchangeLike]) >= 2,
        "endpoint-hit and canonical-remap tables must broadcast")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("x137: the wedge is a keyed join on the shared neighbor — no " +
    "cartesian, weights attached before the pair aggregation") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val nodes = flatten(planOf("x137_link_prediction"))
    assert(!nodes.mkString.contains("CartesianProduct"),
      "pair scoring must ride the r-keyed wedge join, never all-pairs")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("x138: the composed recommendation plan stays keyed — no cartesian, " +
    "no nested-loop join anywhere in wedge → contribute → novelty → rank") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val nodes = flatten(planOf("x138_recommendations"))
    assert(!nodes.mkString.contains("CartesianProduct"))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("x139: the corpus is scanned ONCE — every window and the TVD algebra " +
    "run above the (quasi × value) cell aggregation") {
    import org.apache.spark.sql.functions.{col, expr}
    val out = graft.operators.TextAnalysis.tClosenessAudit(
      graft.queries.Tables.documents(spark, dir),
      quasi = Seq("source" -> col("source"),
        "len_bucket" -> expr("n_chars div 100")),
      sensitive = col("lang"), tPpm = 200000)
    val scans = flatten(executedPlan(out)).collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1,
      s"one documents scan expected, saw ${scans.size} — margins/totals/" +
        "group sizes must derive from the cell frame, not re-read the corpus")
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("source", "n_chars", "lang"),
      "column pruning must reach the scan")
  }

  test("x140: draw→token lookup is a broadcast EQUI-join on the bucket id — " +
    "never a nested-loop range join over the vocabulary") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // audit the operator plan itself — the query entry caches its output,
    // so planOf would only see the InMemoryTableScan
    val out = graft.operators.Vocabulary.negativeSamples(
      graft.queries.Tables.documents(spark, dir), "text", "doc_id", k = 5)
    val nodes = flatten(executedPlan(out))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the bucketed cumulative table must broadcast")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a range-predicate-only join would evaluate draws × vocab")
    assert(!nodes.mkString.contains("CartesianProduct"))
  }

  test("x141: the skew report reads ONLY the key column and ranks via a " +
    "distributed top-k, not a global sort") {
    val nodes = flatten(planOf("x141_skew_report"))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.forall(_.requiredSchema.fieldNames.toSet == Set("user_id")),
      s"column pruning must reach the events scan, got " +
        scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
    assert(nodes.mkString.contains("TakeOrdered"),
      "top keys must come from TakeOrderedAndProject (the window only " +
        "ranks the ≤ topK survivors)")
  }

  test("x143: one documents scan fans out every feature; the AUC window is " +
    "partitioned by feature, never global") {
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = flatten(planOf("x143_feature_auc"))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1,
      s"one corpus scan expected (features explode from one row), saw ${scans.size}")
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.count(_.partitionSpec.isEmpty) <= 1,
      "only the |features|-row separability rank may run unpartitioned; " +
        "the cumulative-rank window must partition by feature")
  }

  test("x145: the group stats broadcast back onto the corpus — the corpus " +
    "itself is never shuffled") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val nodes = flatten(planOf("x145_target_encoding"))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the |groups|-row stats frame must broadcast-hash-join")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("x155: KN statistics join on 8-byte hashes with the distinct-bigram " +
    "total broadcast — no token strings past the kernel, no cartesian") {
    val out = graft.operators.NgramLm.knBigramScore(
      graft.queries.Tables.documents(spark, dir), "text", "doc_id")
    val nodes = flatten(executedPlan(out))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the 1-row distinct-bigram total must broadcast")
    assert(!nodes.mkString.contains("CartesianProduct"),
      "btot must ride a broadcast, never a cartesian")
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.forall(_.requiredSchema.fieldNames.toSet ==
      Set("doc_id", "text")),
      "column pruning must reach the documents scan")
    // every join key is a long hash: the string tokens die inside the
    // codegen'd kernel, so no shuffle carries token text
    val shuffles = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.nonEmpty)
    assert(!shuffles.exists(_.child.output.exists(_.dataType ==
      org.apache.spark.sql.types.StringType)),
      "no exchange may move token strings — hashes only")
  }

  test("x156: textrank takes top-k distributed (TakeOrdered), builds ids by " +
    "pure hash projection (no vocab-wide window/sort), one documents scan") {
    import org.apache.spark.sql.execution.window.WindowExec
    val out = graft.operators.Vocabulary.textrankKeywords(
      graft.queries.Tables.documents(spark, dir), "text", "doc_id",
      iters = 2, topK = 20)
    val nodes = flatten(executedPlan(out))
    assert(nodes.mkString.contains("TakeOrdered"),
      "the keyword cut must be TakeOrderedAndProject, not a global sort")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "node ids are xxhash64 projections — a window would mean a " +
        "vocab-wide id sort crept back in")
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.forall(_.requiredSchema.fieldNames.toSet == Set("text")),
      s"only text is needed, got " +
        scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
  }

  test("x157: both retriever lists are rank-bounded before fusion; the probe " +
    "and query terms broadcast; the fused cut is TakeOrdered") {
    val docs = graft.queries.Tables.documents(spark, dir)
    val emb = graft.queries.Tables.embeddings(spark, dir)
    import org.apache.spark.sql.functions.{col, desc}
    val lex = graft.operators.Vocabulary.bm25TopK(docs, "text", "doc_id",
      Seq("q" -> "merge sort"), k = 100)
      .select(col("doc").as("doc_id"), col("rank"))
    val probe = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val sem = graft.operators.Similarity.bruteForceTopK(emb, probe,
      "vec_id", "embedding", "qid", "qvec", k = 100)
      .select(col("vec_id").as("doc_id"), col("rank"))
    val out = graft.operators.SignalFusion.rrfFuse(Seq(lex, sem),
      "doc_id", "rank", kRrf = 60, topK = 20)
    val nodes = flatten(executedPlan(out))
    assert(nodes.mkString.contains("TakeOrdered"),
      "the fused top-20 must be TakeOrderedAndProject, not a global sort")
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "query terms / probe vector must broadcast into the retrievers")
    assert(!nodes.mkString.contains("CartesianProduct"))
  }

  test("x158: the JL projection is ONE shuffle-free codegen scan — matrix " +
    "baked as literals, no exchange, no aggregation") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val out = graft.operators.Linalg.jlProject(
      graft.queries.Tables.embeddings(spark, dir), "embedding",
      dim = 64, outDim = 16, carry = Seq("vec_id", "label"))
    val nodes = flatten(executedPlan(out))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "a projection must not exchange")
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1)
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("vec_id", "label", "embedding"))
    assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]),
      "the dot kernels must live inside whole-stage codegen")
  }

  test("x159: the DBSCAN candidate generator is an EQUI-join on the cell " +
    "key — never a distance theta-join or cartesian") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val pts = graft.queries.Tables.embeddings(spark, dir)
      .selectExpr("vec_id AS id", "CAST(embedding[0] AS DOUBLE) AS x",
        "CAST(embedding[1] AS DOUBLE) AS y")
    val out = graft.operators.Clustering.gridDbscan(pts, "id", "x", "y",
      eps = 0.05, minPts = 3)
    val nodes = flatten(executedPlan(out))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a nested-loop join means the distance predicate leaked out of " +
        "the equi-join stage")
    assert(!nodes.mkString.contains("CartesianProduct"))
  }

  test("x160: the cap window partitions by cluster — never a global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val labels = spark.range(100).selectExpr("id", "id % 5 AS cluster")
    val nodes = flatten(executedPlan(
      graft.operators.Clustering.clusterCap(labels, "id", "cluster", cap = 3)))
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "the md5-rank window must partition by cluster")
  }

  test("x161: holt reads only (event_type, ts); the fold is an array " +
    "expression — no window, no join") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Seasonal.holtLinear(
      graft.queries.Tables.events(spark, dir), col("event_type"), col("ts"))
    val nodes = flatten(executedPlan(out))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.forall(_.requiredSchema.fieldNames.toSet ==
      Set("event_type", "ts")),
      s"column pruning must reach the events scan, got " +
        scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "the recurrence must be an aggregate() fold, not a window walk")
    assert(!nodes.mkString.contains("Join"), "no join in the smoothing path")
  }

  test("x162: the DP release is one pruned aggregation + a projection — " +
    "no join, no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val out = graft.operators.TextAnalysis.dpNoisyCounts(
      graft.queries.Tables.documents(spark, dir), col("source"), epsilon = 0.5)
    val nodes = flatten(executedPlan(out))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("source"))
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
    assert(!nodes.mkString.contains("Join"))
  }

  test("x163: skip-gram pairs tokenize the corpus once (cached projection), " +
    "read only text, and cut via TakeOrdered") {
    val out = graft.operators.Vocabulary.skipgramPairs(
      graft.queries.Tables.documents(spark, dir), "text", "doc_id", window = 2)
      .orderBy(org.apache.spark.sql.functions.desc("n"),
        org.apache.spark.sql.functions.col("center"),
        org.apache.spark.sql.functions.col("context"))
      .limit(500)
    val nodes = flatten(executedPlan(out))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size <= 1,
      s"the cached token projection must feed every offset branch, saw ${scans.size} scans")
    assert(scans.forall(_.requiredSchema.fieldNames.toSet == Set("text")))
    assert(nodes.mkString.contains("TakeOrdered"),
      "the top-500 cut must be TakeOrderedAndProject")
  }

  test("x164: the signed-rank prefix sum rides the two-phase range " +
    "exchange — no single-partition window anywhere") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.{col, expr}
    val paired = graft.queries.Tables.documents(spark, dir)
      .select(expr(
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')").as("tk"))
      .where(org.apache.spark.sql.functions.size(col("tk")) >= 2)
      .select(col("tk"), org.apache.spark.sql.functions.size(col("tk")).as("nt"),
        expr("(size(tk) + 1) div 2").as("h"))
      .select(
        expr("(aggregate(transform(slice(tk, 1, h), x -> length(x)), " +
          "0L, (acc, x) -> acc + x) * 1000000L) div h").as("a_ppm"),
        expr("(aggregate(transform(slice(tk, h + 1, nt - h), x -> length(x)), " +
          "0L, (acc, x) -> acc + x) * 1000000L) div (nt - h)").as("b_ppm"))
    val out = graft.operators.Evaluation.wilcoxonSignedRank(
      paired, col("a_ppm"), col("b_ppm"))
    val nodes = flatten(executedPlan(out))
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "the below-count window must partition by the range-exchange pid")
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.forall(_.requiredSchema.fieldNames.toSet == Set("text")))
  }

  test("x183: all k(k-1)/2 pair branches read ONE cached 1-row aggregate; " +
    "the corpus scan under the cache is pruned to the feature inputs") {
    import org.apache.spark.sql.functions.{col, floor}
    val out = graft.operators.Evaluation.correlationMatrix(
      Tables.lineitem(spark, dir), Seq(
        "disc_c" -> floor(col("l_discount") * 100),
        "price_fl" -> floor(col("l_extendedprice")),
        "qty" -> floor(col("l_quantity")),
        "tax_c" -> floor(col("l_tax") * 100)))
    val nodes = flatten(executedPlan(out))
    // every union branch reads the cache, never the corpus: flatten()
    // stops at the cache boundary, so any FileSourceScan it finds is a
    // branch that bypassed the shared sufficient-statistics frame
    assert(nodes.collect { case s: FileSourceScanExec => s }.isEmpty,
      "a pair branch recomputed the corpus aggregation")
    val cached = nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s
    }
    assert(cached.nonEmpty, "the wide aggregate must be cache-backed")
    assert(cached.map(s =>
      System.identityHashCode(s.relation.cacheBuilder)).toSet.size == 1,
      "exactly ONE cached relation feeds all pair branches")
    // inside the cache: one scan, pruned to exactly the feature inputs
    val inner = flatten(cached.head.relation.cachedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(inner.size == 1)
    assert(inner.head.requiredSchema.fieldNames.toSet ==
      Set("l_discount", "l_extendedprice", "l_quantity", "l_tax"),
      s"scan must read exactly the feature inputs, got " +
        inner.head.requiredSchema.fieldNames.mkString(","))
    assert(!nodes.mkString.contains("Join"),
      "the matrix is plan-literal aggregation expressions — no join")
  }

  test("x184: the events scan is pruned to (event_type, ts) and the daily " +
    "aggregation computes once — the self-join reuses the exchange") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Seasonal.acf(
      Tables.events(spark, dir), col("event_type"), col("ts"), maxLag = 7)
    val plan = executedPlan(out)
    val nodes = flatten(plan)
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.forall(_.requiredSchema.fieldNames.toSet ==
      Set("event_type", "ts")),
      s"column pruning must reach the events scan, got " +
        scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
    // both self-join sides derive from the identical daily aggregate —
    // ReuseExchange must collapse them to one corpus scan + partial agg
    assert(scans.size == 1 || plan.toString.contains("ReusedExchange"),
      "the daily-count aggregation must compute once, not per join side")
  }

  test("x188: the exploded lag column keeps the cross-series alignment an " +
    "EQUI-join — never a nested-loop theta-join") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Seasonal.crossCorrelation(
      Tables.events(spark, dir), col("event_type"), col("ts"), maxLag = 3)
    val nodes = flatten(executedPlan(out))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "the day alignment must hash-join on the aligned date")
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.forall(_.requiredSchema.fieldNames.toSet ==
      Set("event_type", "ts")))
  }

  test("x189: all nCells distance arms are plan-literal folds over ONE " +
    "cached quantized scan — no join, no second corpus read") {
    val out = graft.operators.Clustering.silhouetteReport(
      Tables.embeddings(spark, dir), "vec_id", "embedding", nCells = 4)
    val nodes = flatten(executedPlan(out))
    assert(nodes.collect { case s: FileSourceScanExec => s }.isEmpty,
      "the score pass re-read the corpus instead of the quantized cache")
    val cached = nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        System.identityHashCode(s.relation.cacheBuilder)
    }
    assert(cached.nonEmpty && cached.toSet.size == 1,
      "exactly ONE cached (id, cell, q) relation feeds scoring and report")
    assert(!nodes.mkString.contains("Join"),
      "centroid stats are plan literals — no join in the score pass")
  }

  test("x194: the Brier decomposition is ONE pruned corpus scan — totals " +
    "ride a window over the bin state, never a second aggregation pass") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Evaluation.brierReport(
      Tables.documents(spark, dir),
      col("n_chars") / 1000.0d, col("lang") === "en")
    val nodes = flatten(executedPlan(out))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1,
      s"the stats plan must execute exactly once, got ${scans.size} scans")
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("n_chars", "lang"))
    assert(!nodes.mkString.contains("Join"),
      "the Murphy close is window + aggregation on the bin frame — no join")
  }

  test("x195: kruskal–wallis scans the corpus once into a cached cell " +
    "frame; ranks and group sums both read the cache") {
    import org.apache.spark.sql.functions.{col, expr}
    val out = graft.operators.Evaluation.kruskalWallis(
      Tables.documents(spark, dir), expr("n_chars div 50"), col("source"))
    val nodes = flatten(executedPlan(out))
    assert(nodes.collect { case s: FileSourceScanExec => s }.isEmpty,
      "a branch bypassed the cached (value, group) cell frame")
    val cached = nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        System.identityHashCode(s.relation.cacheBuilder)
    }
    assert(cached.nonEmpty && cached.toSet.size == 1,
      "exactly ONE cached cell relation feeds ranks and group sums")
    val inner = flatten(nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.head.relation.cachedPlan).collect { case f: FileSourceScanExec => f }
    assert(inner.size == 1 &&
      inner.head.requiredSchema.fieldNames.toSet == Set("n_chars", "source"))
  }

  test("x207: the Neyman draw joins a BROADCAST allocation onto the " +
    "corpus scan — never a shuffle of the corpus by stratum stats") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.MixtureSampling.neymanSample(
      Tables.documents(spark, dir), "source", col("n_chars"), "doc_id",
      totalN = 20)
    val nodes = flatten(executedPlan(out))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the |strata|-row allocation must broadcast into the draw")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join against a metadata-sized allocation")
  }

  test("x217: one tokenization scan pruned to (text, source) feeds both " +
    "top-k lists through the cached term counts") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Vocabulary.vocabOverlapTopK(
      Tables.documents(spark, dir), "text", col("source") === "src0", k = 10)
    val nodes = flatten(executedPlan(out))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.isEmpty, "a top-k branch bypassed the cached term counts")
    val cached = nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        System.identityHashCode(s.relation.cacheBuilder)
    }
    assert(cached.nonEmpty && cached.toSet.size == 1,
      "exactly ONE cached (term, cnt_a, cnt_b) relation feeds both cuts")
    val inner = flatten(nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.head.relation.cachedPlan).collect { case f: FileSourceScanExec => f }
    assert(inner.size == 1 &&
      inner.head.requiredSchema.fieldNames.toSet == Set("text", "source"))
  }

  test("x211/x212: the ACF-family scans stay pruned to (event_type, ts) " +
    "and read through the cached daily frame") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Seasonal.pacf(
      Tables.events(spark, dir), col("event_type"), col("ts"), maxLag = 3)
    val nodes = flatten(executedPlan(out))
    assert(nodes.collect { case s: FileSourceScanExec => s }.isEmpty,
      "the lag self-join must read the cached daily frame, not the corpus")
    val cached = nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        System.identityHashCode(s.relation.cacheBuilder)
    }
    assert(cached.nonEmpty && cached.toSet.size == 1)
    val inner = flatten(nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.head.relation.cachedPlan).collect { case f: FileSourceScanExec => f }
    assert(inner.size == 1 &&
      inner.head.requiredSchema.fieldNames.toSet == Set("event_type", "ts"))
  }

  test("x196/x197: anova and mcnemar collapse the corpus in ONE pruned " +
    "aggregation scan each") {
    import org.apache.spark.sql.functions.{col, instr, lower}
    val anova = graft.operators.Evaluation.anovaF(
      Tables.documents(spark, dir), col("n_chars"), col("source"))
    val aScans = flatten(executedPlan(anova))
      .collect { case f: FileSourceScanExec => f }
    assert(aScans.size == 1 &&
      aScans.head.requiredSchema.fieldNames.toSet == Set("n_chars", "source"))
    val mc = graft.operators.Evaluation.mcnemar(
      Tables.documents(spark, dir),
      instr(lower(col("text")), " the ") > 0,
      col("n_chars") >= 400L, col("lang") === "en")
    val mScans = flatten(executedPlan(mc))
      .collect { case f: FileSourceScanExec => f }
    assert(mScans.size == 1 &&
      mScans.head.requiredSchema.fieldNames.toSet ==
        Set("text", "n_chars", "lang"))
  }

  test("x229: the tail frame comes from TakeOrdered (never a global sort) " +
    "and the scan reads only the value column") {
    val nodes = flatten(planOf("x229_hill_tail"))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1 &&
      scans.head.requiredSchema.fieldNames.toSet == Set("n_chars"),
      s"pruning must reach the scan, got " +
        scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
    assert(nodes.mkString.contains("TakeOrdered"),
      "the k+1 order statistics must come from TakeOrderedAndProject")
  }

  test("x230: one pruned corpus scan; the gap row broadcasts back; " +
    "no sort-merge join, no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = flatten(planOf("x230_fairness_audit"))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty &&
      scans.forall(_.requiredSchema.fieldNames.toSet ==
        Set("text", "lang", "source")),
      "scan must read exactly (text, lang, source)")
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the 1-row gap aggregate must broadcast")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
  }

  test("x231: events prune to (ts, user_id, value); every window runs on " +
    "the post-aggregation day frame") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = flatten(planOf("x231_msprt_monitor"))
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1 &&
      scans.head.requiredSchema.fieldNames.toSet ==
        Set("ts", "user_id", "value"),
      "scan must read exactly (ts, user_id, value)")
    // both global windows sit ABOVE the look-keyed aggregation: no
    // WindowExec may have a raw file scan without an intervening aggregate
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.isEmpty))
    windows.foreach { w =>
      val sub = flatten(w.child)
      assert(sub.exists(_.isInstanceOf[BaseAggregateExec]),
        "the window input must already be the day-frame aggregate")
    }
  }
}
