package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** qgramJoinPreflight (x236's operator): the ED-Join candidate-volume
  * pricer. Hand-computable fixtures for both branches, then the real
  * sf0.1 df spectrum — the corpus whose x154 run showed the 1.60
  * wall-time exponent the preflight exists to predict. */
class QgramPreflightSpec extends SparkSpec {

  import spark.implicits._

  private def preflight(
      clean: Seq[(Long, String)],
      dirty: Seq[(Long, String)],
      maxDist: Int,
      q: Int,
      budget: Long = 100000000L) = {
    val l = clean.toDF("id", "v")
    val r = dirty.toDF("id", "v")
    val out = FuzzyLinkage.qgramJoinPreflight(l, r, "id", "v", "id", "v",
      maxDist = maxDist, q = q, budgetPairs = budget).collect().head
    out
  }

  test("long branch: identical strings — prefix counts multiply exactly") {
    // q=2, d=0 → prefixLen 1. Every "abcdef" keeps exactly its single
    // rarest (gram, occ) = ('ab', 1) (df ties broken by gram asc), so the
    // prefix equi-join would generate 3 × 3 = 9 candidate rows.
    val rows = (1L to 3L).map(i => (i, "abcdef"))
    val r = preflight(rows, rows, maxDist = 0, q = 2)
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L) // n_long_*
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L) // n_short_*
    assert(r.getAs[Long]("long_pairs") == 9L)
    assert(r.getAs[Long]("short_pairs") == 0L)
    assert(r.getAs[Long]("total_pairs") == 9L)
    assert(r.getAs[Boolean]("within_budget"))
    assert(r.getAs[String]("route") == "qgram_exact")
  }

  test("short branch: length-bucket histogram volume, no gram pairs") {
    // q=3, d=1 → length floor 6: "abc" (2 rows) and "abcd" (3 rows) are
    // both short. short-left buckets {2,3,4} hit ALL right rows at len 4
    // → 2·3 = 6; short-right joins the (empty) long-left histogram → 0.
    val r = preflight(
      Seq(1L -> "abc", 2L -> "abc"),
      Seq(1L -> "abcd", 2L -> "abcd", 3L -> "abcd"),
      maxDist = 1, q = 3)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 3L)
    assert(r.getAs[Long]("long_pairs") == 0L)
    assert(r.getAs[Long]("short_pairs") == 6L)
    assert(r.getAs[Long]("total_pairs") == 6L)
  }

  test("budget routing: a tiny budget flips the verdict to approximate") {
    val rows = (1L to 4L).map(i => (i, "abcdef"))
    val r = preflight(rows, rows, maxDist = 0, q = 2, budget = 10L)
    assert(r.getAs[Long]("total_pairs") == 16L)
    assert(!r.getAs[Boolean]("within_budget"))
    assert(r.getAs[String]("route") == "approximate_minhash")
  }

  test("sf0.1 df spectrum: the x154 fixture is priced before it is run") {
    // the linear prologue on the REAL spectrum whose exact join showed the
    // 1.60 sf0.1→sf1 exponent — the preflight must price it without
    // materializing a single pair
    val d = graft.queries.Tables.documents(spark, "/root/testdata/sf0.1")
    val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
    val dirty = d.select(col("doc_id"),
      expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
        "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
        .as("dirty_title"))
    val r = FuzzyLinkage.qgramJoinPreflight(clean, dirty, "doc_id", "title",
      "doc_id", "dirty_title", maxDist = 1, q = 3).collect().head
    val longPairs = r.getAs[Long]("long_pairs")
    val total = r.getAs[Long]("total_pairs")
    // every long string contributes candidates (it shares at least its own
    // prefix grams with its dirtied twin), so the volume is at least the
    // long-side cardinality and total = long + short exactly
    assert(r.getLong(0) > 0L && longPairs >= r.getLong(0))
    assert(total == longPairs + r.getAs[Long]("short_pairs"))
    // at sf0.1 the exact join is affordable — and the preflight must say so
    assert(r.getAs[Boolean]("within_budget") &&
      r.getAs[String]("route") == "qgram_exact")
    // the pre-dedup candidate volume bounds the join's true output
    val matches = FuzzyLinkage.qgramJoin(clean, dirty, "doc_id", "title",
      "doc_id", "dirty_title", maxDist = 1, q = 3).count()
    assert(matches <= total)
  }
}
