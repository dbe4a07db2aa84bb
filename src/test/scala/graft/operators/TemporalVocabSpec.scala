package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("gap splits sessions; summary counts, bounds and durations exact") {
    val events = Seq(
      // user 1: [0, 10], [50, 55], [120] with a 30-min gap
      (1L, 101L, ts(0)), (1L, 102L, ts(10)),
      (1L, 103L, ts(50)), (1L, 104L, ts(55)),
      (1L, 105L, ts(120)),
      // user 2: single event
      (2L, 201L, ts(7))
    ).toDF("user_id", "event_id", "ts")

    val out = Sessionize.sessionSummary(events, "user_id", "ts", "event_id",
      gapMicros = 30L * 60 * 1000000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        (r.getLong(4) - r.getLong(3)) / 60000000L))
      .sortBy(x => (x._1, x._2)).toSeq

    assert(out == Seq(
      (1L, 1L, 2L, 10L), (1L, 2L, 2L, 5L), (1L, 3L, 1L, 0L),
      (2L, 1L, 1L, 0L)))
  }

  test("a gap of exactly the threshold does NOT split; ties order by tie column") {
    val events = Seq(
      (1L, 2L, ts(0)), (1L, 1L, ts(0)), // equal ts: tie on event_id
      (1L, 3L, ts(30))                  // gap == 30 min exactly → same session
    ).toDF("user_id", "event_id", "ts")
    val rows = Sessionize.sessionize(events, "user_id", "ts", "event_id",
      gapMicros = 30L * 60 * 1000000)
      .select("event_id", "session_idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("sessionization is partition-layout independent") {
    val events = (1L to 500L).map { i =>
      (i % 13, i, ts((i % 97).toInt * 3))
    }.toDF("user_id", "event_id", "ts")
    def run(parts: Int) =
      Sessionize.sessionSummary(events.repartition(parts), "user_id", "ts",
        "event_id", gapMicros = 10L * 60 * 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    assert(run(1) == run(7))
  }
}

class TemporalJoinsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("asofJoin: latest right row at-or-before, inclusive, per key, null when none") {
    val left = Seq(
      (10L, 1L, ts(5)),   // after r1 → matches r1
      (11L, 1L, ts(10)),  // equal ts as r2 → inclusive, matches r2
      (12L, 1L, ts(3)),   // before any right row → null
      (13L, 2L, ts(50))   // key 2 has no right rows at all → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(4), 100L, 1.5),
      (1L, ts(10), 101L, 2.5),
      (1L, ts(20), 102L, 3.5)
    ).toDF("user_id", "p_ts", "p_event_id", "p_value")

    val out = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value"))
      .select("event_id", "p_event_id", "p_value")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
      .sortBy(_._1).toSeq

    assert(out == Seq(
      (10L, 100L, 1.5), (11L, 101L, 2.5), (12L, -1L, -1.0), (13L, -1L, -1.0)))
  }

  test("asofJoin: equal right timestamps resolve to the greatest tie id") {
    val left = Seq((1L, 1L, ts(10))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(5), 7L, 1.0),
      (1L, ts(5), 9L, 2.0), // same ts, larger tie id → wins
      (1L, ts(5), 8L, 3.0)
    ).toDF("user_id", "p_ts", "p_event_id", "p_value")
    val out = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("p_event_id") == 9L)
    assert(out(0).getAs[Double]("p_value") == 2.0)
  }

  test("asofJoin forward: earliest at-or-after right row, min tie at equal ts") {
    val left = Seq(
      (1L, 1L, ts(10)),  // right rows at 12 (ids 2,3) → earliest ts, MIN tie → 2
      (2L, 1L, ts(12)),  // inclusive: equal ts matches
      (3L, 1L, ts(21))   // nothing at-or-after → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(5), 1L, 0.5),
      (1L, ts(12), 3L, 1.5),
      (1L, ts(12), 2L, 2.5),
      (1L, ts(20), 4L, 3.5)
    ).toDF("user_id", "p_ts", "p_event_id", "p_value")
    val out = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value"), direction = "forward")
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("p_event_id"))) -1L
         else r.getAs[Long]("p_event_id"))).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> -1L))
  }

  test("asofJoin: null keys never match (SQL join semantics)") {
    val left = Seq(
      (1L, Option.empty[Long], ts(10)), // null-key left row → null match
      (2L, Some(1L), ts(10))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (Option.empty[Long], ts(5), 100L, 1.0), // null-key right row → dropped
      (Some(1L), ts(5), 200L, 2.0)
    ).toDF("user_id", "p_ts", "p_event_id", "p_value")
    val out = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value"))
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("p_event_id"))) -1L
         else r.getAs[Long]("p_event_id"))).toMap
    assert(out == Map(1L -> -1L, 2L -> 200L), out.toString)
  }

  test("asofJoin: a NULL value column in the matched row stays NULL (no backfill from older rows)") {
    val left = Seq((1L, 1L, ts(10))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(4), 100L, Some(1.5)),          // older row HAS a value
      (1L, ts(8), 101L, Option.empty[Double]) // matched row's p_value is NULL
    ).toDF("user_id", "p_ts", "p_event_id", "p_value")
    val out = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value")).collect()
    assert(out.length == 1)
    // whole value set must come from the matched (ts=8) row: id 101, value NULL
    assert(out(0).getAs[Long]("p_event_id") == 101L)
    assert(out(0).isNullAt(out(0).fieldIndex("p_value")),
      s"p_value backfilled from an older right row: ${out(0)}")
  }

  test("asofJoin tolerance: matches farther than the gap bound null out") {
    val left = Seq((1L, 1L, ts(10)), (2L, 2L, ts(10))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(8), 100L, 1.0), // gap 2 min <= 3 → kept
      (2L, ts(4), 200L, 2.0)  // gap 6 min > 3 → nulled
    ).toDF("user_id", "p_ts", "p_event_id", "p_value")
    val out = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value"),
      toleranceMicros = 3L * 60 * 1000000)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("p_event_id"))) -1L
         else r.getAs[Long]("p_event_id"))).toMap
    assert(out == Map(1L -> 100L, 2L -> -1L))
  }

  test("asofJoin nearest: min-|gap| pick, ties resolve backward, tolerance bounds both sides") {
    val left = Seq(
      (1L, 1L, ts(14)), // gaps 4/6 → backward 100
      (2L, 1L, ts(16)), // gaps 6/4 → forward 200
      (3L, 1L, ts(15)), // tie 5/5 → backward 100
      (4L, 1L, ts(10)), // exact hit → 100 (inclusive)
      (5L, 1L, ts(40)), // nearest is 20 min away > 15 tolerance → null
      (6L, 2L, ts(5))   // key with no right rows → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(10), 100L, 1.0),
      (1L, ts(20), 200L, 2.0)
    ).toDF("user_id", "p_ts", "p_event_id", "p_value")
    val out = TemporalJoins.asofJoin(left, right, "user_id", "ts", "p_ts",
      "p_event_id", Seq("p_event_id", "p_value"),
      direction = "nearest", toleranceMicros = 15L * 60 * 1000000)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("p_event_id"))) -1L
         else r.getAs[Long]("p_event_id"))).toMap
    assert(out == Map(1L -> 100L, 2L -> 200L, 3L -> 100L, 4L -> 100L,
      5L -> -1L, 6L -> -1L), out.toString)
  }

  test("pointInIntervalJoin matches the brute-force BETWEEN join, overlaps and negatives included") {
    val points = (-40 until 200).map(i => (i.toLong, i * 1.7 - 30.0))
      .toDF("point_id", "v")
    val intervals = Seq(
      ("a", -50.0, -10.0),  // negative range
      ("b", -15.0, 45.0),   // overlaps a and c
      ("c", 40.0, 41.0),    // narrower than a bucket
      ("d", 100.0, 260.0)   // spans many buckets
    ).toDF("name", "lo", "hi")

    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1))).toSet
    val bucketed = key(
      TemporalJoins.pointInIntervalJoin(points, intervals, "v", "lo", "hi",
        bucketWidth = 25.0)
        .select("point_id", "name").collect())
    val brute = key(
      points.crossJoin(intervals)
        .where(col("v") >= col("lo") && col("v") <= col("hi"))
        .select("point_id", "name").collect())
    assert(bucketed == brute)
    assert(brute.nonEmpty)
    // overlap really exercised: some point sits in two intervals
    assert(brute.groupBy(_._1).exists(_._2.size > 1))
  }
}

class VocabularySpec extends SparkSpec {
  import spark.implicits._

  test("termStats: tf counts occurrences, df counts distinct docs") {
    val docs = Seq(
      (1L, "a b A"),      // 'a' twice (case-folded), 'b' once
      (2L, "b   c"),      // whitespace runs collapse
      (3L, "")            // empty doc contributes nothing
    ).toDF("doc_id", "text")
    val out = Vocabulary.termStats(docs, "text", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("a", 2L, 1L), ("b", 2L, 2L), ("c", 1L, 1L)))
  }

  test("tfIdfTopTerms: textbook scores, rank stable, shared terms score zero") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry")
    ).toDF("doc_id", "text")
    val out = Vocabulary.tfIdfTopTerms(docs, "text", "doc_id", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(5)))
      .sortBy(x => (x._1, x._2)).toSeq
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    assert(out == Seq(
      (1L, 1L, "apple", r4(2 * math.log(2.0))),  // tf=2, df=1 → 2·ln2
      (1L, 2L, "banana", 0.0),                   // df=N → ln1 = 0
      (2L, 1L, "cherry", r4(math.log(2.0))),
      (2L, 2L, "banana", 0.0)))
  }
}

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8 codes: range-bounded, reconstruction within scale/2, zero vector safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 127.0f)),
      (2L, Array(-3.5f, 3.5f, 0.0f, 1.75f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector
    ).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8Rows(vecs, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))

    assert(rows.length == 12)
    rows.foreach { case (_, _, q, _) => assert(q >= -127 && q <= 127, q) }
    // max-magnitude dim always hits ±127; zero vector → all-zero codes
    assert(rows.filter(_._1 == 1L).map(_._3).max == 127)
    assert(rows.filter(_._1 == 3L).forall(r => r._3 == 0 && r._4 == 0.0))
    // reconstruction: |x - q*scale| <= scale/2 (+ the 1e-6 scale rounding)
    val orig = Map(1L -> Array(0.5, -1.0, 0.25, 127.0),
      2L -> Array(-3.5, 3.5, 0.0, 1.75))
    rows.filter(_._1 != 3L).foreach { case (id, i, q, scale) =>
      val err = math.abs(orig(id)(i) - q * scale)
      assert(err <= scale / 2 + 1e-4, s"vec $id dim $i err $err scale $scale")
    }
  }
}

class ApproxDistinctSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct stays within the rsd envelope of the exact counts") {
    // 20k rows, 3 groups with known distinct cardinalities per group
    val rows = (1L to 20000L).map { i =>
      val g = (i % 3).toString
      (g, i % (500L + (i % 3) * 700L)) // per-group distinct ~500/1200/1900
    }.toDF("g", "v")
    val exact = rows.groupBy("g").agg(count_distinct(col("v")).as("exact"))
    val approx = rows.groupBy("g")
      .agg(approx_count_distinct(col("v"), rsd = 0.02).as("approx"))
    val joined = exact.join(approx, "g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(joined.length == 3)
    joined.foreach { case (g, e, a) =>
      val err = math.abs(a - e).toDouble / e
      // HLL++ at rsd=0.02: allow 3 sigma
      assert(err <= 0.06, f"group $g: exact=$e approx=$a err=$err%.3f")
    }
  }
}

class ApproxPercentileSpec extends SparkSpec {
  import spark.implicits._

  test("approx_percentile tracks the exact percentile within its rank-error bound") {
    // d23 documents approx_percentile as the 100 TB swap for the exact
    // percentile — pin that claim: at accuracy A the sketch's rank error is
    // n/A, so on 50k uniform values the p50/p90 estimates must land within
    // ~5 ranks (0.1% of the value range)
    val rows = (1L to 50000L).map(i => i.toDouble).toDF("v")
    val got = rows.agg(
      expr("percentile(v, 0.5)").as("exact50"),
      expr("approx_percentile(v, 0.5, 10000)").as("approx50"),
      expr("percentile(v, 0.9)").as("exact90"),
      expr("approx_percentile(v, 0.9, 10000)").as("approx90")).head()
    val (e50, a50) = (got.getDouble(0), got.getDouble(1))
    val (e90, a90) = (got.getDouble(2), got.getDouble(3))
    assert(math.abs(a50 - e50) / e50 < 0.001, s"p50 exact=$e50 approx=$a50")
    assert(math.abs(a90 - e90) / e90 < 0.001, s"p90 exact=$e90 approx=$a90")
  }
}

class ShufflePositionsSpec extends SparkSpec {
  import spark.implicits._

  test("positions form an exact 0..n-1 permutation, stable across layouts") {
    val docs = (1L to 300L).map(Tuple1(_)).toDF("doc_id")
    def run(parts: Int) = {
      val r = Sharding.shufflePositions(docs.repartition(parts), "doc_id", "s1")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      r
    }
    val out = run(1)
    assert(out.map(_._2).sorted == (0L until 300L))
    assert(run(8) == out)
    // a different seed is a different permutation (300 ids: collision odds ~0)
    val other = Sharding.shufflePositions(docs, "doc_id", "s2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(other != out)
    assert(other.map(_._2).sorted == (0L until 300L))
  }
}
