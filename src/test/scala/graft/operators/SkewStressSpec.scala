package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Skew stress at sf1-scale row counts (the round-7 stretch item): one hot
  * key holding 10% of all rows — the regime where a per-key window puts
  * the hot key's whole partition on one task. Pins that the SHIPPED skew
  * paths (d12's salted two-phase max_by, x80's positional SNM linkage)
  * keep their plan shape and land inside a generous wall-clock envelope
  * under that distribution, with the measured numbers logged for the
  * README. Envelopes are deliberately loose (10× the measured local[4]
  * times) — they catch a plan collapsing back to a single hot-key task,
  * not host jitter. */
class SkewStressSpec extends SparkSpec {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("d12 salted keep-latest: 1M rows, 10% on one hot key — plan + envelope hold") {
    // 1M rows, user 0 owns every 10th row; 50k cold keys share the rest
    val df = spark.range(1000000L).select(
      when(col("id") % 10 === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(50000L)) + 1L).as("user_id"),
      col("id").as("seq"),
      (col("id") % 997).cast("double").as("score"))

    val salted = Skew.saltedKeepLatest(df, "user_id", Seq("seq", "score"), salts = 32)

    // plan shape: no Window operator anywhere; the hot key's rows reduce
    // through 32 salted partial groups before the final per-key max_by
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("__salt"), plan)

    val (saltedRows, tSalted) = timed(salted.collect())
    info(f"salted keep-latest on 1M rows (hot key 10%%): $tSalted%.2f s, ${saltedRows.length} keys")
    assert(saltedRows.length == 50001 || saltedRows.length <= 50001,
      s"unexpected key count ${saltedRows.length}")
    assert(tSalted < 60.0, f"salted keep-latest took $tSalted%.1f s — hot key re-serialized?")

    // exact semantics at scale: equals the direct single-phase max_by
    val direct = df.groupBy("user_id")
      .agg(max_by(struct(col("user_id"), col("seq"), col("score")),
        struct(col("seq"), col("score"))).as("b"))
      .select(col("b.user_id").as("user_id"), col("b.seq").as("seq"),
        col("b.score").as("score"))
      .collect().map(_.toString).sorted.toSeq
    assert(saltedRows.map(_.toString).sorted.toSeq == direct,
      "salted two-phase diverged from direct max_by at 1M rows")
  }

  test("x80 SNM linkage: 100k names, 10% sharing ONE value — positional join stays n·k") {
    // the SNM sort key is the VALUE: a 10%-hot value is the worst case for
    // value-keyed blocking (a classic blocking join would form a 10k×10k
    // hot block). The positional equi-join cannot: positions are unique by
    // construction, so candidate volume stays n·(2·neighborhood+1)
    // regardless of value skew.
    val clean = spark.range(100000L).select(
      col("id").as("cid"),
      when(col("id") % 10 === 0, lit("Customer#000hotname"))
        .otherwise(concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")))
        .as("name"))
    val dirty = clean.select(
      (col("cid") + 1000000L).as("did"),
      // append one character → a distance-1 variant that sorts IMMEDIATELY
      // after its clean twin (unique names), so interleaving is exact and
      // coverage loss can only come from the hot value's tie run
      concat(col("name"), lit("x")).as("dname"))

    val (out, t) = timed {
      val linked = FuzzyLinkage.bestMatch(clean, dirty, "cid", "name",
        "did", "dname", neighborhood = 8, maxDist = 2)
      val rows = linked.count()
      rows
    }
    info(f"SNM linkage on 100k+100k rows (hot value 10%%): $t%.2f s, $out links")
    // all 90k unique-name rows link (each dirty is adjacent to its clean);
    // inside the hot tie run only the first `neighborhood` dirty rows can
    // still reach a clean row — the inherent SNM blind spot under massive
    // ties, pinned here rather than papered over
    assert(out >= 90000L && out <= 90050L,
      s"$out links — positional coverage under the hot value shifted")
    assert(t < 120.0, f"SNM linkage took $t%.1f s under value skew")
  }
}
