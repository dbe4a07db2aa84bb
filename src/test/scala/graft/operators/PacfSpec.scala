package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** pacf / ljungBox contracts: the unrolled Durbin–Levinson algebra and
  * the Q fold agree with plain-Scala reference recursions over the SAME
  * reported ACF values; pacf_1 ≡ acf_1; gap/NULL propagation. */
class PacfSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf(rows: Seq[(String, String)]) =
    rows.toDF("s", "t").select(col("s"), to_timestamp(col("t")).as("ts"))

  // 21 consecutive days with a deterministic wavy count per series
  private def wavy(series: String, phase: Int) =
    (0 until 21).flatMap { d =>
      val c = 3 + ((d + phase) % 4) + (if (d % 7 == 0) 2 else 0)
      (1 to c).map(i => (series, f"2024-02-${d + 1}%02d 0${i % 9}:0${i % 6}:00"))
    }

  private def dlReference(r: Seq[Double]): Seq[Double] = {
    val m = r.length
    val phi = Array.ofDim[Double](m + 1, m + 1)
    val out = Array.ofDim[Double](m + 1)
    phi(1)(1) = r(0); out(1) = r(0)
    for (k <- 2 to m) {
      val num = r(k - 1) - (1 until k).map(j => phi(k - 1)(j) * r(k - j - 1)).sum
      val den = 1.0 - (1 until k).map(j => phi(k - 1)(j) * r(j - 1)).sum
      phi(k)(k) = num / den; out(k) = phi(k)(k)
      for (j <- 1 until k)
        phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j)
    }
    (1 to m).map(out(_))
  }

  test("pacf matches a plain-Scala Durbin–Levinson over the reported ACF; " +
    "pacf_1 == acf_1") {
    val df = eventsDf(wavy("a", 0) ++ wavy("b", 2))
    val acf = Seasonal.acf(df, col("s"), col("ts"), maxLag = 5, roundTo = 12)
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq).toMap
    val got = Seasonal.pacf(df, col("s"), col("ts"), maxLag = 5).collect()
    got.foreach { row =>
      val series = row.getString(0)
      val expected = dlReference(acf(series))
      (1 to 5).foreach { k =>
        val e = math.rint(expected(k - 1) * 1e4) / 1e4
        assert(math.abs(row.getDouble(k) - e) < 2e-4,
          s"$series pacf_$k: ${row.getDouble(k)} vs $e")
      }
      assert(row.getDouble(1) == math.rint(acf(series).head * 1e4) / 1e4)
    }
  }

  test("pacf: a series shorter than the lag horizon reports NULL at the " +
    "missing orders") {
    // 3 days → lags 4, 5 have no pairs → r4/r5 NULL → pacf_4/5 NULL
    val df = eventsDf((1 to 3).flatMap(d =>
      (1 to d + 1).map(i => ("a", f"2024-02-0$d%01d 0$i%01d:00:00"))))
    val r = Seasonal.pacf(df, col("s"), col("ts"), maxLag = 5).collect().head
    assert(!r.isNullAt(1))
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("ljung–box matches a plain-Scala reference over the reported ACF") {
    val df = eventsDf(wavy("a", 0) ++ wavy("b", 2))
    val acf = Seasonal.acf(df, col("s"), col("ts"), maxLag = 7, roundTo = 12)
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(3))).toSeq).toMap
    val got = Seasonal.ljungBox(df, col("s"), col("ts"), maxLag = 7).collect()
    got.foreach { row =>
      val (series, n) = (row.getString(0), row.getLong(1).toDouble)
      assert(n == 21.0d)
      val q = n * (n + 2.0) * acf(series)
        .map { case (lag, r) => r * r / (n - lag) }.sum
      assert(math.abs(row.getDouble(3) - math.rint(q * 1e4) / 1e4) < 2e-4,
        s"$series q: ${row.getDouble(3)} vs $q")
    }
  }
}
