package graft.operators

import graft.SparkSpec

/** bigramLlr: the Dunning G² 2×2 algebra against a direct reference, and
  * the low-count calibration property PMI lacks. */
class LlrCollocationSpec extends SparkSpec {
  import spark.implicits._

  private def refLlr(pairs: Seq[(String, String)], w1: String, w2: String): Double = {
    val n = pairs.size.toDouble
    val k11 = pairs.count(p => p._1 == w1 && p._2 == w2).toDouble
    val c1 = pairs.count(_._1 == w1).toDouble
    val c2 = pairs.count(_._2 == w2).toDouble
    def cell(k: Double, r: Double, s: Double): Double =
      if (k > 0) k * math.log((k / n) / ((r / n) * (s / n))) else 0.0
    2.0 * (cell(k11, c1, c2) + cell(c1 - k11, c1, n - c2) +
      cell(c2 - k11, n - c1, c2) + cell(n - c1 - c2 + k11, n - c1, n - c2))
  }

  test("G² matches the in-memory 2×2 reference") {
    // "new york" is a strong collocation; "the cat"/"the dog" dilute "the"
    val docs = Seq(
      "new york is big", "new york wins", "in new york today",
      "the cat sat", "the dog sat", "the cat ran", "a dog sat",
      "new york again", "new york once more").toDF("text")
    val adjacent = docs.collect().map(_.getString(0)).toSeq
      .flatMap { t =>
        val w = t.split("\\s+").toSeq
        w.zip(w.drop(1))
      }
    val rows = Vocabulary.bigramLlr(docs, "text", minCount = 2, topK = 20)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val exp = refLlr(adjacent, r.getString(0), r.getString(1))
      assert(math.abs(r.getDouble(3) - exp) < 5e-5,
        s"${r.getString(0)} ${r.getString(1)}: ${r.getDouble(3)} vs $exp")
    }
    // the dedicated collocation outranks the diluted determiner pairs
    assert(rows.head.getString(0) == "new" && rows.head.getString(1) == "york")
  }

  test("minCount filters singleton pairs; topK caps the output") {
    val docs = Seq.tabulate(8)(i => s"alpha beta gamma$i").toDF("text")
    val rows = Vocabulary.bigramLlr(docs, "text", minCount = 2, topK = 1)
      .collect()
    assert(rows.length == 1)
    assert((rows.head.getString(0), rows.head.getString(1)) == (("alpha", "beta")))
  }
}
