package graft.operators

import graft.SparkSpec

/** knBigramScore must equal the interpolated Kneser–Ney definition
  * computed by a direct in-memory reference over string tokens — the
  * hashed-kernel pipeline may not drift from the textbook formula. */
class KnScoreSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  /** Direct interpolated-KN self-score: counts from the corpus itself,
    * D = 0.75, score = round(avg ln P, 4). */
  private def reference(docs: Seq[(Long, String)]): Map[Long, (Double, Long)] = {
    val d = 0.75
    val bigrams = docs.map { case (id, t) =>
      val tk = toks(t); (id, tk.zip(tk.drop(1)))
    }.filter(_._2.nonEmpty)
    val bc = bigrams.flatMap(_._2).groupBy(identity).map { case (b, v) => (b, v.size.toLong) }
    val c1 = bc.groupBy(_._1._1).map { case (w, m) => (w, m.values.sum) }
    val n1fw = bc.groupBy(_._1._1).map { case (w, m) => (w, m.size.toLong) }
    val n1bw = bc.groupBy(_._1._2).map { case (w, m) => (w, m.size.toLong) }
    val bt = bc.size.toLong
    bigrams.map { case (id, bs) =>
      val lp = bs.map { b =>
        math.log(((bc(b) - d) / c1(b._1)) +
          (((d * n1fw(b._1)) / c1(b._1)) * (n1bw(b._2).toDouble / bt)))
      }
      val avg = lp.sum / lp.size
      (id, (BigDecimal(avg).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        bs.size.toLong))
    }.toMap
  }

  private val docs: Seq[(Long, String)] = Seq(
    1L -> "the cat sat on the mat",
    2L -> "the dog sat on the log",
    3L -> "a cat and a dog met in san francisco",
    4L -> "san francisco is on the bay",
    5L -> "the the the the", // repeated token: self-loop bigrams
    6L -> "solo", // single token: excluded (no bigrams)
    7L -> "Cat SAT on the MAT" // case folding joins doc 1's transitions
  )

  test("KN scores match the in-memory reference (incl. repeats and case folds)") {
    val df = docs.toDF("doc_id", "text")
    val got = NgramLm.knBigramScore(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val exp = reference(docs)
    assert(got.keySet == exp.keySet, "single-token docs carry no bigrams")
    for ((id, (score, n)) <- exp) {
      assert(got(id)._2 == n, s"doc $id n_bigrams")
      assert(math.abs(got(id)._1 - score) <= 1e-4 + 1e-12,
        s"doc $id: got ${got(id)._1}, expected $score")
    }
  }

  test("continuation backoff: a frequent-but-predictable word scores below " +
    "a diverse-context word of equal frequency") {
    // "francisco" appears only after "san"; build a corpus where "river"
    // has the same unigram frequency but many distinct left contexts —
    // P_cont(francisco) must come out lower than P_cont(river), which is
    // the defining KN property (Laplace cannot distinguish them).
    val corpus = Seq(
      10L -> "san francisco port",
      11L -> "san francisco fog",
      12L -> "san francisco hills",
      13L -> "long river bend",
      14L -> "wide river delta",
      15L -> "old river town",
      20L -> "probe francisco", // unseen context ⇒ continuation term decides
      21L -> "probe river"
    )
    val df = corpus.toDF("doc_id", "text")
    val got = NgramLm.knBigramScore(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(21L) > got(20L),
      s"river (3 left contexts) must outscore francisco (1): $got")
  }

  test("discount bound is enforced") {
    val df = docs.toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      NgramLm.knBigramScore(df, "text", "doc_id", discountPct = 0)
    }
    intercept[IllegalArgumentException] {
      NgramLm.knBigramScore(df, "text", "doc_id", discountPct = 100)
    }
  }
}
