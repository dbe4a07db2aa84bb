package graft.operators

import graft.SparkSpec

/** skipgramPairs must produce exactly the symmetric windowed
  * co-occurrence counts — verified against a positional in-memory
  * reference, including self-pairs and the window-1 bigram degeneration. */
class SkipgramSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  private def reference(
      docs: Seq[String], window: Int): Map[(String, String), Long] =
    docs.flatMap { t =>
      val tk = toks(t)
      for {
        i <- tk.indices; d <- 1 to window if i + d < tk.size
        p <- Seq((tk(i), tk(i + d)), (tk(i + d), tk(i)))
      } yield p
    }.groupBy(identity).map { case (p, v) => (p, v.size.toLong) }

  private val docs = Seq(
    "the cat sat on the mat",
    "the the the", // self-pairs at both offsets
    "solo",
    "A b a B") // case folding merges a/A

  test("pair counts match the positional reference at windows 1..3") {
    for (w <- 1 to 3) {
      val got = Vocabulary.skipgramPairs(docs.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "text", "doc_id", window = w)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(got == reference(docs, w), s"window $w")
    }
  }

  test("symmetry and self-pair evenness hold by construction") {
    val got = Vocabulary.skipgramPairs(docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "text", "doc_id", window = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    for (((a, b), n) <- got) {
      assert(got((b, a)) == n, s"asymmetric pair ($a,$b)")
      if (a == b) assert(n % 2 == 0, s"self-pair ($a,$a) must count both directions")
    }
    intercept[IllegalArgumentException] {
      Vocabulary.skipgramPairs(docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "text", "doc_id", window = 0)
    }
  }
}
