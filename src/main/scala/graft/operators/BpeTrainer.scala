package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge learning — tokenizer TRAINING over a distributed corpus (the
  * serving-side token counts live in TextAnalysis; this learns the merge
  * table itself, the Sennrich et al. 2016 algorithm, public).
  *
  * Distributed shape: the corpus collapses ONCE into a (word, count)
  * vocabulary — corpus-sized work up front — and the adjacent-pair counts
  * are aggregated ONCE from it; after that every merge round is DELTA
  * work: only words containing the winning pair contribute count updates
  * (old adjacent pairs negative, rewritten pairs positive), merged into
  * the standing pair table by a keyed outer join, and the vocabulary
  * rewrite is a narrow map that transforms only matching rows. The driver
  * receives exactly ONE row per round (the argmax pair). At 100 TB the
  * vocabulary (millions of rows) never leaves the cluster, the driver
  * traffic is numMerges rows total, and a realistic 32k-merge budget costs
  * per-round work proportional to the affected words, not the corpus or
  * the vocabulary.
  *
  * Determinism: the winning pair breaks ties by (count DESC, left ASC,
  * right ASC), so the merge sequence is a pure function of the corpus.
  *
  * Iterative-lineage note: each round rebuilds the vocabulary Dataset from
  * the previous round's via a map; the plan is re-rooted from the persisted
  * round (same pattern as Dedup.duplicateClusters) so the logical plan
  * stays round-sized instead of growing with numMerges.
  */
object BpeTrainer {

  /** One vocabulary entry: the word's current symbol sequence + corpus
    * frequency. Public for the Dataset encoder. */
  final case class VocabWord(syms: Seq[String], cnt: Long)

  /** Learn `numMerges` BPE merges from whitespace-tokenized, lowercased
    * text. Returns the ordered merge table (left, right) — highest-gain
    * first. Stops early when no adjacent pair remains.
    *
    * Adaptive cutover (same pattern as Dedup.duplicateClusters): the
    * corpus-sized work is the ONE word-count aggregation; when the
    * resulting vocabulary fits under `localVocabThreshold` rows it collects
    * to the driver and the merge loop runs locally — each distributed round
    * otherwise costs ~3 whole Spark jobs of latency to move one argmax row.
    * Identical merge sequence either way (BpeTrainerSpec cross-checks); the
    * distributed loop remains the path for vocabularies that don't fit. */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      localVocabThreshold: Int = 1 << 20): Seq[(String, String)] = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._

    val wordCounts = docs
      .select(explode(filter(split(lower(trim(col(textCol))), "\\s+"),
        t => t =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]

    if (localVocabThreshold > 0) {
      val head = wordCounts.take(localVocabThreshold + 1)
      if (head.length <= localVocabThreshold)
        return localMerges(head.toMap, numMerges)
    }

    // every round's frames live in this Scope, so a failing round releases
    // them too
    Scope {
      // corpus → (word, count) vocabulary, words as code-point symbol sequences
      var vocab: DataFrame = Scope.persist(wordCounts
        .map { case (w, c) => VocabWord(codePointSymbols(w), c) }.toDF())
      vocab.count()

      // Pair counts are maintained INCREMENTALLY: built once from the full
      // vocabulary, then per round only the words containing the merged pair
      // contribute a delta (their old adjacent pairs negative, their rewritten
      // pairs positive). A 32k-merge budget therefore never recounts the full
      // vocabulary — each round's aggregation touches only the affected words,
      // and the pair-table update is one keyed outer join against a
      // vocabulary-pairs-sized table. The vocabulary rewrite stays a single
      // narrow map that only transforms matching words (the adjacency check
      // gates the rewrite row-by-row).
      var pairCounts: DataFrame = Scope.persist(vocab.as[VocabWord]
        .flatMap(v => v.syms.iterator.zip(v.syms.iterator.drop(1))
          .map { case (x, y) => (x, y, v.cnt) })
        .toDF("a", "b", "d")
        .groupBy("a", "b").agg(sum("d").as("cnt")))
      pairCounts.count()

      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var round = 0
      var exhausted = false
      while (round < numMerges && !exhausted) {
        val top = pairCounts.orderBy(desc("cnt"), asc("a"), asc("b")).take(1)
        if (top.isEmpty) exhausted = true
        else {
          val a = top.head.getString(0)
          val b = top.head.getString(1)
          merges += ((a, b))
          // re-root both iteratives each round (createDataFrame collapses the
          // logical plan to a constant-size LogicalRDD — same pattern and
          // rationale as Dedup.duplicateClusters) so plan analysis stays
          // round-sized across thousands of merges
          val vSnap = spark.createDataFrame(vocab.rdd, vocab.schema).as[VocabWord]
          val pSnap = spark.createDataFrame(pairCounts.rdd, pairCounts.schema)

          val deltas = vSnap
            .filter(v => hasAdjacentPair(v.syms, a, b))
            .flatMap { v =>
              val rewritten = applyMerge(v.syms, a, b)
              v.syms.iterator.zip(v.syms.iterator.drop(1))
                .map { case (x, y) => (x, y, -v.cnt) } ++
                rewritten.iterator.zip(rewritten.iterator.drop(1))
                  .map { case (x, y) => (x, y, v.cnt) }
            }
            .toDF("a", "b", "d")
            .groupBy("a", "b").agg(sum("d").as("d"))

          val nextPairs = Scope.persist(pSnap.join(deltas, Seq("a", "b"), "full_outer")
            .select(col("a"), col("b"),
              (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L))).as("cnt"))
            .where(col("cnt") > 0))

          val nextVocab = Scope.persist(vSnap.map(v =>
            if (hasAdjacentPair(v.syms, a, b)) VocabWord(applyMerge(v.syms, a, b), v.cnt)
            else v).toDF())

          nextPairs.count(); nextVocab.count() // materialize, then drop the previous round
          Scope.release(pairCounts)
          Scope.release(vocab)
          pairCounts = nextPairs
          vocab = nextVocab
        }
        round += 1
      }
      merges.toSeq
    }
  }

  /** Initial symbols = Unicode CODE POINTS, not UTF-16 chars. A char-level
    * split would break a non-BMP character into two lone surrogates, which
    * Spark's UTF8String storage cannot round-trip (Java's UTF-8 encoder
    * replaces unpaired surrogates with '?') — the distributed loop would
    * merge mangled symbols while the driver loop merged real ones. Whole
    * code points survive both paths byte-identically, so the cutover is
    * transparent for any input. */
  private[operators] def codePointSymbols(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** True iff the pair (a, b) occurs adjacently in `syms`. */
  private def hasAdjacentPair(syms: Seq[String], a: String, b: String): Boolean = {
    var i = 0
    while (i + 1 < syms.length) {
      if (syms(i) == a && syms(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** Left-to-right, non-overlapping application of merge (a, b). */
  private def applyMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    val merged = a + b
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** UTF-8 binary string ordering — matches Spark's UTF8String comparison
    * (`asc("_1")` in the distributed loop), so both merge loops break ties
    * identically even for symbols in/above the surrogate range where Java's
    * UTF-16 code-unit ordering disagrees with UTF-8 byte order. */
  private val utf8Ordering: Ordering[String] = (x: String, y: String) => {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    var d = 0
    val n = math.min(a.length, b.length)
    while (d == 0 && i < n) { d = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
    if (d != 0) d else a.length - b.length
  }

  /** Driver-side merge loop for vocabularies under the cutover bound —
    * the same algorithm, zero per-round Spark jobs. */
  private def localMerges(
      counts: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Seq[String], Long] =
      counts.groupMapReduce(p => codePointSymbols(p._1): Seq[String])(_._2)(_ + _)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val (a, b) = pairCounts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }(
            Ordering.Tuple3(Ordering.Long, utf8Ordering, utf8Ordering))._1
        merges += ((a, b))
        vocab = vocab.map { case (syms, c) => applyMerge(syms, a, b) -> c }
          .groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    merges.toSeq
  }

  /** Serving side: tokenize text with a learned merge table. Merges apply
    * in RANK order within each word (the canonical BPE encode: repeatedly
    * merge the lowest-rank adjacent pair), exactly inverse to training.
    * The merge table broadcasts inside the closure (it is tokenizer-sized,
    * KBs to low MBs); encoding is a narrow map over the corpus — no
    * shuffle, scales linearly. Output: input columns + `tokens`
    * (array<string>) + `n_bpe_tokens`. */
  def encode(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] = merges.zipWithIndex.toMap
    val bRanks = spark.sparkContext.broadcast(ranks)

    val encodeWord = (w: String) => {
      val r = bRanks.value
      var syms = codePointSymbols(w)
      var done = syms.length < 2
      while (!done) {
        var bestIdx = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i + 1 < syms.length) {
          val rk = r.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (rk < bestRank) { bestRank = rk; bestIdx = i }
          i += 1
        }
        if (bestIdx < 0) done = true
        else {
          syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
            syms.drop(bestIdx + 2)
          if (syms.length < 2) done = true
        }
      }
      syms
    }
    val encodeText = udf { (text: String) =>
      Option(text).map(_.toLowerCase.trim.split("\\s+").toSeq
        .filter(_.nonEmpty).flatMap(encodeWord)).getOrElse(Seq.empty)
    }
    docs
      .withColumn("tokens", encodeText(col(textCol)))
      .withColumn("n_bpe_tokens", size(col("tokens")).cast("long"))
  }

  /** The learned merges as a DataFrame (rank, left, right) — the
    * query-surface form of learnMerges. */
  def mergeTable(
      docs: DataFrame,
      textCol: String,
      numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMerges(docs, textCol, numMerges).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "left", "right")
  }
}
