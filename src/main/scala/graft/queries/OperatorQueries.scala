package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Bootstrap, BpeTrainer, C4Filters, Chunking, Clustering, Conformal, CorpusStats, Curriculum, DataQuality, Dedup, Evaluation, FuzzyLinkage, Graph, ImportanceWeights, LabelQa, Layout, Linalg, LineDedup, LshPlanner, MarketBasket, MixtureSampling, Multimodal, NaiveBayes, NgramLm, OptimalTransport, Outliers, ParagraphDedup, QualityRules, RadixSelect, Scope, Seasonal, SequenceMining, SequencePacking, Sharding, SignalFusion, Similarity, Sketches, Skew, SubstringDedup, Survival, TemporalSplit, TextAnalysis, TextExtraction, TrainingDataPipeline, Vocabulary}

/** LLM-pipeline operators (graft.operators) exposed through the driver's
  * query/oracle contract. Everything expressible in ANSI SQL carries an
  * oracle — including simhash, whose FNV/fmix64 hash family replays exactly
  * in DuckDB HUGEINT arithmetic; only the xxhash64-based sketches and the
  * recall<1 ANN paths stay rows-only. */
object OperatorQueries {

  import NamedQuery.{rowsOnly, sql}

  /** 64-bit wrapping ops replayed in DuckDB HUGEINT (the FNV-1a + fmix64
    * family of graft_token_hashes_fnv, HashExpressions.scala): XOR via
    * 32-bit halves (DuckDB xor is BIGINT-only), multiply via 32-bit split so
    * no intermediate exceeds HUGEINT's 127-bit range. */
  private def dkXor64(a: String, b: String): String =
    s"(xor((($a // 4294967296) % 4294967296)::BIGINT, (($b // 4294967296) % 4294967296)::BIGINT)::HUGEINT" +
      s" * 4294967296 + xor(($a % 4294967296)::BIGINT, ($b % 4294967296)::BIGINT)::HUGEINT)"

  /** VALUES rows replaying Sketches.RowSeeds as unsigned HUGEINT literals
    * for the CMS oracle: (row, multiplier, offset). */
  private def cmsSeedRows(depth: Int): String =
    Sketches.RowSeeds.take(depth).zipWithIndex.map { case ((a, b), r) =>
      s"($r, ${java.lang.Long.toUnsignedString(a)}::HUGEINT, " +
        s"${java.lang.Long.toUnsignedString(b)}::HUGEINT)"
    }.mkString(",\n        |  ")

  /** The BPE training loop, unrolled into numMerges chained MATERIALIZED
    * CTEs — the exact DuckDB replay of BpeTrainer.learnMerges: iteration t
    * recounts adjacent pairs over vocabulary v{t}, takes the argmax under
    * the identical (count DESC, left ASC, right ASC — binary UTF-8
    * collation both sides) tie order, and rewrites v{t+1} by a left-to-
    * right non-overlapping fold (merging makes the folded tail the merged
    * symbol ≠ left, so overlap is impossible by construction — the same
    * invariant applyMerge's index jump enforces). MATERIALIZED stops the
    * doubly-referenced v{t} CTEs from inlining exponentially. Character
    * basis matches codePointSymbols: DuckDB length/substring are
    * codepoint-granular. */
  private def bpeIterCtes(numMerges: Int): String = {
    val base = """words AS MATERIALIZED (
      |  SELECT w, count(*)::BIGINT AS cnt FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
      |    FROM documents) GROUP BY w),
      |v0 AS MATERIALIZED (
      |  SELECT w, list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)) AS syms, cnt
      |  FROM words)""".stripMargin
    val iters = (0 until numMerges).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT pr[1] AS a, pr[2] AS b, sum(cnt) AS c FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
         |      i -> [syms[i], syms[i+1]])) AS pr, cnt
         |    FROM v$t WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |m$t AS MATERIALIZED (SELECT a, b FROM p$t ORDER BY c DESC, a, b LIMIT 1),
         |v${t + 1} AS MATERIALIZED (
         |  SELECT v.w,
         |    list_reduce(
         |      list_transform(v.syms, s -> [s]),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
         |        THEN list_concat(acc[1:len(acc)-1], [m.a || m.b])
         |        ELSE list_concat(acc, x) END) AS syms,
         |    v.cnt
         |  FROM v$t v CROSS JOIN m$t m)""".stripMargin
    }
    "WITH " + base + ",\n" + iters.mkString(",\n")
  }

  /** A QgramIndex built for one query call: its frames go to the caller's
    * Scope instead of living until `release()`. */
  private def scoped(idx: FuzzyLinkage.QgramIndex): FuzzyLinkage.QgramIndex = {
    Seq(idx.side, idx.dfreq, idx.prefix, idx.prefixCounts, idx.bandedSig, idx.lenHist)
      .foreach(Scope.persist)
    idx
  }

  private def dkMul64(a: String, c: Long): String = {
    val cl = c & 0xffffffffL
    val ch = c >>> 32
    s"((($a % 4294967296) * $cl + ((($a % 4294967296) * $ch + ($a // 4294967296) * $cl)" +
      s" % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)"
  }

  def all: Map[String, NamedQuery] = Map(

    // Dedup.exact over documents: duplicate groups by content digest.
    "x06_dedup_groups" -> sql(
      (s, dir) =>
        Dedup.exact(Tables.documents(s, dir), "text", "doc_id")
          .select("digest", "n_dups", "keep_id")
          .orderBy("digest"),
      """SELECT md5(text) AS digest, count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY text HAVING count(*) > 1 ORDER BY digest""".stripMargin),

    // MinHash-LSH near-duplicate pairs. The banding is a candidate generator;
    // every emitted pair carries its EXACT Jaccard (verified on the full
    // shingle-hash sets), so the oracle is the exact all-pairs computation —
    // a banding recall miss or a hash collision would surface as a row diff.
    "x07_minhash_neardup" -> sql(
      (s, dir) =>
        Dedup.minhashNearDuplicates(Tables.documents(s, dir), "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id_a", "id_b"),
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (sa + sb - c), 4) AS jaccard
        |FROM p WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // Duplicate-cluster resolution: connected components over the minhash
    // near-dup pairs (min-label propagation; cluster id = min doc id). The
    // oracle recomputes the exact all-pairs pair set and closes it with a
    // recursive CTE — so both the pair recall AND the transitive clustering
    // are under test.
    "x25_dup_clusters" -> sql(
      (s, dir) => {
        val pairs = Dedup.minhashNearDuplicates(Tables.documents(s, dir),
          "text", "doc_id", shingleSize = 3, bands = 16, rowsPerBand = 4,
          threshold = 0.5)
        Dedup.duplicateClusters(pairs).orderBy("id")
      },
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM p WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src)
        |SELECT src AS id, least(src, min(dst)) AS cluster
        |FROM reach GROUP BY src ORDER BY id""".stripMargin),

    // SimHash near-duplicate pairs. The pigeonhole banding is exact for
    // hamming <= maxDistance, so the oracle is the exact all-pairs hamming
    // computation over independently-rebuilt fingerprints: DuckDB replays
    // the FNV-1a-over-chars + fmix64 token hashes in HUGEINT mod-2^64
    // arithmetic, takes the per-bit sign vote, and compares 64-bit
    // fingerprints half-by-half — any kernel, banding, or verify bug
    // surfaces as a row diff.
    //
    // BMP-ONLY replay: the CTE below iterates Unicode CODE POINTS
    // (generate_series over length + ascii()), while the Scala kernel
    // (GraftHashUtil.tokenHashesFnv) iterates UTF-16 CODE UNITS — identical
    // for code points < U+10000, divergent for astral-plane text (surrogate
    // pairs hash as two units in the kernel, one point here; the
    // acc%65536 xor c step also assumes c < 2^16). The documents fixtures
    // are BMP, and the kernel side deliberately keeps the code-unit loop
    // (no surrogate decode on the hot path); this oracle is a test-fidelity
    // replay for BMP corpora, not a spec for astral input.
    "x08_simhash_neardup" -> sql(
      (s, dir) =>
        Dedup.simhashNearDuplicates(Tables.documents(s, dir), "text", "doc_id",
          maxDistance = 4)
          .orderBy("id_a", "id_b"),
      s"""WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |fnv AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(generate_series(1, length(tok)), j -> ascii(substring(tok, j, 1))::HUGEINT)),
        |      (acc, c) -> ((((acc // 65536) * 65536 + xor((acc % 65536)::BIGINT, c::BIGINT)::HUGEINT)
        |                    * 1099511628211) % 18446744073709551616::HUGEINT)) AS h0
        |  FROM t),
        |f1 AS (SELECT doc_id, ${dkXor64("h0", "(h0 // 8589934592)")} AS x FROM fnv),
        |f2 AS (SELECT doc_id, ${dkMul64("x", 0xff51afd7ed558ccdL)} AS x FROM f1),
        |f3 AS (SELECT doc_id, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f2),
        |f4 AS (SELECT doc_id, ${dkMul64("x", 0xc4ceb9fe1a85ec53L)} AS x FROM f3),
        |f5 AS (SELECT doc_id, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f4),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (x // CAST(pow(2, b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM f5 CROSS JOIN generate_series(0, 63) g(b) GROUP BY 1, 2),
        |fps AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS HUGEINT) ELSE 0::HUGEINT END) AS fp
        |  FROM bits GROUP BY 1),
        |halves AS (
        |  -- docs with no tokens hash to fingerprint 0 (empty sign vote)
        |  SELECT d.doc_id, (coalesce(fp, 0::HUGEINT) // 4294967296)::BIGINT AS hi,
        |    (coalesce(fp, 0::HUGEINT) % 4294967296)::BIGINT AS lo
        |  FROM documents d LEFT JOIN fps ON d.doc_id = fps.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INTEGER AS hamming
        |FROM halves a JOIN halves b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 4
        |ORDER BY id_a, id_b""".stripMargin),

    // n-gram Jaccard near-duplicate pairs (banded candidates + exact verify).
    // Oracle = exact all-pairs over the distinct char-5-gram sets.
    "x09_ngram_jaccard" -> sql(
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
          n = 5, threshold = 0.8)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id_a", "id_b"),
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS str
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(length(str) - 4, 1)),
        |      i -> substring(str, i, 5))) AS grams
        |  FROM s WHERE length(str) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.grams, b.grams)) AS c,
        |    len(a.grams) AS sa, len(b.grams) AS sb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (sa + sb - c), 4) AS jaccard
        |FROM p WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    // BPE-ish token counting — same regex runs in DuckDB's RE2.
    "x10_token_bpe" -> sql(
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality features (subset with clean SQL equivalents), rounded.
    "x11_quality_features" -> sql(
      (s, dir) => {
        val f = TextAnalysis.qualityFeatures(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            f.getField("n_tokens").as("n_tokens"),
            round(f.getField("chars_per_token"), 4).as("chars_per_token"),
            round(f.getField("alpha_ratio"), 4).as("alpha_ratio"),
            round(f.getField("stopword_ratio"), 4).as("stopword_ratio"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, trim(text) AS txt,
        |    list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(length(txt) AS DOUBLE) / greatest(len(toks), 1), 4) AS chars_per_token,
        |  round(CAST(length(regexp_replace(txt, '[^\p{L}]', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(length(txt) AS DOUBLE), 1.0), 4) AS alpha_ratio,
        |  round(CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it',
        |    'that','was','for','on','are','with','as','his','they','at','be','this'))) AS DOUBLE)
        |        / greatest(len(toks), 1), 4) AS stopword_ratio
        |FROM t ORDER BY doc_id""".stripMargin),

    // Language ID heuristic: argmax stopword-hit ratio across 6 profiles,
    // 'und' below the 5% signal floor — fully replicated in SQL.
    "x12_langid" -> sql(
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
          .groupBy("lang_pred").agg(count(lit(1)).as("n"))
          .orderBy("lang_pred"),
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |langs(lang, ws) AS (VALUES
        |  ('de', ['der','die','das','und','ist','in','den','von','zu','mit','sich','auf','für','nicht','ein','eine','als','auch','es','an']),
        |  ('en', ['the','and','of','to','a','in','is','it','that','was','for','on','are','with','as','his','they','at','be','this']),
        |  ('es', ['el','la','los','las','de','y','que','en','un','una','es','no','por','con','para','se','del','al','lo','como']),
        |  ('fr', ['le','la','les','de','des','du','et','est','un','une','dans','que','qui','pour','sur','pas','au','avec','ce','il']),
        |  ('it', ['il','la','di','e','che','in','un','una','per','non','sono','con','si','del','le','al','come','dei','nel','della']),
        |  ('pt', ['o','a','os','as','de','e','que','em','um','uma','não','por','com','para','se','do','da','no','na','dos'])),
        |counts AS (
        |  SELECT t.doc_id, len(t.toks) AS n, l.lang,
        |    len(list_filter(t.toks, x -> list_contains(l.ws, x))) AS c
        |  FROM t, langs l),
        |best AS (
        |  SELECT doc_id, n, lang, c,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lang) AS rn
        |  FROM counts),
        |pred AS (
        |  SELECT CASE WHEN n = 0 OR c = 0 OR c * 100 < 5 * n THEN 'und' ELSE lang END AS lang_pred
        |  FROM best WHERE rn = 1)
        |SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),

    // Brute-force cosine top-k over embeddings: the ANN correctness baseline.
    // Queries = 20 lowest vec_ids, broadcast against the corpus. The oracle
    // reproduces the same double-precision left-to-right dot products —
    // verified bit-for-bit before rounding at sf0.01.
    "x13_cosine_topk" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.orderBy("vec_id").limit(20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "qid", "qvec", k = 5)
          .select(col("qid"), col("vec_id"), round(col("sim"), 4).as("sim"),
            col("rank").cast("long").as("rank"))
          .orderBy("qid", "rank")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qvec FROM emb ORDER BY vec_id LIMIT 20),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |  FROM q JOIN emb e ON e.vec_id <> q.qid),
        |ranked AS (SELECT qid, vec_id, round(sim, 4) AS sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    // LSH-bucketed ANN (hyperplane sketches) — the scale path. Same
    // oracle philosophy as x07's minhash banding: the LSH tables are a
    // candidate GENERATOR and every candidate is scored with the exact
    // cosine, so the oracle is the exact top-k itself (x13's SQL) — a
    // banding recall miss would surface as a missing/shifted row. At
    // nBits=8/probe=3/8 tables the measured recall@5 is 1.0 on this corpus
    // family (sf0.001–0.1) while the candidate fraction stays well under
    // the brute-force all-pairs volume; RecallSpec separately pins the
    // ≥0.90 floor at the leaner production setting (probe=2).
    "x14_cosine_lsh_topk" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.orderBy("vec_id").limit(20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          "qid", "qvec", k = 5, nBits = 8, probeHamming = 3, dim = 64, nTables = 8)
          .select(col("qid"), col("vec_id"), round(col("sim"), 4).as("sim"),
            col("rank").cast("long").as("rank"))
          .orderBy("qid", "rank")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qvec FROM emb ORDER BY vec_id LIMIT 20),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |  FROM q JOIN emb e ON e.vec_id <> q.qid),
        |ranked AS (SELECT qid, vec_id, round(sim, 4) AS sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    // IVF ANN top-k over the deterministic PIVOT quantizer: cells anchor at
    // the 16 corpus vectors with the smallest md5("v1:"||id), assignment is
    // argmin-L2, each query probes its 4 nearest cells. Because no stage
    // involves RNG or an iterative fit, the oracle replays the ENTIRE
    // algorithm — pivot pick, cell assignment (same left-to-right double
    // L2), probe ranking, within-cell exact cosine, top-k — so both engines
    // agree on exactly which neighbors IVF-at-these-parameters finds (the
    // x80 SNM replay philosophy; recall <1 is part of the replayed
    // contract, not an unchecked gap). The Lloyd-fitted quantizer remains
    // the quality path, pinned by RecallSpec/AnnScaleSpec.
    "x16_cosine_ivf_topk" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.orderBy("vec_id").limit(20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.ivfTopKPivots(emb, queries, "vec_id", "embedding",
          "qid", "qvec", k = 5, nCells = 16, nProbe = 4, seed = "v1")
          .select(col("qid"), col("vec_id"), round(col("sim"), 4).as("sim"),
            col("rank").cast("long").as("rank"))
          .orderBy("qid", "rank")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |pv AS (
        |  SELECT vec_id AS pid, embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        |  FROM emb),
        |piv AS (SELECT pid, pvec, cell FROM pv WHERE cell < 16),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, p.cell,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |        i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |           * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), p.cell) AS rn
        |  FROM emb e CROSS JOIN piv p),
        |cells AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, embedding AS qvec FROM emb ORDER BY vec_id LIMIT 20),
        |pr AS (
        |  SELECT q.qid, q.qvec, p.cell,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(q.qvec)),
        |        i -> (q.qvec[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |           * (q.qvec[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), p.cell) AS rn
        |  FROM q CROSS JOIN piv p),
        |probes AS (SELECT qid, qvec, cell FROM pr WHERE rn <= 4),
        |sc AS (
        |  SELECT pb.qid, c.vec_id,
        |    list_dot_product(pb.qvec::DOUBLE[], c.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(pb.qvec::DOUBLE[], pb.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
        |  FROM probes pb JOIN cells c USING (cell)
        |  WHERE c.vec_id <> pb.qid),
        |ranked AS (SELECT qid, vec_id, round(sim, 4) AS sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM sc)
        |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    // Multimodal plumbing through the query surface: documents become
    // binary media blobs (deterministic), flow through the stub codec's
    // probe + feature extraction, and the pseudo-embeddings feed the same
    // near-dup machinery as real embeddings would. The oracle replays the
    // stub codec's wrapping 64-bit byte arithmetic in HUGEINT and compares
    // the integer feature sums (each float feature encodes an integer
    // k∈[0,2000), recovered exactly — no float-rounding ambiguity).
    "x18_multimodal_features" -> sql(
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"), lit("image").as("kind"),
            col("text").cast("binary").as("bytes"),
            struct(lit(null).cast("string").as("format"),
              lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
              lit(null).cast("long").as("duration_ms")).as("meta"))
        val probed = Multimodal.withProbedMeta(Multimodal.repartitionBySize(media, 32))
        val feats = Multimodal.extractFeatures(probed, dim = 16)
        feats.select(col("media_id"),
          aggregate(col("embedding"), lit(0L),
            (a, v) => a + round((v.cast("double") + 1.0d) * 1000.0d).cast("long"))
            .as("feat_ksum"))
          .orderBy("media_id")
      },
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |dims AS (SELECT doc_id, text, n, unnest(generate_series(0, 15)) AS d FROM t),
        |accs AS (
        |  SELECT doc_id, d,
        |    list_reduce(
        |      list_prepend(1125899906842597::HUGEINT,
        |        list_transform(generate_series(d + 1, n, 16),
        |          j -> ascii(substring(text, j, 1))::HUGEINT)),
        |      (acc, b) -> (31 * acc + b) % 18446744073709551616::HUGEINT) AS acc
        |  FROM dims),
        |ks AS (
        |  SELECT doc_id,
        |    CAST(((
        |      (CASE WHEN acc >= 9223372036854775808::HUGEINT
        |            THEN acc - 18446744073709551616::HUGEINT ELSE acc END) % 2000)
        |      + 2000) % 2000 AS BIGINT) AS k
        |  FROM accs)
        |SELECT doc_id AS media_id, CAST(sum(k) AS BIGINT) AS feat_ksum
        |FROM ks GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // The composed training-data pipeline: quality -> lang -> exact dedup ->
    // near dedup -> token accounting, reported as one row. The oracle
    // recomputes every stage in SQL — quality score formula included — with
    // the near-dup stage as exact all-pairs shingle Jaccard CLOSED
    // transitively (so the minhash banding's recall AND the component
    // collapse are under test).
    "x17_training_pipeline" -> sql(
      (s, dir) => {
        val (_, r) = TrainingDataPipeline.clean(
          Tables.documents(s, dir), minQuality = 0.2, nearDupThreshold = 0.8,
          retainResult = false)
        import s.implicits._
        Seq((r.input, r.afterQuality, r.afterLang, r.afterExactDedup,
          r.afterNearDedup, r.totalTokens))
          .toDF("input", "after_quality", "after_lang", "after_exact_dedup",
            "after_near_dedup", "total_tokens")
      },
      """WITH RECURSIVE f AS (
        |  SELECT doc_id, text, trim(text) AS txt,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, text, len(toks) AS n_tok_raw,
        |    CAST(length(txt) AS DOUBLE) / greatest(len(toks), 1) AS cpt,
        |    CAST(length(regexp_replace(txt, '[^\p{L}]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS alpha_ratio,
        |    CAST(length(regexp_replace(txt, '[^\p{N}]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS digit_ratio,
        |    CAST(length(regexp_replace(txt, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it',
        |      'that','was','for','on','are','with','as','his','they','at','be','this'))) AS DOUBLE)
        |      / greatest(len(toks), 1) AS stop_ratio
        |  FROM f),
        |scored AS (
        |  SELECT doc_id, text, n_tok_raw,
        |    round(
        |      (CASE WHEN cpt BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |      least(alpha_ratio * 1.25, 1.0) * 0.35 +
        |      greatest(0.0, 1.0 - (digit_ratio + punct_ratio) * 2) * 0.25 +
        |      least(stop_ratio * 4, 1.0) * 0.15, 4) AS q
        |  FROM feat),
        |gated AS (SELECT * FROM scored WHERE q >= 0.2),
        |exact AS (
        |  SELECT min(doc_id) AS doc_id, max(n_tok_raw) AS n_tok,
        |    first(text ORDER BY doc_id) AS text
        |  FROM gated GROUP BY text),
        |sh AS (
        |  SELECT e.doc_id, e.n_tok,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS s
        |  FROM exact e, LATERAL (SELECT list_filter(
        |    string_split_regex(lower(trim(e.text)), '\s+'), x -> x <> '') AS toks) t
        |  WHERE len(toks) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src),
        |dropped AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) < src),
        |survivors AS (
        |  SELECT e.doc_id, e.n_tok FROM exact e
        |  WHERE e.doc_id NOT IN (SELECT doc_id FROM dropped))
        |SELECT
        |  (SELECT count(*) FROM documents) AS input,
        |  (SELECT count(*) FROM gated) AS after_quality,
        |  (SELECT count(*) FROM gated) AS after_lang,
        |  (SELECT count(*) FROM exact) AS after_exact_dedup,
        |  (SELECT count(*) FROM survivors) AS after_near_dedup,
        |  (SELECT CAST(sum(n_tok) AS BIGINT) FROM survivors) AS total_tokens""".stripMargin),

    // PII redaction: deterministic synthetic PII is appended to every doc so
    // the scrub actually fires; the oracle runs the same Java∩RE2 regex
    // pipeline and must reproduce the redacted text byte-for-byte (md5).
    "x19_pii_redact" -> sql(
      (s, dir) => {
        val dirty = concat(col("text"),
          lit(" contact: user"), col("doc_id"), lit("@example.com or 10.0."),
          col("doc_id") % 256, lit(".1 tel +33 1 23 45 67 "), col("doc_id") % 90 + 10)
        Tables.documents(s, dir)
          .select(col("doc_id"), md5(TextAnalysis.redactPii(dirty)).as("red_md5"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact: user' || doc_id || '@example.com or 10.0.' ||
        |      (doc_id % 256) || '.1 tel +33 1 23 45 67 ' || (doc_id % 90 + 10),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d .()-]{7,}\d', '<PHONE>', 'g')) AS red_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Gopher repetition filters: duplicate-token share + top-bigram share,
    // one native pass per row; the oracle rebuilds both from list ops.
    "x20_repetition" -> sql(
      (s, dir) => {
        val r = TextAnalysis.repetitionStats(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            round(r.getField("dup_token_ratio"), 4).as("dup_token_ratio"),
            round(r.getField("top_bigram_ratio"), 4).as("top_bigram_ratio"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || chr(31) || toks[i+1])) AS g
        |  FROM t WHERE len(toks) >= 2),
        |top AS (
        |  SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g) GROUP BY doc_id)
        |SELECT t.doc_id,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 4)
        |    AS dup_token_ratio,
        |  round(CASE WHEN len(toks) < 2 THEN 0.0
        |    ELSE CAST(top.top_c AS DOUBLE) / (len(toks) - 1) END, 4) AS top_bigram_ratio
        |FROM t LEFT JOIN top ON t.doc_id = top.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // Benchmark decontamination: distinct char-13-gram overlap of every
    // corpus doc against a broadcast benchmark gram set (first 20 docs act
    // as the "eval set"); oracle recomputes with exact gram strings.
    "x21_contamination" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.where(col("doc_id") < 20)
        val corpus = docs.where(col("doc_id") >= 20)
        TextAnalysis.benchmarkOverlap(corpus, bench, "text", "doc_id", n = 13)
          .where(col("overlap_ratio") >= 0.3)
          .select(col("doc_id"), round(col("overlap_ratio"), 4).as("overlap_ratio"))
          .orderBy("doc_id")
      },
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS str
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(length(str) - 12, 1)),
        |      i -> substring(str, i, 13))) AS grams
        |  FROM s WHERE length(str) > 0),
        |bench AS (
        |  SELECT list_distinct(flatten(list(grams))) AS bg FROM g WHERE doc_id < 20),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(len(list_intersect(grams, bench.bg)) AS DOUBLE) / len(grams) AS r
        |  FROM g, bench WHERE doc_id >= 20)
        |SELECT doc_id, round(r, 4) AS overlap_ratio
        |FROM scored WHERE r >= 0.3 ORDER BY doc_id""".stripMargin),

    // Embedding similar-pair mining. This corpus's pairwise sims live in
    // [0.3, 0.5) — MID-similarity, not near-dup — so the entry runs the
    // operator built for that regime: IVF cell blocking (Σ cell² ≈
    // n²/nCentroids candidate cost at ANY threshold), not low-threshold
    // hyperplane LSH, whose sketches must shrink so far to keep recall at
    // sim 0.3 that the bucket join saturates at ~10⁴ vectors
    // (cosineNearDuplicates doc — that operator stays the right tool at its
    // designed threshold >= 0.9, and RecallSpec keeps the 0.3 LSH stress
    // case as a measured-recall exercise). Sims are exact cosines; recall
    // floor at these parameters is pinned in RecallSpec. Honest cost note:
    // this fixture's vectors are iid-random (no cluster structure), so
    // holding recall >= 0.85 at sim 0.3 forces the rotated cells to cover
    // ~half of ALL pairs — the sf0.1 wall time (~3.5 s) is that coverage,
    // not plan waste (PlanAuditSpec pins the single inline-scoring join).
    // On corpora with real cluster structure the same parameters cover a
    // small fraction of pairs, and nCentroids dials volume linearly.
    "x15_embedding_neardup" -> rowsOnly(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // occupancy-constant setting: nCentroids tracks n so Σ cell² (the
        // candidate volume) stays ~linear in corpus size — the dial
        // BENCH_scale.md measures (exponent 1.85 at a fixed 8 → 1.19
        // scaled). At the test SFs (≤ 2 000 vectors) this resolves to the
        // shipped 8, so the recall pins and the benched output are
        // unchanged; the count is a column-pruned metadata scan.
        val nc = math.max(8, (emb.count() / 250).toInt)
        Similarity.cellBlockedPairs(emb,
          "vec_id", "embedding", threshold = 0.3, nCentroids = nc, passes = 6)
          .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
          .orderBy("id_a", "id_b")
      }),

    // Token-budgeted shard assignment: shard = exclusive-prefix-sum(tokens,
    // ordered by doc_id) div budget. The Spark side computes the prefix sum
    // with the two-phase distributed recipe (range partitions + offsets);
    // the oracle is the direct global window — identical integer math.
    "x22_token_shards" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tokens"))
        Sharding.assignShards(docs, "doc_id", "n_tokens", budget = 5000L)
          .select("doc_id", "n_tokens", "shard")
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  (coalesce(sum(CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT))
        |     OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   // 5000)::BIGINT AS shard
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Mixture sampling: language-routed deterministic downsampling (en kept
    // at 1/4, und at 1/2 — exact binary fractions so the md5-hex thresholds
    // replay exactly). Oracle rebuilds the stopword-argmax language id (same
    // replay as x12) and applies the same md5 threshold.
    "x23_mixture_sample" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
        MixtureSampling.sampleByRates(docs, "lang", "doc_id",
          rates = Map("en" -> 0.25, "und" -> 0.5), defaultRate = 1.0)
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |langs(lang, ws) AS (VALUES
        |  ('de', ['der','die','das','und','ist','in','den','von','zu','mit','sich','auf','für','nicht','ein','eine','als','auch','es','an']),
        |  ('en', ['the','and','of','to','a','in','is','it','that','was','for','on','are','with','as','his','they','at','be','this']),
        |  ('es', ['el','la','los','las','de','y','que','en','un','una','es','no','por','con','para','se','del','al','lo','como']),
        |  ('fr', ['le','la','les','de','des','du','et','est','un','une','dans','que','qui','pour','sur','pas','au','avec','ce','il']),
        |  ('it', ['il','la','di','e','che','in','un','una','per','non','sono','con','si','del','le','al','come','dei','nel','della']),
        |  ('pt', ['o','a','os','as','de','e','que','em','um','uma','não','por','com','para','se','do','da','no','na','dos'])),
        |counts AS (
        |  SELECT t.doc_id, len(t.toks) AS n, l.lang,
        |    len(list_filter(t.toks, x -> list_contains(l.ws, x))) AS c
        |  FROM t, langs l),
        |best AS (
        |  SELECT doc_id, n, lang, c,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lang) AS rn
        |  FROM counts),
        |pred AS (
        |  SELECT doc_id,
        |    CASE WHEN n = 0 OR c = 0 OR c * 100 < 5 * n THEN 'und' ELSE lang END AS lang
        |  FROM best WHERE rn = 1)
        |SELECT doc_id, lang FROM pred
        |WHERE CASE lang
        |  WHEN 'en' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |  WHEN 'und' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        |  ELSE true END
        |ORDER BY doc_id""".stripMargin),

    // Greedy sequence packing into context-window bins, two-level: coarse
    // order-preserving shards (distributed prefix sum) then first-fit within
    // each bounded shard. Deterministic end to end, so the oracle replays
    // BOTH levels: the shard window plus the greedy fold as a list_reduce
    // over a flat [bin, fill, bins...] state (DuckDB 1.0 mangles struct
    // accumulators that hold lists — the flat encoding is deliberate).
    "x24_sequence_pack" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tokens"))
        SequencePacking.packGreedy(docs, "doc_id", "n_tokens",
          contextLen = 2000L, shardBudget = 10000L)
          .orderBy("doc_id")
      },
      """WITH docs AS (
        |  SELECT doc_id, CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |    (coalesce(sum(CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT))
        |       OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     // 10000)::BIGINT AS shard
        |  FROM documents),
        |g AS (
        |  SELECT shard,
        |    list(doc_id ORDER BY doc_id) AS ids,
        |    list(n_tokens ORDER BY doc_id) AS toks
        |  FROM docs GROUP BY shard),
        |packed AS (
        |  SELECT shard, ids, toks,
        |    list_reduce(
        |      list_prepend([0, 0]::BIGINT[], list_transform(toks, t -> [t]::BIGINT[])),
        |      (acc, x) -> CASE
        |        WHEN acc[2] > 0 AND acc[2] + x[1] > 2000
        |          THEN list_concat([acc[1] + 1, x[1]], list_append(acc[3:], acc[1] + 1))
        |        ELSE list_concat([acc[1], acc[2] + x[1]], list_append(acc[3:], acc[1]))
        |      END)[3:] AS bins
        |  FROM g),
        |flat AS (
        |  SELECT shard, unnest(ids) AS doc_id, unnest(toks) AS n_tokens, unnest(bins) AS bin
        |  FROM packed)
        |SELECT doc_id, n_tokens, shard, bin FROM flat ORDER BY doc_id""".stripMargin),

    // Bigram-LM quality scoring (the CCNet-style perplexity filter): the
    // oracle rebuilds the same self-trained Laplace-smoothed counts and
    // replays the avg-ln scoring; rounded to 4 decimals on both sides so
    // ln() last-ulp differences between engines cannot flip the hash.
    "x26_ngram_lm_score" -> sql(
      (s, dir) => {
        NgramLm.bigramLmScore(Tables.documents(s, dir), "text", "doc_id")
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS b
        |  FROM t WHERE len(toks) >= 2),
        |uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
        |bc AS (SELECT b, count(*) AS c2 FROM bi GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni)
        |SELECT doc_id, round(avg(ln((c2 + 1.0) / (c1 + v))), 4) AS lm_score,
        |  CAST(count(*) AS BIGINT) AS n_bigrams
        |FROM bi JOIN bc USING (b)
        |JOIN uni ON string_split(bi.b, ' ')[1] = uni.w
        |CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Context-window chunking with overlap (maxTokens=64, overlap=16): the
    // oracle replays the chunk-index arithmetic and the verbatim token
    // slices; chunk_text equality catches both boundary and tokenization
    // drift.
    "x27_doc_chunks" -> sql(
      (s, dir) =>
        Chunking.chunkByTokens(Tables.documents(s, dir), "text", "doc_id",
          maxTokens = 64, overlap = 16)
          .orderBy("doc_id", "chunk_idx"),
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(generate_series(0, greatest(0, (len(toks) - 64 + 47) // 48))) AS i
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin),

    // Stratified exact-k quota sampling (k=10 per synthetic category):
    // md5-ordered rank within stratum — deterministic where x23's
    // rate-based sampling is probabilistic; the oracle is the same rank.
    "x28_stratified_sample" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), (col("doc_id") % 7).as("cat"))
        MixtureSampling.stratifiedExactK(docs, "cat", "doc_id", k = 10)
          .select("cat", "doc_id")
          .orderBy("cat", "doc_id")
      },
      """SELECT cat, doc_id FROM (
        |  SELECT doc_id % 7 AS cat, doc_id,
        |    row_number() OVER (PARTITION BY doc_id % 7
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10 ORDER BY cat, doc_id""".stripMargin),

    // Corpus-level line dedup (boilerplate removal): documents get
    // deterministic 12-token "lines" (the fixtures carry no newlines), then
    // every line appearing in ≥2 distinct documents is removed and the
    // documents reassemble in order. Exact/near-duplicate documents share
    // all/most lines, so the op visibly rewrites them. The oracle replays
    // the lining, the distinct-doc frequency, and the ordered reassembly
    // with string keys (the Spark side joins on xxhash64 of the line —
    // the comparison proves the hashed path exact).
    "x29_line_dedup" -> sql(
      (s, dir) => {
        val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
        val lined = Tables.documents(s, dir)
          .select(col("doc_id"), toks.as("t"))
          .where(size(col("t")) > 0)
          .select(col("doc_id"), concat_ws("\n",
            transform(
              sequence(lit(0L),
                ceil(size(col("t")).cast("double") / 12.0).cast("long") - 1),
              i => concat_ws(" ", slice(col("t"), (i * 12 + 1).cast("int"), lit(12)))))
            .as("text"))
        LineDedup.dropCommonLines(lined, "text", "doc_id")
          .orderBy("doc_id")
      },
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |    generate_series(0, CAST(ceil(len(toks) / 12.0) AS INT) - 1),
        |    i -> array_to_string(list_slice(toks, i*12+1, i*12+12), ' ')), chr(10)) AS text
        |  FROM t0 WHERE len(toks) > 0),
        |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
        |lx AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos, ls FROM t),
        |l2 AS (SELECT doc_id, pos, trim(ls[pos]) AS line FROM lx),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS df FROM l2 GROUP BY 1),
        |flt AS (SELECT doc_id, pos, l2.line, df FROM l2 JOIN freq USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN df < 2 THEN line END, chr(10) ORDER BY pos), '') AS cleaned_text,
        |  CAST(count(*) FILTER (WHERE df < 2) AS BIGINT) AS n_lines_kept,
        |  CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT) AS n_lines_dropped
        |FROM flt GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Budget-capped mixture (UniMax-style water-filling): a 250-doc budget
    // over skewed synthetic sources (~300/150/50) keeps the small source
    // whole and caps the large ones at the common level — the oracle
    // re-derives the level with the same ordered-walk arithmetic (identical
    // integer inputs → identical doubles → identical floor) and replays the
    // md5-rank selection.
    "x30_budget_mixture" -> sql(
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 10 < 6, "big")
            .when(col("doc_id") % 10 < 9, "mid")
            .otherwise("small").as("cat"))
        MixtureSampling.sampleBudgetCapped(base, "cat", "doc_id", budget = 250L)
          .select("cat", "doc_id")
          .orderBy("cat", "doc_id")
      },
      """WITH base AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 < 6 THEN 'big'
        |                      WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'small' END AS cat
        |  FROM documents),
        |counts AS (SELECT cat, count(*) AS n FROM base GROUP BY 1),
        |ordered AS (
        |  SELECT cat, n,
        |    row_number() OVER (ORDER BY n, cat) AS i,
        |    coalesce(sum(n) OVER (ORDER BY n, cat
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre,
        |    count(*) OVER () AS m
        |  FROM counts),
        |lvl AS (
        |  SELECT (250 - pre) / (m - i + 1.0) AS level FROM ordered
        |  WHERE (250 - pre) / (m - i + 1.0) <= n ORDER BY i LIMIT 1),
        |quotas AS (
        |  SELECT cat, CAST(least(CAST(n AS DOUBLE),
        |    floor(coalesce((SELECT level FROM lvl), 1e18))) AS BIGINT) AS q
        |  FROM counts),
        |ranked AS (
        |  SELECT b.cat, b.doc_id,
        |    row_number() OVER (PARTITION BY b.cat
        |      ORDER BY md5(CAST(b.doc_id AS VARCHAR)), b.doc_id) AS rk
        |  FROM base b)
        |SELECT r.cat, r.doc_id FROM ranked r JOIN quotas USING (cat)
        |WHERE r.rk <= q ORDER BY cat, doc_id""".stripMargin),

    // Cross-corpus near-dup (doc-level train/eval decontamination): the
    // corpus splits into train (4/5) and eval (1/5) halves; banded minhash
    // buckets join ACROSS the halves and candidates verify with the exact
    // shingle Jaccard. Banding at threshold 0.5 uses b=16/r=2 (collision
    // P at s=0.5 per band 0.25 → 1-(0.75)^16 = 0.99); the oracle is the
    // exact all-pairs cross join.
    "x31_cross_corpus_neardup" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val train = docs.where(col("doc_id") % 5 =!= 0)
        val eval_ = docs.where(col("doc_id") % 5 === 0)
        Dedup.minhashNearDuplicatesAcross(train, eval_, "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id_left", "id_right")
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |l AS (SELECT doc_id, sh FROM g WHERE doc_id % 5 <> 0),
        |r AS (SELECT doc_id, sh FROM g WHERE doc_id % 5 = 0)
        |SELECT l.doc_id AS id_left, r.doc_id AS id_right,
        |  round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |    (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))), 4) AS jaccard
        |FROM l JOIN r ON TRUE
        |WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |  (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) >= 0.5
        |ORDER BY id_left, id_right""".stripMargin),

    // Vocabulary construction: corpus term + document frequencies, top 100
    // by total occurrences. Map-side partial aggregation collapses stopword
    // skew before the exchange; the oracle replays the same whitespace
    // tokenization.
    "x32_vocab_topk" -> sql(
      (s, dir) =>
        Vocabulary.termStats(Tables.documents(s, dir), "text", "doc_id")
          .orderBy(desc("tf"), col("term"))
          .limit(100),
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS tf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM toks GROUP BY term ORDER BY tf DESC, term LIMIT 100""".stripMargin),

    // Per-document TF-IDF top-3 keyword extraction. Ranking runs on the
    // score ROUNDED to 4 decimals (term tie-break) so a last-ulp ln()
    // difference between engines cannot reorder the top-k — the oracle
    // replays the identical rounded ranking.
    "x33_tfidf_topk" -> sql(
      (s, dir) =>
        Vocabulary.tfIdfTopTerms(Tables.documents(s, dir), "text", "doc_id", k = 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id", "rank"),
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf,
        |  CAST(df AS BIGINT) AS df, score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // Deterministic global shuffle (training order): position = dense rank
    // over md5(seed:id). The Spark side computes it with the two-phase
    // distributed prefix-count (range partition + offsets), never a global
    // single-partition window; the oracle IS that global window.
    "x34_global_shuffle" -> sql(
      (s, dir) => {
        Sharding.shufflePositions(
          Tables.documents(s, dir).select("doc_id"), "doc_id", seed = "42")
          .select("doc_id", "pos")
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Per-source token cap (the C4-style domain cap): within each source,
    // keep documents in md5 order while the running token total stays under
    // the budget. The oracle replays the same cumulative-sum window and
    // boundary rule.
    "x35_source_token_cap" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tokens"))
        MixtureSampling.capTokensPerKey(docs, "source", "doc_id", "n_tokens",
          budget = 4000L)
          .select("source", "doc_id", "n_tokens")
          .orderBy("source", "doc_id")
      },
      """SELECT source, doc_id, n_tokens FROM (
        |  SELECT source, doc_id,
        |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |    coalesce(sum(CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT))
        |      OVER (PARTITION BY source
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_tok
        |  FROM documents) t
        |WHERE before_tok < 4000
        |ORDER BY source, doc_id""".stripMargin),

    // Composed SERVING pipeline — the output-side counterpart of x17's
    // cleaning funnel: chunk documents into context windows (x27's
    // arithmetic), assign token-budgeted shards by distributed prefix sum
    // (x22), greedy-pack chunks into context bins within each shard (x24),
    // then give every bin a deterministic training-order position via the
    // md5 global shuffle (x34). The oracle replays ALL four stages in one
    // SQL statement — chunk indexing, prefix-sum sharding, the list_reduce
    // greedy fold, and the row_number shuffle order. chunk_id packs
    // (doc_id, chunk_idx) into one long with a 2^20 chunks/doc base — a doc
    // would need ~50M tokens to overflow it, and the guard below raises
    // rather than silently colliding ids (the null branch coerces, the
    // error fires per offending row). Both halves of the packing are
    // guarded: chunk_idx must fit the base AND doc_id * base must fit a
    // Long (doc_id beyond ~2^43 would otherwise wrap silently).
    "x37_serving_pipeline" -> sql(
      (s, dir) => {
        val base = 1048576L // 2^20
        val maxDocId = Long.MaxValue / base
        val chunks = Chunking.chunkByTokens(Tables.documents(s, dir),
          "text", "doc_id", maxTokens = 64, overlap = 16)
          .withColumn("chunk_id",
            when(col("chunk_idx") >= base, raise_error(
              lit("x37: document exceeds 2^20 chunks; raise the packing base")))
              .when(col("doc_id") > maxDocId || col("doc_id") < 0, raise_error(
                lit("x37: doc_id exceeds Long.MaxValue / 2^20; packed chunk_id would overflow")))
              .otherwise(col("doc_id") * base + col("chunk_idx")))
        // packed feeds BOTH the bin-order pass and the final join — cache it
        // so the groupByKey pack shuffle runs once
        val packed = Scope.persist(SequencePacking.packGreedy(
          chunks.select(col("chunk_id"), col("n_tokens")),
          "chunk_id", "n_tokens", contextLen = 64L, shardBudget = 4096L))
        val bins = packed.select(col("shard"), col("bin")).distinct()
          .withColumn("bin_key", col("shard") * 1048576L + col("bin"))
        val order = Sharding.shufflePositions(bins, "bin_key", seed = "v1")
          .withColumnRenamed("pos", "bin_pos")
          .select("shard", "bin", "bin_pos")
        packed.join(order, Seq("shard", "bin"))
          .select(
            // integral div: fp division would lose precision past 2^53
            expr(s"chunk_id div $base").as("doc_id"),
            (col("chunk_id") % base).as("chunk_idx"),
            col("n_tokens"), col("shard"), col("bin"), col("bin_pos"))
          .orderBy("doc_id", "chunk_idx")
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, len(toks) AS n,
        |    unnest(generate_series(0, greatest(0, (len(toks) - 64 + 47) // 48))) AS i
        |  FROM t WHERE len(toks) > 0),
        |chunks AS (
        |  SELECT doc_id * 1048576 + i AS chunk_id,
        |    CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens
        |  FROM k),
        |sharded AS (
        |  SELECT *, (coalesce(sum(n_tokens) OVER (ORDER BY chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096)::BIGINT AS shard
        |  FROM chunks),
        |g AS (
        |  SELECT shard, list(chunk_id ORDER BY chunk_id) AS ids,
        |    list(n_tokens ORDER BY chunk_id) AS toks
        |  FROM sharded GROUP BY shard),
        |packed AS (
        |  SELECT shard, ids, toks,
        |    list_reduce(
        |      list_prepend([0, 0]::BIGINT[], list_transform(toks, t -> [t]::BIGINT[])),
        |      (acc, x) -> CASE
        |        WHEN acc[2] > 0 AND acc[2] + x[1] > 64
        |          THEN list_concat([acc[1] + 1, x[1]], list_append(acc[3:], acc[1] + 1))
        |        ELSE list_concat([acc[1], acc[2] + x[1]], list_append(acc[3:], acc[1]))
        |      END)[3:] AS bins
        |  FROM g),
        |flat AS (
        |  SELECT shard, unnest(ids) AS chunk_id, unnest(toks) AS n_tokens, unnest(bins) AS bin
        |  FROM packed),
        |bk AS (SELECT DISTINCT shard, bin, shard * 1048576 + bin AS bin_key FROM flat),
        |ordered AS (
        |  SELECT shard, bin,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(bin_key AS VARCHAR)), bin_key) - 1 AS bin_pos
        |  FROM bk)
        |SELECT chunk_id // 1048576 AS doc_id, chunk_id % 1048576 AS chunk_idx,
        |  n_tokens, f.shard, f.bin, o.bin_pos
        |FROM flat f JOIN ordered o ON f.shard = o.shard AND f.bin = o.bin
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // Percentile-band quality trim: drop the bottom and top 5% of documents
    // by a quality measure, thresholds chosen as EXACT order statistics
    // (rank floor(n/20)+1 from each end, picked via TakeOrdered — no
    // interpolation arithmetic, so both engines compute bit-identical
    // thresholds and the boundary set is deterministic; contrast d23, which
    // pins the interpolated form under rounding). Two-pass shape: pass 1
    // reduces to two 1-row threshold tables that broadcast into pass 2's
    // scan — the standard scale pattern for data-dependent filters (never a
    // global sort or single-partition window).
    "x38_quality_trim" -> sql(
      (s, dir) => {
        val tokens = size(expr("regexp_extract_all(text, '\\\\S+', 0)"))
        val scored = Tables.documents(s, dir)
          .where(tokens > 0)
          .select(col("doc_id"),
            round(col("n_chars").cast("double") / tokens.cast("double"), 4).as("q"))
        val n = scored.count()
        val kBand = (n / 20L + 1L).toInt
        val lo = scored.orderBy(col("q"), col("doc_id")).limit(kBand)
          .agg(max("q").as("lo"))
        val hi = scored.orderBy(desc("q"), desc("doc_id")).limit(kBand)
          .agg(min("q").as("hi"))
        scored.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .where(col("q") >= col("lo") && col("q") <= col("hi"))
          .select("doc_id", "q")
          .orderBy("doc_id")
      },
      """WITH scored AS (
        |  SELECT doc_id,
        |    round(CAST(n_chars AS DOUBLE) / len(regexp_extract_all(text, '\S+')), 4) AS q
        |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
        |n AS (SELECT count(*) AS n FROM scored),
        |lo AS (SELECT max(q) AS lo FROM
        |  (SELECT q FROM scored ORDER BY q, doc_id LIMIT (SELECT n // 20 + 1 FROM n))),
        |hi AS (SELECT min(q) AS hi FROM
        |  (SELECT q FROM scored ORDER BY q DESC, doc_id DESC LIMIT (SELECT n // 20 + 1 FROM n)))
        |SELECT doc_id, q FROM scored, lo, hi
        |WHERE q >= lo AND q <= hi ORDER BY doc_id""".stripMargin),

    // Int8 embedding quantization, one row per (vector, dimension): the
    // oracle replays max-abs scaling and the floor(v + 0.5) rounding —
    // all exactly-specified IEEE double ops, so the codes hash-match
    // bit-for-bit across engines.
    "x39_quantize_int8" -> sql(
      (s, dir) =>
        Similarity.quantizeInt8Rows(Tables.embeddings(s, dir), "vec_id", "embedding")
          .withColumnRenamed("id", "vec_id")
          .orderBy("vec_id", "i"),
      """WITH ex AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS scale,
        |    unnest(generate_series(1, len(embedding))) AS j
        |  FROM embeddings)
        |SELECT vec_id, CAST(j - 1 AS INT) AS i,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |       ELSE floor(CAST(embedding[j] AS DOUBLE) / scale + 0.5) END AS INT) AS q,
        |  round(scale, 6) AS scale
        |FROM ex ORDER BY vec_id, i""".stripMargin),

    // HLL-sketch distinct counting (SURVEY §2-D's "free in Spark" list):
    // approx_count_distinct = HyperLogLog++, a mergeable sketch whose
    // partial aggregation makes distinct-counting one map-side-combining
    // pass at any scale (exact count_distinct shuffles every distinct
    // value). Rows-only in the driver gate — DuckDB's approx_count_distinct
    // is a different HLL implementation, so the values cannot hash-match;
    // ApproxDistinctSpec pins the ±2% rsd contract against the exact counts.
    "x36_approx_distinct" -> rowsOnly(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(
            approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
            approx_count_distinct(col("value"), rsd = 0.02).as("approx_values"))
          .orderBy("event_type")),

    // BPE merge learning (tokenizer training): 64 merges over the corpus.
    // The iterative argmax loop has no SINGLE-statement SQL form, but it
    // unrolls: the oracle replays all 64 rounds as chained CTEs
    // (bpeIterCtes) — pair recount, argmax under the identical tie order,
    // LTR-non-overlapping rewrite — so the full merge SEQUENCE is
    // hash-checked, not just pinned by BpeTrainerSpec's reference
    // cross-check.
    "x40_bpe_merges" -> sql(
      (s, dir) =>
        BpeTrainer.mergeTable(Tables.documents(s, dir), "text", numMerges = 64)
          .orderBy("rank"),
      bpeIterCtes(64) + "\n" +
        (0 until 64).map(t =>
          s"""SELECT $t::BIGINT AS rank, a AS "left", b AS "right" FROM m$t""")
          .mkString("SELECT * FROM (", "\nUNION ALL ", ") ORDER BY rank")),

    // Semantic dedup (SemDeDup): cell blocking → within-cell exact cosine,
    // 4 rotated passes → connected-component collapse. The blocking runs on
    // the deterministic PIVOT quantizer (pass p's cells anchor at the 16
    // vectors with smallest md5("v1:p:"||id)), so the oracle replays the
    // ENTIRE recipe — per-pass pivot picks, argmin-L2 assignments, the
    // unioned within-cell pair set, and the recursive-CTE component closure
    // — and both engines agree on exactly which clusters the recipe forms
    // (recall vs brute force is part of the replayed contract, pinned
    // separately by SemanticDedupSpec for the Lloyd variant). The 0.35
    // threshold sits in this corpus's actual similarity regime (pairwise
    // sims live in [0.3, 0.5) — x15's all-pairs mining confirms), so the
    // entry exercises real clustering, not the empty path.
    "x42_semantic_dedup" -> sql(
      (s, dir) =>
        Similarity.semanticDupClustersPivots(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.35, nCells = 16, seed = "v1",
          passes = 4)
          .orderBy("id"),
      """WITH RECURSIVE emb AS (SELECT vec_id, embedding FROM embeddings),
        |pass AS (SELECT unnest(generate_series(0, 3)) AS p),
        |pv AS (
        |  SELECT pass.p, vec_id AS pid, embedding AS pvec,
        |    row_number() OVER (PARTITION BY pass.p
        |      ORDER BY md5('v1:' || CAST(pass.p AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)),
        |        vec_id) - 1 AS cell
        |  FROM emb CROSS JOIN pass),
        |piv AS (SELECT p, pid, pvec, cell FROM pv WHERE cell < 16),
        |asg AS (
        |  SELECT pv2.p, e.vec_id, e.embedding, pv2.cell,
        |    row_number() OVER (PARTITION BY pv2.p, e.vec_id ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |        i -> (e.embedding[i]::DOUBLE - pv2.pvec[i]::DOUBLE)
        |           * (e.embedding[i]::DOUBLE - pv2.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), pv2.cell) AS rn
        |  FROM emb e CROSS JOIN piv pv2),
        |cells AS (SELECT p, vec_id, embedding, cell FROM asg WHERE rn = 1),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM cells a JOIN cells b ON a.p = b.p AND a.cell = b.cell
        |    AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src)
        |SELECT src AS id, least(src, min(dst)) AS cluster
        |FROM reach GROUP BY src ORDER BY id""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): how target-like is each
    // raw document, as the sum of Laplace-smoothed log p_target/p_raw
    // ratios over md5-bucketed unigram+bigram features. Target = the 'en'
    // slice, raw = the whole corpus. The oracle replays tokenization, the
    // 60-bit md5 bucketing, both smoothed count tables and the per-doc sum
    // exactly — a full hash-match on the weights.
    "x43_dsir_weights" -> sql(
      (s, dir) => {
        ImportanceWeights.weightsAgainstSubset(
          Tables.documents(s, dir), col("lang") === "en", "text", "doc_id")
          .orderBy("doc_id")
      },
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_concat(toks,
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS gram
        |  FROM t),
        |fnv AS (
        |  SELECT doc_id, lang,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(generate_series(1, length(gram)), j -> ascii(substring(gram, j, 1))::HUGEINT)),
        |      (acc, ch) -> ((((acc // 65536) * 65536 + xor((acc % 65536)::BIGINT, ch::BIGINT)::HUGEINT)
        |                    * 1099511628211) % 18446744073709551616::HUGEINT)) AS h0
        |  FROM g),
        |f1 AS (SELECT doc_id, lang, ${dkXor64("h0", "(h0 // 8589934592)")} AS x FROM fnv),
        |f2 AS (SELECT doc_id, lang, ${dkMul64("x", 0xff51afd7ed558ccdL)} AS x FROM f1),
        |f3 AS (SELECT doc_id, lang, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f2),
        |f4 AS (SELECT doc_id, lang, ${dkMul64("x", 0xc4ceb9fe1a85ec53L)} AS x FROM f3),
        |f5 AS (SELECT doc_id, lang, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f4),
        |b AS (SELECT doc_id, lang, (x % 4096)::BIGINT AS bucket FROM f5),
        |tc AS (SELECT bucket, count(*) AS tc FROM b WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT bucket, count(*) AS rc FROM b GROUP BY 1),
        |tt AS (SELECT count(*) AS n FROM b WHERE lang = 'en'),
        |rt AS (SELECT count(*) AS n FROM b),
        |lr AS (
        |  SELECT rc.bucket,
        |    ln((coalesce(tc.tc, 0) + 1.0) / (tt.n + 4096.0)) -
        |    ln((rc.rc + 1.0) / (rt.n + 4096.0)) AS log_ratio
        |  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tt CROSS JOIN rt)
        |SELECT b.doc_id, round(sum(lr.log_ratio), 4) AS dsir_weight
        |FROM b JOIN lr USING (bucket)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),

    // Leakage-safe train/validation split: the split key is md5(seed:GROUP)
    // — every document of a source lands on the same side, so near-
    // duplicates within a source can never straddle the split and leak
    // validation content into training. Same md5-as-randomness determinism
    // as the mixture samplers; the oracle replays the exact assignment.
    "x44_grouped_split" -> sql(
      (s, dir) =>
        Tables.documents(s, dir)
          .withColumn("split",
            when(substring(md5(concat_ws(":", lit("v1"), col("source"))), 1, 4) < "2000",
              lit("val")).otherwise(lit("train")))
          .select("doc_id", "source", "split")
          .orderBy("doc_id"),
      """SELECT doc_id, source,
        |  CASE WHEN substr(md5('v1:' || source), 1, 4) < '2000'
        |    THEN 'val' ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Exact substring dedup (Lee et al. 2021, windowed formulation): every
    // maximal per-document span covered by 4-token windows occurring ≥ 2
    // times corpus-wide. Window frequencies shuffle as xxhash64 longs; the
    // oracle recomputes window frequencies on the verbatim window STRINGS
    // and replays the same gaps-and-islands merge — so both the window
    // inventory and the span algebra are under test (a hash collision or
    // an off-by-one in the island merge would surface as a row diff).
    "x45_substring_spans" -> sql(
      (s, dir) =>
        SubstringDedup.duplicatedSpans(Tables.documents(s, dir), "text", "doc_id",
          windowTokens = 4)
          .orderBy("doc_id"),
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, toks, len(toks) AS n FROM t0 WHERE len(toks) >= 4),
        |win0 AS (SELECT doc_id, n, toks, unnest(generate_series(1, n - 3)) AS i FROM t),
        |win AS (SELECT doc_id, n, i - 1 AS pos, array_to_string(list_slice(toks, i, i + 3), ' ') AS w FROM win0),
        |freq AS (SELECT w, count(*) AS c FROM win GROUP BY 1),
        |dup AS (SELECT doc_id, n, pos FROM win JOIN freq USING (w) WHERE c >= 2),
        |isl AS (SELECT doc_id, n, pos,
        |  CASE WHEN max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |       OR pos > max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |       THEN 1 ELSE 0 END AS new_span
        |  FROM dup),
        |sp AS (SELECT doc_id, n, pos,
        |  sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        |  FROM isl),
        |spans AS (SELECT doc_id, n, span, min(pos) AS s, max(pos) + 3 AS e FROM sp GROUP BY 1, 2, 3)
        |SELECT doc_id, count(*)::BIGINT AS n_spans, CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |  n::BIGINT AS total_tokens, round(CAST(sum(e - s + 1) AS DOUBLE) / n, 4) AS dup_fraction
        |FROM spans GROUP BY doc_id, n ORDER BY doc_id""".stripMargin),

    // The rewrite side of x45: drop every duplicated span's tokens from
    // every document (the corpus-mutation mode of exact substring dedup).
    // The oracle rebuilds the spans on verbatim window strings and
    // re-assembles each document from its uncovered token positions — so
    // the span algebra AND the text surgery replay end to end.
    "x54_substring_rewrite" -> sql(
      (s, dir) =>
        SubstringDedup.dropDuplicatedSpans(Tables.documents(s, dir), "text", "doc_id",
          windowTokens = 4)
          .orderBy("doc_id"),
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, toks, len(toks) AS n FROM t0 WHERE len(toks) >= 4),
        |win0 AS (SELECT doc_id, n, toks, unnest(generate_series(1, n - 3)) AS i FROM t),
        |win AS (SELECT doc_id, n, i - 1 AS pos, array_to_string(list_slice(toks, i, i + 3), ' ') AS w FROM win0),
        |freq AS (SELECT w, count(*) AS c FROM win GROUP BY 1),
        |dup AS (SELECT doc_id, n, pos FROM win JOIN freq USING (w) WHERE c >= 2),
        |isl AS (SELECT doc_id, pos,
        |  CASE WHEN max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |       OR pos > max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |       THEN 1 ELSE 0 END AS new_span
        |  FROM dup),
        |sp AS (SELECT doc_id, pos,
        |  sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        |  FROM isl),
        |spans AS (SELECT doc_id, span, min(pos) AS s, max(pos) + 3 AS e FROM sp GROUP BY 1, 2),
        |tp AS (SELECT doc_id, unnest(generate_series(1, len(toks))) - 1 AS p, toks FROM t0),
        |tp2 AS (SELECT doc_id, p, toks[p + 1] AS tok FROM tp),
        |cov AS (SELECT DISTINCT tp2.doc_id, tp2.p FROM tp2
        |  JOIN spans ON tp2.doc_id = spans.doc_id AND tp2.p BETWEEN spans.s AND spans.e),
        |kept AS (SELECT tp2.doc_id, tp2.p, tp2.tok FROM tp2
        |  LEFT JOIN cov ON tp2.doc_id = cov.doc_id AND tp2.p = cov.p
        |  WHERE cov.p IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept GROUP BY doc_id),
        |dt AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM spans GROUP BY doc_id)
        |SELECT t0.doc_id,
        |  coalesce(agg.cleaned_text, '') AS cleaned_text,
        |  CAST(len(t0.toks) AS BIGINT) AS total_tokens,
        |  coalesce(dt.dup_tokens, 0) AS dup_tokens
        |FROM t0
        |LEFT JOIN agg ON t0.doc_id = agg.doc_id
        |LEFT JOIN dt ON t0.doc_id = dt.doc_id
        |ORDER BY t0.doc_id""".stripMargin),

    // Per-source KL divergence from the corpus token distribution — the
    // drift/imbalance dashboard behind mixture decisions (a source whose
    // unigram distribution diverges is either a different register or
    // noise). Laplace-smoothed over the global vocabulary, exact algebra.
    // Scale note: the source × vocab grid is exact here because the fixture
    // vocabulary is bounded; an open-vocabulary corpus runs the identical
    // algebra over the DSIR hash-bucket space (graft_gram_hashes_fnv mod
    // 4096) so the grid stays sources × 4096 at any scale.
    "x57_source_divergence" -> sql(
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val cs = toks.groupBy("source", "tok").agg(count(lit(1)).as("cs"))
        val cg = toks.groupBy("tok").agg(count(lit(1)).as("cg"))
        val ns = toks.groupBy("source").agg(count(lit(1)).as("ns"))
        val ng = toks.agg(count(lit(1)).as("ng"))
        val v = cg.agg(count(lit(1)).as("v"))
        ns.crossJoin(broadcast(cg))
          .join(cs, Seq("source", "tok"), "left")
          .crossJoin(broadcast(ng))
          .crossJoin(broadcast(v))
          .select(col("source"),
            ((coalesce(col("cs"), lit(0L)) + lit(1.0)) / (col("ns") + col("v"))).as("p"),
            ((col("cg") + lit(1.0)) / (col("ng") + col("v"))).as("q"))
          .groupBy("source")
          .agg(round(sum(col("p") * log(col("p") / col("q"))), 4).as("kl_divergence"))
          .orderBy("source")
      },
      """WITH t AS (
        |  SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |cs AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |cg AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |ns AS (SELECT source, count(*) AS n FROM t GROUP BY 1),
        |ng AS (SELECT count(*) AS n FROM t),
        |v AS (SELECT count(*) AS v FROM cg),
        |grid AS (
        |  SELECT ns.source,
        |    (coalesce(cs.c, 0) + 1.0) / (ns.n + v.v) AS p,
        |    (cg.c + 1.0) / (ng.n + v.v) AS q
        |  FROM ns CROSS JOIN cg
        |  LEFT JOIN cs ON cs.source = ns.source AND cs.tok = cg.tok
        |  CROSS JOIN ng CROSS JOIN v)
        |SELECT source, round(sum(p * ln(p / q)), 4) AS kl_divergence
        |FROM grid GROUP BY source ORDER BY source""".stripMargin),

    // Per-label centroid cosines: each vector against its own label's mean
    // — the outlier report dual to x52's pairwise cohesion. Centroids are
    // labels × dims rows (plan constant, broadcast); both engines run the
    // dot products left-to-right over the dimension order.
    "x56_centroid_outliers" -> sql(
      (s, dir) =>
        Similarity.labelCentroidCosines(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label")
          .orderBy("vec_id"),
      """WITH d AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |c AS (SELECT label, i, round(avg(v), 6) AS c FROM d GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY i) AS ce FROM c GROUP BY label)
        |SELECT vec_id, e.label,
        |  round(list_dot_product(e.embedding::DOUBLE[], ce) /
        |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(ce, ce))), 4) AS cos_centroid
        |FROM embeddings e JOIN cent USING (label)
        |ORDER BY vec_id""".stripMargin),

    // Winnowing fingerprint pairs (MOSS): documents sharing ≥ 2 rare local
    // fingerprints — verbatim-overlap detection, the local complement to
    // minhash's whole-doc similarity. The oracle recomputes the char-gram
    // FNV hashes in HUGEINT, converts to SIGNED 64-bit (the kernel's
    // window minima are Java signed-long minima), replays the window-min
    // selection, the df ≤ 8 noise rule and the pair counts.
    "x55_winnowing_pairs" -> sql(
      (s, dir) =>
        Dedup.winnowingPairs(Tables.documents(s, dir), "text", "doc_id",
          k = 5, window = 4, maxDocFrequency = 8, minShared = 2)
          .orderBy("id_a", "id_b"),
      s"""WITH s AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS str
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, str, unnest(generate_series(1, length(str) - 4)) AS i
        |  FROM s WHERE length(str) >= 5),
        |gram AS (SELECT doc_id, i, substring(str, i, 5) AS gm FROM pos),
        |fnv AS (
        |  SELECT doc_id, i,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(generate_series(1, 5), j -> ascii(substring(gm, j, 1))::HUGEINT)),
        |      (acc, ch) -> ((((acc // 65536) * 65536 + xor((acc % 65536)::BIGINT, ch::BIGINT)::HUGEINT)
        |                    * 1099511628211) % 18446744073709551616::HUGEINT)) AS h0
        |  FROM gram),
        |f1 AS (SELECT doc_id, i, ${dkXor64("h0", "(h0 // 8589934592)")} AS x FROM fnv),
        |f2 AS (SELECT doc_id, i, ${dkMul64("x", 0xff51afd7ed558ccdL)} AS x FROM f1),
        |f3 AS (SELECT doc_id, i, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f2),
        |f4 AS (SELECT doc_id, i, ${dkMul64("x", 0xc4ceb9fe1a85ec53L)} AS x FROM f3),
        |f5 AS (SELECT doc_id, i, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f4),
        |signed AS (
        |  SELECT doc_id, i,
        |    CASE WHEN x >= 9223372036854775808::HUGEINT
        |      THEN (x - 18446744073709551616::HUGEINT)::BIGINT ELSE x::BIGINT END AS gh
        |  FROM f5),
        |glist AS (SELECT doc_id, list(gh ORDER BY i) AS gl FROM signed GROUP BY doc_id),
        |winpos AS (
        |  SELECT doc_id, gl, unnest(generate_series(1, greatest(len(gl) - 3, 1))) AS p
        |  FROM glist),
        |sel AS (SELECT DISTINCT doc_id, list_min(list_slice(gl, p, p + 3)) AS fp FROM winpos),
        |dfreq AS (SELECT fp, count(*) AS df FROM sel GROUP BY 1),
        |kept AS (SELECT doc_id, sel.fp FROM sel JOIN dfreq USING (fp) WHERE df <= 8)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // Count-min-sketch heavy hitters: token frequency estimates from a
    // fixed 4×256 grid (the constant-memory scale path next to x32's exact
    // vocabulary count). Deterministic end to end — the oracle rebuilds the
    // SAME sketch in SQL (FNV-1a+fmix64 token hashes replayed in HUGEINT,
    // then the Knuth multiplicative row hashes, top-8-bits cell) and takes
    // the same min-over-rows estimates, so the sketch contents themselves
    // are under test, not just the top-k ordering.
    "x46_cms_heavy_hitters" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val candidates = docs
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
          .distinct()
        Sketches.cmsHeavyHitters(docs, "text", candidates,
          width = 256, depth = 4, topK = 20)
      },
      s"""WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |fnv AS (
        |  SELECT tok, c,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(generate_series(1, length(tok)), j -> ascii(substring(tok, j, 1))::HUGEINT)),
        |      (acc, ch) -> ((((acc // 65536) * 65536 + xor((acc % 65536)::BIGINT, ch::BIGINT)::HUGEINT)
        |                    * 1099511628211) % 18446744073709551616::HUGEINT)) AS h0
        |  FROM cnt),
        |f1 AS (SELECT tok, c, ${dkXor64("h0", "(h0 // 8589934592)")} AS x FROM fnv),
        |f2 AS (SELECT tok, c, ${dkMul64("x", 0xff51afd7ed558ccdL)} AS x FROM f1),
        |f3 AS (SELECT tok, c, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f2),
        |f4 AS (SELECT tok, c, ${dkMul64("x", 0xc4ceb9fe1a85ec53L)} AS x FROM f3),
        |f5 AS (SELECT tok, c, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f4),
        |seeds AS (SELECT * FROM (VALUES
        |  ${cmsSeedRows(4)}) s(r, a, b)),
        |cells AS (
        |  SELECT tok, c, r,
        |    (((((x % 4294967296) * (a % 4294967296)
        |        + (((x % 4294967296) * (a // 4294967296) + (x // 4294967296) * (a % 4294967296)) % 4294967296) * 4294967296)
        |       % 18446744073709551616::HUGEINT + b) % 18446744073709551616::HUGEINT)
        |     // 72057594037927936)::BIGINT AS cell
        |  FROM f5 CROSS JOIN seeds),
        |sketch AS (SELECT r, cell, sum(c) AS cnt FROM cells GROUP BY 1, 2)
        |SELECT tok AS token, CAST(min(s.cnt) AS BIGINT) AS est
        |FROM cells JOIN sketch s USING (r, cell)
        |GROUP BY tok ORDER BY est DESC, token LIMIT 20""".stripMargin),

    // Zipf head coverage: the top-40 terms with their cumulative share of
    // all token occurrences — the "how much of the corpus is its head"
    // dashboard number. Scale note: the running sum runs AFTER a top-k
    // TakeOrdered, so the single-partition window only ever sees k rows —
    // the corpus-sized work is x32's term aggregation shape.
    "x47_zipf_coverage" -> sql(
      (s, dir) => {
        val stats = Vocabulary.termStats(Tables.documents(s, dir), "text", "doc_id")
        val total = stats.agg(sum(col("tf")).as("__total"))
        val top = stats.orderBy(desc("tf"), col("term")).limit(40)
        val wAll = org.apache.spark.sql.expressions.Window
          .orderBy(desc("tf"), col("term"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        top
          .crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(desc("tf"), col("term"))).cast("long"))
          .withColumn("cum_share",
            round(sum(col("tf")).over(wAll).cast("double") / col("__total"), 4))
          .select("rank", "term", "tf", "cum_share")
          .orderBy("rank")
      },
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS tf FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM c),
        |r AS (SELECT term, tf, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM c)
        |SELECT rank, term, tf,
        |  round(CAST(sum(tf) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |        / (SELECT n FROM tot), 4) AS cum_share
        |FROM r WHERE rank <= 40 ORDER BY rank""".stripMargin),

    // Curriculum bucketing: NTILE-semantics difficulty tiers (proxy:
    // document length) computed via the two-phase distributed rank — the
    // oracle is DuckDB's own ntile() window, so the closed-form bucket
    // arithmetic AND the distributed rank both replay exactly.
    "x48_curriculum_buckets" -> sql(
      (s, dir) => {
        Curriculum.difficultyBuckets(
          Tables.documents(s, dir), "n_chars", "doc_id", nBuckets = 10)
          .select("doc_id", "n_chars", "bucket")
          .orderBy("doc_id")
      },
      """SELECT doc_id, n_chars,
        |  CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Per-document n-gram novelty: the fraction of a doc's distinct 3-word
    // shingles that appear NOWHERE else in the corpus — the diversity
    // signal dual to the dedup family (dup detectors find what repeats;
    // novelty measures what doesn't). Shingles travel as the native
    // kernel's 8-byte hashes; the oracle recomputes document-frequency on
    // the verbatim shingle STRINGS, so the distinct-set semantics and the
    // df join are both under test (the score is hash-agnostic, so a kernel
    // collision would surface as a value diff).
    "x49_ngram_novelty" -> sql(
      (s, dir) => {
        val grams = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(call_function("graft_shingle_hashes", col("text"), lit(3))).as("__gh"))
        val dfCounts = grams.groupBy("__gh").agg(count(lit(1)).as("__df"))
        grams
          .join(dfCounts, "__gh")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_shingles"),
            round(avg(when(col("__df") === 1, 1.0d).otherwise(0.0d)), 4).as("novelty"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]))) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |d AS (SELECT sh, count(*) AS df FROM g GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_shingles,
        |  round(avg(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END), 4) AS novelty
        |FROM g JOIN d USING (sh) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Per-source corpus health report: the dashboard a curation team reads
    // — document count, exact-duplicate rate (digest df ≥ 2, the x01/x06
    // digest), average chars-per-token (the x03 quality proxy) and English
    // share, one row per source. Digest frequencies shuffle as md5 keys;
    // everything else is one groupBy(source).
    "x50_source_health" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val digests = docs.select(col("doc_id"), md5(col("text")).as("__dg"))
        val dgCounts = digests.groupBy("__dg").agg(count(lit(1)).as("__dups"))
        val flagged = digests.join(dgCounts, "__dg")
          .select(col("doc_id"), (col("__dups") >= 2).as("__is_dup"))
        val tokens = size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("double")
        docs
          .join(flagged, "doc_id")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg(when(col("__is_dup"), 1.0d).otherwise(0.0d)), 4).as("dup_rate"),
            round(avg(col("n_chars") / tokens), 4).as("avg_chars_per_token"),
            round(avg(when(col("lang") === "en", 1.0d).otherwise(0.0d)), 4).as("en_share"))
          .orderBy("source")
      },
      """WITH dg AS (
        |  SELECT doc_id, md5(text) AS d FROM documents),
        |dc AS (SELECT d, count(*) AS c FROM dg GROUP BY 1),
        |f AS (SELECT doc_id, (c >= 2) AS is_dup FROM dg JOIN dc USING (d))
        |SELECT source, count(*) AS n_docs,
        |  round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 4) AS dup_rate,
        |  round(avg(CAST(n_chars AS DOUBLE) / len(regexp_extract_all(text, '\S+'))), 4) AS avg_chars_per_token,
        |  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4) AS en_share
        |FROM documents JOIN f USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin),

    // Deterministic source-interleaved data-loader order: rank within each
    // source, then order globally by (rank, source) — a round-robin cycle
    // over sources so no training window sees a single-source run. One
    // keyed window exchange + the two-phase global rank; the oracle is the
    // double-row_number replay.
    "x51_source_interleave" -> sql(
      (s, dir) => {
        Sharding.interleavePositions(
          Tables.documents(s, dir).select("doc_id", "source"), "source", "doc_id")
          .select("doc_id", "source", "pos")
          .orderBy("doc_id")
      },
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
        |  FROM documents)
        |SELECT doc_id, source,
        |  row_number() OVER (ORDER BY r, source, doc_id) - 1 AS pos
        |FROM r ORDER BY doc_id""".stripMargin),

    // Embedding label-cohesion report: avg pairwise cosine within vs
    // across labels on a deterministic 256-row hash sample — O(k²) at any
    // corpus size, sample side broadcast. Oracle replays the md5 sample
    // selection and the exact double-precision cosines.
    "x52_label_cohesion" -> sql(
      (s, dir) =>
        Similarity.labelCohesion(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", sampleK = 256)
          .orderBy("same_label"),
      """WITH s AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  ORDER BY md5('v1:' || vec_id), vec_id LIMIT 256),
        |p AS (
        |  SELECT a.label = b.label AS same_label,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos
        |  FROM s a JOIN s b ON a.vec_id < b.vec_id)
        |SELECT same_label, count(*) AS n_pairs, round(avg(cos), 4) AS avg_cos
        |FROM p GROUP BY same_label ORDER BY same_label""".stripMargin),

    // CCNet-style perplexity terciles: score every doc under the corpus
    // bigram LM (x26's operator), then cut the score distribution into
    // head/middle/tail with exact NTILE semantics via the two-phase
    // distributed rank (bucket 3 = most typical text, the "head" CCNet
    // keeps). Composition of two already-pinned operators; the oracle
    // replays the string-keyed LM and DuckDB's own ntile in one statement.
    "x53_perplexity_buckets" -> sql(
      (s, dir) => {
        val scored = NgramLm.bigramLmScore(Tables.documents(s, dir), "text", "doc_id")
          .select("doc_id", "lm_score")
        Curriculum.difficultyBuckets(scored, "lm_score", "doc_id", nBuckets = 3)
          .select("doc_id", "lm_score", "bucket")
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS b
        |  FROM t WHERE len(toks) >= 2),
        |uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
        |bc AS (SELECT b, count(*) AS c2 FROM bi GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |s AS (
        |  SELECT doc_id, round(avg(ln((c2 + 1.0) / (c1 + v))), 4) AS lm_score
        |  FROM bi JOIN bc USING (b)
        |  JOIN uni ON string_split(bi.b, ' ')[1] = uni.w
        |  CROSS JOIN v
        |  GROUP BY doc_id)
        |SELECT doc_id, lm_score,
        |  CAST(ntile(3) OVER (ORDER BY lm_score, doc_id) AS BIGINT) AS bucket
        |FROM s ORDER BY doc_id""".stripMargin),

    // Gopher quality rules (Rae et al. 2021): the named pre-training filter
    // rule set with per-rule verdicts. Pure projection — every feature is
    // integer counting + exact rational division, so the full report
    // (including the boolean verdicts, which compare UNROUNDED values)
    // replays bit-identically in the oracle.
    "x58_gopher_rules" -> sql(
      (s, dir) =>
        QualityRules.gopherRules(Tables.documents(s, dir), "text", "doc_id")
          .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    len(toks) AS n_words,
        |    greatest(len(toks), 1) AS dw,
        |    coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS sum_len,
        |    len(list_filter(toks, w -> regexp_matches(w, '\p{L}'))) AS alpha_words,
        |    len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
        |    len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ')
        |      OR starts_with(l, '• '))) AS bullet_lines,
        |    len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS ellipsis_lines,
        |    greatest(len(lines), 1) AS dl,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |      w -> list_contains(toks, w))) AS stop_hits
        |  FROM t),
        |r AS (
        |  SELECT doc_id,
        |    CAST(n_words AS BIGINT) AS n_words,
        |    CAST(sum_len AS DOUBLE) / dw AS mean_len,
        |    CAST(alpha_words AS DOUBLE) / dw AS alpha_ratio,
        |    CAST(n_symbols AS DOUBLE) / dw AS symbol_ratio,
        |    CAST(bullet_lines AS DOUBLE) / dl AS bullet_ratio,
        |    CAST(ellipsis_lines AS DOUBLE) / dl AS ellipsis_ratio,
        |    CAST(stop_hits AS BIGINT) AS stop_hits
        |  FROM f)
        |SELECT doc_id, n_words,
        |  floor(mean_len * 10000 + 0.5) / 10000 AS mean_word_len,
        |  floor(alpha_ratio * 10000 + 0.5) / 10000 AS alpha_word_ratio,
        |  floor(symbol_ratio * 10000 + 0.5) / 10000 AS symbol_ratio,
        |  floor(bullet_ratio * 10000 + 0.5) / 10000 AS bullet_line_ratio,
        |  floor(ellipsis_ratio * 10000 + 0.5) / 10000 AS ellipsis_line_ratio,
        |  stop_hits,
        |  n_words BETWEEN 50 AND 100000 AS ok_word_count,
        |  mean_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
        |  symbol_ratio <= 0.1 AS ok_symbol_ratio,
        |  bullet_ratio <= 0.9 AS ok_bullet_lines,
        |  ellipsis_ratio <= 0.3 AS ok_ellipsis_lines,
        |  alpha_ratio >= 0.8 AS ok_alpha_words,
        |  stop_hits >= 2 AS ok_stopwords,
        |  (n_words BETWEEN 50 AND 100000) AND (mean_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
        |    AND alpha_ratio >= 0.8 AND stop_hits >= 2 AS pass
        |FROM r ORDER BY doc_id""".stripMargin),

    // Half-life step-decay sampling over the event log: keep probability
    // halves per 7 days of age behind the newest event. The accept test is
    // integer end to end (md5 draw vs 2^32 >> k as hex strings) — no
    // transcendental, so kept-set and weights replay exactly.
    "x59_time_decay_sample" -> sql(
      (s, dir) =>
        MixtureSampling.timeDecaySample(Tables.events(s, dir), "ts", "event_id",
          halfLifeMicros = 7L * 24 * 3600 * 1000000)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("decay_epochs"), col("weight"))
          .orderBy("event_id"),
      """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |k AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    least((m - epoch_us(ts)) // 604800000000, 33) AS k
        |  FROM events, mx),
        |t AS (SELECT event_id, ts_us, k, 4294967296 >> k AS thr FROM k)
        |SELECT event_id, ts_us, CAST(k AS BIGINT) AS decay_epochs,
        |  CAST(thr AS DOUBLE) / 4294967296 AS weight
        |FROM t
        |WHERE k = 0 OR substring(md5(CAST(event_id AS VARCHAR)), 1, 8)
        |  < lpad(lower(to_hex(thr)), 8, '0')
        |ORDER BY event_id""".stripMargin),

    // Canonical-document selection per duplicate cluster: x25's clustering
    // composed with a keep-the-longest retention policy (score = n_chars,
    // ties to the smallest id). The oracle replays the exact all-pairs
    // clustering AND the argmax, so the full dedup DECISION is under test,
    // not just the cluster labels.
    "x60_cluster_canonical" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        val clusters = Dedup.duplicateClusters(pairs)
        Dedup.clusterRepresentatives(clusters, docs, "doc_id", "n_chars")
          .orderBy("id")
      },
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM p WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src),
        |cl AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
        |sc AS (
        |  SELECT cl.id, cl.cluster, d.n_chars FROM cl JOIN documents d ON d.doc_id = cl.id),
        |rep AS (
        |  SELECT cluster, id AS keep_id FROM (
        |    SELECT cluster, id,
        |      row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, id ASC) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT sc.id, sc.cluster, rep.keep_id, sc.id = rep.keep_id AS is_kept
        |FROM sc JOIN rep USING (cluster) ORDER BY sc.id""".stripMargin),

    // Per-source doc-length histogram + ECDF on decimal-digit buckets
    // (bucket = number of digits of n_chars — an integer log10 that avoids
    // cross-engine log() ulp at bucket boundaries). The corpus-shape report
    // behind length-filter threshold picks.
    "x61_length_histogram" -> sql(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val g = Tables.documents(s, dir)
          .select(col("source"), length(col("n_chars").cast("string")).cast("long").as("bucket"))
          .groupBy("source", "bucket").agg(count(lit(1)).as("n_docs"))
        val bySource = Window.partitionBy("source")
        val cumW = bySource.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def rnd4(c: org.apache.spark.sql.Column) =
          floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
        g.withColumn("__total", sum(col("n_docs")).over(bySource))
          .withColumn("__cum", sum(col("n_docs")).over(cumW))
          .select(col("source"), col("bucket"), col("n_docs"),
            rnd4(col("n_docs") / col("__total")).as("share"),
            rnd4(col("__cum") / col("__total")).as("ecdf"))
          .orderBy("source", "bucket")
      },
      """WITH b AS (
        |  SELECT source, len(CAST(n_chars AS VARCHAR)) AS bucket FROM documents),
        |g AS (SELECT source, bucket, count(*) AS n_docs FROM b GROUP BY 1, 2),
        |t AS (
        |  SELECT source, bucket, n_docs,
        |    sum(n_docs) OVER (PARTITION BY source) AS total,
        |    sum(n_docs) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM g)
        |SELECT source, CAST(bucket AS BIGINT) AS bucket, n_docs,
        |  floor(CAST(n_docs AS DOUBLE) / total * 10000 + 0.5) / 10000 AS share,
        |  floor(CAST(cum AS DOUBLE) / total * 10000 + 0.5) / 10000 AS ecdf
        |FROM t ORDER BY source, bucket""".stripMargin),

    // Adjacent-bigram PMI collocations (Church & Hanks 1990): the
    // template/multi-word-term detector. Rounded-PMI ordering with the pair
    // as tie-break, same ln()-ulp armoring as x33.
    "x62_bigram_pmi" -> sql(
      (s, dir) =>
        Vocabulary.bigramPmi(Tables.documents(s, dir), "text",
          minCount = 5, topK = 50)
          .orderBy(desc("pmi"), col("w1"), col("w2")),
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS b
        |  FROM t WHERE len(toks) >= 2),
        |uni AS (SELECT w, count(*) AS cu FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
        |tot1 AS (SELECT sum(cu) AS t1 FROM uni),
        |tot2 AS (SELECT count(*) AS t2 FROM bi),
        |cb AS (
        |  SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
        |    count(*) AS n_pair
        |  FROM bi GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, n_pair,
        |  round(ln((n_pair * 1.0 / t2) /
        |    ((c1.cu * 1.0 / t1) * (c2.cu * 1.0 / t1))), 4) AS pmi
        |FROM cb
        |JOIN uni c1 ON cb.w1 = c1.w
        |JOIN uni c2 ON cb.w2 = c2.w
        |CROSS JOIN tot1 CROSS JOIN tot2
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin),

    // OOV rate per document against the corpus' own top-20 vocabulary —
    // the coverage check before freezing a tokenizer vocab. Vocabulary is
    // one broadcast array row; the corpus scan is shuffle-free.
    "x63_oov_rate" -> sql(
      (s, dir) =>
        Vocabulary.oovRates(Tables.documents(s, dir), "text", "doc_id",
          vocabSize = 20)
          .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |v AS (
        |  SELECT w FROM (
        |    SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w)
        |  ORDER BY c DESC, w LIMIT 20),
        |vl AS (SELECT list(w) AS vocab FROM v)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> NOT list_contains(vocab, x))) AS BIGINT) AS n_oov,
        |  floor(CAST(len(list_filter(toks, x -> NOT list_contains(vocab, x))) AS DOUBLE)
        |    / greatest(len(toks), 1) * 10000 + 0.5) / 10000 AS oov_rate
        |FROM t CROSS JOIN vl ORDER BY doc_id""".stripMargin),

    // Pairwise label-centroid cosines: the class-separability matrix dual
    // to x56's per-row outliers. Same determinism contract (centroids
    // rounded to 6, ordered dots, result rounded to 4).
    "x64_centroid_matrix" -> sql(
      (s, dir) =>
        Similarity.labelCentroidMatrix(Tables.embeddings(s, dir),
          "embedding", "label")
          .orderBy("label_a", "label_b"),
      """WITH d AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |c AS (SELECT label, i, round(avg(v), 6) AS c FROM d GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY i) AS ce FROM c GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(list_dot_product(a.ce, b.ce) /
        |    (sqrt(list_dot_product(a.ce, a.ce)) * sqrt(list_dot_product(b.ce, b.ce))), 4)
        |    AS cos_centroids
        |FROM cent a JOIN cent b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin),

    // Pairwise source shingle-overlap matrix: mirror/provenance detection
    // across the mixture's sources. Spark shuffles 8-byte kernel hashes;
    // the oracle recounts with verbatim shingle strings (x49's pattern —
    // the Jaccard is hash-agnostic, so a collision would surface as a
    // value diff).
    "x65_source_overlap" -> sql(
      (s, dir) =>
        CorpusStats.sourceOverlapMatrix(Tables.documents(s, dir), "text", "source",
          shingleSize = 3)
          .orderBy("source_a", "source_b"),
      """WITH t AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]))) AS sh
        |    FROM t WHERE len(toks) >= 3)),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |  floor(CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) * 10000 + 0.5) / 10000
        |    AS jaccard
        |FROM inter
        |JOIN sz na ON inter.source_a = na.source
        |JOIN sz nb ON inter.source_b = nb.source
        |ORDER BY source_a, source_b""".stripMargin),

    // Vocabulary growth curve (Heaps'-law report): never-seen-before terms
    // per NTILE slice of the corpus in id order, plus the cumulative
    // vocabulary size — the diminishing-returns check. Slice assignment
    // reuses the exact-NTILE two-phase rank (x48's pinned semantics).
    "x66_vocab_growth" -> sql(
      (s, dir) =>
        CorpusStats.vocabularyGrowth(Tables.documents(s, dir), "text", "doc_id",
          nBuckets = 10)
          .orderBy("bucket"),
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS bucket FROM documents),
        |fs AS (
        |  SELECT w, min(doc_id) AS fid
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY w),
        |nt AS (
        |  SELECT r.bucket, count(*) AS new_terms
        |  FROM fs JOIN r ON fs.fid = r.doc_id GROUP BY 1),
        |nd AS (SELECT bucket, count(*) AS n_docs FROM r GROUP BY 1)
        |SELECT CAST(nd.bucket AS BIGINT) AS bucket, nd.n_docs,
        |  coalesce(nt.new_terms, 0) AS new_terms,
        |  CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY nd.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        |FROM nd LEFT JOIN nt USING (bucket) ORDER BY bucket""".stripMargin),

    // Temperature-2 mixture rebalance: rates ∝ n^(1/T - 1) scaled to the
    // rarest category, applied with the md5-threshold accept test. T=2 is
    // the exactly-replayable point — 1/sqrt is correctly rounded in every
    // engine (pow(n,-0.5) is not), so the oracle re-derives the rates, the
    // 2^32-scaled hex thresholds, and the kept set bit-identically.
    "x67_temperature_mixture" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "lang")
        val rates = MixtureSampling.temperatureRates(docs, "lang", temperature = 2.0)
        MixtureSampling.sampleByRates(docs, "lang", "doc_id", rates)
          .orderBy("doc_id")
      },
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |top AS (SELECT 1.0 / sqrt(min(n)) AS t FROM c),
        |r AS (SELECT lang, least(1.0, (1.0 / sqrt(n)) / t * 1.0) AS rate FROM c, top),
        |thr AS (
        |  SELECT lang, rate,
        |    lpad(lower(to_hex(least(CAST(floor(rate * 4294967296.0) AS BIGINT),
        |      4294967295))), 8, '0') AS h
        |  FROM r)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE rate >= 1.0 OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < h
        |ORDER BY d.doc_id""".stripMargin),

    // Per-source duplication-rate report: which source brings the
    // near-duplicates — the mixture diagnostic read before deciding whose
    // crawl to de-prioritize. Left-joins the cluster assignment (near-dup
    // sized, far smaller than the corpus) back onto the corpus scan.
    "x68_source_dup_rate" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        val clusters = Dedup.duplicateClusters(pairs)
        docs.select(col("doc_id").as("id"), col("source"))
          .join(clusters, Seq("id"), "left")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("cluster").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
            count_distinct(col("cluster")).as("n_clusters"))
          .withColumn("dup_rate",
            floor(col("n_dup_docs") / col("n_docs") * lit(10000.0) + lit(0.5))
              / lit(10000.0))
          .orderBy("source")
      },
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM p WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src),
        |cl AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src)
        |SELECT d.source,
        |  count(*) AS n_docs,
        |  count(cl.cluster) AS n_dup_docs,
        |  count(DISTINCT cl.cluster) AS n_clusters,
        |  floor(CAST(count(cl.cluster) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000
        |    AS dup_rate
        |FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // Shard manifest with content checksums: the integrity artifact written
    // next to an exported training shard — doc/token counts plus a sha256
    // over the shard's id list in id order, so a re-export (or a consumer)
    // can verify shard membership without re-reading data. Composes x22's
    // prefix-sum shard assignment; the checksum input is a deterministic
    // sorted id concatenation, replayed by DuckDB's ordered string_agg.
    "x69_shard_manifest" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tokens"))
        Sharding.assignShards(docs, "doc_id", "n_tokens", budget = 5000L)
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sha2(concat_ws(",",
              transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))), 256)
              .as("content_sha256"))
          .orderBy("shard")
      },
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |    (coalesce(sum(CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT))
        |       OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     // 5000)::BIGINT AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  sha256(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |    AS content_sha256
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin),

    // Incremental near-dedup: a new batch (odd ids) against the persisted
    // signature index of the existing corpus (even ids), plus the batch's
    // own internal pairs — the maintenance loop that never rescans corpus
    // text. The oracle recomputes the exact all-pairs Jaccard restricted to
    // batch×corpus ∪ batch×batch, so both the banding recall and the index
    // construction are under test.
    "x70_incremental_neardup" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val index = Dedup.buildMinhashIndex(
          docs.where(col("doc_id") % 2 === 0), "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4)
        Dedup.incrementalNearDuplicates(
          docs.where(col("doc_id") % 2 === 1), index, "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id_a", "id_b")
      },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |odd AS (SELECT * FROM g WHERE doc_id % 2 = 1),
        |ev AS (SELECT * FROM g WHERE doc_id % 2 = 0),
        |px AS (
        |  SELECT o.doc_id AS id_a, e.doc_id AS id_b,
        |    len(list_intersect(o.sh, e.sh)) AS c, len(o.sh) AS sa, len(e.sh) AS sb,
        |    'index' AS vs
        |  FROM odd o JOIN ev e ON true),
        |pb AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb,
        |    'batch' AS vs
        |  FROM odd a JOIN odd b ON a.doc_id < b.doc_id),
        |u AS (SELECT * FROM px UNION ALL SELECT * FROM pb)
        |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (sa + sb - c), 4) AS jaccard, vs
        |FROM u WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // Multinomial Naive Bayes classifier (the fastText-classifier role:
    // route documents by label) — count-based fit, so the ENTIRE
    // train-then-predict round trip replays in one oracle statement:
    // smoothed log-likelihood grid, log-priors, per-doc class sums and the
    // (score DESC, class ASC) argmax.
    "x71_nb_classifier" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = NaiveBayes.fit(docs, "text", "lang")
        NaiveBayes.predict(docs, model, "text", "doc_id")
          .select(col("id").as("doc_id"), col("predicted"), col("score"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |post AS (SELECT lang AS clazz, unnest(toks) AS token FROM t),
        |grid AS (SELECT clazz, token, count(*) AS n FROM post GROUP BY 1, 2),
        |ct AS (SELECT clazz, sum(n) AS ct FROM grid GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM grid),
        |nd AS (SELECT lang AS clazz, count(*) AS nd FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents),
        |lik AS (SELECT clazz, token, ln(n + 1.0) AS lc FROM grid),
        |cls AS (
        |  SELECT clazz, ln(nd * 1.0 / n) AS lp, ln(ct + v) AS ld
        |  FROM nd JOIN ct USING (clazz) CROSS JOIN v CROSS JOIN tot),
        |vt AS (SELECT DISTINCT token FROM grid),
        |dp AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |mm AS (SELECT doc_id, count(*) AS m FROM dp JOIN vt USING (token) GROUP BY 1),
        |sparse AS (
        |  SELECT doc_id, clazz, sum(lc) AS s
        |  FROM dp JOIN lik USING (token) GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.doc_id, c.clazz,
        |    c.lp - coalesce(mm.m, 0) * c.ld + coalesce(sp.s, 0.0) AS score
        |  FROM (SELECT doc_id FROM documents) d
        |  CROSS JOIN cls c
        |  LEFT JOIN mm ON mm.doc_id = d.doc_id
        |  LEFT JOIN sparse sp ON sp.doc_id = d.doc_id AND sp.clazz = c.clazz),
        |r AS (
        |  SELECT doc_id, clazz, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, clazz) AS rk
        |  FROM scored)
        |SELECT doc_id, clazz AS predicted, floor(score * 10000 + 0.5) / 10000 AS score
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin),

    // Corpus snapshot diff: two synthetic snapshots carved from the fixture
    // (old drops ids ≡0 mod 5, new drops ids ≡0 mod 4 and rewrites ids
    // ≡0 mod 7 with the reversed text) — added/removed/changed/unchanged by
    // normalized content digest, replayed exactly.
    "x72_corpus_diff" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val oldSnap = docs.where(col("doc_id") % 5 =!= 0)
        val newSnap = docs.where(col("doc_id") % 4 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, reverse(col("text"))).otherwise(col("text")))
        CorpusStats.snapshotDiff(oldSnap, newSnap, "text", "doc_id")
          .orderBy("id")
      },
      """WITH o AS (
        |  SELECT doc_id AS id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS do
        |  FROM documents WHERE doc_id % 5 <> 0),
        |n AS (
        |  SELECT doc_id AS id,
        |    md5(trim(regexp_replace(lower(
        |      CASE WHEN doc_id % 7 = 0 THEN reverse(text) ELSE text END), '\s+', ' ', 'g')))
        |      AS dn
        |  FROM documents WHERE doc_id % 4 <> 0)
        |SELECT coalesce(o.id, n.id) AS id,
        |  CASE WHEN o.do IS NULL THEN 'added'
        |       WHEN n.dn IS NULL THEN 'removed'
        |       WHEN o.do <> n.dn THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(o.do, '') AS digest_old,
        |  coalesce(n.dn, '') AS digest_new
        |FROM o FULL OUTER JOIN n ON o.id = n.id
        |ORDER BY id""".stripMargin),

    // Cross-source quality normalization: percent_rank of the quality score
    // WITHIN each source — the calibration step before a global trim, since
    // raw score distributions differ per source (a global threshold would
    // silently gut whole sources). Exact rational rank arithmetic under the
    // (score, doc_id) total order; one source-keyed exchange.
    "x73_source_quality_norm" -> sql(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            (col("n_chars").cast("double") /
              greatest(size(expr("regexp_extract_all(text, '\\\\S+', 0)")), lit(1))
                .cast("double")).as("__q"))
        val w = Window.partitionBy("source").orderBy(col("__q"), col("doc_id"))
        scored
          .withColumn("pct_rank",
            floor(percent_rank().over(w) * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .select(col("doc_id"), col("source"),
            (floor(col("__q") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("quality"),
            col("pct_rank"),
            (percent_rank().over(w) >= 0.2).as("keep_top80"))
          .orderBy("doc_id")
      },
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(n_chars AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS q
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, q,
        |    percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS pr
        |  FROM q)
        |SELECT doc_id, source,
        |  floor(q * 10000 + 0.5) / 10000 AS quality,
        |  floor(pr * 10000 + 0.5) / 10000 AS pct_rank,
        |  pr >= 0.2 AS keep_top80
        |FROM r ORDER BY doc_id""".stripMargin),

    // Fine-grained format detection (csv-detective's format vocabulary,
    // SURVEY §2-A5): the validators — regex + Luhn checksum as pure Column
    // arithmetic — counted over columns SYNTHESIZED deterministically from
    // customer keys (valid postal codes, Luhn-valid SIRENs, a corrupted-
    // check column, emails, WGS84 coordinates). The oracle replays every
    // validator, including the mod-10 Luhn fold, in DuckDB list arithmetic.
    // One scan, one aggregation; the (column × format) count matrix is the
    // only thing that moves.
    "x74_format_detect" -> sql(
      (s, dir) => {
        import graft.detect.FormatDetector
        val k = col("c_custkey")
        val base = lpad((k % 100000000).cast("string"), 8, "0")
        val chk = FormatDetector.luhnCheckDigit(base)
        val base4 = lpad((k % 9000 + 1000).cast("string"), 4, "0")
        val apeLetter = chr(lit(65) + (k % 26))
        val frMonths = typedlit(Seq("janvier", "février", "mars", "avril",
          "mai", "juin", "juillet", "août", "septembre", "octobre",
          "novembre", "décembre"))
        val syn = Tables.customer(s, dir).select(
          concat(lpad((k % 98 + 1).cast("string"), 2, "0"),
            lpad((k % 1000).cast("string"), 3, "0")).as("cp"),
          lpad((k % 95 + 1).cast("string"), 2, "0").as("dep"),
          concat(base, chk.cast("string")).as("siren"),
          concat(base, ((chk + 1) % 10).cast("string")).as("sbad"),
          concat(lit("c"), k.cast("string"), lit("@example.fr")).as("mail"),
          concat((k % 179 - 89).cast("string"), lit(".25")).as("lat"),
          concat((k % 359 - 179).cast("string"), lit(".5")).as("lon"),
          // NAF/APE code, dotted form on even keys ("62.01Z" vs "6201Z")
          when(k % 2 === 0,
            concat(substring(base4, 1, 2), lit("."), substring(base4, 3, 2), apeLetter))
            .otherwise(concat(base4, apeLetter)).as("ape"),
          // a PCS-2003 code — every value is ALSO a plausible département,
          // the containment code_csp's specificity must resolve
          element_at(typedlit(graft.detect.FormatDetector.cspCodes),
            (k % 40 + 1).cast("int")).as("csp"),
          // valid textual French dates (days capped at 28 so every month
          // accepts them) — the analytic oracle expects ALL rows to parse
          concat((k % 28 + 1).cast("string"), lit(" "),
            element_at(frMonths, (k % 12 + 1).cast("int")), lit(" "),
            (lit(1990) + k % 40).cast("string")).as("dfr"),
          // Feb 29 of a non-leap year: the regex gate passes, the PARSER
          // must reject — the analytic oracle expects ZERO matches
          concat(lit("29 février "), (lit(2021) + (k % 2) * 2).cast("string"))
            .as("dbad"),
          // round-7 long tail: uuid / mongo id from md5 (replays exactly),
          // 4-digit years, boolean words, French weekday / month names
          concat(substring(md5(k.cast("string")), 1, 8), lit("-"),
            substring(md5(k.cast("string")), 9, 4), lit("-"),
            substring(md5(k.cast("string")), 13, 4), lit("-"),
            substring(md5(k.cast("string")), 17, 4), lit("-"),
            substring(md5(k.cast("string")), 21, 12)).as("uid"),
          substring(md5(k.cast("string")), 1, 24).as("oid"),
          (lit(1900) + k % 200).cast("string").as("yr"),
          element_at(typedlit(Seq("oui", "non", "vrai", "faux", "TRUE", "False")),
            (k % 6 + 1).cast("int")).as("bw"),
          element_at(typedlit(Seq("Lundi", "mardi", "MERCREDI", "jeudi",
            "vendredi", "samedi", "Dimanche")), (k % 7 + 1).cast("int")).as("wd"),
          element_at(frMonths, (k % 12 + 1).cast("int")).as("mo"))
        val pairs = Seq(
          "cp" -> "code_postal", "cp" -> "code_commune_insee",
          "cp" -> "code_departement", "dep" -> "code_departement",
          "dep" -> "code_region", "siren" -> "siren", "sbad" -> "siren",
          "mail" -> "email", "lat" -> "latitude_wgs", "lat" -> "longitude_wgs",
          "lon" -> "longitude_wgs", "lon" -> "latitude_wgs",
          "ape" -> "insee_ape", "ape" -> "siren",
          "csp" -> "code_csp", "csp" -> "code_departement",
          "dep" -> "code_csp",
          "dfr" -> "date_fr", "dbad" -> "date_fr",
          "uid" -> "uuid", "uid" -> "mongo_object_id",
          "oid" -> "mongo_object_id", "oid" -> "uuid",
          "yr" -> "year", "yr" -> "code_postal",
          "bw" -> "booleen", "bw" -> "jour_de_la_semaine",
          "wd" -> "jour_de_la_semaine", "wd" -> "mois_de_annee",
          "mo" -> "mois_de_annee", "mo" -> "date_fr")
        val preds = FormatDetector.formats.map(f => f.name -> f.pred).toMap
        val aggs = pairs.map { case (cn, fn) =>
          sum(when(preds(fn)(trim(col(cn))), 1L).otherwise(0L)).as(s"${cn}__$fn")
        }
        syn.agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${pairs.size}, " +
            pairs.map { case (c, f) => s"'$c','$f',`${c}__$f`" }.mkString(", ") +
            ") as (col_name, fmt, n_match)")
          .orderBy("col_name", "fmt")
      },
      """WITH b AS (
        |  SELECT c_custkey AS k,
        |    lpad(CAST(c_custkey % 100000000 AS VARCHAR), 8, '0') AS base
        |  FROM customer),
        |luhn AS (
        |  SELECT k, base,
        |    (10 - list_sum(list_transform(range(1, 9), i ->
        |      CASE WHEN (i-1)%2=0
        |        THEN CASE WHEN CAST(reverse(base)[i] AS INT)*2 > 9
        |          THEN CAST(reverse(base)[i] AS INT)*2 - 9
        |          ELSE CAST(reverse(base)[i] AS INT)*2 END
        |        ELSE CAST(reverse(base)[i] AS INT) END)) % 10) % 10 AS chk
        |  FROM b),
        |syn AS (
        |  SELECT
        |    lpad(CAST(k % 98 + 1 AS VARCHAR), 2, '0')
        |      || lpad(CAST(k % 1000 AS VARCHAR), 3, '0') AS cp,
        |    lpad(CAST(k % 95 + 1 AS VARCHAR), 2, '0') AS dep,
        |    base || CAST(chk AS VARCHAR) AS siren,
        |    base || CAST((chk + 1) % 10 AS VARCHAR) AS sbad,
        |    'c' || CAST(k AS VARCHAR) || '@example.fr' AS mail,
        |    CAST(k % 179 - 89 AS VARCHAR) || '.25' AS lat,
        |    CAST(k % 359 - 179 AS VARCHAR) || '.5' AS lon,
        |    CASE WHEN k % 2 = 0
        |      THEN substr(lpad(CAST(k % 9000 + 1000 AS VARCHAR), 4, '0'), 1, 2)
        |        || '.' || substr(lpad(CAST(k % 9000 + 1000 AS VARCHAR), 4, '0'), 3, 2)
        |        || chr(CAST(65 + k % 26 AS INT))
        |      ELSE lpad(CAST(k % 9000 + 1000 AS VARCHAR), 4, '0')
        |        || chr(CAST(65 + k % 26 AS INT)) END AS ape,
        |    (['10','21','22','23','31','33','34','35','37','38','42','43','44','45',
        |      '46','47','48','52','53','54','55','56','62','63','64','65','67','68',
        |      '69','71','72','74','75','77','78','81','83','84','85','86'])
        |      [CAST(k % 40 + 1 AS INT)] AS csp,
        |    CAST(k % 28 + 1 AS VARCHAR) || ' ' ||
        |      (['janvier','février','mars','avril','mai','juin','juillet','août',
        |        'septembre','octobre','novembre','décembre'])[CAST(k % 12 + 1 AS INT)]
        |      || ' ' || CAST(1990 + k % 40 AS VARCHAR) AS dfr,
        |    substr(md5(CAST(k AS VARCHAR)), 1, 8) || '-' ||
        |      substr(md5(CAST(k AS VARCHAR)), 9, 4) || '-' ||
        |      substr(md5(CAST(k AS VARCHAR)), 13, 4) || '-' ||
        |      substr(md5(CAST(k AS VARCHAR)), 17, 4) || '-' ||
        |      substr(md5(CAST(k AS VARCHAR)), 21, 12) AS uid,
        |    substr(md5(CAST(k AS VARCHAR)), 1, 24) AS oid,
        |    CAST(1900 + k % 200 AS VARCHAR) AS yr,
        |    (['oui','non','vrai','faux','TRUE','False'])[CAST(k % 6 + 1 AS INT)] AS bw,
        |    (['Lundi','mardi','MERCREDI','jeudi','vendredi','samedi','Dimanche'])
        |      [CAST(k % 7 + 1 AS INT)] AS wd,
        |    (['janvier','février','mars','avril','mai','juin','juillet','août',
        |      'septembre','octobre','novembre','décembre'])[CAST(k % 12 + 1 AS INT)] AS mo
        |  FROM luhn),
        |m AS (
        |  SELECT
        |    count(*) FILTER (regexp_matches(cp, '^(0[1-9]|[1-8][0-9]|9[0-8])[0-9]{3}$')) AS cp__code_postal,
        |    count(*) FILTER (regexp_matches(cp, '^(0[1-9]|[1-8][0-9]|9[0-8]|2[AB])[0-9]{3}$')) AS cp__code_commune_insee,
        |    count(*) FILTER (regexp_matches(cp, '^(0[1-9]|[1-8][0-9]|9[0-5]|2[AB]|97[1-6])$')) AS cp__code_departement,
        |    count(*) FILTER (regexp_matches(dep, '^(0[1-9]|[1-8][0-9]|9[0-5]|2[AB]|97[1-6])$')) AS dep__code_departement,
        |    count(*) FILTER (dep IN ('01','02','03','04','06','11','24','27','28','32','44','52','53','75','76','84','93','94')) AS dep__code_region,
        |    count(*) FILTER (regexp_matches(siren, '^[0-9]{9}$') AND
        |      list_sum(list_transform(range(1, 10), i ->
        |        CASE WHEN (i-1)%2=1
        |          THEN CASE WHEN CAST(reverse(siren)[i] AS INT)*2 > 9
        |            THEN CAST(reverse(siren)[i] AS INT)*2 - 9
        |            ELSE CAST(reverse(siren)[i] AS INT)*2 END
        |          ELSE CAST(reverse(siren)[i] AS INT) END)) % 10 = 0) AS siren__siren,
        |    count(*) FILTER (regexp_matches(sbad, '^[0-9]{9}$') AND
        |      list_sum(list_transform(range(1, 10), i ->
        |        CASE WHEN (i-1)%2=1
        |          THEN CASE WHEN CAST(reverse(sbad)[i] AS INT)*2 > 9
        |            THEN CAST(reverse(sbad)[i] AS INT)*2 - 9
        |            ELSE CAST(reverse(sbad)[i] AS INT)*2 END
        |          ELSE CAST(reverse(sbad)[i] AS INT) END)) % 10 = 0) AS sbad__siren,
        |    count(*) FILTER (regexp_matches(mail, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$')) AS mail__email,
        |    count(*) FILTER (regexp_matches(lat, '^[+-]?[0-9]{1,2}(\.[0-9]+)?$') AND abs(TRY_CAST(lat AS DOUBLE)) <= 90) AS lat__latitude_wgs,
        |    count(*) FILTER (regexp_matches(lat, '^[+-]?[0-9]{1,3}(\.[0-9]+)?$') AND abs(TRY_CAST(lat AS DOUBLE)) <= 180) AS lat__longitude_wgs,
        |    count(*) FILTER (regexp_matches(lon, '^[+-]?[0-9]{1,3}(\.[0-9]+)?$') AND abs(TRY_CAST(lon AS DOUBLE)) <= 180) AS lon__longitude_wgs,
        |    count(*) FILTER (regexp_matches(lon, '^[+-]?[0-9]{1,2}(\.[0-9]+)?$') AND abs(TRY_CAST(lon AS DOUBLE)) <= 90) AS lon__latitude_wgs,
        |    count(*) FILTER (regexp_matches(ape, '^[0-9]{2}\.?[0-9]{2}[A-Z]$')) AS ape__insee_ape,
        |    -- the siren pred is digits-regex AND Luhn; the letter already
        |    -- fails the regex, so the conjunction is 0 without the fold
        |    count(*) FILTER (regexp_matches(ape, '^[0-9]{9}$')) AS ape__siren,
        |    count(*) FILTER (csp IN ('10','21','22','23','31','33','34','35','37','38',
        |      '42','43','44','45','46','47','48','52','53','54','55','56','62','63',
        |      '64','65','67','68','69','71','72','74','75','77','78','81','83','84',
        |      '85','86')) AS csp__code_csp,
        |    count(*) FILTER (regexp_matches(csp, '^(0[1-9]|[1-8][0-9]|9[0-5]|2[AB]|97[1-6])$')) AS csp__code_departement,
        |    count(*) FILTER (dep IN ('10','21','22','23','31','33','34','35','37','38',
        |      '42','43','44','45','46','47','48','52','53','54','55','56','62','63',
        |      '64','65','67','68','69','71','72','74','75','77','78','81','83','84',
        |      '85','86')) AS dep__code_csp,
        |    -- analytic oracles for the parser-backed date_fr vote: dfr is
        |    -- constructed valid (day<=28, real month, 1990-2029) so every
        |    -- row must parse; dbad is Feb 29 of a non-leap year so none may
        |    count(*) AS dfr__date_fr,
        |    0 AS dbad__date_fr,
        |    count(*) FILTER (regexp_matches(uid,
        |      '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')) AS uid__uuid,
        |    count(*) FILTER (regexp_matches(uid, '^[0-9a-f]{24}$')) AS uid__mongo_object_id,
        |    count(*) FILTER (regexp_matches(oid, '^[0-9a-f]{24}$')) AS oid__mongo_object_id,
        |    count(*) FILTER (regexp_matches(oid,
        |      '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')) AS oid__uuid,
        |    count(*) FILTER (regexp_matches(yr, '^(1[0-9]{3}|20[0-9]{2})$')) AS yr__year,
        |    count(*) FILTER (regexp_matches(yr, '^(0[1-9]|[1-8][0-9]|9[0-8])[0-9]{3}$')) AS yr__code_postal,
        |    count(*) FILTER (lower(bw) IN ('oui','non','vrai','faux','true','false','yes','no','y','n','o')) AS bw__booleen,
        |    count(*) FILTER (lower(bw) IN ('lundi','mardi','mercredi','jeudi','vendredi','samedi','dimanche')) AS bw__jour_de_la_semaine,
        |    count(*) FILTER (lower(wd) IN ('lundi','mardi','mercredi','jeudi','vendredi','samedi','dimanche')) AS wd__jour_de_la_semaine,
        |    count(*) FILTER (lower(wd) IN ('janvier','février','fevrier','mars','avril','mai','juin',
        |      'juillet','août','aout','septembre','octobre','novembre','décembre','decembre')) AS wd__mois_de_annee,
        |    count(*) FILTER (lower(mo) IN ('janvier','février','fevrier','mars','avril','mai','juin',
        |      'juillet','août','aout','septembre','octobre','novembre','décembre','decembre')) AS mo__mois_de_annee,
        |    -- bare month names carry no 4-digit year, so the parser-backed
        |    -- date_fr vote rejects every row (gate passes, parse fails)
        |    0 AS mo__date_fr
        |  FROM syn)
        |SELECT col_name, fmt, n_match FROM (
        |  SELECT 'cp' AS col_name, 'code_postal' AS fmt, cp__code_postal AS n_match FROM m
        |  UNION ALL SELECT 'cp', 'code_commune_insee', cp__code_commune_insee FROM m
        |  UNION ALL SELECT 'cp', 'code_departement', cp__code_departement FROM m
        |  UNION ALL SELECT 'dep', 'code_departement', dep__code_departement FROM m
        |  UNION ALL SELECT 'dep', 'code_region', dep__code_region FROM m
        |  UNION ALL SELECT 'siren', 'siren', siren__siren FROM m
        |  UNION ALL SELECT 'sbad', 'siren', sbad__siren FROM m
        |  UNION ALL SELECT 'mail', 'email', mail__email FROM m
        |  UNION ALL SELECT 'lat', 'latitude_wgs', lat__latitude_wgs FROM m
        |  UNION ALL SELECT 'lat', 'longitude_wgs', lat__longitude_wgs FROM m
        |  UNION ALL SELECT 'lon', 'longitude_wgs', lon__longitude_wgs FROM m
        |  UNION ALL SELECT 'lon', 'latitude_wgs', lon__latitude_wgs FROM m
        |  UNION ALL SELECT 'ape', 'insee_ape', ape__insee_ape FROM m
        |  UNION ALL SELECT 'ape', 'siren', ape__siren FROM m
        |  UNION ALL SELECT 'csp', 'code_csp', csp__code_csp FROM m
        |  UNION ALL SELECT 'csp', 'code_departement', csp__code_departement FROM m
        |  UNION ALL SELECT 'dep', 'code_csp', dep__code_csp FROM m
        |  UNION ALL SELECT 'dfr', 'date_fr', dfr__date_fr FROM m
        |  UNION ALL SELECT 'dbad', 'date_fr', dbad__date_fr FROM m
        |  UNION ALL SELECT 'uid', 'uuid', uid__uuid FROM m
        |  UNION ALL SELECT 'uid', 'mongo_object_id', uid__mongo_object_id FROM m
        |  UNION ALL SELECT 'oid', 'mongo_object_id', oid__mongo_object_id FROM m
        |  UNION ALL SELECT 'oid', 'uuid', oid__uuid FROM m
        |  UNION ALL SELECT 'yr', 'year', yr__year FROM m
        |  UNION ALL SELECT 'yr', 'code_postal', yr__code_postal FROM m
        |  UNION ALL SELECT 'bw', 'booleen', bw__booleen FROM m
        |  UNION ALL SELECT 'bw', 'jour_de_la_semaine', bw__jour_de_la_semaine FROM m
        |  UNION ALL SELECT 'wd', 'jour_de_la_semaine', wd__jour_de_la_semaine FROM m
        |  UNION ALL SELECT 'wd', 'mois_de_annee', wd__mois_de_annee FROM m
        |  UNION ALL SELECT 'mo', 'mois_de_annee', mo__mois_de_annee FROM m
        |  UNION ALL SELECT 'mo', 'date_fr', mo__date_fr FROM m)
        |ORDER BY col_name, fmt""".stripMargin),

    // Embedding-space snapshot drift (x72's embedding analog): per-label
    // centroid movement between two corpus snapshots — here the vec_id
    // parity halves, the deterministic stand-in for successive refreshes.
    // Centroid components round to 6 decimals before the distance math
    // (x64's convention) so both engines replay identical arithmetic.
    "x75_embedding_drift" -> sql(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.centroidDrift(
          e.where(col("vec_id") % 2 === 0),
          e.where(col("vec_id") % 2 === 1),
          "embedding", "label")
          .orderBy("label")
      },
      """WITH d AS (
        |  SELECT vec_id % 2 AS half, label, unnest(embedding::DOUBLE[]) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |c AS (SELECT half, label, i, round(avg(v), 6) AS c FROM d GROUP BY 1, 2, 3),
        |cent AS (SELECT half, label, list(c ORDER BY i) AS ce FROM c GROUP BY 1, 2),
        |n AS (SELECT vec_id % 2 AS half, label, count(*) AS cnt
        |      FROM embeddings GROUP BY 1, 2)
        |SELECT a.label AS label, na.cnt AS n_old, nb.cnt AS n_new,
        |  round(sqrt(list_sum(list_transform(range(1, len(a.ce) + 1),
        |    i -> (a.ce[i] - b.ce[i]) * (a.ce[i] - b.ce[i])))), 4) AS l2_shift,
        |  round(list_dot_product(a.ce, b.ce) /
        |    (sqrt(list_dot_product(a.ce, a.ce)) * sqrt(list_dot_product(b.ce, b.ce))), 4)
        |    AS cos_shift
        |FROM cent a
        |JOIN cent b ON a.label = b.label AND a.half = 0 AND b.half = 1
        |JOIN n na ON na.label = a.label AND na.half = 0
        |JOIN n nb ON nb.label = a.label AND nb.half = 1
        |ORDER BY label""".stripMargin),

    // Per-source document-length quantiles — the shape-of-the-mixture
    // report a curriculum or packing stage reads before choosing sequence
    // budgets. Exact interpolated percentiles (d23's parity) over integer
    // lengths; one source-keyed aggregation.
    "x76_source_length_quantiles" -> sql(
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(expr("percentile(n_chars, 0.1)"), 4).as("p10"),
            round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
            round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("source"),
      """SELECT source, count(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.1), 4) AS p10,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  max(n_chars) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Hard-negative mining (x13's contrastive-training counterpart): for
    // each query vector the top-3 most similar embeddings under a
    // DIFFERENT label — confusable examples for a contrastive/reranker
    // objective. Bit-exact brute-force oracle; the label predicate rides
    // the broadcast join, so the plan is x13's.
    "x77_hard_negatives" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.orderBy("vec_id").limit(20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel"))
        Similarity.hardNegatives(emb, queries, "vec_id", "embedding", "label",
          "qid", "qvec", "qlabel", k = 3)
          .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
            round(col("sim"), 4).as("sim"), col("rank").cast("long").as("rank"))
          .orderBy("qid", "rank")
      },
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        |  FROM embeddings ORDER BY vec_id LIMIT 20),
        |scored AS (
        |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |    list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |  FROM q JOIN embeddings e ON e.vec_id <> q.qid AND e.label <> q.qlabel),
        |ranked AS (SELECT qid, qlabel, vec_id, label, round(sim, 4) AS sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, qlabel, vec_id, label, sim, rank FROM ranked WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    // Bloom semi-join reduction: revenue of lineitems whose order is
    // URGENT — the fact scan pre-prunes through a broadcast bloom filter
    // before the exact semi-join kills the false positives, so the result
    // is bit-identical to the plain semi-join (the oracle) while only the
    // bloom survivors reach the exchange. The cross-job pattern behind
    // pruning a 100 TB scan with yesterday's digest set.
    "x78_bloom_semi_join" -> sql(
      (s, dir) => {
        val urgent = Tables.orders(s, dir)
          .where(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        graft.operators.BloomPrune.semiJoin(
          Tables.lineitem(s, dir), urgent, "l_orderkey", "o_orderkey",
          expectedItems = 1 << 20)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Normalized exact dedup: the graft_normalize kernel (NFC + casefold +
    // whitespace collapse, one codegen'd projection) in front of the x01
    // digest-groupBy — catches duplicates that differ only in case,
    // whitespace, or Unicode composition. The oracle replays the full
    // normalize → md5 chain per document, so the kernel is parity-checked
    // over the whole corpus, not just the dup rows.
    "x79_normalized_dedup" -> sql(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, dir)
          .select(col("doc_id"),
            md5(call_function("graft_normalize", col("text")).cast("binary"))
              .as("norm_digest"))
          .withColumn("is_dup",
            count(lit(1)).over(Window.partitionBy("norm_digest")) > 1)
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')))
        |    AS norm_digest,
        |  count(*) OVER (PARTITION BY
        |    md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))))
        |    > 1 AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Sorted-neighborhood record linkage: customer names with one digit
    // deterministically dropped, re-linked to their originals by SNM +
    // exact Levenshtein (n·k candidates via the global sort position,
    // never a blocking hot-spot). The oracle replays the identical SNM —
    // same sort, same ±8 neighborhood, same argmin — so engines agree on
    // exactly which links the algorithm finds.
    "x80_record_linkage" -> sql(
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val clean = c.select(col("c_custkey"), col("c_name"))
        val dirty = c.select(col("c_custkey"),
          expr("concat(substr(c_name, 1, 9 + c_custkey % 9), " +
            "substr(c_name, 11 + c_custkey % 9))").as("dirty_name"))
        FuzzyLinkage.bestMatch(clean, dirty, "c_custkey", "c_name",
          "c_custkey", "dirty_name", neighborhood = 8, maxDist = 2)
          .withColumn("dist", col("dist").cast("long"))
          .orderBy("dirty_id")
      },
      """WITH clean AS (SELECT c_custkey AS id, c_name AS val, 0 AS src FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS id,
        |    substr(c_name, 1, 9 + c_custkey % 9)
        |      || substr(c_name, 11 + c_custkey % 9) AS val,
        |    1 AS src FROM customer),
        |u AS (SELECT * FROM clean UNION ALL SELECT * FROM dirty),
        |ranked AS (SELECT id, val, src,
        |    row_number() OVER (ORDER BY val, src, id) - 1 AS pos FROM u),
        |probes AS (
        |  SELECT r.id AS dirty_id, r.val AS dirty_val, r.pos + g.o AS pos
        |  FROM ranked r CROSS JOIN generate_series(-8, 8) g(o) WHERE r.src = 1),
        |targets AS (SELECT id AS clean_id, val AS clean_val, pos
        |  FROM ranked WHERE src = 0),
        |scored AS (
        |  SELECT dirty_id, dirty_val, clean_id, clean_val,
        |    levenshtein(dirty_val, clean_val) AS dist
        |  FROM probes JOIN targets USING (pos)
        |  WHERE levenshtein(dirty_val, clean_val) <= 2),
        |best AS (SELECT *,
        |    row_number() OVER (PARTITION BY dirty_id ORDER BY dist, clean_id) AS rn
        |  FROM scored)
        |SELECT dirty_id, dirty_val, clean_id, clean_val, dist::BIGINT AS dist
        |FROM best WHERE rn = 1 ORDER BY dirty_id""".stripMargin),

    // BM25 ranked retrieval: top-10 documents for a fixed query set under
    // the Lucene idf form — the search-serving counterpart of x33's
    // TF-IDF. Query terms broadcast into the postings explode (shuffled
    // volume tracks matches, not corpus tokens); ranks order on the
    // 4-decimal-rounded score so ln() ulps can't reorder the top-k.
    "x81_bm25_search" -> sql(
      (s, dir) => {
        Vocabulary.bm25TopK(Tables.documents(s, dir), "text", "doc_id",
          Seq("q1" -> "merge sort", "q2" -> "hash join",
            "q3" -> "window scan", "q4" -> "slow query"), k = 10)
          .orderBy("qid", "rank")
      },
      """WITH dl AS (
        |  SELECT doc_id AS doc,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |toks AS (
        |  SELECT doc_id AS doc,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |q AS (SELECT * FROM (VALUES ('q1', 'merge'), ('q1', 'sort'),
        |  ('q2', 'hash'), ('q2', 'join'), ('q3', 'window'), ('q3', 'scan'),
        |  ('q4', 'slow'), ('q4', 'query')) AS t(qid, term)),
        |tf AS (
        |  SELECT t.doc, t.term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks t JOIN (SELECT DISTINCT term FROM q) qq USING (term)
        |  GROUP BY 1, 2),
        |wdf AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
        |  FROM tf),
        |sc AS (
        |  SELECT q.qid, w.doc,
        |    round(sum(ln(1 + (s.n - w.df + 0.5) / (w.df + 0.5)) * w.tf * 2.2 /
        |      (w.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score
        |  FROM wdf w
        |  JOIN q ON q.term = w.term
        |  JOIN dl ON dl.doc = w.doc
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, doc, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank
        |  FROM sc)
        |SELECT qid, doc, score, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin),

    // KMV distinct sketch vs exact — distinct users per event type. The
    // md5-derived draws make the estimate deterministic, so the oracle
    // replays it bit-for-bit (HUGEINT fold of the 15-hex-char draw),
    // unlike HLL's rows-only envelope (x36). n_exact rides the same
    // distinct-hash frame, so the report IS the sketch-accuracy audit.
    // Estimate-ONLY surface (the 100 TB plan): the checked output is the
    // bounded graft_kmv_agg estimate alone — no exact-distinct audit
    // column, so the whole aggregation state that the bench measures is
    // the ≤ k-double sketch. The oracle still derives the exact count
    // internally (the < k exact-fallback needs it) but never emits it;
    // kmvDistinct keeps the n_exact audit column for callers who want the
    // report form.
    "x82_kmv_distinct" -> sql(
      (s, dir) =>
        Sketches.kmvEstimate(Tables.events(s, dir), "user_id", "event_type",
          k = 64)
          .orderBy("event_type"),
      """WITH h AS (
        |  SELECT DISTINCT event_type AS grp,
        |    CAST(list_reduce(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM events),
        |n AS (SELECT grp, count(*) AS n_exact FROM h GROUP BY 1),
        |r AS (SELECT grp, u, row_number() OVER (PARTITION BY grp ORDER BY u) AS rn
        |  FROM h),
        |kth AS (SELECT grp, u AS uk FROM r WHERE rn = 64)
        |SELECT n.grp AS event_type,
        |  round(CASE WHEN kth.uk IS NULL THEN CAST(n.n_exact AS DOUBLE)
        |    ELSE 63.0 / kth.uk END, 4) AS kmv_estimate
        |FROM n LEFT JOIN kth USING (grp) ORDER BY event_type""".stripMargin),

    // BPE serving side: tokenize the corpus with the merges just learned
    // from it (train → encode round trip, one narrow map — the merge table
    // broadcasts). The oracle replays the training chain (bpeIterCtes) to
    // its final vocabulary state and charges each document its words'
    // final symbol counts — which equals greedy rank-order encoding for
    // every in-vocabulary word (the classic BPE train/encode equivalence;
    // a divergence would surface as a row diff here). Empty/null texts
    // keep their 0-token row via the left join, matching encode's
    // empty-Seq contract.
    "x41_bpe_tokenize" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = BpeTrainer.learnMerges(docs, "text", numMerges = 64)
        BpeTrainer.encode(docs, "text", merges)
          .select("doc_id", "n_bpe_tokens")
          .orderBy("doc_id")
      },
      bpeIterCtes(64) + """,
        |enc AS (SELECT w, len(syms)::BIGINT AS n FROM v64),
        |dw AS (
        |  SELECT doc_id, w, count(*)::BIGINT AS m FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |    FROM documents) GROUP BY 1, 2),
        |agg AS (
        |  SELECT dw.doc_id, sum(dw.m * enc.n) AS n
        |  FROM dw JOIN enc USING (w) GROUP BY dw.doc_id)
        |SELECT d.doc_id, coalesce(CAST(agg.n AS BIGINT), 0) AS n_bpe_tokens
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Weighted reservoir sampling per source (Efraimidis-Spirakis A-ES):
    // priority u^(1/w) on the md5-derived 60-bit uniform, weight = token
    // count + 1, top-10 per source — the weight-proportional counterpart
    // of x28's uniform stratified sample. The oracle replays draw,
    // priority (rounded before ranking so pow's libm ulp spread cannot
    // flip a boundary) and the per-source ranking exactly.
    "x83_weighted_reservoir" -> sql(
      (s, dir) => {
        // token count via regexp_count(\S+) — value-identical to the
        // size(filter(split(...))) form (tokens ARE the \S+ runs; lower/
        // trim cannot change the count); plans as one size(regexp_extract_all)
        val docs = Tables.documents(s, dir)
          .withColumn("w",
            (regexp_count(col("text"), lit("\\S+")) + 1).cast("long"))
        MixtureSampling.weightedReservoirPerCategory(
          docs, "source", "doc_id", "w", k = 10, seed = "v1")
          .select(col("source"), col("doc_id"), col("w"), col("priority"),
            col("rk").cast("long").as("rk"))
          .orderBy("source", "rk")
      },
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) + 1 AS w
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, source, w,
        |    CAST(list_reduce(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef',
        |        substr(md5('v1:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM t),
        |p AS (
        |  SELECT doc_id, source, CAST(w AS BIGINT) AS w,
        |    round(pow(u, 1.0 / w), 6) AS priority
        |  FROM u),
        |r AS (
        |  SELECT source, doc_id, w, priority,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY priority DESC, doc_id) AS rk
        |  FROM p)
        |SELECT source, doc_id, w, priority, rk FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin),

    // Rendezvous (HRW) shard assignment: shard = argmax over 16 shards of
    // md5("id:s") — the minimal-reassignment layout (adding shard S+1
    // moves ~1/(S+1) of rows, all TO the new shard; HrwShardingSpec pins
    // it). Pure per-row expression, no shuffle; the oracle recomputes the
    // same 16-way argmax from the hex strings.
    "x84_hrw_shards" -> sql(
      (s, dir) =>
        Sharding.hrwShard(Tables.documents(s, dir), "doc_id", nShards = 16)
          .select(col("doc_id"), col("shard"))
          .orderBy("doc_id"),
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, 15)) AS s FROM documents),
        |h AS (
        |  SELECT doc_id, s,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS hv
        |  FROM g),
        |r AS (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) AS rn
        |  FROM h)
        |SELECT doc_id, CAST(s AS INTEGER) AS shard FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),

    // Video frame-sampling plumbing through the query surface: documents
    // become "video" blobs, the stub codec emits the frame schedule
    // (every strideBytes-th slice) via the real mapPartitions machinery —
    // schema, batch iteration and explode shape are what a javacv-backed
    // codec would inherit unchanged. The oracle replays the schedule
    // arithmetic from the UTF-8 byte lengths.
    "x85_frame_sample" -> sql(
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"), lit("video").as("kind"),
            col("text").cast("binary").as("bytes"),
            struct(lit(null).cast("string").as("format"),
              lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
              lit(null).cast("long").as("duration_ms")).as("meta"))
        Multimodal.sampleFrames(Multimodal.repartitionBySize(media, 32),
          strideBytes = 64)
          .orderBy("media_id", "frame_no")
      },
      """WITH t AS (SELECT doc_id, strlen(coalesce(text, '')) AS n FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, CAST(ceil(n / 64.0) AS BIGINT) - 1)) AS i
        |  FROM t WHERE n > 0)
        |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_no,
        |  i * 64 AS byte_offset
        |FROM f ORDER BY media_id, frame_no""".stripMargin),

    // Prefix-filtered set-similarity self-join (ppjoin family) — the
    // EXACT-recall candidate generator over the same shingle space as
    // x07's minhash banding, against the same exact all-pairs oracle: two
    // independent algorithms, one ground truth. Banding trades recall for
    // postings volume; prefix filtering is lossless by the prefix-
    // filtering principle, paying Σ prefix-postings² instead.
    "x86_prefix_jaccard" -> sql(
      (s, dir) => {
        Dedup.prefixJaccardPairs(Tables.documents(s, dir),
          "text", "doc_id", threshold = 0.5, shingleSize = 3)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id_a", "id_b")
      },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (sa + sb - c), 4) AS jaccard
        |FROM p WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // KMV set-operation estimates (Beyer et al. 2007): cross-source
    // distinct-shingle overlap from per-source bottom-64 sketches — the
    // bounded-state path for the question x65 answers exactly. The md5
    // draws make union/intersection/Jaccard estimates DETERMINISTIC, so
    // the oracle replays the whole recipe: per-source bottom-k, merged
    // bottom-k, θ, the common-draws-below-θ count, and the estimate
    // arithmetic — bit-for-bit. Raw shingles are touched exactly once
    // (by the sketch aggregation); the pair stage sees only k-bounded
    // arrays.
    "x87_kmv_overlap" -> sql(
      (s, dir) => {
        Sketches.kmvSourceOverlap(
          Tables.documents(s, dir), "text", "source",
          shingleSize = 3, k = 64)
          .orderBy("source_a", "source_b")
      },
      """WITH t AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]))) AS sh
        |    FROM t WHERE len(toks) >= 3)),
        |u AS (
        |  SELECT DISTINCT source,
        |    CAST(list_reduce(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM sh),
        |r AS (SELECT source, u,
        |    row_number() OVER (PARTITION BY source ORDER BY u) AS rn FROM u),
        |sk AS (SELECT source, u FROM r WHERE rn <= 64),
        |gs AS (SELECT DISTINCT source FROM sk),
        |pr AS (SELECT a.source AS ga, b.source AS gb
        |  FROM gs a JOIN gs b ON a.source < b.source),
        |mu AS (
        |  SELECT pr.ga, pr.gb, s.u FROM pr
        |  JOIN sk s ON s.source = pr.ga OR s.source = pr.gb
        |  GROUP BY 1, 2, 3),
        |mr AS (SELECT ga, gb, u,
        |    row_number() OVER (PARTITION BY ga, gb ORDER BY u) AS rn,
        |    count(*) OVER (PARTITION BY ga, gb) AS nm
        |  FROM mu),
        |th AS (SELECT ga, gb, max(nm) AS nm,
        |    max(CASE WHEN rn = 64 THEN u END) AS theta
        |  FROM mr GROUP BY 1, 2),
        |co AS (
        |  SELECT a.source AS ga, b.source AS gb, a.u
        |  FROM sk a JOIN sk b ON a.u = b.u AND a.source < b.source),
        |cc AS (
        |  SELECT th.ga, th.gb, th.nm, th.theta,
        |    count(CASE WHEN th.theta IS NULL OR co.u <= th.theta THEN 1 END) AS c
        |  FROM th LEFT JOIN co ON co.ga = th.ga AND co.gb = th.gb
        |  GROUP BY 1, 2, 3, 4),
        |est AS (
        |  SELECT ga, gb,
        |    CASE WHEN theta IS NULL THEN CAST(nm AS DOUBLE)
        |      ELSE 63.0 / theta END AS uest,
        |    CAST(c AS DOUBLE) /
        |      (CASE WHEN theta IS NULL THEN CAST(nm AS DOUBLE) ELSE 64.0 END) AS jest
        |  FROM cc)
        |SELECT ga AS source_a, gb AS source_b,
        |  round(uest, 4) AS union_est,
        |  round(jest * uest, 4) AS inter_est,
        |  round(jest, 4) AS jaccard_est
        |FROM est ORDER BY source_a, source_b""".stripMargin),

    // Soft deduplication (duplication-aware reweighting): every member of
    // a near-dup cluster keeps sampling weight 1/|cluster| and survives an
    // independent integer-threshold draw at that rate — in expectation one
    // representative per cluster, but which one varies (the diversity hard
    // dedup throws away). The oracle replays the whole chain: exact
    // all-pairs Jaccard, recursive-CTE closure, cluster sizes, and the
    // md5-integer accept test — no floating-point rate ever exists.
    "x88_soft_dedup" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        val clusters = Dedup.duplicateClusters(pairs)
        Dedup.softDedupReport(
          docs.select("doc_id", "source"), "doc_id", clusters, seed = "sd")
          .orderBy("doc_id")
      },
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM p WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src),
        |cl AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
        |sz AS (SELECT cluster, count(*) AS csize FROM cl GROUP BY 1),
        |asg AS (SELECT cl.id, sz.csize FROM cl JOIN sz USING (cluster)),
        |d AS (
        |  SELECT doc_id, source, CAST(coalesce(asg.csize, 1) AS BIGINT) AS csize
        |  FROM documents LEFT JOIN asg ON asg.id = doc_id),
        |u AS (
        |  SELECT doc_id, source, csize,
        |    list_reduce(list_transform(range(1, 9), i ->
        |      (strpos('0123456789abcdef',
        |        substr(md5('sd:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) AS draw
        |  FROM d)
        |SELECT doc_id, source, csize,
        |  round(1.0::DOUBLE / csize, 4) AS weight,
        |  draw < 4294967296 // csize AS keep
        |FROM u ORDER BY doc_id""".stripMargin),

    // Walk-forward purged temporal split (López de Prado 2018): 4 folds
    // over the event stream, each validating on a later time window and
    // training only up to an embargo gap (2 days) before it — the
    // leakage-safe complement of x44's grouped split. Fold boundaries are
    // exact ORDER STATISTICS (the ceil(i·n/5)-th smallest timestamp) via
    // the two-phase global rank, never interpolated percentiles — epoch
    // micros exceed double's mantissa, so interpolation would be
    // engine-dependent; integer selection is not. The oracle replays the
    // rank, the boundary picks, and every window count.
    "x89_embargo_split" -> sql(
      (s, dir) => {
        TemporalSplit.walkForwardFolds(Tables.events(s, dir),
          "ts", "event_id", nFolds = 4, embargoMicros = 172800000000L)
          .orderBy("fold")
      },
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |n AS (SELECT count(*) AS n, max(us) AS maxus FROM e),
        |r AS (SELECT us, row_number() OVER (ORDER BY us, event_id) - 1 AS pos FROM e),
        |f AS (SELECT unnest(generate_series(1, 4)) AS fold),
        |t AS (SELECT f.fold, (f.fold * n.n + 4) // 5 - 1 AS tpos, n.maxus
        |  FROM f CROSS JOIN n),
        |b AS (SELECT t.fold, r.us AS b_us, t.maxus FROM t JOIN r ON r.pos = t.tpos),
        |rg AS (
        |  SELECT b.fold, b.b_us, coalesce(b2.b_us, b.maxus) AS vend
        |  FROM b LEFT JOIN b b2 ON b2.fold = b.fold + 1),
        |c AS (
        |  SELECT rg.fold, rg.b_us,
        |    sum(CASE WHEN e.us <= rg.b_us - 172800000000 THEN 1 ELSE 0 END) AS n_train,
        |    sum(CASE WHEN e.us > rg.b_us - 172800000000 AND e.us <= rg.b_us
        |      THEN 1 ELSE 0 END) AS n_embargo,
        |    sum(CASE WHEN e.us > rg.b_us AND e.us <= rg.vend THEN 1 ELSE 0 END) AS n_val
        |  FROM rg CROSS JOIN e GROUP BY 1, 2)
        |SELECT CAST(fold AS BIGINT) AS fold, b_us AS boundary_us,
        |  CAST(n_train AS BIGINT) AS n_train,
        |  CAST(n_embargo AS BIGINT) AS n_embargo,
        |  CAST(n_val AS BIGINT) AS n_val
        |FROM c ORDER BY fold""".stripMargin),

    // Z-order (Morton-curve) layout report: events clustered on
    // (user_id, event time) into 64 z-range files, with the per-file
    // min/max footer stats and the min-max pruning verdict for a
    // selective user predicate — the data-layout decision that makes a
    // 100 TB scan touch a few files. Quantization and bit interleave are
    // pure integer arithmetic, so the oracle replays every z-value, file
    // assignment, footer stat and pruning flag exactly.
    "x90_zorder_layout" -> sql(
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id").cast("long").as("uid"),
            unix_micros(col("ts")).as("tus"))
        Layout.zOrderLayoutReport(e, "uid", "tus", bits = 8,
          partitionBits = 6, xLo = 100L, xHi = 199L)
          .orderBy("pk")
      },
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS x, epoch_us(ts) AS y FROM events),
        |mm AS (SELECT min(x) AS minx, max(x) AS maxx,
        |    min(y) AS miny, max(y) AS maxy FROM e),
        |q AS (
        |  SELECT x, y,
        |    ((x - minx) * 256) // (maxx - minx + 1) AS qx,
        |    ((y - miny) * 256) // (maxy - miny + 1) AS qy
        |  FROM e CROSS JOIN mm),
        |z AS (
        |  SELECT x, y, CAST(list_sum(list_transform(range(0, 8), i ->
        |      ((qx >> i) & 1) * (1::BIGINT << (2 * i)) +
        |      ((qy >> i) & 1) * (1::BIGINT << (2 * i + 1)))) AS BIGINT) AS zv
        |  FROM q),
        |g AS (
        |  SELECT zv >> 10 AS pk, count(*) AS n,
        |    min(x) AS min_x, max(x) AS max_x,
        |    min(y) AS min_y, max(y) AS max_y
        |  FROM z GROUP BY 1)
        |SELECT CAST(pk AS BIGINT) AS pk, n, min_x, max_x, min_y, max_y,
        |  NOT (max_x < 100 OR min_x > 199) AS scanned
        |FROM g ORDER BY pk""".stripMargin),

    // Paragraph-level keep-first dedup (RefinedWeb/Dolma's middle dedup
    // granularity). Documents are re-lined into 3-token paragraphs (same
    // synthesis trick as x29 — the corpus has no natural paragraph breaks)
    // so cross-document paragraph collisions are common; the oracle replays
    // the identical keep-first rule with row_number over (para → doc, pos).
    "x91_paragraph_dedup" -> sql(
      (s, dir) => {
        val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
        val parad = Tables.documents(s, dir)
          .select(col("doc_id"), toks.as("t"))
          .where(size(col("t")) > 0)
          .select(col("doc_id"), concat_ws("\n\n",
            transform(
              sequence(lit(0L),
                ceil(size(col("t")).cast("double") / 3.0).cast("long") - 1),
              i => concat_ws(" ", slice(col("t"), (i * 3 + 1).cast("int"), lit(3)))))
            .as("text"))
        ParagraphDedup.keepFirstParagraphs(parad, "text", "doc_id")
          .select(col("doc_id"), col("cleaned_text"),
            col("n_paras_kept"), col("n_paras_dropped"))
          .orderBy("doc_id")
      },
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(0, CAST(ceil(len(toks) / 3.0) AS INT) - 1),
        |    i -> array_to_string(list_slice(toks, i*3+1, i*3+3), ' ')) AS ps
        |  FROM t0 WHERE len(toks) > 0),
        |occ AS (SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, ps FROM paras),
        |o2 AS (SELECT doc_id, pos, trim(ps[pos]) AS para FROM occ),
        |rk AS (SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM o2)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)||chr(10) ORDER BY pos), '') AS cleaned_text,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_paras_kept,
        |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_paras_dropped
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // C4 cleaning rules (Raffel 2020 §2.2) over synthesized lines: 8-token
    // lines, terminal '.' on two of every three (i % 3 <> 0), so the line
    // rule has real selectivity; ban-list phrases are drawn from the corpus
    // vocabulary so the document rule fires too. Pure projection — the
    // plan audit pins zero exchanges.
    "x92_c4_filters" -> sql(
      (s, dir) => {
        val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
        val lined = Tables.documents(s, dir)
          .select(col("doc_id"), toks.as("t"))
          .where(size(col("t")) > 0)
          .select(col("doc_id"), concat_ws("\n",
            transform(
              sequence(lit(0L),
                ceil(size(col("t")).cast("double") / 8.0).cast("long") - 1),
              i => concat(
                concat_ws(" ", slice(col("t"), (i * 8 + 1).cast("int"), lit(8))),
                when(i % 3 =!= 0, lit(".")).otherwise(lit("")))))
            .as("text"))
        C4Filters.c4Report(lined, "text",
          minWordsPerLine = 5, minKeptLines = 3,
          badPhrases = Seq("customer line", "spark group"))
          .select(col("doc_id"), col("clean_text"),
            col("n_lines_total"), col("n_lines_kept"),
            col("has_bad_phrase"), col("has_brace"), col("keep"))
          .orderBy("doc_id")
      },
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |    generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1),
        |    i -> array_to_string(list_slice(toks, i*8+1, i*8+8), ' ') ||
        |         CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END), chr(10)) AS text
        |  FROM t0 WHERE len(toks) > 0),
        |r AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lined),
        |k AS (SELECT doc_id, text, ls,
        |    list_filter(ls, ln ->
        |      (ends_with(trim(ln), '.') OR ends_with(trim(ln), '!') OR
        |       ends_with(trim(ln), '?') OR ends_with(trim(ln), '"') OR
        |       ends_with(trim(ln), chr(39)))
        |      AND len(list_filter(string_split_regex(trim(ln), '\s+'), w -> w <> '')) >= 5) AS kept
        |  FROM r)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_transform(kept, ln -> trim(ln)), chr(10)), '') AS clean_text,
        |  CAST(len(ls) AS BIGINT) AS n_lines_total,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  (contains(lower(text), 'customer line') OR contains(lower(text), 'spark group')) AS has_bad_phrase,
        |  contains(text, '{') AS has_brace,
        |  (len(kept) >= 3
        |   AND NOT (contains(lower(text), 'customer line') OR contains(lower(text), 'spark group'))
        |   AND NOT contains(text, '{')) AS keep
        |FROM k ORDER BY doc_id""".stripMargin),

    // Misra–Gries heavy hitters per source: one-pass frequent tokens with
    // ≤ capacity counters of state per group (graft_mg_topk). On this
    // corpus the 31-token vocabulary sits far below capacity=256, so the
    // summary is EXACT and partition-independent — the oracle is the plain
    // exact count with the identical (count desc, term) rank order; the
    // approximation regime (distinct ≫ capacity) is pinned by MgSketchSpec
    // instead, where no SQL replay can exist.
    "x93_mg_heavy_hitters" -> sql(
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("tok"))
        Sketches.mgHeavyHitters(toks, col("tok"), "source",
          capacity = 256, topK = 5)
          .orderBy("source", "rank")
      },
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |rk AS (SELECT source, tok, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rank
        |  FROM cnt)
        |SELECT source, tok AS term, c AS est_count, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 5 ORDER BY source, rank""".stripMargin),

    // Exact positional phrase search ("table scan", quoted-query
    // semantics): adjacency over positional postings, overlapping matches
    // counted, distributed top-k rank. The oracle replays the identical
    // postings self-join with the same (n desc, doc) tie order.
    "x94_phrase_search" -> sql(
      (s, dir) =>
        Vocabulary.phraseSearch(Tables.documents(s, dir), "text", "doc_id",
          phrase = Seq("table", "scan"), k = 20)
          .select(col("doc"), col("n_matches"), col("rank"))
          .orderBy("rank"),
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM t0),
        |post AS (SELECT doc_id, pos, toks[pos] AS term FROM p),
        |m AS (
        |  SELECT a.doc_id, count(*) AS n_matches
        |  FROM post a JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.term = 'table' AND b.term = 'scan'
        |  GROUP BY 1),
        |rk AS (SELECT doc_id, n_matches,
        |    row_number() OVER (ORDER BY n_matches DESC, doc_id) AS rank
        |  FROM m)
        |SELECT doc_id AS doc, n_matches, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin),

    // Tokenizer fertility per language — the budget planner's table:
    // subword (BPE-regex) tokens per whitespace word, chars per subword
    // token, and byte volume, per lang. A pure one-agg projection (the
    // kernels are the shared x02/x10 counters), oracle replays the GPT-2
    // pre-tokenizer regex in DuckDB like x10 does.
    "x95_lang_fertility" -> sql(
      (s, dir) => {
        def rnd4(c: org.apache.spark.sql.Column) =
          floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
        Tables.documents(s, dir)
          .select(col("lang"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("ws"),
            TextAnalysis.tokenCountBpe(col("text")).as("bpe"),
            length(col("text")).cast("long").as("ch"),
            expr("octet_length(text)").cast("long").as("nby"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("ws").as("n_ws_tokens"),
            sum("bpe").as("n_bpe_tokens"),
            sum("ch").as("n_chars"),
            sum("nby").as("n_bytes"),
            rnd4(sum(col("ch")) / sum(col("bpe"))).as("chars_per_bpe_token"),
            rnd4(sum(col("bpe")) / sum(col("ws"))).as("fertility"))
          .orderBy("lang")
      },
      """WITH f AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS ws,
        |    len(regexp_extract_all(text,
        |      '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS bpe,
        |    length(text) AS ch,
        |    strlen(text) AS nby
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
        |  CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(ch) AS BIGINT) AS n_chars,
        |  CAST(sum(nby) AS BIGINT) AS n_bytes,
        |  floor(sum(ch)::DOUBLE / sum(bpe) * 10000 + 0.5) / 10000 AS chars_per_bpe_token,
        |  floor(sum(bpe)::DOUBLE / sum(ws) * 10000 + 0.5) / 10000 AS fertility
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin),

    // More-like-this retrieval: document 7's six highest-tf·idf terms
    // (rounded scores + term tie-break, so both engines select the same
    // set) become a BM25 query against the corpus, self excluded — the
    // Lucene MLT shape on the x81 scoring core. The derived term profile
    // stays a broadcast DataFrame end to end; nothing collects.
    "x96_more_like_this" -> sql(
      (s, dir) => {
        Vocabulary.moreLikeThis(Tables.documents(s, dir), "text", "doc_id",
          queryDocId = 7L, nTerms = 6, k = 15)
          .orderBy("rank")
      },
      """WITH dl AS (
        |  SELECT doc_id AS doc,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |toks AS (
        |  SELECT doc_id AS doc,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |qdf AS (SELECT term, CAST(count(DISTINCT doc) AS DOUBLE) AS qdf
        |  FROM toks GROUP BY 1),
        |q AS (
        |  SELECT CAST(7 AS BIGINT) AS qid, term FROM (
        |    SELECT t.term,
        |      round(CAST(count(*) AS DOUBLE) *
        |        ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / any_value(qdf.qdf)), 4) AS tfidf
        |    FROM toks t JOIN qdf USING (term)
        |    WHERE t.doc = 7
        |    GROUP BY t.term
        |    ORDER BY tfidf DESC, t.term LIMIT 6)),
        |tf AS (
        |  SELECT t.doc, t.term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks t JOIN (SELECT DISTINCT term FROM q) qq USING (term)
        |  GROUP BY 1, 2),
        |wdf AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
        |  FROM tf),
        |sc AS (
        |  SELECT q.qid, w.doc,
        |    round(sum(ln(1 + (s.n - w.df + 0.5) / (w.df + 0.5)) * w.tf * 2.2 /
        |      (w.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score
        |  FROM wdf w
        |  JOIN q ON q.term = w.term
        |  JOIN dl ON dl.doc = w.doc
        |  CROSS JOIN stats s
        |  WHERE w.doc <> q.qid
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, doc, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank
        |  FROM sc)
        |SELECT qid, doc, score, rank FROM r WHERE rank <= 15
        |ORDER BY rank""".stripMargin),

    // Greedy k-center coreset (Gonzalez farthest-point traversal) — the
    // diverse-subset selection op. Every round is pure deterministic IEEE
    // arithmetic (index-ordered l2 fold + least() chain, ties on id), so
    // the oracle unrolls the k rounds as chained CTEs (the x40 pattern)
    // and both engines agree on every selected id AND its raw distance.
    "x97_kcenter_coreset" -> sql(
      (s, dir) =>
        Similarity.kCenterCoreset(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 6)
          .orderBy("rank"),
      kcenterOracle(6)),

    // Heaps'-law fit + 100× vocabulary extrapolation over the x66 growth
    // curve — the scale-planning number (what vocab to size sketches and
    // tokenizers for at target scale). The ≤10 fit points collapse into
    // ONE bucket-ordered array and every OLS sum is a left fold over it,
    // so aggregation order is pinned on both engines; ln() ulps land
    // under the rounded outputs (x33's convention).
    // Embedding-side curation flagship (the x17/x37 composition story for
    // the vector modality): label-coherence trim on the ROUNDED x56
    // cosines, then x42's pivot-cell semantic dedup over the TRIMMED
    // corpus (pivots drawn post-trim — the stages genuinely chain), keep
    // min-id representatives, report the per-label funnel. The oracle
    // replays the entire chain: centroid grid, rounded-cosine filter,
    // per-pass pivot draw over the trimmed set, cell blocking, exact
    // cosine pairs, recursive-CTE components, and the three counts.
    "x99_embedding_curation" -> sql(
      (s, dir) => {
        TrainingDataPipeline.curateEmbeddings(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label",
          minCosCentroid = 0.0, dupThreshold = 0.35,
          nCells = 16, seed = "v1", passes = 2)
          .orderBy("label")
      },
      """WITH RECURSIVE
        |d AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |c AS (SELECT label, i, round(avg(v), 6) AS c FROM d GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY i) AS ce FROM c GROUP BY label),
        |cosv AS (
        |  SELECT vec_id, e.label, e.embedding,
        |    round(list_dot_product(e.embedding::DOUBLE[], ce) /
        |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(ce, ce))), 4) AS cc
        |  FROM embeddings e JOIN cent USING (label)),
        |emb AS (SELECT vec_id, embedding, label FROM cosv WHERE cc >= 0.0),
        |pass AS (SELECT unnest(generate_series(0, 1)) AS p),
        |pv AS (
        |  SELECT pass.p, vec_id AS pid, embedding AS pvec,
        |    row_number() OVER (PARTITION BY pass.p
        |      ORDER BY md5('v1:' || CAST(pass.p AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)),
        |        vec_id) - 1 AS cell
        |  FROM emb CROSS JOIN pass),
        |piv AS (SELECT p, pid, pvec, cell FROM pv WHERE cell < 16),
        |asg AS (
        |  SELECT pv2.p, e.vec_id, e.embedding, pv2.cell,
        |    row_number() OVER (PARTITION BY pv2.p, e.vec_id ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |        i -> (e.embedding[i]::DOUBLE - pv2.pvec[i]::DOUBLE)
        |           * (e.embedding[i]::DOUBLE - pv2.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), pv2.cell) AS rn
        |  FROM emb e CROSS JOIN piv pv2),
        |cells AS (SELECT p, vec_id, embedding, cell FROM asg WHERE rn = 1),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM cells a JOIN cells b ON a.p = b.p AND a.cell = b.cell
        |    AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src),
        |clusters AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
        |dropped AS (SELECT id FROM clusters WHERE id <> cluster),
        |surv AS (SELECT * FROM emb WHERE vec_id NOT IN (SELECT id FROM dropped)),
        |t0 AS (SELECT label, count(*) AS n_total FROM embeddings GROUP BY 1),
        |t1 AS (SELECT label, count(*) AS n1 FROM emb GROUP BY 1),
        |t2 AS (SELECT label, count(*) AS n2 FROM surv GROUP BY 1)
        |SELECT t0.label, n_total,
        |  coalesce(n1, 0) AS n_after_trim,
        |  coalesce(n2, 0) AS n_after_dedup
        |FROM t0 LEFT JOIN t1 USING (label) LEFT JOIN t2 USING (label)
        |ORDER BY t0.label""".stripMargin),

    // The whole-pipeline flagship: C4 line rules → corpus-wide keep-first
    // paragraph (line) dedup → exact dedup → benchmark decontamination →
    // per-source mixture downsampling → HRW shard manifest, composed as
    // ONE plan over documents with exactly two documented caches (the
    // paragraph-dedup output, which five later stages consume, and the
    // final mixture corpus, which the funnel row and the shard manifest
    // both read). Output is the funnel: (stage, n_docs, n_tokens) per
    // stage plus one row per shard. Every stage is individually
    // oracle-proven elsewhere (x92, x91, x79-style exact dedup, x21,
    // x23-style md5 rates, x84 HRW); this query proves the COMPOSITION —
    // stage wiring, column threading, count bookkeeping — end to end.
    "x100_curation_flagship" -> sql(
      (s, dir) => {
        val toksRaw = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
        val lined = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), toksRaw.as("t"))
          .where(size(col("t")) > 0)
          .select(col("doc_id"), col("source"), concat_ws("\n",
            transform(
              sequence(lit(0L),
                ceil(size(col("t")).cast("double") / 8.0).cast("long") - 1),
              i => concat(
                concat_ws(" ", slice(col("t"), (i * 8 + 1).cast("int"), lit(8))),
                when(i % 3 =!= 0, lit(".")).otherwise(lit("")))))
            .as("text"))
        TrainingDataPipeline.curationFlagship(
          lined, "text", "doc_id", "source",
          benchmark = Tables.documents(s, dir).where(col("doc_id") < 20),
          badPhrases = Seq("customer line", "spark group"),
          mixRates = Map("src0" -> 0.5, "src1" -> 0.5, "src2" -> 0.25),
          nShards = 8)
      },
      """WITH t0 AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, source, array_to_string(list_transform(
        |    generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1),
        |    i -> array_to_string(list_slice(toks, i*8+1, i*8+8), ' ') ||
        |         CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END), chr(10)) AS ltext
        |  FROM t0 WHERE len(toks) > 0),
        |k AS (SELECT doc_id, source, ltext,
        |    list_filter(string_split(ltext, chr(10)), ln ->
        |      (ends_with(trim(ln), '.') OR ends_with(trim(ln), '!') OR
        |       ends_with(trim(ln), '?') OR ends_with(trim(ln), '"') OR
        |       ends_with(trim(ln), chr(39)))
        |      AND len(list_filter(string_split_regex(trim(ln), '\s+'),
        |        w -> w <> '')) >= 5) AS kept
        |  FROM lined),
        |c4 AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_transform(kept, ln -> trim(ln)), chr(10)) AS ctext
        |  FROM k
        |  WHERE len(kept) >= 3
        |    AND NOT (contains(lower(ltext), 'customer line')
        |          OR contains(lower(ltext), 'spark group'))
        |    AND NOT contains(ltext, '{')),
        |paras AS (SELECT doc_id, source,
        |    list_filter(list_transform(string_split(ctext, chr(10)), p -> trim(p)),
        |      p -> p <> '') AS ps
        |  FROM c4),
        |occ AS (SELECT doc_id, source, unnest(generate_series(1, len(ps))) AS pos, ps
        |  FROM paras),
        |o2 AS (SELECT doc_id, source, pos, ps[pos] AS para FROM occ),
        |rk AS (SELECT doc_id, source, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM o2),
        |pd0 AS (
        |  SELECT doc_id, any_value(source) AS source,
        |    coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos),
        |      '') AS cleaned_text
        |  FROM rk GROUP BY doc_id),
        |pd AS (SELECT * FROM pd0 WHERE length(cleaned_text) > 0),
        |nd AS (
        |  SELECT doc_id, source, cleaned_text FROM (
        |    SELECT doc_id, source, cleaned_text,
        |      row_number() OVER (PARTITION BY cleaned_text ORDER BY doc_id) AS rn2
        |    FROM pd)
        |  WHERE rn2 = 1),
        |bs AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS str
        |  FROM documents WHERE doc_id < 20),
        |bg0 AS (SELECT list_distinct(flatten(list(
        |    list_transform(generate_series(1, greatest(length(str) - 12, 1)),
        |      i -> substring(str, i, 13))))) AS bg
        |  FROM bs WHERE length(str) > 0),
        |cg AS (SELECT doc_id, source, cleaned_text,
        |    regexp_replace(lower(trim(cleaned_text)), '\s+', ' ', 'g') AS str
        |  FROM nd),
        |dcv AS (
        |  SELECT doc_id, source, cleaned_text,
        |    CASE WHEN length(str) = 0 THEN 0.0
        |      ELSE CAST(len(list_intersect(
        |        list_distinct(list_transform(
        |          generate_series(1, greatest(length(str) - 12, 1)),
        |          i -> substring(str, i, 13))), bg0.bg)) AS DOUBLE) /
        |        len(list_distinct(list_transform(
        |          generate_series(1, greatest(length(str) - 12, 1)),
        |          i -> substring(str, i, 13))))
        |    END AS ratio
        |  FROM cg, bg0),
        |dc AS (SELECT doc_id, source, cleaned_text FROM dcv WHERE ratio < 0.3),
        |mix AS (
        |  SELECT doc_id, source, cleaned_text FROM dc
        |  WHERE CASE
        |    WHEN source IN ('src0', 'src1')
        |      THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        |    WHEN source = 'src2'
        |      THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |    ELSE TRUE END),
        |hg AS (SELECT doc_id, cleaned_text, unnest(generate_series(0, 7)) AS s
        |  FROM mix),
        |hh AS (SELECT doc_id, cleaned_text, s,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS hv
        |  FROM hg),
        |hr AS (SELECT doc_id, cleaned_text, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) AS rn3
        |  FROM hh),
        |sh AS (SELECT doc_id, cleaned_text, s AS shard FROM hr WHERE rn3 = 1),
        |funnel AS (
        |  SELECT '0_input' AS stage, count(*) AS n_docs,
        |    coalesce(sum(len(list_filter(string_split_regex(trim(ltext), '\s+'),
        |      w -> w <> ''))), 0) AS n_tokens FROM lined
        |  UNION ALL SELECT '1_c4', count(*),
        |    coalesce(sum(len(list_filter(string_split_regex(trim(ctext), '\s+'),
        |      w -> w <> ''))), 0) FROM c4
        |  UNION ALL SELECT '2_paradedup', count(*),
        |    coalesce(sum(len(list_filter(string_split_regex(trim(cleaned_text), '\s+'),
        |      w -> w <> ''))), 0) FROM pd
        |  UNION ALL SELECT '3_exactdedup', count(*),
        |    coalesce(sum(len(list_filter(string_split_regex(trim(cleaned_text), '\s+'),
        |      w -> w <> ''))), 0) FROM nd
        |  UNION ALL SELECT '4_decontam', count(*),
        |    coalesce(sum(len(list_filter(string_split_regex(trim(cleaned_text), '\s+'),
        |      w -> w <> ''))), 0) FROM dc
        |  UNION ALL SELECT '5_mixture', count(*),
        |    coalesce(sum(len(list_filter(string_split_regex(trim(cleaned_text), '\s+'),
        |      w -> w <> ''))), 0) FROM mix
        |  UNION ALL SELECT '6_shard_' || CAST(shard AS VARCHAR), count(*),
        |    coalesce(sum(len(list_filter(string_split_regex(trim(cleaned_text), '\s+'),
        |      w -> w <> ''))), 0) FROM sh GROUP BY 1)
        |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM funnel ORDER BY stage""".stripMargin),

    // ANN recall evaluation: the harness that measures the approximate
    // index against the exact baseline IN-ENGINE — per query, how many of
    // the true top-5 the IVF path (x16's parameters) returned. Both legs
    // are deterministic, so the report is oracle-exact: the SQL replays
    // exact top-k, the whole IVF algorithm, and the hit join.
    "x103_ann_recall" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.orderBy("vec_id").limit(20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.annRecallReport(emb, queries, "vec_id", "embedding",
          "qid", "qvec", k = 5, nCells = 16, nProbe = 4, seed = "v1")
          .orderBy("qid")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qvec FROM emb ORDER BY vec_id LIMIT 20),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |  FROM q JOIN emb e ON e.vec_id <> q.qid),
        |exact5 AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |    FROM scored)
        |  WHERE rank <= 5),
        |pv AS (
        |  SELECT vec_id AS pid, embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        |  FROM emb),
        |piv AS (SELECT pid, pvec, cell FROM pv WHERE cell < 16),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, p.cell,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |        i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |           * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), p.cell) AS rn
        |  FROM emb e CROSS JOIN piv p),
        |cells AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
        |pr AS (
        |  SELECT q.qid, q.qvec, p.cell,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(q.qvec)),
        |        i -> (q.qvec[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |           * (q.qvec[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), p.cell) AS rn
        |  FROM q CROSS JOIN piv p),
        |probes AS (SELECT qid, qvec, cell FROM pr WHERE rn <= 4),
        |sc AS (
        |  SELECT pb.qid, c.vec_id,
        |    list_dot_product(pb.qvec::DOUBLE[], c.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(pb.qvec::DOUBLE[], pb.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
        |  FROM probes pb JOIN cells c USING (cell)
        |  WHERE c.vec_id <> pb.qid),
        |approx5 AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |    FROM sc)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT e.qid,
        |    CAST(count(a.vec_id) AS BIGINT) AS n_hits
        |  FROM exact5 e LEFT JOIN approx5 a
        |    ON a.qid = e.qid AND a.vec_id = e.vec_id
        |  GROUP BY e.qid)
        |SELECT qid, n_hits, round(n_hits / 5.0, 4) AS recall
        |FROM hits ORDER BY qid""".stripMargin),

    // Product quantization encode (Jégou 2011): every embedding compressed
    // to 8 codes from the deterministic pivot codebooks (same md5-ranked
    // pivot pick as x16's IVF, sliced per subspace) + exact reconstruction
    // SSE. The oracle replays the ENTIRE thing — pivot pick, per-block
    // argmin-L2 under the kernel's strict-< / first-code-wins tie rule,
    // s-ascending SSE fold — in DuckDB list arithmetic; codes pack into one
    // BIGINT (base-16 positional) so the hash compare covers all 8 at once.
    "x101_pq_encode" -> sql(
      (s, dir) => {
        val enc = Similarity.pqEncode(Tables.embeddings(s, dir),
          "vec_id", "embedding", nSubspaces = 8, nCodes = 16, seed = "pq1")
        enc.select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, c) => a * 16 + c).as("code_key"),
          round(col("sse"), 4).as("sse"))
          .orderBy("vec_id")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |pv AS (
        |  SELECT embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('pq1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
        |  FROM emb),
        |cb AS (SELECT pvec, code FROM pv WHERE code < 16),
        |bd AS (
        |  SELECT e.vec_id, sp.s, c.code,
        |    list_reduce(list_transform(generate_series(1, 8),
        |      i -> (e.embedding[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)
        |         * (e.embedding[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)),
        |      (x, y) -> x + y) AS d
        |  FROM emb e
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
        |  CROSS JOIN cb c),
        |sel AS (
        |  SELECT vec_id, s, code, d FROM (
        |    SELECT vec_id, s, code, d,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
        |    FROM bd)
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT vec_id,
        |    list_reduce(list_prepend(0::BIGINT, list(code::BIGINT ORDER BY s)),
        |      (a, c) -> a * 16 + c) AS code_key,
        |    list_reduce(list_prepend(0.0, list(d ORDER BY s)),
        |      (x, y) -> x + y) AS sse
        |  FROM sel GROUP BY vec_id)
        |SELECT vec_id, code_key, round(sse, 4) AS sse
        |FROM agg ORDER BY vec_id""".stripMargin),

    // Asymmetric-distance (ADC) top-k over the PQ codes: per-query LUTs of
    // query-block-to-codeword distances are driver metadata shipped as plan
    // literals; the codes projection is the only thing scanned. Exact by
    // construction GIVEN the codes, so the oracle replays codebooks, code
    // assignment, LUTs, the s-ascending ADC fold and the (rounded-adc,
    // vec_id) rank — both engines agree on exactly which neighbors
    // PQ-at-these-parameters returns (the x16 replay philosophy: the
    // quantization error is part of the replayed contract).
    "x102_pq_adc_topk" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.orderBy("vec_id").limit(8)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.pqAdcTopK(emb, queries, "vec_id", "embedding",
          "qid", "qvec", k = 5, nSubspaces = 8, nCodes = 16, seed = "pq1")
          .orderBy("qid", "rank")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |pv AS (
        |  SELECT embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('pq1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
        |  FROM emb),
        |cb AS (SELECT pvec, code FROM pv WHERE code < 16),
        |bd AS (
        |  SELECT e.vec_id, sp.s, c.code,
        |    list_reduce(list_transform(generate_series(1, 8),
        |      i -> (e.embedding[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)
        |         * (e.embedding[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)),
        |      (x, y) -> x + y) AS d
        |  FROM emb e
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
        |  CROSS JOIN cb c),
        |sel AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
        |    FROM bd)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, embedding AS qvec FROM emb ORDER BY vec_id LIMIT 8),
        |lut AS (
        |  SELECT q.qid, sp.s, c.code,
        |    list_reduce(list_transform(generate_series(1, 8),
        |      i -> (q.qvec[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)
        |         * (q.qvec[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)),
        |      (x, y) -> x + y) AS d
        |  FROM q
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
        |  CROSS JOIN cb c),
        |adc AS (
        |  SELECT l.qid, v.vec_id,
        |    round(list_reduce(list_prepend(0.0, list(l.d ORDER BY l.s)),
        |      (x, y) -> x + y), 4) AS adc
        |  FROM sel v JOIN lut l ON l.s = v.s AND l.code = v.code
        |  GROUP BY l.qid, v.vec_id),
        |rk AS (
        |  SELECT qid, vec_id, adc,
        |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
        |  FROM adc)
        |SELECT qid, vec_id, adc, rank FROM rk WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    // HTML-to-text extraction (the web-corpus ingest stage): documents are
    // wrapped in a deterministic HTML shell — title, style + script blocks
    // with hostile content (a '<' comparison, a quoted "<p>" string), a
    // comment, escaped entities including a double-escaped one — and the
    // extraction chain (script/style/comment/tag strip, one-level entity
    // decode, whitespace collapse) must recover exactly the visible text.
    // The oracle runs the identical regex + replace chain in DuckDB, so
    // ordering contracts (decode AFTER tag strip; &amp; decoded LAST) are
    // cross-engine-pinned, not just unit-tested.
    "x104_html_extract" -> sql(
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style type=\"text/css\">p{margin:0}</style></head>" +
            "<body><h1>Title &amp; summary</h1>" +
            "<script>if (1 < 2) { var x = \"<p>ignored</p>\"; }</script>" +
            "<p id=\"main\">"),
          col("text"),
          lit("</p><!-- trailer --><div>tail &lt;b&gt;&nbsp;&#39;quoted&#39;" +
            " &amp;lt;kept</div></body></html>"))
        Tables.documents(s, dir)
          .select(col("doc_id"), TextExtraction.htmlToText(html).as("text_clean"))
          .select(col("doc_id"), col("text_clean"),
            length(col("text_clean")).cast("long").as("n_chars_clean"))
          .orderBy("doc_id")
      },
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style type="text/css">p{margin:0}</style></head>' ||
        |    '<body><h1>Title &amp; summary</h1>' ||
        |    '<script>if (1 < 2) { var x = "<p>ignored</p>"; }</script>' ||
        |    '<p id="main">' || text ||
        |    '</p><!-- trailer --><div>tail &lt;b&gt;&nbsp;&#39;quoted&#39;' ||
        |    ' &amp;lt;kept</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gis') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x, '<style[^>]*>.*?</style>', ' ', 'gis') AS x FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(x, '<!--.*?-->', ' ', 'gs') AS x FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'gs') AS x FROM s3),
        |d AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(replace(x,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |      '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS x
        |  FROM s4),
        |c AS (SELECT doc_id, trim(regexp_replace(x, '\s+', ' ', 'g')) AS text_clean FROM d)
        |SELECT doc_id, text_clean, CAST(length(text_clean) AS BIGINT) AS n_chars_clean
        |FROM c ORDER BY doc_id""".stripMargin),

    // Quality-filter evaluation: precision/recall/F1 of the x03 stopword
    // score as an English detector, swept over 10 thresholds in ONE
    // aggregation pass (conditional sums — the corpus is never exploded
    // per threshold; reduce state is 4·|thresholds| longs). The oracle
    // recomputes the counts by threshold cross join and the identical
    // 0/0→0 ratio algebra.
    "x105_pr_curve" -> sql(
      (s, dir) => {
        val tokens = size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("double")
        val stop = size(expr("filter(split(text, ' '), x -> x IN ('the', 'a'))")).cast("double")
        val scored = Tables.documents(s, dir)
          .select((stop / tokens).as("score"), (col("lang") === "en").as("is_en"))
        Evaluation.prCurve(scored, col("score"), col("is_en"),
          thresholds = Seq(0.0, 0.02, 0.04, 0.06, 0.08, 0.10, 0.12, 0.14, 0.16, 0.18))
          .orderBy("threshold")
      },
      """WITH sc AS (
        |  SELECT
        |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS score,
        |    (lang = 'en') AS is_en
        |  FROM documents),
        |th AS (SELECT unnest([0.0, 0.02, 0.04, 0.06, 0.08, 0.10, 0.12, 0.14, 0.16, 0.18]) AS threshold),
        |cnt AS (
        |  SELECT th.threshold,
        |    CAST(sum(CASE WHEN sc.score >= th.threshold AND sc.is_en THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN sc.score >= th.threshold AND NOT sc.is_en THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN sc.score < th.threshold AND sc.is_en THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN sc.score < th.threshold AND NOT sc.is_en THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM th CROSS JOIN sc GROUP BY th.threshold),
        |pr AS (
        |  SELECT threshold, tp, fp, fn, tn,
        |    CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fp) END AS p,
        |    CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fn) END AS r
        |  FROM cnt)
        |SELECT threshold, tp, fp, fn, tn,
        |  round(p, 4) AS "precision", round(r, 4) AS recall,
        |  round(CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END, 4) AS f1
        |FROM pr ORDER BY threshold""".stripMargin),

    // Near-dup method agreement (the dedup counterpart of x103's ANN
    // recall harness): the three pair families — word-3-shingle Jaccard
    // (x07's setting), simhash hamming (x08's), char-5-gram Jaccard
    // (x09's) — disagree in informative ways, and choosing a dedup recipe
    // for a 100 TB corpus means MEASURING that disagreement, not assuming
    // it. One Venn row per membership combination. Each leg is already
    // independently oracle-replayed; this query pins the comparison
    // itself (tag-union → per-pair flags → combination counts).
    "x106_dedup_method_venn" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
          .select(col("id_a"), col("id_b"), lit("m").as("src"))
        val sh = Dedup.simhashNearDuplicates(docs, "text", "doc_id",
          maxDistance = 4)
          .select(col("id_a"), col("id_b"), lit("s").as("src"))
        val g = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          n = 5, threshold = 0.8)
          .select(col("id_a"), col("id_b"), lit("g").as("src"))
        m.union(sh).union(g)
          .groupBy("id_a", "id_b")
          .agg(
            (max(when(col("src") === "m", 1).otherwise(0)) === 1).as("in_minhash"),
            (max(when(col("src") === "s", 1).otherwise(0)) === 1).as("in_simhash"),
            (max(when(col("src") === "g", 1).otherwise(0)) === 1).as("in_gram"))
          .groupBy("in_minhash", "in_simhash", "in_gram")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("in_minhash", "in_simhash", "in_gram")
      },
      s"""WITH mt AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |mg AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM mt WHERE len(toks) >= 3),
        |mp AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa, len(b.sh) AS sb
        |    FROM mg a JOIN mg b ON a.doc_id < b.doc_id)
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5),
        |gs AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS str
        |  FROM documents),
        |gg AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(length(str) - 4, 1)),
        |      i -> substring(str, i, 5))) AS grams
        |  FROM gs WHERE length(str) > 0),
        |gp AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      len(list_intersect(a.grams, b.grams)) AS c,
        |      len(a.grams) AS sa, len(b.grams) AS sb
        |    FROM gg a JOIN gg b ON a.doc_id < b.doc_id)
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8),
        |st AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |fnv AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(generate_series(1, length(tok)), j -> ascii(substring(tok, j, 1))::HUGEINT)),
        |      (acc, c) -> ((((acc // 65536) * 65536 + xor((acc % 65536)::BIGINT, c::BIGINT)::HUGEINT)
        |                    * 1099511628211) % 18446744073709551616::HUGEINT)) AS h0
        |  FROM st),
        |f1 AS (SELECT doc_id, ${dkXor64("h0", "(h0 // 8589934592)")} AS x FROM fnv),
        |f2 AS (SELECT doc_id, ${dkMul64("x", 0xff51afd7ed558ccdL)} AS x FROM f1),
        |f3 AS (SELECT doc_id, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f2),
        |f4 AS (SELECT doc_id, ${dkMul64("x", 0xc4ceb9fe1a85ec53L)} AS x FROM f3),
        |f5 AS (SELECT doc_id, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f4),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (x // CAST(pow(2, b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM f5 CROSS JOIN generate_series(0, 63) gb(b) GROUP BY 1, 2),
        |fps AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS HUGEINT) ELSE 0::HUGEINT END) AS fp
        |  FROM bits GROUP BY 1),
        |halves AS (
        |  SELECT d.doc_id, (coalesce(fp, 0::HUGEINT) // 4294967296)::BIGINT AS hi,
        |    (coalesce(fp, 0::HUGEINT) % 4294967296)::BIGINT AS lo
        |  FROM documents d LEFT JOIN fps ON d.doc_id = fps.doc_id),
        |sp AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM halves a JOIN halves b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 4),
        |u AS (
        |  SELECT id_a, id_b, 'm' AS src FROM mp
        |  UNION ALL SELECT id_a, id_b, 's' FROM sp
        |  UNION ALL SELECT id_a, id_b, 'g' FROM gp),
        |fl AS (
        |  SELECT id_a, id_b,
        |    max(CASE WHEN src = 'm' THEN 1 ELSE 0 END) = 1 AS in_minhash,
        |    max(CASE WHEN src = 's' THEN 1 ELSE 0 END) = 1 AS in_simhash,
        |    max(CASE WHEN src = 'g' THEN 1 ELSE 0 END) = 1 AS in_gram
        |  FROM u GROUP BY id_a, id_b)
        |SELECT in_minhash, in_simhash, in_gram, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM fl GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // The deployed ANN layout end-to-end: IVF coarse routing (x16's pivot
    // cells) → PQ-ADC candidate generation over the codes projection
    // (x101/x102's codebooks and LUTs) → exact-cosine re-rank of the top
    // 20 ADC candidates. The oracle replays the WHOLE composition — both
    // pivot families, code assignment, probe ranking, the LUT folds, the
    // rounded-ADC candidate cut, and the exact re-rank — so the engines
    // agree on exactly which neighbors IVF-PQ-at-these-parameters serves.
    "x107_ivfpq_topk" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.orderBy("vec_id").limit(20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
          "qid", "qvec", k = 5, nCells = 16, nProbe = 4,
          nSubspaces = 8, nCodes = 16, rerank = 20)
          .select(col("qid"), col("vec_id"), round(col("sim"), 4).as("sim"),
            col("rank"))
          .orderBy("qid", "rank")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |pv AS (
        |  SELECT embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        |  FROM emb),
        |piv AS (SELECT pvec, cell FROM pv WHERE cell < 16),
        |cells AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, p.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |          i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |             * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |          (x, y) -> x + y), p.cell) AS rn
        |    FROM emb e CROSS JOIN piv p)
        |  WHERE rn = 1),
        |qpv AS (
        |  SELECT embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('pq1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
        |  FROM emb),
        |cb AS (SELECT pvec, code FROM qpv WHERE code < 16),
        |bd AS (
        |  SELECT e.vec_id, sp.s, c.code,
        |    list_reduce(list_transform(generate_series(1, 8),
        |      i -> (e.embedding[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)
        |         * (e.embedding[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)),
        |      (x, y) -> x + y) AS d
        |  FROM emb e
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
        |  CROSS JOIN cb c),
        |sel AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
        |    FROM bd)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, embedding AS qvec FROM emb ORDER BY vec_id LIMIT 20),
        |qpr AS (
        |  SELECT qid, cell FROM (
        |    SELECT q.qid, p.cell,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_reduce(list_transform(generate_series(1, len(q.qvec)),
        |          i -> (q.qvec[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |             * (q.qvec[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |          (x, y) -> x + y), p.cell) AS rn
        |    FROM q CROSS JOIN piv p)
        |  WHERE rn <= 4),
        |lut AS (
        |  SELECT q.qid, sp.s, c.code,
        |    list_reduce(list_transform(generate_series(1, 8),
        |      i -> (q.qvec[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)
        |         * (q.qvec[sp.s*8+i]::DOUBLE - c.pvec[sp.s*8+i]::DOUBLE)),
        |      (x, y) -> x + y) AS d
        |  FROM q
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
        |  CROSS JOIN cb c),
        |cj AS (
        |  SELECT p.qid, cl.vec_id, v.s, l.d
        |  FROM qpr p
        |  JOIN cells cl ON cl.cell = p.cell
        |  JOIN sel v ON v.vec_id = cl.vec_id
        |  JOIN lut l ON l.qid = p.qid AND l.s = v.s AND l.code = v.code
        |  WHERE cl.vec_id <> p.qid),
        |adc AS (
        |  SELECT qid, vec_id,
        |    round(list_reduce(list_prepend(0.0, list(d ORDER BY s)),
        |      (x, y) -> x + y), 4) AS r
        |  FROM cj GROUP BY qid, vec_id),
        |cand AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY r, vec_id) AS ar
        |    FROM adc)
        |  WHERE ar <= 20),
        |rr AS (
        |  SELECT c.qid, c.vec_id,
        |    list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |  FROM cand c
        |  JOIN q ON q.qid = c.qid
        |  JOIN emb e ON e.vec_id = c.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, round(sim, 4) AS sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM rr)
        |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    "x98_heaps_fit" -> sql(
      (s, dir) =>
        CorpusStats.heapsLawFit(Tables.documents(s, dir), "text", "doc_id",
          nBuckets = 10, extrapolateFactor = 100.0),
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bk AS (SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS bucket FROM documents),
        |btok AS (
        |  SELECT bucket, sum(len(toks))::BIGINT AS bt
        |  FROM t0 JOIN bk USING (doc_id) GROUP BY 1),
        |fs AS (SELECT w, min(doc_id) AS fid
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM t0) GROUP BY 1),
        |bnew AS (SELECT bucket, count(*) AS bn
        |  FROM fs JOIN bk ON fs.fid = bk.doc_id GROUP BY 1),
        |curve AS (
        |  SELECT b.bucket,
        |    CAST(sum(bt) OVER (ORDER BY b.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ct,
        |    CAST(sum(coalesce(bn, 0)) OVER (ORDER BY b.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vb
        |  FROM btok b LEFT JOIN bnew USING (bucket)),
        |pts AS (
        |  SELECT list(struct_pack(lx := ln(ct::DOUBLE), ly := ln(vb::DOUBLE),
        |      ct := ct, vb := vb) ORDER BY bucket) AS a
        |  FROM curve WHERE ct > 0 AND vb > 0),
        |sums AS (
        |  SELECT len(a)::DOUBLE AS np,
        |    list_reduce(list_prepend(0.0, list_transform(a, p -> p.lx)), (x, y) -> x + y) AS sx,
        |    list_reduce(list_prepend(0.0, list_transform(a, p -> p.ly)), (x, y) -> x + y) AS sy,
        |    list_reduce(list_prepend(0.0, list_transform(a, p -> p.lx * p.ly)), (x, y) -> x + y) AS sxy,
        |    list_reduce(list_prepend(0.0, list_transform(a, p -> p.lx * p.lx)), (x, y) -> x + y) AS sxx,
        |    list_reduce(list_prepend(0.0, list_transform(a, p -> p.ly * p.ly)), (x, y) -> x + y) AS syy,
        |    a[len(a)].ct AS tokens_now,
        |    a[len(a)].vb AS vocab_now
        |  FROM pts),
        |fit AS (
        |  SELECT np, tokens_now, vocab_now,
        |    (np * sxy - sx * sy) / (np * sxx - sx * sx) AS beta,
        |    (sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / np AS lnk,
        |    ((np * sxy - sx * sy) * (np * sxy - sx * sy)) /
        |      ((np * sxx - sx * sx) * (np * syy - sy * sy)) AS r2
        |  FROM sums)
        |SELECT CAST(np AS BIGINT) AS n_points,
        |  floor(beta * 10000 + 0.5) / 10000 AS beta,
        |  floor(exp(lnk) * 10000 + 0.5) / 10000 AS k_coeff,
        |  floor(r2 * 10000 + 0.5) / 10000 AS r2,
        |  tokens_now, vocab_now,
        |  CAST(floor(exp(lnk + beta * ln(100.0 * tokens_now::DOUBLE)) + 0.5) AS BIGINT)
        |    AS predicted_vocab_at_factor
        |FROM fit""".stripMargin),

    // Fixed-point integer PageRank over the customer–supplier trade graph
    // (Page et al. 1999) — the iterative-graph-analytics member of the
    // pack: one hash-partitioned join + keyed aggregation per superstep
    // against a cached, src-partitioned 16-byte edge projection (the
    // Pregel shape; see operators/Graph.scala). Ranks live in integer
    // units of 1e-12 with shares = rank div out_degree, so every superstep
    // is an exact long sum — order- and partitioning-independent — and the
    // five unrolled iterations replay bit-for-bit in DuckDB integer
    // division with no fp knife-edges at any node count.
    "x108_pagerank_trade" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .distinct()
        // both edge directions from ONE scan of the (uncached) join+distinct
        // — the unionAll shape evaluated it once per leg (guide §2.4)
        val edges = pairs
          .select(explode(array(
            struct((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst")),
            struct((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
            .as("__e"))
          .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        Graph.pageRankFixedPoint(edges, "src", "dst", iters = 5)
          .select(
            when(col("node") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("node_type"),
            expr("node div 2").as("entity_key"),
            col("deg").as("out_deg"),
            col("rank_fp"))
          .orderBy(desc("rank_fp"), col("node_type"), col("entity_key"))
      },
      s"""WITH base AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |e AS MATERIALIZED (
        |  SELECT c * 2 AS src, p * 2 + 1 AS dst FROM base
        |  UNION ALL
        |  SELECT p * 2 + 1, c * 2 FROM base),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |dg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |nd AS MATERIALIZED (
        |  SELECT n.node, coalesce(d.deg, 0::BIGINT) AS deg
        |  FROM nodes n LEFT JOIN dg d USING (node)),
        |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nd),
        |r0 AS MATERIALIZED (
        |  SELECT node, deg, 1000000000000 // (SELECT n FROM nn) AS r FROM nd),
        |${pagerankIterCtes(5, "TRUE", "(SELECT n FROM nn)")}
        |SELECT
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
        |  node // 2 AS entity_key, deg AS out_deg, r AS rank_fp
        |FROM r5 ORDER BY rank_fp DESC, node_type, entity_key""".stripMargin),

    // PCA top-2 projection of the embedding corpus via sufficient
    // statistics: ONE bounded-state scan aggregates the Gram matrix
    // (graft_gram_agg — O(dim²) doubles of reduce state, map-side
    // combined), the driver runs 12 deterministic power-iteration rounds
    // per component on the 6-dp-rounded covariance (Hotelling deflation
    // for the second), and the fitted components broadcast back into a
    // pure projection scan. The oracle replays the WHOLE fit — rounded
    // moments, every ordered-fold matvec/normalize round, the Rayleigh
    // quotients, the deflation — as 24 chained list-arithmetic CTEs, so
    // scores and explained-variance ratios match hash-exactly.
    "x109_pca_project" -> sql(
      (s, dir) =>
        Linalg.pcaProject(Tables.embeddings(s, dir), "embedding", dim = 64,
          carry = Seq("vec_id", "label"), iters = 12)
          .orderBy("vec_id"),
      s"""WITH $pcaFitCtes
        |SELECT d.vec_id, d.label,
        |  round(list_dot_product(d.e, (SELECT v FROM av12)), 4) + 0.0 AS pc1,
        |  round(list_dot_product(d.e, (SELECT v FROM bv12)), 4) + 0.0 AS pc2,
        |  round((SELECT lam FROM l1) / (SELECT t FROM trc), 4) + 0.0 AS evr1,
        |  round((SELECT lam FROM l2) / (SELECT t FROM trc), 4) + 0.0 AS evr2
        |FROM d ORDER BY d.vec_id""".stripMargin),

    // Ridge-regression linear probe on the embeddings (is `label < 5`
    // linearly decodable?) — the standard pre-finetune decodability check,
    // trained from the SAME single-scan gram buffer as x109 (the Σxᵢ / Σy
    // slots are the intercept row of the normal equations) with 48 fixed
    // gradient steps on the driver, then broadcast-scored. The oracle
    // replays the normalized normal equations and all 48 steps as chained
    // ordered-fold CTEs; scores, targets and thresholded predictions
    // match hash-exactly.
    "x110_ridge_probe" -> sql(
      (s, dir) =>
        Linalg.ridgeProbe(Tables.embeddings(s, dir), "embedding",
          col("label") < 5, dim = 64, carry = Seq("vec_id", "label"),
          lambda = 0.1, iters = 48)
          .orderBy("vec_id"),
      s"""WITH ${ridgeFitCtes}
        |SELECT d.vec_id, d.label, d.y,
        |  round(list_dot_product(d.e, (SELECT w FROM gw48)), 4) + 0.0 AS score,
        |  CASE WHEN round(list_dot_product(d.e, (SELECT w FROM gw48)), 4) >= 0.5
        |    THEN 1 ELSE 0 END AS pred
        |FROM d ORDER BY d.vec_id""".stripMargin),

    // Empirical-Bayes per-source quality prior (the CCNet-style domain
    // reputation table): raw per-source mean quality shrunk toward the
    // corpus mean with a pseudo-count of 20 — one projection scan (native
    // quality kernel), one keyed aggregation whose per-source state is two
    // numbers, one broadcast global. The oracle replays the kernel's
    // quality formula (x17's replay), both 6-dp means, the exact-
    // arithmetic shrinkage and the rank.
    //
    // Rounding subtlety this query exposed (x17 gates at 0.2 and never
    // hit it): Spark's round() and the kernel round the DECIMAL value of
    // the double (BigDecimal.valueOf = shortest-repr string), while
    // DuckDB's round() multiplies in fp first — at a knife-edge like
    // raw = 0.8937499999999999, fp 10⁴·raw rounds UP to exactly 8937.5 and
    // DuckDB says 0.8938 where BigDecimal says 0.8937. dkRound4/dkRound6
    // below replay BigDecimal semantics exactly: VARCHAR (the same
    // shortest decimal repr) → DECIMAL → decimal-true HALF_UP round.
    "x111_source_prior" -> sql(
      (s, dir) =>
        QualityRules.sourcePrior(Tables.documents(s, dir), "text", "source",
          pseudoCount = 20.0)
          .orderBy("rank"),
      """WITH f AS MATERIALIZED (
        |  SELECT source, trim(text) AS txt,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |feat AS MATERIALIZED (
        |  SELECT source, len(toks) AS n_tok_raw,
        |    CAST(length(txt) AS DOUBLE) / greatest(len(toks), 1) AS cpt,
        |    CAST(length(regexp_replace(txt, '[^\p{L}]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS alpha_ratio,
        |    CAST(length(regexp_replace(txt, '[^\p{N}]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS digit_ratio,
        |    CAST(length(regexp_replace(txt, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it',
        |      'that','was','for','on','are','with','as','his','they','at','be','this'))) AS DOUBLE)
        |      / greatest(len(toks), 1) AS stop_ratio
        |  FROM f),
        |scored AS MATERIALIZED (
        |  SELECT source,
        |    CAST(round(CAST(CAST((
        |      (CASE WHEN cpt BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |      least(alpha_ratio * 1.25, 1.0) * 0.35 +
        |      greatest(0.0, 1.0 - (digit_ratio + punct_ratio) * 2) * 0.25 +
        |      least(stop_ratio * 4, 1.0) * 0.15) AS VARCHAR) AS DECIMAL(38,18)), 4)
        |      AS DOUBLE) AS q
        |  FROM feat),
        |src AS MATERIALIZED (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    CAST(round(CAST(CAST((sum(q) / count(*)) AS VARCHAR) AS DECIMAL(38,18)), 6)
        |      AS DOUBLE) AS raw_mean
        |  FROM scored GROUP BY source),
        |gl AS MATERIALIZED (
        |  SELECT CAST(round(CAST(CAST((sum(q) / count(*)) AS VARCHAR) AS DECIMAL(38,18)), 6)
        |    AS DOUBLE) AS g FROM scored),
        |sh AS MATERIALIZED (
        |  SELECT source, n_docs, raw_mean,
        |    CAST(round(CAST(CAST((
        |      (n_docs * raw_mean + 20.0 * (SELECT g FROM gl)) / (n_docs + 20.0))
        |      AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS shrunk_mean
        |  FROM src)
        |SELECT source, n_docs, raw_mean, shrunk_mean,
        |  row_number() OVER (ORDER BY shrunk_mean DESC, source) AS rank
        |FROM sh ORDER BY rank""".stripMargin),

    // End-to-end probe evaluation: the x110 ridge fit piped into an EXACT
    // integer Mann–Whitney AUC (average ranks over ties via
    // Σ p_s·(2·cum_s + n_s + 1), every term a long until the final
    // division — the same exact-integer determinism contract as x108's
    // PageRank), plus accuracy at 0.5 and MSE. Scale: the 4-dp-quantized
    // scores collapse the corpus to ≤ ~10⁴ groups, so the rank window
    // runs on a bounded frame, never on corpus rows.
    "x112_probe_eval" -> sql(
      (s, dir) => {
        val scored = Linalg.ridgeProbe(Tables.embeddings(s, dir), "embedding",
          col("label") < 5, dim = 64, carry = Seq("vec_id"),
          lambda = 0.1, iters = 48)
        Evaluation.aucReport(scored, col("score"), col("y") === 1.0)
      },
      s"""WITH ${ridgeFitCtes},
        |sc AS MATERIALIZED (
        |  SELECT round(list_dot_product(d.e, (SELECT w FROM gw48)), 4) + 0.0 AS s,
        |    (d.y = 1.0) AS yy
        |  FROM d),
        |bys AS MATERIALIZED (
        |  SELECT s, count(*)::BIGINT AS n,
        |    sum(CASE WHEN yy THEN 1 ELSE 0 END)::BIGINT AS p,
        |    sum(CASE WHEN (s >= 0.5) = yy THEN 1 ELSE 0 END)::BIGINT AS correct,
        |    sum((s - CASE WHEN yy THEN 1.0 ELSE 0.0 END)
        |      * (s - CASE WHEN yy THEN 1.0 ELSE 0.0 END)) AS se
        |  FROM sc GROUP BY s),
        |rk AS (
        |  SELECT s, n, p, correct, se,
        |    coalesce(sum(n) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
        |  FROM bys),
        |ag AS (
        |  SELECT sum(p * (2 * cum + n + 1))::BIGINT AS ph, sum(n)::BIGINT AS ntot,
        |    sum(p)::BIGINT AS npos, sum(correct)::BIGINT AS corr, sum(se) AS sse
        |  FROM rk)
        |SELECT ntot AS n, npos AS n_pos, ntot - npos AS n_neg,
        |  CASE WHEN npos = 0 OR ntot = npos THEN NULL
        |    ELSE round((ph - npos * (npos + 1)) / (2.0 * npos * (ntot - npos)), 6)
        |  END AS auc,
        |  round(corr / ntot::DOUBLE, 6) AS accuracy,
        |  round(sse / ntot, 6) AS mse
        |FROM ag""".stripMargin),

    // Reliability diagram over the probe scores (x110's fit): per
    // equal-width bin, mean predicted score vs realized positive rate —
    // the calibration check a quality classifier needs before its scores
    // gate a 100 TB corpus. Clamp bins (-1 / 10) make out-of-unit logits
    // visible. One keyed aggregation to ≤ 12 groups; bin index =
    // floor(s·10) on the 4-dp-quantized score — one IEEE multiply + floor,
    // identical in both engines.
    "x113_calibration" -> sql(
      (s, dir) => {
        val scored = Linalg.ridgeProbe(Tables.embeddings(s, dir), "embedding",
          col("label") < 5, dim = 64, carry = Seq("vec_id"),
          lambda = 0.1, iters = 48)
        Evaluation.calibrationReport(scored, col("score"), col("y") === 1.0)
          .orderBy("bin")
      },
      s"""WITH ${ridgeFitCtes},
        |sc AS MATERIALIZED (
        |  SELECT round(list_dot_product(d.e, (SELECT w FROM gw48)), 4) + 0.0 AS s,
        |    (d.y = 1.0) AS yy
        |  FROM d),
        |binned AS (
        |  SELECT CASE WHEN s < 0.0 THEN -1 WHEN s >= 1.0 THEN 10
        |    ELSE floor(s * 10)::INT END AS bin, s, yy
        |  FROM sc),
        |g AS (
        |  SELECT bin, count(*)::BIGINT AS n,
        |    round(sum(s) / count(*), 6) AS mean_score,
        |    round(sum(CASE WHEN yy THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6) AS frac_pos
        |  FROM binned GROUP BY bin)
        |SELECT bin, round(bin / 10.0, 4) AS lo, n, mean_score, frac_pos,
        |  round(abs(frac_pos - mean_score), 6) AS gap
        |FROM g ORDER BY bin""".stripMargin),

    // Incremental IVF index maintenance: a new batch (every 10th vector)
    // is assigned into cells whose pivot codebook was trained on the BASE
    // corpus only — the hourly add-to-index operation where refitting the
    // quantizer is forbidden. The add is a pure projection through
    // plan-literal centroids; output is the per-cell occupancy ledger a
    // rebalancer watches. Oracle replays the md5-ranked pivot pick over
    // the base, both strict-< argmin assignments, and the ledger.
    "x114_ivf_incremental" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfIncrementalAdd(
          emb.where(col("vec_id") % 10 =!= 0),
          emb.where(col("vec_id") % 10 === 0),
          "vec_id", "embedding", nCells = 16, seed = "v1")
          .orderBy("cell")
      },
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
        |newb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |pv AS (
        |  SELECT embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        |  FROM base),
        |piv AS MATERIALIZED (SELECT pvec, cell FROM pv WHERE cell < 16),
        |bcell AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, p.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |          i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |             * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |          (x, y) -> x + y), p.cell) AS rn
        |    FROM base e CROSS JOIN piv p)
        |  WHERE rn = 1),
        |ncell AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, p.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |          i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |             * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |          (x, y) -> x + y), p.cell) AS rn
        |    FROM newb e CROSS JOIN piv p)
        |  WHERE rn = 1),
        |bc AS (SELECT cell, count(*)::BIGINT AS n_base FROM bcell GROUP BY cell),
        |nc AS (SELECT cell, count(*)::BIGINT AS n_new FROM ncell GROUP BY cell),
        |led AS (
        |  SELECT coalesce(bc.cell, nc.cell) AS cell,
        |    coalesce(bc.n_base, 0) AS n_base, coalesce(nc.n_new, 0) AS n_new
        |  FROM bc FULL OUTER JOIN nc ON bc.cell = nc.cell)
        |SELECT cell, n_base, n_new, n_base + n_new AS total,
        |  round(n_new::DOUBLE / greatest(n_base, 1) * 100.0, 4) AS growth_pct
        |FROM led ORDER BY cell""".stripMargin),

    // FineWeb-style multi-signal curation ranking: quality score (doc
    // heuristic), document length, and the x111 domain prior fused via
    // tie-averaged rank normalization (exact integer algebra — the x112
    // AUC contract) into one weighted ordering. Rank-normalizing beats
    // z-scoring: distribution-free, monotone, and EXACT, so the fused
    // ranking is partitioning-independent and replays in SQL. Weights
    // 0.5 quality / 0.2 length / 0.3 prior are plan literals.
    "x115_signal_fusion" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val prior = QualityRules.sourcePrior(docs, "text", "source")
          .select(col("source"), col("shrunk_mean").as("prior"))
        val sig = docs.select(col("doc_id"), col("source"), col("n_chars"),
            call_function("graft_quality_score", col("text")).as("q"))
          .join(broadcast(prior), Seq("source"))
        SignalFusion.fuseRanked(sig,
          Seq("q" -> 0.5, "n_chars" -> 0.2, "prior" -> 0.3),
          keep = Seq("doc_id"))
          .orderBy("rank")
      },
      """WITH f AS MATERIALIZED (
        |  SELECT doc_id, source, n_chars, trim(text) AS txt,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |feat AS MATERIALIZED (
        |  SELECT doc_id, source, n_chars,
        |    CAST(length(txt) AS DOUBLE) / greatest(len(toks), 1) AS cpt,
        |    CAST(length(regexp_replace(txt, '[^\p{L}]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS alpha_ratio,
        |    CAST(length(regexp_replace(txt, '[^\p{N}]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS digit_ratio,
        |    CAST(length(regexp_replace(txt, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(txt) AS DOUBLE), 1.0) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it',
        |      'that','was','for','on','are','with','as','his','they','at','be','this'))) AS DOUBLE)
        |      / greatest(len(toks), 1) AS stop_ratio
        |  FROM f),
        |scored AS MATERIALIZED (
        |  SELECT doc_id, source, n_chars,
        |    CAST(round(CAST(CAST((
        |      (CASE WHEN cpt BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |      least(alpha_ratio * 1.25, 1.0) * 0.35 +
        |      greatest(0.0, 1.0 - (digit_ratio + punct_ratio) * 2) * 0.25 +
        |      least(stop_ratio * 4, 1.0) * 0.15) AS VARCHAR) AS DECIMAL(38,18)), 4)
        |      AS DOUBLE) AS q
        |  FROM feat),
        |src AS MATERIALIZED (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    CAST(round(CAST(CAST((sum(q) / count(*)) AS VARCHAR) AS DECIMAL(38,18)), 6)
        |      AS DOUBLE) AS raw_mean
        |  FROM scored GROUP BY source),
        |gl AS MATERIALIZED (
        |  SELECT CAST(round(CAST(CAST((sum(q) / count(*)) AS VARCHAR) AS DECIMAL(38,18)), 6)
        |    AS DOUBLE) AS g FROM scored),
        |pr AS MATERIALIZED (
        |  SELECT source,
        |    CAST(round(CAST(CAST((
        |      (n_docs * raw_mean + 20.0 * (SELECT g FROM gl)) / (n_docs + 20.0))
        |      AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS prior
        |  FROM src),
        |sig AS MATERIALIZED (
        |  SELECT s.doc_id, s.q, s.n_chars, pr.prior
        |  FROM scored s JOIN pr USING (source)),
        |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM sig),
        |rq AS MATERIALIZED (
        |  SELECT v, (2 * coalesce(sum(nv) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nv + 1)
        |    / (2.0 * (SELECT n FROM nn)) AS r
        |  FROM (SELECT q AS v, count(*)::BIGINT AS nv FROM sig GROUP BY q)),
        |rl AS MATERIALIZED (
        |  SELECT v, (2 * coalesce(sum(nv) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nv + 1)
        |    / (2.0 * (SELECT n FROM nn)) AS r
        |  FROM (SELECT n_chars AS v, count(*)::BIGINT AS nv FROM sig GROUP BY n_chars)),
        |rp AS MATERIALIZED (
        |  SELECT v, (2 * coalesce(sum(nv) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nv + 1)
        |    / (2.0 * (SELECT n FROM nn)) AS r
        |  FROM (SELECT prior AS v, count(*)::BIGINT AS nv FROM sig GROUP BY prior)),
        |fused AS (
        |  SELECT sig.doc_id,
        |    round(rq.r * 0.5 + rl.r * 0.2 + rp.r * 0.3, 6) AS fused
        |  FROM sig
        |  JOIN rq ON rq.v = sig.q
        |  JOIN rl ON rl.v = sig.n_chars
        |  JOIN rp ON rp.v = sig.prior)
        |SELECT doc_id, fused,
        |  row_number() OVER (ORDER BY fused DESC, doc_id) AS rank
        |FROM fused ORDER BY rank""".stripMargin),

    // Market-basket association rules over order baskets (Agrawal–Srikant
    // 2-itemset level): support/confidence/lift from exact integer
    // numerators, lift ROUNDED BEFORE the top-k rank so the cut is
    // reproducible cross-engine. The pair join is a self-join of one
    // cached (basket, item) projection — Catalyst reuses a single
    // exchange; fanout is (basket size choose 2), bounded by the largest
    // basket, never the catalog.
    "x116_association_rules" -> sql(
      (s, dir) => {
        MarketBasket.associationRules(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minPairCount = 2L, topK = 100)
          .orderBy("rank")
      },
      """WITH it AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS itm FROM lineitem),
        |nb AS MATERIALIZED (SELECT count(DISTINCT b)::BIGINT AS n FROM it),
        |ic AS MATERIALIZED (SELECT itm, count(*)::BIGINT AS c FROM it GROUP BY itm),
        |pr AS MATERIALIZED (
        |  SELECT a.itm AS item_a, b.itm AS item_b, count(*)::BIGINT AS n_pair
        |  FROM it a JOIN it b ON a.b = b.b AND a.itm < b.itm
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |en AS (
        |  SELECT p.item_a, p.item_b, p.n_pair,
        |    round(p.n_pair / (SELECT n FROM nb)::DOUBLE, 6) AS support,
        |    round(p.n_pair / ca.c::DOUBLE, 6) AS confidence_ab,
        |    round(p.n_pair / cb.c::DOUBLE, 6) AS confidence_ba,
        |    round((p.n_pair * (SELECT n FROM nb)) / (ca.c * cb.c)::DOUBLE, 6) AS lift
        |  FROM pr p
        |  JOIN ic ca ON ca.itm = p.item_a
        |  JOIN ic cb ON cb.itm = p.item_b),
        |rk AS (
        |  SELECT item_a, item_b, n_pair, support, confidence_ab, confidence_ba, lift,
        |    row_number() OVER (ORDER BY lift DESC, item_a, item_b) AS rank
        |  FROM en)
        |SELECT * FROM rk WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // Personalized PageRank (random walk with restart, Haveliwala 2002):
    // teleport concentrated on the five most-active customers, so the
    // stationary mass ranks suppliers/customers by proximity to that seed
    // cohort — the recommendation variant of x108, same exact-integer
    // superstep contract (teleport unit scale div 5, dangling mass
    // re-teleports to the seeds). Seed pick is integer-exact (order
    // count desc, custkey). Top 100 by rank.
    "x117_personalized_pagerank" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val seeds = o.groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("o_custkey")).limit(5)
          .collect().map(_.getLong(0) * 2).toSeq
        val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .distinct()
        // both edge directions from ONE scan of the (uncached) join+distinct
        // — the unionAll shape evaluated it once per leg (guide §2.4)
        val edges = pairs
          .select(explode(array(
            struct((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst")),
            struct((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
            .as("__e"))
          .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        val ranked = Graph.personalizedPageRank(edges, "src", "dst", seeds,
          iters = 5)
          .select(
            when(col("node") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("node_type"),
            expr("node div 2").as("entity_key"),
            col("rank_fp"))
        // Top-100 epilogue, the x47 pattern: distributed TakeOrdered FIRST
        // (orderBy+limit → TakeOrderedAndProject, per-partition heaps), then
        // the rank window runs on the 100-row result — never the full node
        // frame through one partition.
        ranked
          .orderBy(desc("rank_fp"), col("node_type"), col("entity_key"))
          .limit(100)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("rank_fp"), col("node_type"), col("entity_key")))
            .cast("long"))
          .orderBy("rank")
      },
      s"""WITH base AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |e AS MATERIALIZED (
        |  SELECT c * 2 AS src, p * 2 + 1 AS dst FROM base
        |  UNION ALL
        |  SELECT p * 2 + 1, c * 2 FROM base),
        |sd AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS node FROM (
        |    SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
        |    ORDER BY cnt DESC, o_custkey LIMIT 5)),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |dg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |nd AS MATERIALIZED (
        |  SELECT n.node, coalesce(d.deg, 0::BIGINT) AS deg
        |  FROM nodes n LEFT JOIN dg d USING (node)),
        |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nd),
        |r0 AS MATERIALIZED (
        |  SELECT node, deg,
        |    CASE WHEN node IN (SELECT node FROM sd)
        |      THEN 1000000000000 // 5 ELSE 0 END AS r
        |  FROM nd),
        |${pagerankIterCtes(5, "node IN (SELECT node FROM sd)", "5")},
        |fin AS (
        |  SELECT
        |    CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
        |    node // 2 AS entity_key, r AS rank_fp
        |  FROM r5),
        |rkd AS (
        |  SELECT node_type, entity_key, rank_fp,
        |    row_number() OVER (ORDER BY rank_fp DESC, node_type, entity_key) AS rank
        |  FROM fin)
        |SELECT node_type, entity_key, rank_fp, rank
        |FROM rkd WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // Weakly connected components of the STRONG trade graph (pairs linked
    // by >= 4 distinct orders): min-label propagation to the exact
    // fixpoint (Graph.connectedComponents — driver stops on a zero
    // changed-count, so the result is iteration-count-independent), then
    // a per-component census. The oracle computes the same fixpoint a
    // completely different way — a recursive-CTE reachability closure —
    // and must land on identical canonical labels and sizes.
    "x118_trade_components" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 4)
        val edges = strong
          .select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        val cc = Graph.connectedComponents(edges, "src", "dst")
        cc.groupBy("comp")
          .agg(count(lit(1)).as("size"),
            sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
            sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
          .select(
            when(col("comp") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("canonical_type"),
            expr("comp div 2").as("canonical_key"),
            col("size"), col("n_customers"), col("n_suppliers"))
          .orderBy(desc("size"), col("canonical_type"), col("canonical_key"))
      },
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT o_custkey AS c, l_suppkey AS s, count(DISTINCT o.o_orderkey) AS cnt
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |ed AS MATERIALIZED (
        |  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM p WHERE cnt >= 4),
        |sym AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src),
        |lab AS MATERIALIZED (
        |  SELECT src AS node, least(src, min(dst)) AS comp
        |  FROM reach GROUP BY src),
        |grp AS (
        |  SELECT comp, count(*)::BIGINT AS size,
        |    sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_customers,
        |    sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_suppliers
        |  FROM lab GROUP BY comp)
        |SELECT
        |  CASE WHEN comp % 2 = 0 THEN 'customer' ELSE 'supplier' END AS canonical_type,
        |  comp // 2 AS canonical_key, size, n_customers, n_suppliers
        |FROM grp
        |ORDER BY size DESC, canonical_type, canonical_key""".stripMargin),

    // Triangle census of the supplier co-purchase graph (suppliers linked
    // when they share a customer with >= 2 distinct orders each): exact
    // per-node triangle counts via degree-ordered orientation
    // (Graph.triangleCounts) + local clustering coefficient in exact
    // parts-per-million integer arithmetic. The oracle replays the SAME
    // orientation definition in SQL — wedge generation at the lowest-
    // degree corner — so counts must agree bit-for-bit.
    "x119_triangle_census" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val sp = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 2)
          .select(col("c"), col("p"))
        val a = sp; val b = sp.select(col("c"), col("p").as("p2"))
        val ed = a.join(b, a("c") === b("c") && col("p") < col("p2"))
          .select(col("p").as("x"), col("p2").as("y"))
          .distinct()
        val tc = Graph.triangleCounts(ed, "x", "y")
        tc.select(
            col("node").as("s_suppkey"), col("deg"), col("triangles"),
            when(col("deg") >= 2,
              expr("(2 * triangles * 1000000) div (deg * (deg - 1))"))
              .otherwise(lit(0L)).as("coef_ppm"))
          .orderBy(desc("triangles"), col("s_suppkey"))
      },
      """WITH p AS MATERIALIZED (
        |  SELECT o_custkey AS c, l_suppkey AS s, count(DISTINCT o.o_orderkey) AS cnt
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |sp AS MATERIALIZED (SELECT c, s FROM p WHERE cnt >= 2),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT a.s AS a, b.s AS b
        |  FROM sp a JOIN sp b ON a.c = b.c AND a.s < b.s),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
        |  GROUP BY node),
        |orient AS MATERIALIZED (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |      THEN u.a ELSE u.b END AS u,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |      THEN u.b ELSE u.a END AS v,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |      THEN db.deg ELSE da.deg END AS dv
        |  FROM und u
        |  JOIN deg da ON da.node = u.a
        |  JOIN deg db ON db.node = u.b),
        |tri AS MATERIALIZED (
        |  SELECT o1.u AS u, o1.v AS v, o2.v AS w
        |  FROM orient o1
        |  JOIN orient o2 ON o2.u = o1.u
        |    AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        |  JOIN orient e ON e.u = o1.v AND e.v = o2.v),
        |pn AS (
        |  SELECT node, count(*)::BIGINT AS triangles FROM (
        |    SELECT u AS node FROM tri UNION ALL
        |    SELECT v AS node FROM tri UNION ALL
        |    SELECT w AS node FROM tri)
        |  GROUP BY node)
        |SELECT d.node AS s_suppkey, d.deg,
        |  coalesce(pn.triangles, 0)::BIGINT AS triangles,
        |  CASE WHEN d.deg >= 2
        |    THEN (2 * coalesce(pn.triangles, 0) * 1000000) // (d.deg * (d.deg - 1))
        |    ELSE 0 END::BIGINT AS coef_ppm
        |FROM deg d LEFT JOIN pn ON pn.node = d.node
        |ORDER BY triangles DESC, s_suppkey""".stripMargin),

    // Inter-rater agreement (Cohen's kappa) between two 3-way quality
    // signals over documents — a length tercile and a whitespace-density
    // tercile (fixed sf-independent cut points). Exact decimal(38,0)
    // contingency algebra, ppm integer divisions; the oracle replays the
    // identical formula in HUGEINT.
    "x120_agreement_kappa" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val ra = when(col("n_chars") < 216, "short")
          .when(col("n_chars") < 379, "mid").otherwise("long")
        val sp = length(col("text")) - length(regexp_replace(col("text"), " ", ""))
        val rb = when(sp < 38, "short").when(sp < 68, "mid").otherwise("long")
        Evaluation.agreementReport(d, ra, rb)
      },
      """WITH r AS (
        |  SELECT
        |    CASE WHEN n_chars < 216 THEN 'short'
        |      WHEN n_chars < 379 THEN 'mid' ELSE 'long' END AS ra,
        |    CASE WHEN sp < 38 THEN 'short'
        |      WHEN sp < 68 THEN 'mid' ELSE 'long' END AS rb
        |  FROM (SELECT n_chars,
        |      length(text) - length(replace(text, ' ', '')) AS sp
        |    FROM documents)),
        |cells AS (SELECT ra, rb, count(*)::HUGEINT AS c FROM r GROUP BY 1, 2),
        |cls AS (SELECT count(DISTINCT k)::BIGINT AS n_classes FROM (
        |  SELECT ra AS k FROM cells UNION ALL SELECT rb FROM cells)),
        |rm AS (SELECT ra AS k, sum(c) AS rc FROM cells GROUP BY 1),
        |cm AS (SELECT rb AS k, sum(c) AS cc FROM cells GROUP BY 1),
        |sr AS (SELECT coalesce(sum(rc * cc), 0)::HUGEINT AS src
        |  FROM rm JOIN cm USING (k)),
        |t AS (SELECT coalesce(sum(c), 0)::HUGEINT AS n,
        |  coalesce(sum(CASE WHEN ra = rb THEN c ELSE 0::HUGEINT END),
        |    0)::HUGEINT AS agree FROM cells)
        |SELECT n::BIGINT AS n, n_classes, agree::BIGINT AS agree,
        |  ((agree * 1000000) // n)::BIGINT AS po_ppm,
        |  ((src * 1000000) // (n * n))::BIGINT AS pe_ppm,
        |  (CASE WHEN n * n = src THEN NULL
        |    ELSE ((n * agree - src) * 1000000) // (n * n - src)
        |  END)::BIGINT AS kappa_ppm
        |FROM t, cls, sr""".stripMargin),

    // Weekday-seasonal anomaly report on the event stream: each day's
    // count vs its own ISO-weekday's low-median baseline, Hampel-flagged
    // at 3×MAD — all order statistics, exact integers, bit-replayable.
    "x121_seasonal_anomaly" -> sql(
      (s, dir) => Seasonal
        .weekdayAnomalies(Tables.events(s, dir), col("event_type"), col("ts"), 3)
        .orderBy("series", "day"),
      """WITH daily AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT series, day, cnt,
        |  date_part('isodow', day)::INT AS dow FROM daily),
        |m AS (SELECT *,
        |  row_number() OVER (PARTITION BY series, dow ORDER BY cnt, day) AS rn,
        |  count(*) OVER (PARTITION BY series, dow) AS n FROM w),
        |med AS (SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
        |  OVER (PARTITION BY series, dow) AS med FROM m),
        |dv AS (SELECT *, abs(cnt - med) AS dev FROM med),
        |d2 AS (SELECT *,
        |  row_number() OVER (PARTITION BY series, dow ORDER BY dev, day) AS rd
        |  FROM dv),
        |md AS (SELECT *, max(CASE WHEN rd = (n + 1) // 2 THEN dev END)
        |  OVER (PARTITION BY series, dow) AS mad FROM d2)
        |SELECT series, day, dow, cnt, med, mad, dev,
        |  (dev > 3 * mad) AS flagged
        |FROM md ORDER BY series, day""".stripMargin),

    // Group-aware k-fold assignment (k = 5) over event users: serpentine
    // size-ranked packing so folds balance without splitting any user
    // across train/validation — the entity-leakage-safe split.
    "x122_group_kfold" -> sql(
      (s, dir) => TemporalSplit
        .groupKFold(Tables.events(s, dir), col("user_id"), 5)
        .select(col("group").as("grp"), col("weight"), col("fold"))
        .orderBy("grp"),
      """WITH g AS (
        |  SELECT user_id::VARCHAR AS grp, count(*)::BIGINT AS weight
        |  FROM events GROUP BY 1),
        |r AS (SELECT grp, weight,
        |  row_number() OVER (ORDER BY weight DESC, grp) - 1 AS rr FROM g)
        |SELECT grp, weight,
        |  (CASE WHEN (rr // 5) % 2 = 0 THEN rr % 5
        |    ELSE 4 - rr % 5 END)::BIGINT AS fold
        |FROM r ORDER BY grp""".stripMargin),

    // Distribution-drift monitor: event-type mix of the first half of the
    // month vs the second, per-bin TVD contribution in exact ppm plus a
    // __total row — the disappearing-category alarm for a serving corpus.
    "x123_drift_tvd" -> sql(
      (s, dir) => Evaluation
        .driftReport(Tables.events(s, dir), col("event_type"),
          dayofmonth(col("ts")) <= 15)
        .orderBy("bin"),
      """WITH c AS (
        |  SELECT event_type::VARCHAR AS bin,
        |    sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)::HUGEINT AS ca,
        |    sum(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END)::HUGEINT AS cb
        |  FROM events GROUP BY 1),
        |t AS (SELECT coalesce(sum(ca), 0)::HUGEINT AS na,
        |  coalesce(sum(cb), 0)::HUGEINT AS nb FROM c),
        |pb AS (SELECT bin, ca, cb,
        |  CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE (abs(ca * nb - cb * na) * 1000000) // (2 * na * nb)
        |  END AS contrib
        |  FROM c, t),
        |tot AS (SELECT '__total' AS bin, na AS ca, nb AS cb,
        |  (SELECT sum(contrib) FROM pb) AS contrib FROM t)
        |SELECT bin, ca::BIGINT AS cnt_a, cb::BIGINT AS cnt_b,
        |  contrib::BIGINT AS contrib_ppm
        |FROM (SELECT * FROM pb UNION ALL SELECT * FROM tot)
        |ORDER BY bin""".stripMargin),

    // 3-core of the strong customer↔supplier trade graph (Seidman's
    // k-core: iteratively peel degree-<3 nodes to the unique fixpoint —
    // the "dense trading kernel" left after fringe entities fall away).
    // The oracle unrolls the SAME whole-frontier peel as 12 chained CTE
    // rounds; extra rounds past the fixpoint are no-ops, so the two
    // engines land on the identical core. An empty core is a real
    // answer (at some scales no 3-core exists).
    "x124_kcore_trade" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 3)
          .select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        Graph.kCore(strong, "src", "dst", k = 3, maxIters = 12)
          .select(
            when(col("node") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("entity_type"),
            expr("node div 2").as("entity_key"),
            col("core_deg"))
          .orderBy("entity_type", "entity_key")
      },
      kcoreOracle(k = 3, rounds = 12)),

    // Token-budget mixture plan: waterfill 60% of the corpus' characters
    // across sources in target proportions (weights 10/20/30/40 cycling
    // by source index), capping at availability and redistributing
    // shortfall — exact integer allocation summing to the budget to the
    // token. The oracle replays the identical window algebra in HUGEINT.
    "x125_mixture_waterfill" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val wcol = ((expr("cast(substring(source, 4) as int)") % 4) + 1) * 10
        MixtureSampling.weightedTokenWaterfill(d, col("source"),
          col("n_chars"), wcol, budgetPpm = 600000, weightLcm = 120)
          .orderBy("grp")
      },
      """WITH per AS MATERIALIZED (
        |  SELECT source AS grp, sum(n_chars)::HUGEINT AS a,
        |    (((substr(source, 4)::INT) % 4 + 1) * 10)::BIGINT AS w
        |  FROM documents GROUP BY source),
        |k AS (SELECT grp, a, w, a * (120 // w) AS kord FROM per WHERE a > 0),
        |st AS (
        |  SELECT grp, a, w,
        |    row_number() OVER (ORDER BY kord, grp) AS pos,
        |    coalesce(sum(a) OVER (ORDER BY kord, grp
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0)::HUGEINT AS prefa,
        |    sum(w) OVER (ORDER BY kord, grp
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::HUGEINT
        |      AS wsuf,
        |    ((sum(a) OVER ()) * 600000 // 1000000)::HUGEINT AS b
        |  FROM k),
        |bd AS (SELECT *, a * wsuf < (b - prefa) * w AS t FROM st),
        |bd2 AS (SELECT *,
        |  min(CASE WHEN NOT t THEN pos END) OVER () AS bound FROM bd),
        |cp AS (SELECT *, pos < bound AS capped FROM bd2),
        |ag AS (SELECT *,
        |  coalesce(sum(CASE WHEN capped THEN a END) OVER (),
        |    0)::HUGEINT AS acap,
        |  sum(CASE WHEN NOT capped THEN w END) OVER ()::HUGEINT AS wunc
        |  FROM cp),
        |bs AS (SELECT *, b - acap AS r,
        |  CASE WHEN capped THEN 0::HUGEINT
        |    ELSE ((b - acap) * w) // wunc END AS base,
        |  CASE WHEN capped THEN -1::HUGEINT
        |    ELSE ((b - acap) * w) % wunc END AS frac
        |  FROM ag),
        |lf AS (SELECT *,
        |  r - sum(CASE WHEN NOT capped THEN base ELSE 0::HUGEINT END)
        |    OVER () AS leftover,
        |  row_number() OVER (ORDER BY capped, frac DESC, grp) AS rnk
        |  FROM bs)
        |SELECT grp, a::BIGINT AS available, w AS weight,
        |  (CASE WHEN capped THEN a
        |    ELSE base + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)
        |  END)::BIGINT AS alloc,
        |  ((CASE WHEN capped THEN a
        |    ELSE base + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)
        |  END) * 1000000 // a)::BIGINT AS util_ppm
        |FROM lf ORDER BY grp""".stripMargin),

    // Pre-release privacy audit of the corpus metadata: k-anonymity
    // (quasi-identifier = source × 100-char length bucket, k = 3) and
    // l-diversity of the language attribute (l = 2) — the groups a
    // release reviewer must generalize or suppress.
    "x126_privacy_audit" -> sql(
      (s, dir) => TextAnalysis.privacyAudit(
        Tables.documents(s, dir),
        quasi = Seq(
          "source" -> col("source"),
          "len_bucket" -> expr("n_chars div 100")),
        sensitive = col("lang"), k = 3, l = 2)
        .orderBy("source", "len_bucket"),
      """SELECT source, (n_chars // 100)::BIGINT AS len_bucket,
        |  count(*)::BIGINT AS n,
        |  count(DISTINCT lang)::BIGINT AS n_sensitive,
        |  count(*) < 3 AS k_risk,
        |  count(DISTINCT lang) < 2 AS l_risk
        |FROM documents
        |GROUP BY source, n_chars // 100
        |ORDER BY source, len_bucket""".stripMargin),

    // HITS hubs & authorities on the customer→supplier trade graph
    // (Kleinberg): broad strong buyers (hubs) vs the suppliers their
    // baskets concentrate on (authorities). Exact fixed-point integers
    // with max-norm renormalization each half-step; the oracle unrolls
    // the same four supersteps in HUGEINT.
    "x127_hits_trade" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 2)
          .select(col("c"), col("p"))
        Graph.hitsBipartite(strong, "c", "p", iters = 4)
          .select(col("side"), col("node").as("entity_key"), col("score_fp"))
          .orderBy("side", "entity_key")
      },
      hitsOracle(iters = 4)),

    // Deterministic random-walk corpus over the symmetrized trade graph —
    // the DeepWalk/node2vec training input, derandomized with the
    // engine's md5-draw convention so every path replays bit-identically
    // (the oracle replays the per-step argmin in SQL). 2 walks × 4 steps
    // from every node; walks terminate at sinks.
    "x128_graph_walks" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 2)
          .select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        // both directions from ONE scan of the (uncached) strong-edge
        // aggregation — the unionAll shape evaluated it once per leg
        val sym = strong.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
          .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        Graph.deterministicWalks(sym, "src", "dst",
          steps = 4, walksPerNode = 2)
          .orderBy("start", "widx", "step")
      },
      walksOracle(steps = 4)),

    // Exact quantile normalization of document length against the pooled
    // corpus: each source's distribution maps onto the global one by
    // integer order statistics (rank r of n_s → pooled position
    // ⌈r·N/n_s⌉) — cross-source score comparability without fp quantile
    // interpolation. The oracle replays the identical rank algebra.
    "x129_quantile_normalize" -> sql(
      (s, dir) => {
        SignalFusion.quantileNormalize(Tables.documents(s, dir),
          col("source"), col("n_chars"), col("doc_id"))
          .orderBy("id")
      },
      """WITH e AS (SELECT source AS grp, n_chars AS s, doc_id AS id
        |  FROM documents),
        |r AS (SELECT grp, s, id,
        |  row_number() OVER (ORDER BY s, id) - 1 AS pos,
        |  row_number() OVER (PARTITION BY grp ORDER BY s, id) AS rs,
        |  count(*) OVER (PARTITION BY grp) AS ns,
        |  count(*) OVER () AS n
        |  FROM e),
        |lk AS (SELECT pos + 1 AS p, s AS qnorm FROM r)
        |SELECT r.id, r.grp, r.s AS score, lk.qnorm
        |FROM r JOIN lk
        |  ON lk.p = (rs::HUGEINT * n + ns - 1) // ns
        |ORDER BY r.id""".stripMargin),

    // Two-directional referential-integrity audit of the warehouse's
    // declared relationships (dbt-test/Deequ style): broken references
    // (orphans) AND coverage gaps (childless parents — e.g. orders that
    // never produced a line item), rates in exact ppm.
    "x130_referential_audit" -> sql(
      (s, dir) => DataQuality.referentialAudit(Seq(
        DataQuality.Rel("events->customer", Tables.events(s, dir),
          col("user_id"), Tables.customer(s, dir), col("c_custkey")),
        DataQuality.Rel("lineitem->orders", Tables.lineitem(s, dir),
          col("l_orderkey"), Tables.orders(s, dir), col("o_orderkey")),
        DataQuality.Rel("lineitem->part", Tables.lineitem(s, dir),
          col("l_partkey"), Tables.part(s, dir), col("p_partkey")),
        DataQuality.Rel("lineitem->supplier", Tables.lineitem(s, dir),
          col("l_suppkey"), Tables.supplier(s, dir), col("s_suppkey")),
        DataQuality.Rel("orders->customer", Tables.orders(s, dir),
          col("o_custkey"), Tables.customer(s, dir), col("c_custkey"))))
        .orderBy("rel"),
      refAuditOracle),

    // Butterfly (K2,2) census of the strong customer×supplier graph —
    // the bipartite clustering primitive, counted natively (no projected
    // graph): per supplier, Σ over partners C(common customers, 2).
    "x131_butterfly_census" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 2)
          .select(col("c"), col("p"))
        Graph.butterflyCounts(strong, "c", "p")
          .select(col("node").as("s_suppkey"), col("deg"), col("butterflies"))
          .orderBy(desc("butterflies"), col("s_suppkey"))
      },
      """WITH sp AS MATERIALIZED (
        |  SELECT o_custkey AS l, l_suppkey AS r
        |  FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
        |  GROUP BY o_custkey, l_suppkey
        |  HAVING count(DISTINCT o.o_orderkey) >= 2),
        |w AS (SELECT a.r AS r, b.r AS r2
        |  FROM sp a JOIN sp b ON a.l = b.l AND a.r < b.r),
        |pr AS (SELECT r, r2, count(*) AS c FROM w GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |bf AS (SELECT node, sum((c * (c - 1)) // 2)::BIGINT AS butterflies
        |  FROM (SELECT r AS node, c FROM pr
        |    UNION ALL SELECT r2 AS node, c FROM pr)
        |  GROUP BY node),
        |deg AS (SELECT r AS node, count(*)::BIGINT AS deg FROM sp GROUP BY r)
        |SELECT d.node AS s_suppkey, d.deg,
        |  coalesce(bf.butterflies, 0)::BIGINT AS butterflies
        |FROM deg d LEFT JOIN bf ON bf.node = d.node
        |ORDER BY butterflies DESC, s_suppkey""".stripMargin),

    // Two-sided CUSUM changepoint monitor on daily event volume (Page
    // 1954) — the sustained-small-shift detector the per-day Hampel flag
    // can't see, computed with the closed prefix form (running sum −
    // running min) so there is NO sequential recurrence. h = 40.
    "x132_cusum_changepoints" -> sql(
      (s, dir) => Seasonal
        .cusumChangepoints(Tables.events(s, dir), col("event_type"),
          col("ts"), h = 40)
        .orderBy("series", "day"),
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT *, (sum(cnt) OVER (PARTITION BY series)
        |  // count(*) OVER (PARTITION BY series))::BIGINT AS mu FROM d),
        |p AS (SELECT *, (sum(cnt - mu) OVER (PARTITION BY series
        |  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  )::BIGINT AS pf FROM m),
        |st AS (SELECT *,
        |  (pf - least(0, min(pf) OVER (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT AS s_pos,
        |  (greatest(0, max(pf) OVER (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - pf)::BIGINT AS s_neg
        |  FROM p)
        |SELECT series, day, cnt, s_pos, s_neg,
        |  s_pos > 40 AS shift_up, s_neg > 40 AS shift_down
        |FROM st ORDER BY series, day""".stripMargin),

    // Seasonal-naive forecast evaluation (MASE): does "same weekday last
    // week" beat "same as yesterday" on daily volume? Exact integer
    // error sums, cross-multiplied ppm ratio.
    "x133_seasonal_mase" -> sql(
      (s, dir) => Seasonal
        .seasonalNaiveMase(Tables.events(s, dir), col("event_type"),
          col("ts"), season = 7)
        .orderBy("series"),
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT *,
        |  lag(cnt, 1) OVER (PARTITION BY series ORDER BY day) AS l1,
        |  lag(cnt, 7) OVER (PARTITION BY series ORDER BY day) AS ls
        |  FROM d)
        |SELECT series, count(*)::BIGINT AS n_days,
        |  coalesce(sum(abs(cnt - ls)), 0)::BIGINT AS sae_seasonal,
        |  count(ls)::BIGINT AS n_seasonal,
        |  coalesce(sum(abs(cnt - l1)), 0)::BIGINT AS sae_naive,
        |  count(l1)::BIGINT AS n_naive,
        |  (CASE WHEN count(ls) = 0 OR count(l1) = 0
        |      OR coalesce(sum(abs(cnt - l1)), 0) = 0 THEN NULL
        |    ELSE (coalesce(sum(abs(cnt - ls)), 0)::HUGEINT
        |      * count(l1) * 1000000)
        |      // (coalesce(sum(abs(cnt - l1)), 0)::HUGEINT * count(ls))
        |  END)::BIGINT AS mase_ppm
        |FROM l GROUP BY series ORDER BY series""".stripMargin),

    // Incremental component maintenance: the strong trade graph's edges
    // split into a base corpus and a new batch (deterministic 1-in-5
    // predicate); the base is labeled once, then the batch merges in via
    // Graph.componentsIncremental — corpus labeling touched by ONE
    // broadcast remap. The oracle recomputes the closure from scratch
    // over ALL edges, so the incremental path must land on the identical
    // fixpoint per node.
    "x135_components_incremental" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 4)
          .select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        val isNew = (expr("src div 2") + expr("dst div 2")) % 5 === 0
        val base = Graph.connectedComponents(
          edges.where(!isNew), "src", "dst")
        Graph.componentsIncremental(base,
          edges.where(isNew), "src", "dst")
          .select(
            when(col("node") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("entity_type"),
            expr("node div 2").as("entity_key"),
            when(col("comp") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("canonical_type"),
            expr("comp div 2").as("canonical_key"))
          .orderBy("entity_type", "entity_key")
      },
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT o_custkey AS c, l_suppkey AS s, count(DISTINCT o.o_orderkey) AS cnt
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |ed AS MATERIALIZED (
        |  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM p WHERE cnt >= 4),
        |sym AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src),
        |lab AS MATERIALIZED (
        |  SELECT src AS node, least(src, min(dst)) AS comp
        |  FROM reach GROUP BY src)
        |SELECT
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS entity_type,
        |  (node // 2)::BIGINT AS entity_key,
        |  CASE WHEN comp % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS canonical_type,
        |  (comp // 2)::BIGINT AS canonical_key
        |FROM lab
        |ORDER BY entity_type, entity_key""".stripMargin),

    // Multi-source BFS over the trade graph: hop distance of every entity
    // from the top-3 customers by order volume (the "distance from a
    // trusted core" quality prior), plus the smallest winning seed. The
    // Spark side is a lexicographic-min Pregel fixpoint; the oracle is a
    // bounded recursive closure + arg-min over (node, dist, seed) rows —
    // exact integers on both sides, so the comparison is hash-exact.
    "x136_bfs_levels" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val seeds = o.groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("o_custkey")).limit(3)
          .collect().map(_.getLong(0) * 2).toSeq
        val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .distinct()
          .select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        Graph.bfsLevels(edges, "src", "dst", seeds)
          .select(
            when(col("node") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("entity_type"),
            expr("node div 2").as("entity_key"),
            col("dist"),
            expr("seed div 2").as("seed_custkey"))
          .orderBy("entity_type", "entity_key")
      },
      """WITH RECURSIVE base AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |e AS MATERIALIZED (
        |  SELECT c * 2 AS src, p * 2 + 1 AS dst FROM base
        |  UNION ALL
        |  SELECT p * 2 + 1, c * 2 FROM base),
        |sd AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS node FROM (
        |    SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
        |    ORDER BY cnt DESC, o_custkey LIMIT 3)),
        |reach(node, dist, seed) AS (
        |  SELECT node, 0::BIGINT, node FROM sd
        |  UNION
        |  SELECT e.dst, r.dist + 1, r.seed
        |  FROM reach r JOIN e ON e.src = r.node WHERE r.dist < 15),
        |best AS MATERIALIZED (
        |  SELECT node, min(dist) AS dist FROM reach GROUP BY node),
        |pick AS MATERIALIZED (
        |  SELECT r.node, b.dist, min(r.seed) AS seed
        |  FROM reach r JOIN best b ON b.node = r.node AND b.dist = r.dist
        |  GROUP BY r.node, b.dist)
        |SELECT
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS entity_type,
        |  (node // 2)::BIGINT AS entity_key,
        |  dist::BIGINT AS dist,
        |  (seed // 2)::BIGINT AS seed_custkey
        |FROM pick
        |ORDER BY entity_type, entity_key""".stripMargin),

    // Resource-allocation link prediction (Zhou 2009) on the strong
    // co-purchase graph: customer pairs scored by Σ 1/deg(shared
    // supplier) in exact fixed-point integers — a rare shared partner
    // outweighs a ubiquitous one. Top-100 with a total-order rank, so
    // the cutoff is deterministic on both sides.
    "x137_link_prediction" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 2)
          .select(col("c"), col("p"))
        // Top-100 epilogue, the x47 pattern: TakeOrdered the Σdeg² wedge-pair
        // frame down to 100 rows FIRST (per-partition heaps), then rank the
        // 100-row result — the full pair frame never crosses one partition.
        Graph.sharedNeighborScores(strong, "c", "p")
          .select(col("a").as("cust_a"), col("b").as("cust_b"),
            col("shared"), col("ra_fp"))
          .orderBy(desc("ra_fp"), col("cust_a"), col("cust_b"))
          .limit(100)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("ra_fp"), col("cust_a"), col("cust_b")))
            .cast("long"))
          .orderBy("rank")
      },
      """WITH sp AS MATERIALIZED (
        |  SELECT o_custkey AS l, l_suppkey AS r
        |  FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
        |  GROUP BY o_custkey, l_suppkey
        |  HAVING count(DISTINCT o.o_orderkey) >= 2),
        |deg AS MATERIALIZED (
        |  SELECT r, count(*)::BIGINT AS deg FROM sp GROUP BY r),
        |w AS (
        |  SELECT a.l AS a, b.l AS b, d.deg AS deg
        |  FROM sp a JOIN sp b ON a.r = b.r AND a.l < b.l
        |  JOIN deg d ON d.r = a.r),
        |pr AS MATERIALIZED (
        |  SELECT a, b, count(*)::BIGINT AS shared,
        |    sum(1000000000000 // deg)::BIGINT AS ra_fp
        |  FROM w GROUP BY 1, 2)
        |SELECT a AS cust_a, b AS cust_b, shared, ra_fp,
        |  row_number() OVER (ORDER BY ra_fp DESC, a, b)::BIGINT AS rank
        |FROM pr
        |QUALIFY rank <= 100
        |ORDER BY rank""".stripMargin),

    // Item-based CF recommendations: for each customer, the top-3 NEW
    // suppliers scored by Σ ra(customer, peer) over peers who already
    // trade there — the x137 similarity machinery composed into the
    // serving-side query a recommendation pipeline actually runs. Exact
    // fixed-point integers, so rank cutoffs replay bit-for-bit.
    "x138_recommendations" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 2)
          .select(col("c"), col("p"))
        Graph.recommendations(strong, "c", "p", k = 3)
          .select(col("l").as("custkey"), col("rank"),
            col("r").as("s_suppkey"), col("score_fp"), col("n_contributors"))
          .orderBy("custkey", "rank")
      },
      """WITH sp AS MATERIALIZED (
        |  SELECT o_custkey AS l, l_suppkey AS r
        |  FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
        |  GROUP BY o_custkey, l_suppkey
        |  HAVING count(DISTINCT o.o_orderkey) >= 2),
        |deg AS MATERIALIZED (
        |  SELECT r, count(*)::BIGINT AS deg FROM sp GROUP BY r),
        |w AS (
        |  SELECT a.l AS a, b.l AS b, d.deg AS deg
        |  FROM sp a JOIN sp b ON a.r = b.r AND a.l < b.l
        |  JOIN deg d ON d.r = a.r),
        |pr AS MATERIALIZED (
        |  SELECT a, b, sum(1000000000000 // deg)::BIGINT AS ra_fp
        |  FROM w GROUP BY 1, 2),
        |sym AS (
        |  SELECT a AS c, b AS peer, ra_fp FROM pr
        |  UNION ALL SELECT b, a, ra_fp FROM pr),
        |contrib AS MATERIALIZED (
        |  SELECT s.c, e.r, sum(s.ra_fp)::BIGINT AS score_fp,
        |    count(*)::BIGINT AS n_contributors
        |  FROM sym s JOIN sp e ON e.l = s.peer
        |  GROUP BY s.c, e.r),
        |novel AS (
        |  SELECT c, r, score_fp, n_contributors FROM contrib ct
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM sp e WHERE e.l = ct.c AND e.r = ct.r))
        |SELECT c AS custkey,
        |  row_number() OVER (PARTITION BY c ORDER BY score_fp DESC, r)::BIGINT
        |    AS rank,
        |  r AS s_suppkey, score_fp, n_contributors
        |FROM novel
        |QUALIFY rank <= 3
        |ORDER BY custkey, rank""".stripMargin),

    // t-closeness release audit: the sensitive-attribute DISTRIBUTION
    // distance (TVD, exact integers — the x123 rationale) between each
    // quasi-identifier group and the pooled corpus — what k-anonymity and
    // l-diversity (x126) both miss when a large, diverse group still
    // skews toward a rare value. Absent values enter via the complement
    // identity, so only observed cells materialize.
    "x139_tcloseness" -> sql(
      (s, dir) => {
        TextAnalysis.tClosenessAudit(
          Tables.documents(s, dir),
          quasi = Seq(
            "source" -> col("source"),
            "len_bucket" -> expr("n_chars div 100")),
          sensitive = col("lang"), tPpm = 200000)
          .orderBy("source", "len_bucket")
      },
      """WITH cells AS MATERIALIZED (
        |  SELECT source, (n_chars // 100)::BIGINT AS len_bucket, lang AS v,
        |    count(*)::BIGINT AS ngv
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2, 3),
        |marg AS MATERIALIZED (
        |  SELECT v, sum(ngv)::BIGINT AS nv FROM cells GROUP BY v),
        |tot AS MATERIALIZED (SELECT sum(nv)::BIGINT AS nn FROM marg),
        |c2 AS MATERIALIZED (
        |  SELECT c.source, c.len_bucket, c.ngv, m.nv,
        |    sum(c.ngv) OVER (PARTITION BY c.source, c.len_bucket)::BIGINT AS ng,
        |    sum(m.nv) OVER (PARTITION BY c.source, c.len_bucket)::BIGINT AS snp
        |  FROM cells c JOIN marg m USING (v)),
        |per AS MATERIALIZED (
        |  SELECT source, len_bucket,
        |    max(ng) AS n,
        |    sum(abs(ngv::HUGEINT * (SELECT nn FROM tot)
        |      - nv::HUGEINT * ng)) AS pabs,
        |    max(ng)::HUGEINT * ((SELECT nn FROM tot) - max(snp)) AS aabs
        |  FROM c2 GROUP BY source, len_bucket)
        |SELECT source, len_bucket, n::BIGINT AS n,
        |  (((pabs + aabs) * 1000000)
        |    // (2 * n::HUGEINT * (SELECT nn FROM tot)))::BIGINT AS tvd_ppm,
        |  (((pabs + aabs) * 1000000)
        |    // (2 * n::HUGEINT * (SELECT nn FROM tot))) > 200000 AS t_risk
        |FROM per ORDER BY source, len_bucket""".stripMargin),

    // Deterministic unigram negative sampling: k=5 negatives per document,
    // drawn ∝ term frequency via a derandomized FNV-1a+fmix64 draw over
    // the cumulative vocabulary — the SGNS/contrastive-training sampler
    // whose every draw replays bit-for-bit in DuckDB (the x46 HUGEINT
    // chain over "doc:j", then mod total, then the cumulative-range map).
    "x140_negative_sampling" -> sql(
      (s, dir) => {
        Vocabulary.negativeSamples(Tables.documents(s, dir),
          "text", "doc_id", k = 5)
          .orderBy("doc_id", "neg_idx")
      },
      s"""WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS MATERIALIZED (SELECT tok, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
        |tot AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS total FROM c),
        |cum AS MATERIALIZED (
        |  SELECT tok, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY cnt DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS lo
        |  FROM c),
        |dr AS (
        |  SELECT doc_id, j, (doc_id::VARCHAR || ':' || j::VARCHAR) AS s
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j)),
        |fnv AS (SELECT doc_id, j,
        |  list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(generate_series(1, length(s)), i -> ascii(substring(s, i, 1))::HUGEINT)),
        |    (acc, ch) -> ((((acc // 65536) * 65536 + xor((acc % 65536)::BIGINT, ch::BIGINT)::HUGEINT)
        |                  * 1099511628211) % 18446744073709551616::HUGEINT)) AS h0
        |  FROM dr),
        |f1 AS (SELECT doc_id, j, ${dkXor64("h0", "(h0 // 8589934592)")} AS x FROM fnv),
        |f2 AS (SELECT doc_id, j, ${dkMul64("x", 0xff51afd7ed558ccdL)} AS x FROM f1),
        |f3 AS (SELECT doc_id, j, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f2),
        |f4 AS (SELECT doc_id, j, ${dkMul64("x", 0xc4ceb9fe1a85ec53L)} AS x FROM f3),
        |f5 AS (SELECT doc_id, j, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f4),
        |d AS (SELECT doc_id, j,
        |  ((x // 2) % (SELECT total FROM tot))::BIGINT AS draw FROM f5)
        |SELECT d.doc_id, d.j::BIGINT AS neg_idx, d.draw, cum.tok AS token
        |FROM d JOIN cum ON d.draw >= cum.lo AND d.draw < cum.lo + cum.cnt
        |ORDER BY doc_id, neg_idx""".stripMargin),

    // Join-key skew diagnostics over the hottest fact key: exact-ppm
    // shares, the max-over-mean skew factor, and the salt count each hot
    // key needs — the report a 100 TB job reads BEFORE picking
    // saltedJoin/saltedCountSum parameters. The diagnostic itself is
    // skew-proof: per-key counts partial-aggregate map-side.
    "x141_skew_report" -> sql(
      (s, dir) => Skew.skewReport(Tables.events(s, dir), col("user_id"),
        topK = 10, parallelism = 32)
        .orderBy("rank"),
      """WITH c AS MATERIALIZED (
        |  SELECT CAST(user_id AS VARCHAR) AS key, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1),
        |s AS MATERIALIZED (
        |  SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |    max(cnt)::BIGINT AS max_cnt FROM c),
        |t AS (SELECT key, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, key)::BIGINT AS rank FROM c)
        |SELECT t.key, t.rank, t.cnt,
        |  ((t.cnt * 1000000) // s.n_rows)::BIGINT AS share_ppm,
        |  s.n_rows, s.n_keys,
        |  ((s.max_cnt * s.n_keys * 1000000) // s.n_rows)::BIGINT AS hot_over_avg_ppm,
        |  ((t.cnt * 32 + s.n_rows - 1) // s.n_rows)::BIGINT AS rec_salts
        |FROM t, s WHERE t.rank <= 10 ORDER BY t.rank""".stripMargin),

    // Exact price percentiles WITHOUT a sort: MSB-radix descent — three
    // histogram rounds resolve the exact k-th order statistic of 10⁷-cent
    // values; the only shuffled payload is a ≤ 256×|prefixes| histogram
    // per round. The oracle is DuckDB's own row_number rank (the thing
    // the descent avoids computing distributively).
    "x142_radix_select" -> sql(
      (s, dir) => RadixSelect.quantiles(Tables.lineitem(s, dir),
        round(col("l_extendedprice") * 100),
        quantilesPpm = Seq(500000L, 900000L, 990000L, 999000L)),
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |n AS (SELECT count(*)::BIGINT AS n FROM v),
        |q AS (SELECT unnest([500000, 900000, 990000, 999000]) AS q_ppm),
        |r AS (SELECT q_ppm::BIGINT AS q_ppm,
        |  greatest(1, (q_ppm * (SELECT n FROM n) + 999999) // 1000000)::BIGINT AS rank
        |  FROM q),
        |o AS (SELECT v, row_number() OVER (ORDER BY v)::BIGINT AS rn FROM v)
        |SELECT r.q_ppm, r.rank, o.v AS value, (SELECT n FROM n) AS n
        |FROM r JOIN o ON o.rn = r.rank ORDER BY r.q_ppm""".stripMargin),

    // Feature-separability screening: exact tie-corrected Mann–Whitney
    // AUC (integer ppm) of three cheap document signals against the
    // is-English label — "which signals are worth a probe" in one plan,
    // ranked by distance from the 500000 coin flip.
    "x143_feature_auc" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("n_tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long"))
        Evaluation.featureAuc(docs, col("lang") === "en", Seq(
          "n_chars" -> col("n_chars"),
          "n_tokens" -> col("n_tokens"),
          // CaseWhen evaluates the branch only when the guard holds, so
          // the ANSI div never sees a zero divisor
          "avg_tok_len_x100" ->
            when(col("n_tokens") > 0, expr("(n_chars * 100) div n_tokens"))))
          .orderBy("rank")
      },
      """WITH base AS (
        |  SELECT (lang = 'en') AS y, n_chars::BIGINT AS n_chars,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |f AS (
        |  SELECT y, 'n_chars' AS feature, n_chars AS v FROM base
        |  UNION ALL SELECT y, 'n_tokens', n_tokens FROM base
        |  UNION ALL SELECT y, 'avg_tok_len_x100',
        |    CASE WHEN n_tokens > 0 THEN (n_chars * 100) // n_tokens END FROM base),
        |g AS (SELECT feature, v, count(*)::BIGINT AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p
        |  FROM f WHERE v IS NOT NULL AND y IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT feature, n, p,
        |  coalesce(sum(n) OVER (PARTITION BY feature ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
        |  FROM g),
        |pf AS (SELECT feature, sum(p * (2 * cum + n + 1))::BIGINT AS ph,
        |    sum(n)::BIGINT AS n, sum(p)::BIGINT AS n_pos
        |  FROM r GROUP BY 1),
        |fin AS (SELECT feature, n, n_pos, (n - n_pos)::BIGINT AS n_neg,
        |  CASE WHEN n_pos = 0 OR n = n_pos THEN NULL
        |    ELSE ((ph - n_pos * (n_pos + 1)) * 1000000) // (2 * n_pos * (n - n_pos))
        |  END::BIGINT AS auc_ppm FROM pf)
        |SELECT feature, n, n_pos, n_neg, auc_ppm,
        |  row_number() OVER (ORDER BY abs(auc_ppm - 500000) DESC NULLS LAST,
        |    feature)::BIGINT AS rank
        |FROM fin ORDER BY rank""".stripMargin),

    // kNN label-noise audit: each vector's 5 nearest neighbors inside its
    // deterministic IVF pivot cell (the x16 quantizer — whole assignment
    // replays in SQL) vote on its label; majority disagreement flags
    // suspected noise. Votes are exact integers; cosine ranks replay via
    // the identical left-to-right IEEE dot products (x13 regime). The
    // cell count auto-scales occupancy-constant (max(16, n/250), the x15
    // dial) and REPLAYS: both engines derive it from the same count.
    "x144_knn_label_audit" -> sql(
      (s, dir) => Similarity.knnLabelAudit(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", k = 5, seed = "v1")
        .orderBy("id"),
      """WITH emb AS (SELECT vec_id, embedding, label FROM embeddings),
        |nc AS (SELECT greatest(16, count(*) // 250)::BIGINT AS nc FROM emb),
        |pv AS (
        |  SELECT vec_id AS pid, embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        |  FROM emb),
        |piv AS (SELECT pid, pvec, cell FROM pv WHERE cell < (SELECT nc FROM nc)),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, e.label, p.cell,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |        i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |           * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), p.cell) AS rn
        |  FROM emb e CROSS JOIN piv p),
        |cells AS (SELECT vec_id, embedding, label, cell FROM asg WHERE rn = 1),
        |nb AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nid, b.label AS nlabel,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
        |  FROM cells a JOIN cells b USING (cell) WHERE a.vec_id <> b.vec_id),
        |topk AS (SELECT id, nlabel,
        |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, nid) AS rk
        |  FROM nb),
        |v AS (SELECT id, nlabel, count(*)::BIGINT AS votes
        |  FROM topk WHERE rk <= 5 GROUP BY 1, 2),
        |tv AS (SELECT id, nlabel, votes,
        |  row_number() OVER (PARTITION BY id ORDER BY votes DESC, nlabel) AS vr,
        |  sum(votes) OVER (PARTITION BY id)::BIGINT AS n_neighbors FROM v)
        |SELECT c.vec_id AS id, c.label,
        |  t.nlabel AS vote_label, t.votes AS vote_cnt, t.n_neighbors,
        |  (t.nlabel IS NOT NULL AND t.nlabel <> c.label) AS flagged
        |FROM cells c LEFT JOIN (SELECT * FROM tv WHERE vr = 1) t
        |  ON t.id = c.vec_id
        |ORDER BY id""".stripMargin),

    // Leakage-free target encoding of the source column against the
    // is-English target: leave-one-out with Laplace smoothing, exact
    // integer ppm — the categorical→numeric feature a probe consumes
    // without the row's own label leaking into it.
    "x145_target_encoding" -> sql(
      (s, dir) => SignalFusion.looTargetEncoding(Tables.documents(s, dir),
        col("doc_id"), col("source"),
        when(col("lang") === "en", 1L).otherwise(0L))
        .select(col("id").as("doc_id"), col("grp").as("source"),
          col("target"), col("enc_ppm"))
        .orderBy("doc_id"),
      """WITH rows_ AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS target
        |  FROM documents),
        |st AS (SELECT source, count(*)::BIGINT AS n, sum(target)::BIGINT AS s
        |  FROM rows_ GROUP BY 1)
        |SELECT r.doc_id, r.source, r.target,
        |  (((st.s - r.target + 1) * 1000000) // (st.n - 1 + 2))::BIGINT AS enc_ppm
        |FROM rows_ r JOIN st USING (source)
        |ORDER BY r.doc_id""".stripMargin),

    // Poisson bootstrap CI for the mean document length: 200 derandomized
    // replicates ride ONE corpus scan as weighted partial sums (weight =
    // Poisson(1) inverse-CDF of the x140 FNV draw against fixed integer
    // thresholds), so the WHOLE bootstrap — draws, weights, replicate
    // means, CI order statistics — replays bit-for-bit in DuckDB.
    "x146_poisson_bootstrap" -> sql(
      (s, dir) => Bootstrap.poissonBootstrapMean(Tables.documents(s, dir),
        col("doc_id"), col("n_chars"), replicates = 200),
      s"""WITH rows_ AS (
        |  SELECT doc_id::VARCHAR AS id, n_chars::BIGINT AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |dr AS (
        |  SELECT v, b, (id || ':' || b::VARCHAR) AS s
        |  FROM rows_ CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS b)),
        |fnv AS (SELECT v, b,
        |  list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(generate_series(1, length(s)), i -> ascii(substring(s, i, 1))::HUGEINT)),
        |    (acc, ch) -> ((((acc // 65536) * 65536 + xor((acc % 65536)::BIGINT, ch::BIGINT)::HUGEINT)
        |                  * 1099511628211) % 18446744073709551616::HUGEINT)) AS h0
        |  FROM dr),
        |f1 AS (SELECT v, b, ${dkXor64("h0", "(h0 // 8589934592)")} AS x FROM fnv),
        |f2 AS (SELECT v, b, ${dkMul64("x", 0xff51afd7ed558ccdL)} AS x FROM f1),
        |f3 AS (SELECT v, b, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f2),
        |f4 AS (SELECT v, b, ${dkMul64("x", 0xc4ceb9fe1a85ec53L)} AS x FROM f3),
        |f5 AS (SELECT v, b, ${dkXor64("x", "(x // 8589934592)")} AS x FROM f4),
        |d AS (SELECT b, v, (x // 2)::BIGINT AS u FROM f5),
        |w AS (SELECT b, v, (CASE
        |  WHEN u < 3393088950634442752 THEN 0
        |  WHEN u < 6786177901268885504 THEN 1
        |  WHEN u < 8482722376586106880 THEN 2
        |  WHEN u < 9048237201691847680 THEN 3
        |  WHEN u < 9189615907968282624 THEN 4
        |  WHEN u < 9217891649223569408 THEN 5
        |  WHEN u < 9222604272766116864 THEN 6
        |  WHEN u < 9223277504700766208 THEN 7
        |  WHEN u < 9223361658692597760 THEN 8
        |  ELSE 9 END)::BIGINT AS w FROM d),
        |pr AS (SELECT b, sum(w)::BIGINT AS sw, sum(w * v)::BIGINT AS swv
        |  FROM w GROUP BY b HAVING sum(w) > 0),
        |m AS (SELECT b, ((swv::HUGEINT * 1000000) // sw)::BIGINT AS mean_ppm FROM pr),
        |r AS (SELECT b, mean_ppm,
        |  row_number() OVER (ORDER BY mean_ppm, b) AS rk FROM m),
        |ci AS (SELECT count(*)::BIGINT AS b,
        |  max(CASE WHEN rk = 5 THEN mean_ppm END)::BIGINT AS boot_lo_ppm,
        |  max(CASE WHEN rk = 195 THEN mean_ppm END)::BIGINT AS boot_hi_ppm FROM r),
        |obs AS (SELECT count(*)::BIGINT AS n,
        |  ((sum(v)::HUGEINT * 1000000) // count(*))::BIGINT AS obs_mean_ppm FROM rows_)
        |SELECT obs.n, obs.obs_mean_ppm, ci.b,
        |  5::BIGINT AS lo_rank, 195::BIGINT AS hi_rank,
        |  ci.boot_lo_ppm, ci.boot_hi_ppm
        |FROM obs, ci""".stripMargin),

    // Winsorized price mean: exact p1/p99 cuts from the x142 radix
    // descent (no sort), then one clip-and-aggregate pass — the robust
    // location estimate plus how many rows each tail clipped.
    "x147_winsorized_mean" -> sql(
      (s, dir) => RadixSelect.winsorizedMeanReport(Tables.lineitem(s, dir),
        round(col("l_extendedprice") * 100),
        loPpm = 10000L, hiPpm = 990000L),
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |n AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |lo AS (SELECT v FROM r
        |  WHERE rn = greatest(1, (10000 * (SELECT n FROM n) + 999999) // 1000000)),
        |hi AS (SELECT v FROM r
        |  WHERE rn = greatest(1, (990000 * (SELECT n FROM n) + 999999) // 1000000)),
        |c AS (SELECT v.v,
        |  least(greatest(v.v, (SELECT v FROM lo)), (SELECT v FROM hi)) AS w
        |  FROM v)
        |SELECT (SELECT n FROM n) AS n,
        |  (SELECT v FROM lo) AS lo_cut, (SELECT v FROM hi) AS hi_cut,
        |  sum(CASE WHEN v < (SELECT v FROM lo) THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
        |  sum(CASE WHEN v > (SELECT v FROM hi) THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
        |  ((sum(v)::HUGEINT * 1000000) // count(*))::BIGINT AS mean_ppm_raw,
        |  ((sum(w)::HUGEINT * 1000000) // count(*))::BIGINT AS mean_ppm_winsorized
        |FROM c""".stripMargin),

    // Categorical diversity audit: cardinality + concentration of every
    // stratification-candidate column in one scan — top-value share and
    // the Simpson effective number of classes, exact ppm.
    "x148_diversity_audit" -> sql(
      (s, dir) => DataQuality.diversityAudit(Tables.documents(s, dir), Seq(
        "lang" -> col("lang"),
        "source" -> col("source"),
        "len_bucket" -> expr("n_chars div 100")))
        .orderBy("column"),
      """WITH f AS (
        |  SELECT 'lang' AS col_, lang::VARCHAR AS v FROM documents
        |  UNION ALL SELECT 'source', source::VARCHAR FROM documents
        |  UNION ALL SELECT 'len_bucket', (n_chars // 100)::VARCHAR FROM documents),
        |g AS (SELECT col_, v, count(*)::BIGINT AS c
        |  FROM f WHERE v IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT col_, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct,
        |    max(c)::BIGINT AS top_cnt, sum(c::HUGEINT * c) AS ss
        |  FROM g GROUP BY 1)
        |SELECT col_ AS "column", n, n_distinct,
        |  ((top_cnt::HUGEINT * 1000000) // n)::BIGINT AS top_share_ppm,
        |  ((n::HUGEINT * n * 1000000) // ss)::BIGINT AS simpson_eff_ppm
        |FROM a ORDER BY col_""".stripMargin),

    // Split-conformal intervals over document length: train fold fits the
    // per-source mean, calib fold's ⌈(n+1)·0.9⌉-th residual (found by the
    // x142 radix descent, no sort) sets the half-width, test fold reports
    // the distribution-free coverage — all exact integer ppm.
    "x149_conformal_intervals" -> sql(
      (s, dir) => Conformal.splitConformalReport(Tables.documents(s, dir),
        col("source"), col("n_chars"), col("doc_id") % 3, alphaPpm = 100000L)
        .orderBy("grp"),
      """WITH base AS (
        |  SELECT source AS grp, n_chars::BIGINT AS v, (doc_id % 3)::BIGINT AS fold
        |  FROM documents WHERE n_chars IS NOT NULL),
        |st AS MATERIALIZED (SELECT grp, count(*)::BIGINT AS n_train,
        |    ((sum(v)::HUGEINT * 1000000) // count(*))::BIGINT AS pred_ppm
        |  FROM base WHERE fold = 0 GROUP BY 1),
        |resid AS MATERIALIZED (
        |  SELECT abs(b.v * 1000000 - st.pred_ppm)::BIGINT AS r
        |  FROM base b JOIN st USING (grp) WHERE b.fold = 1),
        |nr AS (SELECT count(*)::BIGINT AS n FROM resid),
        |rk AS (SELECT least((SELECT n FROM nr),
        |  (((SELECT n FROM nr) + 1) * 900000 + 999999) // 1000000)::BIGINT AS q_rank),
        |q AS (SELECT r AS q_ppm FROM (
        |    SELECT r, row_number() OVER (ORDER BY r) AS rn FROM resid)
        |  WHERE rn = (SELECT q_rank FROM rk))
        |SELECT b.grp, max(st.n_train)::BIGINT AS n_train,
        |  max(st.pred_ppm)::BIGINT AS pred_ppm,
        |  count(*)::BIGINT AS n_test,
        |  sum(CASE WHEN abs(b.v * 1000000 - st.pred_ppm) <= (SELECT q_ppm FROM q)
        |    THEN 1 ELSE 0 END)::BIGINT AS n_covered,
        |  ((sum(CASE WHEN abs(b.v * 1000000 - st.pred_ppm) <= (SELECT q_ppm FROM q)
        |    THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT AS coverage_ppm,
        |  (SELECT n FROM nr) AS n_cal,
        |  (SELECT q_rank FROM rk) AS q_rank,
        |  (SELECT q_ppm FROM q) AS q_ppm
        |FROM base b JOIN st USING (grp) WHERE b.fold = 2
        |GROUP BY b.grp ORDER BY b.grp""".stripMargin),

    // Vocabulary richness per source: Chao1 lower bound on the unseen
    // vocabulary + the Good–Turing unseen-token mass — the "is this
    // source mined out" companion to the Heaps-law growth fit (x98),
    // exact integers end to end.
    "x150_vocab_richness" -> sql(
      (s, dir) => CorpusStats.richnessReport(Tables.documents(s, dir),
        "text", "source")
        .orderBy("grp"),
      """WITH t AS (
        |  SELECT source AS grp,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |g AS (SELECT grp, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
        |a AS (SELECT grp, sum(tf)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_distinct,
        |    sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
        |    sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
        |  FROM g GROUP BY 1)
        |SELECT grp, n_tokens, n_distinct, f1, f2,
        |  (n_distinct + (f1 * (f1 - 1)) // (2 * (f2 + 1)))::BIGINT AS chao1_est,
        |  ((f1 * 1000000) // n_tokens)::BIGINT AS gt_unseen_ppm
        |FROM a ORDER BY grp""".stripMargin),

    // The composed monitoring dashboard: Hampel seasonal flag + CUSUM
    // shift flags + MASE context per (series, day) in ONE plan — the raw
    // stream collapses to daily counts exactly once and every monitor
    // reads that cached frame (plan-audited single scan).
    "x134_series_health" -> sql(
      (s, dir) => {
        Seasonal.seriesHealthReport(Tables.events(s, dir),
          col("event_type"), col("ts"), k = 3, h = 40, season = 7)
          .orderBy("series", "day")
      },
      """WITH d AS MATERIALIZED (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT series, day, cnt,
        |  date_part('isodow', day)::INT AS dow FROM d),
        |m AS (SELECT *,
        |  row_number() OVER (PARTITION BY series, dow ORDER BY cnt, day) AS rn,
        |  count(*) OVER (PARTITION BY series, dow) AS n FROM w),
        |med AS (SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
        |  OVER (PARTITION BY series, dow) AS med FROM m),
        |dv AS (SELECT *, abs(cnt - med) AS dev FROM med),
        |d2 AS (SELECT *,
        |  row_number() OVER (PARTITION BY series, dow ORDER BY dev, day) AS rd
        |  FROM dv),
        |anom AS (SELECT series, day, dow, cnt, med,
        |  max(CASE WHEN rd = (n + 1) // 2 THEN dev END)
        |    OVER (PARTITION BY series, dow) AS mad, dev
        |  FROM d2),
        |mu AS (SELECT *, (sum(cnt) OVER (PARTITION BY series)
        |  // count(*) OVER (PARTITION BY series))::BIGINT AS mu FROM d),
        |pf AS (SELECT *, (sum(cnt - mu) OVER (PARTITION BY series
        |  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  )::BIGINT AS pf FROM mu),
        |cu AS (SELECT series, day,
        |  (pf - least(0, min(pf) OVER (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT AS s_pos,
        |  (greatest(0, max(pf) OVER (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - pf)::BIGINT AS s_neg
        |  FROM pf),
        |lg AS (SELECT *,
        |  lag(cnt, 1) OVER (PARTITION BY series ORDER BY day) AS l1,
        |  lag(cnt, 7) OVER (PARTITION BY series ORDER BY day) AS ls
        |  FROM d),
        |ms AS (SELECT series,
        |  (CASE WHEN count(ls) = 0 OR count(l1) = 0
        |      OR coalesce(sum(abs(cnt - l1)), 0) = 0 THEN NULL
        |    ELSE (coalesce(sum(abs(cnt - ls)), 0)::HUGEINT
        |      * count(l1) * 1000000)
        |      // (coalesce(sum(abs(cnt - l1)), 0)::HUGEINT * count(ls))
        |  END)::BIGINT AS mase_ppm
        |  FROM lg GROUP BY series)
        |SELECT a.series, a.day, a.dow, a.cnt, a.med, a.mad, a.dev,
        |  (a.dev > 3 * a.mad) AS flagged,
        |  cu.s_pos, cu.s_neg,
        |  cu.s_pos > 40 AS shift_up, cu.s_neg > 40 AS shift_down,
        |  ms.mase_ppm
        |FROM anom a
        |JOIN cu ON cu.series = a.series AND cu.day = a.day
        |LEFT JOIN ms ON ms.series = a.series
        |ORDER BY a.series, a.day""".stripMargin),

    // Asymmetric containment join — the subset/quote detector the
    // symmetric measures (x07/x86) miss: C(a→b) = |A∩B|/|A| flags a
    // short doc embedded in a long one even when their Jaccard is tiny.
    // Exact recall via the probe-side prefix filter; containment lands
    // as integer ppm so the oracle hash-replays.
    "x151_containment_join" -> sql(
      (s, dir) => {
        Dedup.containmentPairs(Tables.documents(s, dir),
          "text", "doc_id", threshold = 0.8, shingleSize = 3)
          .orderBy("id_a", "id_b")
      },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS sa
        |  FROM g a JOIN g b ON a.doc_id <> b.doc_id)
        |SELECT id_a, id_b, ((c::BIGINT * 1000000) // sa)::BIGINT AS containment_ppm
        |FROM p WHERE CAST(c AS DOUBLE) / sa >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    // Maximal Marginal Relevance re-rank (Carbonell–Goldstein): diverse
    // top-8 against the min-id probe vector at λ = 0.7 — the
    // relevance-diversity tradeoff between plain cosine top-k (x13) and
    // the pure-spread coreset (x97). The deterministic traversal
    // (rounded cosines, IEEE λ/1−λ weights, id ties) replays as 8
    // chained CTEs.
    "x152_mmr_select" -> sql(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.orderBy("vec_id").limit(1)
          .select("vec_id", "embedding").collect().head
        val qid = q.getLong(0)
        val qv = q.getSeq[Number](1).map(_.doubleValue()).toSeq
        Similarity.mmrSelect(emb.where(col("vec_id") =!= qid),
          "vec_id", "embedding", qv, k = 8, lambda = 0.7)
          .orderBy("rank")
      },
      mmrOracle(8, 0.7)),

    // Greedy max-coverage data selection (the (1−1/e) submodular greedy):
    // the 6 documents that together cover the most distinct shingles —
    // integer gains, chained anti-join replay, the lexical complement of
    // the embedding-space selectors (x97/x152).
    "x153_coverage_select" -> sql(
      (s, dir) =>
        TrainingDataPipeline.coverageSelect(Tables.documents(s, dir),
          "text", "doc_id", k = 6)
          .orderBy("rank"),
      coverageOracle(6)),

    // Exact edit-distance JOIN via q-gram prefix filtering (ED-Join) —
    // every (clean, dirty) pair within Levenshtein 1, not just each
    // dirty row's best match (x80's SNM heuristic). The oracle brute-
    // forces all pairs; the Spark side must reach the identical set
    // through rarest-gram prefix candidates + the length filter.
    // Fixture: part names (concatenated color words — real string
    // entropy) with one char deleted. Customer/supplier names are
    // deliberately NOT used: they differ only in a few digits, so the
    // TRUE result at dist ≤ 2 is itself quadratic-sized — a fixture
    // property, not an operator property; the spec pins dist ≤ 2
    // exactness on adversarial fixtures including repeated grams.
    "x154_qgram_join" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
        val dirty = d.select(col("doc_id"),
          expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
            "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
            .as("dirty_title"))
        FuzzyLinkage.qgramJoin(clean, dirty, "doc_id", "title",
          "doc_id", "dirty_title", maxDist = 1, q = 3)
          .withColumnsRenamed(Map("left_id" -> "clean_id", "right_id" -> "dirty_id"))
          .orderBy("clean_id", "dirty_id")
      },
      """WITH clean AS (
        |  SELECT doc_id AS clean_id, substr(text, 1, 40) AS val FROM documents),
        |dirty AS (
        |  SELECT doc_id AS dirty_id,
        |    substr(substr(text, 1, 40), 1, (doc_id % 31)::INT)
        |      || substr(substr(text, 1, 40), (doc_id % 31)::INT + 2) AS val
        |  FROM documents)
        |SELECT c.clean_id, d.dirty_id,
        |  levenshtein(c.val, d.val)::BIGINT AS dist
        |FROM clean c JOIN dirty d ON levenshtein(c.val, d.val) <= 1
        |ORDER BY clean_id, dirty_id""".stripMargin),

    // Interpolated Kneser–Ney bigram scoring (D = 0.75): the stronger LM
    // quality filter next to x26's Laplace — continuation-count backoff
    // instead of uniform smoothing. The oracle replays the three count
    // tables and the exact interpolation parenthesization on strings
    // (the engine runs 8-byte hashes end to end; agreement also certifies
    // collision-free hashing on this corpus).
    "x155_kneser_ney_score" -> sql(
      (s, dir) => {
        NgramLm.knBigramScore(Tables.documents(s, dir), "text", "doc_id")
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bi AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || chr(31) || toks[i+1])) AS b
        |  FROM t WHERE len(toks) >= 2),
        |bc AS MATERIALIZED (SELECT b, count(*)::BIGINT AS c2 FROM bi GROUP BY 1),
        |hist AS MATERIALIZED (
        |  SELECT string_split(b, chr(31))[1] AS w1, sum(c2)::BIGINT AS c1,
        |    count(*)::BIGINT AS n1fw
        |  FROM bc GROUP BY 1),
        |cont AS MATERIALIZED (
        |  SELECT string_split(b, chr(31))[2] AS w2, count(*)::BIGINT AS n1bw
        |  FROM bc GROUP BY 1),
        |btot AS (SELECT count(*)::BIGINT AS bt FROM bc)
        |SELECT bi.doc_id,
        |  round(avg(ln(((c2 - 0.75) / c1) + (((0.75 * n1fw) / c1) * (n1bw / bt)))), 4) AS kn_score,
        |  count(*)::BIGINT AS n_bigrams
        |FROM bi JOIN bc USING (b)
        |JOIN hist ON hist.w1 = string_split(bi.b, chr(31))[1]
        |JOIN cont ON cont.w2 = string_split(bi.b, chr(31))[2]
        |CROSS JOIN btot
        |GROUP BY bi.doc_id ORDER BY doc_id""".stripMargin),

    // TextRank keyword extraction: PageRank over the corpus word
    // co-occurrence graph (adjacent distinct words, undirected). The
    // engine hashes words to node ids (pure projection, no vocab sort);
    // the oracle uses its OWN dense-rank ids — sound because the integer
    // fixed point is isomorphism-invariant, so per-WORD ranks must agree
    // hash-exactly, and any 64-bit word-hash collision would break the
    // match loudly.
    "x156_textrank_keywords" -> sql(
      (s, dir) => {
        Vocabulary.textrankKeywords(Tables.documents(s, dir),
          "text", "doc_id", iters = 5, topK = 20)
      },
      s"""WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || chr(31) || toks[i+1])) AS b
        |  FROM t WHERE len(toks) >= 2),
        |pp AS (
        |  SELECT string_split(b, chr(31))[1] AS a, string_split(b, chr(31))[2] AS bb FROM bg),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(a, bb) AS w1, greatest(a, bb) AS w2 FROM pp WHERE a <> bb),
        |w AS MATERIALIZED (
        |  SELECT word, row_number() OVER (ORDER BY word) AS nid
        |  FROM (SELECT w1 AS word FROM und UNION SELECT w2 FROM und)),
        |e AS MATERIALIZED (
        |  SELECT wa.nid AS src, wb.nid AS dst
        |  FROM und JOIN w wa ON wa.word = und.w1 JOIN w wb ON wb.word = und.w2
        |  UNION ALL
        |  SELECT wb.nid, wa.nid
        |  FROM und JOIN w wa ON wa.word = und.w1 JOIN w wb ON wb.word = und.w2),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |dg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |nd AS MATERIALIZED (
        |  SELECT n.node, coalesce(d.deg, 0::BIGINT) AS deg
        |  FROM nodes n LEFT JOIN dg d USING (node)),
        |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nd),
        |r0 AS MATERIALIZED (
        |  SELECT node, deg, 1000000000000 // (SELECT n FROM nn) AS r FROM nd),
        |${pagerankIterCtes(5, "TRUE", "(SELECT n FROM nn)")}
        |SELECT w.word, r.r AS rank_fp, r.deg AS degree
        |FROM r5 r JOIN w ON w.nid = r.node
        |ORDER BY rank_fp DESC, word LIMIT 20""".stripMargin),

    // Hybrid-retrieval reciprocal-rank fusion: a lexical BM25 top-100
    // (x81 machinery) and a semantic exact-cosine top-100 against the
    // min-id probe vector (x13 machinery) merge by integer RRF — rank
    // contributions scale div (60 + rank) in exact long arithmetic, so
    // the fused ordering is calibration-free and the oracle replays both
    // retriever rankings and the fused fold bit-for-bit.
    "x157_rrf_hybrid" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val lex = Vocabulary.bm25TopK(docs, "text", "doc_id",
          Seq("q" -> "merge sort"), k = 100)
          .select(col("doc").as("doc_id"), col("rank"))
        val probe = emb.orderBy("vec_id").limit(1)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val sem = Similarity.bruteForceTopK(emb, probe, "vec_id", "embedding",
          "qid", "qvec", k = 100)
          .select(col("vec_id").as("doc_id"), col("rank"))
        SignalFusion.rrfFuse(Seq(lex, sem), "doc_id", "rank",
          kRrf = 60, topK = 20)
          .withColumnRenamed("id", "doc_id")
      },
      """WITH dl AS (
        |  SELECT doc_id AS doc,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |toks AS (
        |  SELECT doc_id AS doc,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |q AS (SELECT * FROM (VALUES ('q', 'merge'), ('q', 'sort')) AS t(qid, term)),
        |tf AS (
        |  SELECT t.doc, t.term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks t JOIN (SELECT DISTINCT term FROM q) qq USING (term)
        |  GROUP BY 1, 2),
        |wdf AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
        |  FROM tf),
        |sc AS (
        |  SELECT q.qid, w.doc,
        |    round(sum(ln(1 + (s.n - w.df + 0.5) / (w.df + 0.5)) * w.tf * 2.2 /
        |      (w.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score
        |  FROM wdf w
        |  JOIN q ON q.term = w.term
        |  JOIN dl ON dl.doc = w.doc
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |lex AS (
        |  SELECT doc AS id, rnk FROM (
        |    SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS rnk
        |    FROM sc) WHERE rnk <= 100),
        |emb AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id AS qid, embedding AS qvec FROM emb ORDER BY vec_id LIMIT 1),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_dot_product(p.qvec::DOUBLE[], e.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(p.qvec::DOUBLE[], p.qvec::DOUBLE[])) *
        |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |  FROM p JOIN emb e ON e.vec_id <> p.qid),
        |sem AS (
        |  SELECT vec_id AS id, rnk FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
        |    FROM scored) WHERE rnk <= 100),
        |u AS (SELECT id, rnk FROM lex UNION ALL SELECT id, rnk FROM sem)
        |SELECT id AS doc_id,
        |  sum(1000000000000 // (60 + rnk))::BIGINT AS rrf_fp,
        |  count(*)::BIGINT AS n_lists,
        |  min(rnk)::BIGINT AS best_rank
        |FROM u GROUP BY id
        |ORDER BY rrf_fp DESC, doc_id LIMIT 20""".stripMargin),

    // Johnson–Lindenstrauss sign projection 64 → 16: the md5-derandomized
    // ±1/√16 matrix rebuilds INDEPENDENTLY in SQL (md5 nibble compare),
    // and the per-coordinate ascending-fold dot replays via
    // list_dot_product — the same cross-engine equality x109 established.
    "x158_jl_project" -> sql(
      (s, dir) =>
        Linalg.jlProject(Tables.embeddings(s, dir), "embedding",
          dim = 64, outDim = 16, carry = Seq("vec_id", "label"))
          .orderBy("vec_id"),
      s"""WITH d AS MATERIALIZED (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        |sg AS MATERIALIZED (
        |  SELECT j, list_transform(generate_series(0, 63), i ->
        |    CASE WHEN substr(md5('jl:' || j || ':' || i), 1, 1) <= '7'
        |      THEN 1.0 / sqrt(16.0) ELSE -(1.0 / sqrt(16.0)) END) AS sgn
        |  FROM range(0, 16) t(j)),
        |p AS (
        |  SELECT d.vec_id, d.label, g.j,
        |    round(list_dot_product(d.e, g.sgn), 4) + 0.0 AS v
        |  FROM d CROSS JOIN sg g)
        |SELECT vec_id, label,
        |${(0 until 16).map(j => s"  max(CASE WHEN j = $j THEN v END) AS p${f"$j%02d"}").mkString(",\n")}
        |FROM p GROUP BY vec_id, label ORDER BY vec_id""".stripMargin),

    // Exact DBSCAN over the PCA projection (x109's fit feeds x159's grid):
    // eps-cell equi-join candidates → exact-distance neighbors → core
    // predicate → min-label components of the core subgraph → border
    // attach to the smallest adjacent cluster. Every stage is a
    // deterministic fact of the point set, so the oracle replays the
    // whole definition — PCA fit (shared CTE chain), 3×3 block join,
    // recursive-CTE closure — and per-point labels match hash-exactly.
    "x159_dbscan_embed" -> sql(
      (s, dir) => {
        val scores = Linalg.pcaProject(Tables.embeddings(s, dir), "embedding",
          dim = 64, carry = Seq("vec_id"), iters = 12)
        Clustering.gridDbscan(scores, "vec_id", "pc1", "pc2",
          eps = 0.03, minPts = 5)
          .withColumnRenamed("id", "vec_id")
          .orderBy("vec_id")
      },
      s"""WITH RECURSIVE $pcaFitCtes,
        |pts AS MATERIALIZED (
        |  SELECT d.vec_id AS id,
        |    round(list_dot_product(d.e, (SELECT v FROM av12)), 4) AS x,
        |    round(list_dot_product(d.e, (SELECT v FROM bv12)), 4) AS y
        |  FROM d),
        |cell AS MATERIALIZED (
        |  SELECT id, x, y, floor(x / 0.03)::BIGINT AS cx, floor(y / 0.03)::BIGINT AS cy
        |  FROM pts),
        |nb AS MATERIALIZED (
        |  SELECT a.id AS ia, b.id AS ib
        |  FROM cell a JOIN cell b
        |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
        |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        |   AND a.id <> b.id
        |  WHERE ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 0.03 * 0.03),
        |cnt AS MATERIALIZED (
        |  SELECT p.id, (1 + coalesce(c.n, 0))::BIGINT AS n_neighbors
        |  FROM pts p LEFT JOIN (
        |    SELECT ia AS id, count(*)::BIGINT AS n FROM nb GROUP BY 1) c USING (id)),
        |core AS MATERIALIZED (SELECT id FROM cnt WHERE n_neighbors >= 5),
        |sym AS MATERIALIZED (
        |  SELECT nb.ia AS src, nb.ib AS dst FROM nb
        |  JOIN core ca ON ca.id = nb.ia JOIN core cb ON cb.id = nb.ib
        |  UNION
        |  SELECT id, id FROM core),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src),
        |lab AS MATERIALIZED (
        |  SELECT src AS node, least(src, min(dst)) AS comp FROM reach GROUP BY src),
        |bord AS MATERIALIZED (
        |  SELECT nb.ia AS id, min(l.comp) AS cluster
        |  FROM nb JOIN lab l ON l.node = nb.ib
        |  WHERE nb.ia NOT IN (SELECT id FROM core)
        |  GROUP BY nb.ia)
        |SELECT c.id AS vec_id,
        |  coalesce(l.comp, b.cluster, -1)::BIGINT AS cluster,
        |  (l.node IS NOT NULL) AS is_core,
        |  c.n_neighbors
        |FROM cnt c
        |LEFT JOIN lab l ON l.node = c.id
        |LEFT JOIN bord b ON b.id = c.id
        |ORDER BY vec_id""".stripMargin),

    // Cluster-capped curation on x159's labels: ≤ 10 members per density
    // cluster in md5(cc:id) draw order, noise passes uncapped — the
    // SemDeDup-style mode-capping endpoint. The oracle extends x159's
    // replay with the same windowed cap.
    "x160_cluster_cap" -> sql(
      (s, dir) => {
        val scores = Linalg.pcaProject(Tables.embeddings(s, dir), "embedding",
          dim = 64, carry = Seq("vec_id"), iters = 12)
        val labels = Clustering.gridDbscan(scores, "vec_id", "pc1", "pc2",
          eps = 0.03, minPts = 5)
        Clustering.clusterCap(labels, "id", "cluster", cap = 10)
          .withColumnRenamed("id", "vec_id")
          .orderBy("vec_id")
      },
      s"""WITH RECURSIVE $pcaFitCtes,
        |pts AS MATERIALIZED (
        |  SELECT d.vec_id AS id,
        |    round(list_dot_product(d.e, (SELECT v FROM av12)), 4) AS x,
        |    round(list_dot_product(d.e, (SELECT v FROM bv12)), 4) AS y
        |  FROM d),
        |cell AS MATERIALIZED (
        |  SELECT id, x, y, floor(x / 0.03)::BIGINT AS cx, floor(y / 0.03)::BIGINT AS cy
        |  FROM pts),
        |nb AS MATERIALIZED (
        |  SELECT a.id AS ia, b.id AS ib
        |  FROM cell a JOIN cell b
        |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
        |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        |   AND a.id <> b.id
        |  WHERE ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 0.03 * 0.03),
        |cnt AS MATERIALIZED (
        |  SELECT p.id, (1 + coalesce(c.n, 0))::BIGINT AS n_neighbors
        |  FROM pts p LEFT JOIN (
        |    SELECT ia AS id, count(*)::BIGINT AS n FROM nb GROUP BY 1) c USING (id)),
        |core AS MATERIALIZED (SELECT id FROM cnt WHERE n_neighbors >= 5),
        |sym AS MATERIALIZED (
        |  SELECT nb.ia AS src, nb.ib AS dst FROM nb
        |  JOIN core ca ON ca.id = nb.ia JOIN core cb ON cb.id = nb.ib
        |  UNION
        |  SELECT id, id FROM core),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src),
        |lab AS MATERIALIZED (
        |  SELECT src AS node, least(src, min(dst)) AS comp FROM reach GROUP BY src),
        |bord AS MATERIALIZED (
        |  SELECT nb.ia AS id, min(l.comp) AS cluster
        |  FROM nb JOIN lab l ON l.node = nb.ib
        |  WHERE nb.ia NOT IN (SELECT id FROM core)
        |  GROUP BY nb.ia),
        |asg AS MATERIALIZED (
        |  SELECT c.id AS vec_id,
        |    coalesce(l.comp, b.cluster, -1)::BIGINT AS cluster,
        |    (l.node IS NOT NULL) AS is_core,
        |    c.n_neighbors
        |  FROM cnt c
        |  LEFT JOIN lab l ON l.node = c.id
        |  LEFT JOIN bord b ON b.id = c.id),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY cluster
        |    ORDER BY md5('cc:' || vec_id), vec_id) AS r
        |  FROM asg)
        |SELECT vec_id, cluster, is_core, n_neighbors,
        |  (cluster = -1 OR r <= 10) AS kept
        |FROM rk ORDER BY vec_id""".stripMargin),

    // Holt double exponential smoothing per event series: the recurrence
    // is one aggregate() fold over the day-ordered array, and the oracle
    // replays the identical fold as a list_reduce with [level, trend]
    // pair accumulators — same literals, same parenthesization, so the
    // unrounded doubles agree and the 4-dp outputs hash-match.
    "x161_holt_forecast" -> sql(
      (s, dir) => Seasonal
        .holtLinear(Tables.events(s, dir), col("event_type"), col("ts"),
          alpha = 0.5, beta = 0.3, horizon = 7)
        .orderBy("series"),
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::DOUBLE AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT series, list(y ORDER BY day) AS ys FROM d GROUP BY 1),
        |f AS (
        |  SELECT series, len(ys)::BIGINT AS n_days,
        |    list_reduce(
        |      list_prepend([ys[1], 0.0], list_transform(ys[2:], y -> [y, 0.0])),
        |      (acc, x) -> [
        |        0.5 * x[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
        |        0.3 * ((0.5 * x[1] + (1.0 - 0.5) * (acc[1] + acc[2])) - acc[1])
        |          + (1.0 - 0.3) * acc[2]
        |      ]) AS st
        |  FROM s)
        |SELECT series, n_days,
        |  round(st[1], 4) AS level,
        |  round(st[2], 4) AS trend,
        |  round(st[1] + 7.0 * st[2], 4) AS forecast
        |FROM f ORDER BY series""".stripMargin),

    // Differentially private count release: per-source document counts +
    // Laplace(1/0.5) noise from the md5-derandomized 60-bit uniform (the
    // d08 convention) through the inverse CDF — the oracle rebuilds the
    // draw (HUGEINT fold of the 15-hex prefix) and the transform.
    "x162_dp_release" -> sql(
      (s, dir) => TextAnalysis
        .dpNoisyCounts(Tables.documents(s, dir), col("source"), epsilon = 0.5)
        .orderBy("grp"),
      """WITH g AS (
        |  SELECT source::VARCHAR AS grp, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |u AS (
        |  SELECT grp, n,
        |    CAST(list_reduce(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef',
        |        substr(md5('dp:' || grp), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS DOUBLE) / 1152921504606846976.0 AS uu
        |  FROM g)
        |SELECT grp, n,
        |  round(n + ((-1.0 / 0.5) * sign(uu - 0.5)) * ln(1.0 - 2.0 * abs(uu - 0.5)), 4)
        |    AS noisy_n,
        |  0.5 AS epsilon
        |FROM u ORDER BY grp""".stripMargin),

    // Skip-gram training pairs (window 2, symmetric): the word2vec input
    // table. Top-500 by (count desc, center, context) — a unique total
    // order, so the TakeOrdered cut replays exactly.
    "x163_skipgram_pairs" -> sql(
      (s, dir) => {
        Vocabulary.skipgramPairs(Tables.documents(s, dir),
          "text", "doc_id", window = 2)
          .orderBy(desc("n"), col("center"), col("context"))
          .limit(500)
      },
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |off AS (SELECT d FROM range(1, 3) r(d)),
        |pr0 AS (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - d.d),
        |    i -> toks[i] || chr(31) || toks[i + d.d])) AS pg
        |  FROM t CROSS JOIN off d WHERE len(toks) > d.d),
        |pr AS (
        |  SELECT string_split(pg, chr(31))[1] AS center,
        |    string_split(pg, chr(31))[2] AS context FROM pr0),
        |sym AS (
        |  SELECT center, context FROM pr
        |  UNION ALL SELECT context, center FROM pr),
        |c AS (SELECT center, context, count(*)::BIGINT AS n FROM sym GROUP BY 1, 2)
        |SELECT center, context, n FROM c
        |ORDER BY n DESC, center, context LIMIT 500""".stripMargin),

    // Wilcoxon signed-rank paired test: is the FIRST half of documents
    // systematically denser (mean word length, integer ppm) than the
    // second? Differences, midrank ties (doubled ranks), and the rank
    // sums are exact integers; only the final tie-corrected z touches fp,
    // from identically-converted decimal components.
    "x164_wilcoxon_paired" -> sql(
      (s, dir) => {
        val paired = Tables.documents(s, dir)
          .select(expr(
            "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')").as("tk"))
          .where(size(col("tk")) >= 2)
          .select(col("tk"), size(col("tk")).as("nt"),
            expr("(size(tk) + 1) div 2").as("h"))
          .select(
            expr("(aggregate(transform(slice(tk, 1, h), x -> length(x)), " +
              "0L, (acc, x) -> acc + x) * 1000000L) div h").as("a_ppm"),
            expr("(aggregate(transform(slice(tk, h + 1, nt - h), x -> length(x)), " +
              "0L, (acc, x) -> acc + x) * 1000000L) div (nt - h)").as("b_ppm"))
        Evaluation.wilcoxonSignedRank(paired, col("a_ppm"), col("b_ppm"))
      },
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |hh AS (
        |  SELECT toks, len(toks) AS nt, (len(toks) + 1) // 2 AS h
        |  FROM t WHERE len(toks) >= 2),
        |m AS (
        |  SELECT
        |    (list_reduce(list_prepend(0, list_transform(toks[1:h], x -> length(x))),
        |       (a, b) -> a + b)::BIGINT * 1000000) // h AS a_ppm,
        |    (list_reduce(list_prepend(0, list_transform(toks[h+1:nt], x -> length(x))),
        |       (a, b) -> a + b)::BIGINT * 1000000) // (nt - h) AS b_ppm
        |  FROM hh),
        |dd AS (SELECT a_ppm - b_ppm AS d FROM m WHERE a_ppm <> b_ppm),
        |g AS (
        |  SELECT abs(d) AS ad, count(*)::BIGINT AS t,
        |    sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS tp
        |  FROM dd GROUP BY 1),
        |r AS (
        |  SELECT *, coalesce(sum(t) OVER (ORDER BY ad
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below
        |  FROM g),
        |sagg AS (
        |  SELECT coalesce(sum(t), 0)::BIGINT AS n,
        |    coalesce(sum(tp::HUGEINT * (2 * below + t + 1)), 0)::HUGEINT AS w2p,
        |    coalesce(sum((t - tp)::HUGEINT * (2 * below + t + 1)), 0)::HUGEINT AS w2m,
        |    coalesce(sum(t::HUGEINT * t * t - t), 0)::HUGEINT AS ties3
        |  FROM r)
        |SELECT n, w2p::BIGINT AS w2_plus, w2m::BIGINT AS w2_minus,
        |  CASE WHEN n < 1 THEN NULL ELSE
        |    round(((2 * w2p - n::HUGEINT * (n + 1))::DOUBLE / 4.0) /
        |      sqrt((2 * n::HUGEINT * (n + 1) * (2 * n + 1) - ties3)::DOUBLE / 48.0), 4)
        |  END AS z
        |FROM sagg ORDER BY n""".stripMargin),

    // Degree assortativity of the trade graph: one scalar, exact integer
    // sums, fp only in the final rounded division — says whether the
    // graph's joins hit the hub-to-hub or hub-to-leaf skew regime.
    "x165_assortativity" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        Graph.degreeAssortativity(pairs, "src", "dst")
      },
      """WITH p AS (
        |  SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |sym AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM p WHERE src <> dst
        |    UNION ALL SELECT dst, src FROM p WHERE src <> dst)),
        |dg AS (SELECT src, count(*)::BIGINT AS d FROM sym GROUP BY 1),
        |j AS (
        |  SELECT a.d AS dj, b.d AS dk
        |  FROM sym JOIN dg a ON a.src = sym.src JOIN dg b ON b.src = sym.dst),
        |agg AS (
        |  SELECT count(*)::HUGEINT AS m2,
        |    sum(dj::HUGEINT * dk)::HUGEINT AS sjk,
        |    sum(dj::HUGEINT)::HUGEINT AS sj,
        |    sum(dj::HUGEINT * dj)::HUGEINT AS sj2
        |  FROM j)
        |SELECT (m2 // 2)::BIGINT AS m_edges,
        |  CASE WHEN m2 * sj2 - sj * sj = 0 THEN NULL
        |    ELSE round((m2 * sjk - sj * sj)::DOUBLE / (m2 * sj2 - sj * sj)::DOUBLE, 4)
        |  END AS assortativity
        |FROM agg ORDER BY m_edges""".stripMargin),

    // Source-concentration report: exact-integer Gini of per-source mass
    // + head share — the corpus-inequality scalar mixture reweighting
    // exists to fix. No fp anywhere.
    "x166_source_gini" -> sql(
      (s, dir) => CorpusStats.sourceConcentration(
        Tables.documents(s, dir), col("source"), col("n_chars")),
      """WITH m AS (
        |  SELECT source::VARCHAR AS grp, sum(n_chars)::BIGINT AS x
        |  FROM documents GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY x, grp)::BIGINT AS i FROM m),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_sources,
        |    sum(x::HUGEINT)::HUGEINT AS tot,
        |    sum(i::HUGEINT * x)::HUGEINT AS six,
        |    max(x)::BIGINT AS top
        |  FROM r)
        |SELECT n_sources, tot::BIGINT AS total_mass,
        |  ((2 * six - (n_sources::HUGEINT + 1) * tot) * 1000000
        |    // (n_sources::HUGEINT * tot))::BIGINT AS gini_ppm,
        |  ((top::HUGEINT * 1000000) // tot)::BIGINT AS top_share_ppm
        |FROM a ORDER BY n_sources""".stripMargin),

    // Spearman rank correlation between document length and token count:
    // tie-aware doubled midranks from distinct-value frames (two-phase
    // range-exchange prefix sums), six exact decimal sufficient
    // statistics, fp only in the final Pearson-on-ranks ratio from
    // identically-converted components.
    "x167_spearman_rho" -> sql(
      (s, dir) => {
        val t = Tables.documents(s, dir)
          // regexp_count(\S+) ≡ the size(filter(split)) token count — one
          // expression pass instead of the split+HOF-filter chain
          .select(col("n_chars").cast("long").as("x"),
            expr("regexp_count(text, '\\\\S+')")
              .cast("long").as("y"))
        Evaluation.spearmanRho(t, col("x"), col("y"))
      },
      """WITH t AS (
        |  SELECT n_chars::BIGINT AS x,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |      w -> w <> ''))::BIGINT AS y
        |  FROM documents),
        |gx AS (SELECT x, count(*)::BIGINT AS t FROM t GROUP BY 1),
        |rx AS (
        |  SELECT x, (2 * coalesce(sum(t) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1)::BIGINT AS x_r2 FROM gx),
        |gy AS (SELECT y, count(*)::BIGINT AS t FROM t GROUP BY 1),
        |ry AS (
        |  SELECT y, (2 * coalesce(sum(t) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1)::BIGINT AS y_r2 FROM gy),
        |j AS (SELECT x_r2, y_r2 FROM t JOIN rx USING (x) JOIN ry USING (y)),
        |a AS (
        |  SELECT count(*)::BIGINT AS n,
        |    coalesce(sum(x_r2::HUGEINT), 0)::HUGEINT AS sx,
        |    coalesce(sum(y_r2::HUGEINT), 0)::HUGEINT AS sy,
        |    coalesce(sum(x_r2::HUGEINT * x_r2), 0)::HUGEINT AS sxx,
        |    coalesce(sum(y_r2::HUGEINT * y_r2), 0)::HUGEINT AS syy,
        |    coalesce(sum(x_r2::HUGEINT * y_r2), 0)::HUGEINT AS sxy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN n < 2
        |      OR n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <= 0.0
        |      OR n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE <= 0.0
        |    THEN NULL
        |    ELSE round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |      (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |       sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 4)
        |  END AS rho
        |FROM a ORDER BY n""".stripMargin),

    // Kendall tau-b on bucketed (length, token-count) — exact via the
    // DOMAIN-bounded contingency table: one corpus aggregation to cells,
    // then all pair counting as a broadcast non-equi self-join over the
    // cell frame. Fp only in the closing ratio.
    "x168_kendall_tau" -> sql(
      (s, dir) => {
        val t = Tables.documents(s, dir)
          // regexp_count(\S+) ≡ the size(filter(split)) token count — one
          // expression pass instead of the split+HOF-filter chain
          .select(expr("n_chars div 200").cast("long").as("xb"),
            expr("regexp_count(text, '\\\\S+') div 40")
              .cast("long").as("yb"))
        Evaluation.kendallTauB(t, col("xb"), col("yb"))
      },
      """WITH t AS (
        |  SELECT (n_chars // 200)::BIGINT AS xb,
        |    (len(list_filter(string_split_regex(trim(text), '\s+'),
        |      w -> w <> '')) // 40)::BIGINT AS yb
        |  FROM documents),
        |c AS (SELECT xb, yb, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
        |p AS (
        |  SELECT
        |    coalesce(sum(CASE WHEN b.yb > a.yb
        |      THEN a.c::HUGEINT * b.c ELSE 0 END), 0)::HUGEINT AS concordant,
        |    coalesce(sum(CASE WHEN b.yb < a.yb
        |      THEN a.c::HUGEINT * b.c ELSE 0 END), 0)::HUGEINT AS discordant
        |  FROM c a JOIN c b ON b.xb > a.xb),
        |tx AS (
        |  SELECT coalesce(sum(t::HUGEINT * (t - 1)), 0)::HUGEINT AS tx2
        |  FROM (SELECT sum(c)::BIGINT AS t FROM c GROUP BY xb)),
        |ty AS (
        |  SELECT coalesce(sum(t::HUGEINT * (t - 1)), 0)::HUGEINT AS ty2
        |  FROM (SELECT sum(c)::BIGINT AS t FROM c GROUP BY yb)),
        |nn AS (SELECT coalesce(sum(c), 0)::BIGINT AS n FROM c)
        |SELECT n, concordant::BIGINT AS concordant,
        |  discordant::BIGINT AS discordant,
        |  CASE WHEN n < 2
        |      OR (n::HUGEINT * (n - 1) - tx2)::DOUBLE <= 0.0
        |      OR (n::HUGEINT * (n - 1) - ty2)::DOUBLE <= 0.0
        |    THEN NULL
        |    ELSE round((2 * (concordant - discordant))::DOUBLE /
        |      (sqrt((n::HUGEINT * (n - 1) - tx2)::DOUBLE) *
        |       sqrt((n::HUGEINT * (n - 1) - ty2)::DOUBLE)), 4)
        |  END AS tau_b
        |FROM nn, p, tx, ty ORDER BY n""".stripMargin),

    // Benford first-digit audit of order totals: one aggregation to ≤ 9
    // digit counts, then an integer-exact χ² contribution per digit
    // (literal expected-ppm constants — no runtime logs, NO fp anywhere).
    "x169_benford_digits" -> sql(
      (s, dir) => DataQuality.benfordReport(
        Tables.orders(s, dir), col("o_totalprice")),
      """WITH v AS (
        |  SELECT o_totalprice::DOUBLE AS v FROM orders
        |  WHERE o_totalprice >= 1.0),
        |d AS (
        |  SELECT substr(CAST(CAST(floor(v) AS HUGEINT) AS VARCHAR), 1, 1)
        |    AS digit, count(*)::BIGINT AS observed
        |  FROM v GROUP BY 1),
        |e AS (
        |  SELECT i::VARCHAR AS digit,
        |    ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
        |      45757][i])::BIGINT AS expected_ppm
        |  FROM range(1, 10) r(i)),
        |nn AS (SELECT coalesce(sum(observed), 0)::BIGINT AS n FROM d)
        |SELECT e.digit, coalesce(d.observed, 0)::BIGINT AS observed,
        |  e.expected_ppm,
        |  (CASE WHEN nn.n = 0 THEN NULL ELSE
        |    ((1000000::HUGEINT * coalesce(d.observed, 0)
        |        - nn.n::HUGEINT * e.expected_ppm) *
        |     (1000000::HUGEINT * coalesce(d.observed, 0)
        |        - nn.n::HUGEINT * e.expected_ppm))
        |    // (nn.n::HUGEINT * e.expected_ppm) END)::BIGINT AS chi2_ppm
        |FROM e LEFT JOIN d USING (digit), nn
        |ORDER BY digit""".stripMargin),

    // Kaplan–Meier churn curve over user lifetimes: right-censoring at
    // the activity horizon, a calendar-bounded life table, and the
    // product-limit estimator as ORDER-PINNED array folds on one row —
    // the oracle replays the identical folds via list_reduce.
    "x170_kaplan_meier" -> sql(
      // lifetime entity = (user × event stream): the per-stream lifetimes
      // churn at different rates, giving the curve its steps
      (s, dir) => Survival.kaplanMeier(
        Tables.events(s, dir),
        concat_ws(":", col("user_id"), col("event_type")),
        col("ts"), churnGapDays = 7)
        .orderBy("duration"),
      """WITH d AS (
        |  SELECT user_id::VARCHAR || ':' || event_type AS u,
        |    CAST(ts AS DATE) AS dd FROM events),
        |h AS (SELECT max(dd) AS h FROM d),
        |per AS (SELECT u, min(dd) AS f, max(dd) AS l FROM d GROUP BY 1),
        |dur AS (
        |  SELECT date_diff('day', f, l)::BIGINT AS duration,
        |    (l < h.h - 7) AS churned
        |  FROM per, h),
        |lt AS (
        |  SELECT duration,
        |    sum(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT AS events,
        |    sum(CASE WHEN churned THEN 0 ELSE 1 END)::BIGINT AS censored
        |  FROM dur GROUP BY 1),
        |arr AS (
        |  SELECT list_sort(list([duration, events, censored])) AS o FROM lt),
        |f1 AS (
        |  SELECT o, list_reduce(
        |    list_prepend(0::BIGINT, list_transform(o, x -> x[2] + x[3])),
        |    (a, b) -> a + b) AS n FROM arr),
        |f2 AS (
        |  SELECT o, n, list_reduce(
        |    list_prepend([n], list_transform(o, x -> [x[2] + x[3]])),
        |    (acc, x) -> list_append(acc, acc[-1] - x[1])) AS rs FROM f1),
        |f3 AS (
        |  SELECT o, rs, list_transform(generate_series(1, len(o)),
        |    i -> 1.0 - o[i][2]::DOUBLE / rs[i]::DOUBLE) AS fs FROM f2),
        |f4 AS (
        |  SELECT o, rs, list_reduce(
        |    list_prepend([1.0::DOUBLE], list_transform(fs, f -> [f])),
        |    (acc, x) -> list_append(acc, acc[-1] * x[1])) AS cum FROM f3),
        |ex AS (
        |  SELECT unnest(generate_series(1, len(o))) AS i, o, rs, cum FROM f4)
        |SELECT o[i][1]::BIGINT AS duration, rs[i]::BIGINT AS at_risk,
        |  o[i][2]::BIGINT AS events, o[i][3]::BIGINT AS censored,
        |  round(cum[i + 1], 6) AS survival
        |FROM ex ORDER BY duration""".stripMargin),

    // Two-sample Kolmogorov–Smirnov: do English docs draw their lengths
    // from the same distribution as the rest? Exact integer ECDF algebra
    // (D·n₁·n₂ as a decimal max over the distinct-value frame, both
    // prefix sums on ONE two-phase range exchange); fp only in the
    // closing scaled statistic.
    "x171_ks_test" -> sql(
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .where(col("lang").isNotNull && col("n_chars").isNotNull)
          .select(col("n_chars").cast("long").as("v"),
            (col("lang") === "en").as("a"))
        Evaluation.ksTest(t, col("v"), col("a"))
      },
      """WITH t AS (
        |  SELECT n_chars::BIGINT AS v, (lang = 'en') AS a
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (
        |  SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS c2
        |  FROM t GROUP BY 1),
        |c AS (
        |  SELECT v, sum(c1) OVER (ORDER BY v)::BIGINT AS cum1,
        |    sum(c2) OVER (ORDER BY v)::BIGINT AS cum2 FROM g),
        |nn AS (
        |  SELECT coalesce(sum(c1), 0)::BIGINT AS n1,
        |    coalesce(sum(c2), 0)::BIGINT AS n2 FROM g),
        |m AS (
        |  SELECT max(abs(nn.n2::HUGEINT * cum1 - nn.n1::HUGEINT * cum2))
        |    ::HUGEINT AS maxd FROM c, nn)
        |SELECT n1, n2,
        |  (CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |    ELSE (1000000::HUGEINT * maxd) // (n1::HUGEINT * n2)
        |  END)::BIGINT AS ks_d_ppm,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |    ELSE round((maxd::DOUBLE / (n1::DOUBLE * n2::DOUBLE)) *
        |      sqrt(n1::DOUBLE * n2::DOUBLE / (n1 + n2)::DOUBLE), 4)
        |  END AS ks_stat
        |FROM nn, m ORDER BY n1""".stripMargin),

    // Two-proportion z-test: purchase rate, even vs odd user cohorts —
    // ONE aggregation (four conditional sums), exact ppm rates, z from
    // identically-converted longs.
    "x172_ab_ztest" -> sql(
      (s, dir) => Evaluation.twoProportionZ(
        Tables.events(s, dir),
        col("user_id") % 2 === 0,
        col("event_type") === "purchase"),
      """WITH t AS (
        |  SELECT (user_id % 2 = 0) AS a, (event_type = 'purchase') AS s
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |agg AS (
        |  SELECT
        |    coalesce(sum(CASE WHEN a THEN 1 ELSE 0 END), 0)::BIGINT AS n1,
        |    coalesce(sum(CASE WHEN a AND s THEN 1 ELSE 0 END), 0)::BIGINT AS x1,
        |    coalesce(sum(CASE WHEN NOT a THEN 1 ELSE 0 END), 0)::BIGINT AS n2,
        |    coalesce(sum(CASE WHEN NOT a AND s THEN 1 ELSE 0 END), 0)::BIGINT AS x2
        |  FROM t)
        |SELECT n1, x1, n2, x2,
        |  (CASE WHEN n1 = 0 THEN NULL
        |    ELSE (x1::HUGEINT * 1000000) // n1 END)::BIGINT AS p1_ppm,
        |  (CASE WHEN n2 = 0 THEN NULL
        |    ELSE (x2::HUGEINT * 1000000) // n2 END)::BIGINT AS p2_ppm,
        |  CASE WHEN n1 = 0 OR n2 = 0 OR x1 + x2 = 0 OR x1 + x2 = n1 + n2
        |    THEN NULL
        |    ELSE round((x1::DOUBLE / n1::DOUBLE - x2::DOUBLE / n2::DOUBLE) /
        |      sqrt(((x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE) *
        |        (1.0 - (x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE) *
        |        (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE)), 4)
        |  END AS z
        |FROM agg ORDER BY n1""".stripMargin),

    // Paired sign-flip permutation test on x164's density differences:
    // 64 md5-derandomized replicates as plan-literal conditional sums —
    // the corpus is scanned ONCE, never exploded 64× (the oracle does
    // explode; that cost is the oracle's).
    "x173_permutation_test" -> sql(
      (s, dir) => {
        val paired = Tables.documents(s, dir)
          .select(col("doc_id"), expr(
            "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')").as("tk"))
          .where(size(col("tk")) >= 2)
          .select(col("doc_id"), col("tk"), size(col("tk")).as("nt"),
            expr("(size(tk) + 1) div 2").as("h"))
          .select(col("doc_id"),
            (expr("(aggregate(transform(slice(tk, 1, h), x -> length(x)), " +
              "0L, (acc, x) -> acc + x) * 1000000L) div h") -
              expr("(aggregate(transform(slice(tk, h + 1, nt - h), x -> length(x)), " +
                "0L, (acc, x) -> acc + x) * 1000000L) div (nt - h)")).as("d"))
        Evaluation.permutationTest(paired, col("doc_id"), col("d"),
          replicates = 64)
      },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |hh AS (
        |  SELECT doc_id, toks, len(toks) AS nt, (len(toks) + 1) // 2 AS h
        |  FROM t WHERE len(toks) >= 2),
        |m AS (
        |  SELECT doc_id,
        |    (list_reduce(list_prepend(0, list_transform(toks[1:h], x -> length(x))),
        |       (a, b) -> a + b)::BIGINT * 1000000) // h -
        |    (list_reduce(list_prepend(0, list_transform(toks[h+1:nt], x -> length(x))),
        |       (a, b) -> a + b)::BIGINT * 1000000) // (nt - h) AS d
        |  FROM hh),
        |reps AS (SELECT unnest(generate_series(1, 64)) AS b),
        |s AS (
        |  SELECT reps.b, sum(CASE WHEN
        |      (strpos('0123456789abcdef',
        |        substr(md5('perm:' || reps.b || ':' || m.doc_id), 32, 1)) - 1)
        |        % 2 = 1
        |    THEN -m.d ELSE m.d END)::HUGEINT AS tb
        |  FROM m, reps GROUP BY 1),
        |o AS (
        |  SELECT count(*)::BIGINT AS n,
        |    coalesce(sum(d), 0)::HUGEINT AS t_obs FROM m),
        |e AS (
        |  SELECT count(*) FILTER (WHERE abs(s.tb) >= abs(o.t_obs))::BIGINT
        |    AS n_extreme FROM s, o)
        |SELECT n, t_obs::BIGINT AS t_obs,
        |  CASE WHEN n = 0 THEN NULL ELSE n_extreme END AS n_extreme,
        |  CASE WHEN n = 0 THEN NULL
        |    ELSE (1000000 * (n_extreme + 1)) // 65 END AS p_ppm
        |FROM o, e ORDER BY n""".stripMargin),

    // Derandomized label propagation over the strong trade graph: 4
    // synchronous rounds, most-frequent neighbor label with smallest-
    // label tie-break — the oracle unrolls the identical argmin rounds.
    "x174_label_communities" -> sql(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val strong = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .agg(countDistinct(o("o_orderkey")).as("cnt"))
          .where(col("cnt") >= 4)
        val edges = strong
          .select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        val lp = Graph.labelPropagation(edges, "src", "dst", iters = 4)
        lp.groupBy(col("community"))
          .agg(count(lit(1)).as("size"),
            sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
            sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
          .orderBy(desc("size"), col("community"))
      },
      lpaOracle(4)),

    // Term burstiness: exact variance-to-mean ratio of per-document
    // counts over ALL docs — absences arrive free in the integer algebra
    // (n·Σc² − S²), no zero rows materialized.
    "x175_burstiness" -> sql(
      (s, dir) => Vocabulary.termBurstiness(
        Tables.documents(s, dir), "text", "doc_id", minDf = 5L, k = 30),
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
        |  FROM documents),
        |pd AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
        |st AS (
        |  SELECT term, sum(c)::BIGINT AS tf,
        |    sum(c::HUGEINT * c)::HUGEINT AS s2, count(*)::BIGINT AS df
        |  FROM pd GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM documents)
        |SELECT term, tf, df,
        |  ((nn.n::HUGEINT * s2 - tf::HUGEINT * tf) * 1000000
        |    // (nn.n::HUGEINT * tf))::BIGINT AS vmr_ppm
        |FROM st, nn WHERE df >= 5
        |ORDER BY vmr_ppm DESC, term LIMIT 30""".stripMargin),

    // Exact 1-Wasserstein drift between English and non-English length
    // distributions — the x171 cohorts under the integrated-gap metric
    // KS's single max misses.
    "x176_wasserstein" -> sql(
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .where(col("lang").isNotNull && col("n_chars").isNotNull)
          .select(col("n_chars").cast("long").as("v"),
            (col("lang") === "en").as("a"))
        Evaluation.wasserstein1(t, col("v"), col("a"))
      },
      """WITH t AS (
        |  SELECT n_chars::BIGINT AS v, (lang = 'en') AS a
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (
        |  SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS c2
        |  FROM t GROUP BY 1),
        |c AS (
        |  SELECT v, sum(c1) OVER (ORDER BY v)::BIGINT AS cum1,
        |    sum(c2) OVER (ORDER BY v)::BIGINT AS cum2,
        |    lead(v) OVER (ORDER BY v) AS nv FROM g),
        |nn AS (
        |  SELECT coalesce(sum(c1), 0)::BIGINT AS n1,
        |    coalesce(sum(c2), 0)::BIGINT AS n2 FROM g),
        |m AS (
        |  SELECT coalesce(sum(
        |    abs(nn.n2::HUGEINT * cum1 - nn.n1::HUGEINT * cum2) * (nv - v)),
        |    0)::HUGEINT AS w1num
        |  FROM c, nn WHERE nv IS NOT NULL)
        |SELECT n1, n2,
        |  (CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |    ELSE (1000000::HUGEINT * w1num) // (n1::HUGEINT * n2)
        |  END)::BIGINT AS w1_ppm
        |FROM nn, m ORDER BY n1""".stripMargin),

    // Pearson χ² + Cramér's V on the (source × lang) contingency: the χ²
    // sum as an ORDER-PINNED fold over the one collected sorted cell
    // array — the oracle replays the identical fold.
    "x177_chi2_cramers_v" -> sql(
      (s, dir) => {
        val t = Tables.documents(s, dir)
        Evaluation.chiSquareIndependence(
          t, col("source"), col("lang"))
      },
      """WITH t AS (
        |  SELECT source::VARCHAR AS x, lang::VARCHAR AS y FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cells AS (SELECT x, y, count(*)::BIGINT AS obs FROM t GROUP BY 1, 2),
        |r AS (SELECT x, sum(obs)::BIGINT AS rs FROM cells GROUP BY 1),
        |c AS (SELECT y, sum(obs)::BIGINT AS cs FROM cells GROUP BY 1),
        |sh AS (
        |  SELECT coalesce(sum(obs), 0)::BIGINT AS n,
        |    count(DISTINCT x)::BIGINT AS n_rows,
        |    count(DISTINCT y)::BIGINT AS n_cols FROM cells),
        |arr AS (
        |  SELECT list([obs::DOUBLE, rs::DOUBLE, cs::DOUBLE]
        |    ORDER BY cells.x, cells.y) AS o
        |  FROM cells JOIN r USING (x) JOIN c USING (y)),
        |f AS (
        |  SELECT list_reduce(list_prepend([0.0::DOUBLE], o),
        |    (acc, s) -> [acc[1]
        |      + (s[1] - s[2] * s[3] / sh.n::DOUBLE)
        |      * (s[1] - s[2] * s[3] / sh.n::DOUBLE)
        |      / (s[2] * s[3] / sh.n::DOUBLE)
        |      - s[2] * s[3] / sh.n::DOUBLE])[1] + sh.n::DOUBLE AS chi2raw
        |  FROM arr, sh)
        |SELECT sh.n, sh.n_rows, sh.n_cols,
        |  ((sh.n_rows - 1) * (sh.n_cols - 1))::BIGINT AS dof,
        |  CASE WHEN sh.n = 0 THEN NULL ELSE round(f.chi2raw, 4) END AS chi2,
        |  CASE WHEN sh.n = 0 OR sh.n_rows < 2 OR sh.n_cols < 2 THEN NULL
        |    ELSE round(sqrt(f.chi2raw / (sh.n::DOUBLE *
        |      least(sh.n_rows - 1, sh.n_cols - 1)::DOUBLE)), 4)
        |  END AS cramers_v
        |FROM sh, f ORDER BY n""".stripMargin),

    // Gini-impurity-gain feature screen (CART split criterion): which
    // bucketed feature most purifies the lang='en' label — exact
    // floor-division integers end to end, NO fp anywhere.
    "x178_gini_gain" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("n_tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long"))
        Evaluation.giniGainScreen(docs, col("lang") === "en", Seq(
          "len_bucket" -> expr("n_chars div 200"),
          "tok_bucket" -> expr("n_tokens div 40"),
          "avg_tok_len_x10" ->
            when(col("n_tokens") > 0, expr("(n_chars * 10) div n_tokens"))))
      },
      """WITH base AS (
        |  SELECT (lang = 'en') AS yy, n_chars::BIGINT AS n_chars,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |f AS (
        |  SELECT yy, 'len_bucket' AS feature, n_chars // 200 AS v FROM base
        |  UNION ALL SELECT yy, 'tok_bucket', n_tokens // 40 FROM base
        |  UNION ALL SELECT yy, 'avg_tok_len_x10',
        |    CASE WHEN n_tokens > 0 THEN (n_chars * 10) // n_tokens END
        |  FROM base),
        |cells AS (
        |  SELECT feature, v, count(*)::BIGINT AS nv,
        |    sum(CASE WHEN yy THEN 1 ELSE 0 END)::BIGINT AS pv
        |  FROM f WHERE v IS NOT NULL AND yy IS NOT NULL GROUP BY 1, 2),
        |parent AS (
        |  SELECT feature, sum(nv)::BIGINT AS n, sum(pv)::BIGINT AS p
        |  FROM cells GROUP BY 1),
        |pg AS (
        |  SELECT feature, n,
        |    ((1000000::HUGEINT * (n::HUGEINT * n - p::HUGEINT * p
        |      - (n - p)::HUGEINT * (n - p))) // (n::HUGEINT * n))::BIGINT
        |      AS gini_parent_ppm
        |  FROM parent),
        |ch AS (
        |  SELECT cells.feature,
        |    sum((1000000::HUGEINT * (nv::HUGEINT * nv - pv::HUGEINT * pv
        |      - (nv - pv)::HUGEINT * (nv - pv)))
        |      // (pg.n::HUGEINT * nv))::BIGINT AS gini_children_ppm
        |  FROM cells JOIN pg ON pg.feature = cells.feature GROUP BY 1)
        |SELECT pg.feature, pg.n, pg.gini_parent_ppm, ch.gini_children_ppm,
        |  (pg.gini_parent_ppm - ch.gini_children_ppm)::BIGINT AS gain_ppm
        |FROM pg JOIN ch ON ch.feature = pg.feature
        |ORDER BY gain_ppm DESC, pg.feature""".stripMargin),

    // Approximate functional-dependency audit (g3 error, Kivinen &
    // Mannila): five declared lhs→rhs candidates, each one cell
    // aggregation + one lhs-keyed max/sum — exact ppm.
    "x179_fd_audit" -> sql(
      (s, dir) => DataQuality.fdAudit(Seq(
        DataQuality.FdCandidate("customer:nation->segment",
          Tables.customer(s, dir), col("c_nationkey"), col("c_mktsegment")),
        DataQuality.FdCandidate("lineitem:partkey->suppkey",
          Tables.lineitem(s, dir), col("l_partkey"), col("l_suppkey")),
        DataQuality.FdCandidate("orders:custkey->priority",
          Tables.orders(s, dir), col("o_custkey"), col("o_orderpriority")),
        DataQuality.FdCandidate("part:brand->type",
          Tables.part(s, dir), col("p_brand"), col("p_type")),
        DataQuality.FdCandidate("part:name->brand",
          Tables.part(s, dir), col("p_name"), col("p_brand"))))
        .orderBy("fd"),
      Seq(
        ("customer:nation->segment", "customer", "c_nationkey", "c_mktsegment"),
        ("lineitem:partkey->suppkey", "lineitem", "l_partkey", "l_suppkey"),
        ("orders:custkey->priority", "orders", "o_custkey", "o_orderpriority"),
        ("part:brand->type", "part", "p_brand", "p_type"),
        ("part:name->brand", "part", "p_name", "p_brand"))
        .map { case (nm, tbl, a, b) =>
          s"""SELECT '$nm' AS fd, n, n_lhs_keys, violations,
            |  (CASE WHEN n = 0 THEN NULL
            |    ELSE (violations::HUGEINT * 1000000) // n END)::BIGINT AS g3_ppm
            |FROM (
            |  SELECT coalesce(sum(tot), 0)::BIGINT AS n,
            |    count(*)::BIGINT AS n_lhs_keys,
            |    coalesce(sum(tot - mx), 0)::BIGINT AS violations
            |  FROM (
            |    SELECT a, sum(c)::BIGINT AS tot, max(c)::BIGINT AS mx
            |    FROM (
            |      SELECT $a::VARCHAR AS a, $b::VARCHAR AS b, count(*)::BIGINT AS c
            |      FROM $tbl WHERE $a IS NOT NULL AND $b IS NOT NULL
            |      GROUP BY 1, 2) GROUP BY 1))""".stripMargin
        }.mkString("\nUNION ALL\n") + "\nORDER BY fd"),

    // Population Stability Index — one more stateless lens over the SAME
    // (bin, cnt_a, cnt_b) state as x123/StreamingDrift: Laplace-smoothed,
    // per-bin integer-ppm contributions so the __total row is an
    // order-free sum.
    "x180_psi_drift" -> sql(
      (s, dir) => Evaluation.finishPsi(Evaluation.driftBinCounts(
        Tables.events(s, dir), col("event_type"),
        dayofmonth(col("ts")) <= 15))
        .orderBy("bin"),
      """WITH c AS (
        |  SELECT event_type::VARCHAR AS bin,
        |    sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END)::BIGINT AS cb
        |  FROM events GROUP BY 1),
        |t AS (SELECT coalesce(sum(ca), 0)::BIGINT AS na,
        |  coalesce(sum(cb), 0)::BIGINT AS nb,
        |  count(*)::BIGINT AS k FROM c),
        |pb AS (SELECT bin, ca, cb,
        |  CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE CAST(round(1000000.0 *
        |      ((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |        - (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))) *
        |      ln((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |        / (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))))
        |      AS BIGINT)
        |  END AS psi
        |  FROM c, t),
        |tot AS (SELECT '__total' AS bin, na AS ca, nb AS cb,
        |  (SELECT sum(psi) FROM pb) AS psi FROM t)
        |SELECT bin, ca::BIGINT AS cnt_a, cb::BIGINT AS cnt_b,
        |  psi::BIGINT AS psi_ppm
        |FROM (SELECT * FROM pb UNION ALL SELECT * FROM tot)
        |ORDER BY bin""".stripMargin),

    // Dunning log-likelihood-ratio collocations: the G²-test measure
    // that stays calibrated at low counts where PMI explodes — the
    // oracle replays the identical 2×2 cell terms.
    "x181_llr_collocations" -> sql(
      (s, dir) => {
        Vocabulary.bigramLlr(Tables.documents(s, dir), "text",
          minCount = 5, topK = 50)
      },
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS toks
        |  FROM documents),
        |pr AS (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || chr(31) || toks[i + 1])) AS pg
        |  FROM t WHERE len(toks) >= 2),
        |p AS (SELECT string_split(pg, chr(31))[1] AS w1,
        |    string_split(pg, chr(31))[2] AS w2 FROM pr),
        |lm AS (SELECT w1, count(*)::BIGINT AS c1 FROM p GROUP BY 1),
        |rm AS (SELECT w2, count(*)::BIGINT AS c2 FROM p GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n2 FROM p),
        |cb AS (SELECT w1, w2, count(*)::BIGINT AS k11 FROM p
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |sc AS (
        |  SELECT cb.w1, cb.w2, cb.k11,
        |    round(2.0 * (
        |      (CASE WHEN (k11) > 0 THEN (k11) * ln((CAST(k11 AS DOUBLE) / n2) /
        |        ((CAST(c1 AS DOUBLE) / n2) * (CAST(c2 AS DOUBLE) / n2)))
        |        ELSE CAST(0.0 AS DOUBLE) END)
        |    + (CASE WHEN (c1 - k11) > 0 THEN (c1 - k11)
        |        * ln((CAST(c1 - k11 AS DOUBLE) / n2) /
        |        ((CAST(c1 AS DOUBLE) / n2) * (CAST(n2 - c2 AS DOUBLE) / n2)))
        |        ELSE CAST(0.0 AS DOUBLE) END)
        |    + (CASE WHEN (c2 - k11) > 0 THEN (c2 - k11)
        |        * ln((CAST(c2 - k11 AS DOUBLE) / n2) /
        |        ((CAST(n2 - c1 AS DOUBLE) / n2) * (CAST(c2 AS DOUBLE) / n2)))
        |        ELSE CAST(0.0 AS DOUBLE) END)
        |    + (CASE WHEN (n2 - c1 - c2 + k11) > 0 THEN (n2 - c1 - c2 + k11)
        |        * ln((CAST(n2 - c1 - c2 + k11 AS DOUBLE) / n2) /
        |        ((CAST(n2 - c1 AS DOUBLE) / n2) * (CAST(n2 - c2 AS DOUBLE) / n2)))
        |        ELSE CAST(0.0 AS DOUBLE) END)
        |    ), 4) AS llr
        |  FROM cb JOIN lm ON lm.w1 = cb.w1 JOIN rm ON rm.w2 = cb.w2, nn)
        |SELECT w1, w2, k11, llr FROM sc
        |ORDER BY llr DESC, w1, w2 LIMIT 50""".stripMargin),

    // Mann–Kendall monotone-trend test per event series: exact S and
    // tie-corrected variance numerator from the calendar-bounded daily
    // frame; fp only in the continuity-corrected z.
    "x182_mann_kendall" -> sql(
      (s, dir) => Seasonal.mannKendall(
        Tables.events(s, dir), col("event_type"), col("ts")),
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.series,
        |    coalesce(sum(sign(b.cnt - a.cnt)::BIGINT), 0)::BIGINT AS s_stat
        |  FROM d a JOIN d b ON b.series = a.series AND b.day > a.day
        |  GROUP BY 1),
        |nd AS (SELECT series, count(*)::BIGINT AS n_days FROM d GROUP BY 1),
        |ties AS (
        |  SELECT series,
        |    coalesce(sum(t::HUGEINT * (t - 1) * (2 * t + 5)), 0)::HUGEINT AS tt
        |  FROM (SELECT series, cnt, count(*)::BIGINT AS t FROM d GROUP BY 1, 2)
        |  GROUP BY 1),
        |v AS (
        |  SELECT nd.series, nd.n_days, s.s_stat,
        |    (nd.n_days::HUGEINT * (nd.n_days - 1) * (2 * nd.n_days + 5)
        |      - ties.tt)::BIGINT AS var18
        |  FROM nd JOIN s ON s.series = nd.series
        |  JOIN ties ON ties.series = nd.series)
        |SELECT series, n_days, s_stat, var18,
        |  CASE WHEN var18 <= 0 THEN NULL
        |    ELSE round((CASE WHEN s_stat > 0 THEN s_stat::DOUBLE - 1.0
        |      WHEN s_stat < 0 THEN s_stat::DOUBLE + 1.0 ELSE 0.0 END) /
        |      sqrt(var18::DOUBLE / 18.0), 4)
        |  END AS z
        |FROM v ORDER BY series""".stripMargin),

    // Full Pearson correlation matrix over 4 lineitem features in ONE
    // corpus aggregation — every pairwise sum is a plan-literal agg
    // expression on a single scan (d27 is one pair; this is all 6 at
    // the same scan cost). Exact decimal sufficient statistics; fp only
    // in the closing ratios.
    "x183_correlation_matrix" -> sql(
      (s, dir) => {
        Evaluation.correlationMatrix(Tables.lineitem(s, dir), Seq(
          "disc_c" -> floor(col("l_discount") * 100),
          "price_fl" -> floor(col("l_extendedprice")),
          "qty" -> floor(col("l_quantity")),
          "tax_c" -> floor(col("l_tax") * 100)))
      },
      corrMatrixOracle),

    // Autocorrelation of daily volume per event series at calendar lags
    // 1..14 — the periodicity fingerprint over the SAME calendar-bounded
    // daily state the seasonal/CUSUM/Holt/Mann–Kendall views share.
    "x184_acf" -> sql(
      (s, dir) => Seasonal.acf(
        Tables.events(s, dir), col("event_type"), col("ts"), maxLag = 14),
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.series, (b.day - a.day)::BIGINT AS lag,
        |    a.cnt AS ya, b.cnt AS yb
        |  FROM d a JOIN d b ON b.series = a.series
        |  WHERE (b.day - a.day) BETWEEN 1 AND 14),
        |g AS (
        |  SELECT series, lag, count(*)::BIGINT AS n_pairs,
        |    sum(ya::HUGEINT) AS sx, sum(yb::HUGEINT) AS sy,
        |    sum(ya::HUGEINT * ya) AS sxx, sum(yb::HUGEINT * yb) AS syy,
        |    sum(ya::HUGEINT * yb) AS sxy
        |  FROM p GROUP BY 1, 2)
        |SELECT series, lag, n_pairs,
        |  CASE WHEN n_pairs < 2
        |      OR (n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <= 0.0
        |      OR (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) <= 0.0
        |    THEN NULL
        |    ELSE round((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |      / (sqrt(n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |         * sqrt(n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
        |      4)
        |  END AS acf
        |FROM g ORDER BY series, lag""".stripMargin),

    // Theil–Sen robust trend slope per series: exact truncated-division
    // pairwise slopes over the calendar-bounded daily frame, low-median
    // order statistic — bit-replayable, no fp anywhere.
    "x185_theil_sen" -> sql(
      (s, dir) => Seasonal.theilSen(
        Tables.events(s, dir), col("event_type"), col("ts")),
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.series, ((b.cnt - a.cnt) * 1000000) // (b.day - a.day) AS sl
        |  FROM d a JOIN d b ON b.series = a.series AND b.day > a.day),
        |r AS (
        |  SELECT series, sl,
        |    row_number() OVER (PARTITION BY series ORDER BY sl) AS rn,
        |    count(*) OVER (PARTITION BY series) AS np
        |  FROM p),
        |m AS (
        |  SELECT series, np::BIGINT AS n_pairs, sl::BIGINT AS sen_slope_ppm
        |  FROM r WHERE rn = (np + 1) // 2),
        |nd AS (SELECT series, count(*)::BIGINT AS n_days FROM d GROUP BY 1)
        |SELECT nd.series, nd.n_days,
        |  coalesce(m.n_pairs, 0)::BIGINT AS n_pairs, m.sen_slope_ppm
        |FROM nd LEFT JOIN m ON m.series = nd.series
        |ORDER BY nd.series""".stripMargin),

    // Jensen–Shannon divergence — the third stateless lens over the SAME
    // (bin, cnt_a, cnt_b) state as x123 (TVD) / x180 (PSI) /
    // StreamingDrift: bounded, symmetric drift magnitude.
    "x186_jsd_drift" -> sql(
      (s, dir) => Evaluation.finishJsd(Evaluation.driftBinCounts(
        Tables.events(s, dir), col("event_type"),
        dayofmonth(col("ts")) <= 15))
        .orderBy("bin"),
      """WITH c AS (
        |  SELECT event_type::VARCHAR AS bin,
        |    sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END)::BIGINT AS cb
        |  FROM events GROUP BY 1),
        |t AS (SELECT coalesce(sum(ca), 0)::BIGINT AS na,
        |  coalesce(sum(cb), 0)::BIGINT AS nb,
        |  count(*)::BIGINT AS k FROM c),
        |pb AS (SELECT bin, ca, cb,
        |  CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE CAST(round(1000000.0 * 0.5 *
        |      ((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |        * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |          / (((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |            + (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))) / 2.0))
        |      + (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))
        |        * ln((CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))
        |          / (((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |            + (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))) / 2.0))))
        |      AS BIGINT)
        |  END AS jsd
        |  FROM c, t),
        |tot AS (SELECT '__total' AS bin, na AS ca, nb AS cb,
        |  (SELECT sum(jsd) FROM pb) AS jsd FROM t)
        |SELECT bin, ca::BIGINT AS cnt_a, cb::BIGINT AS cnt_b,
        |  jsd::BIGINT AS jsd_ppm
        |FROM (SELECT * FROM pb UNION ALL SELECT * FROM tot)
        |ORDER BY bin""".stripMargin),

    // Mutual-information feature screen — the log-scaled complement of
    // x178's Gini gain on the SAME features and label; the fp sum rides
    // an order-pinned fold over the bounded sorted cell array (the x177
    // discipline).
    "x187_mi_screen" -> sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("n_tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long"))
        Evaluation.miScreen(docs, col("lang") === "en", Seq(
          "len_bucket" -> expr("n_chars div 200"),
          "tok_bucket" -> expr("n_tokens div 40"),
          "avg_tok_len_x10" ->
            when(col("n_tokens") > 0, expr("(n_chars * 10) div n_tokens"))))
      },
      """WITH base AS (
        |  SELECT (lang = 'en') AS yy, n_chars::BIGINT AS n_chars,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |f AS (
        |  SELECT yy, 'len_bucket' AS feature, n_chars // 200 AS v FROM base
        |  UNION ALL SELECT yy, 'tok_bucket', n_tokens // 40 FROM base
        |  UNION ALL SELECT yy, 'avg_tok_len_x10',
        |    CASE WHEN n_tokens > 0 THEN (n_chars * 10) // n_tokens END
        |  FROM base),
        |cells AS (
        |  SELECT feature, v, yy, count(*)::BIGINT AS c
        |  FROM f WHERE v IS NOT NULL AND yy IS NOT NULL GROUP BY 1, 2, 3),
        |nv AS (SELECT feature, v, sum(c)::BIGINT AS nv FROM cells GROUP BY 1, 2),
        |nl AS (SELECT feature, yy, sum(c)::BIGINT AS nl FROM cells GROUP BY 1, 2),
        |tot AS (
        |  SELECT feature, sum(c)::BIGINT AS n,
        |    sum(CASE WHEN yy THEN c ELSE 0 END)::BIGINT AS p
        |  FROM cells GROUP BY 1),
        |arr AS (
        |  SELECT cl.feature,
        |    list([cl.c::DOUBLE, nv.nv::DOUBLE, nl.nl::DOUBLE]
        |      ORDER BY cl.v, cl.yy) AS o
        |  FROM cells cl
        |  JOIN nv ON nv.feature = cl.feature AND nv.v = cl.v
        |  JOIN nl ON nl.feature = cl.feature AND nl.yy = cl.yy
        |  GROUP BY 1),
        |mi AS (
        |  SELECT arr.feature, tot.n, tot.p,
        |    list_reduce(list_prepend([0.0::DOUBLE], arr.o),
        |      (acc, s) -> [acc[1]
        |        + s[1] / tot.n::DOUBLE
        |        * ln(s[1] * tot.n::DOUBLE / (s[2] * s[3]))])[1] AS m,
        |    (CASE WHEN tot.p > 0 THEN
        |        -(tot.p::DOUBLE / tot.n::DOUBLE)
        |          * ln(tot.p::DOUBLE / tot.n::DOUBLE) ELSE 0.0 END)
        |    + (CASE WHEN tot.n - tot.p > 0 THEN
        |        -((tot.n - tot.p)::DOUBLE / tot.n::DOUBLE)
        |          * ln((tot.n - tot.p)::DOUBLE / tot.n::DOUBLE)
        |        ELSE 0.0 END) AS h
        |  FROM arr JOIN tot ON tot.feature = arr.feature)
        |SELECT feature, n, round(m, 6) AS mi_nats,
        |  CASE WHEN h <= 0.0 THEN NULL ELSE round(m / h, 6) END AS u_label
        |FROM mi ORDER BY mi_nats DESC, feature""".stripMargin),

    // Cross-correlation lead–lag between every ordered series pair at
    // calendar lags −7..7 over the shared daily state — the exploded lag
    // column keeps the join an EQUI-join on the aligned day.
    "x188_cross_correlation" -> sql(
      (s, dir) => Seasonal.crossCorrelation(
        Tables.events(s, dir), col("event_type"), col("ts"), maxLag = 7),
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |bx AS (
        |  SELECT d.series AS s2, d.day - g.lag::INTEGER AS da, d.cnt AS yb,
        |    g.lag::BIGINT AS lag
        |  FROM d, range(-7, 8) g(lag)),
        |p AS (
        |  SELECT a.series AS s1, bx.s2, bx.lag, a.cnt AS ya, bx.yb
        |  FROM d a JOIN bx ON a.day = bx.da AND a.series < bx.s2),
        |g AS (
        |  SELECT s1, s2, lag, count(*)::BIGINT AS n_pairs,
        |    sum(ya::HUGEINT) AS sx, sum(yb::HUGEINT) AS sy,
        |    sum(ya::HUGEINT * ya) AS sxx, sum(yb::HUGEINT * yb) AS syy,
        |    sum(ya::HUGEINT * yb) AS sxy
        |  FROM p GROUP BY 1, 2, 3)
        |SELECT s1, s2, lag, n_pairs,
        |  CASE WHEN n_pairs < 2
        |      OR (n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <= 0.0
        |      OR (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) <= 0.0
        |    THEN NULL
        |    ELSE round((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |      / (sqrt(n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |         * sqrt(n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
        |      4)
        |  END AS ccf
        |FROM g ORDER BY s1, s2, lag""".stripMargin),

    // Simplified silhouette over the deterministic IVF pivot cells:
    // int8-quantized exact-integer distance numerators (centroid mean
    // cleared of division by cross-multiplying), fp only in the closing
    // per-point ratio — the whole chain (pivot pick, assignment,
    // quantization, stats, scores) replays in SQL.
    "x189_silhouette" -> sql(
      (s, dir) => {
        Clustering.silhouetteReport(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          nCells = 8, seed = "v1")
      },
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |pv AS (
        |  SELECT vec_id AS pid, embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        |  FROM emb),
        |piv AS (SELECT pid, pvec, cell FROM pv WHERE cell < 8),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, p.cell,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |        i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |           * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), p.cell) AS rn
        |  FROM emb e CROSS JOIN piv p),
        |pts AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
        |q8 AS (
        |  SELECT vec_id, cell,
        |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT) END) AS q
        |  FROM (SELECT vec_id, cell, embedding,
        |      list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS scale
        |    FROM pts)),
        |stx AS (
        |  SELECT cell, q, unnest(generate_series(1, len(q))) AS j FROM q8),
        |st AS (
        |  SELECT cell, j, sum(q[j])::HUGEINT AS s, count(*)::BIGINT AS n
        |  FROM stx GROUP BY 1, 2),
        |cs AS (SELECT cell, max(n)::BIGINT AS n, list(s ORDER BY j) AS sv
        |  FROM st GROUP BY cell),
        |d AS (
        |  SELECT p.vec_id, p.cell AS own, c.cell AS c, c.n,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(generate_series(1, len(p.q)),
        |        i -> (p.q[i]::HUGEINT * c.n - c.sv[i])
        |           * (p.q[i]::HUGEINT * c.n - c.sv[i]))),
        |      (x, y) -> x + y)::DOUBLE / (c.n::DOUBLE * c.n::DOUBLE) AS dist
        |  FROM q8 p CROSS JOIN cs c),
        |ab AS (
        |  SELECT vec_id, own,
        |    min(CASE WHEN c = own THEN dist END) AS a,
        |    min(CASE WHEN c <> own THEN dist END) AS b,
        |    min(CASE WHEN c = own THEN n END) AS n_own
        |  FROM d GROUP BY 1, 2),
        |sp AS (
        |  SELECT vec_id, own AS cell,
        |    CASE WHEN b IS NULL THEN NULL
        |      WHEN n_own = 1 THEN 0
        |      WHEN greatest(a, b) = 0.0 THEN 0
        |      ELSE CAST(round(1000000.0 * (b - a) / greatest(a, b)) AS BIGINT)
        |    END AS s_ppm
        |  FROM ab),
        |pc AS (
        |  SELECT cell::BIGINT AS cell, count(*)::BIGINT AS n,
        |    count(s_ppm)::BIGINT AS n_scored, sum(s_ppm)::BIGINT AS ss
        |  FROM sp GROUP BY 1
        |  UNION ALL
        |  SELECT -1::BIGINT, count(*)::BIGINT, count(s_ppm)::BIGINT,
        |    sum(s_ppm)::BIGINT FROM sp)
        |SELECT cell, n, n_scored,
        |  (CASE WHEN n_scored = 0 THEN NULL ELSE ss // n_scored END)::BIGINT
        |    AS mean_s_ppm
        |FROM pc ORDER BY cell""".stripMargin),

    // Cochran–Armitage trend test: is P(lang='en') monotone in the length
    // bucket? Exact decimal numerator and radicand (cross-multiplied
    // clear of divisions), fp only in the closing z.
    "x190_trend_test" -> sql(
      (s, dir) => Evaluation.cochranArmitage(
        Tables.documents(s, dir), expr("n_chars div 200"), col("lang") === "en"),
      """WITH cells AS (
        |  SELECT (n_chars // 200)::BIGINT AS v, count(*)::BIGINT AS nv,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS rv
        |  FROM documents GROUP BY 1),
        |a AS (
        |  SELECT coalesce(sum(nv), 0)::HUGEINT AS n,
        |    coalesce(sum(rv), 0)::HUGEINT AS r,
        |    coalesce(sum(v::HUGEINT * nv), 0)::HUGEINT AS wn,
        |    coalesce(sum(v::HUGEINT * rv), 0)::HUGEINT AS wr,
        |    coalesce(sum(v::HUGEINT * v * nv), 0)::HUGEINT AS wwn
        |  FROM cells)
        |SELECT n::BIGINT AS n, r::BIGINT AS n_pos,
        |  (n * wr - r * wn)::BIGINT AS t_num,
        |  CASE WHEN n = 0
        |      OR (r * (n - r) * (n * wwn - wn * wn))::DOUBLE <= 0.0 THEN NULL
        |    ELSE round((n * wr - r * wn)::DOUBLE /
        |      sqrt((r * (n - r) * (n * wwn - wn * wn))::DOUBLE / n::DOUBLE), 4)
        |  END AS z
        |FROM a ORDER BY n""".stripMargin),

    // Cliff's delta ordinal effect size between the en/non-en cohorts of
    // the length-bucket score: pair counts from prefix sums over the
    // bounded distinct-value frame — exact integers end to end.
    "x191_cliffs_delta" -> sql(
      (s, dir) => Evaluation.cliffsDelta(
        Tables.documents(s, dir), expr("n_chars div 50"), col("lang") === "en"),
      """WITH cells AS (
        |  SELECT (n_chars // 50)::BIGINT AS v,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS cb
        |  FROM documents GROUP BY 1),
        |pref AS (
        |  SELECT v, ca, cb,
        |    coalesce(sum(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cbb,
        |    coalesce(sum(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cab
        |  FROM cells),
        |a AS (
        |  SELECT coalesce(sum(ca), 0)::HUGEINT AS na,
        |    coalesce(sum(cb), 0)::HUGEINT AS nb,
        |    coalesce(sum(ca::HUGEINT * cbb), 0)::HUGEINT AS gt,
        |    coalesce(sum(cb::HUGEINT * cab), 0)::HUGEINT AS lt
        |  FROM pref)
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  gt::BIGINT AS gt_pairs, lt::BIGINT AS lt_pairs,
        |  (CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE ((gt - lt) * 1000000) // (na * nb) END)::BIGINT AS delta_ppm
        |FROM a ORDER BY n_a""".stripMargin),

    // Cumulative-gains / lift curve over the length-bucket score: per
    // distinct score DESC, exact-ppm recall and lift by
    // cross-multiplication — the thresholding readout behind AUC.
    "x192_gains_lift" -> sql(
      (s, dir) => Evaluation.gainsReport(
        Tables.documents(s, dir), expr("n_chars div 100"), col("lang") === "en"),
      """WITH cells AS (
        |  SELECT (n_chars // 100)::BIGINT AS v, count(*)::BIGINT AS n,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
        |  FROM documents GROUP BY 1),
        |c2 AS (
        |  SELECT v, n, pos,
        |    sum(n) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    sum(pos) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |    sum(n) OVER () AS nn, sum(pos) OVER () AS pp
        |  FROM cells)
        |SELECT v, n, pos, cum_n::BIGINT AS cum_n, cum_pos::BIGINT AS cum_pos,
        |  (CASE WHEN pp = 0 THEN NULL
        |    ELSE (cum_pos * 1000000) // pp END)::BIGINT AS recall_ppm,
        |  (CASE WHEN pp = 0 OR cum_n = 0 THEN NULL
        |    ELSE (cum_pos::HUGEINT * nn * 1000000) // (cum_n::HUGEINT * pp)
        |  END)::BIGINT AS lift_ppm
        |FROM c2 ORDER BY v DESC""".stripMargin),

    // Retrieval-quality evaluation of x81's BM25 ranking against the
    // strict conjunctive relevance oracle (EVERY query term at least 4
    // times — rarer than the k=10 cut, so partial matches in the top-10
    // register as misses): P@k / recall@k / MRR as exact ppm, NDCG@k as
    // order-pinned log2 folds. One tokenization feeds ranking AND
    // relevance.
    "x193_retrieval_eval" -> sql(
      (s, dir) => {
        Vocabulary.retrievalEvalBm25(
          Tables.documents(s, dir), "text", "doc_id",
          Seq("q1" -> "merge sort", "q2" -> "hash join",
            "q3" -> "window scan", "q4" -> "slow query"),
          k = 10, minTf = 4)
      },
      """WITH dl AS (
        |  SELECT doc_id AS doc,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |toks AS (
        |  SELECT doc_id AS doc,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |q AS (SELECT * FROM (VALUES ('q1', 'merge'), ('q1', 'sort'),
        |  ('q2', 'hash'), ('q2', 'join'), ('q3', 'window'), ('q3', 'scan'),
        |  ('q4', 'slow'), ('q4', 'query')) AS t(qid, term)),
        |tf AS (
        |  SELECT t.doc, t.term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks t JOIN (SELECT DISTINCT term FROM q) qq USING (term)
        |  GROUP BY 1, 2),
        |wdf AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
        |  FROM tf),
        |sc AS (
        |  SELECT q.qid, w.doc,
        |    round(sum(ln(1 + (s.n - w.df + 0.5) / (w.df + 0.5)) * w.tf * 2.2 /
        |      (w.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score
        |  FROM wdf w
        |  JOIN q ON q.term = w.term
        |  JOIN dl ON dl.doc = w.doc
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, doc, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank
        |  FROM sc),
        |topk AS (SELECT qid, doc, rank FROM r WHERE rank <= 10),
        |qn AS (SELECT qid, count(*)::BIGINT AS nq FROM q GROUP BY qid),
        |qtf AS (
        |  SELECT t.doc, t.term, count(*) AS c
        |  FROM toks t JOIN (SELECT DISTINCT term FROM q) qq USING (term)
        |  GROUP BY 1, 2),
        |rel AS (
        |  SELECT m.qid, m.doc FROM (
        |    SELECT q.qid, f.doc, count(*) AS nm
        |    FROM qtf f JOIN q USING (term) WHERE f.c >= 4
        |    GROUP BY 1, 2) m JOIN qn USING (qid)
        |  WHERE m.nm = qn.nq),
        |nrel AS (SELECT qid, count(*)::BIGINT AS n_rel FROM rel GROUP BY qid),
        |hits AS (
        |  SELECT t.qid, t.rank FROM topk t
        |  JOIN rel ON rel.qid = t.qid AND rel.doc = t.doc),
        |hq AS (
        |  SELECT qid, count(*)::BIGINT AS hits, min(rank)::BIGINT AS fh,
        |    list(rank ORDER BY rank) AS hit_ranks
        |  FROM hits GROUP BY qid),
        |nret AS (SELECT qid, count(*)::BIGINT AS n_ret FROM topk GROUP BY qid),
        |allq AS (SELECT DISTINCT qid FROM q)
        |SELECT a.qid,
        |  coalesce(n_ret, 0)::BIGINT AS n_ret,
        |  coalesce(n_rel, 0)::BIGINT AS n_rel,
        |  coalesce(hits, 0)::BIGINT AS hits,
        |  ((coalesce(hits, 0) * 1000000) // 10)::BIGINT AS p_at_k_ppm,
        |  (CASE WHEN coalesce(n_rel, 0) = 0 THEN NULL
        |    ELSE (coalesce(hits, 0) * 1000000) // n_rel END)::BIGINT
        |    AS recall_at_k_ppm,
        |  (CASE WHEN fh IS NULL THEN 0 ELSE 1000000 // fh END)::BIGINT
        |    AS mrr_ppm,
        |  CASE WHEN least(coalesce(n_rel, 0), 10) < 1 THEN NULL
        |    ELSE round(
        |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(coalesce(hit_ranks, []),
        |          rr -> ln(2.0) / ln((rr + 1)::DOUBLE))), (x, y) -> x + y)
        |      / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(generate_series(1, least(coalesce(n_rel, 0), 10)),
        |          i -> ln(2.0) / ln((i + 1)::DOUBLE))), (x, y) -> x + y), 6)
        |  END AS ndcg
        |FROM allq a
        |LEFT JOIN nret USING (qid) LEFT JOIN nrel USING (qid)
        |LEFT JOIN hq USING (qid)
        |ORDER BY qid""".stripMargin),

    // Murphy (1973) Brier decomposition over the ridge-probe scores —
    // Brier = REL − RES + UNC, the scalar triple behind x113's diagram.
    // The quantized-integer bin state makes every term exact (documented
    // per-bin floor divisions); the same state drives StreamingBrier.
    "x194_brier_decomposition" -> sql(
      (s, dir) => {
        val scored = Linalg.ridgeProbe(Tables.embeddings(s, dir), "embedding",
          col("label") < 5, dim = 64, carry = Seq("vec_id"),
          lambda = 0.1, iters = 48)
        Evaluation.brierReport(scored, col("score"), col("y") === 1.0)
      },
      s"""WITH ${ridgeFitCtes},
        |sc AS MATERIALIZED (
        |  SELECT CAST(round(list_dot_product(d.e, (SELECT w FROM gw48))
        |      * 10000) AS BIGINT) AS s4,
        |    (d.y = 1.0) AS yy
        |  FROM d),
        |g AS (
        |  SELECT CASE WHEN s4 < 0 THEN -1 WHEN s4 >= 10000 THEN 10
        |      ELSE (s4 // 1000)::INT END AS bin,
        |    count(*)::BIGINT AS n, sum(s4)::HUGEINT AS sum_s4,
        |    sum(s4::HUGEINT * s4)::HUGEINT AS sum_sq4,
        |    sum(CASE WHEN yy THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |    sum(CASE WHEN yy THEN s4 ELSE 0 END)::HUGEINT AS sum_s4_pos
        |  FROM sc GROUP BY 1),
        |tot AS (
        |  SELECT coalesce(sum(n), 0)::HUGEINT AS nn,
        |    coalesce(sum(n_pos), 0)::HUGEINT AS pp,
        |    coalesce(sum(sum_sq4), 0)::HUGEINT AS sq,
        |    coalesce(sum(sum_s4_pos), 0)::HUGEINT AS sp
        |  FROM g),
        |bt AS (
        |  SELECT
        |    coalesce(sum((1000000::HUGEINT
        |        * (n_pos::HUGEINT * 10000 - sum_s4)
        |        * (n_pos::HUGEINT * 10000 - sum_s4))
        |      // (100000000::HUGEINT * n)), 0)::HUGEINT AS reln,
        |    coalesce(sum((1000000::HUGEINT
        |        * (n_pos::HUGEINT * t.nn - t.pp * n)
        |        * (n_pos::HUGEINT * t.nn - t.pp * n))
        |      // (n::HUGEINT * t.nn * t.nn)), 0)::HUGEINT AS resn,
        |    coalesce(sum(100::HUGEINT
        |        * abs(n_pos::HUGEINT * 10000 - sum_s4)), 0)::HUGEINT AS ecen
        |  FROM g, tot t)
        |SELECT nn::BIGINT AS n, pp::BIGINT AS n_pos,
        |  (CASE WHEN nn = 0 THEN NULL
        |    ELSE ((sq - 20000::HUGEINT * sp + 100000000::HUGEINT * pp)
        |          * 1000000) // (100000000::HUGEINT * nn) END)::BIGINT
        |    AS brier_ppm,
        |  (CASE WHEN nn = 0 THEN NULL ELSE reln // nn END)::BIGINT
        |    AS reliability_ppm,
        |  (CASE WHEN nn = 0 THEN NULL ELSE resn // nn END)::BIGINT
        |    AS resolution_ppm,
        |  (CASE WHEN nn = 0 THEN NULL
        |    ELSE (1000000::HUGEINT * pp * (nn - pp)) // (nn * nn) END)::BIGINT
        |    AS uncertainty_ppm,
        |  (CASE WHEN nn = 0 THEN NULL ELSE ecen // nn END)::BIGINT AS ece_ppm
        |FROM tot, bt ORDER BY n""".stripMargin),

    // Kruskal–Wallis H: does ANY source stochastically dominate on the
    // length bucket? Doubled midranks (no fp halves) from a prefix window
    // on the bounded distinct-value frame; the one fp reduction runs as
    // an order-pinned fold (list_reduce replay).
    "x195_kruskal_wallis" -> sql(
      (s, dir) => {
        Evaluation.kruskalWallis(
          Tables.documents(s, dir), expr("n_chars div 50"), col("source"))
      },
      """WITH cells AS (
        |  SELECT (n_chars // 50)::BIGINT AS v, source AS g,
        |    count(*)::BIGINT AS c
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |byv AS (SELECT v, sum(c)::BIGINT AS tv FROM cells GROUP BY v),
        |rk AS (
        |  SELECT v, tv,
        |    2 * coalesce(sum(tv) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + tv + 1 AS r2
        |  FROM byv),
        |pg AS (
        |  SELECT g, sum(c)::HUGEINT AS ng,
        |    sum(c::HUGEINT * r2)::HUGEINT AS rr2
        |  FROM cells JOIN rk USING (v) GROUP BY g),
        |t AS (
        |  SELECT coalesce(sum(tv), 0)::HUGEINT AS nnn,
        |    coalesce(sum(tv::HUGEINT * tv * tv - tv), 0)::HUGEINT AS tsum
        |  FROM rk),
        |ag AS (
        |  SELECT count(*)::BIGINT AS k,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(rr2::DOUBLE * rr2::DOUBLE / ng::DOUBLE ORDER BY g)),
        |      (x, y) -> x + y) AS sr
        |  FROM pg)
        |SELECT nnn::BIGINT AS n, k AS n_groups,
        |  CASE WHEN nnn < 2 OR k < 2 THEN NULL
        |    ELSE round(3.0 * sr / (nnn::DOUBLE * (nnn::DOUBLE + 1.0))
        |      - 3.0 * (nnn::DOUBLE + 1.0), 4) END AS h,
        |  CASE WHEN nnn < 2 OR k < 2
        |      OR tsum = nnn * nnn * nnn - nnn THEN NULL
        |    ELSE round((3.0 * sr / (nnn::DOUBLE * (nnn::DOUBLE + 1.0))
        |        - 3.0 * (nnn::DOUBLE + 1.0))
        |      / (1.0 - tsum::DOUBLE / (nnn * nnn * nnn - nnn)::DOUBLE), 4)
        |  END AS h_corrected
        |FROM ag, t ORDER BY n""".stripMargin),

    // One-way ANOVA F + η² on document length across sources — the
    // mean-based complement of x195. Exact decimal sufficient statistics;
    // the one fp reduction Σ S_g²/n_g is an order-pinned fold.
    "x196_anova_f" -> sql(
      (s, dir) => Evaluation.anovaF(
        Tables.documents(s, dir), col("n_chars"), col("source")),
      """WITH pg AS (
        |  SELECT source AS g, count(*)::BIGINT AS ng,
        |    sum(n_chars)::HUGEINT AS sy,
        |    sum(n_chars::HUGEINT * n_chars)::HUGEINT AS sq
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1),
        |a AS (
        |  SELECT count(*)::BIGINT AS k,
        |    coalesce(sum(ng), 0)::HUGEINT AS nn,
        |    coalesce(sum(sy), 0)::HUGEINT AS s,
        |    coalesce(sum(sq), 0)::HUGEINT AS q,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(sy::DOUBLE * sy::DOUBLE / ng::DOUBLE ORDER BY g)),
        |      (x, y) -> x + y) AS sb
        |  FROM pg)
        |SELECT nn::BIGINT AS n, k AS n_groups,
        |  CASE WHEN k < 2 OR nn <= k OR (q::DOUBLE - sb) <= 0.0 THEN NULL
        |    ELSE round((sb - s::DOUBLE * s::DOUBLE / nn::DOUBLE)
        |        / (k::DOUBLE - 1.0)
        |      / ((q::DOUBLE - sb) / (nn::DOUBLE - k::DOUBLE)), 4)
        |  END AS f,
        |  CASE WHEN nn < 2
        |      OR (q::DOUBLE - s::DOUBLE * s::DOUBLE / nn::DOUBLE) <= 0.0
        |    THEN NULL
        |    ELSE round((sb - s::DOUBLE * s::DOUBLE / nn::DOUBLE)
        |      / (q::DOUBLE - s::DOUBLE * s::DOUBLE / nn::DOUBLE), 4)
        |  END AS eta2
        |FROM a ORDER BY n""".stripMargin),

    // McNemar's paired test: do the "contains ' the '" and "length ≥ 400"
    // English-detectors err at different rates on the SAME documents?
    // One aggregation of five conditional sums; exact integer ppm.
    "x197_mcnemar" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Evaluation.mcnemar(d,
          instr(lower(col("text")), " the ") > 0,
          col("n_chars") >= 400L,
          col("lang") === "en")
      },
      """WITH p AS (
        |  SELECT (strpos(lower(text), ' the ') > 0) AS pa,
        |    (n_chars >= 400) AS pb, (lang = 'en') AS y
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL),
        |a AS (
        |  SELECT count(*)::HUGEINT AS n,
        |    sum(CASE WHEN pa = y THEN 1 ELSE 0 END)::HUGEINT AS ca,
        |    sum(CASE WHEN pb = y THEN 1 ELSE 0 END)::HUGEINT AS cb,
        |    sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)::HUGEINT
        |      AS b_only,
        |    sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)::HUGEINT
        |      AS c_only
        |  FROM p)
        |SELECT n::BIGINT AS n,
        |  (CASE WHEN n = 0 THEN NULL ELSE (ca * 1000000) // n END)::BIGINT
        |    AS acc_a_ppm,
        |  (CASE WHEN n = 0 THEN NULL ELSE (cb * 1000000) // n END)::BIGINT
        |    AS acc_b_ppm,
        |  b_only::BIGINT AS b_only, c_only::BIGINT AS c_only,
        |  (CASE WHEN b_only + c_only = 0 THEN NULL
        |    ELSE ((abs(b_only - c_only) - 1) * (abs(b_only - c_only) - 1)
        |          * 1000000) // (b_only + c_only) END)::BIGINT AS chi2_ppm
        |FROM a ORDER BY n""".stripMargin),

    // Isotonic (PAV) calibration of a pseudo-score via the minimax
    // identity fitted(i) = max_{j≤i} min_{k≥i} avg(pos[j..k]/n[j..k]) —
    // floor commutes with min/max, so the truncated-ppm fit IS the floor
    // of the exact rational PAV fit. All joins on the bounded bin frame.
    "x198_pav_calibration" -> sql(
      (s, dir) => {
        Evaluation.pavCalibrate(
          Tables.documents(s, dir),
          (col("n_chars") % 1000L) / lit(1000.0d), col("lang") === "en")
      },
      """WITH sc AS (
        |  SELECT CAST(round(((n_chars % 1000) / 1000.0) * 10000) AS BIGINT)
        |      AS s4,
        |    (lang = 'en') AS yy
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |g AS (
        |  SELECT CASE WHEN s4 < 0 THEN -1 WHEN s4 >= 10000 THEN 10
        |      ELSE (s4 // 1000)::INT END AS bin,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN yy THEN 1 ELSE 0 END)::BIGINT AS n_pos
        |  FROM sc GROUP BY 1),
        |pref AS (
        |  SELECT bin, n, n_pos,
        |    sum(n) OVER (ORDER BY bin) AS cum_n,
        |    sum(n_pos) OVER (ORDER BY bin) AS cum_pos
        |  FROM g),
        |iv AS (
        |  SELECT j.bin AS j, k.bin AS k,
        |    (((k.cum_pos - (j.cum_pos - j.n_pos))::HUGEINT * 1000000)
        |      // (k.cum_n - (j.cum_n - j.n))::HUGEINT)::BIGINT AS a_ppm
        |  FROM pref j, pref k WHERE j.bin <= k.bin),
        |mn AS (
        |  SELECT b.bin, b.n, b.n_pos, iv.j, min(iv.a_ppm) AS mn
        |  FROM g b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
        |  GROUP BY 1, 2, 3, 4),
        |f AS (
        |  SELECT bin, n, n_pos, max(mn)::BIGINT AS fitted_ppm
        |  FROM mn GROUP BY 1, 2, 3)
        |SELECT bin,
        |  CASE WHEN bin < 0 OR bin >= 10 THEN NULL
        |    ELSE round(bin / 10.0, 4) END AS lo, n, n_pos,
        |  ((n_pos::HUGEINT * 1000000) // n)::BIGINT AS raw_ppm, fitted_ppm
        |FROM f ORDER BY bin""".stripMargin),

    // External cluster validation: ARI + NMI between the given embedding
    // labels and the deterministic IVF pivot cells — exact-integer ARI
    // (cross-multiplied pair counts), NMI via order-pinned ln folds. The
    // oracle replays the whole assignment (the x189 CTEs) + the algebra.
    "x199_cluster_agreement" -> sql(
      (s, dir) => {
        Clustering.clusterAgreement(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          nCells = 8, seed = "v1")
      },
      """WITH emb AS (SELECT vec_id, label, embedding FROM embeddings
        |  WHERE label IS NOT NULL),
        |pv AS (
        |  SELECT vec_id AS pid, embedding AS pvec,
        |    row_number() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        |  FROM (SELECT vec_id, embedding FROM embeddings)),
        |piv AS (SELECT pid, pvec, cell FROM pv WHERE cell < 8),
        |asg AS (
        |  SELECT e.vec_id, e.label, p.cell,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |        i -> (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)
        |           * (e.embedding[i]::DOUBLE - p.pvec[i]::DOUBLE)),
        |        (x, y) -> x + y), p.cell) AS rn
        |  FROM emb e CROSS JOIN piv p),
        |pts AS (SELECT label::BIGINT AS l, cell::BIGINT AS c FROM asg
        |  WHERE rn = 1),
        |cells AS (
        |  SELECT l, c, count(*)::BIGINT AS nij FROM pts GROUP BY 1, 2),
        |rm AS (SELECT l, sum(nij)::BIGINT AS ai FROM cells GROUP BY l),
        |cm AS (SELECT c, sum(nij)::BIGINT AS bj FROM cells GROUP BY c),
        |t AS (
        |  SELECT coalesce(sum(nij), 0)::HUGEINT AS nn,
        |    count(DISTINCT l)::BIGINT AS kl,
        |    count(DISTINCT c)::BIGINT AS kc,
        |    coalesce(sum((nij::HUGEINT * (nij - 1)) // 2), 0)::HUGEINT AS sij
        |  FROM cells),
        |sa AS (
        |  SELECT coalesce(sum((ai::HUGEINT * (ai - 1)) // 2), 0)::HUGEINT
        |      AS sa,
        |    -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((ai::DOUBLE / t.nn::DOUBLE) * ln(ai::DOUBLE / t.nn::DOUBLE)
        |        ORDER BY l)), (x, y) -> x + y) AS hl
        |  FROM rm, t),
        |sb AS (
        |  SELECT coalesce(sum((bj::HUGEINT * (bj - 1)) // 2), 0)::HUGEINT
        |      AS sb,
        |    -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((bj::DOUBLE / t.nn::DOUBLE) * ln(bj::DOUBLE / t.nn::DOUBLE)
        |        ORDER BY c)), (x, y) -> x + y) AS hc
        |  FROM cm, t),
        |mi AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((nij::DOUBLE / t.nn::DOUBLE)
        |          * ln(nij::DOUBLE * t.nn::DOUBLE
        |               / (rm.ai::DOUBLE * cm.bj::DOUBLE))
        |        ORDER BY cells.l, cells.c)), (x, y) -> x + y) AS mi
        |  FROM cells JOIN rm USING (l) JOIN cm USING (c), t)
        |SELECT nn::BIGINT AS n, kl AS n_labels, kc AS n_cells,
        |  (CASE WHEN nn < 2
        |      OR ((nn * (nn - 1)) // 2) * (sa.sa + sb.sb)
        |         - 2::HUGEINT * sa.sa * sb.sb = 0 THEN NULL
        |    ELSE (2000000::HUGEINT
        |        * (((nn * (nn - 1)) // 2) * sij - sa.sa * sb.sb))
        |      // (((nn * (nn - 1)) // 2) * (sa.sa + sb.sb)
        |          - 2::HUGEINT * sa.sa * sb.sb)
        |  END)::BIGINT AS ari_ppm,
        |  CASE WHEN nn < 2 OR hl <= 0.0 OR hc <= 0.0 THEN NULL
        |    ELSE round(mi / sqrt(hl * hc), 6) END AS nmi
        |FROM t, sa, sb, mi ORDER BY n""".stripMargin),

    // Box–Cox λ scan over document length: per λ the profile Gaussian
    // log-likelihood, every λ arm an order-pinned fold over the ONE
    // collected (value, count) array — the λ grid is division/sqrt/ln
    // only (no pow, whose last ulp differs across libm implementations).
    "x200_boxcox_scan" -> sql(
      (s, dir) => Evaluation.boxCoxScan(
        Tables.documents(s, dir), col("n_chars")),
      boxCoxOracle),

    // Friedman rank test over the daily-count table: blocks = days,
    // treatments = event types — the blocked complement of x195 (volume
    // drift across days cannot confound it). Doubled within-block
    // midranks keep every term an exact decimal; fp only in the close.
    "x201_friedman" -> sql(
      (s, dir) => {
        Seasonal.friedmanTest(
          Tables.events(s, dir), col("event_type"), col("ts"))
      },
      """WITH daily AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM daily),
        |sers AS (SELECT DISTINCT series FROM daily),
        |grid AS (
        |  SELECT d.day, s.series, coalesce(dd.cnt, 0)::BIGINT AS cnt
        |  FROM days d CROSS JOIN sers s
        |  LEFT JOIN daily dd ON dd.day = d.day AND dd.series = s.series),
        |rk AS (
        |  SELECT day, series,
        |    2 * rank() OVER (PARTITION BY day ORDER BY cnt)
        |      + count(*) OVER (PARTITION BY day, cnt) - 1 AS r2
        |  FROM grid),
        |pj AS (
        |  SELECT series, count(*)::BIGINT AS n, sum(r2)::HUGEINT AS rr2
        |  FROM rk GROUP BY 1),
        |sq AS (SELECT coalesce(sum(r2::HUGEINT * r2), 0)::HUGEINT AS sr2
        |  FROM rk),
        |ag AS (
        |  SELECT max(k)::BIGINT AS k, max(n)::BIGINT AS n,
        |    coalesce(sum((rr2 - n::HUGEINT * (k + 1))
        |      * (rr2 - n::HUGEINT * (k + 1))), 0)::HUGEINT AS num
        |  FROM (SELECT *, count(*) OVER ()::BIGINT AS k FROM pj))
        |SELECT n AS n_blocks, k AS n_treatments,
        |  CASE WHEN k < 2 OR n < 1
        |      OR (sr2 - n::HUGEINT * k * (k + 1) * (k + 1)) <= 0 THEN NULL
        |    ELSE round((k::DOUBLE - 1.0) * num::DOUBLE
        |      / (sr2 - n::HUGEINT * k * (k + 1) * (k + 1))::DOUBLE, 4)
        |  END AS chi2
        |FROM ag, sq ORDER BY n_blocks""".stripMargin),

    // Rank-biased overlap between BM25 with and without length
    // normalization: matched docs contribute precomputed literal tail
    // coefficients, folded in sorted (depth, doc) order. One cached
    // tokenization feeds both ranking variants.
    "x202_rbo_rankings" -> sql(
      (s, dir) => {
        Vocabulary.rboCompare(
          Tables.documents(s, dir), "text", "doc_id",
          Seq("q1" -> "merge sort", "q2" -> "hash join",
            "q3" -> "window scan", "q4" -> "slow query"), k = 10)
      },
      rboOracle(k = 10, p = 0.9)),

    // Herfindahl + Hill diversity numbers as a second stateless lens
    // over the SAME per-source mass state x166's Gini keeps: exact-ppm
    // HHI and inverse-Simpson, exp-entropy via an order-pinned fold.
    "x203_hhi_diversity" -> sql(
      (s, dir) => CorpusStats.finishHhi(CorpusStats.sourceMasses(
        Tables.documents(s, dir), col("source"), col("n_chars"))),
      """WITH m AS (
        |  SELECT source::VARCHAR AS grp, sum(n_chars)::BIGINT AS x
        |  FROM documents GROUP BY 1),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_sources,
        |    coalesce(sum(x::HUGEINT), 0)::HUGEINT AS tot,
        |    coalesce(sum(x::HUGEINT * x), 0)::HUGEINT AS sx2,
        |    -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((x::DOUBLE / (SELECT sum(x) FROM m)::DOUBLE)
        |           * ln(x::DOUBLE / (SELECT sum(x) FROM m)::DOUBLE)
        |        ORDER BY grp)), (p, q) -> p + q) AS hraw
        |  FROM m)
        |SELECT n_sources, tot::BIGINT AS total_mass,
        |  (CASE WHEN tot = 0 THEN NULL
        |    ELSE (1000000::HUGEINT * sx2) // (tot * tot) END)::BIGINT
        |    AS hhi_ppm,
        |  (CASE WHEN sx2 = 0 THEN NULL
        |    ELSE (1000000::HUGEINT * tot * tot) // sx2 END)::BIGINT
        |    AS ens_simpson_ppm,
        |  CASE WHEN tot = 0 THEN NULL ELSE round(exp(hraw), 4) END
        |    AS ens_shannon
        |FROM a ORDER BY n_sources""".stripMargin),

    // Cohen's d + Hedges' g between the en/non-en cohorts on document
    // length — the magnitude next to x172's significance. One
    // aggregation of six conditional sums; fp only in the close.
    "x204_effect_size" -> sql(
      (s, dir) => Evaluation.effectSize(
        Tables.documents(s, dir), col("n_chars"), col("lang") === "en"),
      """WITH a AS (
        |  SELECT
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    coalesce(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END)::HUGEINT,
        |      0) AS sa,
        |    coalesce(sum(CASE WHEN lang <> 'en' THEN n_chars ELSE 0 END)::HUGEINT,
        |      0) AS sb,
        |    coalesce(sum(CASE WHEN lang = 'en'
        |      THEN n_chars::HUGEINT * n_chars ELSE 0 END), 0) AS qa,
        |    coalesce(sum(CASE WHEN lang <> 'en'
        |      THEN n_chars::HUGEINT * n_chars ELSE 0 END), 0) AS qb
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
        |SELECT na AS n_a, nb AS n_b,
        |  CASE WHEN na = 0 THEN NULL
        |    ELSE round(sa::DOUBLE / na::DOUBLE, 4) END AS mean_a,
        |  CASE WHEN nb = 0 THEN NULL
        |    ELSE round(sb::DOUBLE / nb::DOUBLE, 4) END AS mean_b,
        |  CASE WHEN na < 2 OR nb < 2
        |      OR ((qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
        |          + (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE))
        |         / (na::DOUBLE + nb::DOUBLE - 2.0) <= 0.0 THEN NULL
        |    ELSE round((sa::DOUBLE / na::DOUBLE - sb::DOUBLE / nb::DOUBLE)
        |      / sqrt(((qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
        |          + (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE))
        |         / (na::DOUBLE + nb::DOUBLE - 2.0)), 4) END AS d,
        |  CASE WHEN na < 2 OR nb < 2
        |      OR ((qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
        |          + (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE))
        |         / (na::DOUBLE + nb::DOUBLE - 2.0) <= 0.0 THEN NULL
        |    ELSE round(((sa::DOUBLE / na::DOUBLE - sb::DOUBLE / nb::DOUBLE)
        |      / sqrt(((qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
        |          + (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE))
        |         / (na::DOUBLE + nb::DOUBLE - 2.0)))
        |      * (1.0 - 3.0 / (4.0 * (na::DOUBLE + nb::DOUBLE) - 9.0)), 4)
        |  END AS g
        |FROM a ORDER BY n_a""".stripMargin),

    // Nelson–Aalen cumulative hazard + Fleming–Harrington survival as a
    // second lens over the SAME life table x170's Kaplan–Meier keeps —
    // the hazard-scale view a churn model regresses on. Same order-
    // pinned array folds, sum instead of product.
    "x205_nelson_aalen" -> sql(
      (s, dir) => Survival.nelsonAalen(
        Tables.events(s, dir),
        concat_ws(":", col("user_id"), col("event_type")),
        col("ts"), churnGapDays = 7)
        .orderBy("duration"),
      """WITH d AS (
        |  SELECT user_id::VARCHAR || ':' || event_type AS u,
        |    CAST(ts AS DATE) AS dd FROM events),
        |h AS (SELECT max(dd) AS h FROM d),
        |per AS (SELECT u, min(dd) AS f, max(dd) AS l FROM d GROUP BY 1),
        |dur AS (
        |  SELECT date_diff('day', f, l)::BIGINT AS duration,
        |    (l < h.h - 7) AS churned
        |  FROM per, h),
        |lt AS (
        |  SELECT duration,
        |    sum(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT AS events,
        |    sum(CASE WHEN churned THEN 0 ELSE 1 END)::BIGINT AS censored
        |  FROM dur GROUP BY 1),
        |arr AS (
        |  SELECT list_sort(list([duration, events, censored])) AS o FROM lt),
        |f1 AS (
        |  SELECT o, list_reduce(
        |    list_prepend(0::BIGINT, list_transform(o, x -> x[2] + x[3])),
        |    (a, b) -> a + b) AS n FROM arr),
        |f2 AS (
        |  SELECT o, n, list_reduce(
        |    list_prepend([n], list_transform(o, x -> [x[2] + x[3]])),
        |    (acc, x) -> list_append(acc, acc[-1] - x[1])) AS rs FROM f1),
        |f3 AS (
        |  SELECT o, rs, list_transform(generate_series(1, len(o)),
        |    i -> o[i][2]::DOUBLE / rs[i]::DOUBLE) AS hs,
        |  list_transform(generate_series(1, len(o)),
        |    i -> o[i][2]::DOUBLE / (rs[i]::DOUBLE * rs[i]::DOUBLE)) AS hv
        |  FROM f2),
        |f4 AS (
        |  SELECT o, rs, list_reduce(
        |    list_prepend([0.0::DOUBLE], list_transform(hs, f -> [f])),
        |    (acc, x) -> list_append(acc, acc[-1] + x[1])) AS cum,
        |  list_reduce(
        |    list_prepend([0.0::DOUBLE], list_transform(hv, f -> [f])),
        |    (acc, x) -> list_append(acc, acc[-1] + x[1])) AS vs
        |  FROM f3),
        |ex AS (
        |  SELECT unnest(generate_series(1, len(o))) AS i, o, rs, cum, vs FROM f4)
        |SELECT o[i][1]::BIGINT AS duration, rs[i]::BIGINT AS at_risk,
        |  o[i][2]::BIGINT AS events, o[i][3]::BIGINT AS censored,
        |  round(cum[i + 1], 6) AS cum_hazard,
        |  round(exp(-cum[i + 1]), 6) AS fh_survival,
        |  round(vs[i + 1], 6) AS na_var
        |FROM ex ORDER BY duration""".stripMargin),

    // Recalibration-lift flagship: fit the PAV isotonic map on the ridge
    // probe's bin state and measure the Brier/ECE improvement — all from
    // ONE quantized bin state (fitted scores are bin-constant, so the
    // post-fit Brier is exact bin algebra, no second corpus pass).
    "x206_recalibration_lift" -> sql(
      (s, dir) => {
        val scored = Linalg.ridgeProbe(Tables.embeddings(s, dir), "embedding",
          col("label") < 5, dim = 64, carry = Seq("vec_id"),
          lambda = 0.1, iters = 48)
        Evaluation.recalibrationLift(
          scored, col("score"), col("y") === 1.0)
      },
      s"""WITH ${ridgeFitCtes},
        |sc AS MATERIALIZED (
        |  SELECT CAST(round(list_dot_product(d.e, (SELECT w FROM gw48))
        |      * 10000) AS BIGINT) AS s4,
        |    (d.y = 1.0) AS yy
        |  FROM d),
        |g AS (
        |  SELECT CASE WHEN s4 < 0 THEN -1 WHEN s4 >= 10000 THEN 10
        |      ELSE (s4 // 1000)::INT END AS bin,
        |    count(*)::BIGINT AS n, sum(s4)::HUGEINT AS sum_s4,
        |    sum(s4::HUGEINT * s4)::HUGEINT AS sum_sq4,
        |    sum(CASE WHEN yy THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |    sum(CASE WHEN yy THEN s4 ELSE 0 END)::HUGEINT AS sum_s4_pos
        |  FROM sc GROUP BY 1),
        |tot AS (
        |  SELECT coalesce(sum(n), 0)::HUGEINT AS nn,
        |    coalesce(sum(n_pos), 0)::HUGEINT AS pp,
        |    coalesce(sum(sum_sq4), 0)::HUGEINT AS sq,
        |    coalesce(sum(sum_s4_pos), 0)::HUGEINT AS sp
        |  FROM g),
        |bt AS (
        |  SELECT coalesce(sum(100::HUGEINT
        |      * abs(n_pos::HUGEINT * 10000 - sum_s4)), 0)::HUGEINT AS ecen
        |  FROM g),
        |pref AS (
        |  SELECT bin, n, n_pos,
        |    sum(n) OVER (ORDER BY bin) AS cum_n,
        |    sum(n_pos) OVER (ORDER BY bin) AS cum_pos
        |  FROM g),
        |iv AS (
        |  SELECT j.bin AS j, k.bin AS k,
        |    (((k.cum_pos - (j.cum_pos - j.n_pos))::HUGEINT * 1000000)
        |      // (k.cum_n - (j.cum_n - j.n))::HUGEINT)::BIGINT AS a_ppm
        |  FROM pref j, pref k WHERE j.bin <= k.bin),
        |mn AS (
        |  SELECT b.bin, b.n, b.n_pos, iv.j, min(iv.a_ppm) AS mn
        |  FROM g b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
        |  GROUP BY 1, 2, 3, 4),
        |fit AS (
        |  SELECT bin, n, n_pos, max(mn)::BIGINT AS f
        |  FROM mn GROUP BY 1, 2, 3),
        |af AS (
        |  SELECT
        |    coalesce(sum(n::HUGEINT * f * f
        |      - 2::HUGEINT * f * 1000000 * n_pos
        |      + 1000000000000::HUGEINT * n_pos), 0)::HUGEINT AS sqe,
        |    coalesce(sum(abs(n::HUGEINT * f - 1000000::HUGEINT * n_pos)),
        |      0)::HUGEINT AS ae,
        |    coalesce(sum(n), 0)::HUGEINT AS nn2
        |  FROM fit)
        |SELECT nn::BIGINT AS n, pp::BIGINT AS n_pos,
        |  (CASE WHEN nn = 0 THEN NULL
        |    ELSE ((sq - 20000::HUGEINT * sp + 100000000::HUGEINT * pp)
        |          * 1000000) // (100000000::HUGEINT * nn) END)::BIGINT
        |    AS brier_raw_ppm,
        |  (CASE WHEN nn2 = 0 THEN NULL
        |    ELSE (1000000::HUGEINT * sqe) // (1000000000000::HUGEINT * nn2)
        |  END)::BIGINT AS brier_pav_ppm,
        |  (CASE WHEN nn2 = 0 THEN NULL
        |    ELSE ((sq - 20000::HUGEINT * sp + 100000000::HUGEINT * pp)
        |          * 1000000) // (100000000::HUGEINT * nn)
        |      - (1000000::HUGEINT * sqe) // (1000000000000::HUGEINT * nn2)
        |  END)::BIGINT AS brier_lift_ppm,
        |  (CASE WHEN nn = 0 THEN NULL ELSE ecen // nn END)::BIGINT
        |    AS ece_raw_ppm,
        |  (CASE WHEN nn2 = 0 THEN NULL ELSE ae // nn2 END)::BIGINT
        |    AS ece_pav_ppm
        |FROM tot, bt, af ORDER BY n""".stripMargin),

    // Neyman-allocation stratified sample: a 120-row budget split across
    // sources ∝ N_h·σ_h (length variance), largest-remainder rounding,
    // md5-ranked deterministic draws. The oracle replays the allocation
    // algebra and every draw.
    "x207_neyman_sample" -> sql(
      (s, dir) => MixtureSampling.neymanSample(
        Tables.documents(s, dir), "source", col("n_chars"), "doc_id",
        totalN = 120, seed = "v1"),
      """WITH st AS (
        |  SELECT source::VARCHAR AS g, count(*)::BIGINT AS n,
        |    sum(n_chars::HUGEINT)::HUGEINT AS s,
        |    sum(n_chars::HUGEINT * n_chars)::HUGEINT AS q
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |wf AS (
        |  SELECT g, n,
        |    sqrt((q::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) / n::DOUBLE)
        |      * n::DOUBLE AS w
        |  FROM st),
        |ws AS (
        |  SELECT g, n, w,
        |    sum(w) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS wsum
        |  FROM wf),
        |qa AS (
        |  SELECT g, n, wsum,
        |    CASE WHEN wsum <= 0.0 THEN 0.0 ELSE 120.0 * w / wsum END AS quota
        |  FROM ws),
        |qb AS (
        |  SELECT g, n, wsum, quota,
        |    floor(quota)::BIGINT AS base, quota - floor(quota) AS frac
        |  FROM qa),
        |qc AS (
        |  SELECT g, n, wsum, base, frac,
        |    120 - sum(base) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS leftover,
        |    row_number() OVER (ORDER BY frac DESC, g)::BIGINT AS frk
        |  FROM qb),
        |al AS (
        |  SELECT g,
        |    CASE WHEN wsum <= 0.0 THEN 0
        |      ELSE least(base + CASE WHEN frk <= leftover THEN 1 ELSE 0 END, n)
        |    END AS alloc
        |  FROM qc),
        |drawn AS (
        |  SELECT d.source::VARCHAR AS stratum, d.doc_id AS id,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY md5('v1:' || d.doc_id::VARCHAR), d.doc_id)::BIGINT
        |      AS rk,
        |    a.alloc
        |  FROM documents d JOIN al a ON a.g = d.source::VARCHAR
        |  WHERE d.source IS NOT NULL AND d.n_chars IS NOT NULL)
        |SELECT stratum, id, rk FROM drawn WHERE rk <= alloc
        |ORDER BY stratum, rk""".stripMargin),

    // Cochran's Q across THREE paired English-detectors — the k-way
    // McNemar. One aggregation: per-classifier conditional sums plus
    // ΣR and ΣR² from the bounded per-row correct count.
    "x208_cochran_q" -> sql(
      (s, dir) => Evaluation.cochranQ(
        Tables.documents(s, dir),
        Seq(
          "the" -> (instr(lower(col("text")), " the ") > 0),
          "len" -> (col("n_chars") >= 400L),
          "and" -> (instr(lower(col("text")), " and ") > 0)),
        col("lang") === "en"),
      """WITH p AS (
        |  SELECT
        |    CASE WHEN (strpos(lower(text), ' the ') > 0) = (lang = 'en')
        |      THEN 1 ELSE 0 END AS oa,
        |    CASE WHEN (n_chars >= 400) = (lang = 'en')
        |      THEN 1 ELSE 0 END AS ob,
        |    CASE WHEN (strpos(lower(text), ' and ') > 0) = (lang = 'en')
        |      THEN 1 ELSE 0 END AS oc
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL),
        |a AS (
        |  SELECT count(*)::HUGEINT AS n,
        |    coalesce(sum(oa + ob + oc), 0)::HUGEINT AS sr,
        |    coalesce(sum((oa + ob + oc) * (oa + ob + oc)), 0)::HUGEINT AS sr2,
        |    sum(oa)::HUGEINT AS ca, sum(ob)::HUGEINT AS cb,
        |    sum(oc)::HUGEINT AS cc
        |  FROM p)
        |SELECT n::BIGINT AS n, 3::BIGINT AS k,
        |  (CASE WHEN n = 0 THEN NULL ELSE (ca * 1000000) // n END)::BIGINT
        |    AS acc_the_ppm,
        |  (CASE WHEN n = 0 THEN NULL ELSE (cb * 1000000) // n END)::BIGINT
        |    AS acc_len_ppm,
        |  (CASE WHEN n = 0 THEN NULL ELSE (cc * 1000000) // n END)::BIGINT
        |    AS acc_and_ppm,
        |  CASE WHEN n = 0 OR (3::HUGEINT * sr - sr2) <= 0 THEN NULL
        |    ELSE round((2::HUGEINT * (3::HUGEINT * (ca*ca + cb*cb + cc*cc)
        |          - (ca + cb + cc) * (ca + cb + cc)))::DOUBLE
        |      / (3::HUGEINT * sr - sr2)::DOUBLE, 4)
        |  END AS q
        |FROM a ORDER BY n""".stripMargin),

    // Weekly seasonal strength per event series: by the ANOVA identity,
    // the isodow-explained variance share η² = SSB/SST over the SAME
    // calendar-bounded daily frame the trend family keeps.
    "x209_seasonal_strength" -> sql(
      (s, dir) => Seasonal.seasonalStrength(
        Tables.events(s, dir), col("event_type"), col("ts")),
      """WITH daily AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT series, isodow(day)::INT AS dow, count(*)::BIGINT AS nd,
        |    sum(cnt)::HUGEINT AS sd, sum(cnt::HUGEINT * cnt)::HUGEINT AS qd
        |  FROM daily GROUP BY 1, 2),
        |ag AS (
        |  SELECT series, coalesce(sum(nd), 0)::BIGINT AS n_days,
        |    coalesce(sum(sd), 0)::HUGEINT AS s,
        |    coalesce(sum(qd), 0)::HUGEINT AS q,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(sd::DOUBLE * sd::DOUBLE / nd::DOUBLE ORDER BY dow)),
        |      (x, y) -> x + y) AS sb
        |  FROM dw GROUP BY series)
        |SELECT series, n_days,
        |  CASE WHEN n_days < 2
        |      OR (q::DOUBLE - s::DOUBLE * s::DOUBLE / n_days::DOUBLE) <= 0.0
        |    THEN NULL
        |    ELSE round((sb - s::DOUBLE * s::DOUBLE / n_days::DOUBLE)
        |      / (q::DOUBLE - s::DOUBLE * s::DOUBLE / n_days::DOUBLE), 4)
        |  END AS strength
        |FROM ag ORDER BY series""".stripMargin),

    // Wald–Wolfowitz runs test per series: do high-volume days clump?
    // Above/below-mean via exact cross-multiplied integers (no fp mean),
    // run boundaries from a lag window on the bounded daily frame.
    "x210_runs_test" -> sql(
      (s, dir) => Seasonal.runsTest(
        Tables.events(s, dir), col("event_type"), col("ts")),
      """WITH daily AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT series, count(*)::BIGINT AS nd, sum(cnt)::HUGEINT AS s
        |  FROM daily GROUP BY 1),
        |mk AS (
        |  SELECT d.series, d.day,
        |    CASE WHEN d.cnt::HUGEINT * t.nd > t.s THEN true
        |      WHEN d.cnt::HUGEINT * t.nd < t.s THEN false
        |      ELSE NULL END AS above
        |  FROM daily d JOIN tot t USING (series)),
        |mk2 AS (SELECT * FROM mk WHERE above IS NOT NULL),
        |rn AS (
        |  SELECT series, above,
        |    CASE WHEN lag(above) OVER (PARTITION BY series ORDER BY day)
        |        IS NULL
        |      OR lag(above) OVER (PARTITION BY series ORDER BY day) <> above
        |      THEN 1 ELSE 0 END AS chg
        |  FROM mk2),
        |ag AS (
        |  SELECT series, count(*)::BIGINT AS n,
        |    sum(CASE WHEN above THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN NOT above THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(chg)::BIGINT AS runs
        |  FROM rn GROUP BY 1)
        |SELECT series, n, n1 AS n_above, n2 AS n_below, runs,
        |  CASE WHEN n1 = 0 OR n2 = 0 OR n < 2
        |      OR (2.0 * n1::DOUBLE * n2::DOUBLE
        |          * (2.0 * n1::DOUBLE * n2::DOUBLE - n::DOUBLE)
        |          / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0))) <= 0.0
        |    THEN NULL
        |    ELSE round((runs::DOUBLE
        |        - (2.0 * n1::DOUBLE * n2::DOUBLE / n::DOUBLE + 1.0))
        |      / sqrt(2.0 * n1::DOUBLE * n2::DOUBLE
        |          * (2.0 * n1::DOUBLE * n2::DOUBLE - n::DOUBLE)
        |          / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0))), 4)
        |  END AS z
        |FROM ag ORDER BY series""".stripMargin),

    // Partial autocorrelation per series via the Durbin–Levinson
    // recursion UNROLLED into closed-form scalar algebra over the
    // pivoted 12-dp ACF values — the AR-order readout ACF smears.
    "x211_pacf" -> sql(
      (s, dir) => {
        Seasonal.pacf(
          Tables.events(s, dir), col("event_type"), col("ts"), maxLag = 5)
      },
      pacfOracle(maxLag = 5)),

    // Ljung–Box portmanteau per series: the white-noise gate before any
    // forecasting model. Gap-aware sum over the present lags, each with
    // its own (n − k) weight; order-pinned fold.
    "x212_ljung_box" -> sql(
      (s, dir) => {
        Seasonal.ljungBox(
          Tables.events(s, dir), col("event_type"), col("ts"), maxLag = 7)
      },
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.series, (b.day - a.day)::BIGINT AS lag,
        |    a.cnt AS ya, b.cnt AS yb
        |  FROM d a JOIN d b ON b.series = a.series
        |  WHERE (b.day - a.day) BETWEEN 1 AND 7),
        |g AS (
        |  SELECT series, lag, count(*)::BIGINT AS n_pairs,
        |    sum(ya::HUGEINT) AS sx, sum(yb::HUGEINT) AS sy,
        |    sum(ya::HUGEINT * ya) AS sxx, sum(yb::HUGEINT * yb) AS syy,
        |    sum(ya::HUGEINT * yb) AS sxy
        |  FROM p GROUP BY 1, 2),
        |a AS (
        |  SELECT series, lag,
        |    CASE WHEN n_pairs < 2
        |        OR (n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <= 0.0
        |        OR (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) <= 0.0
        |      THEN NULL
        |      ELSE round((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |        / (sqrt(n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |           * sqrt(n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
        |        12)
        |    END AS acf
        |  FROM g),
        |nd AS (SELECT series, count(*)::BIGINT AS n_days FROM d GROUP BY 1),
        |ag AS (
        |  SELECT a.series, max(nd.n_days)::BIGINT AS n_days,
        |    count(*)::BIGINT AS m_lags,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(CASE WHEN acf IS NULL OR nd.n_days - lag <= 0 THEN 0.0
        |        ELSE acf * acf / (nd.n_days - lag)::DOUBLE END
        |        ORDER BY lag)), (x, y) -> x + y) AS ssum
        |  FROM a JOIN nd ON nd.series = a.series
        |  GROUP BY a.series)
        |SELECT series, n_days, m_lags,
        |  CASE WHEN n_days < 3 THEN NULL
        |    ELSE round(n_days::DOUBLE * (n_days::DOUBLE + 2.0) * ssum, 4)
        |  END AS q
        |FROM ag ORDER BY series""".stripMargin),

    // Jarque–Bera normality per source on document length — the moment
    // gate next to x200's Box–Cox. Exact decimal raw moments (Σy..Σy⁴),
    // documented double central-moment algebra.
    "x213_jarque_bera" -> sql(
      (s, dir) => Evaluation.jarqueBera(
        Tables.documents(s, dir), col("n_chars"), col("source")),
      """WITH m AS (
        |  SELECT source::VARCHAR AS g, count(*)::BIGINT AS n,
        |    sum(n_chars::HUGEINT)::HUGEINT AS s1,
        |    sum(n_chars::HUGEINT * n_chars)::HUGEINT AS s2,
        |    sum(n_chars::HUGEINT * n_chars * n_chars)::HUGEINT AS s3,
        |    sum(n_chars::HUGEINT * n_chars * n_chars * n_chars)::HUGEINT AS s4
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1),
        |c AS (
        |  SELECT g, n,
        |    s1::DOUBLE / n::DOUBLE AS mean,
        |    s2::DOUBLE / n::DOUBLE - (s1::DOUBLE / n::DOUBLE)
        |      * (s1::DOUBLE / n::DOUBLE) AS m2,
        |    s3::DOUBLE / n::DOUBLE
        |      - 3.0 * (s1::DOUBLE / n::DOUBLE) * (s2::DOUBLE / n::DOUBLE)
        |      + 2.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
        |        * (s1::DOUBLE / n::DOUBLE) AS m3,
        |    s4::DOUBLE / n::DOUBLE
        |      - 4.0 * (s1::DOUBLE / n::DOUBLE) * (s3::DOUBLE / n::DOUBLE)
        |      + 6.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
        |        * (s2::DOUBLE / n::DOUBLE)
        |      - 3.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
        |        * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS m4
        |  FROM m)
        |SELECT g AS "group", n,
        |  CASE WHEN n < 2 OR m2 <= 0.0 THEN NULL
        |    ELSE round(m3 / sqrt(m2 * m2 * m2), 4) END AS skewness,
        |  CASE WHEN n < 2 OR m2 <= 0.0 THEN NULL
        |    ELSE round(m4 / (m2 * m2) - 3.0, 4) END AS ex_kurtosis,
        |  CASE WHEN n < 2 OR m2 <= 0.0 THEN NULL
        |    ELSE round(n::DOUBLE / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
        |        * (m3 / sqrt(m2 * m2 * m2))
        |      + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0), 4)
        |  END AS jb
        |FROM c ORDER BY "group"""".stripMargin),

    // CUPED variance reduction: per-user pre/post event counts split at
    // the calendar midpoint; theta, adjusted variance and exact-ppm rho2
    // from one aggregation of exact decimal sufficient statistics.
    "x214_cuped" -> sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
          .select(expr(
            "date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))").as("mid"))
        val perUser = ev.crossJoin(broadcast(bounds))
          .groupBy("user_id")
          .agg(
            sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("x"),
            sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("y"))
        Evaluation.cupedReport(perUser, col("x"), col("y"))
      },
      """WITH ev AS (
        |  SELECT user_id, ts::DATE AS day FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT min(day)
        |  + (((max(day) - min(day)) // 2))::INTEGER AS mid FROM ev),
        |pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN day < b.mid THEN 1 ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN day >= b.mid THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM ev, b GROUP BY user_id),
        |a AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(x::HUGEINT)::HUGEINT AS sx, sum(y::HUGEINT)::HUGEINT AS sy,
        |    sum(x::HUGEINT * x)::HUGEINT AS sxx,
        |    sum(y::HUGEINT * y)::HUGEINT AS syy,
        |    sum(x::HUGEINT * y)::HUGEINT AS sxy
        |  FROM pu)
        |SELECT n,
        |  CASE WHEN n < 2
        |      OR (sxx::DOUBLE * n::DOUBLE - sx::DOUBLE * sx::DOUBLE) <= 0.0
        |    THEN NULL
        |    ELSE round((sxy::DOUBLE * n::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |      / (sxx::DOUBLE * n::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
        |  END AS theta,
        |  CASE WHEN n < 2 THEN NULL
        |    ELSE round((syy::DOUBLE * n::DOUBLE - sy::DOUBLE * sy::DOUBLE)
        |      / (n::DOUBLE * n::DOUBLE), 6) END AS var_y,
        |  CASE WHEN n < 2
        |      OR (sxx::DOUBLE * n::DOUBLE - sx::DOUBLE * sx::DOUBLE) <= 0.0
        |      OR (syy::DOUBLE * n::DOUBLE - sy::DOUBLE * sy::DOUBLE) <= 0.0
        |    THEN NULL
        |    ELSE round(((syy::DOUBLE * n::DOUBLE - sy::DOUBLE * sy::DOUBLE)
        |        - (sxy::DOUBLE * n::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |          * (sxy::DOUBLE * n::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |          / (sxx::DOUBLE * n::DOUBLE - sx::DOUBLE * sx::DOUBLE))
        |      / (n::DOUBLE * n::DOUBLE), 6)
        |  END AS var_adj,
        |  CASE WHEN n < 2 THEN NULL
        |    WHEN (n::HUGEINT * sxx - sx * sx) <= 0
        |      OR (n::HUGEINT * syy - sy * sy) <= 0 THEN NULL
        |    ELSE (((n::HUGEINT * sxy - sx * sy)
        |        * (n::HUGEINT * sxy - sx * sy) * 1000000)
        |      // ((n::HUGEINT * sxx - sx * sx)
        |          * (n::HUGEINT * syy - sy * sy)))::BIGINT
        |  END AS reduction_ppm
        |FROM a ORDER BY n""".stripMargin),

    // Minimum detectable effect at 5%/80% over the x172 experiment
    // setup — plan-literal normal quantiles, documented double close.
    "x215_mde" -> sql(
      (s, dir) => Evaluation.mdeReport(
        Tables.events(s, dir),
        col("event_type") === "purchase",
        col("user_id") % 2 === 0),
      """WITH t AS (
        |  SELECT (user_id % 2 = 0) AS a, (event_type = 'purchase') AS s
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |agg AS (
        |  SELECT
        |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    sum(CASE WHEN a AND s THEN 1 ELSE 0 END)::BIGINT AS xa,
        |    sum(CASE WHEN NOT a AND s THEN 1 ELSE 0 END)::BIGINT AS xb
        |  FROM t)
        |SELECT na AS n_a, nb AS n_b,
        |  (CASE WHEN na + nb = 0 THEN NULL
        |    ELSE ((xa + xb)::HUGEINT * 1000000) // (na + nb) END)::BIGINT
        |    AS p_pooled_ppm,
        |  (CASE WHEN na = 0 OR nb = 0
        |      OR (xa + xb)::DOUBLE / (na + nb)::DOUBLE <= 0.0
        |      OR (xa + xb)::DOUBLE / (na + nb)::DOUBLE >= 1.0 THEN NULL
        |    ELSE CAST(round(2.801585218112969
        |      * sqrt(2.0 * ((xa + xb)::DOUBLE / (na + nb)::DOUBLE)
        |          * (1.0 - (xa + xb)::DOUBLE / (na + nb)::DOUBLE)
        |          / (2.0 / (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE)))
        |      * 1000000.0, 0) AS BIGINT) END) AS mde_ppm
        |FROM agg ORDER BY n_a""".stripMargin),

    // Welch's unequal-variance t between en/non-en document lengths —
    // the robust default where pooled-SD assumptions fail. Exact decimal
    // sufficient statistics, Welch–Satterthwaite dof in the close.
    "x216_welch_t" -> sql(
      (s, dir) => Evaluation.welchT(
        Tables.documents(s, dir), col("n_chars"), col("lang") === "en"),
      """WITH a AS (
        |  SELECT
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    coalesce(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END)::HUGEINT,
        |      0) AS sa,
        |    coalesce(sum(CASE WHEN lang <> 'en' THEN n_chars ELSE 0 END)::HUGEINT,
        |      0) AS sb,
        |    coalesce(sum(CASE WHEN lang = 'en'
        |      THEN n_chars::HUGEINT * n_chars ELSE 0 END), 0) AS qa,
        |    coalesce(sum(CASE WHEN lang <> 'en'
        |      THEN n_chars::HUGEINT * n_chars ELSE 0 END), 0) AS qb
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |c AS (
        |  SELECT na, nb, sa, sb,
        |    (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
        |      / (na::DOUBLE - 1.0) AS va,
        |    (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE)
        |      / (nb::DOUBLE - 1.0) AS vb
        |  FROM a)
        |SELECT na AS n_a, nb AS n_b,
        |  CASE WHEN na = 0 THEN NULL
        |    ELSE round(sa::DOUBLE / na::DOUBLE, 4) END AS mean_a,
        |  CASE WHEN nb = 0 THEN NULL
        |    ELSE round(sb::DOUBLE / nb::DOUBLE, 4) END AS mean_b,
        |  CASE WHEN na < 2 OR nb < 2
        |      OR (va / na::DOUBLE + vb / nb::DOUBLE) <= 0.0 THEN NULL
        |    ELSE round((sa::DOUBLE / na::DOUBLE - sb::DOUBLE / nb::DOUBLE)
        |      / sqrt(va / na::DOUBLE + vb / nb::DOUBLE), 4) END AS t,
        |  CASE WHEN na < 2 OR nb < 2
        |      OR (va / na::DOUBLE + vb / nb::DOUBLE) <= 0.0 THEN NULL
        |    ELSE round((va / na::DOUBLE + vb / nb::DOUBLE)
        |        * (va / na::DOUBLE + vb / nb::DOUBLE)
        |      / ((va / na::DOUBLE) * (va / na::DOUBLE) / (na::DOUBLE - 1.0)
        |        + (vb / nb::DOUBLE) * (vb / nb::DOUBLE) / (nb::DOUBLE - 1.0)),
        |      4) END AS dof
        |FROM c ORDER BY n_a""".stripMargin),

    // One-stop A/B readout over the x172/x215 conditional-sum state:
    // rates, observed effect, pooled z, MDE and the POWERED verdict.
    "x219_ab_readout" -> sql(
      (s, dir) => Evaluation.abReadout(
        Tables.events(s, dir),
        col("user_id") % 2 === 0,
        col("event_type") === "purchase"),
      """WITH t AS (
        |  SELECT (user_id % 2 = 0) AS a, (event_type = 'purchase') AS s
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |agg AS (
        |  SELECT
        |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    sum(CASE WHEN a AND s THEN 1 ELSE 0 END)::BIGINT AS xa,
        |    sum(CASE WHEN NOT a AND s THEN 1 ELSE 0 END)::BIGINT AS xb
        |  FROM t),
        |o AS (
        |  SELECT na, nb,
        |    CASE WHEN na = 0 THEN NULL
        |      ELSE (xa::HUGEINT * 1000000) // na END AS p_a_ppm,
        |    CASE WHEN nb = 0 THEN NULL
        |      ELSE (xb::HUGEINT * 1000000) // nb END AS p_b_ppm,
        |    CASE WHEN na = 0 OR nb = 0 THEN NULL
        |      ELSE abs((xa::HUGEINT * 1000000) // na
        |        - (xb::HUGEINT * 1000000) // nb) END AS diff_ppm,
        |    CASE WHEN na = 0 OR nb = 0 OR xa + xb = 0
        |        OR xa + xb = na + nb THEN NULL
        |      ELSE round((xa::DOUBLE / na::DOUBLE - xb::DOUBLE / nb::DOUBLE)
        |        / sqrt(((xa + xb)::DOUBLE / (na + nb)::DOUBLE)
        |          * (1.0 - (xa + xb)::DOUBLE / (na + nb)::DOUBLE)
        |          * (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE)), 4) END AS z,
        |    CASE WHEN na = 0 OR nb = 0
        |        OR (xa + xb)::DOUBLE / (na + nb)::DOUBLE <= 0.0
        |        OR (xa + xb)::DOUBLE / (na + nb)::DOUBLE >= 1.0 THEN NULL
        |      ELSE CAST(round(2.801585218112969
        |        * sqrt(2.0 * ((xa + xb)::DOUBLE / (na + nb)::DOUBLE)
        |            * (1.0 - (xa + xb)::DOUBLE / (na + nb)::DOUBLE)
        |            / (2.0 / (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE)))
        |        * 1000000.0, 0) AS BIGINT) END AS mde_ppm
        |  FROM agg)
        |SELECT na AS n_a, nb AS n_b, p_a_ppm::BIGINT AS p_a_ppm,
        |  p_b_ppm::BIGINT AS p_b_ppm, diff_ppm::BIGINT AS diff_ppm, z,
        |  mde_ppm,
        |  CASE WHEN diff_ppm IS NULL OR mde_ppm IS NULL THEN NULL
        |    ELSE diff_ppm >= mde_ppm END AS powered
        |FROM o ORDER BY n_a""".stripMargin),

    // One-sample KS uniformity audit of the HOUSE md5 draw — the
    // self-check under every deterministic sampler/sketch in the repo.
    // Distinct draws, two-phase range-exchange rank, one maxima agg.
    "x218_draw_uniformity" -> sql(
      (s, dir) => {
        DataQuality.drawUniformityAudit(
          Tables.documents(s, dir), col("doc_id"))
      },
      """WITH u AS (
        |  SELECT DISTINCT CAST(list_reduce(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (SELECT u, row_number() OVER (ORDER BY u) - 1 AS pos FROM u),
        |nn AS (SELECT count(*)::BIGINT AS n FROM u),
        |a AS (
        |  SELECT max(nn.n)::BIGINT AS n,
        |    max(CAST(pos + 1 AS DOUBLE) / CAST(nn.n AS DOUBLE) - u) AS dp,
        |    max(u - CAST(pos AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS dm
        |  FROM r, nn)
        |SELECT coalesce(n, 0)::BIGINT AS n,
        |  CASE WHEN coalesce(n, 0) = 0 THEN NULL
        |    ELSE round(dp, 6) END AS d_plus,
        |  CASE WHEN coalesce(n, 0) = 0 THEN NULL
        |    ELSE round(dm, 6) END AS d_minus,
        |  CASE WHEN coalesce(n, 0) = 0 THEN NULL
        |    ELSE round(greatest(dp, dm), 6) END AS d,
        |  CASE WHEN coalesce(n, 0) = 0 THEN NULL
        |    ELSE round(sqrt(n::DOUBLE) * greatest(dp, dm), 6) END AS d_scaled
        |FROM a ORDER BY n""".stripMargin),

    // Top-50 vocabulary alignment between src0 and the rest of the
    // corpus: set overlap, exact Jaccard ppm and RBO over the
    // (count DESC, term) rankings — one tokenization, TakeOrdered cuts.
    "x217_vocab_overlap" -> sql(
      (s, dir) => {
        Vocabulary.vocabOverlapTopK(
          Tables.documents(s, dir), "text", col("source") === "src0",
          k = 50)
      },
      vocabOverlapOracle(k = 50, p = 0.9)),

    // Frequent contiguous 3-step event sequences (the corpus-bounded core
    // of PrefixSpan): one keyed window builds the trigram stream in place,
    // one aggregation collapses it to the sequence vocabulary with exact
    // distinct-user support.
    "x220_frequent_sequences" -> sql(
      (s, dir) => SequenceMining.frequentSequences(
        Tables.events(s, dir), col("user_id"), col("event_type"),
        col("ts"), col("event_id"), k = 3, minUsers = 2L),
      """WITH e AS (
        |  SELECT user_id, event_type AS step_1,
        |    lead(event_type, 1) OVER w AS step_2,
        |    lead(event_type, 2) OVER w AS step_3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT step_1, step_2, step_3,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  count(*)::BIGINT AS n_occurrences
        |FROM e WHERE step_2 IS NOT NULL AND step_3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(DISTINCT user_id) >= 2
        |ORDER BY n_users DESC, step_1, step_2, step_3""".stripMargin),

    // Stationary distribution of the user-behavior Markov chain: one
    // keyed-window scan to the |types|^2 transition matrix (metadata),
    // then 12 integer fixed-point supersteps on the driver — the
    // pageRankFixedPoint discipline (shares via div, dangling mass folded
    // back uniformly), unrolled identically by the oracle.
    "x221_markov_stationary" -> sql(
      (s, dir) => SequenceMining.markovStationary(
        Tables.events(s, dir), col("user_id"), col("event_type"),
        col("ts"), col("event_id"), iters = 12),
      s"""WITH ev AS (
        |  SELECT event_type AS f,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS t
        |  FROM events),
        |m AS MATERIALIZED (
        |  SELECT f, t, count(*)::BIGINT AS cnt FROM ev
        |  WHERE t IS NOT NULL GROUP BY 1, 2),
        |ty AS MATERIALIZED (
        |  SELECT DISTINCT x AS ty FROM (
        |    SELECT f AS x FROM m UNION ALL SELECT t FROM m)),
        |nt AS MATERIALIZED (SELECT count(*)::BIGINT AS k FROM ty),
        |outd AS MATERIALIZED (
        |  SELECT ty.ty,
        |    coalesce((SELECT sum(cnt) FROM m WHERE m.f = ty.ty), 0)::BIGINT
        |      AS n_out
        |  FROM ty),
        |p0 AS MATERIALIZED (
        |  SELECT ty, n_out,
        |    (1000000000000 // (SELECT k FROM nt))::BIGINT AS r
        |  FROM outd),
        |${markovIterCtes(12)}
        |SELECT ty AS event_type, n_out, r AS pi_fp FROM p12
        |ORDER BY event_type""".stripMargin),

    // Majority-successor next-event baseline — the skill floor a sequence
    // model must beat: exact integer argmax per type (ties to the
    // smallest successor) scored over all observed transitions.
    "x222_next_event_baseline" -> sql(
      (s, dir) => SequenceMining.nextEventBaseline(
        Tables.events(s, dir), col("user_id"), col("event_type"),
        col("ts"), col("event_id")),
      """WITH ev AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |m AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS cnt FROM ev
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |b AS (
        |  SELECT from_type, to_type AS predicted_next, cnt AS n_correct,
        |    sum(cnt) OVER (PARTITION BY from_type)::BIGINT AS n_from,
        |    row_number() OVER (PARTITION BY from_type
        |      ORDER BY cnt DESC, to_type) AS rk
        |  FROM m)
        |SELECT from_type, predicted_next, n_from, n_correct,
        |  ((n_correct::HUGEINT * 1000000) // n_from)::BIGINT AS acc_ppm
        |FROM b WHERE rk = 1 ORDER BY from_type""".stripMargin),

    // Per-user event-type entropy (behavior concentration — the bot/spam
    // signal): one keyed agg to (user, type) cells, one to the per-user
    // sorted cell array, order-pinned ln fold (the x199/NMI contract).
    "x223_session_entropy" -> sql(
      (s, dir) => SequenceMining.sessionEntropy(
        Tables.events(s, dir), col("user_id"), col("event_type")),
      """WITH c AS (
        |  SELECT user_id, event_type AS ty, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, sum(c)::BIGINT AS n_events,
        |    count(*)::BIGINT AS n_types, list(c ORDER BY ty) AS cl
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n_events, n_types,
        |  round(list_reduce(
        |    list_prepend(0.0::DOUBLE, list_transform(cl, x ->
        |      -(x::DOUBLE / n_events::DOUBLE) * ln(x::DOUBLE / n_events::DOUBLE))),
        |    (a, b) -> a + b), 6) AS entropy
        |FROM u ORDER BY user_id""".stripMargin),

    // Confident-learning label-error joint (Northcutt 2021) over the
    // ridge probe's scores vs the given labels: per-class floor-div
    // thresholds on the s4 grid, margin-resolved confident predictions,
    // off-diagonal cells = label-error candidates. The oracle replays the
    // ENTIRE chain — ridge fit, scoring, thresholds, margins, joint.
    "x224_confident_learning" -> sql(
      (s, dir) => {
        val scored = Linalg.ridgeProbe(Tables.embeddings(s, dir), "embedding",
          col("label") < 5, dim = 64, carry = Seq("vec_id"),
          lambda = 0.1, iters = 48)
        LabelQa.confidentLearningJoint(scored, col("score"), col("y") === 1.0)
      },
      s"""WITH ${ridgeFitCtes},
        |sc AS MATERIALIZED (
        |  SELECT CAST(round(round(list_dot_product(d.e, (SELECT w FROM gw48)), 4)
        |      * 10000.0) AS BIGINT) AS s4,
        |    (d.y = 1.0) AS g
        |  FROM d),
        |thr AS MATERIALIZED (
        |  SELECT
        |    (sum(CASE WHEN g THEN s4 ELSE 0 END)
        |      // greatest(sum(CASE WHEN g THEN 1 ELSE 0 END), 1))::BIGINT AS t_pos,
        |    (sum(CASE WHEN NOT g THEN 10000 - s4 ELSE 0 END)
        |      // greatest(sum(CASE WHEN NOT g THEN 1 ELSE 0 END), 1))::BIGINT AS t_neg
        |  FROM sc),
        |st AS MATERIALIZED (
        |  SELECT g, s4 - t.t_pos AS m_pos, (10000 - s4) - t.t_neg AS m_neg,
        |    t.t_pos, t.t_neg
        |  FROM sc CROSS JOIN thr t),
        |pr AS (
        |  SELECT g,
        |    CASE WHEN m_pos >= 0 AND m_neg >= 0 THEN
        |        CASE WHEN m_pos >= m_neg THEN 1 ELSE 0 END
        |      WHEN m_pos >= 0 THEN 1
        |      WHEN m_neg >= 0 THEN 0
        |      ELSE NULL END AS pred,
        |    t_pos, t_neg
        |  FROM st),
        |un AS (SELECT count(*) FILTER (pred IS NULL)::BIGINT AS n_unconfident FROM pr)
        |SELECT (CASE WHEN g THEN 1 ELSE 0 END)::INT AS given, pred::INT AS pred,
        |  count(*)::BIGINT AS n, min(t_pos)::BIGINT AS t_pos,
        |  min(t_neg)::BIGINT AS t_neg,
        |  (SELECT n_unconfident FROM un) AS n_unconfident
        |FROM pr WHERE pred IS NOT NULL
        |GROUP BY 1, 2 ORDER BY given, pred""".stripMargin),

    // Agreement-weighted weak-label merge (the Snorkel-style vote with
    // exact integer weights) over the three English heuristics x208
    // tests: majority first, ppm agreement weights, weighted final vote;
    // `flipped` rows are the curation review queue.
    "x225_weak_labels" -> sql(
      (s, dir) => LabelQa.weakLabelModel(
        Tables.documents(s, dir), col("doc_id"),
        Seq(instr(lower(col("text")), " the ") > 0,
          col("n_chars") >= 400L,
          instr(lower(col("text")), " and ") > 0)),
      """WITH v AS (
        |  SELECT doc_id AS id,
        |    (strpos(lower(text), ' the ') > 0) AS v1,
        |    (n_chars >= 400) AS v2,
        |    (strpos(lower(text), ' and ') > 0) AS v3
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |mj AS (
        |  SELECT *, (v1::INT + v2::INT + v3::INT >= 2) AS majority FROM v),
        |w AS (
        |  SELECT
        |    (sum((v1 = majority)::BIGINT) * 1000000 // count(*))::BIGINT AS w1_ppm,
        |    (sum((v2 = majority)::BIGINT) * 1000000 // count(*))::BIGINT AS w2_ppm,
        |    (sum((v3 = majority)::BIGINT) * 1000000 // count(*))::BIGINT AS w3_ppm
        |  FROM mj),
        |f AS (
        |  SELECT mj.*, w.w1_ppm, w.w2_ppm, w.w3_ppm,
        |    (2 * (CASE WHEN v1 THEN w1_ppm ELSE 0 END
        |        + CASE WHEN v2 THEN w2_ppm ELSE 0 END
        |        + CASE WHEN v3 THEN w3_ppm ELSE 0 END)
        |      >= w1_ppm + w2_ppm + w3_ppm) AS final
        |  FROM mj CROSS JOIN w)
        |SELECT id, v1, v2, v3, majority, final,
        |  (final <> majority) AS flipped, w1_ppm, w2_ppm, w3_ppm
        |FROM f ORDER BY id""".stripMargin),

    // HBOS outlier top-50 (Goldstein 2012) over three integer document
    // features: integer floor-div bins against collected min/max
    // metadata, exact bin densities broadcast back, plan-literal ln sum
    // in fixed feature order, distributed TakeOrdered epilogue.
    "x226_hbos_outliers" -> sql(
      (s, dir) => Outliers.hbosTopK(
        Tables.documents(s, dir), col("doc_id"),
        Seq(
          "n_chars" -> col("n_chars"),
          "n_spaces" -> (length(col("text")) -
            length(regexp_replace(col("text"), " ", ""))),
          "n_digits" -> length(regexp_replace(col("text"), "[^0-9]", ""))),
        nBins = 16, topK = 50),
      hbosEcodBase +
        """
        |mm AS MATERIALIZED (
        |  SELECT min(n_chars) AS mn1, max(n_chars) AS mx1,
        |    min(n_spaces) AS mn2, max(n_spaces) AS mx2,
        |    min(n_digits) AS mn3, max(n_digits) AS mx3
        |  FROM b),
        |bb AS MATERIALIZED (
        |  SELECT id, n_chars, n_spaces, n_digits,
        |    ((n_chars - mm.mn1) * 16) // (mm.mx1 - mm.mn1 + 1) AS b1,
        |    ((n_spaces - mm.mn2) * 16) // (mm.mx2 - mm.mn2 + 1) AS b2,
        |    ((n_digits - mm.mn3) * 16) // (mm.mx3 - mm.mn3 + 1) AS b3
        |  FROM b CROSS JOIN mm),
        |c1 AS (SELECT b1, count(*)::BIGINT AS c FROM bb GROUP BY 1),
        |c2 AS (SELECT b2, count(*)::BIGINT AS c FROM bb GROUP BY 1),
        |c3 AS (SELECT b3, count(*)::BIGINT AS c FROM bb GROUP BY 1),
        |m1 AS (SELECT max(c)::BIGINT AS m FROM c1),
        |m2 AS (SELECT max(c)::BIGINT AS m FROM c2),
        |m3 AS (SELECT max(c)::BIGINT AS m FROM c3)
        |SELECT bb.id AS id, bb.n_chars, bb.n_spaces, bb.n_digits,
        |  round(((ln(m1.m::DOUBLE) - ln(c1.c::DOUBLE))
        |       + (ln(m2.m::DOUBLE) - ln(c2.c::DOUBLE)))
        |       + (ln(m3.m::DOUBLE) - ln(c3.c::DOUBLE)), 4) AS score
        |FROM bb
        |JOIN c1 USING (b1) JOIN c2 USING (b2) JOIN c3 USING (b3)
        |CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3
        |ORDER BY score DESC, id LIMIT 50""".stripMargin),

    // ECOD outlier top-50 (Li 2022): knob-free two-sided empirical tails
    // as exact ppm rationals from distinct-value prefix counts (bounded
    // frames for integer features), ln sum in fixed feature order,
    // TakeOrdered epilogue.
    "x227_ecod_outliers" -> sql(
      (s, dir) => Outliers.ecodTopK(
        Tables.documents(s, dir), col("doc_id"),
        Seq(
          "n_chars" -> col("n_chars"),
          "n_spaces" -> (length(col("text")) -
            length(regexp_replace(col("text"), " ", ""))),
          "n_digits" -> length(regexp_replace(col("text"), "[^0-9]", ""))),
        topK = 50),
      hbosEcodBase + "\n" + Seq(
        ("n_chars", 1), ("n_spaces", 2), ("n_digits", 3)).map { case (f, i) =>
        s"""|d$i AS MATERIALIZED (
          |  SELECT $f, count(*)::BIGINT AS c FROM b GROUP BY 1),
          |e$i AS MATERIALIZED (
          |  SELECT $f,
          |    ((sum(c) OVER (ORDER BY $f ROWS UNBOUNDED PRECEDING)) * 1000000
          |      // (sum(c) OVER ()))::BIGINT AS le,
          |    (((sum(c) OVER ()) - (sum(c) OVER (ORDER BY $f
          |        ROWS UNBOUNDED PRECEDING)) + c) * 1000000
          |      // (sum(c) OVER ()))::BIGINT AS ge
          |  FROM d$i)""".stripMargin
      }.mkString(",\n") +
        """
        |SELECT b.id AS id, b.n_chars, b.n_spaces, b.n_digits,
        |  round(((ln(1000000.0) - ln(least(e1.le, e1.ge)::DOUBLE))
        |       + (ln(1000000.0) - ln(least(e2.le, e2.ge)::DOUBLE)))
        |       + (ln(1000000.0) - ln(least(e3.le, e3.ge)::DOUBLE)), 4) AS score
        |FROM b
        |JOIN e1 USING (n_chars) JOIN e2 USING (n_spaces) JOIN e3 USING (n_digits)
        |ORDER BY score DESC, id LIMIT 50""".stripMargin),

    // Hill tail-index of the document-length distribution (Hill 1975):
    // distributed TakeOrdered of the top-201 order statistics, then one
    // order-pinned ln fold over the desc-sorted value array — the number
    // that says whether a per-doc length cap is load-bearing at 100 TB.
    "x229_hill_tail" -> sql(
      (s, dir) => CorpusStats.hillTailIndex(
        Tables.documents(s, dir), col("n_chars"), k = 200),
      """WITH t AS (
        |  SELECT n_chars::BIGINT AS x FROM documents
        |  WHERE n_chars > 0 ORDER BY x DESC LIMIT 201),
        |a AS (SELECT list_sort(list(x), 'DESC') AS arr FROM t),
        |s AS (
        |  SELECT arr[201] AS xk,
        |    list_reduce(
        |      list_transform(arr[1:200],
        |        v -> ln(v::DOUBLE / arr[201]::DOUBLE)),
        |      (x, y) -> x + y) AS sm
        |  FROM a)
        |SELECT 200::BIGINT AS k, xk AS x_tail_min,
        |  round(sm / 200.0, 6) AS inv_alpha,
        |  CASE WHEN sm > 0 THEN round(200.0 / sm, 6) END AS alpha
        |FROM s""".stripMargin),

    // Group-fairness audit (Hardt 2016) of the stopword-gate English
    // detector against the true lang label, per source: exact-ppm
    // demographic-parity and equalized-odds gaps — one keyed aggregation
    // to a |sources| frame, 1-row gap aggregate broadcast back.
    "x230_fairness_audit" -> sql(
      (s, dir) => Evaluation.fairnessAudit(
        Tables.documents(s, dir).where(col("text").isNotNull),
        group = col("source"),
        pred = concat(lit(" "), lower(col("text")), lit(" "))
          .contains(" the "),
        label = col("lang") === "en"),
      """WITH b AS (
        |  SELECT source AS grp,
        |    (strpos(' ' || lower(text) || ' ', ' the ') > 0) AS p,
        |    (lang = 'en') AS y
        |  FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL
        |    AND lang IS NOT NULL),
        |c AS (
        |  SELECT grp, count(*)::BIGINT AS n,
        |    sum(y::BIGINT)::BIGINT AS n_pos,
        |    sum(p::BIGINT)::BIGINT AS n_pred_pos,
        |    sum((p AND y)::BIGINT)::BIGINT AS tp,
        |    sum((p AND NOT y)::BIGINT)::BIGINT AS fp,
        |    sum((p = y)::BIGINT)::BIGINT AS ok
        |  FROM b GROUP BY grp),
        |r AS (
        |  SELECT grp, n, n_pos,
        |    ((n_pred_pos * 1000000) // n)::BIGINT AS pos_rate_ppm,
        |    CASE WHEN n_pos > 0
        |      THEN ((tp * 1000000) // n_pos)::BIGINT END AS tpr_ppm,
        |    CASE WHEN n - n_pos > 0
        |      THEN ((fp * 1000000) // (n - n_pos))::BIGINT END AS fpr_ppm,
        |    ((ok * 1000000) // n)::BIGINT AS acc_ppm
        |  FROM c),
        |g AS (
        |  SELECT (max(pos_rate_ppm) - min(pos_rate_ppm))::BIGINT AS dp_gap_ppm,
        |    greatest(
        |      coalesce(max(tpr_ppm) - min(tpr_ppm), 0),
        |      coalesce(max(fpr_ppm) - min(fpr_ppm), 0))::BIGINT AS eo_gap_ppm
        |  FROM r)
        |SELECT r.*, g.dp_gap_ppm, g.eo_gap_ppm
        |FROM r CROSS JOIN g ORDER BY grp""".stripMargin),

    // Leave-one-source-out ridge influence (Cook 1977's deletion
    // influence, lifted to groups over ADDITIVE gram sufficient
    // statistics): one scan aggregates per-source gram buffers, the 21
    // refits are driver-side buffer subtractions, one scoring scan
    // evaluates every model — exact data valuation with zero extra
    // passes. The oracle replays the per-group quantized sums, all 21
    // fits' 48 gradient steps keyed by the left-out source, and the
    // exact-ppm accuracy readout.
    "x228_logo_influence" -> sql(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val d = Tables.documents(s, dir).select("doc_id", "source")
        Linalg.logoInfluence(
          e.join(d, e("vec_id") === d("doc_id")),
          "embedding", col("label") < 5, col("source"), dim = 64,
          lambda = 0.1, iters = 48)
      },
      s"""WITH ${logoFitCtes}
        |, wl AS MATERIALIZED (SELECT lo, w FROM lgw48),
        |sc AS MATERIALIZED (
        |  SELECT d.grp, w.lo,
        |    ((round(list_dot_product(d.e, w.w), 4) >= 0.5) = (d.y = 1.0))
        |      AS ok
        |  FROM ld d CROSS JOIN wl w),
        |accs AS (
        |  SELECT lo, sum(ok::BIGINT)::BIGINT AS oka,
        |    sum(CASE WHEN grp = lo THEN ok::BIGINT ELSE 0 END)::BIGINT AS okho
        |  FROM sc GROUP BY lo),
        |bho AS (
        |  SELECT grp, sum(ok::BIGINT)::BIGINT AS okb
        |  FROM sc WHERE lo = '__base__' GROUP BY grp),
        |wdiff AS (
        |  SELECT f.lo,
        |    round(sqrt(list_dot_product(dl, dl)), 6) AS ws
        |  FROM (
        |    SELECT f.lo,
        |      list_transform(generate_series(1, 65),
        |        k -> f.w[k] - b.w[k]) AS dl
        |    FROM wl f
        |    CROSS JOIN (SELECT w FROM wl WHERE lo = '__base__') b
        |    WHERE f.lo <> '__base__') f)
        |SELECT g.grp AS source_out, g.n AS n_out,
        |  ((ab.oka * 1000000) // (SELECT n FROM lnt))::BIGINT AS base_acc_ppm,
        |  (((ab.oka - bho.okb) * 1000000)
        |    // ((SELECT n FROM lnt) - g.n))::BIGINT AS excl_base_ppm,
        |  (((a.oka - a.okho) * 1000000)
        |    // ((SELECT n FROM lnt) - g.n))::BIGINT AS excl_logo_ppm,
        |  ((((a.oka - a.okho) * 1000000) // ((SELECT n FROM lnt) - g.n))
        |    - (((ab.oka - bho.okb) * 1000000) // ((SELECT n FROM lnt) - g.n)))
        |    ::BIGINT AS influence_ppm,
        |  ((bho.okb * 1000000) // g.n)::BIGINT AS heldout_base_ppm,
        |  ((a.okho * 1000000) // g.n)::BIGINT AS heldout_logo_ppm,
        |  wdiff.ws AS w_shift
        |FROM lng g
        |JOIN accs a ON a.lo = g.grp
        |CROSS JOIN (SELECT oka FROM accs WHERE lo = '__base__') ab
        |JOIN bho ON bho.grp = g.grp
        |JOIN wdiff ON wdiff.lo = g.grp
        |ORDER BY source_out""".stripMargin),

    // mSPRT always-valid sequential A/B monitor (Johari 2017) with daily
    // looks over the event stream: raw events collapse to the calendar-
    // day frame in the first aggregation (six exact integer sums per
    // day); the mixture log-likelihood ratio and the running-max decision
    // run on that bounded frame. The peek-every-day complement to x172's
    // fixed-horizon z-test.
    "x231_msprt_monitor" -> sql(
      (s, dir) => Evaluation.msprtMonitor(
        Tables.events(s, dir),
        look = to_date(col("ts")),
        armA = col("user_id") % 2 === 0,
        value = col("value"),
        tau2 = 100.0, alpha = 0.05),
      s"""WITH b AS (
        |  SELECT ts::DATE AS look, (user_id % 2 = 0) AS a,
        |    floor(value * 1000000.0 + 0.5)::BIGINT AS q
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |st AS (
        |  SELECT look,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n_t,
        |    sum(CASE WHEN a THEN q ELSE 0 END)::HUGEINT AS s_t,
        |    sum(CASE WHEN a THEN q * q ELSE 0 END)::HUGEINT AS ss_t,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS n_c,
        |    sum(CASE WHEN NOT a THEN q ELSE 0 END)::HUGEINT AS s_c,
        |    sum(CASE WHEN NOT a THEN q * q ELSE 0 END)::HUGEINT AS ss_c
        |  FROM b GROUP BY look),
        |cum AS (
        |  SELECT look,
        |    (sum(n_t) OVER w)::BIGINT AS nt,
        |    (sum(s_t) OVER w)::HUGEINT AS stq,
        |    (sum(ss_t) OVER w)::HUGEINT AS sst,
        |    (sum(n_c) OVER w)::BIGINT AS nc,
        |    (sum(s_c) OVER w)::HUGEINT AS scq,
        |    (sum(ss_c) OVER w)::HUGEINT AS ssc
        |  FROM st
        |  WINDOW w AS (ORDER BY look ROWS UNBOUNDED PRECEDING)),
        |m AS (
        |  SELECT *,
        |    CASE WHEN nt > 0 THEN
        |      (CAST(stq AS DOUBLE) / 1000000.0) / CAST(nt AS DOUBLE) END AS mt,
        |    CASE WHEN nc > 0 THEN
        |      (CAST(scq AS DOUBLE) / 1000000.0) / CAST(nc AS DOUBLE) END AS mc,
        |    CASE WHEN nt > 0 THEN
        |      (CAST(sst AS DOUBLE) / 1000000000000.0)
        |      - (((CAST(stq AS DOUBLE) / 1000000.0)
        |          * (CAST(stq AS DOUBLE) / 1000000.0))
        |         / CAST(nt AS DOUBLE)) END AS ssqt,
        |    CASE WHEN nc > 0 THEN
        |      (CAST(ssc AS DOUBLE) / 1000000000000.0)
        |      - (((CAST(scq AS DOUBLE) / 1000000.0)
        |          * (CAST(scq AS DOUBLE) / 1000000.0))
        |         / CAST(nc AS DOUBLE)) END AS ssqc
        |  FROM cum),
        |m2 AS (
        |  SELECT *, mt - mc AS delta,
        |    CASE WHEN nt + nc - 2 > 0 THEN
        |      (ssqt + ssqc) / CAST(nt + nc - 2 AS DOUBLE) END AS s2p
        |  FROM m),
        |m3 AS (
        |  SELECT *,
        |    CASE WHEN nt > 0 AND nc > 0 THEN
        |      s2p * (1.0 / CAST(nt AS DOUBLE) + 1.0 / CAST(nc AS DOUBLE)) END
        |      AS vd
        |  FROM m2),
        |m4 AS (
        |  SELECT *,
        |    CASE WHEN nt >= 2 AND nc >= 2 AND s2p > 0.0 THEN
        |      0.5 * ln(vd / (vd + 100.0))
        |        + ((delta * delta) * 100.0) / ((2.0 * vd) * (vd + 100.0))
        |    END AS llr
        |  FROM m3),
        |m5 AS (
        |  SELECT *, max(llr) OVER (ORDER BY look ROWS UNBOUNDED PRECEDING)
        |    AS max_llr
        |  FROM m4)
        |SELECT look, nt AS n_t, nc AS n_c,
        |  round(mt, 6) AS mean_t, round(mc, 6) AS mean_c,
        |  round(delta, 6) AS delta,
        |  round(llr, 4) AS llr, round(max_llr, 4) AS max_llr,
        |  coalesce(max_llr >= ${math.log(1.0 / 0.05)}, false) AS reject
        |FROM m5 ORDER BY look""".stripMargin),

    // Entropic optimal transport between the even/odd embedding slices
    // over label cells (Cuturi 2013 via Sinkhorn–Knopp scaling): integer
    // fixed-point kernel + 30 BigInt scaling rounds on the |cells|²
    // driver metadata — drift that weights mass moves by embedding-space
    // distance, where JSD (x186) treats all reallocations alike. The
    // oracle replays the quantized centroids, the rational kernel, and
    // all 30 scaling rounds in HUGEINT.
    "x232_sinkhorn_ot" -> sql(
      (s, dir) => OptimalTransport.sinkhornPlan(
        Tables.embeddings(s, dir), "embedding",
        cellCol = col("label"), inA = col("vec_id") % 2 === 0,
        dim = 64, iters = 30),
      s"""WITH oe AS MATERIALIZED (
        |  SELECT label::BIGINT AS cell, (vec_id % 2 = 0) AS a,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND vec_id IS NOT NULL
        |    AND embedding IS NOT NULL AND len(embedding) = 64),
        |och AS MATERIALIZED (
        |  SELECT cell,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    count(*)::BIGINT AS n
        |  FROM oe GROUP BY cell),
        |ons AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb FROM och),
        |oq AS MATERIALIZED (
        |  SELECT cell, i.i AS d,
        |    sum(floor(v[i.i + 1] * 1048576.0 + 0.5)::BIGINT)::BIGINT AS q
        |  FROM oe CROSS JOIN (SELECT i FROM range(0, 64) t(i)) i
        |  GROUP BY 1, 2),
        |om AS MATERIALIZED (
        |  SELECT oq.cell, oq.d,
        |    (((oq.q // och.n) * 1000000) // 1048576)::BIGINT AS m
        |  FROM oq JOIN och USING (cell)),
        |occ AS MATERIALIZED (
        |  SELECT x.cell AS ci, y.cell AS cj,
        |    sum((x.m - y.m) * (x.m - y.m))::BIGINT AS cost
        |  FROM om x JOIN om y ON x.d = y.d GROUP BY 1, 2),
        |okk AS MATERIALIZED (
        |  SELECT ci, cj,
        |    least(cost // 5000, 1000000000)::BIGINT AS cs,
        |    (1000000000000 // (1000000
        |      + least(cost // 5000, 1000000000)))::HUGEINT AS k
        |  FROM occ),
        |oa AS MATERIALIZED (
        |  SELECT cell,
        |    ((na * 1000000) // (SELECT ta FROM ons))::HUGEINT AS mg
        |  FROM och),
        |ob AS MATERIALIZED (
        |  SELECT cell,
        |    ((nb * 1000000) // (SELECT tb FROM ons))::HUGEINT AS mg
        |  FROM och),
        |ov0 AS MATERIALIZED (SELECT cell, 1000000::HUGEINT AS v FROM och),
        |sv0 AS MATERIALIZED (SELECT cell, 1000000::HUGEINT AS v FROM och),
        |tv0 AS MATERIALIZED (SELECT cell, 1000000::HUGEINT AS v FROM och),
        |${sinkhornIterCtes(30, "o", "oa", "ob")},
        |${sinkhornIterCtes(30, "s", "oa", "oa")},
        |${sinkhornIterCtes(30, "t", "ob", "ob")},
        |opl AS MATERIALIZED (
        |  SELECT kk.ci, kk.cj, kk.k, kk.cs,
        |    (u.u * kk.k * v.v)::HUGEINT AS p
        |  FROM okk kk
        |  JOIN ou30 u ON u.cell = kk.ci
        |  JOIN ov30 v ON v.cell = kk.cj),
        |otot AS (
        |  SELECT greatest(sum(p), 1::HUGEINT) AS tot,
        |    (sum(p * cs) // greatest(sum(p), 1::HUGEINT))::BIGINT AS ot
        |  FROM opl),
        |${sinkhornCostCte("osf", "s", 30)},
        |${sinkhornCostCte("otf", "t", 30)}
        |SELECT pl.ci AS cell_a, pl.cj AS cell_b,
        |  oa.mg::BIGINT AS a_ppm, ob.mg::BIGINT AS b_ppm,
        |  pl.k::BIGINT AS k_ppm,
        |  ((pl.p * 1000000) // (SELECT tot FROM otot))::BIGINT AS p_ppm,
        |  (SELECT ot FROM otot) AS ot_cost,
        |  ((SELECT ot FROM otot)
        |    - ((SELECT ot FROM osf) + (SELECT ot FROM otf)) // 2)::BIGINT
        |    AS sk_div
        |FROM opl pl
        |JOIN oa ON oa.cell = pl.ci
        |JOIN ob ON ob.cell = pl.cj
        |ORDER BY cell_a, cell_b""".stripMargin),

    // MinHash-LSH parameter planner (MMDS §3): score every (bands, rows)
    // split of a 128-perm signature by its analytic detection probability
    // over the corpus's verified pair spectrum — exact integer square
    // chains on the ppm grid, no fp pow. The capacity-planning step
    // before a 100 TB dedup job.
    "x233_lsh_plan" -> sql(
      (s, dir) => LshPlanner.lshPlan(
        Tables.documents(s, dir), "text", "doc_id",
        shingleSize = 3, spectrumBands = 16, spectrumRowsPerBand = 4,
        thresholdPpm = 500000L, numPerms = 128, targetPpm = 950000L),
      lshPlanOracle(numPerms = 128, thresholdPpm = 500000L,
        targetPpm = 950000L)),

    // Simple Good–Turing discount table (Good 1953 / Gale–Sampson 1995):
    // the r → r* curve over the token frequency spectrum — exact integer
    // ppm, one explode→count scan, ≤ 11-row frequency-of-frequencies.
    "x234_good_turing" -> sql(
      (s, dir) => CorpusStats.goodTuringTable(
        Tables.documents(s, dir), "text", maxR = 10),
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tc AS (SELECT term, count(*)::BIGINT AS tf FROM tk GROUP BY 1),
        |tot AS (
        |  SELECT sum(tf)::BIGINT AS n_tokens,
        |    sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS f1
        |  FROM tc),
        |fof AS (
        |  SELECT tf AS r, count(*)::BIGINT AS n_r
        |  FROM tc WHERE tf <= 11 GROUP BY 1),
        |grid AS (SELECT r FROM range(1, 11) t(r))
        |SELECT g.r::BIGINT AS r,
        |  coalesce(f.n_r, 0)::BIGINT AS n_r,
        |  coalesce(f2.n_r, 0)::BIGINT AS n_r1,
        |  (CASE WHEN coalesce(f.n_r, 0) > 0
        |    THEN ((g.r + 1) * coalesce(f2.n_r, 0) * 1000000) // f.n_r
        |  END)::BIGINT AS r_star_ppm,
        |  (CASE WHEN coalesce(t.n_tokens, 0) > 0
        |    THEN (coalesce(f.n_r, 0) * g.r * 1000000) // t.n_tokens
        |  END)::BIGINT AS mass_ppm,
        |  (CASE WHEN coalesce(t.n_tokens, 0) > 0
        |    THEN (t.f1 * 1000000) // t.n_tokens
        |  END)::BIGINT AS p0_ppm
        |FROM grid g
        |LEFT JOIN fof f ON f.r = g.r
        |LEFT JOIN fof f2 ON f2.r = g.r + 1
        |CROSS JOIN tot t
        |ORDER BY r""".stripMargin),

    // Chapman capture-recapture estimate of the distinct-content universe
    // from the even/odd slice overlap on a 40-char content-prefix key —
    // "how much new content is left to crawl", exact integers.
    "x235_capture_recapture" -> sql(
      (s, dir) => CorpusStats.captureRecapture(
        Tables.documents(s, dir),
        key = substring(col("text"), 1, 40),
        sliceA = col("doc_id") % 2 === 0),
      """WITH k AS (
        |  SELECT md5(substr(text, 1, 40)) AS k, (doc_id % 2 = 0) AS a
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |g AS (
        |  SELECT k,
        |    max(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS in_a,
        |    max(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS in_b
        |  FROM k GROUP BY k)
        |SELECT sum(in_a)::BIGINT AS n_a, sum(in_b)::BIGINT AS n_b,
        |  sum(in_a * in_b)::BIGINT AS m_overlap,
        |  count(*)::BIGINT AS n_union,
        |  (((sum(in_a) + 1) * (sum(in_b) + 1))
        |    // (sum(in_a * in_b) + 1) - 1)::BIGINT AS chapman_est,
        |  (((sum(in_a) + 1) * (sum(in_b) + 1))
        |    // (sum(in_a * in_b) + 1) - 1 - count(*))::BIGINT AS unseen_est
        |FROM g ORDER BY n_a""".stripMargin),

    // ED-Join pre-flight (the x154 100 TB guard rail): price the exact
    // q-gram join's quadratic phase from the df spectrum BEFORE running
    // it — the linear prologue only, then group-then-multiply counts of
    // the pairs each branch would generate, and the routing verdict
    // (exact join vs approximate minhash/ppjoin siblings). Same fixture
    // as x154; every output is an exact integer / boolean, so the whole
    // prefix-selection pipeline (occurrence-numbered grams, union df,
    // rarest-(df,g,occ) windows) replays in SQL.
    "x236_qgram_preflight" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
        val dirty = d.select(col("doc_id"),
          expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
            "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
            .as("dirty_title"))
        FuzzyLinkage.qgramJoinPreflight(clean, dirty, "doc_id", "title",
          "doc_id", "dirty_title", maxDist = 1, q = 3)
          .orderBy("n_long_left")
      },
      """WITH l AS (
        |  SELECT doc_id AS id, substr(text, 1, 40) AS v,
        |    length(substr(text, 1, 40)) AS len
        |  FROM documents),
        |r AS (
        |  SELECT doc_id AS id,
        |    substr(substr(text, 1, 40), 1, (doc_id % 31)::INT)
        |      || substr(substr(text, 1, 40), (doc_id % 31)::INT + 2) AS v,
        |    length(substr(substr(text, 1, 40), 1, (doc_id % 31)::INT)
        |      || substr(substr(text, 1, 40), (doc_id % 31)::INT + 2)) AS len
        |  FROM documents),
        |ll AS (SELECT * FROM l WHERE len >= 6),
        |lr AS (SELECT * FROM r WHERE len >= 6),
        |gl0 AS (
        |  SELECT id, unnest(list_transform(generate_series(1, len - 2),
        |    i -> substr(v, i::INT, 3))) AS g
        |  FROM ll),
        |glm AS (SELECT id, g, count(*)::BIGINT AS m FROM gl0 GROUP BY 1, 2),
        |gl AS (SELECT id, g, unnest(generate_series(1, m)) AS occ FROM glm),
        |gr0 AS (
        |  SELECT id, unnest(list_transform(generate_series(1, len - 2),
        |    i -> substr(v, i::INT, 3))) AS g
        |  FROM lr),
        |grm AS (SELECT id, g, count(*)::BIGINT AS m FROM gr0 GROUP BY 1, 2),
        |gr AS (SELECT id, g, unnest(generate_series(1, m)) AS occ FROM grm),
        |dfreq AS MATERIALIZED (
        |  SELECT g, occ, count(*)::BIGINT AS df
        |  FROM (SELECT * FROM gl UNION ALL SELECT * FROM gr) GROUP BY 1, 2),
        |pl AS (
        |  SELECT g, occ FROM (
        |    SELECT gl.g, gl.occ, row_number() OVER (
        |      PARTITION BY gl.id ORDER BY df, gl.g, gl.occ) AS rn
        |    FROM gl JOIN dfreq USING (g, occ))
        |  WHERE rn <= 4),
        |pr AS (
        |  SELECT g, occ FROM (
        |    SELECT gr.g, gr.occ, row_number() OVER (
        |      PARTITION BY gr.id ORDER BY df, gr.g, gr.occ) AS rn
        |    FROM gr JOIN dfreq USING (g, occ))
        |  WHERE rn <= 4),
        |cl AS (SELECT g, occ, count(*)::BIGINT AS ca FROM pl GROUP BY 1, 2),
        |cr AS (SELECT g, occ, count(*)::BIGINT AS cb FROM pr GROUP BY 1, 2),
        |lp AS (
        |  SELECT coalesce(sum(ca * cb), 0)::BIGINT AS long_pairs
        |  FROM cl JOIN cr USING (g, occ)),
        |har AS (SELECT len AS bl, count(*)::BIGINT AS c_r FROM r GROUP BY 1),
        |hll AS (SELECT len AS bl, count(*)::BIGINT AS c_l FROM ll GROUP BY 1),
        |hsl AS (SELECT len, count(*)::BIGINT AS c FROM l WHERE len < 6 GROUP BY 1),
        |hsr AS (SELECT len, count(*)::BIGINT AS c FROM r WHERE len < 6 GROUP BY 1),
        |sp AS (
        |  SELECT coalesce(sum(p), 0)::BIGINT AS short_pairs FROM (
        |    SELECT b.c * har.c_r AS p FROM (
        |      SELECT c, unnest(generate_series(len - 1, len + 1)) AS bl
        |      FROM hsl) b
        |    JOIN har USING (bl)
        |    UNION ALL
        |    SELECT b.c * hll.c_l AS p FROM (
        |      SELECT c, unnest(generate_series(len - 1, len + 1)) AS bl
        |      FROM hsr) b
        |    JOIN hll USING (bl)))
        |SELECT
        |  (SELECT count(*) FROM ll)::BIGINT AS n_long_left,
        |  (SELECT count(*) FROM lr)::BIGINT AS n_long_right,
        |  (SELECT count(*) FROM l WHERE len < 6)::BIGINT AS n_short_left,
        |  (SELECT count(*) FROM r WHERE len < 6)::BIGINT AS n_short_right,
        |  long_pairs, short_pairs,
        |  (long_pairs + short_pairs)::BIGINT AS total_pairs,
        |  100000000::BIGINT AS budget_pairs,
        |  (long_pairs + short_pairs) <= 100000000 AS within_budget,
        |  CASE WHEN (long_pairs + short_pairs) <= 100000000
        |    THEN 'qgram_exact' ELSE 'approximate_minhash' END AS route
        |FROM lp CROSS JOIN sp ORDER BY n_long_left""".stripMargin),

    // Linear CKA (Kornblith 2019) between the embedding corpus and its
    // int8-grid quantized twin — "how much representation geometry
    // survives quantization", the go/no-go audit before shipping a
    // compressed embedding table. One 128-dim gram scan (the x109
    // kernel); the oracle replays the quantizer, the 2^-20 grid, the 6-dp
    // centered moments and the (i,j)-ordered Frobenius folds exactly.
    // k/32 grids are dyadic, so the Spark-side float cast is lossless and
    // the oracle can stay in DOUBLE.
    "x237_cka_quant" -> sql(
      (s, dir) =>
        Linalg.linearCka(
          Tables.embeddings(s, dir),
          col("embedding"),
          expr("transform(embedding, v -> CAST(greatest(least(" +
            "floor(CAST(v AS DOUBLE) * 32.0D + 0.5D), 127.0D), -127.0D)" +
            " / 32.0D AS FLOAT))"),
          dimA = 64, dimB = 64)
          .orderBy("n_rows"),
      """WITH d AS MATERIALIZED (
        |  SELECT list_concat(embedding::DOUBLE[],
        |    list_transform(embedding::DOUBLE[],
        |      v -> greatest(least(floor(v * 32.0 + 0.5), 127.0), -127.0)
        |        / 32.0)) AS e
        |  FROM embeddings),
        |nn AS MATERIALIZED (
        |  SELECT count(*)::DOUBLE AS n, count(*)::BIGINT AS nr FROM d),
        |idx AS (SELECT i FROM range(0, 128) t(i)),
        |mu AS MATERIALIZED (
        |  SELECT i.i AS i,
        |    round((sum(floor(d.e[i.i + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
        |           / 1048576.0) / (SELECT n FROM nn), 6) AS m
        |  FROM d CROSS JOIN idx i GROUP BY i.i),
        |prx AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
        |s2 AS MATERIALIZED (
        |  SELECT prx.i, prx.j,
        |    round((sum(floor(d.e[prx.i + 1] * d.e[prx.j + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
        |           / 1048576.0) / (SELECT n FROM nn), 6) AS s
        |  FROM d CROSS JOIN prx GROUP BY prx.i, prx.j),
        |cov AS MATERIALIZED (
        |  SELECT s2.i AS i, s2.j AS j, s2.s - mi.m * mj.m AS c
        |  FROM s2 JOIN mu mi ON mi.i = s2.i JOIN mu mj ON mj.i = s2.j
        |  UNION ALL
        |  SELECT s2.j, s2.i, s2.s - mi.m * mj.m
        |  FROM s2 JOIN mu mi ON mi.i = s2.i JOIN mu mj ON mj.i = s2.j
        |  WHERE s2.i <> s2.j),
        |fxx AS (
        |  SELECT list_reduce(list(c * c ORDER BY i, j), (x, y) -> x + y) AS f
        |  FROM cov WHERE i < 64 AND j < 64),
        |fyy AS (
        |  SELECT list_reduce(list(c * c ORDER BY i, j), (x, y) -> x + y) AS f
        |  FROM cov WHERE i >= 64 AND j >= 64),
        |fxy AS (
        |  SELECT list_reduce(list(c * c ORDER BY i, j), (x, y) -> x + y) AS f
        |  FROM cov WHERE i < 64 AND j >= 64)
        |SELECT (SELECT nr FROM nn) AS n_rows,
        |  round((SELECT f FROM fxx), 6) AS fro_xx,
        |  round((SELECT f FROM fyy), 6) AS fro_yy,
        |  round((SELECT f FROM fxy), 6) AS fro_xy,
        |  CASE WHEN (SELECT f FROM fxx) > 0 AND (SELECT f FROM fyy) > 0
        |    THEN round((SELECT f FROM fxy)
        |      / sqrt((SELECT f FROM fxx) * (SELECT f FROM fyy)), 6)
        |  END AS cka
        |ORDER BY n_rows""".stripMargin),

    // IPS/SNIPS off-policy evaluation of the uniform target policy over
    // the event log (+ the ESS / max-weight overlap diagnostics) — "can
    // these logs price a different policy at all?". One keyed aggregation
    // to the |actions| frame; exact integer micro/ppm arithmetic.
    "x238_ips_offpolicy" -> sql(
      (s, dir) => Evaluation.ipsOffPolicy(
        Tables.events(s, dir), col("event_type"), col("value")),
      """WITH b AS (
        |  SELECT event_type AS a, floor(value * 1000000.0 + 0.5)::BIGINT AS r
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |pa AS (SELECT a, count(*)::BIGINT AS n, sum(r)::BIGINT AS sr
        |  FROM b GROUP BY 1),
        |tot AS (SELECT coalesce(sum(n), 0)::BIGINT AS nev,
        |  count(*)::BIGINT AS k FROM pa),
        |w AS (
        |  SELECT pa.n, pa.sr,
        |    ((1000000::HUGEINT * t.nev) // (t.k * pa.n))::BIGINT AS w_ppm
        |  FROM pa CROSS JOIN tot t),
        |s AS (
        |  SELECT sum(sr::HUGEINT * w_ppm) AS srw,
        |    sum(n::HUGEINT * w_ppm) AS w1,
        |    sum(n::HUGEINT * w_ppm * w_ppm) AS w2,
        |    max(w_ppm)::BIGINT AS max_w_ppm
        |  FROM w)
        |SELECT t.nev AS n_events, t.k AS n_actions,
        |  (CASE WHEN t.nev > 0
        |    THEN s.srw // (1000000::HUGEINT * t.nev) END)::BIGINT AS ips_micro,
        |  (CASE WHEN t.nev > 0 AND s.w1 > 0
        |    THEN s.srw // s.w1 END)::BIGINT AS snips_micro,
        |  (CASE WHEN t.nev > 0 AND s.w2 > 0
        |    THEN (s.w1 * s.w1 * 1000000) // (s.w2 * t.nev) END)::BIGINT
        |    AS ess_ppm,
        |  s.max_w_ppm
        |FROM tot t CROSS JOIN s ORDER BY n_events""".stripMargin),

    // Multiplicative-weights domain reweighting (DoReMi-style, with MW's
    // linear payoff so every step is exact integer ppm): upweight the
    // sources whose short-doc loss rate exceeds the mixture's — the
    // weight table the samplers consume. 8 unrolled MW rounds replay
    // bit-for-bit as integer CTEs.
    "x239_mixture_mw" -> sql(
      (s, dir) => MixtureSampling.mixtureMwWeights(
        Tables.documents(s, dir),
        domain = col("source"),
        loss = lit(1.0d) - least(col("n_chars"), lit(2000L)).cast("double")
          / lit(2000.0d),
        etaPpm = 300000L, iters = 8),
      s"""WITH c AS MATERIALIZED (
        |  SELECT source AS d, count(*)::BIGINT AS n,
        |    sum(greatest(least(
        |      floor((1.0 - least(n_chars, 2000) / 2000.0) * 1000000.0
        |        + 0.5)::BIGINT,
        |      1000000), 0))::BIGINT AS sl
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |k AS (SELECT count(*)::BIGINT AS kk FROM c),
        |w0 AS MATERIALIZED (
        |  SELECT d, n, sl // n AS lbar,
        |    (1000000 // (SELECT kk FROM k))::BIGINT AS w
        |  FROM c),
        |${mwIterCtes(8, 300000L)}
        |SELECT d AS domain, n, lbar AS loss_ppm, w AS w_ppm,
        |  (w * (SELECT kk FROM k))::BIGINT AS boost_ppm
        |FROM w8 ORDER BY domain""".stripMargin),

    // Covariate-balance audit (standardized mean differences, Austin
    // 2009) between the deterministic A/B arms over the event log — the
    // "is the randomizer actually balanced?" table read BEFORE x172/x219.
    // Exact per-arm integer moment cells; rounded doubles carry the
    // signed-zero normalization (+ 0.0) on the oracle side.
    "x240_smd_balance" -> sql(
      (s, dir) => Evaluation.smdBalance(
        Tables.events(s, dir),
        treatment = col("user_id") % 2 === 1,
        covariates = Seq(
          "hour" -> hour(col("ts")).cast("double"),
          "props_len" -> length(col("props")).cast("double"),
          "value" -> col("value"))),
      """WITH raw AS (
        |  SELECT (user_id % 2 = 1) AS t, 'hour' AS cov, hour(ts)::DOUBLE AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  UNION ALL
        |  SELECT (user_id % 2 = 1), 'props_len', length(props)::DOUBLE
        |  FROM events WHERE user_id IS NOT NULL AND props IS NOT NULL
        |  UNION ALL
        |  SELECT (user_id % 2 = 1), 'value', value
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |q AS (SELECT t, cov, floor(v * 1000000.0 + 0.5)::BIGINT AS q FROM raw),
        |g AS (
        |  SELECT cov,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN NOT t THEN q END)::BIGINT AS s0,
        |    sum(CASE WHEN t THEN q END)::BIGINT AS s1,
        |    sum(CASE WHEN NOT t THEN q::HUGEINT * q END) AS ss0,
        |    sum(CASE WHEN t THEN q::HUGEINT * q END) AS ss1
        |  FROM q GROUP BY 1),
        |m AS (
        |  SELECT cov, n0, n1,
        |    (s0::DOUBLE / 1000000.0) / n0 AS m0,
        |    (s1::DOUBLE / 1000000.0) / n1 AS m1,
        |    (ss0::DOUBLE / 1000000000000.0) / n0
        |      - ((s0::DOUBLE / 1000000.0) / n0)
        |        * ((s0::DOUBLE / 1000000.0) / n0) AS v0,
        |    (ss1::DOUBLE / 1000000000000.0) / n1
        |      - ((s1::DOUBLE / 1000000.0) / n1)
        |        * ((s1::DOUBLE / 1000000.0) / n1) AS v1
        |  FROM g)
        |SELECT cov AS covariate, n0, n1,
        |  (CASE WHEN n0 > 0 THEN round(m0, 6) + 0.0 END) AS mean0,
        |  (CASE WHEN n1 > 0 THEN round(m1, 6) + 0.0 END) AS mean1,
        |  (CASE WHEN n0 > 0 THEN round(v0, 6) + 0.0 END) AS var0,
        |  (CASE WHEN n1 > 0 THEN round(v1, 6) + 0.0 END) AS var1,
        |  (CASE WHEN n0 > 0 AND n1 > 0 AND v0 + v1 > 0
        |    THEN round((m1 - m0) / sqrt((v1 + v0) / 2.0), 4) + 0.0
        |  END) AS smd
        |FROM m ORDER BY covariate""".stripMargin),

    // Cross-fitted doubly-robust off-policy estimate (Dudik 2011): the
    // per-action direct-method baseline is fit on even event_ids and the
    // IPS term corrects only its residuals on the odd half — x238's
    // variance-reduced sibling, same exact integer discipline.
    "x241_dr_offpolicy" -> sql(
      (s, dir) => Evaluation.drOffPolicy(
        Tables.events(s, dir), col("event_type"), col("value"),
        fitSplit = col("event_id") % 2 === 0),
      """WITH b AS (
        |  SELECT event_type AS a, floor(value * 1000000.0 + 0.5)::BIGINT AS r,
        |    (event_id % 2 = 0) AS fit
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |c AS (
        |  SELECT a,
        |    sum(CASE WHEN fit THEN 1 ELSE 0 END)::BIGINT AS n_fit,
        |    sum(CASE WHEN fit THEN r END)::BIGINT AS sr_fit,
        |    sum(CASE WHEN NOT fit THEN 1 ELSE 0 END)::BIGINT AS n_ev,
        |    sum(CASE WHEN NOT fit THEN r END)::BIGINT AS sr_ev
        |  FROM b GROUP BY 1),
        |tot AS (
        |  SELECT coalesce(sum(n_ev), 0)::BIGINT AS n_eval,
        |    coalesce(sum(n_fit), 0)::BIGINT AS n_fit_total,
        |    coalesce(sum(CASE WHEN n_ev > 0 THEN 1 ELSE 0 END), 0)::BIGINT
        |      AS n_actions,
        |    coalesce(sum(sr_fit), 0)::BIGINT AS sr_fit_total
        |  FROM c),
        |w AS (
        |  SELECT c.n_ev, c.sr_ev,
        |    (CASE WHEN c.n_fit > 0 THEN c.sr_fit // c.n_fit
        |      WHEN t.n_fit_total > 0 THEN t.sr_fit_total // t.n_fit_total
        |      ELSE 0 END)::BIGINT AS qhat,
        |    ((1000000::HUGEINT * t.n_eval) // (t.n_actions * c.n_ev))::BIGINT
        |      AS w_ppm
        |  FROM c CROSS JOIN tot t WHERE c.n_ev > 0),
        |s AS (
        |  SELECT coalesce(sum(qhat), 0)::BIGINT AS sum_qhat,
        |    sum((sr_ev - n_ev * qhat)::HUGEINT * w_ppm) AS resw,
        |    sum(sr_ev::HUGEINT * w_ppm) AS srw
        |  FROM w)
        |SELECT t.n_eval, t.n_fit_total AS n_fit, t.n_actions,
        |  (CASE WHEN t.n_actions > 0
        |    THEN s.sum_qhat // t.n_actions END)::BIGINT AS dm_micro,
        |  (CASE WHEN t.n_eval > 0
        |    THEN s.resw // (1000000::HUGEINT * t.n_eval) END)::BIGINT
        |    AS corr_micro,
        |  (CASE WHEN t.n_eval > 0 AND t.n_actions > 0
        |    THEN s.sum_qhat // t.n_actions
        |      + s.resw // (1000000::HUGEINT * t.n_eval) END)::BIGINT
        |    AS dr_micro,
        |  (CASE WHEN t.n_eval > 0
        |    THEN s.srw // (1000000::HUGEINT * t.n_eval) END)::BIGINT
        |    AS ips_micro
        |FROM tot t CROSS JOIN s ORDER BY n_eval""".stripMargin),

    // Fleiss' kappa across three deterministic raters (char/space/digit
    // bucketers) — the multi-rater agreement gate in front of the weak-
    // label merge (x225); x120's Cohen kappa generalized. Exact integer
    // ppm via the pair-agreement identity.
    "x242_fleiss_kappa" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .where(col("text").isNotNull && col("n_chars").isNotNull)
        val sp = length(col("text")) -
          length(regexp_replace(col("text"), " ", ""))
        val dg = length(regexp_replace(col("text"), "[^0-9]", ""))
        LabelQa.fleissKappa(d, Seq(
          when(col("n_chars") < 216, "short")
            .when(col("n_chars") < 379, "mid").otherwise("long"),
          when(sp < 38, "short").when(sp < 68, "mid").otherwise("long"),
          when(dg < 5, "short").when(dg < 12, "mid").otherwise("long")))
      },
      """WITH r AS (
        |  SELECT
        |    CASE WHEN n_chars < 216 THEN 'short'
        |      WHEN n_chars < 379 THEN 'mid' ELSE 'long' END AS r0,
        |    CASE WHEN sp < 38 THEN 'short'
        |      WHEN sp < 68 THEN 'mid' ELSE 'long' END AS r1,
        |    CASE WHEN dg < 5 THEN 'short'
        |      WHEN dg < 12 THEN 'mid' ELSE 'long' END AS r2
        |  FROM (SELECT n_chars,
        |      length(text) - length(replace(text, ' ', '')) AS sp,
        |      length(regexp_replace(text, '[^0-9]', '', 'g')) AS dg
        |    FROM documents
        |    WHERE text IS NOT NULL AND n_chars IS NOT NULL)),
        |row_s AS (
        |  SELECT count(*)::BIGINT AS n_items,
        |    coalesce(sum(2 * ((CASE WHEN r0 = r1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN r0 = r2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN r1 = r2 THEN 1 ELSE 0 END))), 0)::BIGINT AS s
        |  FROM r),
        |cc AS (
        |  SELECT lab, count(*)::BIGINT AS c FROM (
        |    SELECT r0 AS lab FROM r
        |    UNION ALL SELECT r1 FROM r
        |    UNION ALL SELECT r2 FROM r)
        |  GROUP BY 1),
        |e AS (SELECT coalesce(sum(c::HUGEINT * c), 0::HUGEINT) AS e FROM cc)
        |SELECT n_items, 3::BIGINT AS n_raters,
        |  (CASE WHEN n_items > 0
        |    THEN (s::HUGEINT * 1000000) // (n_items::HUGEINT * 6)
        |  END)::BIGINT AS p_bar_ppm,
        |  (CASE WHEN n_items > 0
        |    THEN (e.e * 1000000) // (n_items::HUGEINT * n_items * 9)
        |  END)::BIGINT AS p_e_ppm,
        |  (CASE WHEN n_items > 0 AND n_items::HUGEINT * n_items * 9 <> e.e
        |    THEN ((s::HUGEINT * (n_items::HUGEINT * n_items * 9)
        |        - e.e * (n_items::HUGEINT * 6)) * 1000000)
        |      // ((n_items::HUGEINT * 6)
        |        * (n_items::HUGEINT * n_items * 9 - e.e))
        |  END)::BIGINT AS kappa_ppm
        |FROM row_s CROSS JOIN e ORDER BY n_items""".stripMargin),

    // ZCA whitening of the embedding corpus: C_ridge^{-1/2} via 20 coupled
    // Newton-Schulz rounds on the trace-normalized ridged covariance (the
    // rotation-free decorrelation before cosine retrieval / probes), fit
    // from ONE x109-kernel gram scan and broadcast back as a projection.
    // The oracle replays every matmul as a k-ascending ordered fold on
    // dense 64x64 cell frames; wres certifies the achieved whiteness.
    "x243_zca_whiten" -> sql(
      (s, dir) =>
        Linalg.zcaWhiten(Tables.embeddings(s, dir), "embedding", dim = 64,
          carry = Seq("vec_id", "label"), eps = 0.01, iters = 20)
          .orderBy("vec_id"),
      s"""WITH ${zcaFitCtes(20, "0.01")}
        |SELECT d.vec_id, d.label,
        |  round(list_dot_product(d.e, (SELECT v FROM w0l))
        |    - (SELECT b FROM b0), 4) + 0.0 AS z1,
        |  round(list_dot_product(d.e, (SELECT v FROM w1l))
        |    - (SELECT b FROM b1), 4) + 0.0 AS z2,
        |  round((SELECT r FROM wres), 4) + 0.0 AS wres
        |FROM d ORDER BY d.vec_id""".stripMargin),

    // Quadratic-kernel MMD between the even/odd embedding slices: the
    // kernel two-sample test whose poly-2 kernel collapses to
    // ||E_P[xx'] - E_Q[xx']||_F — ONE grouped gram scan, no pairwise
    // sums. The representation-drift complement to x232/x75.
    "x244_embedding_mmd" -> sql(
      (s, dir) => Linalg.quadMmd(Tables.embeddings(s, dir), "embedding",
        sliceA = col("vec_id") % 2 === 0, dim = 64),
      """WITH d AS MATERIALIZED (
        |  SELECT (vec_id % 2 = 0) AS a, embedding::DOUBLE[] AS e
        |  FROM embeddings WHERE vec_id IS NOT NULL),
        |na AS (SELECT count(*)::DOUBLE AS n, count(*)::BIGINT AS nr
        |  FROM d WHERE a),
        |nb AS (SELECT count(*)::DOUBLE AS n, count(*)::BIGINT AS nr
        |  FROM d WHERE NOT a),
        |idx AS (SELECT i FROM range(0, 64) t(i)),
        |prx AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
        |sa AS MATERIALIZED (
        |  SELECT prx.i, prx.j,
        |    round((sum(floor(d.e[prx.i + 1] * d.e[prx.j + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
        |           / 1048576.0) / (SELECT n FROM na), 6) AS s
        |  FROM d CROSS JOIN prx WHERE d.a GROUP BY prx.i, prx.j),
        |sb AS MATERIALIZED (
        |  SELECT prx.i, prx.j,
        |    round((sum(floor(d.e[prx.i + 1] * d.e[prx.j + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
        |           / 1048576.0) / (SELECT n FROM nb), 6) AS s
        |  FROM d CROSS JOIN prx WHERE NOT d.a GROUP BY prx.i, prx.j),
        |ca AS (SELECT i, j, s FROM sa
        |  UNION ALL SELECT j, i, s FROM sa WHERE i <> j),
        |cb AS (SELECT i, j, s FROM sb
        |  UNION ALL SELECT j, i, s FROM sb WHERE i <> j),
        |m2 AS (
        |  SELECT list_reduce(list((ca.s - cb.s) * (ca.s - cb.s)
        |    ORDER BY ca.i, ca.j), (x, y) -> x + y) AS v
        |  FROM ca JOIN cb ON ca.i = cb.i AND ca.j = cb.j)
        |SELECT (SELECT nr FROM na) AS n_a, (SELECT nr FROM nb) AS n_b,
        |  round((SELECT v FROM m2), 6) + 0.0 AS mmd2,
        |  round(sqrt((SELECT v FROM m2)), 6) + 0.0 AS mmd
        |ORDER BY n_a""".stripMargin),

    // Effective-rank / representation-collapse audit of the embedding
    // covariance: participation ratio tr(C)^2/||C||_F^2 (eigen-free) +
    // the top-eigenvalue share from x109's fixed power iteration — the
    // "is this embedding space secretly low-rank?" dashboard row.
    "x245_effective_rank" -> sql(
      (s, dir) => Linalg.effectiveRank(Tables.embeddings(s, dir),
        "embedding", dim = 64, iters = 12),
      s"""WITH $pcaFitCtes,
        |fr AS (
        |  SELECT list_reduce(list(c * c ORDER BY i, j), (x, y) -> x + y) AS f
        |  FROM cov)
        |SELECT (SELECT n FROM nn)::BIGINT AS n_rows,
        |  round((SELECT t FROM trc), 6) + 0.0 AS trace,
        |  round((SELECT f FROM fr), 6) + 0.0 AS frob2,
        |  CASE WHEN (SELECT f FROM fr) > 0
        |    THEN round((SELECT t FROM trc) * (SELECT t FROM trc)
        |      / (SELECT f FROM fr), 4) + 0.0 END AS pr,
        |  CASE WHEN (SELECT t FROM trc) > 0 AND (SELECT f FROM fr) > 0
        |    THEN round((SELECT lam FROM l1) / (SELECT t FROM trc), 4) + 0.0
        |  END AS top_evr
        |ORDER BY n_rows""".stripMargin),

    // x15's cosine near-dup at the FULL-RECALL parameter point (the x14
    // precedent): nCentroids=1 puts every vector in one Voronoi cell, so
    // cell blocking degenerates to the exact all-pairs scan and the output
    // is precisely {(a, b) : cos(a, b) >= 0.3, a < b} — which DuckDB
    // recomputes directly. This shrinks the no-oracle floor to x36 alone:
    // the x15 OPERATOR is now oracle-checked end-to-end (kernel cosine,
    // threshold, pair orientation), and the production-parameter x15
    // remains the recall-floor exhibit for the blocked scale path.
    "x246_embedding_neardup_full" -> sql(
      (s, dir) =>
        Similarity.cellBlockedPairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.3, nCentroids = 1, passes = 1)
          .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
          .orderBy("id_a", "id_b"),
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(sim, 4) AS sim FROM p WHERE sim >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),

    // The EXECUTABLE routing loop the x236 preflight only recommended:
    // similarityJoinAuto runs the preflight, then executes the routed
    // plan, tagging rows with the route taken. At the default budget the
    // x154 fixture prices within budget, so the exact ED-Join runs — the
    // oracle is x154's pair set plus the route tag.
    "x247_similarity_join_auto" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
        val dirty = d.select(col("doc_id"),
          expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
            "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
            .as("dirty_title"))
        FuzzyLinkage.similarityJoinAuto(clean, dirty, "doc_id", "title",
          "doc_id", "dirty_title", maxDist = 1, q = 3)
          .withColumnsRenamed(Map("left_id" -> "clean_id", "right_id" -> "dirty_id"))
          .orderBy("clean_id", "dirty_id")
      },
      """WITH clean AS (
        |  SELECT doc_id AS clean_id, substr(text, 1, 40) AS val FROM documents),
        |dirty AS (
        |  SELECT doc_id AS dirty_id,
        |    substr(substr(text, 1, 40), 1, (doc_id % 31)::INT)
        |      || substr(substr(text, 1, 40), (doc_id % 31)::INT + 2) AS val
        |  FROM documents)
        |SELECT c.clean_id, d.dirty_id,
        |  levenshtein(c.val, d.val)::BIGINT AS dist,
        |  'qgram_exact' AS route
        |FROM clean c JOIN dirty d ON levenshtein(c.val, d.val) <= 1
        |ORDER BY clean_id, dirty_id""".stripMargin),

    // The same join FORCED over budget (budgetPairs = 1): the preflight
    // flips the route and the banded char-5-gram-signature MinHash plan
    // executes with planBandsForEditDistance-chosen (b, r).
    // targetRecallPpm 999999 makes the planner pick (32, 2) — per-pair
    // detection is 1 minus ~1e-16 on this fixture's >= 0.73 signature
    // Jaccard floor and the hashing is deterministic, so the routed pair
    // set equals the exact one and the SAME pair oracle checks it (the
    // x14 full-recall-point philosophy: recall at these parameters is
    // part of the replayed contract).
    //
    // REGENERATION HAZARD (documented per the round-12 advisory): the
    // pair-set equality this oracle asserts is probabilistic-made-
    // deterministic — it holds because the fixture, the gram-hash seeds
    // and sigQ are all FIXED (detection ~1e-11 per-pair short of certain
    // at (32, 2)). Regenerating the documents fixtures, reseeding
    // graft_ngram_hashes, or changing sigQ can flip this oracle red with
    // NO engine bug; when that happens, re-derive the expectation (the
    // SimilarityJoinAutoSpec subset + recall-floor assertions are the
    // parameter-independent contract) rather than hunting a phantom
    // regression. Excluded from the scale audit for the same reason.
    "x248_similarity_join_routed" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
        val dirty = d.select(col("doc_id"),
          expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
            "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
            .as("dirty_title"))
        FuzzyLinkage.similarityJoinAuto(clean, dirty, "doc_id", "title",
          "doc_id", "dirty_title", maxDist = 1, q = 3,
          budgetPairs = 1L, numPerms = 64, targetRecallPpm = 999999L)
          .withColumnsRenamed(Map("left_id" -> "clean_id", "right_id" -> "dirty_id"))
          .orderBy("clean_id", "dirty_id")
      },
      """WITH clean AS (
        |  SELECT doc_id AS clean_id, substr(text, 1, 40) AS val FROM documents),
        |dirty AS (
        |  SELECT doc_id AS dirty_id,
        |    substr(substr(text, 1, 40), 1, (doc_id % 31)::INT)
        |      || substr(substr(text, 1, 40), (doc_id % 31)::INT + 2) AS val
        |  FROM documents)
        |SELECT c.clean_id, d.dirty_id,
        |  levenshtein(c.val, d.val)::BIGINT AS dist,
        |  'approximate_minhash' AS route
        |FROM clean c JOIN dirty d ON levenshtein(c.val, d.val) <= 1
        |ORDER BY clean_id, dirty_id""".stripMargin),

    // Perceptual-hash near-dup over the multimodal byte column: 64-bit
    // aHash per blob (64 contiguous byte blocks, bit = block mean >
    // global mean via integer cross-multiplication), then Hamming pairs
    // <= 3 via pigeonhole banding — 4 disjoint 16-bit bands, so a pair
    // differing in <= 3 bits shares >= 1 band verbatim and recall is
    // EXACTLY 1 (not probabilistic). Fixture = the x154 dirty-twin
    // philosophy on bytes: each blob plus a case-flipped-first-byte twin
    // (one byte value shifts by 32 — measured twin distance 0-4, so the
    // radius catches ~498/500 twins while the corpus's unrelated pairs
    // sit at Hamming >= 9), PLUS one synthetic NON-ASCII document (and
    // its twin): the operator hashes the UTF-8 BYTES of the blob, and
    // the oracle replays the same bytes via hex(encode(..)) — byte
    // count, block assignment and values all byte-faithful, so a
    // multi-byte corpus can never silently diverge the two sides (the
    // round-12 char-vs-byte advisory). The oracle counts differing bits
    // over exact all-pairs, so banding recall, the bit rule and the
    // popcount verify are all under test.
    "x249_phash_neardup" -> sql(
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .where(col("text").isNotNull && length(col("text")) > 0)
          .select(col("doc_id"), col("text"))
          .unionByName(s.range(1).select(lit(999999999L).as("doc_id"),
            lit("hèllo wörld — größte Straße №42 naïve café").as("text")))
        val texts = base.select(col("doc_id").as("media_id"), col("text"))
          .unionByName(base.select(
            (col("doc_id") + 1000000000L).as("media_id"),
            concat(upper(substring(col("text"), 1, 1)),
              expr("substring(text, 2)")).as("text")))
        val media = texts.select(col("media_id"), lit("image").as("kind"),
          col("text").cast("binary").as("bytes"),
          struct(lit(null).cast("string").as("format"),
            lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
            lit(null).cast("long").as("duration_ms")).as("meta"))
        Multimodal.perceptualNearDuplicates(media, maxDist = 3)
          .orderBy("id_a", "id_b")
      },
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0
        |  UNION ALL
        |  SELECT 999999999, 'hèllo wörld — größte Straße №42 naïve café'),
        |m AS (
        |  SELECT doc_id AS mid, text AS mv FROM src
        |  UNION ALL
        |  SELECT doc_id + 1000000000,
        |    upper(substr(text, 1, 1)) || substr(text, 2) FROM src),
        |t AS (SELECT mid AS doc_id, hex(encode(mv)) AS hx,
        |  octet_length(encode(mv)) AS n FROM m),
        |cv AS (
        |  SELECT doc_id, n, ((j - 1)::BIGINT * 64) // n AS b,
        |    (16 * (strpos('0123456789ABCDEF', substr(hx, (2*j-1)::INT, 1)) - 1)
        |       + (strpos('0123456789ABCDEF', substr(hx, (2*j)::INT, 1)) - 1))::BIGINT AS v
        |  FROM (SELECT doc_id, hx, n, unnest(generate_series(1, n)) AS j FROM t)),
        |blk AS MATERIALIZED (
        |  SELECT doc_id, b, sum(v)::BIGINT AS s, count(*)::BIGINT AS c
        |  FROM cv GROUP BY 1, 2),
        |tot AS MATERIALIZED (
        |  SELECT doc_id, sum(v)::BIGINT AS tt, max(n)::BIGINT AS n
        |  FROM cv GROUP BY 1),
        |bits AS MATERIALIZED (
        |  SELECT g.doc_id, g.b,
        |    CASE WHEN coalesce(blk.s, 0) * tot.n > tot.tt * coalesce(blk.c, 0)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM (SELECT t.doc_id, r.b FROM t, range(0, 64) r(b)) g
        |  JOIN tot ON tot.doc_id = g.doc_id
        |  LEFT JOIN blk ON blk.doc_id = g.doc_id AND blk.b = g.b),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)::BIGINT AS dist
        |  FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, dist FROM pr WHERE dist <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Exact-duplicate clustering over the multimodal byte column — the
    // SCALE-SAFE output of the perceptual-dedup family (the round-12
    // verdict's pre-collapse): identical aHash values collapse into one
    // cluster with a canonical representative (min media_id) and a size,
    // so a duplicate-heavy media corpus emits LINEAR cluster rows, never
    // quadratic pairs. Fixture = each document three ways: the base
    // bytes, an EXACT byte copy under a new id (a guaranteed >= 2
    // cluster per doc), and the case-flipped twin (which clusters with
    // the base exactly when the flip moves no block bit — the oracle
    // replays that rule bit-for-bit, byte-faithfully via hex(encode())).
    "x250_phash_clusters" -> sql(
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .where(col("text").isNotNull && length(col("text")) > 0)
          .select(col("doc_id"), col("text"))
        val texts = base.select(col("doc_id").as("media_id"), col("text"))
          .unionByName(base.select(
            (col("doc_id") + 1000000000L).as("media_id"), col("text")))
          .unionByName(base.select(
            (col("doc_id") + 2000000000L).as("media_id"),
            concat(upper(substring(col("text"), 1, 1)),
              expr("substring(text, 2)")).as("text")))
        val media = texts.select(col("media_id"), lit("image").as("kind"),
          col("text").cast("binary").as("bytes"),
          struct(lit(null).cast("string").as("format"),
            lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
            lit(null).cast("long").as("duration_ms")).as("meta"))
        Multimodal.perceptualClusters(media)
          .select(col("media_id"), col("cluster_rep"), col("cluster_size"))
          .orderBy("media_id")
      },
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |m AS (
        |  SELECT doc_id AS mid, text AS mv FROM src
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM src
        |  UNION ALL
        |  SELECT doc_id + 2000000000,
        |    upper(substr(text, 1, 1)) || substr(text, 2) FROM src),
        |t AS (SELECT mid AS doc_id, hex(encode(mv)) AS hx,
        |  octet_length(encode(mv)) AS n FROM m),
        |cv AS (
        |  SELECT doc_id, n, ((j - 1)::BIGINT * 64) // n AS b,
        |    (16 * (strpos('0123456789ABCDEF', substr(hx, (2*j-1)::INT, 1)) - 1)
        |       + (strpos('0123456789ABCDEF', substr(hx, (2*j)::INT, 1)) - 1))::BIGINT AS v
        |  FROM (SELECT doc_id, hx, n, unnest(generate_series(1, n)) AS j FROM t)),
        |blk AS MATERIALIZED (
        |  SELECT doc_id, b, sum(v)::BIGINT AS s, count(*)::BIGINT AS c
        |  FROM cv GROUP BY 1, 2),
        |tot AS MATERIALIZED (
        |  SELECT doc_id, sum(v)::BIGINT AS tt, max(n)::BIGINT AS n
        |  FROM cv GROUP BY 1),
        |bits AS MATERIALIZED (
        |  SELECT g.doc_id, g.b,
        |    CASE WHEN coalesce(blk.s, 0) * tot.n > tot.tt * coalesce(blk.c, 0)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM (SELECT t.doc_id, r.b FROM t, range(0, 64) r(b)) g
        |  JOIN tot ON tot.doc_id = g.doc_id
        |  LEFT JOIN blk ON blk.doc_id = g.doc_id AND blk.b = g.b),
        |key AS (
        |  SELECT doc_id, string_agg(bit::VARCHAR, '' ORDER BY b) AS k
        |  FROM bits GROUP BY 1),
        |cl AS (SELECT k, min(doc_id) AS rep, count(*)::BIGINT AS sz
        |  FROM key GROUP BY 1)
        |SELECT key.doc_id AS media_id, cl.rep AS cluster_rep,
        |  cl.sz AS cluster_size
        |FROM key JOIN cl USING (k)
        |ORDER BY media_id""".stripMargin),

    // The similarityJoinAuto guard rail made CONTINUOUS (the round-12
    // verdict's item 7): a QgramIndex built once over the clean corpus
    // (side projection, corpus-df spectrum, rarest-gram prefixes +
    // counts, planned banding, length histogram — all persisted), then
    // the dirty batch priced batch-linearly against the pre-aggregated
    // counts and routed. Here the batch prices within the default budget
    // so the exact ED-Join of batch prefixes against STORED prefixes
    // runs — corpus-df prefix order is valid for both sides (the prefix
    // lemma holds under any shared total order; unseen batch grams rank
    // at df 0), so the pair set equals the from-scratch x154/x247 one.
    "x251_incremental_linkage" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
        val dirty = d.select(col("doc_id"),
          expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
            "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
            .as("dirty_title"))
        val idx = scoped(FuzzyLinkage.buildQgramIndex(clean, "doc_id", "title",
          maxDist = 1, q = 3))
        FuzzyLinkage.incrementalSimilarityJoin(dirty, idx,
          "doc_id", "dirty_title")
          .withColumnsRenamed(Map("left_id" -> "dirty_id", "right_id" -> "clean_id"))
          .orderBy("dirty_id", "clean_id")
      },
      """WITH clean AS (
        |  SELECT doc_id AS clean_id, substr(text, 1, 40) AS val FROM documents),
        |dirty AS (
        |  SELECT doc_id AS dirty_id,
        |    substr(substr(text, 1, 40), 1, (doc_id % 31)::INT)
        |      || substr(substr(text, 1, 40), (doc_id % 31)::INT + 2) AS val
        |  FROM documents)
        |SELECT d.dirty_id, c.clean_id,
        |  levenshtein(d.val, c.val)::BIGINT AS dist,
        |  'qgram_exact' AS route
        |FROM dirty d JOIN clean c ON levenshtein(d.val, c.val) <= 1
        |ORDER BY dirty_id, clean_id""".stripMargin),

    // The incremental matcher FORCED over budget (budgetPairs = 1) with
    // the index built at targetRecallPpm 999999: the pinned banding is
    // the (32, 2) full-recall point (planned at the corpus's min
    // long-title length), batch strings below the anchor length take the
    // exact bucket branch, and — exactly as x248 — per-pair detection on
    // this fixture's signature-Jaccard floor is deterministic-in-practice
    // (~1e-11 short of certain), so the routed pair set replays the
    // exact one VERBATIM. Same REGENERATION HAZARD as x248 (see there):
    // fixture/seed/sigQ changes can flip this red with no engine bug —
    // StreamingLinkageSpec's subset + recall-floor assertions are the
    // parameter-independent contract.
    "x252_incremental_routed" -> sql(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val clean = d.select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
        val dirty = d.select(col("doc_id"),
          expr("concat(substr(substr(text, 1, 40), 1, CAST(doc_id % 31 AS INT)), " +
            "substr(substr(text, 1, 40), CAST(doc_id % 31 AS INT) + 2))")
            .as("dirty_title"))
        val idx = scoped(FuzzyLinkage.buildQgramIndex(clean, "doc_id", "title",
          maxDist = 1, q = 3, targetRecallPpm = 999999L))
        FuzzyLinkage.incrementalSimilarityJoin(dirty, idx,
          "doc_id", "dirty_title", budgetPairs = 1L)
          .withColumnsRenamed(Map("left_id" -> "dirty_id", "right_id" -> "clean_id"))
          .orderBy("dirty_id", "clean_id")
      },
      """WITH clean AS (
        |  SELECT doc_id AS clean_id, substr(text, 1, 40) AS val FROM documents),
        |dirty AS (
        |  SELECT doc_id AS dirty_id,
        |    substr(substr(text, 1, 40), 1, (doc_id % 31)::INT)
        |      || substr(substr(text, 1, 40), (doc_id % 31)::INT + 2) AS val
        |  FROM documents)
        |SELECT d.dirty_id, c.clean_id,
        |  levenshtein(d.val, c.val)::BIGINT AS dist,
        |  'approximate_minhash' AS route
        |FROM dirty d JOIN clean c ON levenshtein(d.val, c.val) <= 1
        |ORDER BY dirty_id, clean_id""".stripMargin),
  )

  /** Shared base CTE for the x226/x227 outlier oracles: the three integer
    * features (chars, spaces, digit count) exactly as the Spark side
    * derives them. */
  private def hbosEcodBase: String =
    """WITH b AS MATERIALIZED (
      |  SELECT doc_id AS id, n_chars,
      |    (length(text) - length(replace(text, ' ', '')))::BIGINT AS n_spaces,
      |    length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS n_digits
      |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),"""
      .stripMargin

  /** Dense 64×64 cell-frame matrix product for the x243 replay: every
    * output cell folds Σ_k X(i,k)·Y(k,j) in ASCENDING k (`ORDER BY x.j`),
    * Linalg.matmulAsc's exact evaluation order. Frames stay dense (all
    * 4096 cells, zeros included) so the fold never skips a term. */
  private def mmSql(xCte: String, yCte: String): String =
    s"""|  SELECT x.i AS i, y.j AS j,
        #|    list_reduce(list(x.v * y.v ORDER BY x.j), (p, q) -> p + q) AS v
        #|  FROM $xCte x JOIN $yCte y ON x.j = y.i GROUP BY x.i, y.j"""
      .stripMargin('#').stripPrefix("|")

  /** x243's ZCA fit replayed: 6-dp centered moments on the 2⁻²⁰ grid (the
    * x109 base), the ε-ridged covariance, trace normalization, `iters`
    * coupled Newton–Schulz rounds (T = (3I − Z·Y)/2, Y ← Y·T, Z ← T·Z —
    * every product via [[mmSql]]), the whitening matrix W = Z/√tr, and
    * the ‖W·C_ridge·W − I‖_F whiteness residual as an (i,j)-ordered fold. */
  private def zcaFitCtes(iters: Int, eps: String): String = {
    val base =
      (s"""|d AS MATERIALIZED (
         #|  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         #|nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM d),
         #|idx AS (SELECT i FROM range(0, 64) t(i)),
         #|mu AS MATERIALIZED (
         #|  SELECT i.i AS i,
         #|    round((sum(floor(d.e[i.i + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
         #|           / 1048576.0) / (SELECT n FROM nn), 6) AS m
         #|  FROM d CROSS JOIN idx i GROUP BY i.i),
         #|prx AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
         #|s2 AS MATERIALIZED (
         #|  SELECT prx.i, prx.j,
         #|    round((sum(floor(d.e[prx.i + 1] * d.e[prx.j + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
         #|           / 1048576.0) / (SELECT n FROM nn), 6) AS s
         #|  FROM d CROSS JOIN prx GROUP BY prx.i, prx.j),
         #|cov AS MATERIALIZED (
         #|  SELECT s2.i AS i, s2.j AS j, s2.s - mi.m * mj.m AS v
         #|  FROM s2 JOIN mu mi ON mi.i = s2.i JOIN mu mj ON mj.i = s2.j
         #|  UNION ALL
         #|  SELECT s2.j, s2.i, s2.s - mi.m * mj.m
         #|  FROM s2 JOIN mu mi ON mi.i = s2.i JOIN mu mj ON mj.i = s2.j
         #|  WHERE s2.i <> s2.j),
         #|covr AS MATERIALIZED (
         #|  SELECT i, j, v + (CASE WHEN i = j THEN $eps ELSE 0.0 END) AS v
         #|  FROM cov),
         #|trc AS MATERIALIZED (
         #|  SELECT list_reduce(list(v ORDER BY i), (x, y) -> x + y) AS t
         #|  FROM covr WHERE i = j),
         #|y0 AS MATERIALIZED (
         #|  SELECT i, j, v / (SELECT t FROM trc) AS v FROM covr),
         #|z0 AS MATERIALIZED (
         #|  SELECT a.i AS i, b.i AS j,
         #|    CASE WHEN a.i = b.i THEN 1.0 ELSE 0.0 END AS v
         #|  FROM idx a CROSS JOIN idx b)""").stripMargin('#').stripPrefix("|")
    val steps = (1 to iters).map { t =>
      s"""|zy$t AS MATERIALIZED (
          #|${mmSql(s"z${t - 1}", s"y${t - 1}")}),
          #|tm$t AS MATERIALIZED (
          #|  SELECT i, j,
          #|    ((CASE WHEN i = j THEN 3.0 ELSE 0.0 END) - v) * 0.5 AS v
          #|  FROM zy$t),
          #|y$t AS MATERIALIZED (
          #|${mmSql(s"y${t - 1}", s"tm$t")}),
          #|z$t AS MATERIALIZED (
          #|${mmSql(s"tm$t", s"z${t - 1}")})""".stripMargin('#').stripPrefix("|")
    }.mkString(",\n")
    val tail =
      (s"""|w AS MATERIALIZED (
         #|  SELECT i, j, v / sqrt((SELECT t FROM trc)) AS v FROM z$iters),
         #|wc AS MATERIALIZED (
         #|${mmSql("w", "covr")}),
         #|rr AS MATERIALIZED (
         #|${mmSql("wc", "w")}),
         #|wres AS MATERIALIZED (
         #|  SELECT sqrt(list_reduce(list(
         #|    (v - CASE WHEN i = j THEN 1.0 ELSE 0.0 END)
         #|      * (v - CASE WHEN i = j THEN 1.0 ELSE 0.0 END)
         #|    ORDER BY i, j), (x, y) -> x + y)) AS r
         #|  FROM rr),
         #|mul AS (SELECT list(m ORDER BY i) AS v FROM mu),
         #|w0l AS (SELECT list(v ORDER BY j) AS v FROM w WHERE i = 0),
         #|w1l AS (SELECT list(v ORDER BY j) AS v FROM w WHERE i = 1),
         #|b0 AS (SELECT list_dot_product((SELECT v FROM w0l),
         #|  (SELECT v FROM mul)) AS b),
         #|b1 AS (SELECT list_dot_product((SELECT v FROM w1l),
         #|  (SELECT v FROM mul)) AS b)""").stripMargin('#').stripPrefix("|")
    base + ",\n" + steps + ",\n" + tail
  }

  /** x239's multiplicative-weights rounds unrolled: mixture mean m as a
    * truncating integer div of exact sums, the linear-payoff update
    * w·(10⁶ + η·(ℓ̄−m) // 10⁶) // 10⁶, then renormalization to Σ ≈ 10⁶ —
    * MixtureSampling.mixtureMwWeights' Long arithmetic verbatim (both
    * `//` and Scala `/` truncate toward zero on signed operands). */
  private def mwIterCtes(iters: Int, etaPpm: Long): String =
    (1 to iters).map { t =>
      s"""|m$t AS (SELECT (sum(w * lbar) // sum(w))::BIGINT AS m FROM w${t - 1}),
          #|u$t AS (
          #|  SELECT d, n, lbar,
          #|    greatest(1, (w * (1000000 + ($etaPpm * (lbar - (SELECT m FROM m$t)))
          #|      // 1000000)) // 1000000)::BIGINT AS w
          #|  FROM w${t - 1}),
          #|s$t AS (SELECT sum(w)::BIGINT AS s FROM u$t),
          #|w$t AS MATERIALIZED (
          #|  SELECT d, n, lbar,
          #|    greatest(1, (w * 1000000) // (SELECT s FROM s$t))::BIGINT AS w
          #|  FROM u$t)""".stripMargin('#')
    }.mkString(",\n").stripPrefix("|")

  /** x221's fixed-point supersteps unrolled: share = r div n_out along
    * every observed transition weighted by its count; dangling mass
    * (types with no outgoing transitions) redistributes uniformly — the
    * pagerankIterCtes recurrence on the event-type matrix. */
  private def markovIterCtes(iters: Int): String =
    (0 until iters).map { t =>
      s"""|s$t AS (SELECT ty, r // n_out AS unit FROM p$t WHERE n_out > 0),
          #|c$t AS (
          #|  SELECT m.t AS ty, sum(s.unit * m.cnt)::BIGINT AS c
          #|  FROM m JOIN s$t s ON m.f = s.ty GROUP BY 1),
          #|g$t AS (
          #|  SELECT coalesce(sum(r), 0)::BIGINT AS dang FROM p$t WHERE n_out = 0),
          #|p${t + 1} AS MATERIALIZED (
          #|  SELECT o.ty, o.n_out,
          #|    (coalesce(c.c, 0::BIGINT)
          #|      + ((SELECT dang FROM g$t) // (SELECT k FROM nt)))::BIGINT AS r
          #|  FROM outd o LEFT JOIN c$t c USING (ty))""".stripMargin('#')
    }.mkString(",\n").stripPrefix("|")

  /** The x202 oracle: both BM25 variants replayed (the x81 CTEs, b=0.75
    * and b=0), matched docs folded in (depth, doc) order with the SAME
    * Scala-computed literal tail coefficients the Spark side inlines. */
  private def rboOracle(k: Int, p: Double): String = {
    val coeff = (1 to k).map(d => (1.0 - p) * math.pow(p, d - 1) / d)
    val tail = (1 to k).map(m => coeff.drop(m - 1).sum)
    val tailCase = (1 to k).map(m => s"WHEN $m THEN ${tail(m - 1)}")
      .mkString("CASE m ", " ", " ELSE 0.0 END")
    def sc(name: String, b: Double): String =
      s"""$name AS (
         |  SELECT q.qid, w.doc,
         |    round(sum(ln(1 + (s.n - w.df + 0.5) / (w.df + 0.5)) * w.tf * 2.2 /
         |      (w.tf + 1.2 * (1 - $b + $b * dl.dl / s.avgdl))), 4) AS score
         |  FROM wdf w
         |  JOIN q ON q.term = w.term
         |  JOIN dl ON dl.doc = w.doc
         |  CROSS JOIN stats s
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH dl AS (
       |  SELECT doc_id AS doc,
       |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x <> '')) AS DOUBLE) AS dl
       |  FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
       |toks AS (
       |  SELECT doc_id AS doc,
       |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x <> '')) AS term
       |  FROM documents),
       |q AS (SELECT * FROM (VALUES ('q1', 'merge'), ('q1', 'sort'),
       |  ('q2', 'hash'), ('q2', 'join'), ('q3', 'window'), ('q3', 'scan'),
       |  ('q4', 'slow'), ('q4', 'query')) AS t(qid, term)),
       |tf AS (
       |  SELECT t.doc, t.term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM toks t JOIN (SELECT DISTINCT term FROM q) qq USING (term)
       |  GROUP BY 1, 2),
       |wdf AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
       |  FROM tf),
       |${sc("scA", 0.75)},
       |${sc("scB", 0.0)},
       |ta AS (SELECT qid, doc, ra FROM (
       |  SELECT qid, doc, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc) AS ra FROM scA) WHERE ra <= $k),
       |tb AS (SELECT qid, doc, rb FROM (
       |  SELECT qid, doc, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc) AS rb FROM scB) WHERE rb <= $k),
       |mt AS (
       |  SELECT ta.qid, ta.doc, greatest(ta.ra, tb.rb) AS m
       |  FROM ta JOIN tb ON tb.qid = ta.qid AND tb.doc = ta.doc),
       |hq AS (
       |  SELECT qid, count(*)::BIGINT AS overlap_at_k,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list($tailCase ORDER BY m, doc)), (x, y) -> x + y) AS rbo_raw
       |  FROM mt GROUP BY qid),
       |na AS (SELECT qid, count(*)::BIGINT AS n_a FROM ta GROUP BY qid),
       |nb AS (SELECT qid, count(*)::BIGINT AS n_b FROM tb GROUP BY qid),
       |allq AS (SELECT DISTINCT qid FROM q)
       |SELECT a.qid,
       |  coalesce(n_a, 0)::BIGINT AS n_a,
       |  coalesce(n_b, 0)::BIGINT AS n_b,
       |  coalesce(overlap_at_k, 0)::BIGINT AS overlap_at_k,
       |  round(coalesce(rbo_raw, 0.0), 6) AS rbo
       |FROM allq a
       |LEFT JOIN na USING (qid) LEFT JOIN nb USING (qid)
       |LEFT JOIN hq USING (qid)
       |ORDER BY a.qid""".stripMargin
  }

  /** The x211 oracle: the gap-aware ACF at 12-dp (the x184 CTEs), pivoted
    * to r1..rm per series, then the Durbin–Levinson recursion UNROLLED to
    * the same closed-form scalar algebra the Spark side builds — the
    * helper mirrors Seasonal.finishPacf's expression construction
    * exactly (left-associated sums, same parenthesization). */
  private def pacfOracle(maxLag: Int): String = {
    val phi = scala.collection.mutable.Map[(Int, Int), String]()
    phi((1, 1)) = "r1"
    for (k <- 2 to maxLag) {
      val num = s"(r$k - (${(1 until k)
        .map(j => s"${phi((k - 1, j))} * r${k - j}").mkString(" + ")}))"
      val den = s"(1.0 - (${(1 until k)
        .map(j => s"${phi((k - 1, j))} * r$j").mkString(" + ")}))"
      phi((k, k)) = s"($num / $den)"
      for (j <- 1 until k)
        phi((k, j)) = s"(${phi((k - 1, j))} - ${phi((k, k))} * ${phi((k - 1, k - j))})"
    }
    val rCols = (1 to maxLag)
      .map(k => s"max(CASE WHEN lag = $k THEN acf END) AS r$k")
      .mkString(",\n    ")
    val outs = (1 to maxLag)
      .map(k => s"round(${phi((k, k))}, 4) AS pacf_$k").mkString(",\n  ")
    s"""WITH d AS (
       |  SELECT event_type::VARCHAR AS series, ts::DATE AS day,
       |    count(*)::BIGINT AS cnt
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT a.series, (b.day - a.day)::BIGINT AS lag,
       |    a.cnt AS ya, b.cnt AS yb
       |  FROM d a JOIN d b ON b.series = a.series
       |  WHERE (b.day - a.day) BETWEEN 1 AND $maxLag),
       |g AS (
       |  SELECT series, lag, count(*)::BIGINT AS n_pairs,
       |    sum(ya::HUGEINT) AS sx, sum(yb::HUGEINT) AS sy,
       |    sum(ya::HUGEINT * ya) AS sxx, sum(yb::HUGEINT * yb) AS syy,
       |    sum(ya::HUGEINT * yb) AS sxy
       |  FROM p GROUP BY 1, 2),
       |a AS (
       |  SELECT series, lag,
       |    CASE WHEN n_pairs < 2
       |        OR (n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <= 0.0
       |        OR (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) <= 0.0
       |      THEN NULL
       |      ELSE round((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |        / (sqrt(n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
       |           * sqrt(n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
       |        12)
       |    END AS acf
       |  FROM g),
       |pv AS (
       |  SELECT series,
       |    $rCols
       |  FROM a GROUP BY series)
       |SELECT series,
       |  $outs
       |FROM pv ORDER BY series""".stripMargin
  }

  /** The x217 oracle: one tokenization to (term, cnt_a, cnt_b), both
    * TakeOrdered top-k lists, then the same literal tail-coefficient fold
    * as the Spark side (shared construction with rboOracle). */
  private def vocabOverlapOracle(k: Int, p: Double): String = {
    val coeff = (1 to k).map(d => (1.0 - p) * math.pow(p, d - 1) / d)
    val tail = (1 to k).map(m => coeff.drop(m - 1).sum)
    val tailCase = (1 to k).map(m => s"WHEN $m THEN ${tail(m - 1)}")
      .mkString("CASE m ", " ", " ELSE 0.0 END")
    s"""WITH t AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |    x -> x <> '')) AS term,
       |    (source = 'src0') AS a
       |  FROM documents WHERE source IS NOT NULL),
       |c AS (
       |  SELECT term,
       |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM t GROUP BY term),
       |ta AS (
       |  SELECT term, row_number() OVER (ORDER BY ca DESC, term)::BIGINT AS ra
       |  FROM c WHERE ca > 0 ORDER BY ca DESC, term LIMIT $k),
       |tb AS (
       |  SELECT term, row_number() OVER (ORDER BY cb DESC, term)::BIGINT AS rb
       |  FROM c WHERE cb > 0 ORDER BY cb DESC, term LIMIT $k),
       |mt AS (
       |  SELECT ta.term, greatest(ta.ra, tb.rb) AS m
       |  FROM ta JOIN tb ON tb.term = ta.term),
       |hq AS (
       |  SELECT count(*)::BIGINT AS overlap_at_k,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      coalesce(list($tailCase ORDER BY m, term), [])),
       |      (x, y) -> x + y) AS rbo_raw
       |  FROM mt),
       |sz AS (
       |  SELECT (SELECT count(*) FROM ta)::BIGINT AS n_terms_a,
       |    (SELECT count(*) FROM tb)::BIGINT AS n_terms_b)
       |SELECT $k::BIGINT AS k, n_terms_a, n_terms_b,
       |  coalesce(overlap_at_k, 0)::BIGINT AS overlap_at_k,
       |  (CASE WHEN n_terms_a + n_terms_b = 0 THEN NULL
       |    ELSE (coalesce(overlap_at_k, 0) * 1000000)
       |      // (n_terms_a + n_terms_b - coalesce(overlap_at_k, 0))
       |  END)::BIGINT AS jaccard_ppm,
       |  round(coalesce(rbo_raw, 0.0), 6) AS rbo
       |FROM sz, hq ORDER BY k""".stripMargin
  }

  /** The x200 oracle: per λ, the identical order-pinned folds (element =
    * c·t_λ(v), v-ascending) and the identical closing algebra — one UNION
    * ALL branch per λ, is_best via a window max on the 5-row frame. */
  private def boxCoxOracle: String = {
    val ts: Seq[(Double, String)] = Seq(
      -1.0 -> "1.0 - 1.0 / (v::DOUBLE)",
      -0.5 -> "2.0 * (1.0 - 1.0 / sqrt(v::DOUBLE))",
      0.0 -> "ln(v::DOUBLE)",
      0.5 -> "2.0 * (sqrt(v::DOUBLE) - 1.0)",
      1.0 -> "(v::DOUBLE) - 1.0")
    def fold(elem: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list((c::DOUBLE) * ($elem) ORDER BY v)), (x, y) -> x + y)""".stripMargin
    val sums = ts.zipWithIndex.flatMap { case ((_, t), i) =>
      Seq(s"${fold(t)} AS s1_$i", s"${fold(s"($t) * ($t)")} AS s2_$i")
    } :+ s"${fold("ln(v::DOUBLE)")} AS slv"
    val branches = ts.zipWithIndex.map { case ((lam, _), i) =>
      val varE = s"((s2_$i - s1_$i * s1_$i / (n::DOUBLE)) / (n::DOUBLE))"
      s"""SELECT $lam AS lambda, n, n_dropped,
         |  CASE WHEN n < 2 OR ndist < 2 OR $varE <= 0.0 THEN NULL
         |    ELSE round(-0.5 * (n::DOUBLE) * ln($varE)
         |      + (${lam - 1.0}) * slv, 4) END AS loglik
         |FROM f""".stripMargin
    }
    s"""WITH cells AS (
       |  SELECT n_chars::BIGINT AS v, count(*)::BIGINT AS c
       |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
       |pos AS (SELECT v, c FROM cells WHERE v > 0),
       |f AS (
       |  SELECT
       |    (SELECT coalesce(sum(c), 0) FROM pos)::BIGINT AS n,
       |    (SELECT coalesce(sum(c), 0) FROM cells WHERE v <= 0)::BIGINT
       |      AS n_dropped,
       |    count(*)::BIGINT AS ndist,
       |    ${sums.mkString(",\n    ")}
       |  FROM pos),
       |u AS (
       |${branches.mkString("\nUNION ALL\n")})
       |SELECT lambda, n, n_dropped, loglik,
       |  (loglik IS NOT NULL AND loglik = max(loglik) OVER ()) AS is_best
       |FROM u ORDER BY lambda""".stripMargin
  }

  /** The x183 oracle: the identical sufficient statistics (one HUGEINT
    * aggregation pass) and the identical double-conversion closing
    * algebra, one UNION ALL branch per unordered feature pair. Features
    * are listed in lexical order so f1 < f2 matches the Spark side's
    * declaration order. */
  private def corrMatrixOracle: String = {
    val fs = Seq(
      "disc_c" -> "floor(l_discount * 100)",
      "price_fl" -> "floor(l_extendedprice)",
      "qty" -> "floor(l_quantity)",
      "tax_c" -> "floor(l_tax * 100)")
    val names = fs.map(_._1)
    val proj = fs.map { case (n, e) => s"($e)::BIGINT AS $n" }.mkString(", ")
    val where = fs.map { case (_, e) => s"($e) IS NOT NULL" }.mkString(" AND ")
    val sums =
      names.map(n => s"sum($n::HUGEINT) AS s_$n") ++
        names.map(n => s"sum($n::HUGEINT * $n) AS q_$n") ++
        (for (i <- names.indices; j <- (i + 1) until names.size)
          yield s"sum(${names(i)}::HUGEINT * ${names(j)})" +
            s" AS x_${names(i)}__${names(j)}")
    val pairs = for (i <- names.indices; j <- (i + 1) until names.size) yield {
      val (a, b) = (names(i), names(j))
      val da = s"(n::DOUBLE * q_$a::DOUBLE - s_$a::DOUBLE * s_$a::DOUBLE)"
      val db = s"(n::DOUBLE * q_$b::DOUBLE - s_$b::DOUBLE * s_$b::DOUBLE)"
      val num = s"(n::DOUBLE * x_${a}__$b::DOUBLE - s_$a::DOUBLE * s_$b::DOUBLE)"
      s"""SELECT '$a' AS f1, '$b' AS f2, n,
         |  CASE WHEN n < 2 OR $da <= 0.0 OR $db <= 0.0 THEN NULL
         |    ELSE round($num / (sqrt($da) * sqrt($db)), 4)
         |  END AS corr
         |FROM a""".stripMargin
    }
    s"""WITH f AS (
       |  SELECT $proj
       |  FROM lineitem WHERE $where),
       |a AS (
       |  SELECT count(*)::BIGINT AS n, ${sums.mkString(",\n    ")}
       |  FROM f)
       |${pairs.mkString("\nUNION ALL\n")}
       |ORDER BY f1, f2""".stripMargin
  }

  /** The x130 oracle: per relationship, both anti-join directions as
    * scalar subqueries (a NULL child key is an orphan by definition —
    * NOT EXISTS over an equality with NULL is true in both engines). */
  private def refAuditOracle: String = {
    val rels = Seq(
      ("events->customer", "events", "user_id", "customer", "c_custkey"),
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
    rels.map { case (n, c, ck, p, pk) =>
      s"""SELECT '$n' AS rel, n_child, n_orphans,
        |  (CASE WHEN n_child = 0 THEN NULL
        |    ELSE (n_orphans::HUGEINT * 1000000) // n_child
        |  END)::BIGINT AS orphan_ppm,
        |  n_parent, n_childless,
        |  (CASE WHEN n_parent = 0 THEN NULL
        |    ELSE (n_childless::HUGEINT * 1000000) // n_parent
        |  END)::BIGINT AS childless_ppm
        |FROM (SELECT
        |  (SELECT count(*) FROM $c)::BIGINT AS n_child,
        |  (SELECT count(*) FROM $c WHERE $ck IS NULL OR NOT EXISTS (
        |    SELECT 1 FROM $p WHERE $p.$pk = $c.$ck))::BIGINT AS n_orphans,
        |  (SELECT count(DISTINCT $pk) FROM $p
        |    WHERE $pk IS NOT NULL)::BIGINT AS n_parent,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT $pk AS k FROM $p WHERE $pk IS NOT NULL) pp
        |    WHERE NOT EXISTS (
        |      SELECT 1 FROM $c WHERE $c.$ck = pp.k))::BIGINT AS n_childless)"""
        .stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY rel"
  }

  /** The x174 oracle: `iters` synchronous label-propagation rounds
    * unrolled as chained CTEs — each round re-labels every node with the
    * (count DESC, label ASC) argmin over its neighbors' labels, the exact
    * struct-min the Spark superstep aggregates. */
  private def lpaOracle(iters: Int): String = {
    val head =
      """WITH p AS MATERIALIZED (
        |  SELECT o_custkey AS c, l_suppkey AS s, count(DISTINCT o.o_orderkey) AS cnt
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |ed AS MATERIALIZED (
        |  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM p WHERE cnt >= 4),
        |sym AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM ed WHERE src <> dst
        |    UNION ALL SELECT dst AS src, src AS dst FROM ed WHERE src <> dst)),
        |l0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, src AS lbl FROM sym)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""v$t AS (
        |  SELECT e.dst AS node, l.lbl, count(*)::BIGINT AS cnt
        |  FROM sym e JOIN l${t - 1} l ON l.node = e.src GROUP BY 1, 2),
        |l$t AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl,
        |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
        |    FROM v$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$rounds
       |SELECT lbl::BIGINT AS community, count(*)::BIGINT AS size,
       |  sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_customers,
       |  sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_suppliers
       |FROM l$iters GROUP BY 1
       |ORDER BY size DESC, community""".stripMargin
  }

  /** The x128 oracle: the walk recurrence unrolled — step r moves each
    * walk to the out-neighbor minimizing (md5 draw, dst), exactly the
    * struct-min the Spark step aggregates. */
  private def walksOracle(steps: Int): String = {
    val head =
      """WITH p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o_custkey, l_suppkey
        |  HAVING count(DISTINCT o.o_orderkey) >= 2),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM p
        |    UNION ALL SELECT dst AS src, src AS dst FROM p)),
        |w0 AS MATERIALIZED (
        |  SELECT start, widx, start AS node
        |  FROM (SELECT DISTINCT src AS start FROM e),
        |    (VALUES (0::BIGINT), (1::BIGINT)) t(widx))""".stripMargin
    val steps_ = (1 to steps).map { r =>
      s"""c$r AS (
        |  SELECT w.start, w.widx, e.dst,
        |    md5(concat_ws(':', w.start, w.widx, $r, e.dst)) AS draw
        |  FROM w${r - 1} w JOIN e ON e.src = w.node),
        |w$r AS MATERIALIZED (
        |  SELECT start, widx, dst AS node FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY start, widx ORDER BY draw, dst) AS rn
        |    FROM c$r) WHERE rn = 1)""".stripMargin
    }
    val union = (0 to steps)
      .map(r => s"  SELECT start, widx, $r AS step, node FROM w$r")
      .mkString("\n  UNION ALL\n")
    val tail =
      s"""SELECT start, widx, step, node FROM (
        |$union)
        |ORDER BY start, widx, step""".stripMargin
    (head +: steps_).mkString(",\n") + "\n" + tail
  }

  /** The x127 oracle: HITS supersteps unrolled — per round, an authority
    * sum + max-norm then a hub sum + max-norm, all HUGEINT (the same
    * order and integer divisions the Spark rounds evaluate). */
  private def hitsOracle(iters: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT o_custkey AS c, l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o_custkey, l_suppkey
        |  HAVING count(DISTINCT o.o_orderkey) >= 2),
        |h0 AS MATERIALIZED (
        |  SELECT DISTINCT c AS node, 1000000000000::HUGEINT AS v FROM e)""".stripMargin
    val steps = (1 to iters).map { r =>
      s"""ra$r AS MATERIALIZED (
        |  SELECT e.s AS node, sum(h.v)::HUGEINT AS rv
        |  FROM e JOIN h${r - 1} h ON h.node = e.c GROUP BY e.s),
        |a$r AS MATERIALIZED (
        |  SELECT node,
        |    (rv * 1000000000000 // (SELECT max(rv) FROM ra$r))::HUGEINT AS v
        |  FROM ra$r),
        |rh$r AS MATERIALIZED (
        |  SELECT e.c AS node, sum(a.v)::HUGEINT AS rv
        |  FROM e JOIN a$r a ON a.node = e.s GROUP BY e.c),
        |h$r AS MATERIALIZED (
        |  SELECT node,
        |    (rv * 1000000000000 // (SELECT max(rv) FROM rh$r))::HUGEINT AS v
        |  FROM rh$r)""".stripMargin
    }
    val tail =
      s"""SELECT side, entity_key, score_fp FROM (
        |  SELECT 'hub' AS side, node AS entity_key, v::BIGINT AS score_fp
        |  FROM h$iters
        |  UNION ALL
        |  SELECT 'auth' AS side, node AS entity_key, v::BIGINT AS score_fp
        |  FROM a$iters)
        |ORDER BY side, entity_key""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  /** The x124 oracle: whole-frontier k-core peeling unrolled as chained
    * CTE rounds — a{r} keeps nodes with degree ≥ k in e{r}, e{r+1} keeps
    * edges with both endpoints alive. Rounds past the fixpoint are
    * no-ops, so any `rounds` ≥ the true peel depth yields the core. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head =
      s"""WITH p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o_custkey, l_suppkey
        |  HAVING count(DISTINCT o.o_orderkey) >= 3),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM p)""".stripMargin
    val steps = (0 until rounds).map { r =>
      s"""a$r AS MATERIALIZED (
        |  SELECT node FROM (
        |    SELECT a AS node FROM e$r UNION ALL SELECT b AS node FROM e$r)
        |  GROUP BY node HAVING count(*) >= $k),
        |e${r + 1} AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e$r e
        |  JOIN a$r x ON x.node = e.a
        |  JOIN a$r y ON y.node = e.b)""".stripMargin
    }
    val tail =
      s"""SELECT
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS entity_type,
        |  (node // 2)::BIGINT AS entity_key,
        |  count(*)::BIGINT AS core_deg
        |FROM (
        |  SELECT a AS node FROM e$rounds
        |  UNION ALL SELECT b AS node FROM e$rounds)
        |GROUP BY node
        |ORDER BY entity_type, entity_key""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  /** The x97 oracle: k-center traversal unrolled as chained CTEs. Round r
    * selects argmax(dist desc, id) from d{r-1} and d{r} takes least() with
    * the distance to the new center — the identical fold/nesting order the
    * Spark rounds evaluate, so raw doubles compare bit-for-bit. */
  /** The greedy max-coverage traversal unrolled (the x97/x40 pattern):
    * round r takes the doc with the most UNCOVERED shingles (gain desc,
    * id asc), then removes its shingles from every remaining doc via
    * NOT IN — pure integer counts, so the replay is hash-exact. */
  private def coverageOracle(k: Int): String = {
    val head =
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]))) AS sh
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |    FROM documents)
        |  WHERE len(toks) >= 3),
        |r0 AS MATERIALIZED (SELECT doc_id, sh FROM t)""".stripMargin
    val rounds = (1 to k).map { r =>
      val upd = if (r == k) "" else
        s""",
           |r$r AS MATERIALIZED (
           |  SELECT p.doc_id, p.sh FROM r${r - 1} p
           |  WHERE p.doc_id <> (SELECT doc_id FROM s$r)
           |    AND p.sh NOT IN (SELECT sh FROM r${r - 1}
           |      WHERE doc_id = (SELECT doc_id FROM s$r)))""".stripMargin
      s"""s$r AS MATERIALIZED (
         |  SELECT doc_id, count(*)::BIGINT AS gain FROM r${r - 1}
         |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1)""".stripMargin + upd
    }
    val sel = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, doc_id, gain FROM s$r")
      .mkString("\nUNION ALL ")
    (Seq(head) ++ rounds).mkString(",\n") +
      s""",
         |sel AS ($sel)
         |SELECT rank, doc_id, gain AS gain_shingles,
         |  (sum(gain) OVER (ORDER BY rank))::BIGINT AS covered_total
         |FROM sel ORDER BY rank""".stripMargin
  }

  /** The MMR traversal unrolled as chained CTEs (the x97 pattern): round r
    * picks argmax(λ·rel − (1−λ)·m) with (score desc, id asc) ties, then
    * folds the pick's ROUNDED pairwise cosine into the running max m.
    * λ enters as the literal and μ as (1.0 − λ) so both engines compute
    * the identical IEEE weights. */
  private def mmrOracle(k: Int, lambda: Double): String = {
    def cos(a: String, b: String): String =
      s"round(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 4)"
    // both weights as full-precision DOUBLE literals: DuckDB would fold
    // (1.0 - 0.7) in exact DECIMAL arithmetic to 0.3, but the Spark side
    // computes IEEE 1−λ = 0.30000000000000004 — shortest-repr round-trip
    // makes the emitted literal parse back to the identical double
    val lam = s"${lambda}::DOUBLE"
    val mu = s"${1.0 - lambda}::DOUBLE"
    val head =
      s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
         |  FROM embeddings ORDER BY vec_id LIMIT 1),
         |m0 AS (
         |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         |    ${cos("e.embedding::DOUBLE[]", "q.qv")} AS rel, 0.0::DOUBLE AS m
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)""".stripMargin
    val rounds = (1 to k).map { r =>
      val upd = if (r == k) "" else
        s""",
           |m$r AS (
           |  SELECT p.vec_id, p.v, p.rel, greatest(p.m, ${cos("p.v", "s.v")}) AS m
           |  FROM m${r - 1} p CROSS JOIN s$r s WHERE p.vec_id <> s.vec_id)""".stripMargin
      s"""s$r AS (
         |  SELECT vec_id, v, $lam * rel - $mu * m AS score
         |  FROM m${r - 1} ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin + upd
    }
    val selects = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, vec_id, score FROM s$r")
    (Seq(head) ++ rounds).mkString(",\n") + "\n" +
      selects.mkString("\nUNION ALL ") + "\nORDER BY rank"
  }

  private def kcenterOracle(k: Int): String = {
    def l2(e: String, c: String): String =
      s"list_reduce(list_transform(generate_series(1, len($e.embedding)), i -> " +
        s"($e.embedding[i]::DOUBLE - $c.embedding[i]::DOUBLE) * " +
        s"($e.embedding[i]::DOUBLE - $c.embedding[i]::DOUBLE)), (x, y) -> x + y)"
    val head =
      """WITH c0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1),
        |d0 AS (
        |  SELECT e.vec_id, e.embedding, """.stripMargin + l2("e", "c0") + """ AS d
        |  FROM embeddings e CROSS JOIN c0 WHERE e.vec_id <> c0.vec_id)""".stripMargin
    val rounds = (1 until k).map { r =>
      s"""s$r AS (SELECT vec_id, embedding, d FROM d${r - 1} ORDER BY d DESC, vec_id LIMIT 1),
         |d$r AS (
         |  SELECT p.vec_id, p.embedding, least(p.d, ${l2("p", s"s$r")}) AS d
         |  FROM d${r - 1} p CROSS JOIN s$r WHERE p.vec_id <> s$r.vec_id)""".stripMargin
    }
    val selects =
      "SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(0.0 AS DOUBLE) AS dist_sq FROM c0" +:
        (1 until k).map(r =>
          s"SELECT CAST(${r + 1} AS BIGINT), vec_id, d FROM s$r")
    (Seq(head) ++ rounds).mkString(",\n") + "\n" +
      selects.mkString("\nUNION ALL ") + "\nORDER BY rank"
  }

  /** PageRank supersteps unrolled: shares by integer division, exact
    * BIGINT contribution sums, dangling mass folded back — the same
    * fixed-point recurrence graph.Graph runs (emitted with `|` margins;
    * the caller's stripMargin strips them). `telePred`/`mSql` select the
    * teleport set and its size: (TRUE, n) = classic x108, (node IN seeds,
    * |seeds|) = personalized x117. */
  private def pagerankIterCtes(iters: Int, telePred: String, mSql: String): String =
    (0 until iters).map { t =>
      s"""|s$t AS (SELECT node, r // deg AS share FROM r$t WHERE deg > 0),
          #|c$t AS (
          #|  SELECT e.dst AS node, sum(s.share)::BIGINT AS c
          #|  FROM e JOIN s$t s ON e.src = s.node GROUP BY 1),
          #|g$t AS (SELECT coalesce(sum(r), 0)::BIGINT AS dang FROM r$t WHERE deg = 0),
          #|r${t + 1} AS MATERIALIZED (
          #|  SELECT nd.node, nd.deg,
          #|    (CASE WHEN $telePred
          #|      THEN ((100 - 85) * (1000000000000 // $mSql)) // 100 ELSE 0 END)
          #|      + ((85 * (coalesce(c.c, 0::BIGINT)
          #|           + (CASE WHEN $telePred
          #|              THEN (SELECT dang FROM g$t) // $mSql ELSE 0 END))) // 100) AS r
          #|  FROM nd LEFT JOIN c$t c USING (node))""".stripMargin('#')
    }.mkString(",\n").stripPrefix("|")

  /** x109's full PCA fit chain, shared with x159's DBSCAN-on-projection:
    * 6-dp moments → covariance → two 12-round power-iteration fits over
    * frame `d` (vec_id, label, e) — ends with av12/bv12 component vectors
    * and l1/l2 Rayleigh quotients, trc the covariance trace. Emits
    * `|`-margined CTE text whose first line rides the caller's `WITH `. */
  private def pcaFitCtes: String =
    (s"""|d AS MATERIALIZED (
       #|  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
       #|nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM d),
       #|idx AS (SELECT i FROM range(0, 64) t(i)),
       #|mu AS MATERIALIZED (
       #|  SELECT i.i AS i,
       #|    round((sum(floor(d.e[i.i + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
       #|           / 1048576.0) / (SELECT n FROM nn), 6) AS m
       #|  FROM d CROSS JOIN idx i GROUP BY i.i),
       #|prx AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
       #|s2 AS MATERIALIZED (
       #|  SELECT prx.i, prx.j,
       #|    round((sum(floor(d.e[prx.i + 1] * d.e[prx.j + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
       #|           / 1048576.0) / (SELECT n FROM nn), 6) AS s
       #|  FROM d CROSS JOIN prx GROUP BY prx.i, prx.j),
       #|cov AS MATERIALIZED (
       #|  SELECT s2.i AS i, s2.j AS j, s2.s - mi.m * mj.m AS c
       #|  FROM s2 JOIN mu mi ON mi.i = s2.i JOIN mu mj ON mj.i = s2.j
       #|  UNION ALL
       #|  SELECT s2.j, s2.i, s2.s - mi.m * mj.m
       #|  FROM s2 JOIN mu mi ON mi.i = s2.i JOIN mu mj ON mj.i = s2.j
       #|  WHERE s2.i <> s2.j),
       #|mrows AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS rw FROM cov GROUP BY i),
       #|trc AS MATERIALIZED (
       #|  SELECT list_reduce(list(c ORDER BY i), (x, y) -> x + y) AS t
       #|  FROM cov WHERE i = j),
       #|av0 AS MATERIALIZED (
       #|  SELECT list_transform(generate_series(1, 64), x -> 1.0 / sqrt(64.0)) AS v),
       #|${powerIterCtes("a", "mrows", 12)},
       #|awf AS MATERIALIZED (
       #|  SELECT list(list_dot_product(m.rw, v.v) ORDER BY m.i) AS w
       #|  FROM mrows m CROSS JOIN av12 v),
       #|l1 AS MATERIALIZED (SELECT list_dot_product(v.v, w.w) AS lam FROM av12 v CROSS JOIN awf w),
       #|cov2 AS MATERIALIZED (
       #|  SELECT c.i, c.j,
       #|    c.c - (SELECT lam FROM l1) * v.v[c.i + 1] * v.v[c.j + 1] AS c
       #|  FROM cov c CROSS JOIN av12 v),
       #|mrows2 AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS rw FROM cov2 GROUP BY i),
       #|bv0 AS MATERIALIZED (SELECT v FROM av0),
       #|${powerIterCtes("b", "mrows2", 12)},
       #|bwf AS MATERIALIZED (
       #|  SELECT list(list_dot_product(m.rw, v.v) ORDER BY m.i) AS w
       #|  FROM mrows2 m CROSS JOIN bv12 v),
       #|l2 AS MATERIALIZED (SELECT list_dot_product(v.v, w.w) AS lam FROM bv12 v CROSS JOIN bwf w)""")
      .stripMargin('#').stripPrefix("|")

  /** x109's power-iteration rounds unrolled: w ← M·v as an ordered list
    * agg of list_dot_product rows, then normalize by the ordered-fold L2
    * norm — the exact evaluation order Linalg.powerIteration uses. */
  private def powerIterCtes(p: String, mrows: String, iters: Int): String =
    (1 to iters).map { t =>
      s"""|${p}w$t AS MATERIALIZED (
          #|  SELECT list(list_dot_product(m.rw, v.v) ORDER BY m.i) AS w
          #|  FROM $mrows m CROSS JOIN ${p}v${t - 1} v),
          #|${p}v$t AS MATERIALIZED (
          #|  SELECT list_transform(w, x -> x / sqrt(list_dot_product(w, w))) AS v
          #|  FROM ${p}w$t)""".stripMargin('#')
    }.mkString(",\n").stripPrefix("|")

  /** The ridge fit shared by x110 and x112: normalized normal equations
    * from 6-dp moments over the bias-augmented features, trace-derived
    * step size, then 48 unrolled gradient steps (gdIterCtes). Emits
    * `|`-margined CTE text whose first line rides the caller's `WITH `. */
  private def ridgeFitCtes: String =
    ("""|d AS MATERIALIZED (
        #|  SELECT vec_id, label, list_append(embedding::DOUBLE[], 1.0) AS e,
        #|    CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
        #|  FROM embeddings),
        #|nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM d),
        #|idx AS (SELECT i FROM range(0, 65) t(i)),
        #|prx AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
        #|s2 AS MATERIALIZED (
        #|  SELECT prx.i, prx.j,
        #|    round((sum(floor(d.e[prx.i + 1] * d.e[prx.j + 1] * 1048576.0 + 0.5)::BIGINT)::DOUBLE
        #|           / 1048576.0) / (SELECT n FROM nn), 6) AS s
        #|  FROM d CROSS JOIN prx GROUP BY prx.i, prx.j),
        #|am AS MATERIALIZED (SELECT i, j, s AS a FROM s2 UNION ALL SELECT j, i, s FROM s2 WHERE i <> j),
        #|arows AS MATERIALIZED (SELECT i, list(a ORDER BY j) AS rw FROM am GROUP BY i),
        #|bh AS MATERIALIZED (
        #|  SELECT i.i AS i,
        #|    round((sum(floor(d.e[i.i + 1] * d.y * 1048576.0 + 0.5)::BIGINT)::DOUBLE
        #|           / 1048576.0) / (SELECT n FROM nn), 6) AS b
        #|  FROM d CROSS JOIN idx i GROUP BY i.i),
        #|bl AS MATERIALIZED (SELECT list(b ORDER BY i) AS b FROM bh),
        #|trc AS MATERIALIZED (
        #|  SELECT list_reduce(list(a ORDER BY i), (x, y) -> x + y) AS t
        #|  FROM am WHERE i = j),
        #|et AS MATERIALIZED (SELECT round(1.0 / (t + 0.1), 6) AS eta FROM trc),
        #|gw0 AS MATERIALIZED (SELECT list_transform(generate_series(1, 65), x -> 0.0) AS w),""".stripMargin('#') +
      "\n|" + gdIterCtes(48, "0.1")).stripPrefix("|")

  /** x228's grouped ridge replay: per-source quantized gram sums, then
    * every leave-one-source-out fit (plus the '__base__' full fit) as ONE
    * relational chain keyed by `lo` — the ablated matrix is the total
    * minus the left-out group's integer sums, moments rounded to 6 dp
    * exactly like ridgeFitCtes, 48 gradient steps via logoGdIterCtes. */
  private def logoFitCtes: String =
    ("""|ld AS MATERIALIZED (
        #|  SELECT e.vec_id, doc.source AS grp,
        #|    list_append(e.embedding::DOUBLE[], 1.0) AS e,
        #|    CASE WHEN e.label < 5 THEN 1.0 ELSE 0.0 END AS y
        #|  FROM embeddings e JOIN documents doc ON doc.doc_id = e.vec_id),
        #|lidx AS (SELECT i FROM range(0, 65) t(i)),
        #|lprx AS (SELECT a.i AS i, b.i AS j FROM lidx a JOIN lidx b ON b.i >= a.i),
        #|lqg AS MATERIALIZED (
        #|  SELECT d.grp, lprx.i, lprx.j,
        #|    sum(floor(d.e[lprx.i + 1] * d.e[lprx.j + 1] * 1048576.0 + 0.5)::BIGINT)::BIGINT AS q
        #|  FROM ld d CROSS JOIN lprx GROUP BY 1, 2, 3),
        #|lqyg AS MATERIALIZED (
        #|  SELECT d.grp, i.i AS i,
        #|    sum(floor(d.e[i.i + 1] * d.y * 1048576.0 + 0.5)::BIGINT)::BIGINT AS q
        #|  FROM ld d CROSS JOIN lidx i GROUP BY 1, 2),
        #|lng AS MATERIALIZED (SELECT grp, count(*)::BIGINT AS n FROM ld GROUP BY 1),
        #|lqt AS MATERIALIZED (SELECT i, j, sum(q)::BIGINT AS q FROM lqg GROUP BY 1, 2),
        #|lqyt AS MATERIALIZED (SELECT i, sum(q)::BIGINT AS q FROM lqyg GROUP BY 1),
        #|lnt AS (SELECT sum(n)::BIGINT AS n FROM lng),
        #|llos AS MATERIALIZED (
        #|  SELECT grp AS lo FROM lng UNION ALL SELECT '__base__'),
        #|lnl AS MATERIALIZED (
        #|  SELECT l.lo, ((SELECT n FROM lnt) - coalesce(g.n, 0))::BIGINT AS n
        #|  FROM llos l LEFT JOIN lng g ON g.grp = l.lo),
        #|lam0 AS MATERIALIZED (
        #|  SELECT l.lo, t.i, t.j,
        #|    round(((t.q - coalesce(g.q, 0)) / 1048576.0) / lnl.n, 6) AS a
        #|  FROM llos l
        #|  CROSS JOIN lqt t
        #|  LEFT JOIN lqg g ON g.grp = l.lo AND g.i = t.i AND g.j = t.j
        #|  JOIN lnl ON lnl.lo = l.lo),
        #|lam AS MATERIALIZED (
        #|  SELECT lo, i, j, a FROM lam0
        #|  UNION ALL SELECT lo, j, i, a FROM lam0 WHERE i <> j),
        #|larows AS MATERIALIZED (
        #|  SELECT lo, i, list(a ORDER BY j) AS rw FROM lam GROUP BY 1, 2),
        #|lbh AS MATERIALIZED (
        #|  SELECT l.lo, t.i,
        #|    round(((t.q - coalesce(g.q, 0)) / 1048576.0) / lnl.n, 6) AS b
        #|  FROM llos l
        #|  CROSS JOIN lqyt t
        #|  LEFT JOIN lqyg g ON g.grp = l.lo AND g.i = t.i
        #|  JOIN lnl ON lnl.lo = l.lo),
        #|lbl AS MATERIALIZED (SELECT lo, list(b ORDER BY i) AS b FROM lbh GROUP BY 1),
        #|ltrc AS MATERIALIZED (
        #|  SELECT lo, list_reduce(list(a ORDER BY i), (x, y) -> x + y) AS t
        #|  FROM lam WHERE i = j GROUP BY lo),
        #|let AS MATERIALIZED (SELECT lo, round(1.0 / (t + 0.1), 6) AS eta FROM ltrc),
        #|lgw0 AS MATERIALIZED (
        #|  SELECT lo, list_transform(generate_series(1, 65), x -> 0.0) AS w
        #|  FROM llos),""".stripMargin('#') +
      "\n|" + logoGdIterCtes(48, "0.1")).stripPrefix("|")

  /** x233's oracle: the exact all-pairs spectrum (the x07 oracle's pair
    * CTEs) binned per percent, then one SELECT per (b, r) config whose
    * detection probability is the SAME integer square-chain text the
    * Spark side evaluates (LshPlanner.sqlDetectPpm with DuckDB's //);
    * the sub-threshold proxy is Scala-computed and inlined as a literal
    * on both sides. */
  private def lshPlanOracle(
      numPerms: Int, thresholdPpm: Long, targetPpm: Long): String = {
    val configs = Iterator.iterate(1)(_ * 2).takeWhile(_ <= numPerms)
      .map(r => (numPerms / r, r)).toSeq
    val planSelects = configs.map { case (nb, r) =>
      val det = graft.operators.LshPlanner.sqlDetectPpm("mid", nb, r, "//")
      val subhalf = graft.operators.LshPlanner.detectPpmPublic(
        thresholdPpm / 2L, nb, r)
      s"""#|  SELECT ${nb}::BIGINT AS bands, ${r}::BIGINT AS rows_per_band,
          #|    (sum(cnt::HUGEINT * $det) // (SELECT n FROM tot))::BIGINT
          #|      AS recall_ppm,
          #|    ${subhalf}::BIGINT AS subhalf_ppm
          #|  FROM hm""".stripMargin('#')
    }.mkString("\n  UNION ALL\n").stripPrefix("|")
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS sh
      |  FROM t WHERE len(toks) >= 3),
      |p AS (
      |  SELECT len(list_intersect(a.sh, b.sh))::BIGINT AS c,
      |    len(a.sh)::BIGINT AS sa, len(b.sh)::BIGINT AS sb
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
      |sp AS (
      |  SELECT ((c * 1000000) // (sa + sb - c))::BIGINT AS s_ppm
      |  FROM p WHERE (c * 1000000) // (sa + sb - c) >= $thresholdPpm),
      |h AS (
      |  SELECT (s_ppm // 10000)::BIGINT AS bin, count(*)::BIGINT AS cnt
      |  FROM sp GROUP BY 1),
      |tot AS (SELECT sum(cnt)::BIGINT AS n FROM h),
      |hm AS (
      |  SELECT bin, cnt,
      |    least(bin * 10000 + 5000, 1000000)::BIGINT AS mid
      |  FROM h),
      |plans AS (
      |$planSelects),
      |ch AS (SELECT min(bands) AS cb FROM plans WHERE recall_ppm >= $targetPpm)
      |SELECT bands, rows_per_band, recall_ppm, subhalf_ppm,
      |  coalesce(bands = (SELECT cb FROM ch), false) AS chosen
      |FROM plans ORDER BY bands""".stripMargin
  }

  /** x232's Sinkhorn–Knopp scaling rounds unrolled: u ← a·10¹² div (Kv),
    * v ← b·10¹² div (Kᵀu), all HUGEINT division on the |cells| frames —
    * the exact integer recurrence OptimalTransport.sinkhornPlan runs in
    * BigInt. `pfx` names the chain; `aCte`/`bCte` pick the marginal pair
    * (the self-transport chains of the debiased divergence reuse one
    * marginal on both sides). Both marginal CTEs expose (cell, mg). */
  private def sinkhornIterCtes(
      iters: Int, pfx: String, aCte: String, bCte: String): String =
    (1 to iters).map { t =>
      s"""|${pfx}u$t AS MATERIALIZED (
          #|  SELECT kk.ci AS cell,
          #|    ((ma.mg * 1000000000000::HUGEINT)
          #|      // greatest(sum(kk.k * v.v), 1::HUGEINT))::HUGEINT AS u
          #|  FROM okk kk
          #|  JOIN ${pfx}v${t - 1} v ON v.cell = kk.cj
          #|  JOIN $aCte ma ON ma.cell = kk.ci
          #|  GROUP BY kk.ci, ma.mg),
          #|${pfx}v$t AS MATERIALIZED (
          #|  SELECT kk.cj AS cell,
          #|    ((mb.mg * 1000000000000::HUGEINT)
          #|      // greatest(sum(kk.k * u.u), 1::HUGEINT))::HUGEINT AS v
          #|  FROM okk kk
          #|  JOIN ${pfx}u$t u ON u.cell = kk.ci
          #|  JOIN $bCte mb ON mb.cell = kk.cj
          #|  GROUP BY kk.cj, mb.mg)""".stripMargin('#')
    }.mkString(",\n").stripPrefix("|")

  /** The transport cost of one finished x232 chain, in cost-grid units. */
  private def sinkhornCostCte(name: String, pfx: String, iters: Int): String =
    s"""|$name AS (
        #|  SELECT (sum(p * cs)
        #|    // greatest(sum(p), 1::HUGEINT))::BIGINT AS ot
        #|  FROM (
        #|    SELECT kk.cs, (u.u * kk.k * v.v)::HUGEINT AS p
        #|    FROM okk kk
        #|    JOIN ${pfx}u$iters u ON u.cell = kk.ci
        #|    JOIN ${pfx}v$iters v ON v.cell = kk.cj))""".stripMargin('#')
      .stripPrefix("|")

  /** The per-lo gradient steps for logoFitCtes — gdIterCtes with every
    * frame keyed and joined by the left-out source. */
  private def logoGdIterCtes(iters: Int, lambda: String): String =
    (1 to iters).map { t =>
      s"""|lgw$t AS MATERIALIZED (
          #|  SELECT lo, list(wi ORDER BY i) AS w FROM (
          #|    SELECT a.lo, a.i,
          #|      w.w[a.i + 1] - et.eta *
          #|        ((list_dot_product(a.rw, w.w) - b.b[a.i + 1])
          #|          + $lambda * w.w[a.i + 1]) AS wi
          #|    FROM larows a
          #|    JOIN lgw${t - 1} w ON w.lo = a.lo
          #|    JOIN lbl b ON b.lo = a.lo
          #|    JOIN let et ON et.lo = a.lo)
          #|  GROUP BY lo)""".stripMargin('#')
    }.mkString(",\n").stripPrefix("|")

  /** x110's gradient steps unrolled: wᵢ ← wᵢ − η[(Â·w − b̂)ᵢ + λwᵢ] with
    * the same parenthesization Linalg.ridgeProbe evaluates. */
  private def gdIterCtes(iters: Int, lambda: String): String =
    (1 to iters).map { t =>
      s"""|gw$t AS MATERIALIZED (
          #|  SELECT list(wi ORDER BY i) AS w FROM (
          #|    SELECT a.i AS i,
          #|      w.w[a.i + 1] - (SELECT eta FROM et) *
          #|        ((list_dot_product(a.rw, w.w) - b.b[a.i + 1]) + $lambda * w.w[a.i + 1]) AS wi
          #|    FROM arows a CROSS JOIN gw${t - 1} w CROSS JOIN bl b))""".stripMargin('#')
    }.mkString(",\n").stripPrefix("|")
}
