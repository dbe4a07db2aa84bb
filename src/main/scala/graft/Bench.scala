package graft
import org.apache.spark.sql.SparkSession

import graft.operators.Scope
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC must be pinned: Tables.events reinterprets NTZ wall-times under
      // the session zone, and the DuckDB oracle's epoch_us() assumes UTC —
      // without this, bench and verify diverge on non-UTC hosts
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    // Schema-drift guard (see BenchGuard): compare the live testdata's raw
    // parquet schemas against the fingerprints in the last committed
    // artifact, and abort LOUDLY before timing anything if the data shape
    // changed under us. SPARK_GRAFT_ACCEPT_SCHEMA=1 acknowledges an
    // intentional reshape (the new fingerprints are then written out).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    val liveSchemas = BenchGuard.fingerprint(spark, sfDir)
    if (sys.env.get("SPARK_GRAFT_ACCEPT_SCHEMA").isEmpty) {
      BenchGuard.recordedSchemas(outFile).foreach { recorded =>
        val drift = BenchGuard.drift(recorded, liveSchemas)
        if (drift.nonEmpty) {
          System.err.println(
            "bench: input schema drift vs last committed artifact " +
              s"($outFile) — refusing to produce comparable-looking numbers:")
          drift.foreach { case (t, old, now) =>
            System.err.println(s"  $t:\n    recorded: $old\n    live:     $now")
          }
          System.err.println(
            "bench: set SPARK_GRAFT_ACCEPT_SCHEMA=1 to accept the new shape")
          spark.stop()
          sys.exit(3)
        }
      }
    }
    // JVM/codegen warmup so the first timed query doesn't absorb startup:
    // touch the scan path and JIT the native kernels on a 256-row sample
    // (measured: the first kernel-heavy query otherwise pays ~2 s of C2
    // compilation that belongs to the JVM, not the query)
    spark.read.parquet(s"$sfDir/region.parquet").count()
    locally {
      import org.apache.spark.sql.functions._
      // collect(), not count(): count lets Catalyst prune the projection and
      // the kernels would never execute
      spark.read.parquet(s"$sfDir/documents.parquet").limit(256)
        .select(
          call_function("graft_minhash_bands",
            call_function("graft_ngram_hashes", col("text"), lit(5)), lit(32), lit(8)),
          call_function("graft_minhash_bands",
            call_function("graft_shingle_hashes", col("text"), lit(3)), lit(16), lit(4)),
          call_function("graft_simhash64", call_function("graft_token_hashes_fnv", col("text"))),
          call_function("graft_quality_score", col("text")),
          call_function("graft_lang_id", col("text"), lit(5)))
        .collect()
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(256)
        .select(call_function("graft_cosine", col("embedding"), col("embedding")),
          call_function("graft_hyperplane_sketch", col("embedding"), lit(16), lit(64), lit(42L)),
          call_function("graft_nearest_centroid", col("embedding"),
            typedlit(Seq.fill(4)(Seq.fill(64)(0.5)))),
          call_function("graft_l2sq", col("embedding"),
            col("embedding").cast("array<double>")))
        .collect()
      // warm the heavy EXECUTION machinery, not just kernels: a broadcast
      // hash join, a window, a sort and a hash aggregate on 256 rows JIT the
      // generic operator paths (BroadcastExchange, WSCG driver loops, sorter)
      // that otherwise bill their C2 compile to the first timed query using
      // them
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      import org.apache.spark.sql.expressions.Window
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("r_regionkey").orderBy("n_name")))
        .where(col("rn") <= 3).orderBy("n_name")
        .groupBy("r_name").agg(count(lit(1)))
        .collect()
      // object-codepath machinery: typed groupByKey/flatMapGroups (the
      // packing/BPE queries), range repartition + per-partition window (the
      // prefix-sum queries), explode/generate — all JIT their own operator
      // loops that otherwise bill to the first query using them
      locally {
        import spark.implicits._
        val tiny = (1L to 256L).map(i => (i % 7, i)).toDF("k", "v")
        tiny.repartitionByRange(4, col("v"))
          .withColumn("p", spark_partition_id())
          .withColumn("rn", row_number().over(Window.partitionBy("p").orderBy("v")))
          .select(col("k"), col("v"), posexplode(array(col("rn"), col("rn"))))
          .as[(Long, Long, Int, Int)]
          .groupByKey(_._1)
          .flatMapGroups((k, it) => it.map(r => (k, r._2)))
          .collect()
      }
    }
    // SPARK_GRAFT_ONLY=x16,x17 — optional comma-separated prefix filter for
    // iterating on single queries; the driver never sets it (full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.exists(n.startsWith) }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query JVM telemetry (diagnosis only, never part of the timing):
    // heap-in-use sampled right after the between-query cleanup+GC below,
    // so a query whose number is inflated by accumulated JVM pressure is
    // diagnosable from the artifact alone — this box has measured the
    // same query at 14.6 s vs 61.2 s on identical code depending on sweep
    // position, and without a pressure trace every such swing indicts
    // whatever round happened to be measured
    val jvmUsed = scala.collection.mutable.LinkedHashMap[String, Long]()
    // run in NAME order, not hash-map order: adding one query otherwise
    // reshuffles the whole run and JIT/page-cache attribution moves between
    // neighbors, making per-query numbers incomparable across rounds
    val results = scala.collection.immutable.ListMap(selected.toSeq.sortBy(_._1): _*)
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      // the noop sink runs every operator of the plan (a count() lets
      // Catalyst prune the projections and sorts that ARE the query); the
      // Scope releases the query's caches and checkpoints inside the timing
      try Scope { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch {
        case e: Throwable =>
          // a query that throws must be VISIBLE in the artifact (and in the
          // exit code) — a swallowed OOM/codegen failure otherwise reads as
          // a fast green run
          errors(name) = (e.getClass.getName + ": " +
            Option(e.getMessage).getOrElse("")).replaceAll("[\"\\\\\n\r\t]", " ").take(300)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // between queries (outside the timed window): collect the garbage the
      // query generated, so query N's number doesn't include query N-1's
      // memory pressure
      System.gc()
      val rt = Runtime.getRuntime
      jvmUsed(name) = (rt.totalMemory() - rt.freeMemory()) >> 20
      name -> dt
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
        .mkString(""","errors":{""", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val jvmJson = jvmUsed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errJson,""" +
        s""""jvm_used_mb":$jvmJson,""" +
        s""""schemas":${BenchGuard.schemasJson(liveSchemas)},"sf":"$sfDir"}"""
    println(json)
    // EXACTLY ONE marker line, and it is COMPACT (~200 bytes): rounds 7-9's
    // driver stored a 2 KB-truncated copy of the FIRST "BENCH_JSON:" match,
    // which was the 12 KB full-profile line — json.loads on the beheaded
    // object yielded parsed=null three rounds running. With the profile
    // line unmarked (plain stdout + the $outFile artifact), any parser that
    // greps the marker — first match, last match, any truncation window ≥
    // one line — gets a complete, parseable headline object
    println("BENCH_JSON: " +
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""n_errors":${errors.size},"sf":"$sfDir","profile_file":"$outFile"}""")
    // the artifact must survive log-tail truncation (round 4 lost its
    // "total" line that way) — also write it to a file the round can keep
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outFile: ${e.getMessage}") }
    // $outFile is OVERWRITTEN by every run, which cost round 13 its
    // per-query PERF comparison (the r12 profile survived only because a
    // snapshot commit happened to catch it). Keep every full run's profile
    // in an append-only sibling so cross-round per-query comparison never
    // depends on driver log retention again. Subset runs (SPARK_GRAFT_ONLY)
    // are iteration noise and stay out of the history.
    if (only.isEmpty) {
      val histFile = outFile.stripSuffix(".json") + "_history.jsonl"
      try java.nio.file.Files.write(java.nio.file.Paths.get(histFile),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Throwable =>
        System.err.println(s"bench: could not append $histFile: ${e.getMessage}") }
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(2)
  }
}
