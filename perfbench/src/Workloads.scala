package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.CrawlPipeline
import graft.pipeline.CrawlPipeline.{CheckOutcome, FetchError, FetchResult, Fetched, Headed}
import graft.queries.GraftApi
import graft.store.{CatalogLoader, MetaStore}

/** The benchmark's Fetcher: serves generated files by url, times every call
  * and remembers which urls were downloaded (GET) and when. */
final class BenchFetcher(trace: Trace,
    serve: String => Option[(String, Map[String, String])]) extends CrawlPipeline.Fetcher {
  var batchStart = 0L
  var firstCall = -1L
  var insideNs = 0L
  val gets = mutable.LinkedHashMap.empty[String, Long]

  private def call(name: String)(body: => FetchResult): FetchResult = {
    val t0 = System.nanoTime()
    if (firstCall < 0) firstCall = t0
    val r = trace.span("fetcher", name)(body)
    insideNs += System.nanoTime() - t0
    r
  }
  override def head(url: String): FetchResult = call("head") {
    serve(url) match {
      case None => FetchError(Some(404), "404 Not Found")
      case Some((_, h)) => Headed(200, h)
    }
  }
  def fetch(url: String): FetchResult = {
    val r = call("fetch") {
      serve(url) match {
        case None => FetchError(Some(404), "404 Not Found")
        case Some((path, h)) => Fetched(path, h)
      }
    }
    gets(url) = System.nanoTime()
    r
  }
  def prologueS: Double = if (firstCall < 0) 0.0 else (firstCall - batchStart) / 1e9
}

/** The benchmark's Notifier: the time each resource's first `analysis:`
  * webhook went out, and whether it carried a parsing error. */
final class BenchNotifier(trace: Trace) extends CrawlPipeline.Notifier {
  val analysedAt = mutable.LinkedHashMap.empty[String, Long]
  val parsingError = mutable.Map.empty[String, String]
  def notify(datasetId: String, resourceId: String, doc: Map[String, Any]): Unit =
    trace.span("notifier", "notify") {
      if (doc.keys.exists(_.startsWith("analysis:")) && !analysedAt.contains(resourceId))
        analysedAt(resourceId) = System.nanoTime()
      doc.get("analysis:parsing:error").filter(_ != null)
        .foreach(e => parsingError(resourceId) = e.toString)
    }
}

object Outcomes {
  def json(o: CheckOutcome): Map[String, Any] = Map(
    "resource_id" -> o.resourceId, "status" -> o.status, "changed" -> o.changed,
    "parsing_table" -> o.parsingTable, "parsing_error" -> o.parsingError,
    "error" -> o.error, "checksum" -> o.checksum, "backoff" -> o.skippedBackoff,
    "parquet_url" -> o.parquetUrl)
}

/** Throughput of the `functions/` kernels, each drained into a noop sink
  * over the workload's own generated strings (median of three drains). */
object Kernels {
  private val Rows = 20000

  def run(spark: SparkSession, texts: DataFrame, trace: Trace): Map[String, Any] = {
    val base = texts.select(col("text")).filter(col("text").isNotNull)
    val copies = math.max(1L, Rows / math.max(1L, base.count())).toInt
    val rows = base.withColumn("k", explode(sequence(lit(1), lit(copies)))).limit(Rows)
      .select(col("text"), expr("graft_ngram_hashes(text, 5)").as("h"))
      .repartition(4).cache()
    val cells = rows.select(explode(split(col("text"), "[;,| \\t]")).as("cell"))
      .limit(2 * Rows).repartition(4).cache()
    val n = rows.count()
    val nCells = cells.count()
    val kernels = Seq(
      ("graft_ngram_hashes", rows, n, expr("graft_ngram_hashes(text, 5)")),
      ("graft_minhash_bands", rows, n, expr("graft_minhash_bands(h, 16, 4)")),
      ("graft_simhash64", rows, n, expr("graft_simhash64(h)")),
      ("graft_quality_score", rows, n, expr("graft_quality_score(text)")),
      ("smartcast", cells, nCells, struct(graft.functions.SmartCast.toTimestampCol(col("cell")),
        graft.functions.SmartCast.toDouble(col("cell")))))
    val out = kernels.map { case (name, df, count, e) =>
      val times = (1 to 3).map { _ =>
        Clock.seconds(trace.span("functions", name) {
          df.select(e.as("v")).write.format("noop").mode("overwrite").save()
        })
      }
      s"kernel.$name.rows_per_s" -> count / Stats.median(times)
    }.toMap
    rows.unpersist(blocking = true)
    cells.unpersist(blocking = true)
    out
  }
}

/** Per-module Spark totals of the traced rounds, shared by every workload. */
object ModuleLayers {
  def apply(trace: Trace): Map[String, Any] = {
    trace.drain()
    trace.Modules.flatMap { m =>
      val s = trace.modules.getOrElse(m, new trace.ModuleStats)
      Seq(s"$m.jobs" -> s.jobs, s"$m.job_s" -> s.jobMs / 1e3, s"$m.task_s" -> s.taskMs / 1e3,
        s"$m.input_bytes" -> s.inputBytes, s"$m.shuffle_bytes" -> s.shuffleBytes,
        s"$m.spill_bytes" -> s.spillBytes, s"$m.gc_s" -> s.gcMs / 1e3)
    }.toMap ++ Map("outside_jobs_s" -> trace.outsideJobsS,
      "planning_s_by_module" -> trace.modules.map { case (m, s) => m -> s.planningMs / 1e3 })
  }
}

/** service_steady: recrawl batches over a large catalog with a long check
  * history, each followed by a fixed mix of API reads and writes. */
final class ServiceSteady(c: Ctx) extends Workload {
  private val spark = c.spark
  private type Res = Map[String, Any]
  private val t0 = Instant.parse(c.manifest("t0").toString)
  private val batch = c.manifest("batch").toString.toInt
  private val groups = c.manifest("groups").asInstanceOf[List[List[String]]].map(_.toVector).toVector
  private val res: Map[String, Res] = c.manifest("resources").asInstanceOf[List[Res]]
    .map(r => r("resource_id").toString -> r).toMap
  private val byUrl: Map[String, Res] = res.values.map(r => r("url").toString -> r).toMap
  private val days = c.manifest("history_days").asInstanceOf[List[String]].toVector
  private val store = new MetaStore(spark, c.dir("steady", "store"))
  private val warehouse = c.dir("steady", "tables")
  private val api = new GraftApi(spark, store)
  private var catalogLoadS = 0.0
  private var lastReads: Seq[(String, () => DataFrame)] = Nil

  /** The current version of a resource: changed ones serve v1, gone ones
    * answer 404. Class A sends content-length, class B last-modified,
    * class C neither. */
  private def serve(url: String): Option[(String, Map[String, String])] =
    byUrl.get(url).filter(_("change") != "gone").map { r =>
      val v = if (r.contains("path_v1")) "v1" else "v0"
      val h = mutable.Map("content-type" -> r("content_type").toString)
      r("cls") match {
        case "A" => h("content-length") = r(s"len_$v").toString
        case "B" => h("last-modified") = r(s"lm_$v").toString
        case _ =>
      }
      (r(s"path_$v").toString, h.toMap)
    }

  override def stage(): Unit = {
    // check history through MetaStore, in the schema the pipeline writes;
    // the generated file is one split, so each date partition gets one file
    val hist = spark.read.parquet(c.manifest("history").toString)
      .withColumn("created_date", to_date(col("created_at")))
    store.append("checks", hist, partitionBy = Seq("created_date"))
    Phase("history written")
    // crawl pointers first, then the catalog load over them: the loader's
    // upsert updates dataset_id/url/deleted and keeps last_check and
    // next_check_at, as the daily reload of a crawled catalog does
    import spark.implicits._
    val pointers = c.manifest("pointers").asInstanceOf[List[List[Any]]].map {
      case List(id, last, due) => (id.toString, last.toString.toLong,
        Timestamp.from(java.time.OffsetDateTime.parse(due.toString).toInstant))
      case other => throw new IllegalStateException(s"bad pointer $other")
    }.toDF("resource_id", "last_check", "next_check_at")
    store.upsert("catalog", pointers, "resource_id")
    Phase("pointers written")
    catalogLoadS = Clock.seconds(
      CatalogLoader.loadCatalog(spark, store, c.manifest("catalog").toString))
  }

  private var warmRound: Map[String, Any] = Map.empty

  /** Set-up ends with one full round on group 0, outside the measurement:
    * the measured batches run in a warm process, as in a crawler service
    * that has been up for a while. */
  def warmUp(): Unit = warmRound = runGroup(0).data

  override def hasRound(i: Int): Boolean = i + 2 < groups.size

  def round(i: Int): Round = runGroup(i + 1)

  private def runGroup(g: Int): Round = {
    val now = t0.plusSeconds(60L * g + 30)
    val fetcher = new BenchFetcher(c.trace, serve)
    val notifier = new BenchNotifier(c.trace)
    val writesBefore = c.trace.writes.size
    val warehouseBefore = (Dirs.bytes(warehouse), parquetFiles(warehouse))
    val storeBytesBefore = storeOutputBytes
    val start = System.nanoTime()
    fetcher.batchStart = start
    var failed = 0
    val outcomes = try c.trace.span("pipeline", "runBatch") {
      CrawlPipeline.runBatch(spark, store, warehouse, fetcher, notifier,
        batchSize = batch, now = now)
    } catch { case NonFatal(e) => System.err.println(s"runBatch failed: $e"); failed += batch; Seq.empty }
    val batchS = (System.nanoTime() - start) / 1e9
    Phase(s"group $g batch")
    c.trace.drain()
    val catalogRewrites = c.trace.writes.drop(writesBefore).count(_.contains("_staged_catalog"))
    val storeBytes = storeOutputBytes - storeBytesBefore

    val group = groups(g)
    val x = group((g * 7) % group.size)
    val day = java.sql.Date.valueOf(days((g * 13) % days.size))
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "checksLatest" -> (() => api.checksLatest(resourceId = Some(x))),
      "checksAll" -> (() => api.checksAll(resourceId = Some(x))),
      "checksAggregate" -> (() => api.checksAggregate("status", day)),
      "stats" -> (() => api.stats()),
      "statusCrawler" -> (() => api.statusCrawler(Timestamp.from(now))),
      "statusWorker" -> (() => api.statusWorker()),
      "resource" -> (() => api.resource(x)))
    lastReads = reads
    val readObs = reads.map { case (route, f) =>
      try {
        val (rows, s) = Clock.timed(c.trace.span("queries", route)(f().collect()))
        Map("route" -> route, "ms" -> s * 1e3, "ok" -> true, "rows" -> rows.map(_.json).toSeq)
      } catch {
        case NonFatal(e) =>
          failed += 1
          Map("route" -> route, "ms" -> 0.0, "ok" -> false, "error" -> e.toString)
      }
    }
    Phase(s"group $g reads")
    // writes prioritise two resources of the next group: the next batch
    // selects them through the priority branch, the rest as due
    val next = groups(g + 1)
    val y1 = res(next(0)); val y2 = res(next(1))
    val writes: Seq[(String, () => Any)] = Seq(
      "createCheck" -> (() => api.createCheck(y1("resource_id").toString)),
      "updateResource" -> (() => api.updateResource(y2("dataset_id").toString,
        y2("resource_id").toString, y2("url").toString, priority = true)))
    val writeObs = writes.map { case (route, f) =>
      try {
        val (v, s) = Clock.timed(c.trace.span("queries", route)(f()))
        Map("route" -> route, "ms" -> s * 1e3, "ok" -> (v != false))
      } catch {
        case NonFatal(e) =>
          failed += 1
          Map("route" -> route, "ms" -> 0.0, "ok" -> false, "error" -> e.toString)
      }
    }
    Phase(s"group $g writes")
    val urls = outcomes.map(_.url).toSet
    val analysis = notifier.analysedAt.flatMap { case (id, t) =>
      res.get(id).flatMap(r => fetcher.gets.get(r("url").toString))
        .map(f => id -> (t - f) / 1e9)
    }
    Round(g, batchS + (readObs ++ writeObs).map(_("ms").asInstanceOf[Double]).sum / 1e3,
      batch + reads.size + writes.size, failed,
      Map("group" -> g, "now" -> now.toString, "batch_s" -> batchS, "target" -> x,
        "day" -> day.toString,
        "outcomes" -> outcomes.map(o => Outcomes.json(o) ++ Map(
          "downloaded" -> fetcher.gets.contains(o.url))),
        "reads" -> readObs, "writes" -> writeObs,
        "fetch_s" -> fetcher.insideNs / 1e9, "prologue_s" -> fetcher.prologueS,
        "downloads" -> fetcher.gets.keys.count(urls.contains),
        "checked" -> outcomes.count(!_.skippedBackoff),
        "catalog_rewrites" -> catalogRewrites, "store_bytes" -> storeBytes,
        "analysis_s" -> analysis.toMap, "parsing_errors" -> notifier.parsingError.toMap,
        "warehouse_bytes" -> (Dirs.bytes(warehouse) - warehouseBefore._1),
        "warehouse_files" -> (parquetFiles(warehouse) - warehouseBefore._2)))
  }

  private def parquetFiles(dir: String): Int =
    Dirs.files(dir).count(_.toString.endsWith(".parquet"))

  private def storeOutputBytes: Long =
    c.trace.modules.get("store").map(_.outputBytes).getOrElse(0L)

  private def ms(rounds: Seq[Round], key: String, routes: Set[String]): Seq[Double] =
    rounds.flatMap(_.data(key).asInstanceOf[Seq[Map[String, Any]]])
      .filter(o => routes(o("route").toString) && o("ok") == true)
      .map(_("ms").asInstanceOf[Double])

  private val ReadRoutes = Set("checksLatest", "checksAll", "checksAggregate", "stats",
    "statusCrawler", "statusWorker", "resource")

  def summarize(rounds: Seq[Round]): Map[String, Any] = {
    val batchS = rounds.map(_.data("batch_s").asInstanceOf[Double])
    val checked = rounds.map(_.data("checked").asInstanceOf[Int]).sum
    val readMs = ms(rounds, "reads", ReadRoutes)
    val writeMs = ms(rounds, "writes", Set("createCheck", "updateResource"))
    Map(
      "metrics" -> Map(
        "throughput_per_s" -> checked / batchS.sum,
        "latency_ms" -> Stats.geomeanOfMedians(ReadRoutes.toSeq.map(r => ms(rounds, "reads", Set(r))))),
      "detail" -> Map(
        "catalog_load_s" -> catalogLoadS,
        "recrawl_resources_per_s" -> checked / batchS.sum,
        "recrawl_batch_p50_s" -> Stats.median(batchS),
        "api_read_p50_ms" -> Stats.quantile(readMs, 0.5),
        "api_read_p90_ms" -> Stats.quantile(readMs, 0.9),
        "api_write_p50_ms" -> Stats.quantile(writeMs, 0.5),
        "batch_s" -> batchS,
        "route_median_ms" -> routeMedians(rounds)))
  }

  /** Each API route's median latency (ms) over the rounds. */
  private def routeMedians(rounds: Seq[Round]): Map[String, Double] =
    (ReadRoutes ++ Set("createCheck", "updateResource")).toSeq.map { r =>
      r -> Stats.median(ms(rounds, if (ReadRoutes(r)) "reads" else "writes", Set(r)))
    }.toMap

  def observe(rounds: Seq[Round]): Map[String, Any] = Map(
    "warm_round" -> warmRound,
    "rounds_data" -> rounds.map(r => r.data ++ Map("index" -> r.index, "seconds" -> r.seconds)),
    "store" -> Paths.get(c.runDir, "steady", "store").toString)

  def layers(rounds: Seq[Round]): Map[String, Any] = {
    def med(key: String) = Stats.median(rounds.map(r => r.data(key) match {
      case d: Double => d; case i: Int => i.toDouble; case l: Long => l.toDouble; case _ => 0.0
    }))
    val routes = routeMedians(rounds).map { case (r, v) => s"api.${r}_ms" -> v }
    val checksFiles = parquetFiles(Paths.get(c.runDir, "steady", "store", "checks").toString)
    val kernels = Kernels.run(spark,
      spark.read.text(c.manifest("catalog").toString).withColumnRenamed("value", "text"), c.trace)
    val writeMs = ms(rounds, "writes", Set("createCheck", "updateResource"))
    val analysed = rounds.flatMap(_.data("analysis_s").asInstanceOf[Map[String, Double]].toSeq)
    val perFormat = analysed.groupBy { case (id, _) => res(id)("kind").toString }
    val formats = Seq("csv", "csvgz", "xlsx", "ods", "xls").flatMap { k =>
      val xs = perFormat.getOrElse(k, Nil).map(_._2)
      Seq(s"ingest.analysis_s.$k.p50" -> Stats.quantile(xs, 0.5),
        s"ingest.analysis_s.$k.p90" -> Stats.quantile(xs, 0.9))
    }
    // Spark scans only the CSV family (spreadsheets are parsed on the
    // driver), so the ratio is over the bytes of the CSV and gzip CSV sources
    val scanned = c.trace.modules.view.filterKeys(Set("detect", "ingest")).values
      .map(_.sourceScanBytes).sum
    val sourceBytes = analysed.map { case (id, _) => res(id) }
      .filter(r => Set("csv", "csvgz")(r("kind").toString))
      .map(_("len_v1").toString.toLong).sum
    val detectMs = c.trace.modules.get("detect").map(_.jobMs).getOrElse(0L)
    formats.toMap ++ routes ++ kernels ++ Map(
      "detect.source_read_amplification" -> scanned.toDouble / math.max(1L, sourceBytes),
      "detect.job_s_per_resource" -> detectMs / 1e3 / math.max(1, analysed.size),
      "ingest.bytes_written" -> med("warehouse_bytes"),
      "ingest.files_written" -> med("warehouse_files"),
      "pipeline.fetch_s" -> med("fetch_s"),
      "pipeline.download_skip_ratio" -> (1.0 - rounds.map(_.data("downloads").asInstanceOf[Int]).sum.toDouble /
        rounds.map(_.data("checked").asInstanceOf[Int]).sum),
      "pipeline.batch_prologue_s" -> med("prologue_s"),
      "store.catalog_rewrites" -> med("catalog_rewrites"),
      "store.bytes_written" -> med("store_bytes"),
      "store.checks_files" -> checksFiles,
      "catalog_load_s" -> catalogLoadS,
      "recrawl_batch_p50_s" -> med("batch_s"),
      "api_write_p50_ms" -> Stats.quantile(writeMs, 0.5))
  }

  /** Groups 1 and 2 between them re-ingest all five formats. */
  override def rounds: Int = 2

  /** The last round's reads again: read-only, so repeatable. */
  def probe(): Unit = lastReads.foreach { case (_, f) => f().collect() }
}

/** llm_dedup_linkage: the declared near-duplicate and linkage queries over
  * a generated `documents` table, each drained into a noop sink. */
final class DedupLinkage(c: Ctx) extends Workload {
  private val spark = c.spark
  private val dir = c.manifest("dir").toString
  val Dedup = Seq("x07_minhash_neardup", "x08_simhash_neardup", "x09_ngram_jaccard",
    "x55_winnowing_pairs", "x86_prefix_jaccard")
  val Linkage = Seq("x154_qgram_join", "x236_qgram_preflight", "x247_similarity_join_auto",
    "x248_similarity_join_routed", "x251_incremental_linkage", "x252_incremental_routed")
  private val builders = graft.SparkEntry.queries
  private val captured = mutable.LinkedHashMap.empty[String, Any]

  /** Cached plans plus persisted RDDs the session still holds. */
  private def held(): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
    f.setAccessible(true)
    val plans = f.get(cm) match {
      case s: scala.collection.Seq[_] => s.size
      case _ => 0
    }
    plans + spark.sparkContext.getPersistentRDDs.size
  }

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def runQuery(q: String, capture: Boolean): Map[String, Any] = {
    c.trace.tag(q)
    val (df, buildS) = Clock.timed(c.trace.span("queries", q)(builders(q)(spark, dir)))
    val sinkS = Clock.seconds(c.trace.span("operators", s"$q.sink") {
      df.write.format("noop").mode("overwrite").save()
    })
    c.trace.tag("")
    val leaked = held()
    if (capture)
      captured(q) = Map("oracle_sql" -> graft.SparkEntry.oracleSql(q), "columns" -> df.columns.toSeq,
        "rows" -> df.collect().map(_.toSeq.map {
          case d: java.lang.Double => d.doubleValue
          case n: java.lang.Number => n.longValue
          case v => if (v == null) null else v.toString
        }).toSeq)
    release()
    Map("query" -> q, "build_s" -> buildS, "sink_s" -> sinkS, "leaked" -> leaked)
  }

  /** Two cheap dedup queries, so the first measured ones do not pay for the
    * session's first plans, codegen, hash kernels and persist/release. */
  def warmUp(): Unit = {
    runQuery("x08_simhash_neardup", capture = false)
    runQuery("x07_minhash_neardup", capture = false)
  }

  def round(i: Int): Round = {
    var failed = 0
    val first = captured.isEmpty
    val results = (Dedup ++ Linkage).map { q =>
      try runQuery(q, first)
      catch {
        case NonFatal(e) =>
          System.err.println(s"$q failed: $e"); failed += 1; release()
          Map("query" -> q, "build_s" -> 0.0, "sink_s" -> 0.0, "leaked" -> 0, "error" -> e.toString)
      }
    }
    def fam(qs: Seq[String]) = results.filter(r => qs.contains(r("query")))
      .map(r => r("build_s").asInstanceOf[Double] + r("sink_s").asInstanceOf[Double]).sum
    Round(i, fam(Dedup) + fam(Linkage), results.size, failed,
      Map("queries" -> results, "dedup_s" -> fam(Dedup), "linkage_s" -> fam(Linkage)))
  }

  private def perQuery(rounds: Seq[Round]): Seq[Map[String, Any]] =
    rounds.flatMap(_.data("queries").asInstanceOf[Seq[Map[String, Any]]])

  def summarize(rounds: Seq[Round]): Map[String, Any] = {
    val lat = perQuery(rounds).map(r =>
      r("build_s").asInstanceOf[Double] + r("sink_s").asInstanceOf[Double])
    val secs = rounds.map(_.seconds).sum
    val byQuery = perQuery(rounds).groupBy(_("query")).values.map(_.map(r =>
      (r("build_s").asInstanceOf[Double] + r("sink_s").asInstanceOf[Double]) * 1e3))
    Map(
      "metrics" -> Map(
        "throughput_per_s" -> lat.size / secs,
        "latency_ms" -> Stats.geomeanOfMedians(byQuery)),
      "detail" -> Map(
        "query_latency_p50_s" -> Stats.quantile(lat, 0.5),
        "query_latency_p90_s" -> Stats.quantile(lat, 0.9),
        "dedup_s" -> Stats.median(rounds.map(_.data("dedup_s").asInstanceOf[Double])),
        "linkage_s" -> Stats.median(rounds.map(_.data("linkage_s").asInstanceOf[Double]))))
  }

  def observe(rounds: Seq[Round]): Map[String, Any] = Map(
    "captured" -> captured.toMap,
    "rounds_data" -> rounds.map(r => Map("index" -> r.index, "seconds" -> r.seconds,
      "queries" -> r.data("queries"))))

  def layers(rounds: Seq[Round]): Map[String, Any] = {
    val rs = perQuery(rounds).groupBy(_("query").toString)
    val perQ = (Dedup ++ Linkage).flatMap { q =>
      val xs = rs.getOrElse(q, Nil)
      def med(k: String) = Stats.median(xs.map(_(k) match {
        case d: Double => d; case i: Int => i.toDouble; case _ => 0.0
      }))
      val short = q.takeWhile(_ != '_')
      Seq(s"$short.build_s" -> med("build_s"), s"$short.sink_s" -> med("sink_s"),
        s"$short.leaked_caches" -> med("leaked"),
        s"$short.jobs" -> c.trace.jobsByTag.getOrElse(q, 0L).toDouble / math.max(1, xs.size))
    }
    val kernels = Kernels.run(spark, spark.read.parquet(s"$dir/documents.parquet"), c.trace)
    perQ.toMap ++ kernels ++ Map(
      "dedup_s" -> Stats.median(rounds.map(_.data("dedup_s").asInstanceOf[Double])),
      "linkage_s" -> Stats.median(rounds.map(_.data("linkage_s").asInstanceOf[Double])))
  }

  def probe(): Unit = {
    runQuery("x08_simhash_neardup", capture = false)
    runQuery("x07_minhash_neardup", capture = false)
  }
}
