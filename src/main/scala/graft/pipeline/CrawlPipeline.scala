package graft.pipeline

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.CsvIngest
import graft.model.ResourceStatus
import graft.store.MetaStore

/** E1/E2/E5/E7 — the crawl → check → analyse → ingest orchestration
  * (reference crawl/__init__.py:14-41, crawl/check_resources.py:56-231,
  * analysis/resource.py:35-133, analysis/csv.py:108-199), collapsed into one
  * Spark driver loop with pluggable I/O ports.
  *
  * Network and webhook I/O live behind `Fetcher`/`Notifier` traits (zero
  * egress here: the default Fetcher serves local files). Everything that
  * touches data — ingest, profiling, metadata upserts — is executor-side
  * Spark work from CsvIngest/MetaStore.
  *
  * E7 status machine: every resource walks CRAWLING_URL → TO_ANALYSE_RESOURCE
  * → ANALYSING_RESOURCE → (tabular+changed: TO_ANALYSE_CSV → ANALYSING_CSV →
  * INSERTING_IN_DB → CONVERTING_TO_PARQUET) → NULL, recorded by a
  * StatusTracker that logs the full sequence in-memory and persists the
  * claim-relevant states (CRAWLING_URL / BACKOFF) to the catalog `status`
  * column synchronously (db/resource.py:9-19); terminal state lands once per
  * batch via the catalog upsert. The claim never leaks: any driver exception
  * releases the non-BACKOFF batch rows back to NULL
  * (crawl/check_resources.py:158,204 reset in error handlers). */
object CrawlPipeline {

  /** E2 fetch result: success (local path + headers), timeout, or an HTTP
    * error with optional status/headers — the three outcome classes the
    * reference's aiohttp handlers distinguish (check_resources.py:146-204). */
  sealed trait FetchResult
  final case class Fetched(path: String, headers: Map[String, String], status: Int = 200)
      extends FetchResult
  /** A successful HEAD: status + headers, no body on disk — an HTTP fetcher
    * returns this from head(); the pipeline only downloads if the early
    * hints say the content may have changed. */
  final case class Headed(status: Int, headers: Map[String, String]) extends FetchResult
  case object FetchTimeout extends FetchResult
  final case class FetchError(status: Option[Int], message: String,
      headers: Map[String, String] = Map.empty) extends FetchResult

  /** A1/E2 port: "download" a url. Local deployment maps file: urls. */
  trait Fetcher {
    /** GET: body downloaded to a local path. */
    def fetch(url: String): FetchResult
    /** HEAD: headers only. Default implementation reuses fetch (a local
      * fetcher's "HEAD" is free); HTTP implementations override. */
    def head(url: String): FetchResult = fetch(url)
    /** 404 stable-URL re-resolution (check_resources.py:210-231): given the
      * resource id, return the current URL if the platform knows a newer one. */
    def resolveStableUrl(resourceId: String): Option[String] = None
  }

  /** File-serving fetcher (zero-egress stand-in for the HTTP client). */
  class LocalFetcher extends Fetcher {
    def fetch(url: String): FetchResult = {
      val path = url.stripPrefix("file://")
      if (Files.exists(Paths.get(path)))
        Fetched(path, Map(
          "content-length" -> Files.size(Paths.get(path)).toString,
          "content-type" -> "text/csv"))
      else FetchError(Some(404), s"not found: $url")
    }
  }

  /** C8 port: "check:" / "analysis:" webhooks (WebhookPayloads documents). */
  trait Notifier {
    def notify(datasetId: String, resourceId: String, document: Map[String, Any]): Unit
  }
  final class NoopNotifier extends Notifier {
    val sent = scala.collection.mutable.ArrayBuffer.empty[(String, String, Map[String, Any])]
    def notify(d: String, r: String, doc: Map[String, Any]): Unit = sent += ((d, r, doc))
  }

  final case class CheckOutcome(
      resourceId: String,
      url: String,
      status: Option[Int],
      checksum: Option[String],
      filesize: Option[Long],
      mimeType: Option[String],
      parsingTable: Option[String],
      parsingError: Option[String],
      error: Option[String],
      timeout: Boolean,
      changed: Boolean,
      skippedBackoff: Boolean = false,
      headers: Map[String, String] = Map.empty,
      responseTime: Option[Double] = None,
      parquetUrl: Option[String] = None,
      parquetSize: Option[Long] = None,
      detectedLastModifiedAt: Option[Instant] = None)

  /** The last-check fields change detection and webhooks consult. */
  final case class LastCheck(
      id: Long,
      checksum: Option[String],
      status: Option[Int],
      timeout: Boolean,
      contentLength: Option[String],
      contentType: Option[String],
      lastModified: Option[String] = None,
      detectedLastModifiedAt: Option[Instant] = None,
      createdAt: Option[Instant] = None)

  /** E7 — records every status transition (the reference's Resource.update
    * calls). The in-memory log is the spec-observable transition sequence.
    *
    * Persistence is CLAIM-GRANULAR, not per-transition: on a parquet-backed
    * MetaStore every write is a whole-catalog rewrite, so only the statuses a
    * CONCURRENT selector must see — the CRAWLING_URL claim and BACKOFF — are
    * written through synchronously. Intermediate walk states
    * (TO_ANALYSE_* / ANALYSING_* / INSERTING_IN_DB / CONVERTING_TO_PARQUET)
    * stay in-memory; the terminal state is persisted once by the batch's
    * catalog upsert (status=NULL + last_check pointer). That turns ~6 ×
    * batchSize catalog rewrites per batch into the 2-3 batched ones. */
  final class StatusTracker(store: MetaStore, spark: SparkSession,
      writeThrough: Boolean = true) {
    import spark.implicits._
    val transitions = scala.collection.mutable.ArrayBuffer.empty[(String, Option[String])]
    private val current = scala.collection.mutable.HashMap.empty[String, Option[String]]

    /** Statuses another selector's claim logic consults — these must be
      * durable the moment they're set. */
    private def claimRelevant(status: Option[String]): Boolean =
      status.exists(s => s == ResourceStatus.CrawlingUrl || s == "BACKOFF")

    def set(resourceIds: Seq[String], status: Option[String]): Unit = {
      if (resourceIds.isEmpty) return
      resourceIds.foreach { id =>
        transitions += ((id, status))
        current(id) = status
      }
      if (writeThrough && claimRelevant(status))
        store.upsert("catalog",
          resourceIds.map(id => (id, status.orNull)).toDF("resource_id", "status"),
          "resource_id")
    }
    def set(resourceId: String, status: Option[String]): Unit =
      set(Seq(resourceId), status)

    /** Force-persist the given ids' status to NULL (claim release on driver
      * failure) regardless of claim-relevance. */
    def release(resourceIds: Seq[String]): Unit = {
      if (resourceIds.isEmpty) return
      resourceIds.foreach { id =>
        transitions += ((id, None))
        current(id) = None
      }
      if (writeThrough)
        store.upsert("catalog",
          resourceIds.map(id => (id, null: String)).toDF("resource_id", "status"),
          "resource_id")
    }

    /** Latest tracked status for a resource (None = never tracked). */
    def currentFor(resourceId: String): Option[Option[String]] = current.get(resourceId)

    /** The transition sequence one resource walked, oldest first. */
    def sequenceFor(resourceId: String): Seq[Option[String]] =
      transitions.filter(_._1 == resourceId).map(_._2).toSeq
  }

  /** B7: streamed sha1 of a local file (utils/file.py:16-24). */
  def sha1File(path: String): String = {
    val md = MessageDigest.getInstance("SHA-1")
    val in = Files.newInputStream(Paths.get(path))
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  private def headBytes(path: String, n: Int = 8): Array[Byte] = {
    val in = Files.newInputStream(Paths.get(path))
    try {
      val buf = new Array[Byte](n)
      val read = in.read(buf)
      if (read <= 0) Array.emptyByteArray else java.util.Arrays.copyOf(buf, read)
    } finally in.close()
  }

  /** E2 backoff decision per batch domain (crawl/helpers.py:66-139): one
    * windowed pass over the checks log computes request counts in the
    * backoff period and the latest check in the cool-off period; the pure
    * Scheduling.isDomainBackoff makes the call. A created_date bound (a
    * partition filter on the store's log) keeps this a tail scan. */
  def domainBackoffs(
      checks: Option[org.apache.spark.sql.DataFrame],
      domains: Seq[String],
      now: Instant,
      noBackoffDomains: Set[String]): Map[String, (Boolean, String)] = {
    val df = checks.getOrElse(return Map.empty)
    if (domains.isEmpty) return Map.empty
    val sinceBackoff = Timestamp.from(now.minusSeconds(Scheduling.BackoffPeriodSeconds))
    val sinceCool = Timestamp.from(now.minusSeconds(Scheduling.CoolOffPeriodSeconds))
    val hasHeaders = df.columns.contains("headers")
    val coolStart = sinceCool.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDate
    val recent = graft.queries.ChecksQueries.nearDates(df, coolStart, None)
      .filter(col("domain").isin(domains: _*) && col("created_at") >= lit(sinceCool))
      .select(col("domain"), col("created_at"), col("id"), col("status"),
        (if (hasHeaders) col("headers").getItem("x-ratelimit-remaining")
         else lit(null).cast("string")).as("rl_remaining"),
        (if (hasHeaders) col("headers").getItem("x-ratelimit-limit")
         else lit(null).cast("string")).as("rl_limit"))
    val w = Window.partitionBy("domain").orderBy(desc("created_at"), desc("id"))
    val latest = recent.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("domain", "created_at", "status", "rl_remaining", "rl_limit")
      .collect()
      .map(r => r.getString(0) -> Scheduling.BackoffCheck(
        r.getTimestamp(1).toInstant,
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        Option(r.getString(3)), Option(r.getString(4))))
      .toMap
    val counts = recent.filter(col("created_at") >= lit(sinceBackoff))
      .groupBy("domain").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    domains.map { d =>
      d -> Scheduling.isDomainBackoff(
        counts.getOrElse(d, 0L), latest.get(d), now, noBackoffDomains.contains(d))
    }.toMap
  }

  /** One crawl batch, end-to-end:
    * select due resources (A7) → per-domain backoff gate → HEAD (GET
    * fallback when the HEAD is useless) via the Fetcher (E2) → change
    * detection against the last check (E4) → CSV analysis + ingest when
    * changed/first, with the E7 status walk → append checks, update catalog,
    * schedule next check (E6). Returns the per-resource outcomes. */
  def runBatch(
      spark: SparkSession,
      store: MetaStore,
      warehouse: String,
      fetcher: Fetcher,
      notifier: Notifier,
      batchSize: Int = 40,
      now: Instant = Instant.now(),
      noBackoffDomains: Set[String] = Set.empty,
      tracker: Option[StatusTracker] = None,
      exportDir: Option[String] = None,
      statusWriteThrough: Boolean = true): Seq[CheckOutcome] = {

    import graft.queries.ChecksQueries
    graft.functions.GraftFunctions.register(spark)

    val catalog = store.load("catalog").getOrElse(return Seq.empty)
    val checks = store.load("checks")

    val selected = ChecksQueries.selectBatch(catalog, batchSize, Timestamp.from(now))
    val harvestCol =
      if (selected.columns.contains("harvest_modified_at")) col("harvest_modified_at")
      else lit(null).cast("timestamp")
    val batch = selected
      .select(col("resource_id"), col("dataset_id"), col("url"), harvestCol.as("__harvest"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getTimestamp(3)).map(_.toInstant)))
    if (batch.isEmpty) return Seq.empty

    // write-through persists only the claim-relevant statuses (CRAWLING_URL
    // claim + BACKOFF), never the per-transition walk — on a parquet-backed
    // MetaStore every write is a catalog rewrite. A SINGLE-DRIVER deployment
    // can still set statusWriteThrough=false to keep even the claim
    // in-memory; the final NULL/last_check state persists via the batched
    // upserts below either way.
    val status = tracker.getOrElse(new StatusTracker(store, spark, statusWriteThrough))

    // A7 claim step (crawl/select_batch.py:16-31): mark picked rows
    // CRAWLING_URL so a concurrent selector skips them
    import spark.implicits._
    status.set(batch.map(_._1).toSeq, Some(ResourceStatus.CrawlingUrl))

    val batchIds = batch.map(_._1).toSeq
    try {
      runClaimed(spark, store, warehouse, fetcher, notifier, now,
        noBackoffDomains, status, checks, batch.toSeq, exportDir)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the claim must not leak: a wedged CRAWLING_URL row is excluded by
        // selectBatch forever (reference resets in its error handlers).
        // BACKOFF rows were handled correctly and already persisted — leave
        // them; everything else (mid-flight AND completed, whose terminal
        // state never reached the store because the batched upsert didn't
        // run) releases back to NULL.
        val keepBackoff = batchIds.filterNot(id =>
          status.currentFor(id).flatten.contains("BACKOFF"))
        status.release(keepBackoff)
        throw e
    }
  }

  private def runClaimed(
      spark: SparkSession,
      store: MetaStore,
      warehouse: String,
      fetcher: Fetcher,
      notifier: Notifier,
      now: Instant,
      noBackoffDomains: Set[String],
      status: StatusTracker,
      checks: Option[org.apache.spark.sql.DataFrame],
      batch: Seq[(String, String, String, Option[Instant])],
      exportDir: Option[String]): Seq[CheckOutcome] = {
    import spark.implicits._

    // only the BATCH's resources come back to the driver (bounded by
    // batchSize), never the full check history — the isin filter pushes to
    // the partitioned parquet scan before the window
    val batchIds = batch.map(_._1)
    val lastByResource: Map[String, LastCheck] = checks match {
      case None => Map.empty
      case Some(df) =>
        val has = df.columns.toSet
        def opt(name: String, tpe: String) =
          if (has(name)) col(name) else lit(null).cast(tpe)
        graft.queries.ChecksQueries.dedupLatestPerResource(
          df.filter(col("resource_id").isin(batchIds: _*)))
          .select(col("resource_id"), col("id"), col("checksum"),
            opt("status", "int").as("status"),
            opt("timeout", "boolean").as("timeout"),
            (if (has("headers")) col("headers").getItem("content-length")
             else lit(null).cast("string")).as("cl"),
            (if (has("headers")) col("headers").getItem("content-type")
             else lit(null).cast("string")).as("ct"),
            (if (has("headers")) col("headers").getItem("last-modified")
             else lit(null).cast("string")).as("lm"),
            opt("detected_last_modified_at", "timestamp").as("dlm"),
            col("created_at"))
          .collect()
          .map(r => r.getString(0) -> LastCheck(r.getLong(1), Option(r.getString(2)),
            if (r.isNullAt(3)) None else Some(r.getInt(3)),
            !r.isNullAt(4) && r.getBoolean(4),
            Option(r.getString(5)), Option(r.getString(6)),
            Option(r.getString(7)),
            Option(r.getTimestamp(8)).map(_.toInstant),
            Option(r.getTimestamp(9)).map(_.toInstant))).toMap
    }
    // empty-table safe: max(id) over zero rows is NULL (was a getLong NPE)
    val maxCheckId = checks
      .map(_.agg(coalesce(max("id"), lit(0L))).head().getLong(0)).getOrElse(0L)

    val backoffs = domainBackoffs(
      checks, batch.map(b => domainOf(b._3)).distinct, now, noBackoffDomains)

    // resources_exceptions: size-cap waiver + requested table_indexes
    // (C1/D15 — "indexes" recorded in tables_index like the reference's
    // jsonb column; index name scheme = HeaderUtils.indexName)
    val exceptionRows: Map[String, String] = store.load("resources_exceptions")
      .map { df =>
        val hasIdx = df.columns.contains("table_indexes")
        df.collect().map { r =>
          r.getAs[String]("resource_id") ->
            (if (hasIdx) Option(r.getAs[String]("table_indexes")).getOrElse("") else "")
        }.toMap
      }
      .getOrElse(Map.empty)
    val exceptions: Set[String] = exceptionRows.keySet
    val newIndexEntries = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, String)]

    val outcomes = batch.map { case (resourceId, datasetId, url0, harvest) =>
      checkOne(spark, store, warehouse, fetcher, notifier, now, status,
        backoffs, lastByResource, exceptions, exceptionRows, newIndexEntries,
        resourceId, datasetId, url0, exportDir, harvest)
    }

    val checked = outcomes.filterNot(_.skippedBackoff)

    // append the new check rows (D-partition-friendly schema) in one write
    val createdAt = Timestamp.from(now)
    if (checked.nonEmpty) {
      val newChecks = checked.zipWithIndex.map { case (o, i) =>
        (maxCheckId + i + 1, o.resourceId, o.url, domainOf(o.url), createdAt,
          o.status, o.headers, o.timeout, o.responseTime, o.checksum, o.filesize,
          o.mimeType, o.parsingTable, o.parsingError, o.parquetUrl, o.parquetSize,
          o.detectedLastModifiedAt.map(Timestamp.from), o.error,
          Timestamp.from(Scheduling.calculateNextCheck(o.changed,
            Some(now), o.detectedLastModifiedAt, now)))
      }.toDF("id", "resource_id", "url", "domain", "created_at",
        "status", "headers", "timeout", "response_time", "checksum", "filesize",
        "mime_type", "parsing_table", "parsing_error", "parquet_url",
        "parquet_size", "detected_last_modified_at", "error", "next_check_at")
      // date-partitioned append: retention purges (D14) and backoff windows
      // (D7) then prune partitions instead of scanning the whole log
      store.append("checks",
        newChecks.withColumn("created_date", to_date(col("created_at"))),
        partitionBy = Seq("created_date"))

      // C6: tables_index append — one row per freshly parsed table
      if (newIndexEntries.nonEmpty) {
        val idx = newIndexEntries.toSeq
          .toDF("parsing_table", "csv_detective", "resource_id", "url", "indexes")
          .withColumn("created_at", lit(createdAt))
        store.append("tables_index", idx)
      }

      // catalog: point each resource at its new check, clear status (E3's
      // "reset so it's not forbidden to be checked again" — an explicit NULL
      // that the upsert's DO-UPDATE semantics preserves) and priority
      val updates = newChecks
        .select(col("resource_id"), col("id").as("last_check"), col("next_check_at"))
        .withColumn("priority", lit(false))
        .withColumn("status", lit(null).cast("string"))
      store.upsert("catalog", updates, "resource_id")
    }

    // backoff'd rows keep status=BACKOFF (still selectable next batch) with
    // priority lowered, exactly like Resource.update(status=BACKOFF,
    // priority=False) in check_resources.py:146-149
    val backedOff = outcomes.filter(_.skippedBackoff)
    if (backedOff.nonEmpty) {
      store.upsert("catalog",
        backedOff.map(o => (o.resourceId, "BACKOFF", false))
          .toDF("resource_id", "status", "priority"),
        "resource_id")
    }

    outcomes
  }

  /** E2 — one resource's check (check_resources.py:110-204): backoff gate,
    * HEAD with GET fallback, timeout/error classification, then the E5/E7
    * analysis walk on success. */
  private def checkOne(
      spark: SparkSession,
      store: MetaStore,
      warehouse: String,
      fetcher: Fetcher,
      notifier: Notifier,
      now: Instant,
      status: StatusTracker,
      backoffs: Map[String, (Boolean, String)],
      lastByResource: Map[String, LastCheck],
      exceptions: Set[String],
      exceptionRows: Map[String, String],
      newIndexEntries: scala.collection.mutable.ArrayBuffer[(String, String, String, String, String)],
      resourceId: String,
      datasetId: String,
      url0: String,
      exportDir: Option[String],
      harvestModifiedAt: Option[Instant]): CheckOutcome = {
    import spark.implicits._

    val domain0 = domainOf(url0)
    if (backoffs.get(domain0).exists(_._1)) {
      status.set(resourceId, Some("BACKOFF"))
      return CheckOutcome(resourceId, url0, None, None, None, None, None, None,
        None, timeout = false, changed = false, skippedBackoff = true)
    }

    // HEAD first; a headless/headerless response falls back to GET
    // (crawl/helpers.py:47-54 via HeaderUtils.hasNiceHead); a 404 triggers
    // one stable-URL re-resolution pass (check_resources.py:210-231)
    def fetchSmart(url: String): (String, FetchResult) = {
      val headRes = fetcher.head(url)
      def niceHead(st: Int, headers: Map[String, String]) =
        HeaderUtils.hasNiceHead(Some(st), HeaderUtils.normalizeHeaders(headers))
      val resolved = headRes match {
        case Fetched(_, headers, st) if !niceHead(st, headers) => fetcher.fetch(url)
        case Headed(st, headers) if !niceHead(st, headers) => fetcher.fetch(url)
        case FetchError(Some(404), _, _) =>
          fetcher.resolveStableUrl(resourceId).filter(_ != url) match {
            case Some(actual) =>
              // catalog keeps the re-resolved url (Resource.update(url=...))
              store.upsert("catalog",
                Seq((resourceId, actual)).toDF("resource_id", "url"), "resource_id")
              return fetchSmart(actual)
            case None => headRes
          }
        case other => other
      }
      (url, resolved)
    }

    val fetchStart = System.nanoTime()
    val (url, res) = fetchSmart(url0)
    val responseTime = (System.nanoTime() - fetchStart) / 1e9
    val last = lastByResource.get(resourceId)

    // check:* webhook goes out only when the check OUTCOME changed vs the
    // previous one (preprocess_check_data → has_check_changed), not on every
    // identical failure/success
    def lastView = last.map(l => ChangeDetection.CheckView(
      now, l.status, l.timeout, None, l.contentLength, l.contentType, l.checksum, None))
    def notifyIfCheckChanged(st: Option[Int], timeout: Boolean,
        error: Option[String], headers: Map[String, String]): Unit = {
      val current = ChangeDetection.CheckView(now, st, timeout, None,
        headers.get("content-length"), headers.get("content-type"), None, None)
      if (error.isDefined || ChangeDetection.hasCheckChanged(current, lastView))
        notifier.notify(datasetId, resourceId,
          WebhookPayloads.checkDocument(st, timeout, error, headers, now))
    }

    res match {
      case FetchTimeout =>
        // 5 s budget exceeded (check_resources.py:146-160): status NULL,
        // timeout flag set, availability report goes out
        notifyIfCheckChanged(None, timeout = true, None, Map.empty)
        status.set(resourceId, None)
        CheckOutcome(resourceId, url, None, None, None, None, None, None,
          None, timeout = true, changed = false, responseTime = Some(responseTime))

      case FetchError(st, message, headers) =>
        val hdrs = HeaderUtils.normalizeHeaders(headers)
        notifyIfCheckChanged(st, timeout = false,
          Some(HeaderUtils.fixSurrogates(message)), hdrs)
        status.set(resourceId, None)
        CheckOutcome(resourceId, url, st, None, None, None, None, None,
          Some(message), timeout = false, changed = false, headers = hdrs,
          responseTime = Some(responseTime))

      case ok @ (_: Fetched | _: Headed) =>
        val (httpStatus, headers) = ok match {
          case Fetched(_, h, s) => (s, HeaderUtils.normalizeHeaders(h))
          case Headed(s, h) => (s, HeaderUtils.normalizeHeaders(h))
          case _ => throw new MatchError(ok)
        }
        notifyIfCheckChanged(Some(httpStatus), timeout = false, None, headers)
        status.set(resourceId, Some(ResourceStatus.ToAnalyseResource))
        status.set(resourceId, Some(ResourceStatus.AnalysingResource))

        // E4 cascade on early hints BEFORE any download
        // (analysis/resource.py:63-72): harvest metadata → last-modified
        // header → content-length diff; only a possible change downloads
        import ChangeDetection.{HasChanged, HasNotChanged, NoGuess}
        val currentView = ChangeDetection.CheckView(now, Some(httpStatus),
          timeout = false, headers.get("last-modified"),
          headers.get("content-length"), headers.get("content-type"), None, None)
        val lastView = last.map(l => ChangeDetection.CheckView(
          l.createdAt.getOrElse(now), l.status, l.timeout, l.lastModified,
          l.contentLength, l.contentType, l.checksum, l.detectedLastModifiedAt))
        val (hint, hintPayload) = ChangeDetection.detectChangeOnEarlyHints(
          harvestModifiedAt, Seq(currentView) ++ lastView.toSeq, parseHttpDate, now)

        if (hint == HasNotChanged && last.isDefined) {
          // nothing changed per the hints: record the check (headers only,
          // like the reference's non-download path) and move on — at crawl
          // scale this skip is most of the bandwidth saved. The previous
          // check's checksum rides along: a later check whose hints say
          // NoGuess compares fromChecksum against THIS row, and a None here
          // would read as HasChanged → spurious re-download of unchanged
          // content.
          status.set(resourceId, None)
          return CheckOutcome(resourceId, url, Some(httpStatus),
            last.flatMap(_.checksum), None,
            None, None, None, None, timeout = false, changed = false,
            headers = headers, responseTime = Some(responseTime))
        }

        // download the body (unless the smart fetch already has it)
        val path = ok match {
          case Fetched(p, _, _) => p
          case _ => fetcher.fetch(url) match {
            case Fetched(p, _, _) => p
            case FetchTimeout =>
              status.set(resourceId, None)
              return CheckOutcome(resourceId, url, None, None, None, None, None,
                None, None, timeout = true, changed = false,
                responseTime = Some(responseTime))
            case FetchError(st, message, h) =>
              status.set(resourceId, None)
              return CheckOutcome(resourceId, url, st, None, None, None, None,
                None, Some(message), timeout = false, changed = false,
                headers = HeaderUtils.normalizeHeaders(h),
                responseTime = Some(responseTime))
            case _: Headed =>
              status.set(resourceId, None)
              return CheckOutcome(resourceId, url, Some(httpStatus), None, None,
                None, None, None, Some("fetch returned no body"),
                timeout = false, changed = false, headers = headers,
                responseTime = Some(responseTime))
          }
        }

        val checksum = sha1File(path)
        val size = Files.size(Paths.get(path))
        val mime = HeaderUtils.sniffMime(headBytes(path))
        val (_, format) = HeaderUtils.detectTabularFromHeaders(headers, url)
        // change verdict: a positive hint wins; otherwise checksum decides
        // (detect_resource_change_from_checksum); first check always analyses
        val (changed, detectedLm): (Boolean, Option[Instant]) = hint match {
          case HasChanged => (true, hintPayload.map(_.lastModifiedAt))
          case _ if last.isEmpty => (true, None)
          case _ => ChangeDetection.fromChecksum(checksum, lastView, now) match {
            case (HasChanged, p) => (true, p.map(_.lastModifiedAt))
            case _ => (false, None)
          }
        }

        if (!HeaderUtils.sizeAllowed(format, size, exceptions.contains(resourceId))) {
          // size-cap refusal (utils/file.py:48-65 abort; waived for exceptions)
          notifier.notify(datasetId, resourceId,
            WebhookPayloads.analysisDocument(None, None, None,
              Some("File too large to download")))
          status.set(resourceId, None)
          CheckOutcome(resourceId, url, Some(httpStatus), Some(checksum), Some(size),
            Some(mime), None, None, Some("File too large to download"),
            timeout = false, changed = changed, headers = headers,
            responseTime = Some(responseTime))
        } else {
          var parsingTable: Option[String] = None
          var parsingError: Option[String] = None
          var parquetInfo: Option[(String, Long)] = None
          if (changed) {
            // E7: TO_ANALYSE_CSV → ANALYSING_CSV → INSERTING_IN_DB →
            // CONVERTING_TO_PARQUET (analysis/csv.py:121-199 + 311,354)
            status.set(resourceId, Some(ResourceStatus.ToAnalyseCsv))
            status.set(resourceId, Some(ResourceStatus.AnalysingCsv))
            val startedAt = now
            val onPhase: String => Unit = p => status.set(resourceId, Some(p))
            try {
              // route by headers-format, url extension, and sniffed magic —
              // an OLE2 body behind a text/csv content-type still goes to
              // the xls reader (utils/reader.py:30-66 format routing)
              val res =
                if (format == "xlsx" || url.endsWith(".xlsx"))
                  CsvIngest.analyseXlsx(spark, path, url, warehouse,
                    exportDir = exportDir, onPhase = onPhase)
                else if (format == "xls" || url.endsWith(".xls") ||
                  mime == "application/vnd.ms-excel")
                  CsvIngest.analyseXls(spark, path, url, warehouse,
                    exportDir = exportDir, onPhase = onPhase)
                else if (url.endsWith(".ods"))
                  CsvIngest.analyseOds(spark, path, url, warehouse,
                    exportDir = exportDir, onPhase = onPhase)
                else CsvIngest.analyseCsv(spark, path, url, warehouse,
                  exportDir = exportDir, onPhase = onPhase)
              // C6: record the parsed table + full inspection report +
              // any requested indexes from the exceptions table
              newIndexEntries += ((res.tableName,
                graft.model.InspectionJson.toJson(res.inspection), resourceId, url,
                exceptionRows.getOrElse(resourceId, "")))
              parquetInfo = res.parquetExport
              notifier.notify(datasetId, resourceId,
                WebhookPayloads.analysisDocument(Some(size), Some(checksum),
                  Some(mime), None) ++
                  WebhookPayloads.parsingDocument(None, Some(startedAt), Some(now),
                    parquetInfo.map(_._1), parquetInfo.map(_._2),
                    csvToParquet = exportDir.isDefined))
              parsingTable = Some(res.tableName)
            } catch {
              case e: CsvSnifferException =>
                // parsing_error = "step:cause" recorded on the check row
                // (utils/errors.py:57-74) + half-written table cleaned up
                parsingError = Some(e.getMessage)
                val tableDir = Paths.get(s"$warehouse/${md5Hex(url)}")
                deleteRecursively(tableDir)
                notifier.notify(datasetId, resourceId,
                  WebhookPayloads.parsingDocument(parsingError, Some(startedAt), Some(now)))
              case scala.util.control.NonFatal(e) =>
                // a malformed file outside the sniffer contract (garbage OLE2
                // sector pointers, hostile zip, …) must fail THIS resource,
                // not abort the whole batch — same "step:cause" shape
                parsingError = Some(
                  s"analysis:${e.getClass.getSimpleName}:${Option(e.getMessage).getOrElse("")}")
                val tableDir = Paths.get(s"$warehouse/${md5Hex(url)}")
                deleteRecursively(tableDir)
                notifier.notify(datasetId, resourceId,
                  WebhookPayloads.parsingDocument(parsingError, Some(startedAt), Some(now)))
            }
          }
          status.set(resourceId, None)
          CheckOutcome(resourceId, url, Some(httpStatus), Some(checksum), Some(size),
            Some(mime), parsingTable, parsingError, None,
            timeout = false, changed = changed, headers = headers,
            responseTime = Some(responseTime),
            parquetUrl = parquetInfo.map(_._1), parquetSize = parquetInfo.map(_._2),
            detectedLastModifiedAt = detectedLm)
        }
    }
  }

  /** HTTP-date parse for Last-Modified headers: RFC 1123 first, then the
    * engine's multi-locale parser (UTC). */
  def parseHttpDate(raw: String): Option[Instant] = {
    try {
      Some(java.time.ZonedDateTime
        .parse(raw, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME).toInstant)
    } catch {
      case _: java.time.format.DateTimeParseException =>
        graft.functions.SmartDateUtil.parse(raw)
          .map(_.toInstant(java.time.ZoneOffset.UTC))
    }
  }

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.iterator().asScala.toSeq.reverseIterator
        .foreach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
  }

  type CsvSnifferException = graft.detect.CsvSniffer.ParseException

  def domainOf(url: String): String =
    try Option(new java.net.URI(url).getHost).getOrElse("local")
    catch { case _: Exception => "local" }

  /** E1 — the crawl loop (crawl/__init__.py:14-41): run batches until no
    * work remains or maxBatches is reached. sleepMs mirrors
    * SLEEP_BETWEEN_BATCHES (0 in tests). */
  def runLoop(
      spark: SparkSession,
      store: MetaStore,
      warehouse: String,
      fetcher: Fetcher,
      notifier: Notifier,
      batchSize: Int = 40,
      maxBatches: Int = 10,
      sleepMs: Long = 0L,
      now: () => Instant = () => Instant.now(),
      noBackoffDomains: Set[String] = Set.empty): Seq[Seq[CheckOutcome]] = {
    val all = Seq.newBuilder[Seq[CheckOutcome]]
    var i = 0
    var done = false
    while (i < maxBatches && !done) {
      val outcomes = runBatch(spark, store, warehouse, fetcher, notifier,
        batchSize, now(), noBackoffDomains)
      // a batch that only backed off must not spin the loop forever
      done = outcomes.isEmpty || outcomes.forall(_.skippedBackoff)
      all += outcomes
      if (!done && sleepMs > 0) Thread.sleep(sleepMs)
      i += 1
    }
    all.result()
  }
}
