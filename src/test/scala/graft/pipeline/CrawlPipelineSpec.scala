package graft.pipeline

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.MetaStore

class CrawlPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("end-to-end batch: fetch → ingest → checks appended → catalog updated → re-crawl no-op") {
    val root = Files.createTempDirectory("crawl").toString
    val store = new MetaStore(spark, s"$root/meta")
    val warehouse = s"$root/warehouse"

    val csv1 = Files.createTempFile("r1", ".csv")
    Files.write(csv1, "id,v\n1,2\n2,3\n".getBytes)
    val csv2 = Files.createTempFile("r2", ".csv")
    Files.write(csv2, "a;b\nx;1\ny;2\nz;3\n".getBytes)

    store.save("catalog", Seq(
      ("r1", "d1", s"file://$csv1", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp]),
      ("r2", "d1", s"file://$csv2", false, None: Option[Long], false, None, None),
      ("r3", "d2", "file:///nope.csv", false, None: Option[Long], true, None, None)
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))

    val notifier = new CrawlPipeline.NoopNotifier
    val now = Instant.parse("2024-06-01T00:00:00Z")
    val outcomes = CrawlPipeline.runBatch(spark, store, warehouse,
      new CrawlPipeline.LocalFetcher, notifier, batchSize = 10, now = now)

    assert(outcomes.length == 3)
    val byId = outcomes.map(o => o.resourceId -> o).toMap
    assert(byId("r1").changed && byId("r1").parsingTable.isDefined)
    assert(byId("r2").parsingTable.isDefined)
    assert(byId("r3").error.isDefined && byId("r3").status.contains(404))

    // parsed tables exist in the warehouse with typed columns
    val t1 = spark.read.parquet(s"$warehouse/${byId("r1").parsingTable.get}")
    assert(t1.count() == 2 && t1.schema("v").dataType.typeName == "long")

    // checks appended, catalog points at them, next_check scheduled
    val checks = store.load("checks").get
    assert(checks.count() == 3)
    val cat = store.load("catalog").get
    assert(cat.filter(col("resource_id") === "r1").head().getAs[Long]("last_check") > 0L)
    assert(cat.filter(col("last_check").isNull).count() == 0)

    // webhooks: analysis notification for both ingested resources + error for r3
    assert(notifier.sent.count(_._3.contains("analysis:checksum")) == 2)
    assert(notifier.sent.count(d => d._3.get("analysis:parsing:error").contains(null)) == 2)
    assert(notifier.sent.exists(_._3.get("check:available").contains(false)))

    // C6: tables_index rows carry the full inspection report as JSON
    val idx = store.load("tables_index").get
    assert(idx.count() == 2)
    val report = idx.filter(col("resource_id") === "r1").head().getAs[String]("csv_detective")
    for (key <- Seq("\"header\"", "\"columns\"", "\"total_lines\"", "\"profile\"", "\"formats\""))
      assert(report.contains(key), s"missing $key in $report")

    // E7/A7 state machine: statuses reset to NULL after the batch (the
    // CRAWLING_URL claim must not leak and block future selection)
    assert(cat.filter(col("status").isNotNull).count() == 0)

    // response_time recorded on every fetched check
    assert(checks.filter(col("response_time").isNotNull).count() == 3)

    // second crawl at a later due time: checksums unchanged → no re-ingest,
    // and no repeat check:* webhook for an identical outcome
    val sentBefore = notifier.sent.count(_._3.contains("check:available"))
    val outcomes2 = CrawlPipeline.runBatch(spark, store, warehouse,
      new CrawlPipeline.LocalFetcher, notifier, batchSize = 10,
      now = Instant.parse("2024-07-01T00:00:00Z"))
    val ok2 = outcomes2.filter(_.error.isEmpty)
    assert(ok2.nonEmpty && ok2.forall(o => !o.changed && o.parsingTable.isEmpty))
    val sentAfter = notifier.sent.count(_._3.contains("check:available"))
    // only the still-failing r3 (error path always reports) re-notifies
    assert(sentAfter - sentBefore == 1, s"$sentBefore -> $sentAfter")
  }

  test("C4/C5: export gate populates parquet_url/parquet_size on the check row") {
    val root = Files.createTempDirectory("crawl-export").toString
    val store = new MetaStore(spark, s"$root/meta")
    val big = Files.createTempFile("big", ".csv")
    Files.write(big, ("id,v\n" + (1 to 250).map(i => s"$i,${i * 2}").mkString("\n")).getBytes)
    val small = Files.createTempFile("small", ".csv")
    Files.write(small, "id,v\n1,2\n".getBytes)

    store.save("catalog", Seq(
      ("rbig", "d1", s"file://$big", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp]),
      ("rsmall", "d1", s"file://$small", false, None: Option[Long], false, None, None)
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))

    val notifier = new CrawlPipeline.NoopNotifier
    val outcomes = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      new CrawlPipeline.LocalFetcher, notifier, batchSize = 10,
      now = Instant.parse("2024-06-01T00:00:00Z"),
      exportDir = Some(s"$root/export"))
    val byId = outcomes.map(o => o.resourceId -> o).toMap

    // 250 rows ≥ MIN_LINES → exported with a real size; 1 row → gate closed
    assert(byId("rbig").parquetUrl.exists(_.contains(".parquet")))
    assert(byId("rbig").parquetSize.exists(_ > 0L))
    assert(byId("rsmall").parquetUrl.isEmpty)
    val row = store.load("checks").get.filter(col("resource_id") === "rbig").head()
    assert(row.getAs[String]("parquet_url") != null)
    assert(row.getAs[Long]("parquet_size") > 0L)
    // parsing webhook carries the parquet keys when conversion is on
    assert(notifier.sent.exists(s => s._2 == "rbig" &&
      s._3.get("analysis:parsing:parquet_url").exists(_ != null)))
  }

  test("E7: ragged CSV records parsing_error and walks the status machine") {
    val root = Files.createTempDirectory("crawl-e7").toString
    val store = new MetaStore(spark, s"$root/meta")

    val good = Files.createTempFile("good", ".csv")
    Files.write(good, "id,v\n1,2\n2,3\n".getBytes)
    val ragged = Files.createTempFile("ragged", ".csv")
    // mirror tests/test_analysis/test_analysis_csv.py:240-283 (uneven columns)
    Files.write(ragged, "a,b\n1,2\n3,4,5\n6\n7,8,9,10\n1,2\n3,4\n5,6\n7,8\n1,2\n3,4\n".getBytes)

    store.save("catalog", Seq(
      ("ok", "d1", s"file://$good", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp]),
      ("bad", "d1", s"file://$ragged", false, None: Option[Long], false, None, None)
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))

    val notifier = new CrawlPipeline.NoopNotifier
    val tracker = new CrawlPipeline.StatusTracker(store, spark)
    val outcomes = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      new CrawlPipeline.LocalFetcher, notifier, batchSize = 10,
      now = Instant.parse("2024-06-01T00:00:00Z"), tracker = Some(tracker))
    val byId = outcomes.map(o => o.resourceId -> o).toMap

    // the broken CSV is not silently skipped: parsing_error = "step:cause"
    assert(byId("bad").parsingTable.isEmpty)
    assert(byId("bad").parsingError.exists(_.startsWith("csv-inspection:")),
      byId("bad").parsingError.toString)
    val checks = store.load("checks").get
    val badRow = checks.filter(col("resource_id") === "bad").head()
    assert(badRow.getAs[String]("parsing_error").startsWith("csv-inspection:"))
    // a parsing-error webhook went out (analysis:parsing:error document)
    assert(notifier.sent.exists(s => s._2 == "bad" &&
      s._3.get("analysis:parsing:error").exists(_ != null)))

    // the good resource walked the full E7 sequence through the catalog
    val okSeq = tracker.sequenceFor("ok").map(_.orNull)
    assert(okSeq == Seq("CRAWLING_URL", "TO_ANALYSE_RESOURCE", "ANALYSING_RESOURCE",
      "TO_ANALYSE_CSV", "ANALYSING_CSV", "INSERTING_IN_DB", null), okSeq.toString)
    // the ragged one still reached ANALYSING_CSV, then reset to NULL
    val badSeq = tracker.sequenceFor("bad").map(_.orNull)
    assert(badSeq == Seq("CRAWLING_URL", "TO_ANALYSE_RESOURCE", "ANALYSING_RESOURCE",
      "TO_ANALYSE_CSV", "ANALYSING_CSV", null), badSeq.toString)
    // end state: nothing left mid-flight
    assert(store.load("catalog").get.filter(col("status").isNotNull).count() == 0)
  }

  test("E2: backoff domain is skipped; BACKOFF rows stay selectable") {
    val root = Files.createTempDirectory("crawl-backoff").toString
    val store = new MetaStore(spark, s"$root/meta")
    val csv = Files.createTempFile("r", ".csv")
    Files.write(csv, "id,v\n1,2\n".getBytes)
    val now = Instant.parse("2024-06-01T12:00:00Z")

    store.save("catalog", Seq(
      ("r1", "d1", s"file://$csv", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp])
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))
    // 180 requests to the domain within the backoff window → 181st skips
    val stamp = java.sql.Timestamp.from(now.minusSeconds(60))
    store.save("checks", (1 to 180).map(i =>
      (i.toLong, s"x$i", "u", "local", stamp, Some(200), Map.empty[String, String], false,
        None: Option[String], None: Option[Long], None: Option[String],
        None: Option[String], None: Option[String], None: Option[String], stamp)
    ).toDF("id", "resource_id", "url", "domain", "created_at", "status", "headers",
      "timeout", "checksum", "filesize", "mime_type", "parsing_table",
      "parsing_error", "error", "next_check_at"))

    val outcomes = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      new CrawlPipeline.LocalFetcher, new CrawlPipeline.NoopNotifier,
      batchSize = 10, now = now)
    assert(outcomes.length == 1 && outcomes.head.skippedBackoff)
    // no check row appended; status=BACKOFF remains selectable next batch
    assert(store.load("checks").get.count() == 180)
    val cat = store.load("catalog").get.head()
    assert(cat.getAs[String]("status") == "BACKOFF")
    assert(graft.queries.ChecksQueries.selectBatch(store.load("catalog").get, 10,
      java.sql.Timestamp.from(now)).count() == 1)

    // outside the window (or whitelisted) the resource is checked normally
    val outcomes2 = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      new CrawlPipeline.LocalFetcher, new CrawlPipeline.NoopNotifier,
      batchSize = 10, now = now, noBackoffDomains = Set("local"))
    assert(outcomes2.length == 1 && !outcomes2.head.skippedBackoff &&
      outcomes2.head.parsingTable.isDefined)
  }

  test("E2: useless HEAD falls back to GET; 404 re-resolves the stable URL") {
    val root = Files.createTempDirectory("crawl-head").toString
    val store = new MetaStore(spark, s"$root/meta")
    val csv = Files.createTempFile("moved", ".csv")
    Files.write(csv, "id,v\n1,2\n".getBytes)

    // HEAD returns no content-length/last-modified → crawler must GET;
    // the old URL 404s → stable-URL re-resolution rewrites catalog.url
    var gets = 0; var heads = 0
    val fetcher = new CrawlPipeline.Fetcher {
      override def head(url: String): CrawlPipeline.FetchResult = {
        heads += 1
        if (url == "file://old") CrawlPipeline.FetchError(Some(404), "gone")
        else CrawlPipeline.Fetched(csv.toString, Map("content-type" -> "text/csv"))
      }
      def fetch(url: String): CrawlPipeline.FetchResult = {
        gets += 1
        CrawlPipeline.Fetched(csv.toString, Map(
          "content-length" -> "12", "content-type" -> "text/csv"))
      }
      override def resolveStableUrl(resourceId: String): Option[String] =
        Some(s"file://$csv")
    }

    store.save("catalog", Seq(
      ("r1", "d1", "file://old", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp])
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))

    val outcomes = CrawlPipeline.runBatch(spark, store, s"$root/wh", fetcher,
      new CrawlPipeline.NoopNotifier, batchSize = 10,
      now = Instant.parse("2024-06-01T00:00:00Z"))

    assert(outcomes.length == 1)
    val o = outcomes.head
    // re-resolved: the check ran against the new URL and ingested
    assert(o.url == s"file://$csv" && o.parsingTable.isDefined, o.toString)
    assert(heads == 2 && gets == 1) // old HEAD 404 → new HEAD (headerless) → GET
    // catalog carries the corrected URL
    assert(store.load("catalog").get.head().getAs[String]("url") == s"file://$csv")
  }

  test("E4: unchanged last-modified hint skips the download entirely") {
    val root = Files.createTempDirectory("crawl-hints").toString
    val store = new MetaStore(spark, s"$root/meta")
    val csv = Files.createTempFile("r", ".csv")
    Files.write(csv, "id,v\n1,2\n2,3\n".getBytes)

    // HTTP-style fetcher: HEAD returns headers only; GET downloads
    var gets = 0
    def mkFetcher(lastModified: String) = new CrawlPipeline.Fetcher {
      override def head(url: String): CrawlPipeline.FetchResult =
        CrawlPipeline.Headed(200, Map(
          "content-length" -> "12", "content-type" -> "text/csv",
          "last-modified" -> lastModified))
      def fetch(url: String): CrawlPipeline.FetchResult = {
        gets += 1
        CrawlPipeline.Fetched(csv.toString, Map(
          "content-length" -> "12", "content-type" -> "text/csv",
          "last-modified" -> lastModified))
      }
    }

    store.save("catalog", Seq(
      ("r1", "d1", s"file://$csv", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp])
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))

    // first crawl: no previous check → downloads and ingests
    val o1 = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      mkFetcher("Tue, 04 Jun 2024 10:00:00 GMT"), new CrawlPipeline.NoopNotifier,
      batchSize = 10, now = Instant.parse("2024-06-05T00:00:00Z"))
    assert(o1.head.parsingTable.isDefined && gets == 1)

    // second crawl, same last-modified → HEAD only, no GET; the previous
    // check's checksum carries forward so a later NoGuess check doesn't read
    // the skip row's missing checksum as a change
    val prevChecksum = store.load("checks").get
      .orderBy(col("id").desc).head().getAs[String]("checksum")
    assert(prevChecksum != null)
    val o2 = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      mkFetcher("Tue, 04 Jun 2024 10:00:00 GMT"), new CrawlPipeline.NoopNotifier,
      batchSize = 10, now = Instant.parse("2024-07-05T00:00:00Z"))
    assert(o2.length == 1 && !o2.head.changed &&
      o2.head.checksum.contains(prevChecksum), o2.head.toString)
    assert(gets == 1, s"download must be skipped, gets=$gets")

    // third crawl, newer last-modified → downloads again, hint recorded
    val o3 = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      mkFetcher("Thu, 01 Aug 2024 09:00:00 GMT"), new CrawlPipeline.NoopNotifier,
      batchSize = 10, now = Instant.parse("2024-08-05T00:00:00Z"))
    assert(o3.head.changed && gets == 2)
    assert(o3.head.detectedLastModifiedAt.contains(Instant.parse("2024-08-01T09:00:00Z")))
    val row = store.load("checks").get
      .orderBy(col("id").desc).head()
    assert(row.getAs[java.sql.Timestamp]("detected_last_modified_at").toInstant ==
      Instant.parse("2024-08-01T09:00:00Z"))
  }

  test("a hostile binary fails its own resource, not the whole batch") {
    val root = Files.createTempDirectory("crawl-hostile").toString
    val store = new MetaStore(spark, s"$root/meta")
    val good = Files.createTempFile("good", ".csv")
    Files.write(good, "id,v\n1,2\n".getBytes)
    // valid OLE2 magic followed by garbage sector pointers
    val evil = Files.createTempFile("evil", ".xls")
    val rng = new scala.util.Random(13)
    val bytes = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte) ++
      Array.fill(1024)(rng.nextInt().toByte)
    Files.write(evil, bytes)

    store.save("catalog", Seq(
      ("ok", "d1", s"file://$good", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp]),
      ("bad", "d1", s"file://$evil", false, None: Option[Long], false, None, None)
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))

    val outcomes = CrawlPipeline.runBatch(spark, store, s"$root/wh",
      new CrawlPipeline.LocalFetcher, new CrawlPipeline.NoopNotifier,
      batchSize = 10, now = Instant.parse("2024-06-01T00:00:00Z"))
    val byId = outcomes.map(o => o.resourceId -> o).toMap
    // the good resource still ingested; the hostile one recorded its error
    assert(byId("ok").parsingTable.isDefined)
    assert(byId("bad").parsingTable.isEmpty && byId("bad").parsingError.isDefined,
      byId("bad").toString)
    // nothing left mid-flight, both check rows written
    assert(store.load("checks").get.count() == 2)
    assert(store.load("catalog").get.filter(col("status").isNotNull).count() == 0)
  }

  test("claim never leaks: driver exception resets the batch to NULL") {
    val root = Files.createTempDirectory("crawl-leak").toString
    val store = new MetaStore(spark, s"$root/meta")
    store.save("catalog", Seq(
      ("r1", "d1", "file://x", false, None: Option[Long], false, None: Option[String], None: Option[java.sql.Timestamp])
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))

    val boom = new CrawlPipeline.Fetcher {
      def fetch(url: String): CrawlPipeline.FetchResult = throw new IllegalStateException("boom")
    }
    intercept[IllegalStateException] {
      CrawlPipeline.runBatch(spark, store, s"$root/wh", boom,
        new CrawlPipeline.NoopNotifier, batchSize = 10,
        now = Instant.parse("2024-06-01T00:00:00Z"))
    }
    // status reset — the resource is selectable again, not wedged
    assert(store.load("catalog").get.filter(col("status").isNotNull).count() == 0)
  }

  test("claim release preserves BACKOFF rows; intermediate statuses stay buffered") {
    val root = Files.createTempDirectory("crawl-leak2").toString
    val store = new MetaStore(spark, s"$root/meta")
    val csv = Files.createTempFile("r", ".csv")
    Files.write(csv, "id,v\n1,2\n".getBytes)
    val now = Instant.parse("2024-06-01T12:00:00Z")

    // rback (priority → processed first) sits on the backoff'd "local"
    // domain; rboom's fetch blows up the driver mid-batch
    store.save("catalog", Seq(
      ("rback", "d1", s"file://$csv", false, None: Option[Long], true, None: Option[String], None: Option[java.sql.Timestamp]),
      ("rboom", "d1", "http://boom.example/x", false, None: Option[Long], false, None, None)
    ).toDF("resource_id", "dataset_id", "url", "deleted", "last_check", "priority", "status", "next_check_at"))
    val stamp = java.sql.Timestamp.from(now.minusSeconds(60))
    store.save("checks", (1 to 180).map(i =>
      (i.toLong, s"x$i", "u", "local", stamp, Some(200), Map.empty[String, String], false,
        None: Option[String], None: Option[Long], None: Option[String],
        None: Option[String], None: Option[String], None: Option[String], stamp)
    ).toDF("id", "resource_id", "url", "domain", "created_at", "status", "headers",
      "timeout", "checksum", "filesize", "mime_type", "parsing_table",
      "parsing_error", "error", "next_check_at"))

    val boom = new CrawlPipeline.Fetcher {
      def fetch(url: String): CrawlPipeline.FetchResult = throw new IllegalStateException("boom")
    }
    val tracker = new CrawlPipeline.StatusTracker(store, spark)
    intercept[IllegalStateException] {
      CrawlPipeline.runBatch(spark, store, s"$root/wh", boom,
        new CrawlPipeline.NoopNotifier, batchSize = 10, now = now,
        tracker = Some(tracker))
    }
    // rback really was backed off before the explosion (priority-first order)
    assert(tracker.currentFor("rback").flatten.contains("BACKOFF"), tracker.transitions.toString)
    val statuses = store.load("catalog").get.collect()
      .map(r => r.getAs[String]("resource_id") -> r.getAs[String]("status")).toMap
    // the release kept the correctly-handled BACKOFF row and reset only the
    // mid-flight one
    assert(statuses("rback") == "BACKOFF", statuses.toString)
    assert(statuses("rboom") == null, statuses.toString)
  }

  test("write-through persists claims immediately but buffers the analysis walk") {
    val root = Files.createTempDirectory("tracker-buf").toString
    val store = new MetaStore(spark, s"$root/meta")
    store.save("catalog", Seq(("r1", "u1", false))
      .toDF("resource_id", "url", "deleted"))
    val tracker = new CrawlPipeline.StatusTracker(store, spark)

    def stored(): String = store.load("catalog").get
      .filter(col("resource_id") === "r1").head().getAs[String]("status")

    // the claim is durable the moment it's set (concurrent selectors)…
    tracker.set("r1", Some(graft.model.ResourceStatus.CrawlingUrl))
    assert(stored() == "CRAWLING_URL")
    // …but the per-resource walk states never rewrite the catalog: ~6 ×
    // batchSize whole-table rewrites per batch was the round-2 advisory
    tracker.set("r1", Some(graft.model.ResourceStatus.ToAnalyseCsv))
    tracker.set("r1", Some(graft.model.ResourceStatus.AnalysingCsv))
    assert(stored() == "CRAWLING_URL")
    // the in-memory log still has the full sequence for observability
    assert(tracker.sequenceFor("r1").flatten ==
      Seq("CRAWLING_URL", "TO_ANALYSE_CSV", "ANALYSING_CSV"))
    // release force-persists NULL regardless of claim-relevance
    tracker.release(Seq("r1"))
    assert(stored() == null)
  }

  test("C8: webhook documents carry the reference's exact key sets") {
    import CrawlPipeline._
    val now = Instant.parse("2024-06-01T00:00:00Z")
    val doc = WebhookPayloads.checkDocument(Some(200), timeout = false, None,
      Map("content-type" -> "text/csv; charset=utf-8", "content-length" -> "120"), now)
    assert(doc.keySet == Set("check:available", "check:status", "check:timeout",
      "check:date", "check:error", "check:headers:content-type",
      "check:headers:content-length"))
    assert(doc("check:available") == true && doc("check:status") == 200)
    assert(doc("check:headers:content-type") == "text/csv")
    assert(doc("check:headers:content-length") == 120L)
    // 429: availability is unknowable (None → null), zero length → null
    val doc429 = WebhookPayloads.checkDocument(Some(429), timeout = false,
      Some("slow down"), Map("content-length" -> "0"), now)
    assert(doc429("check:available") == null)
    assert(doc429("check:headers:content-length") == null)

    val parsing = WebhookPayloads.parsingDocument(Some("csv_detective:err"),
      Some(now), Some(now), csvToParquet = true)
    assert(parsing.keySet == Set("analysis:parsing:error",
      "analysis:parsing:started_at", "analysis:parsing:finished_at",
      "analysis:parsing:parquet_url", "analysis:parsing:parquet_size"))

    val analysis = WebhookPayloads.analysisDocument(Some(10L), Some("abc"),
      Some("text/plain"), None)
    assert(analysis.keySet == Set("analysis:content-length", "analysis:checksum",
      "analysis:mime-type"))
    assert(WebhookPayloads.analysisDocument(None, None, None,
      Some("File too large to download")) == Map("analysis:error" -> "File too large to download"))
  }

  test("E2: the backoff window reads only the created_date partitions of the cool-off period") {
    val store = new MetaStore(spark, Files.createTempDirectory("crawl-prune").toString)
    val now = Instant.parse("2024-06-01T12:00:00Z")
    // one check a day on domain "d" for ten days, the latest a minute ago
    store.append("checks", (0 until 10).map { i =>
      (i.toLong, s"r$i", "d", java.sql.Timestamp.from(now.minusSeconds(86400L * i + 60)), 200)
    }.toDF("id", "resource_id", "domain", "created_at", "status")
      .withColumn("created_date", to_date(col("created_at"))),
      partitionBy = Seq("created_date"))
    val (got, plans) = graft.SparkProbe.plansDuring(spark)(
      CrawlPipeline.domainBackoffs(store.load("checks"), Seq("d"), now, Set.empty))
    val scans = plans.flatMap(graft.SparkProbe.fileScans)
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "created_date"))))
    // the cool-off day, the day before it (time-zone slack) and today, of ten
    assert(scans.forall(_.selectedPartitions.partitionCount == 3))
    // the same decision as a scan of the whole log
    assert(got == CrawlPipeline.domainBackoffs(
      store.load("checks").map(_.drop("created_date")), Seq("d"), now, Set.empty))
  }
}
