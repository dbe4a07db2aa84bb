package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.store.MetaStore

class CsvIngestSpec extends SparkSpec {

  private def tmpDir = Files.createTempDirectory("graft").toString
  private def writeCsv(content: String): String = {
    val f = Files.createTempFile("graft", ".csv")
    Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("end-to-end: sniff → infer → cast → parquet named md5(url)") {
    val csv = writeCsv(
      "id,amount,label,active,seen\n" +
        "1,\"1 020,20\",aaa,true,2022-12-31\n" +
        "2,3.5,bbb,false,2023-01-15\n" +
        "3,7,ccc,yes,2023-02-01\n")
    val wh = tmpDir
    val url = "http://example.com/data.csv"
    val res = CsvIngest.analyseCsv(spark, csv, url, wh, profile = true)

    assert(res.tableName == CsvIngest.md5Hex(url))
    assert(res.rowCount == 3)
    assert(res.inspection.columns("id").pythonType == "int")
    assert(res.inspection.columns("amount").pythonType == "float")
    assert(res.inspection.columns("active").pythonType == "bool")
    assert(res.inspection.columns("seen").pythonType == "date")

    val out = spark.read.parquet(res.outputPath)
    assert(out.schema("amount").dataType == DoubleType)
    val amounts = out.select("amount").collect().map(_.getDouble(0)).sorted
    assert(amounts.sameElements(Array(3.5, 7.0, 1020.2)))
    // profile present for every column
    assert(res.inspection.profile.keySet == out.columns.toSet)
    assert(res.inspection.profile("amount").max.contains(1020.2))
  }

  test("reserved columns renamed with __hydra_renamed suffix") {
    val csv = writeCsv("xmin,ok\n1,2\n")
    val res = CsvIngest.analyseCsv(spark, csv, "u1", tmpDir, profile = false)
    val out = spark.read.parquet(res.outputPath)
    assert(out.columns.toSet == Set("xmin__hydra_renamed", "ok"))
  }

  test("analyseCsv runs on a session where graft's functions were never registered") {
    val csv = writeCsv("id,seen\n1,2022-12-31\n2,2023-01-15\n")
    val res = CsvIngest.analyseCsv(spark.newSession(), csv, "u-fresh", tmpDir, profile = false)
    assert(res.rowCount == 2)
    assert(res.inspection.columns("seen").pythonType == "date")
  }

  test("preamble rows before the header are skipped") {
    val csv = writeCsv("exported on 2024\ncol_a,col_b\n1,x\n2,y\n")
    val res = CsvIngest.analyseCsv(spark, csv, "u2", tmpDir, profile = false)
    assert(res.inspection.headerRowIdx == 1)
    assert(res.rowCount == 2)
    val out = spark.read.parquet(res.outputPath)
    assert(out.columns.toSet == Set("col_a", "col_b"))
  }

  test("parquet export respects MIN_LINES gate") {
    val small = writeCsv("a\n1\n2\n")
    val export = tmpDir
    CsvIngest.analyseCsv(spark, small, "u3", tmpDir, exportDir = Some(export), profile = false)
    assert(!Files.exists(java.nio.file.Paths.get(s"$export/${CsvIngest.md5Hex("u3")}.parquet")))
    val bigContent = "a\n" + (1 to 250).map(_.toString).mkString("\n") + "\n"
    CsvIngest.analyseCsv(spark, writeCsv(bigContent), "u4", tmpDir,
      exportDir = Some(export), profile = false)
    assert(Files.exists(java.nio.file.Paths.get(s"$export/${CsvIngest.md5Hex("u4")}.parquet")))
  }
}

class MetaStoreSpec extends SparkSpec {

  import spark.implicits._

  private def store = new MetaStore(spark, Files.createTempDirectory("graftmeta").toString)

  test("upsert: insert then update wins on key match") {
    val st = store
    st.save("catalog", Seq(("r1", "u1", false), ("r2", "u2", false))
      .toDF("resource_id", "url", "deleted"))
    st.upsert("catalog",
      Seq(("r2", "u2-new", false), ("r3", "u3", false)).toDF("resource_id", "url", "deleted"),
      "resource_id")
    val rows = st.load("catalog").get.orderBy("resource_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("r1", "u1"), ("r2", "u2-new"), ("r3", "u3")))
  }

  test("upsert: an explicit NULL in the update wins (status-reset semantics)") {
    val st = store
    st.save("catalog", Seq(("r1", Option("CRAWLING_URL")), ("r2", Option("TO_CHECK")))
      .toDF("resource_id", "status"))
    st.upsert("catalog",
      Seq(("r1", None: Option[String])).toDF("resource_id", "status"), "resource_id")
    val statuses = st.load("catalog").get.orderBy("resource_id")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(statuses == Seq(("r1", None), ("r2", Some("TO_CHECK"))))
  }

  test("append with evolved schema: load sees the union of columns") {
    val st = store
    st.append("log", Seq((1L, "a")).toDF("id", "v"))
    st.append("log", Seq((2L, "b", "extra")).toDF("id", "v", "w"))
    val df = st.load("log").get
    assert(df.columns.toSet == Set("id", "v", "w"))
    assert(df.filter(org.apache.spark.sql.functions.col("w").isNotNull).count() == 1)
  }

  test("soft delete all, resurrect via upsert") {
    val st = store
    st.save("catalog", Seq(("r1", false), ("r2", false)).toDF("resource_id", "deleted"))
    st.softDeleteAll("catalog")
    assert(st.load("catalog").get.filter(!col("deleted")).count() == 0)
    st.upsert("catalog", Seq(("r1", false)).toDF("resource_id", "deleted"), "resource_id")
    val live = st.load("catalog").get.filter(!col("deleted"))
      .select("resource_id").collect().map(_.getString(0)).toSeq
    assert(live == Seq("r1"))
  }

  test("retention purge returns dropped count") {
    val st = store
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    ).toDF("id", "created_at")
    st.save("checks", df)
    val dropped = st.purgeOlderThan("checks", "created_at",
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    assert(dropped == 1L)
    assert(st.load("checks").get.count() == 1L)
  }

  /** `days` days of date-partitioned checks from 2024-05-01, ten a day —
    * the layout CrawlPipeline's append writes (partitionBy created_date). */
  private def dailyChecks(st: MetaStore, days: Int = 3): Unit = {
    val rows = for {
      d <- 1 to days
      i <- 1 to 10
    } yield {
      val day = java.time.LocalDate.parse("2024-05-01").plusDays(d - 1L)
      (d * 100L + i, s"r$i", java.sql.Timestamp.valueOf(day.atTime(8, 0)),
        java.sql.Date.valueOf(day))
    }
    st.append("checks",
      rows.toDF("id", "resource_id", "created_at", "created_date"),
      partitionBy = Seq("created_date"))
  }

  test("date-partitioned checks: a day-filtered read scans ONLY that partition") {
    // SURVEY §1.1/§4: checks is a parquet log partitioned by check date —
    // the Postgres created_at-index analog. This pins the payoff: the d03
    // 'created_at::date = $1' query shape, expressed on the partition
    // column, must prune the scan to one directory, not filter post-scan.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val st = store
    dailyChecks(st)
    val day = java.time.LocalDate.parse("2024-05-02")
    val df = st.loadDates("checks", "created_date", Some(day), Some(day)).get
    assert(df.count() == 10)
    df.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case o => o +: o.children.flatMap(flatten)
    }
    val scans = flatten(df.queryExecution.executedPlan).flatMap(_.collect {
      case s: FileSourceScanExec => s
    })
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "the date bound must land in partitionFilters, not dataFilters")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount}")
  }

  test("partition-drop retention removes whole date directories without a rewrite") {
    val st = store
    dailyChecks(st)
    val dropped = st.dropDatePartitionsBefore("checks", "created_date",
      java.time.LocalDate.parse("2024-05-03"))
    assert(dropped == 20L, s"dropped $dropped")
    val left = st.load("checks").get
    assert(left.count() == 10)
    assert(left.select("created_date").distinct().collect()
      .map(_.getDate(0).toString).toSeq == Seq("2024-05-03"))
  }

  test("partition compaction: many tiny append files collapse to one, rows intact") {
    val st = store
    // 8 separate appends to the same date → ≥ 8 tiny files in one partition;
    // the first and the last each bring a column of their own, so no one
    // file's footer has every column
    (1 to 8).foreach { b =>
      val rows = (1 to 5).map(i => (b * 100L + i, s"r$i",
        java.sql.Timestamp.valueOf("2024-05-01 08:00:00"),
        java.sql.Date.valueOf("2024-05-01")))
        .toDF("id", "resource_id", "created_at", "created_date")
      st.append("checks",
        if (b == 1) rows.withColumn("w1", lit("one"))
        else if (b == 8) rows.withColumn("w8", lit("eight"))
        else rows,
        partitionBy = Seq("created_date"))
    }
    val partition = st.partitionDirs("checks").head
    assert(partition === "created_date=2024-05-01")
    val beforeRows = st.load("checks").get.orderBy("id").collect()
    val (nBefore, nAfter) = st.compactPartition("checks", partition)
    assert(nBefore >= 8, s"expected many small files, saw $nBefore")
    assert(nAfter === 1, s"expected one compacted file, saw $nAfter")
    val afterRows = st.load("checks").get.orderBy("id").collect()
    assert(afterRows.toSeq === beforeRows.toSeq)
    // idempotent: a second pass is a no-op
    assert(st.compactPartition("checks", partition) === ((1, 1)))
  }

  test("a flat and a 40-partition table load without a Spark job, as a mergeSchema read") {
    val st = store
    st.save("flat", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val days = (0 until 40).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.parse("2024-01-01").plusDays(d)))
    st.append("log", days.zipWithIndex.map { case (d, i) => (i.toLong, s"r$i", d) }
      .toDF("id", "resource_id", "created_date"), partitionBy = Seq("created_date"))
    st.append("log", Seq((100L, "r100", "late", days(3)))
      .toDF("id", "resource_id", "note", "created_date"), partitionBy = Seq("created_date"))
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32),
    // where Spark's own listing runs a job
    assert(st.partitionDirs("log").size == 40)
    for (t <- Seq("flat", "log")) {
      val (df, jobs) = graft.SparkProbe.jobsDuring(spark)(st.load(t).get)
      assert(jobs == 0, s"$t: $jobs Spark jobs before the first action")
      val merged = spark.read.option("mergeSchema", "true").parquet(st.tablePath(t))
      assert(df.schema == merged.schema, t)
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
      assert(rows(df) == rows(merged), t)
    }
    // partition pruning still applies to the listed table
    val day = st.load("log").get.filter(col("created_date") === lit(days(3)))
    assert(day.count() == 2)
    val scan = graft.SparkProbe.fileScans(day.queryExecution.executedPlan).head
    assert(scan.selectedPartitions.partitionCount == 1)
  }

  test("a table directory without a schema record loads with the union of its columns") {
    val st = store
    val dir = st.tablePath("legacy")
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, "b", "extra")).toDF("id", "v", "w").write.mode("append").parquet(dir)
    val record = java.nio.file.Paths.get(dir, "_schema.json")
    assert(!Files.exists(record))
    assert(st.load("legacy").get.columns.toSet == Set("id", "v", "w"))
    // the next append records the union, the new column included
    st.append("legacy", Seq((3L, "c", 1.5)).toDF("id", "v", "x"))
    assert(Files.exists(record))
    val df = st.load("legacy").get
    assert(df.columns.toSeq == Seq("id", "v", "w", "x"))
    assert(df.count() == 3)
  }

  test("an append whose column type conflicts with the table fails and leaves the record") {
    val st = store
    st.append("log", Seq((1L, "a")).toDF("id", "v"))
    val record = java.nio.file.Paths.get(st.tablePath("log"), "_schema.json")
    val before = Files.readString(record)
    val e = intercept[IllegalArgumentException](
      st.append("log", Seq(("one", "b", 2)).toDF("id", "v", "n")))
    assert(e.getMessage.contains("log.id"), e.getMessage)
    assert(Files.readString(record) == before)
    assert(st.load("log").get.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("GET /api/checks/aggregate over the store scans only the day's created_date partitions") {
    val st = store
    dailyChecks(st, days = 10)
    val api = new graft.queries.GraftApi(spark, st)
    val day = java.sql.Date.valueOf("2024-05-05")
    val (rows, plans) = graft.SparkProbe.plansDuring(spark)(
      api.checksAggregate("resource_id", day).collect())
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      (1 to 10).map(i => (s"r$i", 1L)).sortBy(_._1))
    val scans = plans.flatMap(graft.SparkProbe.fileScans)
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "created_date"))))
    // the day and one neighbour on each side, of ten
    assert(scans.forall(_.selectedPartitions.partitionCount == 3))
  }

  test("orphaned tables via anti-join on md5(url)") {
    val tablesIndex = Seq(
      (CsvIngest.md5Hex("live-url"), "r1"),
      (CsvIngest.md5Hex("dead-url"), "r2")
    ).toDF("parsing_table", "resource_id")
    val catalog = Seq(
      ("live-url", false), ("dead-url", true)
    ).toDF("url", "deleted")
    val orphans = store.orphanedTables(tablesIndex, catalog)
      .collect().map(_.getString(0)).toSeq
    assert(orphans == Seq(CsvIngest.md5Hex("dead-url")))
  }
}

class CatalogLoaderSpec extends SparkSpec {
  import spark.implicits._
  import java.nio.file.Files

  // same shape as the reference fixture (tests/data/catalog.csv): 23 dotted
  // columns, ;-separated, quoted; r2's dataset is archived (non-"False")
  private val header =
    """"dataset.id";"dataset.title";"dataset.slug";"dataset.url";"dataset.organization";"dataset.organization_id";"dataset.license";"dataset.private";"dataset.archived";"id";"url";"title";"description";"filetype";"format";"mime";"filesize";"checksum.type";"checksum.value";"created_at";"modified";"downloads";"harvest.modified_at""""

  private def row(ds: String, archived: String, rid: String, url: String, harvest: String) =
    s""""$ds";"";"";"";"";"";"";"";"$archived";"$rid";"$url";"";"";"";"";"";"";"";"";"";"";"";"$harvest""""

  private def writeCatalog(lines: String*): String = {
    val f = Files.createTempFile("catalog", ".csv")
    Files.write(f, (header +: lines).mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("load: archived datasets skipped, harvest.modified_at parsed as UTC") {
    val st = new graft.store.MetaStore(spark, Files.createTempDirectory("cat").toString)
    val path = writeCatalog(
      row("d1", "False", "r1", "https://example.com/resource-1", ""),
      row("d2", "2022-01-30T01:11:38.075000", "r2", "https://example.com/resource-2", ""),
      row("d3", "False", "r3", "https://example.com/resource-3", "2023-02-01T10:20:30"))
    val n = graft.store.CatalogLoader.loadCatalog(spark, st, path)
    assert(n == 2)
    val cat = st.load("catalog").get.orderBy("resource_id").collect()
    assert(cat.map(_.getAs[String]("resource_id")).toSeq == Seq("r1", "r3"))
    assert(cat.forall(!_.getAs[Boolean]("deleted")))
    assert(cat.forall(!_.getAs[Boolean]("priority")))
    assert(cat.forall(_.getAs[String]("status") == null))
    val hv = cat.find(_.getAs[String]("resource_id") == "r3").get
      .getAs[java.sql.Timestamp]("harvest_modified_at")
    assert(hv.toInstant == java.time.Instant.parse("2023-02-01T10:20:30Z"))
    assert(cat.find(_.getAs[String]("resource_id") == "r1").get
      .getAs[java.sql.Timestamp]("harvest_modified_at") == null)
  }

  test("reload: upsert keeps crawl state, resurrects, tombstones vanished rows") {
    val st = new graft.store.MetaStore(spark, Files.createTempDirectory("cat2").toString)
    val p1 = writeCatalog(
      row("d1", "False", "r1", "u1", "2023-01-01T00:00:00"),
      row("d1", "False", "r2", "u2", ""))
    graft.store.CatalogLoader.loadCatalog(spark, st, p1)

    // simulate crawl state accrued between loads
    st.upsert("catalog",
      Seq(("r1", 42L, "BACKOFF", true)).toDF("resource_id", "last_check", "status", "priority"),
      "resource_id")

    // new export: r1 moved URL + new harvest date, r2 vanished, r3 appeared
    val p2 = writeCatalog(
      row("d1", "False", "r1", "u1-moved", "2024-06-06T00:00:00"),
      row("d1", "False", "r3", "u3", ""))
    val n = graft.store.CatalogLoader.loadCatalog(spark, st, p2)
    assert(n == 2)

    val byId = st.load("catalog").get.collect()
      .map(r => r.getAs[String]("resource_id") -> r).toMap
    // matched row: url updated, crawl state PRESERVED (DO UPDATE only sets
    // dataset_id/url/deleted — cli.py:100-112), harvest date NOT refreshed
    assert(byId("r1").getAs[String]("url") == "u1-moved")
    assert(byId("r1").getAs[Long]("last_check") == 42L)
    assert(byId("r1").getAs[String]("status") == "BACKOFF")
    assert(byId("r1").getAs[Boolean]("priority"))
    assert(byId("r1").getAs[java.sql.Timestamp]("harvest_modified_at").toInstant ==
      java.time.Instant.parse("2023-01-01T00:00:00Z"))
    // vanished row: tombstoned, not dropped (test_cli.py:14-70 semantics)
    assert(byId("r2").getAs[Boolean]("deleted"))
    // new row: inserted live
    assert(!byId("r3").getAs[Boolean]("deleted"))
  }
}
