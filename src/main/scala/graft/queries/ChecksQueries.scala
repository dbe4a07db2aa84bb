package graft.queries

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's own relational API surface (SURVEY §2-D / §F routes) as
  * library functions over the real catalog/checks metadata DataFrames —
  * what a user of udata-hydra's HTTP API would call, returned as DataFrames.
  *
  * catalog schema: resource_id, dataset_id, url, deleted, last_check,
  *                 priority, status …  (model.CatalogEntry)
  * checks schema:  id, resource_id, url, domain, created_at, status,
  *                 headers map, timeout, response_time …  (model.Check) */
object ChecksQueries {

  /** D1 — GET /api/checks/latest (db/check.py:55-69): the single check a
    * catalog row points at. catalog side is one row after the filter →
    * broadcast to the checks scan. */
  def latestCheck(catalog: DataFrame, checks: DataFrame, where: Column): DataFrame =
    broadcast(catalog.filter(where).select(col("last_check"), col("resource_id").as("cat_resource_id")))
      .join(checks, col("last_check") === col("id"), "inner")
      .drop("cat_resource_id", "last_check")

  /** D2 — GET /api/checks/all: full history for a url/resource, newest first. */
  def allChecks(checks: DataFrame, where: Column): DataFrame =
    checks.filter(where).orderBy(desc("created_at"))

  /** D3 — GET /api/checks/aggregate (db/check.py:86-98): dynamic group-by
    * column, one day's checks, top-20 by count. On the store's
    * `created_date`-partitioned log the scan is pruned to the day and its
    * neighbours (the writer's session time zone may differ from the
    * reader's); the `created_at` equality decides which rows count. */
  def aggregateByColumn(checks: DataFrame, groupCol: String, day: Date): DataFrame =
    nearDates(checks, day.toLocalDate, Some(day.toLocalDate))
      .filter(to_date(col("created_at")) === lit(day))
      .groupBy(col(groupCol).as("value"))
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), asc("value"))
      .limit(20)

  /** `checks` cut to the `created_date` partitions within a day of
    * [from, to] (open-ended without `to`) — a partition filter, so the scan
    * lists only those directories. A day of slack on each side covers a
    * writer whose session time zone put a row's `created_date` on the
    * neighbouring day; callers still filter on `created_at`. A frame
    * without the column is returned as is. */
  private[graft] def nearDates(checks: DataFrame, from: LocalDate, to: Option[LocalDate]): DataFrame =
    if (!checks.columns.contains("created_date")) checks
    else {
      val lower = col("created_date") >= lit(Date.valueOf(from.minusDays(1)))
      checks.filter(to.fold(lower)(d => lower && col("created_date") <= lit(Date.valueOf(d.plusDays(1)))))
    }

  /** D4 — GET /api/status/crawler (routes/status.py:10-71): pending/fresh
    * split + per-status counts, one conditional-agg pass each. */
  def crawlerStatus(catalog: DataFrame, now: Timestamp): DataFrame = {
    val live = catalog.filter(!col("deleted"))
    val totals = live.agg(
      count(lit(1)).as("total"),
      count(when(col("last_check").isNull, 1)).as("never_checked"),
      count(when(col("next_check_at").isNotNull && col("next_check_at") <= lit(now), 1))
        .as("due"))
    totals
  }

  /** D4b — per-status resource counts with NULL bucket. */
  def resourceStatusCounts(catalog: DataFrame): DataFrame =
    catalog.filter(!col("deleted"))
      .groupBy(coalesce(col("status"), lit("NULL")).as("status"))
      .agg(count(lit(1)).as("count"))
      .orderBy("status")

  /** D5 — GET /api/stats (routes/status.py:79-140): ok/timeout/error splits
    * + per-status-code breakdown with percentages (broadcast total, no
    * single-partition window). */
  def stats(checks: DataFrame): DataFrame = {
    val latest = dedupLatestPerResource(checks)
    val byStatus = latest
      .withColumn("bucket",
        when(col("status").between(200, 399), "ok")
          .when(col("timeout"), "timeout")
          .otherwise("error"))
      .groupBy("bucket", "status").agg(count(lit(1)).as("count"))
    val total = byStatus.agg(sum("count").as("total"))
    byStatus.crossJoin(broadcast(total))
      .select(col("bucket"), col("status"), col("count"),
        round(col("count") * 100.0 / col("total"), 2).as("percentage"))
      .orderBy(desc("count"), asc("status"))
  }

  /** D6 — last two checks per resource (analysis/resource.py:232-247), the
    * change-detection input: one shuffle on resource_id. */
  def lastTwoChecks(checks: DataFrame): DataFrame = {
    val w = Window.partitionBy("resource_id").orderBy(desc("created_at"), desc("id"))
    checks.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
  }

  /** D7 — backoff window count (crawl/helpers.py:80-97): requests per domain
    * within the trailing period. */
  def domainRequestCount(checks: DataFrame, domain: String, since: Timestamp): DataFrame =
    checks.filter(col("domain") === domain && col("created_at") >= lit(since))
      .agg(count(lit(1)).as("count"))

  /** D12-style keep-latest dedup per resource. */
  def dedupLatestPerResource(checks: DataFrame): DataFrame = {
    val w = Window.partitionBy("resource_id").orderBy(desc("created_at"), desc("id"))
    checks.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** csv_sample (cli.py:189-219): a size-capped sample of CSV-ish latest
    * checks, half from the platform's own static domain, half from the rest
    * of the web (with the ODS-datastore URL patterns excluded — those files
    * are already well-formed). ORDER BY RANDOM() is replaced by md5(id)
    * ordering so the sample is reproducible run-to-run (same determinism
    * trade as selectBatch's seeded rand). */
  def csvSample(
      catalog: DataFrame,
      checks: DataFrame,
      size: Int = 100,
      maxContentLength: Long = 104857600L,
      staticDomain: String = "static.data.gouv.fr",
      excludedUrlLike: Seq[String] =
        Seq("%/explore/dataset/%", "%/api/datasets/1.0/%")): DataFrame = {

    val latest = catalog.filter(col("last_check").isNotNull)
      .select(col("resource_id").as("cat_resource_id"), col("dataset_id"), col("last_check"))
    val base = checks.join(latest, col("last_check") === col("id"))
      .withColumn("content_type", col("headers").getItem("content-type"))
      .withColumn("content_length", col("headers").getItem("content-length").cast("long"))
      .where(col("content_type").like("%csv%") &&
        col("status") >= 200 && col("status") < 400 &&
        col("content_length") <= maxContentLength)
      .select(col("cat_resource_id").as("resource_id"), col("dataset_id"),
        col("url"), col("domain"), col("content_type"), col("content_length"))

    val sampleKey = md5(col("resource_id"))
    val remote = excludedUrlLike
      .foldLeft(base.where(col("domain") =!= staticDomain)) {
        (df, pat) => df.where(!col("url").like(pat))
      }
      .orderBy(sampleKey, col("resource_id")).limit(size / 2)
    val static = base.where(col("domain") === staticDomain)
      .orderBy(sampleKey, col("resource_id")).limit(size / 2)
    remote.unionByName(static).drop("domain")
  }

  /** A7 — batch selector (crawl/select_batch.py:34-91): priority rows, then
    * never-checked, then due — each randomly sampled up to the remaining
    * budget, excluding url patterns and in-flight statuses. Deterministic
    * with the seed; same three-branch union shape as the reference SQL. */
  def selectBatch(
      catalog: DataFrame,
      batchSize: Int,
      now: Timestamp,
      excludedUrlPatterns: Seq[String] = Nil,
      seed: Long = 42L): DataFrame = {

    // excluded clause (db/resource.py:117-129): not deleted, not mid-crawl —
    // NULL or BACKOFF status rows are both selectable
    val base = excludedUrlPatterns
      .foldLeft(catalog.filter(!col("deleted") &&
        (col("status").isNull || col("status") === "BACKOFF"))) {
        (df, pat) => df.filter(!col("url").like(pat))
      }

    val priority = base.filter(col("priority"))
    val neverChecked = base.filter(!col("priority") && col("last_check").isNull)
    // due = planned re-check reached OR no plan recorded at all
    // (select_batch.py:84: next_check_at <= now OR next_check_at IS NULL)
    val due = base.filter(!col("priority") && col("last_check").isNotNull &&
      (col("next_check_at").isNull || col("next_check_at") <= lit(now)))

    priority.orderBy(rand(seed)).limit(batchSize)
      .unionByName(neverChecked.orderBy(rand(seed + 1)).limit(batchSize))
      .unionByName(due.orderBy(rand(seed + 2)).limit(batchSize))
      .limit(batchSize)
  }
}
