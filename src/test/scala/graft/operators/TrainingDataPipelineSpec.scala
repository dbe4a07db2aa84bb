package graft.operators

import graft.SparkSpec

class TrainingDataPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("composed clean: quality gate → lang gate → exact dedup → near dedup → tokens") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
      (4L, "a completely different document with the usual words and a story about the sea"),
      (5L, "@@@ 111 222 $$$ ### 333 %%% +++"), // noise → quality gate
      (6L, "el gato está en la casa y no quiere salir por la puerta con el perro") // es → lang gate
    ).toDF("doc_id", "text")

    val (cleaned, report) = TrainingDataPipeline.clean(
      docs, minQuality = 0.4, keepLangs = Seq("en"), nearDupThreshold = 0.5)

    assert(report.input == 6L)
    assert(report.afterQuality == 5L)   // drops 5
    assert(report.afterLang == 4L)      // drops 6
    assert(report.afterExactDedup == 3L) // drops 2
    assert(report.afterNearDedup == 2L)  // drops 3 (near-dup of 1)
    val ids = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L))
    assert(report.totalTokens ==
      cleaned.agg(org.apache.spark.sql.functions.sum("__n_tokens")).head().getLong(0))
    assert(report.totalTokens > 20L)
    cleaned.unpersist()
  }

  test("full clean: PII redaction, repetition gate, decontamination") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and into the green forest"),
      (2L, "buy now buy now buy now buy now buy now buy now buy now buy now"), // repetition
      (3L, "the exact benchmark question about the speed of light in a vacuum today"), // contaminated
      (4L, "write to jane@example.org about the meeting and the agenda for the day")  // PII
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the exact benchmark question about the speed of light in a vacuum"))
      .toDF("doc_id", "text")

    val (cleaned, r) = TrainingDataPipeline.clean(docs,
      minQuality = 0.1, nearDupThreshold = 0.5, retainResult = true,
      redactPii = true, maxDupTokenRatio = Some(0.5), maxTopBigramRatio = Some(0.3),
      benchmark = Some(bench), maxBenchmarkOverlap = 0.5)

    assert(r.input == 4L)
    // funnel accounting: quality passes all 4 → repetition drops doc 2 →
    // language keeps 3 → decontamination drops doc 3
    assert(r.afterQuality == 4L, r.toString)
    assert(r.afterRepetition.contains(3L), r.toString)      // doc 2 gated
    assert(r.afterLang == 3L, r.toString)
    assert(r.afterDecontamination.contains(2L), r.toString) // doc 3 gated
    val out = cleaned.select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(out.keySet == Set(1L, 4L))
    assert(out(4L).contains("<EMAIL>") && !out(4L).contains("jane@"))
    cleaned.unpersist()
  }

  test("LM-score gate drops the out-of-distribution doc, funnel attributes it") {
    // docs 1-3 share transitions; doc 4 is all one-off bigrams (in-vocab
    // letters so the quality gate passes it — only the LM gate can catch it)
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog sat on the rug"),
      (2L, "the cat sat on the rug and the dog sat on the mat"),
      (3L, "the dog sat on the mat and the cat sat on the rug"),
      (4L, "purple quantum dishwasher vortex penguin halberd mango tundra copper violin nimbus gravel")
    ).toDF("doc_id", "text")

    // measure the self-scored spread, then gate between the two groups
    val scores = NgramLm.bigramLmScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(4L) < scores(1L), scores.toString)
    val cut = (scores(4L) + Seq(1L, 2L, 3L).map(scores).min) / 2

    val (cleaned, r) = TrainingDataPipeline.clean(docs,
      minQuality = 0.1, nearDupThreshold = 0.95, minLmScore = Some(cut))
    assert(r.input == 4L && r.afterQuality == 4L && r.afterLang == 4L)
    assert(r.afterLmScore.contains(3L), r.toString) // doc 4 gated HERE
    val ids = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(4L) && ids.contains(1L))
    cleaned.unpersist()

    // gate off → afterLmScore not reported, doc 4 survives
    val (c2, r2) = TrainingDataPipeline.clean(docs,
      minQuality = 0.1, nearDupThreshold = 0.95)
    assert(r2.afterLmScore.isEmpty)
    assert(c2.select("doc_id").collect().map(_.getLong(0)).toSet.contains(4L))
    c2.unpersist()
  }

  test("report-only clean leaves no cached RDDs behind") {
    val docs = (1L to 50L).map(i =>
      (i, s"the document number $i talks about the weather and the sea and the sky"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, report) = TrainingDataPipeline.clean(docs, minQuality = 0.1,
      nearDupThreshold = 0.5, retainResult = false)
    assert(report.input == 50L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }
}

class GraftApiSpec extends SparkSpec {
  import spark.implicits._

  test("route-shaped calls over a populated store") {
    val store = new graft.store.MetaStore(spark,
      java.nio.file.Files.createTempDirectory("api").toString)
    store.save("catalog", Seq(
      ("r1", "u1", false, Some(10L)), ("r2", "u2", false, None: Option[Long])
    ).toDF("resource_id", "url", "deleted", "last_check"))
    store.save("checks", Seq(
      (10L, "r1", "u1", "a.fr", java.sql.Timestamp.valueOf("2024-06-01 10:00:00"), Some(200), false),
      (9L, "r1", "u1", "a.fr", java.sql.Timestamp.valueOf("2024-06-01 09:00:00"), Some(500), false)
    ).toDF("id", "resource_id", "url", "domain", "created_at", "status", "timeout"))

    val api = new graft.queries.GraftApi(spark, store)
    assert(api.checksLatest(resourceId = Some("r1")).head().getAs[Long]("id") == 10L)
    assert(api.checksAll(url = Some("u1")).count() == 2L)
    assert(api.checksAggregate("domain", java.sql.Date.valueOf("2024-06-01"))
      .head().getAs[Long]("count") == 2L)
    assert(api.resource("r2").count() == 1L)
    val h = api.health().head()
    assert(h.getBoolean(0) && h.getBoolean(1) && !h.getBoolean(2))
  }

  test("write surface: resource CRUD + status verbose") {
    val store = new graft.store.MetaStore(spark,
      java.nio.file.Files.createTempDirectory("apiw").toString)
    store.save("catalog", Seq(
      ("r1", "d1", "u1", false, true, None: Option[String])
    ).toDF("resource_id", "dataset_id", "url", "deleted", "priority", "status"))
    val api = new graft.queries.GraftApi(spark, store)

    // POST: new resource lands priority=true, live
    api.createResource("d2", "r2", "u2")
    val r2 = api.resource("r2").head()
    assert(!r2.getAs[Boolean]("deleted") && r2.getAs[Boolean]("priority"))

    // PUT: url moves, still upsert semantics
    api.updateResource("d2", "r2", "u2-moved")
    assert(api.resource("r2").head().getAs[String]("url") == "u2-moved")

    // invalid status rejected like the 400 path
    intercept[IllegalArgumentException] {
      api.createResource("d9", "r9", "u9", status = Some("NOT_A_STATUS"))
    }

    // status endpoint: verbose text for idle + unknown resource → None
    assert(api.resourceStatus("r2") == Some((None, "no status, waiting")))
    assert(api.resourceStatus("nope").isEmpty)

    // DELETE tombstones; 404 → false
    assert(api.deleteResource("r2"))
    assert(api.resource("r2").head().getAs[Boolean]("deleted"))
    assert(!api.deleteResource("ghost"))

    // POST /api/checks analog: re-prioritize for next batch
    assert(api.createCheck("r1"))
    assert(api.resource("r1").head().getAs[Boolean]("priority"))
  }

  test("write surface: resources-exceptions CRUD with validation") {
    val store = new graft.store.MetaStore(spark,
      java.nio.file.Files.createTempDirectory("apix").toString)
    store.save("catalog", Seq(
      ("r1", "d1", "u1", false)
    ).toDF("resource_id", "dataset_id", "url", "deleted"))
    val api = new graft.queries.GraftApi(spark, store)

    // unknown resource → "Resource not found"
    intercept[IllegalArgumentException] {
      api.createResourceException("ghost")
    }
    // bad index type → 400 message
    intercept[IllegalArgumentException] {
      api.createResourceException("r1", Map("siren" -> "unique"))
    }
    api.createResourceException("r1", Map("siren" -> "index"), Some("big file"))
    val row = api.resourcesExceptions().head()
    assert(row.getAs[String]("resource_id") == "r1")
    assert(row.getAs[String]("table_indexes").contains("\"siren\": \"index\""))
    // duplicate → UniqueViolation analog
    intercept[IllegalArgumentException] {
      api.createResourceException("r1")
    }
    // update + delete round-trip; 404s → false
    assert(api.updateResourceException("r1", Map("code" -> "index")))
    assert(api.resourcesExceptions().head()
      .getAs[String]("table_indexes").contains("code"))
    assert(!api.updateResourceException("ghost"))
    assert(api.deleteResourceException("r1"))
    assert(api.resourcesExceptions().isEmpty)
    assert(!api.deleteResourceException("ghost"))
  }

  test("index requests validate against the detected column profile") {
    val store = new graft.store.MetaStore(spark,
      java.nio.file.Files.createTempDirectory("apif").toString)
    store.save("catalog", Seq(
      ("r1", "d1", "u1", false)
    ).toDF("resource_id", "dataset_id", "url", "deleted"))
    val api = new graft.queries.GraftApi(spark, store)
    val profile = Map(
      "siren" -> graft.model.ColumnInfo("string", "siren"),
      "label" -> graft.model.ColumnInfo("string"))

    // indexed column missing from the analyzed table → rejected at CRUD
    // time with the column named (the reference only finds this at
    // CREATE INDEX time, analysis/csv.py:234)
    val e = intercept[IllegalArgumentException] {
      api.createResourceException("r1", Map("ghost_col" -> "index"),
        columnProfile = Some(profile))
    }
    assert(e.getMessage.contains("ghost_col"), e.getMessage)

    // present columns pass, and the helper reports their detected formats
    api.createResourceException("r1", Map("siren" -> "index"),
      columnProfile = Some(profile))
    assert(api.validateIndexesAgainstProfile(
      Map("siren" -> "index", "label" -> "index"), profile) ==
      Map("siren" -> "siren", "label" -> "default"))
    assert(api.deleteResourceException("r1"))
  }

  test("auth guard: 401/403 semantics on mutating calls, GETs open (utils/auth.py)") {
    val store = new graft.store.MetaStore(spark,
      java.nio.file.Files.createTempDirectory("apia").toString)
    store.save("catalog", Seq(
      ("r1", "d1", "u1", false)
    ).toDF("resource_id", "dataset_id", "url", "deleted"))
    val api = new graft.queries.GraftApi(spark, store, apiKey = Some("s3cret"))

    // GET-shaped reads are excluded from auth (app.py:18 exclude_methods)
    assert(api.resource("r1").count() == 1L)
    api.health()

    // 401: missing Authorization header entirely
    intercept[graft.queries.GraftApi.Unauthorized] {
      api.createResource("d2", "r2", "u2")
    }
    // 403: header that doesn't split into (scheme, token)
    intercept[graft.queries.GraftApi.Forbidden] {
      api.createResource("d2", "r2", "u2", authorization = Some("s3cret"))
    }
    // 403: wrong scheme
    intercept[graft.queries.GraftApi.Forbidden] {
      api.createResource("d2", "r2", "u2", authorization = Some("Basic s3cret"))
    }
    // 403: wrong token
    intercept[graft.queries.GraftApi.Forbidden] {
      api.deleteResource("r1", authorization = Some("Bearer nope"))
    }
    // nothing mutated by the denied calls
    assert(api.resource("r2").isEmpty)
    assert(!api.resource("r1").head().getAs[Boolean]("deleted"))

    // correct "Bearer <key>" (scheme case-insensitive) passes every call
    api.createResource("d2", "r2", "u2", authorization = Some("Bearer s3cret"))
    assert(api.resource("r2").count() == 1L)
    assert(api.createCheck("r1", authorization = Some("bearer s3cret")))
    api.createResourceException("r1", Map("c" -> "index"),
      authorization = Some("Bearer s3cret"))
    assert(api.deleteResourceException("r1", authorization = Some("Bearer s3cret")))
    assert(api.deleteResource("r2", authorization = Some("Bearer s3cret")))

    // no apiKey configured → middleware not installed → open writes
    val open = new graft.queries.GraftApi(spark, store)
    open.createResource("d3", "r3", "u3")
    assert(open.resource("r3").count() == 1L)
  }
}
