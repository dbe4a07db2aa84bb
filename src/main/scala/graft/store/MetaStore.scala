package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Parquet-backed metadata store (SURVEY §1.1, §7.5): catalog, checks,
  * tables_index, resources_exceptions as keyed/append-only DataFrames.
  * Local filesystem only.
  *
  * Write semantics (no Delta offline):
  *   - catalog (keyed by resource_id): upsert = full-outer merge rewrite.
  *     At 100 TB posture the catalog stays metadata-sized (~millions of
  *     rows), so a full rewrite is cheap; partition by a stable key-hash
  *     prefix if it ever grows beyond that.
  *   - checks (append-only log): date-partitioned appends — partition
  *     pruning serves the time-windowed queries (D7, retention).
  *   - writes go through a temp dir + atomic-ish swap so a failed job never
  *     leaves a half-written store (single-writer contract, like the
  *     reference's transaction-per-batch).
  *
  * Reads run no Spark job. Each table keeps its schema in a record file,
  * `_schema.json`, inside its directory (Spark's listing skips `_` names),
  * and `load` lists the table's files itself on the driver — the way
  * Delta Lake keeps a table's schema and file list in the table, so readers
  * infer neither from the data. Without the record every load ran a
  * `mergeSchema` footer-merge job, and a table of more than 32 partition
  * directories a parallel listing job too. `save` writes the record with
  * the data in the staged directory; `append` widens it to the union of
  * the old record and the frame's schema BEFORE it writes the data, so a
  * crash between the two leaves a superset whose extra columns read as
  * null. The union is `mergeSchema`'s (new columns join, a changed type
  * fails), not a fixed per-table schema: the logs evolve forward, and a
  * caller may save any subset of a table's columns. A table without a
  * record (written before the record existed, or by a writer that bypasses
  * the store, like CheckStream's `checks_stream`) is still read with
  * `mergeSchema`, and gets its record at its next `append`.
  */
final class MetaStore(spark: SparkSession, root: String) {

  private def path(name: String) = s"$root/$name"

  /** Physical location of a table (for sinks that manage their own layout,
    * e.g. the idempotent per-batch streaming writer). */
  def tablePath(name: String): String = path(name)

  def exists(name: String): Boolean = Files.exists(Paths.get(path(name)))

  def load(name: String): Option[DataFrame] =
    if (!exists(name)) None
    else Some(schemaRecord(name) match {
      case Some(schema) => scan(name, schema)
      // mergeSchema: without a record the union of the footers is the only
      // complete schema; the read schema would otherwise be whichever
      // footer wins and newer columns would silently vanish
      case None => spark.read.option("mergeSchema", "true").parquet(path(name))
    })

  /** Overwrite via staging dir: read-modify-write on the same parquet path
    * would fail (Spark cannot overwrite its own input), so land in _staged
    * then swap. */
  def save(name: String, df: DataFrame): Unit = {
    val target = Paths.get(path(name))
    val staged = Paths.get(path(s"_staged_$name"))
    df.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    writeRecord(staged, nullable(df.schema))
    if (Files.exists(target)) deleteRecursively(target)
    Files.move(staged, target)
  }

  def append(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val before = schemaRecord(name).orElse(load(name).map(_.schema))
    val widened = before.fold(nullable(df.schema))(union(name, _, nullable(df.schema)))
    if (!before.contains(widened)) writeRecord(Paths.get(path(name)), widened)
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(name))
  }

  private val RecordName = "_schema.json"

  // what Spark writes and reads back: every column and element nullable
  private def nullable(s: StructType): StructType = {
    def go(t: DataType): DataType = t match {
      case st: StructType => nullable(st)
      case a: ArrayType => ArrayType(go(a.elementType), containsNull = true)
      case m: MapType => MapType(go(m.keyType), go(m.valueType), valueContainsNull = true)
      case o => o
    }
    StructType(s.map(f => f.copy(dataType = go(f.dataType), nullable = true)))
  }

  /** `mergeSchema`'s union: a new column joins at the end, a struct column
    * merges field by field, and any other change of a column's type fails —
    * here, before anything is written, instead of at the next read. */
  private def union(table: String, old: StructType, add: StructType): StructType = {
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    def key(f: StructField) = if (caseSensitive) f.name else f.name.toLowerCase(Locale.ROOT)
    def merge(x: StructType, y: StructType): StructType = {
      val ys = y.map(f => key(f) -> f).toMap
      val xs = x.map(key).toSet
      StructType(x.map(f => ys.get(key(f)).fold(f)(g => f.copy(dataType = (f.dataType, g.dataType) match {
        case (s: StructType, t: StructType) => merge(s, t)
        case (s, t) if s == t => s
        case (s, t) => throw new IllegalArgumentException(
          s"$table.${f.name} is ${s.simpleString} in the table, ${t.simpleString} in the new rows")
      }))) ++ y.filterNot(g => xs(key(g))))
    }
    merge(old, add)
  }

  private def schemaRecord(name: String): Option[StructType] = {
    val f = Paths.get(path(name), RecordName)
    if (!Files.exists(f)) None
    else Some(DataType.fromJson(Files.readString(f)).asInstanceOf[StructType])
  }

  // written to a sibling and renamed, so a reader never sees half a record
  private def writeRecord(dir: java.nio.file.Path, schema: StructType): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"$RecordName.tmp")
    Files.writeString(tmp, schema.json)
    Files.move(tmp, dir.resolve(RecordName),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The table as a relation over the files listed here, typed by its
    * record: the file index finds its root already listed in the status
    * cache, and partition values are typed by the record's columns. */
  private def scan(name: String, schema: StructType): DataFrame = {
    // same form as the files' parents: a trailing `/` (from toUri) would
    // match no leaf directory and a flat table would read as empty
    val dir = Paths.get(path(name)).toAbsolutePath.normalize
    val rootPath = new HPath("file", null, dir.toString)
    val files = listLeafFiles(dir, rootPath)
    val listed = new FileStatusCache {
      override def getLeafFiles(p: HPath): Option[Array[FileStatus]] =
        if (p == rootPath) Some(files) else None
      override def putLeafFiles(p: HPath, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(rootPath), Map.empty, Some(schema), listed)
    val partitionCols = index.partitionSchema.fieldNames.toSet
    val dataSchema = StructType(schema.filterNot(f => partitionCols(f.name)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Every data file under `dir`, skipping what Spark's own listing skips:
    * `_`/`.` names (the record, `_SUCCESS`, `.crc`, `_temporary`) except
    * partition directories. */
  private def listLeafFiles(dir: java.nio.file.Path, at: HPath): Array[FileStatus] = {
    val out = Array.newBuilder[FileStatus]
    def walk(d: java.nio.file.Path, dp: HPath): Unit = {
      val s = Files.list(d)
      try s.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString
        if (!((n.startsWith("_") && !n.contains("=")) || n.startsWith("."))) {
          val hp = new HPath(dp, n)
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isDirectory) walk(p, hp)
          // block size: the local filesystem's default, 32 MB
          else out += new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis, hp)
        }
      } finally s.close()
    }
    walk(dir, at)
    out.result()
  }

  /** Small-file compaction for an append-only log partition: every append
    * lands at least one file per task, so a hot date partition accumulates
    * hundreds of KB-sized files whose open/footer overhead eventually
    * dominates scans (the classic streaming-sink pathology). Rewrites the
    * partition's files into ceil(bytes / targetFileBytes) files — via
    * coalesce (no shuffle) and the same staging-dir swap as save(), so a
    * failed compaction never corrupts the partition. Compact CLOSED
    * partitions only (single-writer contract — yesterday's dates, not the
    * one being appended). No-op when already compact enough.
    *
    * `partition` is the directory name, e.g. "check_date=2024-01-01".
    * Returns (filesBefore, filesAfter). */
  def compactPartition(
      name: String,
      partition: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetFileBytes > 0, "target file size must be positive")
    val dir = Paths.get(path(name), partition)
    require(Files.exists(dir), s"no such partition: $dir")
    def parquetFiles: Seq[java.nio.file.Path] = {
      val s = Files.list(dir)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(".parquet")) buf += p }
        buf.toSeq
      } finally s.close()
    }
    val before = parquetFiles
    val bytes = before.map(Files.size).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (nOut >= before.size) return (before.size, before.size)
    // files inside a partition dir do not carry the partition column — a
    // direct read+rewrite of the dir preserves the partitioned layout. The
    // read takes the table's columns: a plain read would take the first
    // footer's and drop the columns only later appends carry
    val partitionCol = partition.takeWhile(_ != '=')
    val reader = schemaRecord(name).fold(spark.read.option("mergeSchema", "true"))(s =>
      spark.read.schema(StructType(s.filterNot(_.name == partitionCol))))
    val staged = Paths.get(path(s"_staged_compact_$name"))
    reader.parquet(dir.toString).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    deleteRecursively(dir)
    Files.move(staged, dir)
    (before.size, parquetFiles.size)
  }

  /** List a partitioned log's partition directory names (for a compaction
    * sweep over closed partitions). */
  def partitionDirs(name: String): Seq[String] = {
    val p = Paths.get(path(name))
    if (!Files.exists(p)) return Nil
    val s = Files.list(p)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val d = it.next()
        if (Files.isDirectory(d) && d.getFileName.toString.contains("="))
          buf += d.getFileName.toString
      }
      buf.toSeq.sorted
    } finally s.close()
  }

  /** Date-windowed read of a date-partitioned log (checks is partitioned by
    * created_date — the Parquet analog of the reference's created_at index,
    * migrations/main/20240926_add_indexes.sql): the predicate lands on the
    * PARTITION column, so the scan lists only matching date directories.
    * MetaStoreSpec pins the pruned plan. Bounds inclusive; either side
    * optional. */
  def loadDates(
      name: String,
      dateCol: String,
      from: Option[java.time.LocalDate],
      to: Option[java.time.LocalDate]): Option[DataFrame] =
    load(name).map { df =>
      val lower = from.map(d => col(dateCol) >= lit(java.sql.Date.valueOf(d)))
      val upper = to.map(d => col(dateCol) <= lit(java.sql.Date.valueOf(d)))
      (lower ++ upper).foldLeft(df)(_ filter _)
    }

  /** Retention on a date-partitioned log WITHOUT a rewrite: whole partition
    * directories older than the cutoff are dropped, so the cost is
    * O(partitions removed) — no full-table read-and-save like
    * purgeOlderThan (which remains the path for unpartitioned tables).
    * The row count returned reads ONLY the doomed partitions (pruned scan).
    * Single-writer contract, same as the other mutators. */
  def dropDatePartitionsBefore(
      name: String,
      dateCol: String,
      cutoff: java.time.LocalDate): Long = {
    if (!exists(name)) return 0L
    val doomed = loadDates(name, dateCol, None,
      Some(cutoff.minusDays(1))).get
    val dropped = doomed.count()
    val stream = Files.list(Paths.get(path(name)))
    try stream.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(s"$dateCol="))
      .filter { p =>
        val v = p.getFileName.toString.stripPrefix(s"$dateCol=")
        scala.util.Try(java.time.LocalDate.parse(v)).toOption
          .exists(_.isBefore(cutoff))
      }
      .toSeq.foreach(deleteRecursively)
    finally stream.close()
    dropped
  }

  // ---- catalog ----------------------------------------------------------

  /** D10 upsert (INSERT … ON CONFLICT (resource_id) DO UPDATE): keyed
    * full-outer merge. When an update row matches, its column values win
    * INCLUDING explicit NULLs — `SET col = excluded.col` semantics; the
    * reference relies on this to reset `status` to NULL
    * (preprocess_check_data.py:61). A plain coalesce would silently keep
    * the stale value.
    *
    * `onMatchUpdate` restricts which columns the DO-UPDATE clause touches
    * (the catalog loader's `SET dataset_id, url, deleted` at cli.py:100-112
    * deliberately leaves harvest_modified_at/priority/status alone on
    * existing rows); empty = update every provided column. Columns present
    * only in `updates` are added to the table (null for untouched rows) —
    * schema evolves forward like the reference's migrations. */
  def upsert(name: String, updates: DataFrame, key: String,
      onMatchUpdate: Seq[String] = Nil): Unit = {
    val merged = load(name) match {
      case None => updates
      case Some(existing) =>
        val allCols = existing.columns ++
          updates.columns.filterNot(existing.columns.contains)
        val e = existing.alias("e")
        val u = updates.alias("u")
        val joined = e.join(u, col(s"e.$key") === col(s"u.$key"), "full_outer")
        val insertOnly = col(s"e.$key").isNull
        val matchSet: Set[String] =
          if (onMatchUpdate.isEmpty) updates.columns.toSet else onMatchUpdate.toSet
        val projected = allCols.map { c =>
          if (c == key) coalesce(col(s"u.$key"), col(s"e.$key")).as(c)
          else if (!updates.columns.contains(c)) col(s"e.$c").as(c)
          else if (!existing.columns.contains(c)) col(s"u.$c").as(c)
          else if (matchSet.contains(c))
            when(col(s"u.$key").isNotNull, col(s"u.$c")).otherwise(col(s"e.$c")).as(c)
          else when(insertOnly, col(s"u.$c")).otherwise(col(s"e.$c")).as(c)
        }
        joined.select(projected.toIndexedSeq: _*)
    }
    // materialize before the swap: the merged plan still reads the old files
    val rows = merged.cache()
    rows.count()
    save(name, rows)
    rows.unpersist()
  }

  /** D11 catalog-wide soft delete (cli.py:88): deleted=true everywhere;
    * subsequent upserts resurrect surviving rows. */
  def softDeleteAll(name: String): Unit =
    load(name).foreach { df =>
      val marked = df.withColumn("deleted", lit(true)).cache()
      marked.count()
      save(name, marked)
      marked.unpersist()
    }

  /** D14 retention purge (cli.py:271-283): keep rows newer than the cutoff,
    * return how many were dropped. */
  def purgeOlderThan(name: String, tsCol: String, cutoff: java.sql.Timestamp): Long =
    load(name) match {
      case None => 0L
      case Some(df) =>
        val kept = df.filter(col(tsCol) >= lit(cutoff)).cache()
        val dropped = df.count() - kept.count()
        save(name, kept)
        kept.unpersist()
        dropped
    }

  /** C7/D9 purge of parsed tables no longer referenced by a live catalog row:
    * tables_index anti-join the grouped catalog on md5(url). Returns the
    * orphaned parsing_table names (caller deletes the parquet dirs). */
  def orphanedTables(tablesIndex: DataFrame, catalog: DataFrame): DataFrame = {
    val live = catalog.groupBy("url")
      .agg(min(when(col("deleted"), 1).otherwise(0)).as("all_deleted"))
      .filter(col("all_deleted") === 0)
      .select(md5(col("url")).as("live_table"))
    tablesIndex.select(col("parsing_table")).distinct()
      .join(live, col("parsing_table") === col("live_table"), "left_anti")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.iterator().asScala.toSeq.reverseIterator
        .foreach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
  }
}
