package graft.ingest

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.detect.{CsvSniffer, FormatDetector, OnePassProfiler, TypeInference, XlsxReader}
import graft.model.{ColumnInfo, Inspection}

/** E7/A3/B5/C1-C4 — the end-to-end CSV "APIfication" slice (SURVEY §7.4):
  * sniff dialect → distributed read honoring it → full-pass type inference →
  * smart-cast projection → reserved-column rename → parquet table named
  * md5(url) (reference analysis/csv.py:108-199, table name :144).
  *
  * Scale design: the only driver-side work is the bounded head sample in
  * CsvSniffer. Parse, inference, casting, profiling, and the write are all
  * executor-side single-scan DataFrame jobs; a 100 TB CSV set just means
  * more partitions.
  */
object CsvIngest {

  /** Postgres-reserved column names that must be renamed (analysis/csv.py:83). */
  val ReservedCols: Set[String] =
    Set("__id", "cmin", "cmax", "collation", "ctid", "tableoid", "xmin", "xmax")

  final case class IngestResult(
      tableName: String,
      inspection: Inspection,
      rowCount: Long,
      outputPath: String,
      parquetExport: Option[(String, Long)] = None)

  private def dirSize(path: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val stream = java.nio.file.Files.walk(p)
      try
        stream.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size)
          .sum
      finally stream.close()
    }
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** B5: rename columns colliding with reserved names (case-insensitive),
    * keeping the reference's `__hydra_renamed` suffix for output parity. */
  def renameReserved(df: DataFrame): DataFrame = {
    val renames = df.columns.collect {
      case c if ReservedCols.contains(c.toLowerCase) => c -> s"${c}__hydra_renamed"
    }.toMap
    if (renames.isEmpty) df else df.withColumnsRenamed(renames)
  }

  /** A3: distributed CSV read honoring the sniffed dialect. header_row_idx
    * rows of preamble are skipped by content equality with the header line —
    * cheap, and avoids a driver-side zipWithIndex over the whole file.
    * For the common headerRowIdx=0 case this is a plain csv scan. */
  def readCsv(spark: SparkSession, path: String, d: CsvSniffer.Dialect): DataFrame = {
    val base = spark.read
      .option("sep", d.separator)
      .option("encoding", javaCharset(d.encoding))
      .option("header", "true")
      .option("inferSchema", "false")
      .option("mode", "PERMISSIVE")
      .option("maxCharsPerColumn", "-1")
      .option("multiLine", "true")
      .option("escape", "\"")
    if (d.headerRowIdx == 0) base.csv(path)
    else {
      // preamble: read as text, drop the first headerRowIdx lines by index
      // (computed per-partition, no driver materialization), reparse.
      import spark.implicits._
      val text = spark.read.textFile(path)
      val body = text.rdd.zipWithIndex()
        .filter { case (_, i) => i >= d.headerRowIdx }
        .map(_._1)
      base.csv(spark.createDataset(body))
    }
  }

  /** A2: Spark selects the gzip codec by file extension only; the reference
    * detects gzip by magic bytes regardless of name (utils/file.py:27-31).
    * Bridge: copy content-gzip files to a temporary .csv.gz name, which
    * the caller deletes once its last Spark action is done. */
  private def gzipAwarePath(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    val head = {
      val in = java.nio.file.Files.newInputStream(p)
      try in.readNBytes(2) finally in.close()
    }
    val isGz = head.length >= 2 && (head(0) & 0xFF) == 0x1F && (head(1) & 0xFF) == 0x8B
    if (!isGz || path.endsWith(".gz")) path
    else {
      val linked = java.nio.file.Files.createTempFile("graft", ".csv.gz")
      java.nio.file.Files.copy(p, linked, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      linked.toString
    }
  }

  /** A4: analyse an XLSX workbook through the same inference/cast/persist
    * slice as CSV — rows come from the JDK-only XlsxReader, header row
    * detected with the same modal-width + non-numeric heuristic. */
  def analyseXlsx(
      spark: SparkSession,
      xlsxPath: String,
      url: String,
      warehouse: String,
      sheetName: Option[String] = None,
      exportDir: Option[String] = None,
      minLinesForParquet: Long = 200L,
      profile: Boolean = true,
      onPhase: String => Unit = _ => ()): IngestResult =
    analyseSheetRows(spark, XlsxReader.read(xlsxPath, sheetName).rows,
      "xlsx-inspection", url, warehouse, exportDir, minLinesForParquet, profile, onPhase)

  /** A4: legacy .xls (OLE2/BIFF8) through the same slice — XlsReader decodes
    * the compound file, SST strings, RK numbers and serial dates
    * (reference utils/reader.py:60-66 via xlrd). */
  def analyseXls(
      spark: SparkSession,
      xlsPath: String,
      url: String,
      warehouse: String,
      sheetName: Option[String] = None,
      exportDir: Option[String] = None,
      minLinesForParquet: Long = 200L,
      profile: Boolean = true,
      onPhase: String => Unit = _ => ()): IngestResult =
    analyseSheetRows(spark, graft.detect.XlsReader.read(xlsPath, sheetName).rows,
      "xls-inspection", url, warehouse, exportDir, minLinesForParquet, profile, onPhase)

  /** A4: ODS (OpenDocument spreadsheet) through the same slice
    * (reference utils/reader.py:60-66 via the odf engine). */
  def analyseOds(
      spark: SparkSession,
      odsPath: String,
      url: String,
      warehouse: String,
      sheetName: Option[String] = None,
      exportDir: Option[String] = None,
      minLinesForParquet: Long = 200L,
      profile: Boolean = true,
      onPhase: String => Unit = _ => ()): IngestResult =
    analyseSheetRows(spark, graft.detect.OdsReader.read(odsPath, sheetName).rows,
      "ods-inspection", url, warehouse, exportDir, minLinesForParquet, profile, onPhase)

  /** Shared sheet-analysis slice: string rows → header heuristic → DataFrame
    * → infer → cast → persist → table write (+ export gate) → profile. */
  private def analyseSheetRows(
      spark: SparkSession,
      sheetRows: Vector[Vector[String]],
      step: String,
      url: String,
      warehouse: String,
      exportDir: Option[String],
      minLinesForParquet: Long,
      profile: Boolean,
      onPhase: String => Unit): IngestResult = {

    val nonEmpty = sheetRows.filter(_.exists(_.nonEmpty))
    if (nonEmpty.isEmpty)
      throw new CsvSniffer.ParseException(step, "list index out of range")

    // header-row heuristic shared with the CSV sniffer contract
    val headerIdx = nonEmpty.take(10).indexWhere(r =>
      r.forall(c => c.nonEmpty && !c.forall(ch => ch.isDigit || ch == '.' || ch == '-')))
    val hIdx = math.max(headerIdx, 0)
    val header = nonEmpty(hIdx)
    val body = nonEmpty.drop(hIdx + 1)

    val schema = StructType(header.map(h => StructField(h, StringType)))
    val rows = body.map(r => org.apache.spark.sql.Row.fromSeq(
      r.padTo(header.length, "").take(header.length).map(v => if (v.isEmpty) null else v)))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)

    val types = FormatDetector.inferWithFormats(raw)
    val typed = renameReserved(TypeInference.castAll(raw, types))
    typed.persist()
    val rowCount = typed.count()

    val tableName = md5Hex(url)
    val outPath = s"$warehouse/$tableName"
    onPhase(graft.model.ResourceStatus.InsertingInDb)
    typed.write.mode(SaveMode.Overwrite).parquet(outPath)
    val export = exportDir.flatMap { dir =>
      if (rowCount >= minLinesForParquet) {
        onPhase(graft.model.ResourceStatus.ConvertingToParquet)
        val p = s"$dir/$tableName.parquet"
        typed.write.mode(SaveMode.Overwrite).parquet(p)
        Some((p, dirSize(p)))
      } else None
    }
    val prof =
      if (profile) OnePassProfiler.profile(typed)
      else Map.empty[String, graft.model.ColumnProfile]
    typed.unpersist()

    IngestResult(tableName,
      Inspection("utf-8", "", hIdx, header, rowCount, types, prof)
        .copy(header = header),
      rowCount, outPath, export)
  }

  private def javaCharset(enc: String): String = enc match {
    case "latin-1" => "ISO-8859-1"
    case "utf-16-le" => "UTF-16LE"
    case "utf-16-be" => "UTF-16BE"
    case other => other
  }

  /** The full analyse_csv slice. Writes the typed table to
    * `$warehouse/${md5(url)}` and returns the inspection report.
    *
    * minLinesForParquet mirrors the MIN_LINES_FOR_PARQUET=200 export gate
    * (config_default.toml:75): below it, the typed table is still produced
    * (the "DB"), but the separate parquet-export step is skipped. */
  def analyseCsv(
      spark: SparkSession,
      csvPath: String,
      url: String,
      warehouse: String,
      exportDir: Option[String] = None,
      minLinesForParquet: Long = 200L,
      profile: Boolean = true,
      onPhase: String => Unit = _ => ()): IngestResult = {

    val dialect = CsvSniffer.sniff(csvPath)
    val readablePath = gzipAwarePath(csvPath)
    // the temporary gzip copy lives until the last Spark action, on
    // success and on failure alike
    try {
      val parsed = readCsv(spark, readablePath, dialect)
      // reference parity (analysis/csv.py:273 `if line:`): blank and CR-only
      // lines come through the csv parser as rows whose every field is null
      // or whitespace (python's universal-newline text read makes them empty
      // lists, which the reference skips) — drop them. (A fully-quoted empty
      // row like `"";""` is also dropped; the reference would keep it as a
      // row of NULLs — acceptable divergence, it carries no information.)
      val raw = parsed.where(
        parsed.columns.map(c => trim(col(s"`$c`"), " \t\r\n\f") =!= "")
          .reduce(_ || _))

      val types: Map[String, ColumnInfo] = FormatDetector.inferWithFormats(raw)
      val typed = renameReserved(TypeInference.castAll(raw, types))

      // one parse feeds every downstream consumer (the reference re-reads the
      // file once per sink — analysis/csv.py:268-270; persist fixes that)
      typed.persist()
      val rowCount = typed.count()

      val tableName = md5Hex(url)
      val outPath = s"$warehouse/$tableName"
      onPhase(graft.model.ResourceStatus.InsertingInDb) // E7 (analysis/csv.py:354)
      typed.write.mode(SaveMode.Overwrite).parquet(outPath)

      // C4 parquet export gate — (url, size) surfaces on the check row like
      // csv_to_parquet's return (analysis/csv.py:305-340)
      val export = exportDir.flatMap { dir =>
        if (rowCount >= minLinesForParquet) {
          onPhase(graft.model.ResourceStatus.ConvertingToParquet) // E7 (csv.py:312)
          val p = s"$dir/$tableName.parquet"
          typed.write.mode(SaveMode.Overwrite).parquet(p)
          Some((p, dirSize(p)))
        } else None
      }

      // OnePassProfiler: single scan (measured 13x the two-pass melt+window
      // profiler at sf0.1); distinct counts are linear-counting estimates
      val prof =
        if (profile) OnePassProfiler.profile(typed)
        else Map.empty[String, graft.model.ColumnProfile]
      typed.unpersist()

      val inspection = Inspection(
        encoding = dialect.encoding,
        separator = dialect.separator,
        headerRowIdx = dialect.headerRowIdx,
        header = raw.columns.toSeq,
        totalLines = rowCount,
        columns = types,
        profile = prof)

      IngestResult(tableName, inspection, rowCount, outPath, export)
    } finally if (readablePath != csvPath)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(readablePath))
  }
}
