package graft.ingest

import java.nio.file.Files
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.pipeline.HeaderUtils

class HeaderUtilsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("magic-byte mime sniffing") {
    assert(HeaderUtils.sniffMime(Array(0x1F.toByte, 0x8B.toByte, 0)) == "application/gzip")
    assert(HeaderUtils.sniffMime("PKx".getBytes("ISO-8859-1")) == "application/zip")
    assert(HeaderUtils.sniffMime("a,b\n1,2".getBytes) == "text/plain")
  }

  test("tabular-format classifier matches the reference matrix") {
    def t(ct: String, url: String = "u") =
      HeaderUtils.detectTabularFromHeaders(Map("content-type" -> ct), url)
    assert(t("text/csv") == (true, "csv"))
    assert(t("text/plain; charset=utf-8") == (true, "csv"))
    assert(t("application/gzip", "http://x/f.csv.gz") == (true, "csvgz"))
    assert(t("application/gzip", "http://x/f.bin") == (false, "csv"))
    assert(t("application/vnd.ms-excel") == (true, "xls"))
    assert(t("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet") == (true, "xlsx"))
    assert(t("text/html") == (false, "csv"))
  }

  test("content-type splitter tolerates double-';'") {
    assert(HeaderUtils.contentTypeMime("text/html;h5ai=0.20;charset=UTF-8") == "text/html")
    assert(HeaderUtils.contentTypeMime("text/csv") == "text/csv")
  }

  test("surrogate fixer replaces unpaired surrogates") {
    val broken = "abc" + '\uD800' + "def"
    assert(HeaderUtils.fixSurrogates(broken) == "abc�def")
    assert(HeaderUtils.fixSurrogates("héllo 😀") == "héllo 😀") // valid pair survives
  }

  test("url validity + domain + size caps") {
    assert(HeaderUtils.isValidUrl("https://data.gouv.fr/x.csv"))
    assert(!HeaderUtils.isValidUrl("not a url"))
    assert(HeaderUtils.domainOf("https://data.gouv.fr/x.csv") == "data.gouv.fr")
    assert(HeaderUtils.sizeAllowed("csv", 1000L, isException = false))
    assert(!HeaderUtils.sizeAllowed("xlsx", 20L * 1024 * 1024, isException = false))
    assert(HeaderUtils.sizeAllowed("xlsx", 20L * 1024 * 1024, isException = true))
  }
}

class GzipIngestSpec extends SparkSpec {

  test("gzip csv (by magic, no .gz extension) ingests end-to-end") {
    val f = Files.createTempFile("graft", ".data") // deliberately not .gz
    val out = new GZIPOutputStream(Files.newOutputStream(f))
    out.write("id,val\n1,2.5\n2,3.5\n3,\"1 020,20\"\n".getBytes("UTF-8"))
    out.close()
    val wh = Files.createTempDirectory("gz").toString
    val res = CsvIngest.analyseCsv(spark, f.toString, "gz-url", wh, profile = false)
    assert(res.rowCount == 3)
    assert(res.inspection.columns("val").pythonType == "float")
    val vals = spark.read.parquet(res.outputPath)
      .select("val").collect().map(_.getDouble(0)).sorted
    assert(vals.sameElements(Array(2.5, 3.5, 1020.2)))
  }

  test("the temporary .csv.gz copy is gone after analyseCsv returns and after it throws") {
    val f = Files.createTempFile("graft", ".data")
    val out = new GZIPOutputStream(Files.newOutputStream(f))
    out.write("id,val\n1,2\n2,3\n".getBytes("UTF-8"))
    out.close()
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def copies(): Set[java.nio.file.Path] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft") && n.endsWith(".csv.gz")
      }.toSet
      finally ls.close()
    }
    val before = copies()
    // onPhase runs between the Spark actions, while the copy is in use
    var made = Set.empty[java.nio.file.Path]
    CsvIngest.analyseCsv(spark, f.toString, "gz-tmp-ok",
      Files.createTempDirectory("gz").toString, profile = false,
      onPhase = _ => made ++= copies() -- before)
    assert(made.nonEmpty)
    assert(made.forall(p => !Files.exists(p)), s"left behind: $made")

    var madeFailing = Set.empty[java.nio.file.Path]
    intercept[IllegalStateException] {
      CsvIngest.analyseCsv(spark, f.toString, "gz-tmp-fail",
        Files.createTempDirectory("gz").toString, profile = false,
        onPhase = _ => {
          madeFailing ++= copies() -- before
          throw new IllegalStateException("stop mid-analysis")
        })
    }
    assert(madeFailing.nonEmpty)
    assert(madeFailing.forall(p => !Files.exists(p)), s"left behind: $madeFailing")
  }
}

class XlsxIngestSpec extends SparkSpec {

  /** Hand-built minimal OOXML workbook — no external libs anywhere. */
  private def makeXlsx(rows: Seq[Seq[String]]): String = {
    val f = Files.createTempFile("graft", ".xlsx")
    val zip = new ZipOutputStream(Files.newOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets><sheet name="Feuille1" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    val strings = rows.flatten.distinct
    val sIdx = strings.zipWithIndex.toMap
    entry("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">${
        strings.map(s => s"<si><t>$s</t></si>").mkString}</sst>""")
    val sheetXml = rows.zipWithIndex.map { case (r, i) =>
      val cells = r.zipWithIndex.map { case (v, j) =>
        val ref = s"${('A' + j).toChar}${i + 1}"
        if (v.forall(c => c.isDigit || c == '.' || c == '-') && v.nonEmpty)
          s"""<c r="$ref"><v>$v</v></c>"""
        else s"""<c r="$ref" t="s"><v>${sIdx(v)}</v></c>"""
      }.mkString
      s"""<row r="${i + 1}">$cells</row>"""
    }.mkString
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$sheetXml</sheetData></worksheet>""")
    zip.close()
    f.toString
  }

  test("xlsx reads shared strings, numbers, header; ingests typed") {
    val path = makeXlsx(Seq(
      Seq("name", "qty", "price"),
      Seq("alpha", "1", "10.5"),
      Seq("beta", "2", "20.25"),
      Seq("gamma", "3", "30.0")))
    val sheet = graft.detect.XlsxReader.read(path)
    assert(sheet.name == "Feuille1")
    assert(sheet.rows.length == 4 && sheet.rows.head == Vector("name", "qty", "price"))

    val wh = Files.createTempDirectory("xlsx").toString
    val res = CsvIngest.analyseXlsx(spark, path, "xlsx-url", wh, profile = false)
    assert(res.rowCount == 3)
    assert(res.inspection.columns("qty").pythonType == "int")
    assert(res.inspection.columns("price").pythonType == "float")
    val df = spark.read.parquet(res.outputPath)
    assert(df.schema("qty").dataType.typeName == "long")
    assert(df.count() == 3)
  }
}

class HeaderUtilsExtraSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("slugify + index name scheme") {
    assert(HeaderUtils.slugify("Code Postal") == "code-postal")
    assert(HeaderUtils.slugify("Prénom_élève!") == "prenom-eleve")
    assert(HeaderUtils.indexName("abc123", "Code Postal") == "abc123_code-postal_idx")
  }
  test("hasNiceHead: needs valid status AND a freshness header") {
    assert(HeaderUtils.hasNiceHead(Some(200), Map("content-length" -> "10")))
    assert(HeaderUtils.hasNiceHead(Some(301), Map("last-modified" -> "x")))
    assert(!HeaderUtils.hasNiceHead(Some(200), Map("server" -> "nginx")))
    assert(!HeaderUtils.hasNiceHead(Some(404), Map("content-length" -> "10")))
    assert(!HeaderUtils.hasNiceHead(Some(429), Map("content-length" -> "10")))
    assert(!HeaderUtils.hasNiceHead(None, Map("content-length" -> "10")))
  }
}
