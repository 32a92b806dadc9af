package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.parsers.DocumentBuilderFactory

/** Self-contained XLSX source/sink for the reference's "inventory Excel
  * export" (etl_pipeline.py:133-145), built on JDK-only zip + DOM XML —
  * this container has no spark-excel jar, and an .xlsx file is just a zip
  * of small XML parts, so the engine ships its own minimal codec rather
  * than leaving the mapping on paper.
  *
  * Read path is Spark-shaped: `binaryFile` source -> per-file
  * `mapPartitions` parse, so a directory of workbook exports parallelizes
  * per file (the natural grain — a single workbook is small by the
  * format's nature; sharding across files is how spreadsheets arrive at
  * scale). Values come back as strings; downstream coercion is the same
  * dtype-driven path every landed source goes through
  * (transform.Transforms / load.Warehouse.coerceForLoad).
  *
  * Writer emits one workbook per call (driver-side assembly — an export
  * utility, not a big-data sink; the warehouse formats are
  * parquet/orc). Inline strings only, so no sharedStrings part is
  * needed; the reader handles inline, shared, and bare numeric cells.
  */
object Xlsx {

  // --- write -------------------------------------------------------------

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  private def colRef(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** Serialize rows (header + string/number cells) into xlsx bytes. */
  def writeBytes(header: Seq[String], rows: Seq[Seq[Any]]): Array[Byte] = {
    def cell(ref: String, v: Any): String = v match {
      case null => ""
      case n: Byte => s"""<c r="$ref"><v>$n</v></c>"""
      case n: Short => s"""<c r="$ref"><v>$n</v></c>"""
      case n: Int => s"""<c r="$ref"><v>$n</v></c>"""
      case n: Long => s"""<c r="$ref"><v>$n</v></c>"""
      case n: Float => s"""<c r="$ref"><v>$n</v></c>"""
      case n: Double => s"""<c r="$ref"><v>$n</v></c>"""
      case n: java.math.BigDecimal => s"""<c r="$ref"><v>$n</v></c>"""
      case s => s"""<c r="$ref" t="inlineStr"><is><t>${esc(s.toString)}</t></is></c>"""
    }
    val all = header.map(_.asInstanceOf[Any]) +: rows
    val sheetRows = all.zipWithIndex.map { case (r, i) =>
      val cells = r.zipWithIndex
        .map { case (v, j) => cell(s"${colRef(j)}${i + 1}", v) }.mkString
      s"""<row r="${i + 1}">$cells</row>"""
    }.mkString
    val sheet =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$sheetRows</sheetData></worksheet>"""
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""

    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    put("[Content_Types].xml", contentTypes)
    put("_rels/.rels", rootRels)
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", workbookRels)
    put("xl/worksheets/sheet1.xml", sheet)
    zip.close()
    bos.toByteArray
  }

  /** Rows a single-file export will collect to the driver before failing
    * loudly. The format itself caps a sheet at ~1M rows; this guard trips
    * far earlier because a driver-side collect of a fact table is a
    * deployment error, not a format limit — anything sizable belongs in
    * the warehouse (load.Warehouse, parquet), not in a spreadsheet.
    */
  val maxSingleFileRows: Int = 100000

  /** Export a (small) DataFrame as one workbook file. */
  def write(df: DataFrame, path: String): Unit = {
    val header = df.schema.fieldNames.toSeq
    // limit+1 probe: bounds the collect itself, not just a post-hoc check
    val probe = df.limit(maxSingleFileRows + 1).collect().toSeq
    require(probe.length <= maxSingleFileRows,
      s"Xlsx.write collects to the driver and refuses > $maxSingleFileRows " +
        s"rows; load it into the warehouse (load.Warehouse) instead")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      writeBytes(header, probe.map(_.toSeq)))
  }

  // --- read --------------------------------------------------------------

  /** Parse one workbook's first sheet into (header, rows-of-strings). */
  def parseBytes(bytes: Array[Byte]): (Seq[String], Seq[Seq[String]]) = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    var sheetXml: Array[Byte] = null
    var sharedXml: Array[Byte] = null
    var e = zin.getNextEntry
    while (e != null) {
      val name = e.getName
      if (name == "xl/worksheets/sheet1.xml" || sheetXml == null &&
          name.startsWith("xl/worksheets/")) sheetXml = zin.readAllBytes()
      else if (name == "xl/sharedStrings.xml") sharedXml = zin.readAllBytes()
      e = zin.getNextEntry
    }
    require(sheetXml != null, "no worksheet part in xlsx")
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    val shared: IndexedSeq[String] =
      if (sharedXml == null) IndexedSeq.empty
      else {
        val doc = dbf.newDocumentBuilder()
          .parse(new ByteArrayInputStream(sharedXml))
        val sis = doc.getElementsByTagName("si")
        (0 until sis.getLength).map(i => sis.item(i).getTextContent)
      }
    val doc = dbf.newDocumentBuilder().parse(new ByteArrayInputStream(sheetXml))
    val rowNodes = doc.getElementsByTagName("row")
    val parsed = (0 until rowNodes.getLength).map { i =>
      val cells = rowNodes.item(i).asInstanceOf[org.w3c.dom.Element]
        .getElementsByTagName("c")
      (0 until cells.getLength).map { j =>
        val c = cells.item(j).asInstanceOf[org.w3c.dom.Element]
        val ref = c.getAttribute("r").takeWhile(_.isLetter)
        val idx = ref.foldLeft(0)((a, ch) => a * 26 + (ch - 'A' + 1)) - 1
        val t = c.getAttribute("t")
        val v = t match {
          case "inlineStr" => c.getTextContent
          case "s" => shared(c.getTextContent.trim.toInt)
          case _ => c.getTextContent
        }
        idx -> v
      }
    }
    val width = parsed.map(r => r.map(_._1).maxOption.getOrElse(-1) + 1).maxOption.getOrElse(0)
    def densify(r: Seq[(Int, String)]): Seq[String] = {
      val arr = Array.fill(width)("")
      r.foreach { case (i, v) => if (i >= 0 && i < width) arr(i) = v }
      arr.toSeq
    }
    val dense = parsed.map(densify)
    (dense.headOption.getOrElse(Seq.empty), dense.drop(1))
  }

  /** Distributed read of a directory (or glob) of .xlsx files: each file
    * parses independently inside its partition. The reference header is the
    * lexicographically FIRST file's (deterministic, unlike `head()` whose
    * file choice depends on listing order); every other file's rows are
    * aligned to it BY COLUMN NAME from that file's own header, so a
    * directory of workbooks with differing column order lands correctly —
    * and a file with genuinely different columns fails loudly instead of
    * silently binding values to the wrong names. All columns land as
    * strings.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    val refPath = files.select(min("path")).as[String].head()
    val header = parseBytes(files.filter(col("path") === refPath).head()._2)._1
    // duplicate names in the REFERENCE header would make the by-name
    // alignment below ambiguous (indexOf binds every duplicate to the
    // first column) while still passing the sorted-equality check on
    // self-consistent shards — reject up front
    require(header.distinct.size == header.size,
      s"xlsx reference header has duplicate column names: ${header.mkString(",")}")
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val rows = files.mapPartitions { it =>
      it.flatMap { case (p, bytes) =>
        val (h, rs) = parseBytes(bytes)
        // sorted-seq (not set) equality: duplicate column names must fail
        // here too, or indexOf would silently bind them all to the first
        require(h.sorted == header.sorted,
          s"xlsx header mismatch in $p: [${h.mkString(",")}] vs reference " +
            s"[${header.mkString(",")}]")
        val idx = header.map(h.indexOf)
        rs.map(r => Row.fromSeq(idx.map(i => if (i < r.length) r(i) else "")))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    rows.toDF()
  }
}
