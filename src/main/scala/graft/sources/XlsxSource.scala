package graft.sources

import java.io.InputStream
import java.nio.file.{Files, Path, Paths}
import java.util
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `.xlsx` reader — the Excel-proper source the
  * reference dispatches to (waldfalke/catme-etl reads workbooks via
  * openpyxl/pandas, /root/reference/unified_code.py:184–202: iterate
  * `excel.sheet_names`, header-preserving chunk reads per sheet).
  *
  * No Excel jar ships offline, so this is a self-contained reader for
  * the OOXML SpreadsheetML subset those writers emit, built purely on
  * JDK machinery (java.util.zip + javax.xml.stream against the PUBLIC
  * ECMA-376 / ISO-29500 format): workbook sheet registry + rels,
  * shared-string table, per-sheet row streams with sparse cell
  * references, shared / inline / formula-cached strings, booleans and
  * raw number text. Values surface as strings (cast downstream) and
  * every sheet carries a `sheet_name` column.
  *
  * Usage: `spark.read.format("xlsx").load(fileOrDir)`; options:
  * `header` (default true: first row of the first sheet names the
  * columns; false: positional `_c0…`).
  *
  * Scale: one `InputPartition` per (file, sheet) — a directory of
  * workbooks reads with file × sheet parallelism, the shape that
  * matters because single workbooks are format-bounded (≤1,048,576
  * rows by the public spec, ECMA-376 §18.3.1.73), i.e. xlsx at scale
  * always means MANY files. Column pruning is pushed into the reader
  * (`SupportsPushDownRequiredColumns`): unrequested cells are decoded
  * to nothing. The shared-string table is loaded once per partition
  * (it precedes sheet data in the archive and is shared per file).
  */
class XlsxSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Xlsx.infer(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new XlsxTable(schema, new CaseInsensitiveStringMap(properties))
}

object Xlsx {
  val SheetCol = "sheet_name"

  // secure-by-default StAX: no DTDs / external entities in data files
  private def xmlFactory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** `.xlsx` files of the load path (a single file or a directory),
    * in stable name order. */
  def files(options: CaseInsensitiveStringMap): Seq[Path] = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("xlsx: .load(<file-or-directory>) is required"))
    val path = Paths.get(p)
    if (Files.isDirectory(path)) {
      val listing = Files.list(path)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.toLowerCase.endsWith(".xlsx"))
        .toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
    } else {
      require(Files.exists(path), s"xlsx: no such file: $path")
      Seq(path)
    }
  }

  def header(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("header", true)

  /** Workbook sheet registry: (sheetName, archive entry of its XML),
    * in workbook order. workbook.xml lists <sheet name r:id>; the rels
    * part maps r:id → worksheets/sheetN.xml (ECMA-376 §18.2.19/§9.2). */
  def sheetEntries(zip: ZipFile): Seq[(String, String)] = {
    val rels: Map[String, String] = withEntry(zip, "xl/_rels/workbook.xml.rels") { in =>
      val r = xmlFactory.createXMLStreamReader(in)
      val m = Map.newBuilder[String, String]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship")
          m += attr(r, "Id").get -> attr(r, "Target").get
      }
      r.close(); m.result()
    }
    withEntry(zip, "xl/workbook.xml") { in =>
      val r = xmlFactory.createXMLStreamReader(in)
      val out = Seq.newBuilder[(String, String)]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          val name = attr(r, "name").get
          val rid = attr(r, "id").get // r:id — matched by local name
          val target = rels.getOrElse(rid,
            throw new IllegalArgumentException(s"xlsx: unresolved sheet relationship $rid"))
          // targets are relative to xl/ unless absolute ("/xl/…")
          out += name -> (if (target.startsWith("/")) target.stripPrefix("/")
                          else s"xl/$target")
        }
      }
      r.close(); out.result()
    }
  }

  /** Shared-string table (ECMA-376 §18.4): one entry per <si>, rich-text
    * runs concatenated. Absent part → empty table. */
  def sharedStrings(zip: ZipFile): Array[String] =
    Option(zip.getEntry("xl/sharedStrings.xml")).map { e =>
      val in = zip.getInputStream(e)
      try {
        val r = xmlFactory.createXMLStreamReader(in)
        val out = Array.newBuilder[String]
        val sb = new java.lang.StringBuilder
        var inSi = false
        while (r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
            inSi = true; sb.setLength(0)
          case XMLStreamConstants.START_ELEMENT if inSi && r.getLocalName == "t" =>
            sb.append(r.getElementText) // reads through END_ELEMENT of t
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
            inSi = false; out += sb.toString
          case _ =>
        }
        r.close(); out.result()
      } finally in.close()
    }.getOrElse(Array.empty)

  /** "C3" → 0-based column index from the letter prefix (§18.3.1.4). */
  def colIndex(ref: String): Int = {
    var i = 0; var n = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      n = n * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    n - 1
  }

  /** Stream one worksheet's rows as sparse (colIdx, value) cells.
    * Cell types (§18.18.11): t="s" shared string, t="inlineStr" inline
    * rich text, t="str" formula-cached string, t="b" boolean, default
    * (or t="n") raw number text. The consumer must drain each row's
    * iterator-produced array before calling next. */
  final class RowReader(zip: ZipFile, entryName: String, sst: Array[String]) {
    private val entry = Option(zip.getEntry(entryName)).getOrElse(
      throw new IllegalArgumentException(s"xlsx: missing worksheet part $entryName"))
    private val in = zip.getInputStream(entry)
    private val r = xmlFactory.createXMLStreamReader(in)

    /** Next row as sparse cells, or null at end of sheet. */
    def nextRow(): Array[(Int, String)] = {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "row")
          return readCells()
      }
      null
    }

    private def readCells(): Array[(Int, String)] = {
      val cells = Array.newBuilder[(Int, String)]
      var nextSeq = 0 // fallback position for cells without r="…"
      var done = false
      while (!done && r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "c" =>
          val idx = attr(r, "r").map(colIndex).getOrElse(nextSeq)
          nextSeq = idx + 1
          val t = attr(r, "t").getOrElse("n")
          readCellValue(t).foreach(v => cells += idx -> v)
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "row" =>
          done = true
        case _ =>
      }
      cells.result()
    }

    /** Reads to the end of the current <c> element. */
    private def readCellValue(t: String): Option[String] = {
      var v: Option[String] = None
      var done = false
      while (!done && r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "v" =>
          val raw = r.getElementText
          v = Some(t match {
            case "s" => sst(raw.trim.toInt)
            case "b" => if (raw.trim == "1") "true" else "false"
            case _ => raw
          })
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "is" => // inline
          val sb = new java.lang.StringBuilder
          var isDone = false
          while (!isDone && r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "t" =>
              sb.append(r.getElementText)
            case XMLStreamConstants.END_ELEMENT if r.getLocalName == "is" => isDone = true
            case _ =>
          }
          v = Some(sb.toString)
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "c" => done = true
        case _ =>
      }
      v
    }

    def close(): Unit = { r.close(); in.close() }
  }

  private def attr(r: XMLStreamReader, local: String): Option[String] = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return Some(r.getAttributeValue(i))
      i += 1
    }
    None
  }

  private def withEntry[T](zip: ZipFile, name: String)(f: InputStream => T): T = {
    val e = Option(zip.getEntry(name)).getOrElse(
      throw new IllegalArgumentException(s"xlsx: not a workbook (missing $name)"))
    val in = zip.getInputStream(e)
    try f(in) finally in.close()
  }

  /** Minimal single-sheet `.xlsx` writer — the Excel-report analog of
    * `etl.Sinks.jsonArrayFile`: a DRIVER-SIDE format-parity tool for
    * small results (a dimension, a report, a sample), documented as
    * such — a single workbook is row-capped by the format itself, so
    * this is never a big-data write path. Header row from the schema;
    * every value as an inline string (deterministic, reader-exact);
    * nulls become absent cells. */
  def write(df: org.apache.spark.sql.DataFrame, path: String,
      sheet: String = "Sheet1"): Unit = {
    def esc(s: String): String = {
      val sb = new java.lang.StringBuilder
      s.foreach {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c => sb.append(c)
      }
      sb.toString
    }
    def cell(v: String): String =
      if (v == null) ""
      else s"""<c t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>"""
    val rows = Iterator(df.columns.map(c => cell(c)).mkString) ++
      df.toLocalIterator().asScala.map { r =>
        (0 until r.length).map(i =>
          cell(if (r.isNullAt(i)) null else String.valueOf(r.get(i)))).mkString
      }
    val sheetXml = new java.lang.StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    rows.foreach(r => sheetXml.append("<row>").append(r).append("</row>"))
    sheetXml.append("</sheetData></worksheet>")
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    def part(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    try {
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """</Types>""")
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          """</Relationships>""")
      part("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          s"""<sheets><sheet name="${esc(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>""")
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """</Relationships>""")
      part("xl/worksheets/sheet1.xml", sheetXml.toString)
    } finally zos.close()
  }

  /** Schema: first row of the first sheet of the first file (header
    * mode) or positional names sized from it, plus `sheet_name`. */
  def infer(options: CaseInsensitiveStringMap): StructType = {
    val fs = files(options)
    require(fs.nonEmpty, s"xlsx: no .xlsx files at ${options.get("path")}")
    val zip = new ZipFile(fs.head.toFile)
    try {
      val (_, entry) = sheetEntries(zip).headOption.getOrElse(
        throw new IllegalArgumentException(s"xlsx: workbook has no sheets: ${fs.head}"))
      val rr = new RowReader(zip, entry, sharedStrings(zip))
      val first = try Option(rr.nextRow()).getOrElse(Array.empty[(Int, String)])
      finally rr.close()
      val width = first.map(_._1).maxOption.map(_ + 1).getOrElse(0)
      require(width > 0, s"xlsx: first sheet of ${fs.head} is empty — cannot infer a schema")
      val byIdx = first.toMap
      val names =
        if (header(options)) (0 until width).map(i => byIdx.getOrElse(i, s"_c$i"))
        else (0 until width).map(i => s"_c$i")
      StructType(names.map(StructField(_, StringType)) :+ StructField(SheetCol, StringType))
    } finally zip.close()
  }
}

class XlsxTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"xlsx(${options.get("path")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(tableSchema, options)
}

class XlsxScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan =
    new XlsxScan(full, required, options.get("path"), Xlsx.header(options))
}

class XlsxScan(full: StructType, required: StructType, path: String, header: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"XlsxScan(path=$path, (file,sheet)→partitions, ReadSchema=${required.simpleString})"

  override def planInputPartitions(): Array[InputPartition] = {
    val opts = new CaseInsensitiveStringMap(util.Map.of("path", path))
    Xlsx.files(opts).flatMap { f =>
      val zip = new ZipFile(f.toFile)
      try Xlsx.sheetEntries(zip).map { case (name, entry) =>
        XlsxPartition(f.toString, entry, name): InputPartition
      } finally zip.close()
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XlsxReaderFactory(full, required, header)
}

case class XlsxPartition(file: String, sheetEntry: String, sheet: String)
    extends InputPartition

class XlsxReaderFactory(full: StructType, required: StructType, header: Boolean)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[XlsxPartition]
    val dataCols = full.fieldNames.filterNot(_ == Xlsx.SheetCol)
    // required column → data-row index (-1 = the sheet_name literal)
    val indices = required.fieldNames.map {
      case Xlsx.SheetCol => -1
      case c => dataCols.indexOf(c)
    }
    val sheetName = UTF8String.fromString(p.sheet)
    new PartitionReader[InternalRow] {
      private val zip = new ZipFile(p.file)
      private val rr = new Xlsx.RowReader(zip, p.sheetEntry, Xlsx.sharedStrings(zip))
      if (header) rr.nextRow() // consumed once into the schema at infer time
      private var current: InternalRow = _

      override def next(): Boolean = {
        val cells = rr.nextRow()
        if (cells == null) false
        else {
          val byIdx = cells.toMap
          val values: Array[Any] = indices.map {
            case -1 => sheetName
            case i => byIdx.get(i).map(UTF8String.fromString).orNull
          }
          current = InternalRow.fromSeq(values.toIndexedSeq)
          true
        }
      }
      override def get(): InternalRow = current
      override def close(): Unit = { rr.close(); zip.close() }
    }
  }
}
