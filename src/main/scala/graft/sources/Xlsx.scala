package graft.sources

import graft.etl.Pipeline
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{Row, SparkSession}

import java.io.ByteArrayInputStream
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

/** Pure-JDK xlsx parsing (reference `XlsxSource.groovy:31-252`).
  *
  * The reference reads xlsx through POI's streaming SAX reader; POI is
  * absent in this environment, but an xlsx file is a ZIP of XML parts
  * (`xl/workbook.xml`, `xl/sharedStrings.xml`, `xl/styles.xml`,
  * `xl/worksheets/sheetN.xml`), all readable with `java.util.zip` +
  * StAX — both in the JDK. This parser implements exactly the subset
  * the reference's SheetContentsHandler consumes:
  *
  *  - first row of the chosen sheet = headers
  *    (`XlsxSource.groovy:211-222`); every later `<row>` element emits
  *    one output row, missing cells null (`:217-219` pre-fills every
  *    header with null);
  *  - every cell value is delivered as a FORMATTED STRING (POI
  *    DataFormatter semantics): shared/inline strings verbatim,
  *    booleans as TRUE/FALSE, General numbers with integer values
  *    undecorated and float noise rounded to 11 significant digits,
  *    date-styled numbers rendered with `dateFormat`
  *    (`CustomDateDataFormatter`, default yyyy-MM-dd,
  *    `XlsxSource.groovy:37,95-104`);
  *  - sheet selected by name, else the first sheet in workbook order
  *    (`:164-181`).
  *
  * Deviations (documented): agile-encrypted workbooks (Office 2010+)
  * and the pre-2010 "standard" scheme are supported via
  * [[OoxmlCrypto]] (RC4 is rejected with a clear error);
  * header-row GAPS keep their column position and empty header cells
  * are named col{i} (the reference appends header cells positionally,
  * silently shifting every later column under a gap). Legacy binary
  * `.xls` is [[XlsParser]].
  *
  * Out-of-range dates: a date-styled value whose serial Excel cannot
  * date (negative, not finite, or on or past 10000-01-01) renders as
  * its General number, as POI's DataFormatter does ([[dateText]]).
  *
  * Hostile bytes: a corrupt zip fails in `java.util.zip` (an
  * `IOException` or `IllegalArgumentException`), malformed XML in StAX
  * (`XMLStreamException`), and a well-formed part with a bad value (a
  * non-integer `numFmtId`, `s` or shared-string index, a shared-string
  * index outside the table, a non-numeric `<v>`, a cell reference
  * without a column A..XFD) with an
  * `IllegalArgumentException` naming the cell or attribute, never a
  * `NumberFormatException`, index or date-time error.
  */
private[graft] object XlsxParser {

  /** Excel's day-serial epoch (with the 1900 leap-year bug folded in —
    * correct for every date after 1900-02-28, as POI does). */
  private val ExcelEpoch = LocalDate.of(1899, 12, 30)

  /** Builtin numFmtIds that render as dates/times. */
  private[sources] val BuiltinDateFormats: Set[Int] = (14 to 22).toSet ++ (45 to 47).toSet

  final case class Sheet(headers: Vector[String], rows: Vector[Vector[String]])

  /** Parse one workbook; returns the chosen sheet's headers + rows. */
  def parse(bytes: Array[Byte], sheetName: String, dateFormat: String): Sheet = {
    val parts = readZip(bytes)
    def part(name: String): Option[Array[Byte]] = parts.get(name)

    val shared = part("xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(Vector.empty)
    val dateStyles = part("xl/styles.xml").map(parseDateStyles).getOrElse(Set.empty)
    val sheets = parseWorkbookSheets(
      part("xl/workbook.xml").getOrElse(
        throw new IllegalArgumentException("not an xlsx workbook: missing xl/workbook.xml")),
      part("xl/_rels/workbook.xml.rels"))

    val chosen = Option(sheetName) match {
      case Some(n) => sheets.find(_._1 == n).getOrElse(
        throw new IllegalArgumentException(
          s"sheet '$n' not found (has: ${sheets.map(_._1).mkString(", ")})"))
      case None => sheets.headOption.getOrElse(
        throw new IllegalArgumentException("workbook has no sheets"))
    }
    val sheetXml = part(chosen._2).getOrElse(
      throw new IllegalArgumentException(s"missing sheet part ${chosen._2}"))
    parseSheet(sheetXml, shared, dateStyles, DateTimeFormatter.ofPattern(dateFormat))
  }

  // ------------------------------------------------------------- zip/xml

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
    Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .filterNot(_.isDirectory)
      .map(e => e.getName.stripPrefix("/") -> zin.readAllBytes())
      .toMap
  }

  private def reader(bytes: Array[Byte]): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** All text below the current element (concatenates rich-text runs),
    * with OOXML `_xHHHH_` escapes decoded (Excel/POI encode XML-illegal
    * control characters this way; `_x005F_` armors a literal underscore
    * of a lookalike sequence). */
  private def textBelow(r: XMLStreamReader): String = {
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(r.getText)
        case _ => ()
      }
    }
    unescapeOoxml(sb.toString)
  }

  private val OoxmlEscape = "_x([0-9A-Fa-f]{4})_".r

  private def unescapeOoxml(s: String): String =
    if (!s.contains("_x")) s
    else OoxmlEscape.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        Integer.parseInt(m.group(1), 16).toChar.toString))

  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val r = reader(bytes)
    val out = Vector.newBuilder[String]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "si")
        out += textBelow(r)
    }
    out.result()
  }

  /** Style (cellXfs) indices whose number format renders as a date. */
  private def parseDateStyles(bytes: Array[Byte]): Set[Int] = {
    val r = reader(bytes)
    val customDate = scala.collection.mutable.Set.empty[Int]
    val styleFmt = Vector.newBuilder[Int]
    var inCellXfs = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            val id = intAttr(r, "numFmtId", "styles numFmt")
            val code = Option(r.getAttributeValue(null, "formatCode")).getOrElse("")
            if (id.isDefined && isDateFormatCode(code)) customDate += id.get
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            styleFmt += intAttr(r, "numFmtId", "styles xf").getOrElse(0)
          case _ => ()
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ => ()
      }
    }
    styleFmt.result().zipWithIndex.collect {
      case (fmt, i) if BuiltinDateFormats(fmt) || customDate(fmt) => i
    }.toSet
  }

  /** An optional integer attribute; a value that is not an integer
    * rejects the workbook, naming the attribute and where it sits. */
  private def intAttr(r: XMLStreamReader, name: String, where: => String): Option[Int] =
    Option(r.getAttributeValue(null, name)).map(v => integer(v, s"$where $name"))

  private def integer(v: String, what: => String): Int =
    try v.trim.toInt
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"corrupt xlsx: $what '$v' is not an integer")
    }

  /** Date-format heuristic over a custom format code: any y/m/d/h/s
    * token outside quoted literals and [] sections (the POI
    * DateUtil.isADateFormat approach, simplified). */
  private[sources] def isDateFormatCode(code: String): Boolean = {
    val stripped = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^]]*]", "")
      .replaceAll("\\\\.", "")
    stripped.exists(c => "ymdhs".contains(c))
  }

  /** (name, part path) per sheet, workbook order. Workbooks without a
    * rels part (rare but legal for our fallback path) resolve sheets
    * positionally as xl/worksheets/sheetN.xml. */
  private def parseWorkbookSheets(
      workbook: Array[Byte], rels: Option[Array[Byte]]): Vector[(String, String)] = {
    val relTargets = rels.filter(_.nonEmpty).map { bytes =>
      val r = reader(bytes)
      val m = Map.newBuilder[String, String]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val target = r.getAttributeValue(null, "Target")
          if (id != null && target != null)
            m += id -> (if (target.startsWith("/")) target.stripPrefix("/")
                        else "xl/" + target)
        }
      }
      m.result()
    }.getOrElse(Map.empty[String, String])
    val r = reader(workbook)
    val out = Vector.newBuilder[(String, String)]
    var fallbackIdx = 0
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
        // r:id attribute is namespaced; scan attributes by local name
        val rid = (0 until r.getAttributeCount)
          .find(i => r.getAttributeLocalName(i) == "id").map(r.getAttributeValue)
        fallbackIdx += 1
        val target = rid.flatMap(relTargets.get)
          .getOrElse(s"xl/worksheets/sheet$fallbackIdx.xml")
        out += name -> target
      }
    }
    out.result()
  }

  // ------------------------------------------------------------ sheet

  private def parseSheet(
      bytes: Array[Byte], shared: Vector[String], dateStyles: Set[Int],
      dateFmt: DateTimeFormatter): Sheet = {
    val r = reader(bytes)
    var headers: Vector[String] = null
    val rows = Vector.newBuilder[Vector[String]]
    var cells: scala.collection.mutable.ArrayBuffer[String] = null
    var lastCol = -1
    var rowNo = 0

    def formatted(cell: => String, t: String, s: Int, v: String, inline: String): String = t match {
      case _ if v == null && t != "inlineStr" => null // a cell with no <v> is empty
      case "s" =>
        val i = integer(v, s"cell $cell shared-string index")
        if (i < 0 || i >= shared.length)
          throw new IllegalArgumentException(s"corrupt xlsx: cell $cell shared-string " +
            s"index $i is outside the ${shared.length}-string table")
        shared(i)
      case "inlineStr" => inline
      case "str"       => v
      case "b"         => if (v.trim == "1") "TRUE" else "FALSE"
      case "e"         => v
      case _ => // numeric
        try {
          if (v.isEmpty) null
          else if (dateStyles(s)) formatDate(v, dateFmt)
          else formatGeneral(v)
        } catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"corrupt xlsx: cell $cell value '$v' is not a number")
        }
    }

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" =>
            cells = scala.collection.mutable.ArrayBuffer.empty[String]
            lastCol = -1
            rowNo += 1
          case "c" if cells != null =>
            val ref = r.getAttributeValue(null, "r")
            val colIdx = Option(ref).map(columnOf).getOrElse(lastCol + 1)
            require(colIdx < MaxColumns,
              s"corrupt xlsx: cell in row element $rowNo lies past column $MaxColumns")
            def cell = Option(ref).getOrElse(s"#${colIdx + 1} of row element $rowNo")
            val t = Option(r.getAttributeValue(null, "t")).getOrElse("n")
            val s = intAttr(r, "s", s"cell $cell").getOrElse(-1)
            lastCol = colIdx
            // body: <v> (value) and/or <is> (inline string runs)
            var v: String = null
            var inline: String = null
            var depth = 1
            while (depth > 0 && r.hasNext) {
              r.next() match {
                case XMLStreamConstants.START_ELEMENT =>
                  r.getLocalName match {
                    case "v"  => v = textBelow(r)
                    case "is" => inline = textBelow(r)
                    case _    => depth += 1
                  }
                case XMLStreamConstants.END_ELEMENT => depth -= 1
                case _ => ()
              }
            }
            val value = formatted(cell, t, s, v, inline)
            while (cells.length <= colIdx) cells += null
            cells(colIdx) = value
          case _ => ()
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "row" =>
          if (headers == null)
            headers = cells.toVector.zipWithIndex.map {
              case (h, i) => if (h == null || h.isEmpty) s"col$i" else h
            }
          else {
            val aligned = cells.toVector.take(headers.length)
              .padTo(headers.length, null: String)
            rows += aligned
          }
          cells = null
        case _ => ()
      }
    }
    Sheet(if (headers == null) Vector.empty else headers, rows.result())
  }

  /** Excel's column limit (XFD). */
  private val MaxColumns = 16384

  /** 0-based column index of a cell reference like "BA12"; a reference
    * without column letters, or past XFD, rejects the workbook. */
  private def columnOf(ref: String): Int = {
    var i = 0; var c = 0
    while (i < ref.length && c <= MaxColumns && ref.charAt(i).isLetter) {
      c = c * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    require(c >= 1 && c <= MaxColumns, s"corrupt xlsx: cell reference '$ref' names no column A..XFD")
    c - 1
  }

  /** POI General-format semantics: integral values undecorated, float
    * noise rounded to 11 significant digits, trailing zeros stripped. */
  private[sources] def formatGeneral(raw: String): String = {
    val lower = raw.toLowerCase
    if (!lower.contains('.') && !lower.contains('e')) raw
    else {
      val d = raw.toDouble
      if (d == Math.rint(d) && Math.abs(d) < 1e15) d.toLong.toString
      else java.math.BigDecimal.valueOf(d)
        .round(new java.math.MathContext(11))
        .stripTrailingZeros.toPlainString
    }
  }

  private[sources] def formatDate(serialStr: String, fmt: DateTimeFormatter): String =
    dateText(serialStr.toDouble, ExcelEpoch, fmt).getOrElse(formatGeneral(serialStr))

  /** Day after the last date Excel can show (9999-12-31). */
  private val PastLastExcelDay = LocalDate.of(10000, 1, 1)

  /** A date-styled serial rendered with `fmt`, counted from `epoch`
    * (1899-12-30, or 1904-01-01 for 1904-mode xls). None for a serial
    * Excel cannot date: negative, not finite, or on or past 10000-01-01;
    * callers then render the General number, as POI's DataFormatter
    * does for an invalid Excel date. */
  private[sources] def dateText(
      serial: Double, epoch: LocalDate, fmt: DateTimeFormatter): Option[String] =
    if (!(serial >= 0 &&
        serial < java.time.temporal.ChronoUnit.DAYS.between(epoch, PastLastExcelDay))) None
    else {
      val days = Math.floor(serial).toLong
      val nanosOfDay = Math.round((serial - days) * 86400d) * 1000000000L
      Some(epoch.plusDays(days).atStartOfDay.plusNanos(nanosOfDay).format(fmt))
    }

  /** Excel day serial for a local date (writer side). */
  private[graft] def toSerial(d: LocalDate): Long =
    java.time.temporal.ChronoUnit.DAYS.between(ExcelEpoch, d)

  private[graft] def toSerial(ts: java.time.LocalDateTime): Double =
    toSerial(ts.toLocalDate).toDouble + ts.toLocalTime.toNanoOfDay / 86400e9
}

/** Spark-side xlsx reading (reference `XlsxSource.xlsx`).
  *
  * One xlsx workbook is a single compressed stream — the unit of
  * parallelism is the FILE: `binaryFile` rows fan the archives across
  * the cluster and each is parsed where its bytes land (the same
  * topology as [[Sources.zipEntries]]). Columns are the first file's
  * headers (parsed once on the driver for the schema, exactly like
  * Spark's own csv header inference); further files align by header
  * name, missing columns null. All columns are strings — typing is
  * applied downstream via asInt/asDouble/asDate, reference parity.
  */
/** Shared driver-side header/schema probe for the workbook sources:
  * both [[Xlsx.read]] and [[Xls.read]] pull ONE file's bytes to the
  * driver to infer headers (exactly like Spark's own csv header
  * inference). A workbook is MBs at most; a multi-GB mislabeled input
  * must fail loudly instead of OOMing the driver, so the size is
  * checked from the binaryFile metadata BEFORE the content is
  * collected. */
private[sources] object HeaderProbe {

  /** Refuse to collect a "workbook" larger than this (256 MiB). */
  val MaxProbeBytes: Long = 256L * 1024 * 1024

  def firstFileBytes(
      loaded: org.apache.spark.sql.DataFrame, path: String,
      kind: String): Array[Byte] = {
    import org.apache.spark.sql.functions.col
    val head = loaded.select("path", "length").orderBy("path").limit(1).collect()
    if (head.isEmpty)
      throw new IllegalArgumentException(s"no .$kind files under $path")
    val (firstPath, len) = (head(0).getString(0), head(0).getLong(1))
    require(len <= MaxProbeBytes,
      s"$firstPath is $len bytes — larger than the $MaxProbeBytes-byte cap " +
        s"for a .$kind workbook header probe; a real spreadsheet is MBs at " +
        "most. Is this file mislabeled?")
    loaded.filter(col("path") === firstPath)
      .select("content").head().getAs[Array[Byte]](0)
  }
}

object Xlsx {

  /** @param password opens agile-encrypted workbooks (reference
    *   `XlsxSource.groovy:101-104`); see [[OoxmlCrypto]]. Plain
    *   workbooks ignore it, as POI does. */
  def read(
      spark: SparkSession, path: String,
      sheet: String = null,
      dateFormat: String = "yyyy-MM-dd",
      password: String = null): Pipeline = {
    val loaded = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .option("recursiveFileLookup", true)
      .load(path)
    val files = loaded.select("path", "content")
    val headers = XlsxParser.parse(
      OoxmlCrypto.maybeDecrypt(
        HeaderProbe.firstFileBytes(loaded, path, "xlsx"), password),
      sheet, dateFormat).headers
    val schema = StructType(headers.map(StructField(_, StringType, nullable = true)))

    val sheetName = sheet
    val fmt = dateFormat
    val pass = password
    val df = files.flatMap { row =>
      val parsed = XlsxParser.parse(
        OoxmlCrypto.maybeDecrypt(row.getAs[Array[Byte]](1), pass), sheetName, fmt)
      val idx = headers.map(parsed.headers.indexOf) // align by name
      parsed.rows.iterator.map(cells =>
        Row.fromSeq(idx.map(i => if (i < 0) null else cells(i))))
    }(org.apache.spark.sql.Encoders.row(schema))
    Pipeline.of(s"xlsx($path)", df)
  }
}
