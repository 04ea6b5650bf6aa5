package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import java.io.{File, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

/** Public sink contract (reference `Sink.groovy:5-12`:
  * name/attach/result/close). The declarative equivalent of
  * attach+close is a whole-frame `write`; `result` is its return value
  * — the reference's post-write row `{file, filename}` that
  * [[graft.etl.Pipeline.saveAs]] pushes downstream
  * (`Pipeline.groovy:833-844`).
  *
  * Single-FILE sinks are inherently single-writer: they stream the
  * frame through the driver with `toLocalIterator` (one partition in
  * memory at a time). That is the right mapping for the reference's
  * API, whose output is one local file by definition; bulk
  * distributed output goes through [[graft.etl.Pipeline.save]], which
  * writes a directory of parts in parallel.
  */
trait Sink {
  def name: String

  /** Write the frame; returns the reference's result row. */
  def write(df: DataFrame): Map[String, String]
}

/** Single-file CSV sink with the reference CSV writer's exact escaping
  * (`CSVFile.java:229-254`): every non-empty cell is ALWAYS quoted,
  * embedded `"` doubles, embedded newline becomes the literal two
  * characters `\n` (so records never span lines); null and empty cells
  * are written unquoted-empty; headers are escaped like cells
  * (`CSVFile.java:184-191`: column order frozen from the schema).
  * Optional UTF-8 BOM for Excel (`CSVFile.java:208-210`).
  */
final class CsvFileSink(
    path: String,
    separator: String = ",",
    columns: Seq[String] = null,
    writeBom: Boolean = false) extends Sink {

  override def name: String = new File(path).getName

  private def escape(s: String): String =
    if (s == null || s.isEmpty) ""
    else "\"" + s.replace("\"", "\"\"").replace("\n", "\\n") + "\""

  override def write(df: DataFrame): Map[String, String] = {
    val cols = if (columns == null) df.columns.toSeq else columns
    val proj = df.select(cols.map(c => col(c).cast(StringType).as(c)): _*)
    val file = new File(path)
    Option(file.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val out = new PrintWriter(new OutputStreamWriter(
      new java.io.FileOutputStream(file), StandardCharsets.UTF_8))
    try {
      if (writeBom) out.print('\ufeff')
      out.print(cols.map(escape).mkString(separator) + "\n")
      val it = proj.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        out.print(cols.indices.map(i => escape(r.getString(i))).mkString(separator) + "\n")
      }
    } finally out.close()
    Map("file" -> path, "filename" -> file.getAbsolutePath)
  }
}

/** JSON sink in the reference's exact file format
  * (`JsonSink.groovy:40-66,77-82`): array mode writes `[`, one object
  * per line each terminated by `,`, then `\n]` — including the
  * reference's trailing-comma-before-close quirk, reproduced verbatim
  * for byte parity with files the reference produces;
  * `jsonObjectPerLine` writes plain JSONL. Null fields are kept
  * (Groovy JsonOutput parity — Spark's default drops them). */
final class JsonFileSink(
    path: String,
    columns: Seq[String] = null,
    jsonObjectPerLine: Boolean = false) extends Sink {

  override def name: String = new File(path).getName

  override def write(df: DataFrame): Map[String, String] = {
    val cols = if (columns == null) df.columns.toSeq else columns
    val json = df.select(to_json(
      struct(cols.map(col): _*),
      new java.util.HashMap[String, String] {
        put("ignoreNullFields", "false")
      }).as("j"))
    val file = new File(path)
    Option(file.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val w = java.nio.file.Files.newBufferedWriter(file.toPath, StandardCharsets.UTF_8)
    try {
      if (!jsonObjectPerLine) w.write("[\n")
      val it = json.toLocalIterator()
      while (it.hasNext) {
        w.write(it.next().getString(0))
        w.write(if (jsonObjectPerLine) "\n" else ",\n")
      }
      if (!jsonObjectPerLine) w.write("\n]")
    } finally w.close()
    Map("file" -> path, "filename" -> file.getAbsolutePath)
  }
}

/** Single-file xlsx sink (reference `XlsxSink.groovy:16-81`), written
  * with plain `java.util.zip` + hand-built OOXML parts — POI is absent
  * in this environment but an xlsx is just a ZIP of five XML parts.
  *
  * Typing mirrors the reference's cell dispatch
  * (`XlsxSink.groovy:44-63`): strings as inline strings, numerics as
  * native number cells, booleans as boolean cells, dates/timestamps as
  * real date cells (day serials styled with builtin formats 14/22).
  * Excel's first date is 1900-01-01: an earlier date or timestamp has
  * no day serial (written, it would be a negative number that Excel
  * shows as `####` and a reader takes for a number), so the write
  * refuses it with an IllegalArgumentException naming its column and
  * row, and leaves no file behind — cast such a column to string to
  * keep it. One documented fix over the reference: a header row is written
  * first — the reference's sink omits headers, which its own
  * XlsxSource then misreads (first DATA row becomes the headers).
  */
final class XlsxFileSink(
    path: String,
    sheetName: String = "Sheet 1",
    columns: Seq[String] = null) extends Sink {

  override def name: String = new File(path).getName

  private def isLookalikeAt(s: String, i: Int): Boolean =
    i + 7 <= s.length && s.charAt(i) == '_' && (s.charAt(i + 1) | 0x20) == 'x' && {
      var j = i + 2
      while (j < i + 6 && Character.digit(s.charAt(j), 16) >= 0) j += 1
      j == i + 6 && s.charAt(i + 6) == '_'
    }

  private def esc(s: String): String = {
    val basic = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    // XML 1.0 cannot carry control characters at all — encode them the
    // way Excel/POI do (_xHHHH_). Literal text that LOOKS like an
    // escape gets its underscore armored as _x005F_ first, so the
    // reader's unescape reproduces the original exactly. The scan
    // consumes ONE character per armored underscore (not the whole
    // lookalike): consecutive lookalikes overlap on their shared
    // underscore ("_x005F_x0041_" holds two), and a regex replace of
    // whole matches would leave the second un-armored.
    // A literal \r must be armored too — conformant XML parsers
    // normalize CR and CRLF to LF in character data, so a bare \r
    // cannot survive any reader (Excel writes _x000D_ as well).
    val armored =
      if (!basic.contains("_x")) basic
      else {
        val sb = new StringBuilder(basic.length + 16)
        var i = 0
        while (i < basic.length) {
          if (isLookalikeAt(basic, i)) { sb.append("_x005F_"); i += 1 }
          else { sb.append(basic.charAt(i)); i += 1 }
        }
        sb.toString
      }
    if (armored.forall(c => (c >= 0x20 || c == '\t' || c == '\n') && c != 0xFFFE && c != 0xFFFF))
      armored
    else armored.flatMap { c =>
      if ((c < 0x20 && c != '\t' && c != '\n') || c == 0xFFFE || c == 0xFFFF)
        f"_x${c.toInt}%04X_"
      else c.toString
    }
  }

  private def colRef(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** `d`, or the refusal of a date Excel cannot store (see above). */
  private def excelDay(d: LocalDate, shown: Any, column: String, row: Int): LocalDate = {
    if (d.isBefore(LocalDate.of(1900, 1, 1)))
      throw new IllegalArgumentException(
        s"$name: column '$column', row $row (sheet row ${row + 1}): $shown is " +
          "before 1900-01-01, which Excel cannot store as a date — cast the " +
          "column to string to keep it")
    d
  }

  /** One cell; `column` and `row` (1-based data row) name it in errors. */
  private def cellXml(ref: String, v: Any, column: String = "", row: Int = 0): String = v match {
    case null => ""
    case s: String =>
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(s)}</t></is></c>"""
    case b: Boolean =>
      s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
    case d: java.sql.Date =>
      val day = excelDay(d.toLocalDate, d, column, row)
      s"""<c r="$ref" s="1"><v>${graft.sources.XlsxParser.toSerial(day)}</v></c>"""
    case t: java.sql.Timestamp =>
      val ts = t.toLocalDateTime
      excelDay(ts.toLocalDate, t, column, row)
      s"""<c r="$ref" s="2"><v>${graft.sources.XlsxParser.toSerial(ts)}</v></c>"""
    case d: java.math.BigDecimal =>
      s"""<c r="$ref"><v>${d.toPlainString}</v></c>"""
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float) =>
      s"""<c r="$ref"><v>$n</v></c>"""
    case other =>
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(other.toString)}</t></is></c>"""
  }

  override def write(df: DataFrame): Map[String, String] = {
    val cols = if (columns == null) df.columns.toSeq else columns
    val proj = df.select(cols.map(col): _*)
    val file = new File(path)
    Option(file.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val zip = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file)))
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    var written = false
    try {
      val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
          |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
          |</Types>""".stripMargin)
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      part("xl/workbook.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="$main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<sheets><sheet name="${esc(sheetName).replace("\"", "&quot;")}" sheetId="1" r:id="rId1"/></sheets>
           |</workbook>""".stripMargin)
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
          |</Relationships>""".stripMargin)
      part("xl/styles.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<styleSheet xmlns="$main">
           |<fonts count="1"><font/></fonts>
           |<fills count="1"><fill/></fills>
           |<borders count="1"><border/></borders>
           |<cellStyleXfs count="1"><xf/></cellStyleXfs>
           |<cellXfs count="3"><xf numFmtId="0" xfId="0"/><xf numFmtId="14" xfId="0" applyNumberFormat="1"/><xf numFmtId="22" xfId="0" applyNumberFormat="1"/></cellXfs>
           |</styleSheet>""".stripMargin)

      zip.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      val w = new OutputStreamWriter(zip, StandardCharsets.UTF_8)
      w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write(s"""<worksheet xmlns="$main"><sheetData>""")
      w.write(cols.zipWithIndex.map { case (c, i) =>
        cellXml(s"${colRef(i)}1", c)
      }.mkString("""<row r="1">""", "", "</row>"))
      val it = proj.toLocalIterator()
      var r = 2
      while (it.hasNext) {
        val row = it.next()
        w.write(cols.indices.map(i =>
          cellXml(s"${colRef(i)}$r", row.get(i), cols(i), r - 1))
          .mkString(s"""<row r="$r">""", "", "</row>"))
        r += 1
      }
      w.write("</sheetData></worksheet>")
      w.flush()
      zip.closeEntry()
      written = true
    } finally {
      zip.close()
      if (!written) file.delete()
    }
    Map("file" -> path, "filename" -> file.getAbsolutePath)
  }
}
