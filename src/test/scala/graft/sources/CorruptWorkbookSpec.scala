package graft.sources

import java.nio.file.{Files, Paths}

import org.scalactic.source.Position
import org.scalatest.funsuite.AnyFunSuite

/** Hostile-bytes sweep for the workbook parsers — the same bar the
  * media expressions meet (MediaDims/Mp3Meta fuzz): truncated and
  * bit-flipped xlsx (zip+XML), xls (CFB+BIFF8) and encrypted-OOXML
  * (CFB+crypto descriptor) inputs must either parse or REJECT CLEANLY
  * with a typed, controlled error — never an NPE, index error,
  * negative-size allocation, stack overflow, or hang. A crawl feeds
  * parsers garbage routinely; an uncontrolled throw class is how one
  * bad file kills a 100 TB ingest job.
  *
  * The seeds are built in the repo from the public format specs
  * ([[WorkbookSeeds]]: a deflated xlsx, a compact CFB + BIFF8 xls whose
  * records fill much of the file, that xlsx agile-encrypted by the
  * test-side [[AgileFixture]], and the same xlsx standard-encrypted by
  * [[StdFixture]]). Each is first parsed or decrypted to its known
  * rows, so a broken seed fails loudly instead of leaving a sweep that
  * only checks rejections. The reference suite's own players.xlsx,
  * players.xls and encrypted_players.xlsx are swept as well wherever
  * they are present. Direct cases pin each fault the sweeps found, and
  * those the byte sweep cannot reach: hostile values inside a CRC-valid
  * xlsx, and malformed encryption streams and descriptors. */
class CorruptWorkbookSpec extends AnyFunSuite {

  private val xlsxFixture = "/root/reference/src/test/resources/players.xlsx"
  private val xlsFixture = "/root/reference/src/test/resources/players.xls"
  private val encFixture = "/root/reference/src/test/resources/encrypted_players.xlsx"

  /** The reject-cleanly contract: these are the CONTROLLED failure
    * types a caller can catch-and-skip per file. Anything else —
    * NullPointerException, ArrayIndexOutOfBounds, NegativeArraySize,
    * MatchError, StackOverflow — is a parser bug surfaced by fuzz. */
  private def clean(t: Throwable): Boolean = t match {
    case _: IllegalArgumentException => true // incl. require() messages
    case _: java.io.IOException => true      // incl. Zip/EOF exceptions
    case _: javax.xml.stream.XMLStreamException => true
    case _: java.security.GeneralSecurityException => true
    case _: NumberFormatException => false   // leaking internals = bug
    case _ => false
  }

  /** A reference fixture's bytes, where the reference checkout exists. */
  private def reference(path: String): Option[Array[Byte]] =
    Some(Paths.get(path)).filter(Files.exists(_)).map(Files.readAllBytes)

  private def sweep(name: String, seed: Array[Byte], parse: Array[Byte] => Any): Unit = {
    val rnd = new scala.util.Random(20260814L)
    // deterministic edge shapes first
    val edges: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      seed.take(1), seed.take(8), seed.take(seed.length / 2),
      new Array[Byte](64),
      Array.fill[Byte](64)(0xff.toByte))
    (edges ++ (0 until 400).map { i =>
      if (i % 4 == 0) { // random garbage
        val a = new Array[Byte](rnd.nextInt(2048)); rnd.nextBytes(a); a
      } else { // mutate the real fixture: flips then truncate
        val m = seed.clone()
        (0 until 1 + rnd.nextInt(8)).foreach(_ =>
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte)
        if (rnd.nextBoolean()) m.take(1 + rnd.nextInt(m.length)) else m
      }
    }).zipWithIndex.foreach { case (bytes, i) =>
      try { parse(bytes); () }
      catch {
        case t: Throwable =>
          assert(clean(t),
            s"$name case $i (${bytes.length} bytes): uncontrolled " +
              s"${t.getClass.getName}: ${t.getMessage}")
      }
    }
  }

  private def parseXlsx(b: Array[Byte]) = XlsxParser.parse(b, null, "yyyy-MM-dd")
  private def parseXls(b: Array[Byte]) = XlsParser.parse(b, null, "yyyy-MM-dd")

  test("xlsx parser rejects corrupt zip/XML cleanly") {
    val seed = WorkbookSeeds.xlsx()
    assert(parseXlsx(seed) == WorkbookSeeds.xlsxSheet)
    sweep("xlsx", seed, parseXlsx)
    reference(xlsxFixture).foreach(sweep("xlsx (reference)", _, parseXlsx))
  }

  test("xls parser rejects corrupt CFB/BIFF cleanly") {
    val seed = WorkbookSeeds.xls
    assert(parseXls(seed) == WorkbookSeeds.xlsSheet)
    sweep("xls", seed, parseXls)
    reference(xlsFixture).foreach(sweep("xls (reference)", _, parseXls))
  }

  test("ooxml decrypt rejects corrupt containers/descriptors cleanly") {
    val pw = WorkbookSeeds.password
    val seed = WorkbookSeeds.agile
    assert(parseXlsx(OoxmlCrypto.decrypt(seed, pw)) == WorkbookSeeds.xlsxSheet)
    sweep("ooxml-crypto", seed, b => OoxmlCrypto.decrypt(b, pw))
    val std = StdFixture.encrypt(WorkbookSeeds.xlsx(), pw, keyBits = 128)
    assert(parseXlsx(OoxmlCrypto.decrypt(std, pw)) == WorkbookSeeds.xlsxSheet)
    sweep("ooxml-crypto (standard)", std, b => OoxmlCrypto.decrypt(b, pw))
    reference(encFixture).foreach(
      sweep("ooxml-crypto (reference)", _, b => OoxmlCrypto.decrypt(b, "pass")))
  }

  // ------------------------------------------------------ direct cases

  /** `f` must throw exactly IllegalArgumentException (not a subclass
    * such as NumberFormatException) with `mentions` in its message. */
  private def rejects(mentions: String)(f: => Any)(implicit pos: Position): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getClass == classOf[IllegalArgumentException],
      s"${e.getClass.getName}: ${e.getMessage}")
    assert(e.getMessage.contains(mentions), e.getMessage)
  }

  test("xls: every record cut short of what its handler reads rejects by name") {
    import Biff._
    // (record name, the whole record, a globals record?, payload cuts)
    def fixedFields(name: String, r: Array[Byte], min: Int, global: Boolean = false) =
      (name, r, global, 0 until min)
    def anyCut(name: String, r: Array[Byte], global: Boolean = false) =
      (name, r, global, 0 until r.length - 4)
    val cases = Seq(
      fixedFields("BOF", bof(0x10), 4, global = true),
      fixedFields("XF", xf(14), 4, global = true),
      anyCut("FORMAT", format(164, "yyyy"), global = true),
      anyCut("BOUNDSHEET", boundsheet(0, "Sheet"), global = true),
      fixedFields("DATEMODE", datemode(true), 2, global = true),
      fixedFields("EXTERNSHEET", externsheet((0, 0, 0)), 2, global = true),
      anyCut("LBL", lbl("Name"), global = true),
      fixedFields("LABELSST", labelSst(1, 0, 0), 10),
      fixedFields("NUMBER", number(1, 0, 1), 14),
      fixedFields("RK", rkInt(1, 0, 1), 10),
      fixedFields("MULRK", mulrk(1, 0, 1, 2), 6),
      fixedFields("FORMULA", formulaNum(1, 0, 1, tInt(1)), 22),
      fixedFields("BOOLERR", boolerr(1, 0, v = true), 8),
      anyCut("LABEL", label(1, 0, "text")),
      fixedFields("BLANK", blank(1, 0), 6),
      fixedFields("MULBLANK", mulblank(1, 0, 2), 6))
    def id(r: Array[Byte]) = (r(0) & 0xFF) | ((r(1) & 0xFF) << 8)
    def cutTo(r: Array[Byte], n: Int) = rec(id(r), r.slice(4, 4 + n))
    cases.foreach { case (name, r, global, cuts) =>
      cuts.foreach { n =>
        val cut = cutTo(r, n)
        withClue(s"$name cut to $n bytes: ") {
          rejects(name) {
            if (global) parseXls(workbookWith(Seq(cut), Seq(label(0, 0, "h"))))
            else parseXls(workbook(label(0, 0, "h"), cut))
          }
        }
      }
    }
    // a string-valued FORMULA's cached text: the STRING record after it
    val formulaWithString = formulaStr(1, 0, "xy", tInt(1))
    val formula = formulaWithString.take(4 + 22 + tInt(1).length)
    (0 until formulaWithString.length - formula.length - 4).foreach { n =>
      rejects("STRING")(parseXls(workbook(label(0, 0, "h"), formula,
        cutTo(formulaWithString.drop(formula.length), n))))
    }
    // a LABEL whose character count runs past its record
    rejects("LABEL")(parseXls(workbook(label(0, 0, "h"),
      rec(0x204, Array[Byte](1, 0, 0, 0, 0, 0, 50, 0, 0, 'x')))))
    // an SST declaring more strings than it and its CONTINUE hold
    val sst3 = sst(Seq("a", "b"), continueAt = 1)
    sst3(8) = 3 // cstUnique
    rejects("SST")(parseXls(workbookWith(Seq(sst3), Seq(label(0, 0, "h")))))
    // formula-text mode also reads SHRFMLA, ARRAY and each FORMULA's rgce
    def textMode(wb: Array[Byte]) =
      XlsParser.parse(wb, null, "yyyy-MM-dd", outputFormulaValues = false)
    // each cut keeps the fixed fields and 1 of the 3 rgce bytes they declare
    rejects("SHRFMLA")(textMode(workbook(label(0, 0, "h"),
      cutTo(shrfmla(1, 1, 0, 0, tInt(1)), 11))))
    rejects("ARRAY")(textMode(workbook(label(0, 0, "h"), cutTo(arrayRec(1, 0, tInt(1)), 15))))
    rejects("FORMULA")(textMode(workbook(label(0, 0, "h"),
      cutTo(formulaNum(1, 0, 1, tInt(1)), 23))))
  }

  private val header =
    """<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c>""" +
      """<c r="B1" t="inlineStr"><is><t>g</t></is></c></row>"""
  private def withRow(cells: String) =
    WorkbookSeeds.xlsx(sheetData = header + s"""<row r="2">$cells</row>""")

  test("xls: a stream cut inside its last record rejects, naming the record and offset") {
    import Biff._
    val cells = Seq(label(0, 0, "h"), number(1, 0, 1), number(2, 0, 2))
    val stream = workbookStream(Nil, cells)
    assert(parseXls(StdFixture.cfb(Seq("Workbook" -> stream))).rows ==
      Vector(Vector("1"), Vector("2")))
    // drop the EOF and all but the first 5 bytes of the last NUMBER:
    // the Workbook stream's directory entry says it ends there
    val cut = stream.dropRight(4 + number(2, 0, 2).length - 5)
    rejects(s"truncated xls record 0x0203 at stream offset ${cut.length - 5}")(
      parseXls(StdFixture.cfb(Seq("Workbook" -> cut))))
  }

  test("a shared-string index outside the table rejects, naming the cell") {
    import Biff._
    // xls: LABELSST names string 99 of a 1-string SST
    val table = sst(Seq("a"), continueAt = 1)
    assert(parseXls(workbookWith(Seq(table), Seq(label(0, 0, "h"), labelSst(1, 0, 0)))).rows ==
      Vector(Vector("a")))
    rejects("cell A2 names shared string 99, the SST holds 1")(
      parseXls(workbookWith(Seq(table), Seq(label(0, 0, "h"), labelSst(1, 0, 99)))))
    // xlsx: the seed's table holds 6 strings, so index 5 reads and 6 rejects
    assert(parseXlsx(withRow("""<c r="A2" t="s"><v>5</v></c>""")).rows ==
      Vector(Vector("gamma", null)))
    rejects("cell A2 shared-string index 6 is outside the 6-string table")(
      parseXlsx(withRow("""<c r="A2" t="s"><v>6</v></c>""")))
    rejects("cell A2 shared-string index -1")(
      parseXlsx(withRow("""<c r="A2" t="s"><v>-1</v></c>""")))
  }

  test("xls: a date-styled serial Excel cannot date renders as its General number") {
    import Biff._
    val cells = Seq(label(0, 0, "d"),
      number(1, 0, 2958465, xf = 1), // 9999-12-31, the last day Excel dates
      number(2, 0, 2958466, xf = 1),
      number(3, 0, -1, xf = 1),
      number(4, 0, 1e300, xf = 1),
      number(5, 0, Double.NaN, xf = 1),
      rkInt(6, 0, (1 << 29) - 1, xf = 1))
    val sheet = parseXls(workbookWith(Seq(xf(0), xf(14)), cells))
    assert(sheet.rows.map(_.head) == Vector(
      "9999-12-31", "2958466", "-1", "1" + "0" * 300, "NaN", "536870911"))
    // 1904 mode counts from 1904-01-01, so its last datable serial is lower
    val sheet1904 = parseXls(workbookWith(Seq(datemode(true), xf(0), xf(14)),
      Seq(label(0, 0, "d"), number(1, 0, 2957003, xf = 1), number(2, 0, 2957004, xf = 1))))
    assert(sheet1904.rows.map(_.head) == Vector("9999-12-31", "2957004"))
  }

  test("xlsx: hostile values inside a CRC-valid zip reject by name") {
    val styles = WorkbookSeeds.defaultStyles
    rejects("numFmtId")(parseXlsx(WorkbookSeeds.xlsx(styles =
      styles.replace("""numFmtId="164" formatCode""", """numFmtId="x" formatCode"""))))
    rejects("numFmtId")(parseXlsx(WorkbookSeeds.xlsx(styles =
      styles.replace("""<xf numFmtId="14"/>""", """<xf numFmtId="1x"/>"""))))
    rejects("A2 shared-string index")(parseXlsx(withRow("""<c r="A2" t="s"><v>zz</v></c>""")))
    rejects("A2 s")(parseXlsx(withRow("""<c r="A2" s="q"><v>1</v></c>""")))
    rejects("A2 value 'abc'")(parseXlsx(withRow("""<c r="A2" s="1"><v>abc</v></c>""")))
    rejects("A2 value '1.x'")(parseXlsx(withRow("""<c r="A2"><v>1.x</v></c>""")))
    rejects("'12'")(parseXlsx(withRow("""<c r="12"><v>1</v></c>""")))
    rejects("'XFE2'")(parseXlsx(withRow("""<c r="XFE2"><v>1</v></c>""")))
    // a shared-string or boolean cell without its <v> is an empty cell
    assert(parseXlsx(withRow("""<c r="A2" t="s"/><c r="B2" t="b"/>""")).rows ==
      Vector(Vector(null, null)))
  }

  test("xlsx: a date-styled serial Excel cannot date renders as its General number") {
    val serials = Seq("2958465", "2958466", "-1", "1e300", "36525.75")
    val sheet = parseXlsx(WorkbookSeeds.xlsx(sheetData = header + serials.zipWithIndex.map {
      case (v, i) => s"""<row r="${i + 2}"><c r="A${i + 2}" s="1"><v>$v</v></c></row>"""
    }.mkString))
    assert(sheet.rows.map(_.head) == Vector(
      "9999-12-31", "2958466", "-1", "1" + "0" * 300, "1999-12-31"))
  }

  test("ooxml decrypt: malformed streams and descriptors reject by name") {
    val pw = WorkbookSeeds.password
    val zip = WorkbookSeeds.xlsx()
    def streams(enc: Array[Byte]) = (
      XlsParser.cfbStream(enc, Seq("EncryptionInfo")),
      XlsParser.cfbStream(enc, Seq("EncryptedPackage")))
    def container(info: Array[Byte], pkg: Array[Byte]) =
      StdFixture.cfb(Seq("EncryptionInfo" -> info, "EncryptedPackage" -> pkg))
    val (agileInfo, agilePkg) = streams(WorkbookSeeds.agile)
    val (stdInfo, stdPkg) = streams(StdFixture.encrypt(zip, pw, keyBits = 128))

    rejects("EncryptionInfo")(OoxmlCrypto.decrypt(container(Array[Byte](4, 0), agilePkg), pw))
    rejects("EncryptedPackage")(OoxmlCrypto.decrypt(container(agileInfo, Array[Byte](1, 2, 3)), pw))
    rejects("EncryptedPackage")(OoxmlCrypto.decrypt(container(stdInfo, Array[Byte](1, 2, 3)), pw))
    // a standard header size past the stream, or short of its fixed fields
    Seq(10000, -20, 8).foreach { headerSize =>
      val info = stdInfo.clone()
      java.nio.ByteBuffer.wrap(info).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(8, headerSize)
      rejects("header size")(OoxmlCrypto.decrypt(container(info, stdPkg), pw))
    }
    // agile descriptor attributes: not integers, not AES, spun too long
    def agileWith(edit: String => String) =
      AgileFixture.encrypt(zip, pw, spinCount = 1000, editXml = edit)
    def swap(from: String, to: String) = agileWith(_.replace(from, to))
    rejects("blockSize")(OoxmlCrypto.decrypt(swap("blockSize=\"16\"", "blockSize=\"1x\""), pw))
    rejects("spinCount")(OoxmlCrypto.decrypt(swap("spinCount=\"1000\"", "spinCount=\"lots\""), pw))
    rejects("keyBits")(OoxmlCrypto.decrypt(swap("keyBits=\"256\"", "keyBits=\"-8\""), pw))
    rejects("blockSize")(OoxmlCrypto.decrypt(swap("blockSize=\"16\"", "blockSize=\"0\""), pw))
    rejects("spinCount")(OoxmlCrypto.decrypt(
      swap("spinCount=\"1000\"", "spinCount=\"10000001\""), pw))
    // the untouched descriptor at the same spin count decrypts
    assert(parseXlsx(OoxmlCrypto.decrypt(agileWith(identity), pw)) == WorkbookSeeds.xlsxSheet)
  }
}
