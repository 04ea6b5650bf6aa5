package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import java.util.Base64
import java.util.zip.{ZipEntry, ZipOutputStream}
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
import javax.crypto.{Cipher, Mac}

/** Workbook seeds built from the public format specs, each with the
  * sheet it must parse to: a deflated xlsx (ECMA-376 SpreadsheetML), a
  * CFB + BIFF8 xls ([[Biff]] on [[StdFixture.cfb]]) and the xlsx
  * agile-encrypted ([[AgileFixture]]). They are the seeds of the
  * CorruptWorkbookSpec sweeps and need no file outside the repo. */
object WorkbookSeeds {

  /** Rows every seed holds, formatted as the parsers render them
    * (dateFormat yyyy-MM-dd). */
  val xlsxSheet: XlsxParser.Sheet = XlsxParser.Sheet(
    Vector("ID", "name", "active", "born"),
    Vector(
      Vector("1", "alpha", "TRUE", "2001-02-03"),
      Vector("2.5", "beta", "FALSE", "1999-12-31"),
      Vector("3", "gamma", null, null)))

  val defaultStyles: String =
    """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/></numFmts>""" +
      """<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="164"/><xf numFmtId="14"/></cellXfs>""" +
      """</styleSheet>"""

  /** Shared strings 0..5: ID, name, active, born, alpha, gamma. */
  val defaultSheetData: String =
    """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>""" +
      """<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c></row>""" +
      // shared string, boolean, custom date format (xf 1)
      """<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>4</v></c>""" +
      """<c r="C2" t="b"><v>1</v></c><c r="D2" s="1"><v>36925</v></c></row>""" +
      // inline string, builtin date format 14 (xf 2) with a time part
      """<row r="3"><c r="A3"><v>2.5</v></c><c r="B3" t="inlineStr"><is><t>beta</t></is></c>""" +
      """<c r="C3" t="b"><v>0</v></c><c r="D3" s="2"><v>36525.75</v></c></row>""" +
      """<row r="4"><c r="A4"><v>3</v></c><c r="B4" t="s"><v>5</v></c></row>"""

  /** A deflated xlsx package; `sheetData` and `styles` swap in other
    * parts for the hostile-XML cases (the zip stays CRC-valid). */
  def xlsx(sheetData: String = defaultSheetData, styles: String = defaultStyles): Array[Byte] = {
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/></Types>"""),
      "_rels/.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" ->
        (s"""<workbook xmlns="$ns" xmlns:r="$rel"><sheets>""" +
          """<sheet name="players" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/>""" +
          s"""<Relationship Id="rId2" Type="$rel/sharedStrings" Target="sharedStrings.xml"/>""" +
          s"""<Relationship Id="rId3" Type="$rel/styles" Target="styles.xml"/></Relationships>"""),
      "xl/sharedStrings.xml" ->
        (s"""<sst xmlns="$ns" count="6" uniqueCount="6">""" +
          Seq("ID", "name", "active", "born", "alpha", "gamma")
            .map(s => s"<si><t>$s</t></si>").mkString + "</sst>"),
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" ->
        (s"""<worksheet xmlns="$ns"><sheetData>$sheetData</sheetData></worksheet>"""))
    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes) // DEFLATED entries
    parts.foreach { case (name, xml) =>
      val e = new ZipEntry(name)
      e.setTime(1577836800000L) // fixed, so the seed bytes are too
      zip.putNextEntry(e)
      zip.write(("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + xml)
        .getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    zip.close()
    bytes.toByteArray
  }

  /** The xls seed's rows (dateFormat yyyy-MM-dd). */
  val xlsSheet: XlsxParser.Sheet = XlsxParser.Sheet(
    Vector("ID", "name", "born", "score"),
    Vector(
      Vector("1", "alpha", "2001-02-03", "2.5"),
      Vector("2", "beta", "1999-12-31", "0.5"),
      Vector("3", "gamma", null, "-7.25")))

  /** A compact CFB + BIFF8 workbook: SST (split by a CONTINUE), XF,
    * FORMAT and BOUNDSHEET globals; LABELSST, LABEL, RK, NUMBER and
    * BLANK cells, with dates under a custom (xf 1) and a builtin
    * (xf 2) date format. */
  def xls: Array[Byte] = {
    import Biff._
    Biff.workbookWith(
      Seq(format(164, "yyyy-mm-dd"), xf(0), xf(164), xf(14),
        sst(Seq("ID", "name", "born", "alpha", "beta"), continueAt = 3)),
      Seq(labelSst(0, 0, 0), labelSst(0, 1, 1), labelSst(0, 2, 2), label(0, 3, "score"),
        rkInt(1, 0, 1), labelSst(1, 1, 3), number(1, 2, 36925, xf = 1), number(1, 3, 2.5),
        rkInt(2, 0, 2), labelSst(2, 1, 4), rkInt(2, 2, 36525, xf = 2), rkNum(2, 3, 0.5),
        rkInt(3, 0, 3), label(3, 1, "gamma"), blank(3, 2), number(3, 3, -7.25)))
  }

  val password = "seed pässword"

  /** The xlsx seed, agile-encrypted under [[password]]. */
  def agile: Array[Byte] = AgileFixture.encrypt(xlsx(), password)
}

/** Independent (test-side) implementation of MS-OFFCRYPTO agile
  * encryption (2.3.4.10-2.3.4.15): version 4.4 EncryptionInfo with an
  * XML descriptor, AES-256-CBC, SHA-512, the package in 4096-byte
  * segments, and the dataIntegrity HMAC. Written from the public spec
  * for fixture synthesis only, sharing no code with [[OoxmlCrypto]];
  * salts, verifier and keys are fixed so the output is deterministic. */
object AgileFixture {

  private val BlockVerifierInput = bytes(0xfe, 0xa7, 0xd2, 0x76, 0x3b, 0x4b, 0x9e, 0x79)
  private val BlockVerifierValue = bytes(0xd7, 0xaa, 0x0f, 0x6d, 0x30, 0x61, 0x34, 0x4e)
  private val BlockKeyValue = bytes(0x14, 0x6e, 0x0b, 0xe7, 0xab, 0xac, 0xd0, 0xd6)
  private val BlockHmacKey = bytes(0x5f, 0xb2, 0xad, 0x01, 0x0c, 0xb9, 0xe1, 0xf6)
  private val BlockHmacValue = bytes(0xa0, 0x67, 0x7f, 0x02, 0xb2, 0x2c, 0x84, 0x33)

  private def bytes(v: Int*): Array[Byte] = v.map(_.toByte).toArray
  private def fixed(n: Int, mul: Int, add: Int) = Array.tabulate[Byte](n)(i => (i * mul + add).toByte)
  private def sha512(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-512")
    parts.foreach(md.update)
    md.digest()
  }
  private def le32(i: Int) = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(i).array()
  private def cbc(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(java.util.Arrays.copyOf(data, (data.length + 15) / 16 * 16))
  }
  private def b64(b: Array[Byte]) = Base64.getEncoder.encodeToString(b)

  /** Encrypt `zip` into a CFB container. `editXml` rewrites the
    * descriptor after encryption, for the malformed-descriptor cases. */
  def encrypt(
      zip: Array[Byte], password: String, spinCount: Int = 100000,
      editXml: String => String = identity): Array[Byte] = {
    val keySalt = fixed(16, 7, 1)      // keyData saltValue
    val pwSalt = fixed(16, 13, 5)      // password encryptedKey saltValue
    val verifier = fixed(16, 3, 200)
    val secretKey = fixed(32, 17, 9)   // the package key
    val hmacKey = fixed(64, 5, 77)

    // 2.3.4.11: H0 = H(salt + password), Hn = H(LE32(n-1) + Hn-1)
    var h = sha512(pwSalt, password.getBytes(StandardCharsets.UTF_16LE))
    (0 until spinCount).foreach(i => h = sha512(le32(i), h))
    def keyFor(block: Array[Byte]) = sha512(h, block).take(32) // keyBits 256
    val verifierInputEnc = cbc(keyFor(BlockVerifierInput), pwSalt, verifier)
    val verifierValueEnc = cbc(keyFor(BlockVerifierValue), pwSalt, sha512(verifier))
    val keyValueEnc = cbc(keyFor(BlockKeyValue), pwSalt, secretKey)

    // 2.3.4.15: segment i under IV = H(keyData salt + LE32(i))
    val pkg = new ByteArrayOutputStream()
    pkg.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(zip.length.toLong).array())
    zip.grouped(4096).zipWithIndex.foreach { case (seg, i) =>
      pkg.write(cbc(secretKey, sha512(keySalt, le32(i)).take(16), seg))
    }
    val pkgBytes = pkg.toByteArray

    // 2.3.4.14: HMAC-SHA512 over the whole EncryptedPackage stream
    val mac = Mac.getInstance("HmacSHA512")
    mac.init(new SecretKeySpec(hmacKey, "HmacSHA512"))
    val hmacKeyEnc = cbc(secretKey, sha512(keySalt, BlockHmacKey).take(16), hmacKey)
    val hmacValueEnc = cbc(secretKey, sha512(keySalt, BlockHmacValue).take(16), mac.doFinal(pkgBytes))

    val common = """saltSize="16" blockSize="16" keyBits="256" hashSize="64" """ +
      """cipherAlgorithm="AES" cipherChaining="ChainingModeCBC" hashAlgorithm="SHA512""""
    val xml = editXml(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\r\n" +
        """<encryption xmlns="http://schemas.microsoft.com/office/2006/encryption" """ +
        """xmlns:p="http://schemas.microsoft.com/office/2006/keyEncryptor/password">""" +
        s"""<keyData $common saltValue="${b64(keySalt)}"/>""" +
        s"""<dataIntegrity encryptedHmacKey="${b64(hmacKeyEnc)}" encryptedHmacValue="${b64(hmacValueEnc)}"/>""" +
        """<keyEncryptors><keyEncryptor uri="http://schemas.microsoft.com/office/2006/keyEncryptor/password">""" +
        s"""<p:encryptedKey spinCount="$spinCount" $common saltValue="${b64(pwSalt)}" """ +
        s"""encryptedVerifierHashInput="${b64(verifierInputEnc)}" """ +
        s"""encryptedVerifierHashValue="${b64(verifierValueEnc)}" """ +
        s"""encryptedKeyValue="${b64(keyValueEnc)}"/>""" +
        """</keyEncryptor></keyEncryptors></encryption>""")
    // 2.3.4.10: version 4.4, reserved 0x40, then the descriptor
    val info = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putShort(4).putShort(4).putInt(0x40).array() ++ xml.getBytes(StandardCharsets.UTF_8)
    StdFixture.cfb(Seq("EncryptionInfo" -> info, "EncryptedPackage" -> pkgBytes))
  }
}

/** Minimal BIFF8 record builders (the JDK writes no xls, and the
  * reference's players.xls carries no FORMULA records — the
  * [[StdFixture]] discipline: synthesize from the public MS-XLS spec,
  * sharing no code with the parser under test). Used by XlsSpec's
  * formula fixtures and by the xls seed of [[WorkbookSeeds]]. */
object Biff {
  private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  def rec(id: Int, p: Array[Byte]): Array[Byte] = {
    val b = le(4 + p.length)
    b.putShort(id.toShort).putShort(p.length.toShort).put(p).array()
  }
  def bof(dt: Int): Array[Byte] =
    rec(0x0809, le(16).putShort(0x0600.toShort).putShort(dt.toShort).array())
  def boundsheet(pos: Int, name: String): Array[Byte] = {
    val chars = name.getBytes("ISO-8859-1")
    val b = le(8 + chars.length)
    b.putInt(pos).putShort(0).put(chars.length.toByte).put(0.toByte).put(chars)
    rec(0x85, b.array())
  }
  def eof: Array[Byte] = rec(0x0A, Array.empty)
  def label(row: Int, c: Int, s: String): Array[Byte] = {
    val chars = s.getBytes("ISO-8859-1")
    val b = le(9 + chars.length)
    b.putShort(row.toShort).putShort(c.toShort).putShort(0)
    b.putShort(chars.length.toShort).put(0.toByte).put(chars)
    rec(0x204, b.array())
  }
  def number(row: Int, c: Int, v: Double, xf: Int = 0): Array[Byte] =
    rec(0x203, le(14).putShort(row.toShort).putShort(c.toShort)
      .putShort(xf.toShort).putDouble(v).array())
  /** RK cell holding a 30-bit signed integer (fX100 clear). */
  def rkInt(row: Int, c: Int, v: Int, xf: Int = 0): Array[Byte] =
    rec(0x27E, le(10).putShort(row.toShort).putShort(c.toShort)
      .putShort(xf.toShort).putInt((v << 2) | 2).array())
  /** RK cell holding a double whose low 34 bits are zero (the RK
    * float form keeps only the top 30 bits). */
  def rkNum(row: Int, c: Int, v: Double, xf: Int = 0): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    require((bits & 0x3FFFFFFFFL) == 0, s"$v has no exact RK form")
    rec(0x27E, le(10).putShort(row.toShort).putShort(c.toShort)
      .putShort(xf.toShort).putInt((bits >>> 32).toInt).array())
  }
  def labelSst(row: Int, c: Int, isst: Int, xf: Int = 0): Array[Byte] =
    rec(0xFD, le(10).putShort(row.toShort).putShort(c.toShort)
      .putShort(xf.toShort).putInt(isst).array())
  def blank(row: Int, c: Int): Array[Byte] =
    rec(0x201, le(6).putShort(row.toShort).putShort(c.toShort).putShort(0).array())
  def boolerr(row: Int, c: Int, v: Boolean): Array[Byte] =
    rec(0x205, le(8).putShort(row.toShort).putShort(c.toShort).putShort(0)
      .put((if (v) 1 else 0).toByte).put(0.toByte).array())
  def mulrk(row: Int, colFirst: Int, ints: Int*): Array[Byte] = {
    val b = le(6 + ints.length * 6)
    b.putShort(row.toShort).putShort(colFirst.toShort)
    ints.foreach(v => b.putShort(0).putInt((v << 2) | 2))
    b.putShort((colFirst + ints.length - 1).toShort)
    rec(0xBD, b.array())
  }
  def mulblank(row: Int, colFirst: Int, n: Int): Array[Byte] = {
    val b = le(6 + n * 2)
    b.putShort(row.toShort).putShort(colFirst.toShort)
    (0 until n).foreach(_ => b.putShort(0))
    rec(0xBE, b.putShort((colFirst + n - 1).toShort).array())
  }
  /** XF (cell style) record: only ifmt, the number-format index, is set. */
  def xf(ifmt: Int): Array[Byte] =
    rec(0xE0, le(20).putShort(0).putShort(ifmt.toShort).array())
  /** FORMAT record: a custom number format code under index `ifmt`. */
  def format(ifmt: Int, code: String): Array[Byte] = {
    val chars = code.getBytes("ISO-8859-1")
    rec(0x41E, le(5 + chars.length).putShort(ifmt.toShort)
      .putShort(chars.length.toShort).put(0.toByte).put(chars).array())
  }
  def datemode(is1904: Boolean): Array[Byte] =
    rec(0x22, le(2).putShort((if (is1904) 1 else 0).toShort).array())
  /** SST with compressed strings; the strings from `continueAt` on
    * ride a CONTINUE record (a split on a string boundary, which
    * carries no extra compression-flag byte). */
  def sst(strings: Seq[String], continueAt: Int): Array[Byte] = {
    def pack(ss: Seq[String]): Array[Byte] = ss.flatMap { s =>
      val chars = s.getBytes("ISO-8859-1")
      le(3 + chars.length).putShort(chars.length.toShort).put(0.toByte).put(chars).array()
    }.toArray
    val (head, tail) = strings.splitAt(continueAt)
    rec(0xFC, le(8).putInt(strings.length).putInt(strings.length).array() ++ pack(head)) ++
      (if (tail.isEmpty) Array.emptyByteArray else rec(0x3C, pack(tail)))
  }
  def formulaNum(row: Int, c: Int, cached: Double, rgce: Array[Byte],
      rgcb: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val b = le(22 + rgce.length + rgcb.length)
    b.putShort(row.toShort).putShort(c.toShort).putShort(0)
    b.putDouble(cached).putShort(0).putInt(0)
    b.putShort(rgce.length.toShort).put(rgce).put(rgcb)
    rec(0x06, b.array())
  }
  /** FORMULA whose cached result is a string (num field = the
    * 0xFFFF-marked type-0 stub; the text follows in a STRING rec). */
  def formulaStr(row: Int, c: Int, cachedText: String, rgce: Array[Byte]): Array[Byte] = {
    val b = le(22 + rgce.length)
    b.putShort(row.toShort).putShort(c.toShort).putShort(0)
    b.put(Array[Byte](0, 0, 0, 0, 0, 0, -1, -1)) // type=0 (string), 0xFFFF marker
    b.putShort(0).putInt(0)
    b.putShort(rgce.length.toShort).put(rgce)
    val chars = cachedText.getBytes("ISO-8859-1")
    val s = le(3 + chars.length)
    s.putShort(chars.length.toShort).put(0.toByte).put(chars)
    rec(0x06, b.array()) ++ rec(0x207, s.array())
  }
  // rgce token builders (value-class where classed)
  def tRef(row: Int, c: Int, rel: Boolean = true): Array[Byte] = {
    val colField = c | (if (rel) 0xC000 else 0)
    le(5).put(0x44.toByte).putShort(row.toShort).putShort(colField.toShort).array()
  }
  def tArea(r1: Int, r2: Int, c1: Int, c2: Int): Array[Byte] = {
    val b = le(9).put(0x45.toByte)
    b.putShort(r1.toShort).putShort(r2.toShort)
    b.putShort((c1 | 0xC000).toShort).putShort((c2 | 0xC000).toShort).array()
  }
  def tInt(v: Int): Array[Byte] = le(3).put(0x1E.toByte).putShort(v.toShort).array()
  def tStr(s: String): Array[Byte] = {
    val chars = s.getBytes("ISO-8859-1")
    le(3 + chars.length).put(0x17.toByte).put(chars.length.toByte)
      .put(0.toByte).put(chars).array()
  }
  def tFuncVar(cargs: Int, id: Int): Array[Byte] =
    le(4).put(0x42.toByte).put(cargs.toByte).putShort(id.toShort).array()
  def tFunc(id: Int): Array[Byte] =
    le(3).put(0x41.toByte).putShort(id.toShort).array()
  val tAdd: Array[Byte] = Array(0x03)
  val tMul: Array[Byte] = Array(0x05)
  val tConcat: Array[Byte] = Array(0x08)
  val tParen: Array[Byte] = Array(0x15)

  /** One-sheet workbook around the given sheet cell records. */
  def workbook(cellRecs: Array[Byte]*): Array[Byte] = workbookWith(Nil, cellRecs)

  /** One-sheet workbook: `globalRecs` (SST, XF, FORMAT, ...) between
    * the globals' BOF and its BOUNDSHEET, then the sheet's cell records. */
  def workbookWith(globalRecs: Seq[Array[Byte]], cellRecs: Seq[Array[Byte]]): Array[Byte] =
    StdFixture.cfb(Seq("Workbook" -> workbookStream(globalRecs, cellRecs)))

  /** [[workbookWith]]'s BIFF8 Workbook stream, before the CFB wrap. */
  def workbookStream(globalRecs: Seq[Array[Byte]], cellRecs: Seq[Array[Byte]]): Array[Byte] = {
    val name = "S"
    val fixed = bof(0x05) ++ globalRecs.flatten
    // globals size: fixed + BOUNDSHEET(12 + |name|) + EOF(4)
    val globals = fixed ++ boundsheet(fixed.length + 12 + name.length + 4, name) ++ eof
    globals ++ bof(0x10) ++ cellRecs.flatten ++ eof
  }

  // ---- 3-D / defined-name globals (MS-XLS 2.4.150/2.4.265/2.4.271)
  def supbookSelf(ctab: Int): Array[Byte] =
    rec(0x1AE, le(4).putShort(ctab.toShort).putShort(0x0401.toShort).array())
  def externsheet(entries: (Int, Int, Int)*): Array[Byte] =
    externsheetSplit(Int.MaxValue, entries: _*)
  /** EXTERNSHEET whose rgXTI spills into a CONTINUE record after
    * `split` entries (the >1370-entry real-file shape, miniature). */
  def externsheetSplit(split: Int, entries: (Int, Int, Int)*): Array[Byte] = {
    def pack(es: Seq[(Int, Int, Int)]): Array[Byte] = {
      val b = le(es.length * 6)
      es.foreach { case (iSup, first, last) =>
        b.putShort(iSup.toShort).putShort(first.toShort).putShort(last.toShort)
      }
      b.array()
    }
    val (head, tail) = entries.splitAt(split)
    val first = rec(0x17,
      le(2).putShort(entries.length.toShort).array() ++ pack(head))
    if (tail.isEmpty) first else first ++ rec(0x3C, pack(tail))
  }
  def lbl(name: String, builtin: Boolean = false): Array[Byte] = {
    val chars = name.getBytes("ISO-8859-1")
    val b = le(15 + chars.length)
    b.putShort(if (builtin) 0x20.toShort else 0.toShort) // grbit
    b.put(0.toByte).put(chars.length.toByte) // chKey, cch
    b.putShort(0).putShort(0).putShort(0) // cce, reserved, itab
    b.putInt(0) // 4 menu/description/help/status lengths
    b.put(0.toByte).put(chars) // XLUnicodeStringNoCch, compressed
    rec(0x18, b.array())
  }
  def tRef3d(ixti: Int, row: Int, c: Int): Array[Byte] =
    le(7).put(0x5A.toByte).putShort(ixti.toShort)
      .putShort(row.toShort).putShort((c | 0xC000).toShort).array()
  def tArea3d(ixti: Int, r1: Int, r2: Int, c1: Int, c2: Int): Array[Byte] =
    le(11).put(0x5B.toByte).putShort(ixti.toShort)
      .putShort(r1.toShort).putShort(r2.toShort)
      .putShort((c1 | 0xC000).toShort).putShort((c2 | 0xC000).toShort).array()
  def tName(index1: Int): Array[Byte] =
    le(5).put(0x43.toByte).putShort(index1.toShort).putShort(0).array()
  def tExp(rw: Int, c: Int): Array[Byte] =
    le(5).put(0x01.toByte).putShort(rw.toShort).putShort(c.toShort).array()
  def tRefN(rowOff: Int, colOff: Int,
      rowRel: Boolean = true, colRel: Boolean = true): Array[Byte] = {
    val colField = (if (colRel) (colOff & 0xFF) | 0x4000 else colOff & 0x3FFF) |
      (if (rowRel) 0x8000 else 0)
    le(5).put(0x4C.toByte).putShort(rowOff.toShort).putShort(colField.toShort).array()
  }
  def tAreaN(r1: Int, r2: Int, c1: Int, c2: Int): Array[Byte] = {
    def cf(c: Int) = ((c & 0xFF) | 0xC000).toShort
    le(9).put(0x4D.toByte).putShort(r1.toShort).putShort(r2.toShort)
      .putShort(cf(c1)).putShort(cf(c2)).array()
  }
  def shrfmla(rwFirst: Int, rwLast: Int, colFirst: Int, colLast: Int,
      rgce: Array[Byte]): Array[Byte] = {
    val b = le(10 + rgce.length)
    b.putShort(rwFirst.toShort).putShort(rwLast.toShort)
    b.put(colFirst.toByte).put(colLast.toByte)
    b.put(0.toByte).put(2.toByte) // unused, cUse
    b.putShort(rgce.length.toShort).put(rgce)
    rec(0x4BC, b.array())
  }
  def arrayRec(rwFirst: Int, colFirst: Int,
      rgce: Array[Byte] = Array.emptyByteArray,
      rgcb: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val b = le(16 + rgce.length + rgcb.length)
    b.putShort(rwFirst.toShort).putShort(rwFirst.toShort)
    b.put(colFirst.toByte).put(colFirst.toByte)
    b.putShort(0).putInt(0) // flags, chn
    b.putShort(rgce.length.toShort).put(rgce).put(rgcb)
    rec(0x221, b.array())
  }
  /** tArray token (7 unused operand bytes; values ride rgcb). */
  val tArray: Array[Byte] = Array[Byte](0x40, 0, 0, 0, 0, 0, 0, 0)
  /** SerArray rgcb block: values row-major, each (type, payload). */
  def serArray(cols: Int, rows: Int, values: Seq[Any]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(cols - 1)
    buf.write((rows - 1) & 0xFF); buf.write(((rows - 1) >> 8) & 0xFF)
    values.foreach {
      case d: Double =>
        buf.write(0x01)
        buf.writeBytes(le(8).putDouble(d).array())
      case s: String =>
        buf.write(0x02)
        val chars = s.getBytes("ISO-8859-1")
        buf.write(chars.length & 0xFF); buf.write((chars.length >> 8) & 0xFF)
        buf.write(0) // compressed
        buf.writeBytes(chars)
      case v: Boolean =>
        buf.write(0x04)
        buf.write(if (v) 1 else 0)
        buf.writeBytes(new Array[Byte](7))
      case e: Int => // error code
        buf.write(0x10)
        buf.write(e)
        buf.writeBytes(new Array[Byte](7))
    }
    buf.toByteArray
  }

  /** Multi-sheet workbook with SUPBOOK/EXTERNSHEET/LBL globals:
    * cellRecs land on the FIRST sheet; the second ("My Sheet") holds
    * one number so 3-D refs have a real target. */
  def workbook3d(lbls: Seq[Array[Byte]], xti: Seq[(Int, Int, Int)],
      cellRecs: Array[Byte]*): Array[Byte] = {
    val names = Seq("S", "My Sheet")
    val fixed = bof(0x05) ++ supbookSelf(names.length) ++
      // the second XTI entry rides a CONTINUE record, so the e2e
      // arms also pin the EXTERNSHEET merge path
      externsheetSplit(1, xti: _*) ++ lbls.flatten
    val bsLen = names.map(n => 12 + n.length).sum
    val globalsLen = fixed.length + bsLen + 4
    val sheet1 = bof(0x10) ++ cellRecs.flatten ++ eof
    val globals = fixed ++
      boundsheet(globalsLen, names(0)) ++
      boundsheet(globalsLen + sheet1.length, names(1)) ++ eof
    val sheet2 = bof(0x10) ++ number(0, 0, 7) ++ eof
    StdFixture.cfb(Seq("Workbook" -> (globals ++ sheet1 ++ sheet2)))
  }
}
