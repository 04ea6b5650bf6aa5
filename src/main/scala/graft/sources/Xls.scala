package graft.sources

import graft.etl.Pipeline
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{Row, SparkSession}

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Pure-JDK legacy `.xls` (BIFF8) parsing (reference
  * `XlsSource.groovy:13-91` + `XlsProcessor.groovy:33-253`).
  *
  * The reference reads xls through POI's HSSF event model; POI is
  * absent here, but the format is two well-documented layers, both
  * parseable with nothing beyond `java.nio`:
  *
  *  1. a CFB compound file (MS-CFB): 512-byte header, FAT/DIFAT sector
  *     chains, a directory of streams, a mini-FAT for streams under
  *     4096 bytes — the `Workbook` stream holds the spreadsheet;
  *  2. the BIFF8 record stream (MS-XLS): `[id:u16][len:u16][payload]`
  *     records — workbook globals (SST shared strings with CONTINUE
  *     splits, XF/FORMAT for date detection, BOUNDSHEET sheet
  *     directory, DATEMODE) followed by one substream per sheet
  *     (LABELSST/NUMBER/RK/MULRK/FORMULA+STRING/BOOLERR/LABEL/BLANK
  *     cell records).
  *
  * Row semantics match `XlsProcessor`: rows before `startOnRow` are
  * skipped, the first surviving row is the header, every value arrives
  * as a formatted string (POI formatNumberDateCell semantics — General
  * numbers undecorated, date-styled cells rendered via `dateFormat`),
  * BLANK cells are null, formula cells contribute their cached value
  * (`outputFormulaValues=true`, the reference default). Encrypted
  * workbooks (FILEPASS) are unsupported, as in [[XlsxParser]].
  *
  * Out-of-range dates: a date-styled NUMBER/RK/FORMULA value whose
  * serial Excel cannot date (negative, not finite, or on or past
  * 10000-01-01) renders as its General number, POI's fallback for an
  * invalid Excel date ([[XlsxParser.dateText]]).
  *
  * Hostile bytes: a corrupt container or record stream rejects with an
  * `IllegalArgumentException` naming what is wrong, never an index,
  * arithmetic or date-time error. Each record handler checks that its
  * payload holds the fixed fields it reads, every string is bounded by
  * its record, and the SST cursor stops at its last CONTINUE block. A
  * record whose declared length runs past the Workbook stream (sized
  * by its directory entry, so the stream was cut) and a LABELSST cell
  * naming a shared string the SST does not hold both reject too.
  */
private[graft] object XlsParser {

  import java.nio.{ByteBuffer, ByteOrder}

  private def le(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  // ---------------------------------------------------------------- CFB

  private val EndOfChain = 0xFFFFFFFEL

  /** Extract a named stream ("Workbook"/"Book") from a CFB container. */
  private[sources] def cfbStream(bytes: Array[Byte], names: Seq[String]): Array[Byte] = {
    val buf = le(bytes)
    require(bytes.length >= 512 &&
      buf.getLong(0) == 0xE11AB1A1E011CFD0L, // D0CF11E0A1B11AE1 little-endian
      "not a CFB compound file (bad magic)")
    // distrust every header field before using it as shift/offset
    // arithmetic (hostile-bytes contract: a corrupt container must
    // reject with a typed error, never an index/negative-size throw)
    val sectorShift = buf.getShort(30).toInt
    val miniShift = buf.getShort(32).toInt
    require(sectorShift >= 7 && sectorShift <= 20 &&
      miniShift >= 2 && miniShift <= sectorShift,
      s"corrupt CFB header: sector shifts $sectorShift/$miniShift")
    val sectorSize = 1 << sectorShift
    val miniSectorSize = 1 << miniShift
    val firstDirSector = buf.getInt(48) & 0xFFFFFFFFL
    val miniCutoff = buf.getInt(56)
    val firstMiniFat = buf.getInt(60) & 0xFFFFFFFFL
    val firstDifat = buf.getInt(68) & 0xFFFFFFFFL
    val numDifat = buf.getInt(72)

    def sector(n: Long): Array[Byte] = {
      val off = (n + 1) * sectorSize
      if (off < 0 || off >= bytes.length)
        throw new IllegalArgumentException(
          s"truncated CFB container: sector $n beyond ${bytes.length} bytes")
      // a truncated final sector zero-pads (streams bound their own
      // lengths; FAT/directory reads of the pad read END_OF_CHAIN-free
      // zeros and terminate)
      val out = new Array[Byte](sectorSize)
      val n0 = math.min(sectorSize.toLong, bytes.length - off).toInt
      System.arraycopy(bytes, off.toInt, out, 0, n0)
      out
    }
    // FAT sector list: 109 header DIFAT entries + chained DIFAT sectors
    val fatSectors = {
      val ids = Vector.newBuilder[Long]
      (0 until 109).foreach { i =>
        val v = buf.getInt(76 + i * 4) & 0xFFFFFFFFL
        if (v < EndOfChain - 1) ids += v
      }
      var difat = firstDifat
      // a DIFAT chain holds at most one entry per sector of the file
      var guard = math.min(numDifat.toLong, bytes.length.toLong / sectorSize) + 1
      while (difat < EndOfChain - 1 && guard > 0) {
        val d = le(sector(difat))
        (0 until sectorSize / 4 - 1).foreach { i =>
          val v = d.getInt(i * 4) & 0xFFFFFFFFL
          if (v < EndOfChain - 1) ids += v
        }
        difat = d.getInt(sectorSize - 4) & 0xFFFFFFFFL
        guard -= 1
      }
      ids.result()
    }
    val fat: Array[Long] = fatSectors.flatMap { s =>
      val b = le(sector(s)); (0 until sectorSize / 4).map(i => b.getInt(i * 4) & 0xFFFFFFFFL)
    }.toArray

    def chain(start: Long): Vector[Long] = {
      val out = Vector.newBuilder[Long]
      var cur = start
      var guard = bytes.length / 64 + 16 // any valid chain is shorter
      while (cur < EndOfChain - 1 && guard > 0) {
        if (cur < 0 || cur >= fat.length)
          throw new IllegalArgumentException(
            s"corrupt CFB FAT: chain sector $cur outside the ${fat.length}-entry FAT")
        out += cur; cur = fat(cur.toInt); guard -= 1
      }
      out.result()
    }
    def readChain(start: Long, size: Long): Array[Byte] = {
      val data = chain(start).toArray.flatMap(sector)
      java.util.Arrays.copyOfRange(data, 0, math.min(size, data.length.toLong).toInt)
    }

    // directory entries (128 bytes each) across the directory chain
    val dir = chain(firstDirSector).toArray.flatMap(sector)
    case class Entry(name: String, objType: Int, start: Long, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val e = le(java.util.Arrays.copyOfRange(dir, i * 128, i * 128 + 128))
      val nameLen = e.getShort(64) & 0xFFFF
      val name = // spec caps names at 64 bytes; a bigger value is corruption
        if (nameLen < 2 || nameLen > 64) ""
        else new String(dir, i * 128, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
      Entry(name, dir(i * 128 + 66) & 0xFF, e.getInt(116) & 0xFFFFFFFFL, e.getLong(120))
    }
    val root = entries.find(_.objType == 5).getOrElse(
      throw new IllegalArgumentException("CFB container has no root entry"))
    val target = entries.find(e => e.objType == 2 && names.contains(e.name)).getOrElse(
      throw new IllegalArgumentException(
        s"no ${names.mkString("/")} stream (streams: ${entries.filter(_.objType == 2).map(_.name).mkString(", ")})"))

    if (target.size >= miniCutoff) readChain(target.start, target.size)
    else {
      // mini stream: 64-byte sectors inside the root entry's stream
      val miniStream = readChain(root.start, root.size)
      val miniFat: Array[Long] = chain(firstMiniFat).toArray.flatMap { s =>
        val b = le(sector(s)); (0 until sectorSize / 4).map(i => b.getInt(i * 4) & 0xFFFFFFFFL)
      }
      val out = Vector.newBuilder[Byte]
      var cur = target.start
      var guard = miniStream.length / miniSectorSize + 16
      while (cur < EndOfChain - 1 && guard > 0) {
        if (cur < 0 || cur >= miniFat.length)
          throw new IllegalArgumentException(
            s"corrupt CFB mini-FAT: chain sector $cur outside ${miniFat.length} entries")
        val off = cur.toInt.toLong * miniSectorSize
        if (off >= miniStream.length)
          throw new IllegalArgumentException(
            s"corrupt CFB mini-stream: sector $cur beyond ${miniStream.length} bytes")
        out ++= java.util.Arrays.copyOfRange(
          miniStream, off.toInt, math.min(off.toInt + miniSectorSize, miniStream.length))
        cur = miniFat(cur.toInt); guard -= 1
      }
      val data = out.result().toArray
      java.util.Arrays.copyOfRange(data, 0, math.min(target.size, data.length.toLong).toInt)
    }
  }

  // --------------------------------------------------------------- BIFF8

  private final case class Rec(id: Int, data: Array[Byte], offset: Int)

  private def records(stream: Array[Byte]): Vector[Rec] = {
    val out = Vector.newBuilder[Rec]
    var pos = 0
    while (pos + 4 <= stream.length) {
      val id = (stream(pos) & 0xFF) | ((stream(pos + 1) & 0xFF) << 8)
      val len = (stream(pos + 2) & 0xFF) | ((stream(pos + 3) & 0xFF) << 8)
      // the stream is sized by its directory entry, so a record that
      // runs past it was cut short, not padded
      if (pos + 4 + len > stream.length)
        throw new IllegalArgumentException(
          f"truncated xls record 0x$id%04X at stream offset $pos: declares $len " +
            s"payload bytes, the Workbook stream holds ${stream.length - pos - 4}")
      out += Rec(id, java.util.Arrays.copyOfRange(stream, pos + 4, pos + 4 + len), pos)
      pos += 4 + len
    }
    out.result()
  }

  /** Cursor over SST payload + its CONTINUE payloads. Character data
    * re-reads the compression flag at each block boundary (MS-XLS
    * 2.5.293); fixed-width header/skip fields may also span blocks.
    * Reading past the last block rejects the workbook as truncated. */
  private final class SstCursor(blocks: Vector[Array[Byte]]) {
    private var block = 0
    private var off = 0
    private def ensure(): Unit = {
      while (block < blocks.length && off >= blocks(block).length) { block += 1; off = 0 }
      if (block >= blocks.length)
        throw new IllegalArgumentException(
          "corrupt SST: shared strings run past the last CONTINUE record")
    }
    def u8(): Int = { ensure(); val v = blocks(block)(off) & 0xFF; off += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        ensure()
        val take = math.min(left, (blocks(block).length - off).toLong).toInt
        off += take; left -= take
      }
    }
    /** Read `cch` characters honoring mid-string continuation: each
      * block boundary hit while characters remain re-reads a fresh
      * compression flag byte. */
    def chars(cch: Int, firstHigh: Boolean): String = {
      val sb = new StringBuilder(cch)
      var remaining = cch
      var high = firstHigh
      while (remaining > 0) {
        ensure()
        // any block boundary hit while characters remain means the
        // string continued into a CONTINUE record, which re-emits a
        // fresh compression flag before the remaining characters
        if (off == 0 && block > 0) high = (u8() & 1) == 1
        val avail = blocks(block).length - off
        val width = if (high) 2 else 1
        val take = math.min(remaining, avail / width)
        if (take == 0) { block += 1; off = 0 }
        else {
          val b = blocks(block)
          (0 until take).foreach { i =>
            val c =
              if (high) ((b(off + i * 2) & 0xFF) | ((b(off + i * 2 + 1) & 0xFF) << 8)).toChar
              else (b(off + i) & 0xFF).toChar
            sb.append(c)
          }
          off += take * width
          remaining -= take
        }
      }
      sb.toString
    }
  }

  private def parseSst(recs: Vector[Rec], at: Int): Vector[String] = {
    val blocks = Vector.newBuilder[Array[Byte]]
    blocks += recs(at).data
    var i = at + 1
    while (i < recs.length && recs(i).id == 0x3C) { blocks += recs(i).data; i += 1 }
    val cur = new SstCursor(blocks.result())
    cur.skip(4) // cstTotal
    val unique = cur.u32().toInt
    val out = Vector.newBuilder[String]
    (0 until unique).foreach { _ =>
      val cch = cur.u16()
      val grbit = cur.u8()
      val cRun = if ((grbit & 8) != 0) cur.u16() else 0
      val cbExt = if ((grbit & 4) != 0) cur.u32() else 0L
      out += cur.chars(cch, (grbit & 1) == 1)
      cur.skip(4L * cRun + cbExt)
    }
    out.result()
  }

  /** RK-number decoding (MS-XLS 2.5.276). */
  private def rkValue(rk: Long): Double = {
    val div100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    val v =
      if (isInt) (rk.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if (div100) v / 100 else v
  }

  /** XLUnicodeString at a byte offset (16-bit length) of a `what`
    * record; a string that runs past the record rejects by name. */
  private def unicodeString(d: Array[Byte], at: Int, what: String): String = {
    require(at + 3 <= d.length, s"corrupt $what record: string header past its end")
    val cch = (d(at) & 0xFF) | ((d(at + 1) & 0xFF) << 8)
    val grbit = d(at + 2) & 0xFF
    var p = at + 3
    if ((grbit & 8) != 0) p += 2 // cRun
    if ((grbit & 4) != 0) p += 4 // cbExtRst
    stringAt(d, p, cch, (grbit & 1) == 1, what)
  }

  /** `cch` compressed (1-byte) or UTF-16LE characters at `p`. */
  private def stringAt(d: Array[Byte], p: Int, cch: Int, high: Boolean, what: String): String = {
    val width = if (high) 2 else 1
    require(p + cch * width <= d.length,
      s"corrupt $what record: $cch characters run past its ${d.length} bytes")
    if (high) new String(d, p, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
    else new String(d, p, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** A record's payload, checked to hold the `min` bytes of fixed
    * fields its handler reads (MS-XLS 2.4): a shorter record is
    * corruption and rejects by name instead of indexing past its end. */
  private def fields(r: Rec, min: Int, what: String): ByteBuffer = {
    if (r.data.length < min)
      throw new IllegalArgumentException(
        s"corrupt $what record at stream offset ${r.offset}: " +
          s"${r.data.length} payload bytes, its fields need $min")
    le(r.data)
  }

  // ---------------------------------------------------------- top level

  /** Parse an xls workbook to the chosen sheet's headers + rows.
    * `outputFormulaValues = false` emits each formula cell's FORMULA
    * TEXT decompiled from its stored token stream
    * ([[XlsFormula.decompile]]) instead of the cached result — the
    * reference's `XlsSource.outputFormulaValues(false)` mode
    * (`XlsProcessor.groovy:165-166`, HSSFFormulaParser.toFormulaString). */
  def parse(bytes: Array[Byte], sheetName: String, dateFormat: String,
      startOnRow: Int = 0, outputFormulaValues: Boolean = true): XlsxParser.Sheet = {
    val stream = cfbStream(bytes, Seq("Workbook", "Book"))
    val recs = records(stream)
    val fmt = DateTimeFormatter.ofPattern(dateFormat)

    // ---- globals: SST, XF->ifmt, custom FORMATs, sheets, date mode
    var sst = Vector.empty[String]
    val xfFmt = Vector.newBuilder[Int]
    val customDateFmt = scala.collection.mutable.Set.empty[Int]
    val sheets = Vector.newBuilder[(String, Int)] // (name, stream offset)
    // formula-text context: SUPBOOK/EXTERNSHEET give 3-D refs their
    // sheet spans, LBL gives tName its texts (all workbook globals)
    val xtis = Vector.newBuilder[(Int, Int, Int)]
    val supbooks = Vector.newBuilder[Boolean]
    val lblNames = Vector.newBuilder[String]
    var date1904 = false
    recs.zipWithIndex.takeWhile { case (r, i) => i == 0 || r.id != 0x0809 ||
      // stop at the first sheet BOF (records before it are the globals)
      (fields(r, 4, "BOF").getShort(2) & 0xFFFF) == 0x05
    }.foreach { case (r, i) =>
      r.id match {
        case 0xFC => sst = parseSst(recs, i)
        case 0xE0 => xfFmt += fields(r, 4, "XF").getShort(2) & 0xFFFF
        case 0x41E =>
          val ifmt = fields(r, 2, "FORMAT").getShort(0) & 0xFFFF
          if (XlsxParser.isDateFormatCode(unicodeString(r.data, 2, "FORMAT")))
            customDateFmt += ifmt
        case 0x85 =>
          val pos = fields(r, 8, "BOUNDSHEET").getInt(0)
          val name = stringAt(r.data, 8, r.data(6) & 0xFF, (r.data(7) & 1) == 1, "BOUNDSHEET")
          sheets += name -> pos
        case 0x22 => date1904 = (fields(r, 2, "DATEMODE").get(0) & 0xFF) == 1
        case 0x1AE => // SUPBOOK: 4-byte 0x0401 marker = this workbook
          supbooks += (r.data.length == 4 &&
            ((r.data(2) & 0xFF) | ((r.data(3) & 0xFF) << 8)) == 0x0401)
        case 0x17 => // EXTERNSHEET: cXTI × (iSupBook, itabFirst, itabLast).
          // rgXTI may spill into CONTINUE records (it splits on XTI
          // boundaries) — merge them; a still-short array fails LOUDLY
          // instead of silently dropping entries (every later ixti
          // would resolve wrong or not at all)
          val merged = r.data ++
            recs.drop(i + 1).takeWhile(_.id == 0x3C).flatMap(_.data)
          require(merged.length >= 2, "corrupt EXTERNSHEET record: no XTI count")
          val b = le(merged)
          val n = b.getShort(0) & 0xFFFF
          if (merged.length < 2 + n * 6)
            throw new IllegalArgumentException(
              s"corrupt EXTERNSHEET: $n XTI entries declared, only " +
                s"${(merged.length - 2) / 6} present (incl. CONTINUE)")
          (0 until n).foreach { k =>
            xtis += ((b.getShort(2 + k * 6) & 0xFFFF,
              b.getShort(4 + k * 6).toInt, b.getShort(6 + k * 6).toInt))
          }
        case 0x18 => // LBL (defined name); builtins render by spec name
          val grbit = fields(r, 15, "LBL").getShort(0) & 0xFFFF
          val raw = stringAt(r.data, 15, r.data(3) & 0xFF, (r.data(14) & 1) == 1, "LBL")
          lblNames += (if ((grbit & 0x20) != 0)
            XlsFormula.builtinNames.getOrElse(
              raw.headOption.map(_.toInt).getOrElse(-1),
              s"_Builtin${raw.headOption.map(_.toInt).getOrElse(-1)}")
          else raw)
        case 0x2F => throw new IllegalArgumentException(
          "encrypted xls workbooks are unsupported (FILEPASS)")
        case _ => ()
      }
    }
    val xf = xfFmt.result()
    def isDateXf(ixfe: Int): Boolean = xf.lift(ixfe).exists(ifmt =>
      XlsxParser.BuiltinDateFormats(ifmt) || customDateFmt(ifmt))
    val epoch = if (date1904) LocalDate.of(1904, 1, 1) else LocalDate.of(1899, 12, 30)

    def formatNum(v: Double, ixfe: Int): String =
      (if (isDateXf(ixfe)) XlsxParser.dateText(v, epoch, fmt) else None).getOrElse(
        XlsxParser.formatGeneral(
          if (v == Math.rint(v) && Math.abs(v) < 1e15) v.toLong.toString else v.toString))

    val allSheets = sheets.result()
    if (allSheets.isEmpty) throw new IllegalArgumentException("workbook has no sheets")
    val fctx = XlsFormula.Ctx(allSheets.map(_._1),
      xtis.result(), supbooks.result(), lblNames.result())
    val chosen = Option(sheetName) match {
      case Some(n) => allSheets.find(_._1 == n).getOrElse(
        throw new IllegalArgumentException(
          s"sheet '$n' not found (has: ${allSheets.map(_._1).mkString(", ")})"))
      case None => allSheets.head
    }

    // ---- the chosen sheet's substream: sparse (row, col) -> value
    val sheetRecs = recs.dropWhile(_.offset < chosen._2)
    val cells = scala.collection.mutable.SortedMap.empty[Int, scala.collection.mutable.Map[Int, String]]
    def put(row: Int, col: Int, v: String): Unit =
      cells.getOrElseUpdate(row, scala.collection.mutable.Map.empty)(col) = v
    var pendingFormula: Option[(Int, Int)] = None // formula awaiting its STRING
    // formula-text mode: decompilation DEFERS to the end of the walk —
    // a tExp stub points at a SHRFMLA template that is recorded AFTER
    // the shared range's master FORMULA record
    val textFormulas = Vector.newBuilder[(Int, Int, Array[Byte], Array[Byte])]
    val sharedRgce =
      scala.collection.mutable.Map.empty[(Int, Int), (Array[Byte], Array[Byte])]
    val arrayRgce =
      scala.collection.mutable.Map.empty[(Int, Int), (Array[Byte], Array[Byte])]
    var depth = 0
    val it = sheetRecs.iterator
    var done = false
    while (it.hasNext && !done) {
      val r = it.next()
      r.id match {
        case 0x0809 => depth += 1 // BOF (the sheet's own, or nested charts)
        case 0x0A => depth -= 1; if (depth <= 0) done = true // EOF
        case 0xFD => // LABELSST
          val b = fields(r, 10, "LABELSST")
          val (row, col, isst) = (b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF, b.getInt(6))
          if (isst < 0 || isst >= sst.length)
            throw new IllegalArgumentException(
              s"corrupt LABELSST record at stream offset ${r.offset}: cell " +
                s"${XlsFormula.colLetters(col)}${row + 1} names shared string " +
                s"${isst & 0xFFFFFFFFL}, the SST holds ${sst.length}")
          put(row, col, sst(isst))
        case 0x203 => // NUMBER
          val b = fields(r, 14, "NUMBER")
          put(b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF,
            formatNum(b.getDouble(6), b.getShort(4) & 0xFFFF))
        case 0x27E => // RK
          val b = fields(r, 10, "RK")
          put(b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF,
            formatNum(rkValue(b.getInt(6) & 0xFFFFFFFFL), b.getShort(4) & 0xFFFF))
        case 0xBD => // MULRK
          val b = fields(r, 6, "MULRK")
          val row = b.getShort(0) & 0xFFFF
          val colFirst = b.getShort(2) & 0xFFFF
          val n = (r.data.length - 6) / 6
          (0 until n).foreach { k =>
            val ixfe = b.getShort(4 + k * 6) & 0xFFFF
            val rk = b.getInt(6 + k * 6) & 0xFFFFFFFFL
            put(row, colFirst + k, formatNum(rkValue(rk), ixfe))
          }
        case 0x06 => // FORMULA (cached result, or the formula text itself)
          val b = fields(r, 22, "FORMULA")
          val row = b.getShort(0) & 0xFFFF
          val col = b.getShort(2) & 0xFFFF
          val ixfe = b.getShort(4) & 0xFFFF
          if (!outputFormulaValues) {
            // formula-text mode: buffer the rgce for end-of-walk
            // decompilation (tExp stubs need the SHRFMLA table); the
            // cached value (and any trailing STRING record — no
            // pendingFormula is armed) is ignored
            val cce = b.getShort(20) & 0xFFFF
            require(22 + cce <= r.data.length,
              s"corrupt FORMULA record: $cce formula bytes past its end")
            textFormulas += ((row, col,
              java.util.Arrays.copyOfRange(r.data, 22, 22 + cce),
              java.util.Arrays.copyOfRange(r.data, 22 + cce, r.data.length)))
          } else if ((b.getShort(12) & 0xFFFF) == 0xFFFF) {
            (r.data(6) & 0xFF) match {
              case 0 => pendingFormula = Some((row, col)) // string follows
              case 1 => put(row, col, if ((r.data(8) & 0xFF) == 1) "TRUE" else "FALSE")
              case 3 => put(row, col, "")
              case _ => put(row, col, null) // error
            }
          } else put(row, col, formatNum(b.getDouble(6), ixfe))
        case 0x4BC if !outputFormulaValues =>
          // SHRFMLA: template rgce(+rgcb) keyed by range top-left
          // (cached-value mode never reads it — skip the copies)
          val b = fields(r, 10, "SHRFMLA")
          val rwFirst = b.getShort(0) & 0xFFFF
          val colFirst = r.data(4) & 0xFF
          val cce = b.getShort(8) & 0xFFFF
          require(10 + cce <= r.data.length,
            s"corrupt SHRFMLA record: $cce formula bytes past its end")
          sharedRgce((rwFirst, colFirst)) =
            (java.util.Arrays.copyOfRange(r.data, 10, 10 + cce),
              java.util.Arrays.copyOfRange(r.data, 10 + cce, r.data.length))
        case 0x221 if !outputFormulaValues =>
          // ARRAY: the array formula's own rgce(+rgcb), keyed by
          // range top-left (6-byte ref + 2 flags + 4 chn)
          val b = fields(r, 14, "ARRAY")
          val rwFirst = b.getShort(0) & 0xFFFF
          val colFirst = r.data(4) & 0xFF
          val cce = b.getShort(12) & 0xFFFF
          require(14 + cce <= r.data.length,
            s"corrupt ARRAY record: $cce formula bytes past its end")
          arrayRgce((rwFirst, colFirst)) =
            (java.util.Arrays.copyOfRange(r.data, 14, 14 + cce),
              java.util.Arrays.copyOfRange(r.data, 14 + cce, r.data.length))
        case 0x207 => // STRING (pending formula's cached text)
          pendingFormula.foreach { case (row, col) =>
            put(row, col, unicodeString(r.data, 0, "STRING"))
          }
          pendingFormula = None
        case 0x205 => // BOOLERR
          val b = fields(r, 8, "BOOLERR")
          val row = b.getShort(0) & 0xFFFF
          val col = b.getShort(2) & 0xFFFF
          if ((r.data(7) & 0xFF) == 0) put(row, col, if ((r.data(6) & 0xFF) == 1) "TRUE" else "FALSE")
          else put(row, col, null)
        case 0x204 => // LABEL (inline string cell)
          val b = fields(r, 6, "LABEL")
          put(b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF, unicodeString(r.data, 6, "LABEL"))
        case 0x201 => // BLANK
          val b = fields(r, 6, "BLANK")
          put(b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF, null)
        case 0xBE => // MULBLANK
          val b = fields(r, 6, "MULBLANK")
          val row = b.getShort(0) & 0xFFFF
          val colFirst = b.getShort(2) & 0xFFFF
          val n = (r.data.length - 6) / 2
          (0 until n).foreach(k => put(row, colFirst + k, null))
        case _ => ()
      }
    }

    // formula-text mode: resolve the buffered rgce streams — tExp
    // stubs dereference the SHRFMLA table and rebase its relative
    // tokens against the MEMBER cell (the drag-fill semantics; the
    // reference gets the same string from POI's shared-formula
    // resolution); everything else decompiles directly
    textFormulas.result().foreach { case (row, col, rgce, rgcb) =>
      val text =
        if (rgce.length >= 5 && rgce(0) == 0x01) {
          val rw = (rgce(1) & 0xFF) | ((rgce(2) & 0xFF) << 8)
          val c = (rgce(3) & 0xFF) | ((rgce(4) & 0xFF) << 8)
          sharedRgce.get((rw, c)) match {
            case Some((template, templateRgcb)) =>
              XlsFormula.decompile(template, fctx, Some((row, col)), templateRgcb)
            case None => arrayRgce.get((rw, c)) match {
              // array formula: ONE rgce for the whole range; relative
              // tokens anchor on the range top-left, so every member
              // renders the same text (Excel shows the same {=...}
              // formula in each member cell)
              case Some((template, templateRgcb)) =>
                XlsFormula.decompile(template, fctx, Some((rw, c)), templateRgcb)
              case None => throw new IllegalArgumentException(
                s"xls formula: tExp stub points at ($rw, $c) but no " +
                  "SHRFMLA/ARRAY template was recorded there")
            }
          }
        } else XlsFormula.decompile(rgce, fctx, None, rgcb)
      put(row, col, text)
    }

    // ---- assemble: first surviving row = header (XlsProcessor:245-250)
    val surviving = cells.iterator.filter(_._1 >= startOnRow).toVector
    if (surviving.isEmpty) return XlsxParser.Sheet(Vector.empty, Vector.empty)
    val headerCells = surviving.head._2
    val width = headerCells.keys.max + 1
    val headers = (0 until width).map { i =>
      headerCells.get(i).flatMap(Option(_)).filter(_.nonEmpty).getOrElse(s"col$i")
    }.toVector
    val rows = surviving.tail.map { case (_, m) =>
      (0 until width).map(i => m.get(i).orNull).toVector
    }
    XlsxParser.Sheet(headers, rows)
  }
}

/** BIFF8 formula-token (rgce / Ptg) decompiler — the engine behind
  * `outputFormulaValues = false` (reference `XlsProcessor.groovy:165-166`,
  * which asks POI's HSSFFormulaParser for the same string). The token
  * stream is the RPN the MS-XLS spec documents (2.5.198.*): operands
  * push, operators pop-combine — one forward walk rebuilds the text.
  * Parenthesization is FAITHFUL, not inferred: Excel stores an
  * explicit tParen token wherever the author wrote parens, so the
  * rebuild needs no precedence analysis.
  *
  * Supported: all binary/unary operators, explicit parens, literals
  * (int/num/str/bool/err/missing-arg), same-sheet cell and area
  * references with absolute/relative anchors, deleted-ref errors,
  * fixed- and variable-arity builtin calls (the common Ftab subset),
  * the tAttr family (SUM shorthand rendered as SUM(..), jump/
  * space attrs skipped), and — round 20, via the workbook [[Ctx]]
  * (BOUNDSHEET + SUPBOOK + EXTERNSHEET + LBL plumbing) — 3-D cell/
  * area references (`Sheet2!A1`, `'My Sheet'!A1:B3`,
  * `Sheet1:Sheet3!A1`, deleted-sheet `#REF!`) and defined names
  * (tName/tNameX against the workbook's LBL table, builtin LBL ids
  * rendered by their published names), shared formulas (the sheet
  * parser dereferences tExp stubs against the SHRFMLA table and this
  * decompiler rebases the template's tRefN/tAreaN relative tokens
  * against each member cell — Excel's drag-fill storage), array
  * FORMULAS (tExp stubs against the ARRAY record's rgce, anchored on
  * the range top-left so every member renders Excel's same text),
  * and array constants (tArray values read from the record's rgcb
  * tail, rendered `{1,"a";TRUE,#N/A}`). Unsupported tokens —
  * EXTERNAL-workbook 3-D refs, exotic Ftab ids — FAIL LOUDLY with a
  * named error: a token's operand width cannot be guessed, and a
  * wrong guess would silently corrupt every later cell in the
  * stream. */
private[sources] object XlsFormula {

  /** Workbook-global context a formula token stream resolves against:
    * `sheets` in BOUNDSHEET order, `xti` = EXTERNSHEET entries
    * (iSupBook, itabFirst, itabLast — itab < 0 means deleted/global),
    * `supbookInternal(i)` = whether SUPBOOK i is the workbook's
    * self-reference (the 0x0401 marker), `names` = LBL texts in
    * record order (tName indices are 1-based into it). */
  final case class Ctx(
      sheets: Vector[String], xti: Vector[(Int, Int, Int)],
      supbookInternal: Vector[Boolean], names: Vector[String])
  val emptyCtx: Ctx = Ctx(Vector.empty, Vector.empty, Vector.empty, Vector.empty)

  /** The published builtin LBL ids (MS-XLS 2.4.150 fBuiltin). */
  private[sources] val builtinNames = Map(
    0 -> "Consolidate_Area", 1 -> "Auto_Open", 2 -> "Auto_Close",
    3 -> "Extract", 4 -> "Database", 5 -> "Criteria", 6 -> "Print_Area",
    7 -> "Print_Titles", 8 -> "Recorder", 9 -> "Data_Form",
    10 -> "Auto_Activate", 11 -> "Auto_Deactivate", 12 -> "Sheet_Title",
    13 -> "_FilterDatabase")

  private val errText = Map(
    0x00 -> "#NULL!", 0x07 -> "#DIV/0!", 0x0F -> "#VALUE!",
    0x17 -> "#REF!", 0x1D -> "#NAME?", 0x24 -> "#NUM!", 0x2A -> "#N/A")

  private val binOp = Map(
    0x03 -> "+", 0x04 -> "-", 0x05 -> "*", 0x06 -> "/", 0x07 -> "^",
    0x08 -> "&", 0x09 -> "<", 0x0A -> "<=", 0x0B -> "=", 0x0C -> ">=",
    0x0D -> ">", 0x0E -> "<>", 0x0F -> " ", 0x10 -> ",", 0x11 -> ":")

  /** (name, fixed arity) for tFunc; tFuncVar uses only the name. The
    * ids are the public MS-XLS Ftab (2.5.198.17). */
  private val ftab: Map[Int, (String, Int)] = Map(
    0 -> ("COUNT", 1), 1 -> ("IF", 2), 2 -> ("ISNA", 1), 3 -> ("ISERROR", 1),
    4 -> ("SUM", 1), 5 -> ("AVERAGE", 1), 6 -> ("MIN", 1), 7 -> ("MAX", 1),
    8 -> ("ROW", 1), 9 -> ("COLUMN", 1), 10 -> ("NA", 0), 15 -> ("SIN", 1),
    16 -> ("COS", 1), 17 -> ("TAN", 1), 18 -> ("ATAN", 1), 19 -> ("PI", 0),
    20 -> ("SQRT", 1), 21 -> ("EXP", 1), 22 -> ("LN", 1), 23 -> ("LOG10", 1),
    24 -> ("ABS", 1), 25 -> ("INT", 1), 26 -> ("SIGN", 1), 27 -> ("ROUND", 2),
    28 -> ("LOOKUP", 2), 29 -> ("INDEX", 2), 30 -> ("REPT", 2), 31 -> ("MID", 3),
    32 -> ("LEN", 1), 33 -> ("VALUE", 1), 34 -> ("TRUE", 0), 35 -> ("FALSE", 0),
    36 -> ("AND", 1), 37 -> ("OR", 1), 38 -> ("NOT", 1), 39 -> ("MOD", 2),
    48 -> ("TEXT", 2), 63 -> ("RAND", 0), 65 -> ("DATE", 3), 66 -> ("TIME", 3),
    67 -> ("DAY", 1), 68 -> ("MONTH", 1), 69 -> ("YEAR", 1), 71 -> ("HOUR", 1),
    72 -> ("MINUTE", 1), 73 -> ("SECOND", 1), 74 -> ("NOW", 0),
    75 -> ("AREAS", 1), 76 -> ("ROWS", 1), 77 -> ("COLUMNS", 1),
    82 -> ("SEARCH", 2), 86 -> ("TYPE", 1), 97 -> ("ATAN2", 2),
    98 -> ("ASIN", 1), 99 -> ("ACOS", 1), 100 -> ("CHOOSE", 2),
    101 -> ("HLOOKUP", 3), 102 -> ("VLOOKUP", 3), 105 -> ("ISREF", 1),
    109 -> ("LOG", 1), 111 -> ("CHAR", 1), 112 -> ("LOWER", 1),
    113 -> ("UPPER", 1), 114 -> ("PROPER", 1), 115 -> ("LEFT", 1),
    116 -> ("RIGHT", 1), 117 -> ("EXACT", 2), 118 -> ("TRIM", 1),
    119 -> ("REPLACE", 4), 120 -> ("SUBSTITUTE", 3), 121 -> ("CODE", 1),
    124 -> ("FIND", 2), 126 -> ("ISERR", 1), 127 -> ("ISTEXT", 1),
    128 -> ("ISNUMBER", 1), 129 -> ("ISBLANK", 1), 130 -> ("T", 1),
    131 -> ("N", 1), 140 -> ("DATEVALUE", 1), 141 -> ("TIMEVALUE", 1),
    148 -> ("INDIRECT", 1), 162 -> ("CLEAN", 1), 169 -> ("COUNTA", 1),
    183 -> ("PRODUCT", 1), 184 -> ("FACT", 1), 190 -> ("ISNONTEXT", 1),
    197 -> ("TRUNC", 1), 198 -> ("ISLOGICAL", 1), 212 -> ("ROUNDUP", 2),
    213 -> ("ROUNDDOWN", 2), 220 -> ("DAYS360", 2), 221 -> ("TODAY", 0),
    227 -> ("MEDIAN", 1), 228 -> ("SUMPRODUCT", 1), 269 -> ("AVEDEV", 1),
    336 -> ("CONCATENATE", 1), 342 -> ("RADIANS", 1), 343 -> ("DEGREES", 1),
    344 -> ("SUMIF", 2), 345 -> ("COUNTIF", 2), 346 -> ("COUNTBLANK", 1),
    354 -> ("ROMAN", 2), 359 -> ("HYPERLINK", 1), 361 -> ("AVERAGEA", 1),
    362 -> ("MAXA", 1), 363 -> ("MINA", 1))

  def colLetters(c: Int): String = {
    var n = c
    var s = ""
    while (n >= 0) { s = ('A' + n % 26).toChar.toString + s; n = n / 26 - 1 }
    s
  }

  /** `RgceLoc`: 2-byte row, 2-byte column whose bits 14/15 carry the
    * col/row RELATIVE flags (absolute anchors render as `$`). */
  private def cellRef(rw: Int, colField: Int): String = {
    val col = colField & 0x3FFF
    val colRel = (colField & 0x4000) != 0
    val rowRel = (colField & 0x8000) != 0
    (if (colRel) "" else "$") + colLetters(col) +
      (if (rowRel) "" else "$") + (rw + 1)
  }

  def decompile(rgce: Array[Byte]): String = decompile(rgce, emptyCtx)

  def decompile(rgce: Array[Byte], ctx: Ctx): String = decompile(rgce, ctx, None)

  /** `base` = the formula cell's own (row, col) — set when decompiling
    * a SHRFMLA template, whose tRefN/tAreaN tokens carry offsets
    * RELATIVE to each member cell (the drag-fill rebase). `rgcb` =
    * the extra-data block that FOLLOWS the rgce in the record
    * (CellParsedFormula.rgcb) — array constants (tArray) read their
    * values from it, in token order. */
  def decompile(rgce: Array[Byte], ctx: Ctx, base: Option[(Int, Int)],
      rgcb: Array[Byte] = Array.emptyByteArray): String =
    try decompile0(rgce, ctx, base, rgcb)
    catch {
      case _: java.nio.BufferUnderflowException =>
        throw new IllegalArgumentException(
          "xls formula: truncated token stream (operand runs past cce/rgcb)")
    }

  /** Excel quotes a sheet name in references unless it is a plain
    * identifier (letters/digits/underscore, not digit-led) that could
    * not be misread as a CELL reference — a sheet literally named
    * "A1" or "XFD2" must render as 'A1'!B2 or the text re-parses as a
    * cell (POI's CellReference ambiguity rule), and TRUE/FALSE would
    * re-parse as boolean literals. */
  private val cellLike = "(?i)[A-Z]{1,3}[0-9]{1,7}|R[0-9]*C[0-9]*|TRUE|FALSE".r

  private def quoteSheets(first: String, last: Option[String]): String = {
    val body = last.filter(_ != first).map(l => s"$first:$l").getOrElse(first)
    val plain = (s: String) =>
      s.nonEmpty && !s.head.isDigit &&
        s.forall(c => c.isLetterOrDigit || c == '_') &&
        !cellLike.matches(s)
    if (plain(first) && last.forall(plain)) body
    else "'" + body.replace("'", "''") + "'"
  }

  private def decompile0(rgce: Array[Byte], ctx: Ctx, base: Option[(Int, Int)],
      rgcb: Array[Byte]): String = {
    val b = java.nio.ByteBuffer.wrap(rgce).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val extra = java.nio.ByteBuffer.wrap(rgcb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val stack = scala.collection.mutable.Stack.empty[String]
    def pop(): String = {
      require(stack.nonEmpty, "xls formula: malformed token stream (operand underflow)")
      stack.pop()
    }
    def call(name: String, n: Int): Unit = {
      val args = List.fill(n)(pop()).reverse
      stack.push(args.mkString(s"$name(", ",", ")"))
    }
    // XTI index → "Sheet2!" / "'My Sheet:Other'!" / "#REF!" prefix;
    // EXTERNAL-workbook supbooks fail loudly (rendering them needs the
    // other workbook's path — outside this decompiler's contract)
    def sheetPrefix(ixti: Int): String = {
      val (iSup, first, last) = ctx.xti.lift(ixti).getOrElse(
        throw new IllegalArgumentException(
          s"xls formula: 3-D reference to undefined EXTERNSHEET entry $ixti"))
      if (!ctx.supbookInternal.lift(iSup).getOrElse(false))
        throw new IllegalArgumentException(
          "xls formula: external-workbook 3-D reference is not " +
            "decompiled (SUPBOOK is another workbook); read this " +
            "workbook with outputFormulaValues = true instead")
      // EITHER dead endpoint poisons the whole prefix — a span whose
      // last sheet was deleted must not silently shrink to a
      // single-sheet reference (the loud-or-#REF! contract)
      val valid = (i: Int) => i >= 0 && i < ctx.sheets.length
      if (!valid(first) || !valid(last)) "#REF!"
      else quoteSheets(ctx.sheets(first),
        if (last != first) Some(ctx.sheets(last)) else None) + "!"
    }
    def nameText(index1: Int): String =
      ctx.names.lift(index1 - 1).getOrElse(
        throw new IllegalArgumentException(
          s"xls formula: reference to undefined name index $index1 " +
            s"(workbook has ${ctx.names.length} LBL records)"))
    // tRefN/tAreaN: offsets are relative to the MEMBER cell (shared-
    // formula rebase); relative row offset is the signed 16-bit field,
    // relative col offset the signed LOW 8 bits (MS-XLS PtgRefN)
    def relRef(rwField: Int, colField: Int): String = {
      val (bR, bC) = base.getOrElse(throw new IllegalArgumentException(
        "xls formula: relative reference token (tRefN/tAreaN) outside " +
          "a shared-formula template"))
      val rowRel = (colField & 0x8000) != 0
      val colRel = (colField & 0x4000) != 0
      val row = if (rowRel) (bR + rwField.toShort.toInt) & 0xFFFF else rwField
      val col = if (colRel) (bC + (colField & 0xFF).toByte.toInt) & 0xFF
        else colField & 0x3FFF
      (if (colRel) "" else "$") + colLetters(col) +
        (if (rowRel) "" else "$") + (row + 1)
    }
    while (b.hasRemaining) {
      val ptg = b.get() & 0xFF
      val base = if (ptg >= 0x20) 0x20 + ((ptg - 0x20) & 0x1F) else ptg
      base match {
        case op if binOp.contains(op) =>
          val r = pop(); val l = pop()
          stack.push(l + binOp(op) + r)
        case 0x12 => stack.push("+" + pop())
        case 0x13 => stack.push("-" + pop())
        case 0x14 => stack.push(pop() + "%")
        case 0x15 => stack.push("(" + pop() + ")")
        case 0x16 => stack.push("") // tMissArg: IF(a,,b)
        case 0x17 => // tStr: ShortXLUnicodeString
          val cch = b.get() & 0xFF
          val high = (b.get() & 1) == 1
          val s =
            if (high) {
              val arr = new Array[Byte](cch * 2); b.get(arr)
              new String(arr, java.nio.charset.StandardCharsets.UTF_16LE)
            } else {
              val arr = new Array[Byte](cch); b.get(arr)
              new String(arr.map(x => (x & 0xFF).toChar))
            }
          stack.push("\"" + s.replace("\"", "\"\"") + "\"")
        case 0x19 => // tAttr
          val grbit = b.get() & 0xFF
          val wData = b.getShort() & 0xFFFF
          if ((grbit & 0x10) != 0) call("SUM", 1)
          else if ((grbit & 0x04) != 0) { // tAttrChoose: skip jump table
            val skip = new Array[Byte]((wData + 1) * 2); b.get(skip)
          } // semi/if/goto/space: no stack effect
        case 0x1C =>
          val e = b.get() & 0xFF
          stack.push(errText.getOrElse(e, s"#ERR$e!"))
        case 0x1D => stack.push(if ((b.get() & 0xFF) == 1) "TRUE" else "FALSE")
        case 0x1E => stack.push((b.getShort() & 0xFFFF).toString)
        case 0x1F =>
          val v = b.getDouble()
          stack.push(
            if (v == Math.rint(v) && Math.abs(v) < 1e15) v.toLong.toString
            else v.toString)
        case 0x21 => // tFunc (fixed arity)
          val id = b.getShort() & 0xFFFF
          val (name, arity) = ftab.getOrElse(id,
            throw new IllegalArgumentException(
              s"xls formula: unsupported builtin function id $id"))
          call(name, arity)
        case 0x22 => // tFuncVar
          val cargs = b.get() & 0x7F
          val id = b.getShort() & 0x7FFF
          val name = ftab.get(id).map(_._1).getOrElse(
            throw new IllegalArgumentException(
              s"xls formula: unsupported builtin function id $id"))
          call(name, cargs)
        case 0x24 => // tRef
          val rw = b.getShort() & 0xFFFF
          stack.push(cellRef(rw, b.getShort() & 0xFFFF))
        case 0x25 => // tArea
          val rw1 = b.getShort() & 0xFFFF
          val rw2 = b.getShort() & 0xFFFF
          val c1 = b.getShort() & 0xFFFF
          val c2 = b.getShort() & 0xFFFF
          stack.push(cellRef(rw1, c1) + ":" + cellRef(rw2, c2))
        case 0x2C => // tRefN (shared-formula relative ref)
          val rw = b.getShort() & 0xFFFF
          stack.push(relRef(rw, b.getShort() & 0xFFFF))
        case 0x2D => // tAreaN
          val rw1 = b.getShort() & 0xFFFF
          val rw2 = b.getShort() & 0xFFFF
          val c1 = b.getShort() & 0xFFFF
          val c2 = b.getShort() & 0xFFFF
          stack.push(relRef(rw1, c1) + ":" + relRef(rw2, c2))
        case 0x23 => // tName: 1-based LBL index + 2 reserved bytes
          val idx = b.getShort() & 0xFFFF
          b.getShort()
          stack.push(nameText(idx))
        case 0x39 => // tNameX: XTI + 1-based name index + 2 reserved
          val ixti = b.getShort() & 0xFFFF
          val idx = b.getShort() & 0xFFFF
          b.getShort()
          val iSup = ctx.xti.lift(ixti).map(_._1).getOrElse(
            throw new IllegalArgumentException(
              s"xls formula: tNameX against undefined EXTERNSHEET entry $ixti"))
          if (!ctx.supbookInternal.lift(iSup).getOrElse(false))
            throw new IllegalArgumentException(
              "xls formula: external-workbook name (tNameX) is not " +
                "decompiled; read with outputFormulaValues = true instead")
          stack.push(nameText(idx))
        case 0x3A => // tRef3d: XTI + RgceLoc
          val ixti = b.getShort() & 0xFFFF
          val rw = b.getShort() & 0xFFFF
          stack.push(sheetPrefix(ixti) + cellRef(rw, b.getShort() & 0xFFFF))
        case 0x3B => // tArea3d: XTI + RgceArea
          val ixti = b.getShort() & 0xFFFF
          val rw1 = b.getShort() & 0xFFFF
          val rw2 = b.getShort() & 0xFFFF
          val c1 = b.getShort() & 0xFFFF
          val c2 = b.getShort() & 0xFFFF
          stack.push(sheetPrefix(ixti) + cellRef(rw1, c1) + ":" + cellRef(rw2, c2))
        case 0x3C => // tRefErr3d: sheet prefix survives, the loc is dead
          val p = sheetPrefix(b.getShort() & 0xFFFF)
          b.position(b.position() + 4)
          stack.push((if (p == "#REF!") "" else p) + "#REF!")
        case 0x3D => // tAreaErr3d
          val p = sheetPrefix(b.getShort() & 0xFFFF)
          b.position(b.position() + 8)
          stack.push((if (p == "#REF!") "" else p) + "#REF!")
        case 0x2A => b.position(b.position() + 4); stack.push("#REF!")
        case 0x2B => b.position(b.position() + 8); stack.push("#REF!")
        case 0x01 => throw new IllegalArgumentException(
          "xls formula: shared-formula stub (tExp) — the sheet parser " +
            "dereferences these against the SHRFMLA table; a bare rgce " +
            "cannot be decompiled without it")
        case 0x02 => throw new IllegalArgumentException(
          "xls formula: data-table stub (tTbl) is not decompiled; read " +
            "this workbook with outputFormulaValues = true instead")
        case 0x20 => // tArray: 7 unused operand bytes; values in rgcb
          b.position(b.position() + 7)
          // SerArray (MS-XLS 2.5.7/OpenOffice BIFF8): cols-1:u8,
          // rows-1:u16, then rows×cols SerAr values row-major
          val cols = (extra.get() & 0xFF) + 1
          val rows = (extra.getShort() & 0xFFFF) + 1
          val body = (0 until rows).map { _ =>
            (0 until cols).map { _ =>
              (extra.get() & 0xFF) match {
                case 0x00 => // SerNil: a legal empty slot (8 unused
                  // bytes) — renders as an empty element, the same
                  // choice tMissArg makes for IF(a,,b)
                  extra.position(extra.position() + 8)
                  ""
                case 0x01 => // SerNum
                  val v = extra.getDouble()
                  if (v == Math.rint(v) && Math.abs(v) < 1e15) v.toLong.toString
                  else v.toString
                case 0x02 => // SerStr: XLUnicodeString (cch16 + flags)
                  val cch = extra.getShort() & 0xFFFF
                  val high = (extra.get() & 1) == 1
                  val s =
                    if (high) {
                      val arr = new Array[Byte](cch * 2); extra.get(arr)
                      new String(arr, java.nio.charset.StandardCharsets.UTF_16LE)
                    } else {
                      val arr = new Array[Byte](cch); extra.get(arr)
                      new String(arr.map(x => (x & 0xFF).toChar))
                    }
                  "\"" + s.replace("\"", "\"\"") + "\""
                case 0x04 => // SerBool: 1 byte + 7 unused
                  val v = (extra.get() & 0xFF) == 1
                  extra.position(extra.position() + 7)
                  if (v) "TRUE" else "FALSE"
                case 0x10 => // SerErr: 1 byte + 7 unused
                  val e = extra.get() & 0xFF
                  extra.position(extra.position() + 7)
                  errText.getOrElse(e, s"#ERR$e!")
                case t => throw new IllegalArgumentException(
                  f"xls formula: unsupported array-constant value type 0x$t%02X")
              }
            }.mkString(",")
          }.mkString(";")
          stack.push("{" + body + "}")
        case other => throw new IllegalArgumentException(
          f"xls formula: unsupported token 0x$other%02X — exotic " +
            "operand tokens are not decompiled (a wrong operand width " +
            "would corrupt every later token); read this workbook with " +
            "outputFormulaValues = true instead")
      }
    }
    require(stack.size == 1,
      s"xls formula: malformed token stream (${stack.size} values left)")
    stack.pop()
  }
}

/** Spark-side legacy-xls reading (reference `XlsSource.xls`); same
  * per-file parallel topology as [[Xlsx.read]].
  * `outputFormulaValues = false` emits formula TEXT instead of cached
  * results (reference `XlsSource.outputFormulaValues`,
  * `XlsSource.groovy:73-79`). */
object Xls {

  def read(
      spark: SparkSession, path: String,
      sheet: String = null,
      dateFormat: String = "yyyy-MM-dd",
      startOnRow: Int = 0,
      outputFormulaValues: Boolean = true): Pipeline = {
    val loaded = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xls")
      .option("recursiveFileLookup", true)
      .load(path)
    val files = loaded.select("path", "content")
    val headers = XlsParser.parse(
      HeaderProbe.firstFileBytes(loaded, path, "xls"),
      sheet, dateFormat, startOnRow, outputFormulaValues).headers
    val schema = StructType(headers.map(StructField(_, StringType, nullable = true)))

    val sheetName = sheet
    val fmt = dateFormat
    val start = startOnRow
    val ofv = outputFormulaValues
    val df = files.flatMap { row =>
      val parsed = XlsParser.parse(row.getAs[Array[Byte]](1), sheetName, fmt, start, ofv)
      val idx = headers.map(parsed.headers.indexOf)
      parsed.rows.iterator.map(cells =>
        Row.fromSeq(idx.map(i => if (i < 0) null else cells(i))))
    }(org.apache.spark.sql.Encoders.row(schema))
    Pipeline.of(s"xls($path)", df)
  }
}
