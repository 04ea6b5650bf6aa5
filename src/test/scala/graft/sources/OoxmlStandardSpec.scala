package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.SecretKeySpec

/** Pre-2010 "standard" OOXML encryption (MS-OFFCRYPTO 2.3.4.5) specs.
  *
  * No tool in this sandbox can produce a standard-encrypted workbook
  * (POI is absent, modern Excel writes agile), so the fixture is
  * SYNTHESIZED here from the public spec: [[StdFixture]] is an
  * independent test-side implementation of the CFB container layout
  * (MS-CFB) and the standard key schedule / AES-ECB framing — it
  * shares no code with [[OoxmlCrypto]], so a transcription error on
  * either side of the key derivation fails the round-trip rather than
  * cancelling out. The agile path is proven the same way against
  * [[AgileFixture]], an independent test-side agile encryptor (version
  * 4.4, AES-256-CBC, SHA-512) whose workbook opens here and seeds the
  * CorruptWorkbookSpec sweep, and against the reference's own
  * encrypted_players.xlsx where present (XlsxSpec).
  */
class OoxmlStandardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ooxml-std-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp: Path = Files.createTempDirectory("graft-ooxml-std")

  /** A plain xlsx produced by the library's own sink, used as the
    * plaintext package for the encryption round-trips. */
  private def plainXlsx(dir: Path): Array[Byte] = {
    import spark.implicits._
    val out = dir.resolve("plain.xlsx")
    new graft.sinks.XlsxFileSink(out.toString).write(
      Seq((1, "alpha", 2.5), (2, "beta", 3.5), (3, "gamma", 4.5))
        .toDF("id", "name", "score"))
    Files.readAllBytes(out)
  }

  test("standard-encrypted workbook (AES-128) opens through Xlsx.read") {
    val dir = tmp
    val zip = plainXlsx(dir)
    val encFile = dir.resolve("std128.xlsx")
    Files.write(encFile, StdFixture.encrypt(zip, "hunter2", keyBits = 128))

    val plain = Xlsx.read(spark, dir.resolve("plain.xlsx").toString).toDF
    val back = Xlsx.read(spark, encFile.toString, password = "hunter2").toDF
    assert(back.columns.toSeq == plain.columns.toSeq)
    assert(back.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
  }

  test("standard-encrypted workbook (AES-256) opens through Xlsx.read") {
    val dir = tmp
    val zip = plainXlsx(dir)
    val encFile = dir.resolve("std256.xlsx")
    Files.write(encFile, StdFixture.encrypt(zip, "correct horse", keyBits = 256))
    val back = Xlsx.read(spark, encFile.toString, password = "correct horse").toDF
    assert(back.count() == 3)
  }

  test("wrong password and RC4 are rejected with clear errors") {
    val dir = tmp
    val zip = plainXlsx(dir)
    val bytes = StdFixture.encrypt(zip, "right", keyBits = 128)
    val wrong = intercept[IllegalArgumentException] {
      OoxmlCrypto.decrypt(bytes, "wrong")
    }
    assert(wrong.getMessage.contains("wrong password"))

    val rc4 = intercept[IllegalArgumentException] {
      OoxmlCrypto.decrypt(StdFixture.encrypt(zip, "x", keyBits = 128, algId = 0x6801), "x")
    }
    assert(rc4.getMessage.contains("RC4"))
  }

  test("flag-determined header (AlgID 0x0000 + fAES, KeySize 0) decrypts as AES-128") {
    // 2.3.4.5 permits AlgID 0x0000 ("determined by Flags") and KeySize
    // 0x0000 (default for the flag-selected cipher: AES-128). Real
    // writers rarely emit this shape, so it only gets coverage here.
    val dir = tmp
    val zip = plainXlsx(dir)
    val bytes = StdFixture.encrypt(zip, "flagged", keyBits = 128,
      writeRawAlgId = true, writeZeroKeySize = true)
    val plain = Xlsx.read(spark, dir.resolve("plain.xlsx").toString).toDF
    val encFile = dir.resolve("flagdet.xlsx")
    Files.write(encFile, bytes)
    val back = Xlsx.read(spark, encFile.toString, password = "flagged").toDF
    assert(back.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
  }

  test("AlgID 0x0000 without fAES is rejected as RC4; fAES+fExternal is not AES") {
    val dir = tmp
    val zip = plainXlsx(dir)
    // flags 0x04 = fCryptoAPI only → RC4 CryptoAPI
    val rc4 = intercept[IllegalArgumentException] {
      OoxmlCrypto.decrypt(StdFixture.encrypt(zip, "x", keyBits = 128,
        writeRawAlgId = true, headerFlags = 0x04), "x")
    }
    assert(rc4.getMessage.contains("RC4"))
    // fExternal (0x10) requires all other bits clear; fAES alongside it
    // is malformed and must not select the AES path
    val ext = intercept[IllegalArgumentException] {
      OoxmlCrypto.decrypt(StdFixture.encrypt(zip, "x", keyBits = 128,
        writeRawAlgId = true, headerFlags = 0x34), "x")
    }
    assert(ext.getMessage.contains("RC4"))
  }

  test("agile-encrypted workbook (AES-256, SHA-512) opens through Xlsx.read") {
    val dir = tmp
    val zip = plainXlsx(dir)
    val encFile = dir.resolve("agile.xlsx")
    Files.write(encFile, AgileFixture.encrypt(zip, "correct horse"))
    val plain = Xlsx.read(spark, dir.resolve("plain.xlsx").toString).toDF
    val back = Xlsx.read(spark, encFile.toString, password = "correct horse").toDF
    assert(back.columns.toSeq == plain.columns.toSeq)
    assert(back.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
    val wrong = intercept[IllegalArgumentException] {
      OoxmlCrypto.decrypt(Files.readAllBytes(encFile), "wrong horse")
    }
    assert(wrong.getMessage.contains("wrong password"))
  }

  test("CFB writer output is readable by the golden-tested CFB reader") {
    // the reader half of this round-trip is independently proven
    // against real Excel files (players.xls golden parity) — so a
    // container this reader accepts is laid out like one Excel writes
    val small = Array.tabulate[Byte](200)(_.toByte)        // ministream
    val big = Array.tabulate[Byte](9000)(i => (i * 7).toByte) // regular
    val cfb = StdFixture.cfb(Seq("EncryptionInfo" -> small, "EncryptedPackage" -> big))
    assert(XlsParser.cfbStream(cfb, Seq("EncryptionInfo")).toSeq == small.toSeq)
    assert(XlsParser.cfbStream(cfb, Seq("EncryptedPackage")).toSeq == big.toSeq)
  }
}

/** Independent (test-side) implementation of MS-CFB + MS-OFFCRYPTO
  * standard encryption, written from the public specs for fixture
  * synthesis only. */
object StdFixture {

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF
  private val FatSect = 0xFFFFFFFD

  /** Minimal CFB v3 container: 512-byte sectors, 64-byte mini sectors,
    * 4096 cutoff; streams under the cutoff go to the ministream as the
    * spec requires. Stream names must be pre-sorted in CFB order
    * (length, then name) — they are right-chained from the root's
    * child, which forms a valid directory BST only in that order. */
  def cfb(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val sectorSize = 512
    val miniSize = 64
    def ceilDiv(a: Int, b: Int) = (a + b - 1) / b

    val minis = streams.filter(_._2.length < 4096)
    val bigs = streams.filter(_._2.length >= 4096)

    // ministream: each mini stream padded to whole 64-byte mini sectors
    val miniSectorCounts = minis.map(m => math.max(1, ceilDiv(m._2.length, miniSize)))
    val miniTotal = miniSectorCounts.sum
    val miniStreamBytes = new Array[Byte](miniTotal * miniSize)
    val miniStarts = miniSectorCounts.scanLeft(0)(_ + _)
    minis.zipWithIndex.foreach { case ((_, data), i) =>
      System.arraycopy(data, 0, miniStreamBytes, miniStarts(i) * miniSize, data.length)
    }

    val nDir = ceilDiv(1 + streams.length, 4)
    val nMiniFat = if (miniTotal == 0) 0 else ceilDiv(miniTotal * 4, sectorSize)
    val nMiniStream = ceilDiv(miniStreamBytes.length, sectorSize)
    val bigSectorCounts = bigs.map(b => ceilDiv(b._2.length, sectorSize))
    val nonFat = nDir + nMiniFat + nMiniStream + bigSectorCounts.sum
    var nFat = 1
    while (ceilDiv(nonFat + nFat, sectorSize / 4) > nFat) nFat += 1

    // sector ids, allocated in order
    val dirStart = 0
    val miniFatStart = dirStart + nDir
    val miniStreamStart = miniFatStart + nMiniFat
    val bigStarts = bigSectorCounts.scanLeft(miniStreamStart + nMiniStream)(_ + _)
    val fatStart = bigStarts.last

    val totalSectors = nonFat + nFat
    val out = ByteBuffer.allocate(sectorSize + totalSectors * sectorSize)
      .order(ByteOrder.LITTLE_ENDIAN)

    // ---- header
    out.putLong(0, 0xE11AB1A1E011CFD0L)
    out.putShort(24, 0x003E.toShort) // minor
    out.putShort(26, 0x0003.toShort) // major (v3)
    out.putShort(28, 0xFFFE.toShort) // byte order
    out.putShort(30, 9)              // sector shift
    out.putShort(32, 6)              // mini shift
    out.putInt(44, nFat)
    out.putInt(48, dirStart)
    out.putInt(56, 4096)             // mini cutoff
    out.putInt(60, if (nMiniFat == 0) EndOfChain else miniFatStart)
    out.putInt(64, nMiniFat)
    out.putInt(68, EndOfChain)       // no DIFAT sectors
    out.putInt(72, 0)
    (0 until 109).foreach { i =>
      out.putInt(76 + i * 4, if (i < nFat) fatStart + i else FreeSect)
    }

    def sectorOff(id: Int) = sectorSize + id * sectorSize

    // ---- FAT
    val fat = Array.fill(nFat * (sectorSize / 4))(FreeSect)
    def chain(start: Int, len: Int): Unit =
      (0 until len).foreach(i => fat(start + i) = if (i == len - 1) EndOfChain else start + i + 1)
    chain(dirStart, nDir)
    if (nMiniFat > 0) chain(miniFatStart, nMiniFat)
    if (nMiniStream > 0) chain(miniStreamStart, nMiniStream)
    bigs.indices.foreach(i => chain(bigStarts(i), bigSectorCounts(i)))
    (0 until nFat).foreach(i => fat(fatStart + i) = FatSect)
    fat.indices.foreach(i => out.putInt(sectorOff(fatStart) + i * 4, fat(i)))

    // ---- miniFAT (per-stream chains over sequential mini sector ids)
    miniStarts.zip(miniSectorCounts).foreach { case (start, len) =>
      (0 until len).foreach { i =>
        out.putInt(sectorOff(miniFatStart) + (start + i) * 4,
          if (i == len - 1) EndOfChain else start + i + 1)
      }
    }
    (miniTotal until nMiniFat * (sectorSize / 4)).foreach { i =>
      if (nMiniFat > 0) out.putInt(sectorOff(miniFatStart) + i * 4, FreeSect)
    }

    // ---- ministream + big stream payloads
    if (miniStreamBytes.nonEmpty) {
      out.position(sectorOff(miniStreamStart)); out.put(miniStreamBytes)
    }
    bigs.zipWithIndex.foreach { case ((_, data), i) =>
      out.position(sectorOff(bigStarts(i))); out.put(data)
    }

    // ---- directory
    def dirEntry(slot: Int, name: String, objType: Int, child: Int,
        right: Int, start: Int, size: Long): Unit = {
      val base = sectorOff(dirStart) + slot * 128
      val utf16 = name.getBytes(StandardCharsets.UTF_16LE)
      out.position(base); out.put(utf16)
      out.putShort(base + 64, (utf16.length + 2).toShort)
      out.put(base + 66, objType.toByte)
      out.put(base + 67, 1.toByte) // black
      out.putInt(base + 68, -1)    // left
      out.putInt(base + 72, right)
      out.putInt(base + 76, child)
      out.putInt(base + 116, start)
      out.putLong(base + 120, size)
    }
    // root: child = first stream entry; start/size = the ministream
    dirEntry(0, "Root Entry", 5,
      child = if (streams.nonEmpty) 1 else -1, right = -1,
      start = if (nMiniStream > 0) miniStreamStart else EndOfChain,
      size = miniStreamBytes.length.toLong)
    var miniIdx = 0
    var bigIdx = 0
    streams.zipWithIndex.foreach { case ((name, data), i) =>
      val start =
        if (data.length < 4096) { val s = miniStarts(miniIdx); miniIdx += 1; s }
        else { val s = bigStarts(bigIdx); bigIdx += 1; s }
      dirEntry(i + 1, name, 2, child = -1,
        right = if (i + 1 < streams.length) i + 2 else -1,
        start = start, size = data.length.toLong)
    }
    // unused directory slots: objType 0 (already zeroed), left/right/child -1
    (streams.length + 1 until nDir * 4).foreach { slot =>
      val base = sectorOff(dirStart) + slot * 128
      out.putInt(base + 68, -1); out.putInt(base + 72, -1); out.putInt(base + 76, -1)
    }
    out.array()
  }

  /** Standard-encrypt a package (MS-OFFCRYPTO 2.3.4.5): version x.2
    * EncryptionInfo (binary header + verifier) and a whole-package
    * AES-ECB EncryptedPackage, wrapped in a CFB container. Salt and
    * verifier are fixed so the fixture is deterministic. */
  def encrypt(
      zip: Array[Byte], password: String,
      keyBits: Int, algId: Int = 0,
      writeRawAlgId: Boolean = false,    // emit AlgID literally (0x0000 = flag-determined)
      writeZeroKeySize: Boolean = false, // emit KeySize 0x0000 (flag-determined default)
      headerFlags: Int = 0x24): Array[Byte] = {
    val salt = Array.tabulate[Byte](16)(i => (i * 11 + 3).toByte)
    val verifier = Array.tabulate[Byte](16)(i => (99 - i * 5).toByte)
    val key = deriveKey(salt, password, keyBits / 8)

    def enc(data: Array[Byte]): Array[Byte] = {
      val c = Cipher.getInstance("AES/ECB/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"))
      c.doFinal(data)
    }
    val verifierHash = MessageDigest.getInstance("SHA-1").digest(verifier)
    val paddedHash = java.util.Arrays.copyOf(verifierHash, 32)

    val realAlgId =
      if (writeRawAlgId) algId
      else if (algId != 0) algId
      else keyBits match {
        case 128 => 0x660E; case 192 => 0x660F; case 256 => 0x6610
      }
    val csp = ("Microsoft Enhanced RSA and AES Cryptographic Provider" + 0.toChar)
      .getBytes(StandardCharsets.UTF_16LE)
    val headerSize = 32 + csp.length
    val info = ByteBuffer.allocate(12 + headerSize + 72)
      .order(ByteOrder.LITTLE_ENDIAN)
    info.putShort(3).putShort(2)       // version 3.2
    info.putInt(0x24)                  // flags: fCryptoAPI | fAES
    info.putInt(headerSize)
    info.putInt(headerFlags).putInt(0) // header flags, sizeExtra
    info.putInt(realAlgId).putInt(0x8004) // algId, SHA-1
    info.putInt(if (writeZeroKeySize) 0 else keyBits).putInt(0x18) // keySize, providerType
    info.putInt(0).putInt(0)           // reserved
    info.put(csp)
    info.putInt(16).put(salt)
    info.put(enc(verifier))
    info.putInt(20)                    // verifierHashSize (SHA-1)
    info.put(enc(paddedHash))

    val padded = java.util.Arrays.copyOf(zip, (zip.length + 15) / 16 * 16)
    val pkg = ByteBuffer.allocate(8 + padded.length).order(ByteOrder.LITTLE_ENDIAN)
    pkg.putLong(zip.length.toLong).put(enc(padded))

    cfb(Seq("EncryptionInfo" -> info.array(), "EncryptedPackage" -> pkg.array()))
  }

  /** 2.3.4.7 key schedule, written independently of OoxmlCrypto. */
  private def deriveKey(salt: Array[Byte], password: String, keyLen: Int): Array[Byte] = {
    val sha = MessageDigest.getInstance("SHA-1")
    var h = sha.digest(salt ++ password.getBytes(StandardCharsets.UTF_16LE))
    (0 until 50000).foreach { n =>
      val it = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(n).array()
      h = sha.digest(it ++ h)
    }
    h = sha.digest(h ++ Array[Byte](0, 0, 0, 0))
    val b36 = Array.fill[Byte](64)(0x36); h.indices.foreach(i => b36(i) = (b36(i) ^ h(i)).toByte)
    val b5c = Array.fill[Byte](64)(0x5C); h.indices.foreach(i => b5c(i) = (b5c(i) ^ h(i)).toByte)
    (sha.digest(b36) ++ sha.digest(b5c)).take(keyLen)
  }
}
