package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

/** OOXML *agile encryption* decryption (MS-OFFCRYPTO 2.3.4), pure JDK.
  *
  * The reference's `XlsxSource.password(...)` (`XlsxSource.groovy:101-104,
  * 115-118`) opens password-protected workbooks through POI's crypto
  * stack. An encrypted OOXML document is a CFB compound file (the same
  * container [[XlsParser.cfbStream]] already parses for legacy xls)
  * holding two streams:
  *
  *  - `EncryptionInfo`: a version header (4.4 = agile) + an XML
  *    descriptor naming the cipher (AES-CBC), hash (SHA-512), salts,
  *    spin count, and the password-encrypted verifier/key blobs;
  *  - `EncryptedPackage`: a u64-LE plaintext length followed by the
  *    real xlsx ZIP encrypted in 4096-byte segments, each with an IV
  *    derived from the segment index.
  *
  * Everything needed — SHA-512, AES-256-CBC, Base64, StAX — ships with
  * the JDK, so no POI/BouncyCastle is required. Key schedule
  * (MS-OFFCRYPTO 2.3.4.11-13): iterate `H = SHA(LE32(i) ++ H)` from
  * `SHA(salt ++ UTF16LE(password))` spinCount times; per-purpose keys
  * append a fixed 8-byte block key and re-hash; the verifier round-trip
  * proves the password before the package key is trusted.
  *
  * Scope: agile (version 4.4, every modern Excel and POI write) plus
  * the pre-2010 "standard" scheme (version minor 2, MS-OFFCRYPTO
  * 2.3.4.5: AES-ECB, SHA-1 key schedule spun 50,000 times, whole-
  * package ECB — no segments, no IV). RC4 CryptoAPI (the pre-AES
  * cipher) and the "extensible" scheme (minor 3) are rejected with
  * clear errors. The optional dataIntegrity HMAC is not checked (the
  * verifier already authenticates the password; a truncated package
  * fails ZIP parsing loudly).
  *
  * Hostile bytes: a malformed container or descriptor rejects with an
  * `IllegalArgumentException` (or the JCA's `GeneralSecurityException`
  * for ciphertext of the wrong length), never an index or number-format
  * error: short EncryptionInfo/EncryptedPackage streams, a standard
  * header size that runs past its stream, non-integer descriptor
  * attributes, an AES block size other than 16 or key size other than
  * 128/192/256, and a spinCount outside 0..10,000,000 are each refused
  * by name before any key is derived.
  */
private[graft] object OoxmlCrypto {

  /** CFB magic D0CF11E0A1B11AE1 — an encrypted OOXML file starts with
    * the compound-file header, a plain one with the ZIP magic PK. */
  def isCfb(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 &&
      (bytes(0) & 0xFF) == 0xD0 && (bytes(1) & 0xFF) == 0xCF &&
      (bytes(2) & 0xFF) == 0x11 && (bytes(3) & 0xFF) == 0xE0 &&
      (bytes(4) & 0xFF) == 0xA1 && (bytes(5) & 0xFF) == 0xB1 &&
      (bytes(6) & 0xFF) == 0x1A && (bytes(7) & 0xFF) == 0xE1

  /** Decrypt if `bytes` is an encrypted container, else pass through. */
  def maybeDecrypt(bytes: Array[Byte], password: String): Array[Byte] =
    if (!isCfb(bytes)) bytes
    else {
      require(password != null,
        "workbook is encrypted (CFB container); pass password = ...")
      decrypt(bytes, password)
    }

  // fixed block keys, MS-OFFCRYPTO 2.3.4.13
  private val BlockVerifierInput =
    Array(0xfe, 0xa7, 0xd2, 0x76, 0x3b, 0x4b, 0x9e, 0x79).map(_.toByte)
  private val BlockVerifierValue =
    Array(0xd7, 0xaa, 0x0f, 0x6d, 0x30, 0x61, 0x34, 0x4e).map(_.toByte)
  private val BlockKeyValue =
    Array(0x14, 0x6e, 0x0b, 0xe7, 0xab, 0xac, 0xd0, 0xd6).map(_.toByte)

  private final case class KeyData(
      salt: Array[Byte], blockSize: Int, keyBits: Int, hashSize: Int,
      hashAlgorithm: String, cipherAlgorithm: String, chaining: String)

  private final case class PasswordKey(
      salt: Array[Byte], blockSize: Int, keyBits: Int, spinCount: Int,
      hashAlgorithm: String, cipherAlgorithm: String, chaining: String,
      verifierHashInput: Array[Byte], verifierHashValue: Array[Byte],
      keyValue: Array[Byte])

  /** MS-OFFCRYPTO 2.3.4.11: a password key's spinCount MUST NOT
    * exceed 10,000,000 (a hostile value would spin the hash for
    * minutes). */
  private val MaxSpinCount = 10000000

  def decrypt(bytes: Array[Byte], password: String): Array[Byte] = {
    val info = XlsParser.cfbStream(bytes, Seq("EncryptionInfo"))
    val pkg = XlsParser.cfbStream(bytes, Seq("EncryptedPackage"))
    // version + reserved/flags; both schemes need at least these 8 bytes
    require(info.length >= 8,
      s"corrupt EncryptionInfo: ${info.length} bytes, no version header")
    require(pkg.length >= 8,
      s"corrupt EncryptedPackage: ${pkg.length} bytes, no size header")
    val major = (info(0) & 0xFF) | ((info(1) & 0xFF) << 8)
    val minor = (info(2) & 0xFF) | ((info(3) & 0xFF) << 8)
    if (minor == 2 && (major == 2 || major == 3 || major == 4))
      return standardDecrypt(info, pkg, password)
    require(major == 4 && minor == 4,
      s"unsupported OOXML encryption version $major.$minor — agile (4.4, " +
        "Office 2010+) and standard (x.2, Office 2007) are implemented; " +
        "re-save the workbook with a modern Excel/POI to upgrade the " +
        "container")
    agileDecrypt(info, pkg, password)
  }

  private def agileDecrypt(
      info: Array[Byte], pkg: Array[Byte], password: String): Array[Byte] = {
    val (keyData, pw) = parseDescriptor(
      java.util.Arrays.copyOfRange(info, 8, info.length))

    // ---- password key schedule (2.3.4.11): spun hash, then per-purpose keys
    val md = MessageDigest.getInstance(jcaDigest(pw.hashAlgorithm))
    var h = {
      md.update(pw.salt)
      md.digest(password.getBytes(StandardCharsets.UTF_16LE))
    }
    val le = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < pw.spinCount) {
      le.clear(); le.putInt(i)
      md.update(le.array()); h = md.digest(h)
      i += 1
    }
    def purposeKey(blockKey: Array[Byte]): Array[Byte] = {
      md.update(h)
      truncPad(md.digest(blockKey), pw.keyBits / 8)
    }
    val fieldIv = truncPad(pw.salt, pw.blockSize)
    def openField(blob: Array[Byte], blockKey: Array[Byte]): Array[Byte] =
      aes(blob, purposeKey(blockKey), fieldIv, pw.chaining)

    // ---- verify the password via the verifier round-trip (2.3.4.13)
    val verifierInput = openField(pw.verifierHashInput, BlockVerifierInput)
    val verifierHash = MessageDigest.getInstance(jcaDigest(pw.hashAlgorithm))
      .digest(java.util.Arrays.copyOfRange(verifierInput, 0, pw.salt.length))
    val expected = openField(pw.verifierHashValue, BlockVerifierValue)
    require(java.util.Arrays.equals(
      verifierHash,
      java.util.Arrays.copyOfRange(expected, 0, verifierHash.length)),
      "wrong password for encrypted workbook")

    // ---- the package key, then the package itself in 4096-byte segments
    val packageKey = truncPad(
      openField(pw.keyValue, BlockKeyValue), keyData.keyBits / 8)
    val total = java.nio.ByteBuffer.wrap(pkg, 0, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    require(total >= 0 && total <= pkg.length.toLong - 8,
      s"corrupt EncryptedPackage: declared $total bytes, have ${pkg.length - 8}")
    val segMd = MessageDigest.getInstance(jcaDigest(keyData.hashAlgorithm))
    val out = new Array[Byte](total.toInt)
    var seg = 0
    var pos = 8
    var written = 0
    while (written < total) {
      // ciphertext segments are 4096 bytes (already a blockSize multiple)
      val end = math.min(pos + 4096, pkg.length)
      le.clear(); le.putInt(seg)
      segMd.update(keyData.salt)
      val iv = truncPad(segMd.digest(le.array()), keyData.blockSize)
      val plain = aes(
        java.util.Arrays.copyOfRange(pkg, pos, end),
        packageKey, iv, keyData.chaining)
      val take = math.min(plain.length.toLong, total - written).toInt
      System.arraycopy(plain, 0, out, written, take)
      written += take
      pos = end
      seg += 1
    }
    out
  }

  // ------------------------------------------ standard encryption (x.2)

  /** MS-OFFCRYPTO 2.3.4.5/2.3.4.7/2.3.4.9: the Office 2007 "standard"
    * scheme. EncryptionInfo is binary (no XML): flags + EncryptionHeader
    * (algId/keySize/CSP name) + EncryptionVerifier (salt + AES-ECB
    * encrypted verifier blobs). The key is SHA-1 spun 50,000 times over
    * the salted password, finalized with block 0 and expanded through
    * the 0x36/0x5C HMAC-style pads; the package is one AES-ECB stream
    * after a u64-LE plaintext length. */
  private def standardDecrypt(
      info: Array[Byte], pkg: Array[Byte], password: String): Array[Byte] = {
    val buf = java.nio.ByteBuffer.wrap(info)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(info.length >= 12, "corrupt EncryptionInfo: no header size")
    val headerSize = buf.getInt(8)
    // the header's 32 fixed bytes, then the 72-byte verifier (salt size,
    // salt, verifier, hash size, 32-byte verifier hash) after it
    require(headerSize >= 32 && 12L + headerSize + 72 <= info.length,
      s"corrupt EncryptionInfo: header size $headerSize does not fit " +
        s"its ${info.length} bytes")
    // EncryptionHeader at offset 12: flags, sizeExtra, algId, algIdHash,
    // keySize, providerType, reserved1/2, then the UTF-16LE CSP name
    val headerFlags = buf.getInt(12)
    val algId = buf.getInt(12 + 8)
    // 2.3.4.5: AlgID 0x0000 means "determined by Flags" — with fAES
    // (0x20) set it is AES (key size from KeySize, default 128); only
    // without fAES does it mean RC4 CryptoAPI. fExternal (0x10) demands
    // every other flag bit clear, so fAES+fExternal is malformed — do
    // not let it select the AES path.
    val fAES = (headerFlags & 0x20) != 0 && (headerFlags & 0x10) == 0
    algId match {
      case 0x660E | 0x660F | 0x6610 => ()
      case 0x0000 if fAES => ()
      case 0x6801 | 0x0000 => throw new IllegalArgumentException(
        "RC4 CryptoAPI OOXML encryption is not supported — re-save the " +
          "workbook with AES (any Excel/POI since 2007)")
      case other => throw new IllegalArgumentException(
        f"unsupported standard-encryption algId 0x$other%04X")
    }
    // KeySize 0x0000 is likewise flag-determined: AES defaults to 128.
    val keyBits = buf.getInt(12 + 16) match {
      case 0 if algId == 0x0000 => 128
      case other => other
    }
    require(keyBits == 128 || keyBits == 192 || keyBits == 256,
      s"unsupported AES key size $keyBits")
    // EncryptionVerifier directly after the header
    var off = 12 + headerSize
    val saltSize = buf.getInt(off)
    require(saltSize == 16, s"standard encryption salt must be 16 bytes, got $saltSize")
    val salt = java.util.Arrays.copyOfRange(info, off + 4, off + 4 + 16)
    val encryptedVerifier = java.util.Arrays.copyOfRange(info, off + 20, off + 36)
    val verifierHashSize = buf.getInt(off + 36)
    require(verifierHashSize == 20, // SHA-1
      s"standard encryption verifier hash must be SHA-1 (20 bytes), got $verifierHashSize")
    val encryptedVerifierHash = java.util.Arrays.copyOfRange(info, off + 40, off + 72)

    val key = standardKey(salt, password, keyBits / 8)
    // 2.3.4.9 verifier round-trip: ECB, no IV
    val verifier = aesEcb(encryptedVerifier, key)
    val sha = MessageDigest.getInstance("SHA-1")
    val expected = sha.digest(verifier)
    val actual = java.util.Arrays.copyOfRange(aesEcb(encryptedVerifierHash, key), 0, 20)
    require(java.util.Arrays.equals(expected, actual),
      "wrong password for encrypted workbook")

    val total = java.nio.ByteBuffer.wrap(pkg, 0, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    require(total >= 0 && total <= pkg.length.toLong - 8,
      s"corrupt EncryptedPackage: declared $total bytes, have ${pkg.length - 8}")
    val plain = aesEcb(java.util.Arrays.copyOfRange(pkg, 8, pkg.length), key)
    java.util.Arrays.copyOfRange(plain, 0, total.toInt)
  }

  /** 2.3.4.7 key derivation: H0 = SHA1(salt ‖ UTF16LE(pw)); spin
    * Hn = SHA1(LE32(n) ‖ Hn-1) 50,000 times; Hfinal = SHA1(H ‖ LE32(0));
    * expand via X1 = SHA1(0x36-pad ⊕ Hfinal), X2 = SHA1(0x5C-pad ⊕
    * Hfinal); key = first keyLen of X1 ‖ X2. */
  private[sources] def standardKey(
      salt: Array[Byte], password: String, keyLen: Int): Array[Byte] = {
    val sha = MessageDigest.getInstance("SHA-1")
    sha.update(salt)
    var h = sha.digest(password.getBytes(StandardCharsets.UTF_16LE))
    val le = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < 50000) {
      le.clear(); le.putInt(i)
      sha.update(le.array()); h = sha.digest(h)
      i += 1
    }
    sha.update(h)
    h = sha.digest(Array[Byte](0, 0, 0, 0)) // block 0, LE
    def pad(fill: Byte): Array[Byte] = {
      val b = Array.fill[Byte](64)(fill)
      h.indices.foreach(j => b(j) = (b(j) ^ h(j)).toByte)
      b
    }
    val x = sha.digest(pad(0x36)) ++ sha.digest(pad(0x5C))
    java.util.Arrays.copyOfRange(x, 0, keyLen)
  }

  private def aesEcb(data: Array[Byte], key: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/ECB/NoPadding")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"))
    c.doFinal(data)
  }

  // --------------------------------------------------------------- helpers

  /** Truncate or 0x36-pad (MS-OFFCRYPTO's padding byte) to `len`. */
  private def truncPad(bytes: Array[Byte], len: Int): Array[Byte] =
    if (bytes.length == len) bytes
    else {
      val out = Array.fill[Byte](len)(0x36)
      System.arraycopy(bytes, 0, out, 0, math.min(bytes.length, len))
      out
    }

  private def jcaDigest(name: String): String = name.toUpperCase match {
    case "SHA1" | "SHA-1" => "SHA-1"
    case "SHA256" => "SHA-256"
    case "SHA384" => "SHA-384"
    case "SHA512" => "SHA-512"
    case other => throw new IllegalArgumentException(
      s"unsupported OOXML hash algorithm $other")
  }

  private def aes(
      data: Array[Byte], key: Array[Byte], iv: Array[Byte],
      chaining: String): Array[Byte] = {
    val mode = chaining match {
      case "ChainingModeCBC" => "AES/CBC/NoPadding"
      case "ChainingModeCFB" => "AES/CFB8/NoPadding"
      case other => throw new IllegalArgumentException(
        s"unsupported OOXML chaining mode $other")
    }
    val c = Cipher.getInstance(mode)
    c.init(Cipher.DECRYPT_MODE,
      new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Pull keyData + the password keyEncryptor out of the agile XML. */
  private def parseDescriptor(xml: Array[Byte]): (KeyData, PasswordKey) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(xml))
    var keyData: KeyData = null
    var pw: PasswordKey = null
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT) {
          def attr(n: String): String = {
            val v = r.getAttributeValue(null, n)
            require(v != null, s"EncryptionInfo ${r.getLocalName} missing attribute $n")
            v
          }
          def b64(n: String): Array[Byte] = Base64.getDecoder.decode(attr(n))
          def int(n: String): Int =
            try attr(n).toInt
            catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"EncryptionInfo ${r.getLocalName} attribute $n='${attr(n)}' is not an integer")
            }
          r.getLocalName match {
            case "keyData" =>
              require(attr("cipherAlgorithm") == "AES",
                s"unsupported OOXML cipher ${attr("cipherAlgorithm")}")
              keyData = KeyData(
                salt = b64("saltValue"),
                blockSize = int("blockSize"),
                keyBits = int("keyBits"),
                hashSize = int("hashSize"),
                hashAlgorithm = attr("hashAlgorithm"),
                cipherAlgorithm = attr("cipherAlgorithm"),
                chaining = attr("cipherChaining"))
            case "encryptedKey"
                if r.getNamespaceURI != null && r.getNamespaceURI.endsWith("/password") =>
              require(attr("cipherAlgorithm") == "AES",
                s"unsupported OOXML cipher ${attr("cipherAlgorithm")}")
              pw = PasswordKey(
                salt = b64("saltValue"),
                blockSize = int("blockSize"),
                keyBits = int("keyBits"),
                spinCount = int("spinCount"),
                hashAlgorithm = attr("hashAlgorithm"),
                cipherAlgorithm = attr("cipherAlgorithm"),
                chaining = attr("cipherChaining"),
                verifierHashInput = b64("encryptedVerifierHashInput"),
                verifierHashValue = b64("encryptedVerifierHashValue"),
                keyValue = b64("encryptedKeyValue"))
            case _ => ()
          }
        }
      }
    } finally r.close()
    require(keyData != null, "EncryptionInfo has no keyData element")
    require(pw != null,
      "EncryptionInfo has no password keyEncryptor (certificate-only " +
        "protection cannot be opened with a password)")
    // AES takes 16-byte blocks and 128/192/256-bit keys only
    Seq("keyData" -> (keyData.blockSize, keyData.keyBits),
      "encryptedKey" -> (pw.blockSize, pw.keyBits)).foreach { case (el, (block, bits)) =>
      require(block == 16, s"EncryptionInfo $el blockSize $block is not AES's 16")
      require(bits == 128 || bits == 192 || bits == 256,
        s"EncryptionInfo $el keyBits $bits is not an AES key size")
    }
    require(pw.spinCount >= 0 && pw.spinCount <= MaxSpinCount,
      s"EncryptionInfo spinCount ${pw.spinCount} outside 0..$MaxSpinCount")
    (keyData, pw)
  }
}
