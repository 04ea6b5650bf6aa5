package graft.sources

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import scala.annotation.switch

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.Pipeline

/** TFRecord + `tf.Example` — the shard format ML dataloaders consume —
  * as a pure-JDK source/sink: the record framing is
  * `u64le length · masked-crc32c(length) · payload · masked-crc32c(payload)`
  * (CRC32C from `java.util.zip`, TensorFlow's mask constant), and the
  * payload is a hand-encoded `tf.Example` protobuf (public wire
  * format: Example→Features→map<string, Feature{bytes_list |
  * float_list | int64_list}>). No TensorFlow, no protobuf-java.
  *
  * This is the EXPORT surface of a training pipeline: after dedup /
  * decontamination / mixing / packing, shards leave Spark as
  * `part-NNNNN.tfrecord` files a `tf.data.TFRecordDataset` (or any
  * TFRecord reader) consumes directly. Writes run under the shared
  * staged commit ([[StagedCommit]]).
  *
  * One byte-level codec works on Spark's internal rows in both
  * directions, with no external `Row` in between:
  *  - write streams the plan's `InternalRow`s into [[ExampleEncoder]]:
  *    the standard protobuf two-pass scheme (size every feature, then
  *    write the framed record into one reused buffer, one CRC32C per
  *    task), each frame going straight to the shard stream;
  *  - read decodes each record in place from the file's buffer
  *    ([[ExampleDecoder]]): frames are CRC-checked as they are reached,
  *    no payload is copied, integer and float lists land in primitive
  *    arrays (`UnsafeArrayData`) and strings in `UTF8String`.
  * `encodeExample`/`decodeExample`/`frame`/`deframe` are thin views
  * over the same code for the specs, not second copies.
  *
  * Scale shape: one container per partition on write (shard count =
  * upstream partitioning — use `repartition(nShards)` or
  * [[graft.ops.Packing]] to size shards). TFRecord carries no sync
  * markers, so files are NOT byte-splittable — the read path never
  * splits a file: each is decoded whole by one task (parallelism
  * comes from shard count, which the writer controls).
  *
  * Type mapping (the `tf.Example` universe is three list kinds):
  * string→bytes_list(utf8), binary→bytes_list, byte/short/int/long/
  * boolean→int64_list, float→float_list, double→float_list
  * (FLOAT32 — tf.Example has no double list; the narrowing is
  * documented and spec-pinned), arrays of those→multi-value lists.
  * NULL values write NO feature; absent features read back as NULL
  * (the TF convention). A list cannot hold a null ELEMENT, so an array
  * with one fails the write with an `IllegalArgumentException` naming
  * the column (checked only where the schema says `containsNull`).
  * Other types are rejected loudly at plan time.
  *
  * Corruption policy mirrors the archive sources: strict read fails
  * typed on a bad CRC or truncated frame; `lenient = true` keeps the
  * records decoded before the corruption (one bad shard in a crawl
  * must not kill the job).
  */
object TfRecord {

  // ------------------------------------------------------------ framing

  /** Frame header (u64le length + its masked CRC) and trailer bytes. */
  private val HeaderLen = 12
  private val FrameOverhead = 16

  /** TensorFlow's masked CRC32C: rotate right 15, add the mask. */
  private def maskedCrc(
      c: java.util.zip.CRC32C, bytes: Array[Byte], off: Int, len: Int): Int = {
    c.reset()
    c.update(bytes, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  private def putU32le(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }

  private def readU32le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def readU64le(b: Array[Byte], off: Int): Long =
    (readU32le(b, off) & 0xffffffffL) | (readU32le(b, off + 4).toLong << 32)

  /** Fill in the header and trailer around a payload already written at
    * `HeaderLen` in `b`; the frame is `b(0 until len + FrameOverhead)`. */
  private def seal(b: Array[Byte], len: Int, c: java.util.zip.CRC32C): Unit = {
    putU32le(b, 0, len); putU32le(b, 4, 0)
    putU32le(b, 8, maskedCrc(c, b, 0, 8))
    putU32le(b, HeaderLen + len, maskedCrc(c, b, HeaderLen, len))
  }

  private[sources] def frame(payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](payload.length + FrameOverhead)
    System.arraycopy(payload, 0, out, HeaderLen, payload.length)
    seal(out, payload.length, new java.util.zip.CRC32C())
    out
  }

  /** Walks the frames of one file in place. `advance()` steps to the
    * next frame, checking both CRCs: false at the end of the file or
    * (lenient) at the first bad frame, keeping the frames before it;
    * strict throws a typed IOException on truncation or CRC mismatch. */
  private final class Frames(bytes: Array[Byte], lenient: Boolean) {
    private val crc = new java.util.zip.CRC32C()
    private var off = 0
    var payloadOff = 0
    var payloadEnd = 0

    private def bad(msg: String): Boolean =
      if (lenient) { off = bytes.length; false }
      else throw new IOException(s"corrupt tfrecord at byte $off: $msg")

    def advance(): Boolean = {
      if (off >= bytes.length) return false
      if (off + HeaderLen > bytes.length) return bad("truncated length frame")
      val len = readU64le(bytes, off)
      if (readU32le(bytes, off + 8) != maskedCrc(crc, bytes, off, 8))
        return bad("length CRC mismatch")
      if (len < 0 || len > bytes.length - off - FrameOverhead)
        return bad(s"declared length $len overruns the file")
      val dataOff = off + HeaderLen
      val end = dataOff + len.toInt
      if (readU32le(bytes, end) != maskedCrc(crc, bytes, dataOff, len.toInt))
        return bad("payload CRC mismatch")
      payloadOff = dataOff
      payloadEnd = end
      off = end + 4
      true
    }
  }

  /** A file's record payloads, copied out (spec view of [[Frames]]). */
  private[sources] def deframe(
      bytes: Array[Byte], lenient: Boolean): Seq[Array[Byte]] = {
    val frames = new Frames(bytes, lenient)
    val out = Seq.newBuilder[Array[Byte]]
    while (frames.advance())
      out += java.util.Arrays.copyOfRange(bytes, frames.payloadOff, frames.payloadEnd)
    out.result()
  }

  // ------------------------------------------------------- column types

  // One code per supported column type, which write and read dispatch
  // on: scalars first, then arrays (`code < AString` is a scalar).
  private final val TString = 0
  private final val TBinary = 1
  private final val TLong = 2
  private final val TInt = 3
  private final val TShort = 4
  private final val TByte = 5
  private final val TBool = 6
  private final val TFloat = 7
  private final val TDouble = 8
  private final val AString = 9
  private final val ABinary = 10
  private final val ALong = 11
  private final val AInt = 12
  private final val AFloat = 13
  private final val ADouble = 14

  /** The column's type code; unsupported types fail loudly. */
  private def typeCode(f: StructField): Int = f.dataType match {
    case StringType => TString
    case BinaryType => TBinary
    case LongType => TLong
    case IntegerType => TInt
    case ShortType => TShort
    case ByteType => TByte
    case BooleanType => TBool
    case FloatType => TFloat
    case DoubleType => TDouble
    case ArrayType(StringType, _) => AString
    case ArrayType(BinaryType, _) => ABinary
    case ArrayType(LongType, _) => ALong
    case ArrayType(IntegerType, _) => AInt
    case ArrayType(FloatType, _) => AFloat
    case ArrayType(DoubleType, _) => ADouble
    case dt => throw new IllegalArgumentException(
      s"tfrecord: unsupported type ${dt.simpleString} for column " +
        s"${f.name} — tf.Example holds bytes/int64/float lists")
  }

  // tf.Example Feature kinds (their field numbers in `Feature`)
  private final val NoKind = 0
  private final val BytesKind = 1
  private final val FloatKind = 2
  private final val Int64Kind = 3

  private def kindOf(code: Int): Int = (code: @switch) match {
    case TString | TBinary | AString | ABinary => BytesKind
    case TFloat | TDouble | AFloat | ADouble => FloatKind
    case _ => Int64Kind
  }

  private val KindNames = Array("no list", "a bytes_list", "a float_list", "an int64_list")

  // ------------------------------------------- protobuf wire encoding

  private def varintSize(v: Long): Int = {
    var n = 1
    var x = v >>> 7
    while (x != 0) { n += 1; x >>>= 7 }
    n
  }

  /** Encodes `schema`'s fields of Catalyst rows as framed tf.Examples
    * with the standard protobuf two-pass scheme: `size` computes every
    * feature's list length, then the record is written once, framed,
    * into one reused growable buffer. The wire shape per non-null
    * field is `Features.feature{ key, value: Feature{ kind: List{
    * value } } }`, numeric lists packed. Rows may carry trailing
    * fields beyond `schema`; they are not encoded. */
  private final class ExampleEncoder(schema: StructType) {
    private val n = schema.length
    private val codes = schema.fields.map(typeCode)
    private val names = schema.fieldNames.map(_.getBytes(UTF_8))
    private val checkNulls = schema.fields.map(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    })
    // per field of the current row: List message length, packed
    // value length (numeric lists), Feature length and map-entry length
    private val listLen = new Array[Int](n)
    private val packedLen = new Array[Int](n)
    private val featureLen = new Array[Int](n)
    private val entryLen = new Array[Int](n)
    private val crc = new java.util.zip.CRC32C()
    private var buf = new Array[Byte](1 << 12)
    private var pos = 0

    /** The buffer holding the last record: payload at `HeaderLen`. */
    def buffer: Array[Byte] = buf

    /** Encode `row` into the buffer, framed; returns the payload length. */
    def encode(row: InternalRow): Int = {
      var total = 0
      var i = 0
      while (i < n) {
        if (!row.isNullAt(i)) {
          size(row, i)
          featureLen(i) = 1 + varintSize(listLen(i)) + listLen(i)
          entryLen(i) = 1 + varintSize(names(i).length) + names(i).length +
            1 + varintSize(featureLen(i)) + featureLen(i)
          total += 1 + varintSize(entryLen(i)) + entryLen(i)
        }
        i += 1
      }
      val payload = 1 + varintSize(total) + total
      if (buf.length < payload + FrameOverhead)
        buf = new Array[Byte](math.max(payload + FrameOverhead, buf.length * 2))
      pos = HeaderLen
      tagged(0x0a, total) // Example.features = 1
      i = 0
      while (i < n) {
        if (!row.isNullAt(i)) {
          tagged(0x0a, entryLen(i)) // Features.feature map entry = 1
          tagged(0x0a, names(i).length) // key = 1
          System.arraycopy(names(i), 0, buf, pos, names(i).length)
          pos += names(i).length
          tagged(0x12, featureLen(i)) // value = 2
          writeFeature(row, i)
        }
        i += 1
      }
      seal(buf, payload, crc)
      payload
    }

    /** Encode and write one framed record to `os`. */
    def write(row: InternalRow, os: java.io.OutputStream): Unit = {
      val len = encode(row)
      os.write(buf, 0, len + FrameOverhead)
    }

    private def noNulls(a: ArrayData, i: Int): Unit =
      if (checkNulls(i)) {
        var j = 0
        while (j < a.numElements()) {
          if (a.isNullAt(j)) throw new IllegalArgumentException(
            s"tfrecord: column ${schema.fields(i).name} holds a null array element " +
              s"at index $j — a tf.Example list cannot hold a null")
          j += 1
        }
      }

    private def int64Value(row: InternalRow, i: Int): Long = (codes(i): @switch) match {
      case TLong => row.getLong(i)
      case TInt => row.getInt(i).toLong
      case TShort => row.getShort(i).toLong
      case TByte => row.getByte(i).toLong
      case _ => if (row.getBoolean(i)) 1L else 0L
    }

    /** A bytes value inside its BytesList: tag, length, bytes. */
    private def bytesValueSize(len: Int): Int = 1 + varintSize(len) + len

    /** First pass: the List message length of field `i` (and, for a
      * numeric list, the packed length inside it). */
    private def size(row: InternalRow, i: Int): Unit = {
      val code = codes(i)
      var body = 0
      if (code < AString) body = (code: @switch) match {
        case TString => bytesValueSize(row.getUTF8String(i).numBytes())
        case TBinary => bytesValueSize(row.getBinary(i).length)
        case TFloat | TDouble => 4
        case _ => varintSize(int64Value(row, i))
      } else {
        val a = row.getArray(i)
        noNulls(a, i)
        var j = 0
        while (j < a.numElements()) { body += elementSize(a, j, code); j += 1 }
      }
      if (kindOf(code) == BytesKind) listLen(i) = body
      else {
        packedLen(i) = body
        listLen(i) = 1 + varintSize(body) + body
      }
    }

    private def elementSize(a: ArrayData, j: Int, code: Int): Int = (code: @switch) match {
      case AString => bytesValueSize(a.getUTF8String(j).numBytes())
      case ABinary => bytesValueSize(a.getBinary(j).length)
      case ALong => varintSize(a.getLong(j))
      case AInt => varintSize(a.getInt(j).toLong)
      case _ => 4
    }

    /** Second pass: field `i`'s Feature message at `pos`. */
    private def writeFeature(row: InternalRow, i: Int): Unit = {
      val code = codes(i)
      val kind = kindOf(code)
      tagged((kind << 3) | 2, listLen(i)) // Feature.<kind>_list
      if (kind != BytesKind) tagged(0x0a, packedLen(i)) // List.value = 1, packed
      if (code < AString) (code: @switch) match {
        case TString => putString(row.getUTF8String(i))
        case TBinary => putBytes(row.getBinary(i))
        case TFloat => putFloat(row.getFloat(i))
        case TDouble => putFloat(row.getDouble(i).toFloat)
        case _ => putVarint(int64Value(row, i))
      } else {
        val a = row.getArray(i)
        var j = 0
        while (j < a.numElements()) { putElement(a, j, code); j += 1 }
      }
    }

    private def putElement(a: ArrayData, j: Int, code: Int): Unit = (code: @switch) match {
      case AString => putString(a.getUTF8String(j))
      case ABinary => putBytes(a.getBinary(j))
      case ALong => putVarint(a.getLong(j))
      case AInt => putVarint(a.getInt(j).toLong)
      case AFloat => putFloat(a.getFloat(j))
      case _ => putFloat(a.getDouble(j).toFloat)
    }

    private def putVarint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) {
        buf(pos) = ((x & 0x7f) | 0x80).toByte
        pos += 1
        x >>>= 7
      }
      buf(pos) = x.toByte
      pos += 1
    }

    private def tagged(tag: Int, len: Int): Unit = {
      buf(pos) = tag.toByte
      pos += 1
      putVarint(len)
    }

    /** One BytesList value: `value = 1` + length + the UTF-8 bytes. */
    private def putString(s: UTF8String): Unit = {
      tagged(0x0a, s.numBytes())
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += s.numBytes()
    }

    private def putBytes(b: Array[Byte]): Unit = {
      tagged(0x0a, b.length)
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }

    private def putFloat(f: Float): Unit = {
      putU32le(buf, pos, java.lang.Float.floatToIntBits(f))
      pos += 4
    }
  }

  /** One row → serialized tf.Example (spec view of [[ExampleEncoder]]). */
  private[sources] def encodeExample(
      row: Row, schema: StructType): Array[Byte] = {
    val enc = new ExampleEncoder(schema)
    val len = enc.encode(CatalystTypeConverters.createToCatalystConverter(schema)(row)
      .asInstanceOf[InternalRow])
    java.util.Arrays.copyOfRange(enc.buffer, HeaderLen, HeaderLen + len)
  }

  // ------------------------------------------- protobuf wire decoding

  /** Reads tf.Example wire bytes in place from one buffer. `scan` walks
    * Example → Features → map entries and hands each complete entry's
    * key and value ranges to `entry`; `decodeFeature` decodes one
    * Feature message into reused scratch arrays (`kind`, `count`, then
    * `longs`/`floats` or byte-range `sliceOff`/`sliceLen`). Every
    * malformed input fails with a typed IOException. */
  private abstract class WireReader {
    protected var b: Array[Byte] = Array.emptyByteArray
    private var pos = 0

    var kind = NoKind
    var count = 0
    var longs = new Array[Long](64)
    var floats = new Array[Float](64)
    var sliceOff = new Array[Int](16)
    var sliceLen = new Array[Int](16)

    protected def entry(keyOff: Int, keyLen: Int, valueOff: Int, valueEnd: Int): Unit

    private def varint(end: Int): Long = {
      var shift = 0
      var v = 0L
      while (true) {
        if (pos >= end) throw new IOException("tfrecord: truncated varint")
        val x = b(pos) & 0xff
        pos += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
        if (shift > 63) throw new IOException("tfrecord: varint overflow")
      }
      v
    }

    /** Reads a length prefix; returns the end of the delimited bytes. */
    private def delimEnd(end: Int): Int = {
      val len = varint(end)
      if (len < 0 || len > end - pos)
        throw new IOException("tfrecord: length overruns message")
      pos + len.toInt
    }

    private def fixed32(end: Int): Int = {
      if (end - pos < 4) throw new IOException("tfrecord: truncated fixed32")
      val v = readU32le(b, pos)
      pos += 4
      v
    }

    private def skip(wireType: Int, end: Int): Unit = wireType match {
      case 0 => varint(end); ()
      case 1 =>
        if (end - pos < 8) throw new IOException("tfrecord: truncated fixed64")
        pos += 8
      case 2 => pos = delimEnd(end)
      case 5 => fixed32(end); ()
      case other => throw new IOException(s"tfrecord: wire type $other")
    }

    final def scan(bytes: Array[Byte], off: Int, end: Int): Unit = {
      b = bytes
      pos = off
      while (pos < end) {
        val t = varint(end)
        if (t == 0x0a) { // Example.features = 1
          val fsEnd = delimEnd(end)
          while (pos < fsEnd) {
            val t2 = varint(fsEnd)
            if (t2 == 0x0a) { // Features.feature map entry = 1
              val eEnd = delimEnd(fsEnd)
              var keyOff, keyLen, valueOff, valueEnd = -1
              while (pos < eEnd) {
                val t3 = varint(eEnd)
                if (t3 == 0x0a || t3 == 0x12) { // key = 1, value = 2
                  val e = delimEnd(eEnd)
                  if (t3 == 0x0a) { keyOff = pos; keyLen = e - pos }
                  else { valueOff = pos; valueEnd = e }
                  pos = e
                } else skip((t3 & 7).toInt, eEnd)
              }
              if (keyOff >= 0 && valueOff >= 0) entry(keyOff, keyLen, valueOff, valueEnd)
            } else skip((t2 & 7).toInt, fsEnd)
          }
        } else skip((t & 7).toInt, end)
      }
    }

    /** Decode the Feature message at [off, end): the last list kind set
      * wins; packed and unpacked numeric values both accumulate. */
    final def decodeFeature(off: Int, end: Int): Unit = {
      kind = NoKind
      count = 0
      pos = off
      while (pos < end) {
        val t = varint(end)
        val field = (t >>> 3).toInt
        val wt = (t & 7).toInt
        if (wt == 2 && (field == BytesKind || field == FloatKind || field == Int64Kind)) {
          val listEnd = delimEnd(end)
          kind = field
          count = 0
          while (pos < listEnd) {
            val t2 = varint(listEnd)
            if (t2 == 0x0a) { // value = 1, length-delimited
              val e = delimEnd(listEnd)
              (field: @switch) match {
                case BytesKind => addSlice(pos, e - pos); pos = e
                case FloatKind =>
                  while (pos < e) addFloat(java.lang.Float.intBitsToFloat(fixed32(e)))
                case _ => while (pos < e) addLong(varint(e))
              }
            } else if (field == FloatKind && t2 == 0x0d) {
              addFloat(java.lang.Float.intBitsToFloat(fixed32(listEnd)))
            } else if (field == Int64Kind && t2 == 0x08) {
              addLong(varint(listEnd))
            } else skip((t2 & 7).toInt, listEnd)
          }
        } else skip(wt, end)
      }
    }

    private def addLong(v: Long): Unit = {
      if (count == longs.length) longs = java.util.Arrays.copyOf(longs, count * 2)
      longs(count) = v
      count += 1
    }

    private def addFloat(v: Float): Unit = {
      if (count == floats.length) floats = java.util.Arrays.copyOf(floats, count * 2)
      floats(count) = v
      count += 1
    }

    private def addSlice(off: Int, len: Int): Unit = {
      if (count == sliceOff.length) {
        sliceOff = java.util.Arrays.copyOf(sliceOff, count * 2)
        sliceLen = java.util.Arrays.copyOf(sliceLen, count * 2)
      }
      sliceOff(count) = off
      sliceLen(count) = len
      count += 1
    }
  }

  /** Decodes records into Catalyst rows of `schema`. A record's entries
    * are located first (the last entry of a name wins); only features
    * the schema asks for are then decoded — a 2-column read of a shard
    * with 30 features never parses the other 28. */
  private final class ExampleDecoder(schema: StructType) extends WireReader {
    private val n = schema.length
    private val names = schema.fieldNames.map(_.getBytes(UTF_8))
    private val codes = schema.fields.map(f =>
      try typeCode(f) catch { case _: IllegalArgumentException => -1 })
    // fields sharing a name all read the entry located for the first
    private val canon = Array.tabulate(n)(i => names.indexWhere(java.util.Arrays.equals(_, names(i))))
    private val valueOff = new Array[Int](n)
    private val valueEnd = new Array[Int](n)
    private var next = 0
    private var ints = new Array[Int](64)
    private var doubles = new Array[Double](64)

    /** Field matching key bytes, trying the field after the last match
      * first (records usually keep the writer's schema order). */
    override protected def entry(keyOff: Int, keyLen: Int, vOff: Int, vEnd: Int): Unit = {
      var k = 0
      while (k < n) {
        val i = if (next + k < n) next + k else next + k - n
        if (java.util.Arrays.equals(b, keyOff, keyOff + keyLen, names(i), 0, names(i).length)) {
          valueOff(canon(i)) = vOff
          valueEnd(canon(i)) = vEnd
          next = if (i + 1 < n) i + 1 else 0
          return
        }
        k += 1
      }
    }

    def decode(bytes: Array[Byte], off: Int, end: Int): InternalRow = {
      java.util.Arrays.fill(valueEnd, -1)
      scan(bytes, off, end)
      val values = new Array[Any](n)
      var i = 0
      while (i < n) {
        val c = canon(i)
        if (valueEnd(c) >= 0) {
          decodeFeature(valueOff(c), valueEnd(c))
          values(i) = cell(i)
        }
        if (values(i) == null && !schema.fields(i).nullable)
          throw new IOException(s"tfrecord: feature ${schema.fields(i).name} is " +
            "absent but the read schema declares it non-nullable")
        i += 1
      }
      new GenericInternalRow(values)
    }

    /** The decoded feature as field `i`'s Catalyst value: NULL when the
      * Feature set no list kind (or a scalar's list is empty). */
    private def cell(i: Int): Any = {
      if (kind == NoKind) return null
      val code = codes(i)
      if (code < 0 || kindOf(code) != kind) throw new IOException(
        s"tfrecord: feature ${schema.fields(i).name} holds ${KindNames(kind)} " +
          s"but the read schema asks for ${schema.fields(i).dataType.simpleString}")
      if (count == 0 && code < AString) return null
      (code: @switch) match {
        case TString => UTF8String.fromBytes(b, sliceOff(0), sliceLen(0))
        case TBinary => java.util.Arrays.copyOfRange(b, sliceOff(0), sliceOff(0) + sliceLen(0))
        case TLong => longs(0)
        case TInt => longs(0).toInt
        case TShort => longs(0).toShort
        case TByte => longs(0).toByte
        case TBool => longs(0) != 0
        case TFloat => floats(0)
        case TDouble => floats(0).toDouble
        case AString => new GenericArrayData(Array.tabulate[Any](count)(j =>
          UTF8String.fromBytes(b, sliceOff(j), sliceLen(j))))
        case ABinary => new GenericArrayData(Array.tabulate[Any](count)(j =>
          java.util.Arrays.copyOfRange(b, sliceOff(j), sliceOff(j) + sliceLen(j))))
        case ALong => UnsafeArrayData.fromPrimitiveArray(longs, Platform.LONG_ARRAY_OFFSET, count, 8)
        case AInt =>
          if (ints.length < count) ints = new Array[Int](longs.length)
          var j = 0
          while (j < count) { ints(j) = longs(j).toInt; j += 1 }
          UnsafeArrayData.fromPrimitiveArray(ints, Platform.INT_ARRAY_OFFSET, count, 4)
        case AFloat => UnsafeArrayData.fromPrimitiveArray(floats, Platform.FLOAT_ARRAY_OFFSET, count, 4)
        case ADouble =>
          if (doubles.length < count) doubles = new Array[Double](floats.length)
          var j = 0
          while (j < count) { doubles(j) = floats(j).toDouble; j += 1 }
          UnsafeArrayData.fromPrimitiveArray(doubles, Platform.DOUBLE_ARRAY_OFFSET, count, 8)
      }
    }

    /** The records of one file, decoded as their frames are reached. */
    def records(bytes: Array[Byte], lenient: Boolean): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        private val frames = new Frames(bytes, lenient)
        private var ready = frames.advance()
        def hasNext: Boolean = ready
        def next(): InternalRow = {
          val row = decode(bytes, frames.payloadOff, frames.payloadEnd)
          ready = frames.advance()
          row
        }
      }
  }

  private[sources] sealed trait FeatureValue
  private[sources] case class BytesValues(v: Seq[Array[Byte]]) extends FeatureValue
  private[sources] case class FloatValues(v: Seq[Float]) extends FeatureValue
  private[sources] case class Int64Values(v: Seq[Long]) extends FeatureValue

  /** Serialized tf.Example → (feature name → value), the spec view of
    * [[WireReader]]. `wanted = null` decodes everything; a non-null set
    * decodes ONLY those features (the others' value bytes are located,
    * never parsed). A present Feature with no list kind maps to null. */
  private[sources] def decodeExample(
      payload: Array[Byte],
      wanted: java.util.Set[String] = null): Map[String, FeatureValue] = {
    val found = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Int)]
    val reader = new WireReader {
      override protected def entry(keyOff: Int, keyLen: Int, vOff: Int, vEnd: Int): Unit = {
        val key = new String(b, keyOff, keyLen, UTF_8)
        if (wanted == null || wanted.contains(key)) found(key) = (vOff, vEnd)
      }
    }
    reader.scan(payload, 0, payload.length)
    found.map { case (key, (off, end)) =>
      reader.decodeFeature(off, end)
      val c = reader.count
      key -> ((reader.kind: @switch) match {
        case BytesKind => BytesValues((0 until c).map(j => java.util.Arrays.copyOfRange(
          payload, reader.sliceOff(j), reader.sliceOff(j) + reader.sliceLen(j))))
        case FloatKind => FloatValues(reader.floats.take(c).toSeq)
        case Int64Kind => Int64Values(reader.longs.take(c).toSeq)
        case _ => null
      })
    }.toMap
  }

  // ------------------------------------------------------------ API

  /** Write `df` as TFRecord shards of tf.Example rows, one
    * `part-NNNNN.tfrecord[.gz]` per partition under `dir`, staged
    * commit. Shard count = `df`'s partitioning (repartition
    * upstream). `gzip` writes whole-file-gzipped shards — the
    * `tf.data.TFRecordDataset(compression_type="GZIP")` convention.
    * The plan's internal rows stream straight into the encoder, as
    * one RDD action outside a SQL execution. */
  def write(df: DataFrame, dir: String, gzip: Boolean = false): Unit =
    writeRows(df.queryExecution.toRdd, df.schema, dir, gzip)

  /** Encode `schema`'s fields of each row, one shard per partition. */
  private def writeRows(rows: RDD[InternalRow], schema: StructType, dir: String,
      gzip: Boolean): Unit = {
    new ExampleEncoder(schema) // reject unsupported columns at PLAN time
    val ext = if (gzip) ".tfrecord.gz" else ".tfrecord"
    StagedCommit.write(rows, dir, ext) { (_, it, os) =>
      val out = if (gzip) new java.util.zip.GZIPOutputStream(os, 1 << 16)
        else new java.io.BufferedOutputStream(os, 1 << 16)
      val enc = new ExampleEncoder(schema)
      try it.foreach(enc.write(_, out))
      finally out.close()
    }
  }

  /** Write a shuffled-sharded sequence set
    * ([[graft.ops.Packing.assignShuffledShards]]'s shape: a dense
    * `shard_id` 0..nShards−1 plus a unique `rank`) as its training
    * FILE layout: exactly ONE `part-NNNNN.tfrecord[.gz]` per shard
    * (file NNNNN = shard NNNNN), rows in rank order within the file —
    * the bijection a dataloader's `shard(i) = file(i)` contract needs.
    *
    * Hash repartitioning cannot guarantee that bijection (two shard
    * ids may fold into one task, leaving other files empty), so rows
    * are routed by a DIRECT partitioner on `shard_id` with the rank
    * sort folded into the same shuffle
    * (`repartitionAndSortWithinPartitions` — one exchange, no second
    * sort pass). The shuffled values are copies of the plan's internal
    * rows (the plan reuses its row objects), handed straight to the
    * encoder. `nShards` = max(shard_id)+1: one bounded scalar
    * action, and the cap below keeps a mis-assigned shard column from
    * provisioning millions of reducers. */
  def writeShardFiles(df: DataFrame, dir: String, gzip: Boolean = false): Unit = {
    require(df.columns.contains("shard_id") && df.columns.contains("rank"),
      "writeShardFiles expects assignShuffledShards output (shard_id, rank columns)")
    val maxRow = df.agg(org.apache.spark.sql.functions.max(
      col("shard_id")).cast("long")).head()
    if (maxRow.isNullAt(0)) { write(df.repartition(1), dir, gzip); return }
    val nShards = maxRow.getLong(0) + 1
    require(nShards >= 1 && nShards <= (1 << 20),
      s"writeShardFiles: $nShards shard files — raise rowsPerShard " +
        "(a shard per task AND per file; >1M files is a layout smell)")
    // the two keys ride as trailing long columns the encoder never sees
    val n = df.schema.length
    val keyed = df.select(col("*"), col("shard_id").cast(LongType),
      col("rank").cast(LongType)).queryExecution.toRdd.map { r =>
      require(!r.isNullAt(n) && !r.isNullAt(n + 1),
        "writeShardFiles: null shard_id or rank")
      val sid = r.getLong(n)
      require(sid >= 0 && sid < nShards,
        s"writeShardFiles: shard_id $sid outside [0, $nShards)")
      ((sid, r.getLong(n + 1)), r.copy())
    }
    val byShard = new org.apache.spark.Partitioner {
      override def numPartitions: Int = nShards.toInt
      override def getPartition(key: Any): Int =
        key.asInstanceOf[(Long, Long)]._1.toInt
    }
    implicit val keyOrd: Ordering[(Long, Long)] =
      Ordering.Tuple2(Ordering.Long, Ordering.Long)
    writeRows(keyed.repartitionAndSortWithinPartitions(byShard).values,
      df.schema, dir, gzip)
  }

  /** Read TFRecord shards of tf.Example rows back into `schema` —
    * features absent from a record read as NULL; features present
    * under a mismatching kind fail typed. Files are never split: each
    * is decoded whole, in place, by one task (TFRecord has no sync
    * markers; shard count is the parallelism, as the writer controls
    * it). */
  def read(spark: SparkSession, dir: String, schema: StructType,
      lenient: Boolean = false): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tfrecord*")
      .option("recursiveFileLookup", true).load(dir)
    val pathIdx = files.schema.fieldIndex("path")
    val contentIdx = files.schema.fieldIndex("content")
    val rows = files.queryExecution.toRdd.mapPartitions { it =>
      val dec = new ExampleDecoder(schema)
      it.flatMap { file =>
        val raw = file.getBinary(contentIdx)
        val bytes =
          if (!file.getUTF8String(pathIdx).toString.endsWith(".gz")) raw
          else {
            val in = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(raw), 1 << 16)
            try in.readAllBytes() finally in.close()
          }
        dec.records(bytes, lenient)
      }
    }
    Bridge.internalRows(spark, rows, schema)
  }

  /** Pipeline-verb form of [[read]]. */
  def source(spark: SparkSession, dir: String, schema: StructType): Pipeline =
    Pipeline.of(s"tfrecord($dir)", read(spark, dir, schema))
}
