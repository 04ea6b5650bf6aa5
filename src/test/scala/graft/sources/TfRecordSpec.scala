package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** TFRecord/tf.Example source+sink: framing golden bytes (the public
  * TensorFlow constants — any TFRecord reader must accept our files),
  * full-type roundtrip, absent-feature NULLs, the documented
  * double→float32 narrowing, corruption policy (strict typed /
  * lenient prefix), and loud type rejects. */
class TfRecordSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tfrecord-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-tfr-$tag").toString

  /** `feature { key: "a" value {} }`: an Example whose one Feature sets
    * NO bytes/float/int64 kind. Our writer never emits this, so the
    * wire bytes are hand-assembled: Example > features(field 1) > map
    * entry { key(field 1) = "a", value(field 2) = empty Feature }. */
  private val kindlessExample: Array[Byte] = {
    val entry = Array[Byte](0x0a, 0x01, 'a', 0x12, 0x00) // key "a", empty value
    val features = Array[Byte](0x0a, entry.length.toByte) ++ entry
    Array[Byte](0x0a, features.length.toByte) ++ features
  }

  test("framing golden bytes: length, masked CRC32C, payload CRC") {
    // TF's own worked constants: crc32c("") masked = 0xa282ead8 + rot(0)
    val framed = TfRecord.frame(Array.emptyByteArray)
    assert(framed.length == 16)
    // length field: 0 as u64le
    assert(framed.take(8).forall(_ == 0))
    // independently computed masked crcs
    def masked(bytes: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32C(); c.update(bytes, 0, bytes.length)
      val crc = c.getValue.toInt
      ((crc >>> 15) | (crc << 17)) + 0xa282ead8
    }
    val lenCrc = java.nio.ByteBuffer.wrap(framed, 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(lenCrc == masked(new Array[Byte](8)))
    val dataCrc = java.nio.ByteBuffer.wrap(framed, 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(dataCrc == masked(Array.emptyByteArray))
    // deframe inverts frame for arbitrary payloads
    val rnd = new scala.util.Random(5L)
    val payloads = (0 until 50).map { _ =>
      val a = new Array[Byte](rnd.nextInt(500)); rnd.nextBytes(a); a
    }
    val file = payloads.toArray.flatMap(TfRecord.frame)
    val back = TfRecord.deframe(file, lenient = false)
    assert(back.size == 50)
    back.zip(payloads).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private val scalarSchema = StructType(Seq(
    StructField("s", StringType), StructField("bin", BinaryType),
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("sh", ShortType), StructField("by", ByteType),
    StructField("b", BooleanType), StructField("f", FloatType),
    StructField("d", DoubleType)))
  private val arraySchema = StructType(Seq(
    StructField("as", ArrayType(StringType)), StructField("abin", ArrayType(BinaryType)),
    StructField("al", ArrayType(LongType)), StructField("ai", ArrayType(IntegerType)),
    StructField("af", ArrayType(FloatType)), StructField("ad", ArrayType(DoubleType))))

  /** Wire cases pinned against payload bytes captured from the
    * original per-value encoder: any rewrite of the codec must keep
    * every byte. */
  private val goldenCases: Seq[(String, StructType, Row)] = Seq(
    ("scalars", scalarSchema, Row("héllo €😀", Array[Byte](0, -1, 0x7f, -128), 300L, 7,
      3.toShort, 5.toByte, true, 1.5f, 2.5)),
    ("negatives", scalarSchema, Row("", Array.emptyByteArray, -1L, Int.MinValue,
      (-2).toShort, (-128).toByte, false, -0.0f, -1e-3)),
    ("varint extremes", StructType(Seq(StructField("min", LongType),
      StructField("m1", LongType), StructField("max", LongType),
      StructField("i1", IntegerType))), Row(Long.MinValue, -1L, Long.MaxValue, -1)),
    ("arrays", arraySchema, Row(Seq("a", "", "日本語", "😀"),
      Seq(Array[Byte](1, 2), Array.emptyByteArray, Array[Byte](-1)),
      Seq(Long.MinValue, -1L, 0L, 1L, 128L), Seq(-1, 0, 300, Int.MaxValue),
      Seq(0.25f, -2f, Float.MaxValue), Seq(0.1, 1e40, -0.5))),
    ("empty arrays", arraySchema, Row(Seq.empty[String], Seq.empty[Array[Byte]],
      Seq.empty[Long], Seq.empty[Int], Seq.empty[Float], Seq.empty[Double])),
    ("all null", scalarSchema, Row(null, null, null, null, null, null, null, null, null)),
    ("double narrowing", StructType(Seq(StructField("d", DoubleType),
      StructField("ad", ArrayType(DoubleType)))),
      Row(0.1, Seq(math.Pi, 1.0 / 3, 1e-50))),
    ("512 ids", StructType(Seq(StructField("seq_id", LongType),
      StructField("input_ids", ArrayType(IntegerType)))),
      Row(123456789L, (0 until 512).map(j => (j * 7919) % 60000))))

  /** Payload bytes of [[goldenCases]] as the original encoder wrote
    * them (hex); the 512-id case is pinned by length and SHA-256. */
  private val goldenHex: Map[String, String] = Map(
    "scalars" -> (
      "0a87010a170a017312120a100a0e68c3a96c6c6f20e282acf09f98800a0f0a03" +
      "62696e12080a060a0400ff7f800a0b0a016c12061a040a02ac020a0a0a016912" +
      "051a030a01070a0b0a02736812051a030a01030a0b0a02627912051a030a0105" +
      "0a0a0a016212051a030a01010a0d0a0166120812060a040000c03f0a0d0a0164" +
      "120812060a0400002040"),
    "negatives" -> (
      "0a98010a090a017312040a020a000a0b0a0362696e12040a020a000a130a016c" +
      "120e1a0c0a0affffffffffffffffff010a130a0169120e1a0c0a0a80808080f8" +
      "ffffffff010a140a027368120e1a0c0a0afeffffffffffffffff010a140a0262" +
      "79120e1a0c0a0a80ffffffffffffffff010a0a0a016212051a030a01000a0d0a" +
      "0166120812060a04000000800a0d0a0164120812060a046f1283ba"),
    "varint extremes" -> (
      "0a590a150a036d696e120e1a0c0a0a808080808080808080010a140a026d3112" +
      "0e1a0c0a0affffffffffffffffff010a140a036d6178120d1a0b0a09ffffffff" +
      "ffffffff7f0a140a026931120e1a0c0a0affffffffffffffffff01"),
    "arrays" -> (
      "0aa7010a1e0a02617312180a160a01610a000a09e697a5e69cace8aa9e0a04f0" +
      "9f98800a130a046162696e120b0a090a0201020a000a01ff0a220a02616c121c" +
      "1a1a0a1880808080808080808001ffffffffffffffffff01000180010a1c0a02" +
      "616912161a140a12ffffffffffffffffff0100ac02ffffffff070a160a026166" +
      "1210120e0a0c0000803e000000c0ffff7f7f0a160a0261641210120e0a0ccdcc" +
      "cc3d0000807f000000bf"),
    "empty arrays" -> (
      "0a460a080a02617312020a000a0a0a046162696e12020a000a0a0a02616c1204" +
      "1a020a000a0a0a02616912041a020a000a0a0a026166120412020a000a0a0a02" +
      "6164120412020a00"),
    "all null" -> (
      "0a00"),
    "double narrowing" -> (
      "0a270a0d0a0164120812060a04cdcccc3d0a160a0261641210120e0a0cdb0f49" +
      "40abaaaa3e00000000"))

  test("golden wire bytes: every type pinned against the captured encoding") {
    goldenCases.foreach { case (name, schema, row) =>
      val got = TfRecord.encodeExample(row, schema)
      if (name == "512 ids") {
        assert(got.length == 1438, name)
        assert(hex(java.security.MessageDigest.getInstance("SHA-256").digest(got)) ==
          "62e906390759ebb84f8cb276c2e2e0558d25d2043658e4c49297f6539b9b4995", name)
      } else assert(hex(got) == goldenHex(name), name)
    }
  }

  /** 400 seeded rows over every accepted type (top-level nulls
    * included), framed back to back: the bytes one single-partition
    * TfRecord.write of them must produce. */
  private def randomRows(): Seq[Row] = {
    val rnd = new scala.util.Random(20261018L)
    val alphabet = Seq("a", "b", " ", "é", "€", "日", "😀")
    def str() = (0 until rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    def bin() = { val a = new Array[Byte](rnd.nextInt(6)); rnd.nextBytes(a); a }
    def seq[A](f: => A) = (0 until rnd.nextInt(5)).map(_ => f)
    def opt(v: => Any): Any = if (rnd.nextInt(8) == 0) null else v
    (0 until 400).map { _ =>
      Row(opt(str()), opt(bin()), opt(rnd.nextLong()), opt(rnd.nextInt()),
        opt(rnd.nextInt().toShort), opt(rnd.nextInt().toByte), opt(rnd.nextBoolean()),
        opt(rnd.nextFloat() * 1000 - 500), opt(rnd.nextGaussian() * 1e6),
        opt(seq(str())), opt(seq(bin())), opt(seq(rnd.nextLong())),
        opt(seq(rnd.nextInt())), opt(seq(rnd.nextFloat())), opt(seq(rnd.nextGaussian())))
    }
  }
  private val randomSchema = StructType(scalarSchema.fields ++ arraySchema.fields)

  test("golden file bytes: a one-partition write of 400 random rows, every type") {
    val rows = randomRows()
    val digest = "8ed74c0dfda32a8f43e9646c0a0b24dd26fe58e23d1194ef543ab2e48f076f48"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(TfRecord.frame(TfRecord.encodeExample(r, randomSchema))))
    assert(hex(md.digest()) == digest, "encodeExample + frame")
    val dir = tmp("golden400")
    TfRecord.write(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), randomSchema), dir)
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord")).head
    assert(hex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(file.toPath))) == digest, "TfRecord.write")
    // and back: every value survives, doubles as their float32
    // narrowing (short/byte columns read back as int64)
    def norm(r: Row): List[Any] = r.toSeq.zip(randomSchema.fields).map {
      case (null, _) => null
      case (v: Double, _) => v.toFloat.toDouble
      case (v: Short, _) => v.toLong
      case (v: Byte, _) => v.toLong
      case (v: Array[Byte], _) => v.toList
      case (v: scala.collection.Seq[_], f) => v.map {
        case b: Array[Byte] => b.toList
        case d: Double if f.dataType == ArrayType(DoubleType) => d.toFloat.toDouble
        case x => x
      }.toList
      case (v, _) => v
    }.toList
    val readSchema = StructType(randomSchema.fields.map {
      case StructField(n, ShortType | ByteType, _, _) => StructField(n, LongType)
      case f => f
    })
    val backRows = TfRecord.read(spark, dir, readSchema).collect()
    assert(backRows.map(norm).toSeq.sortBy(_.toString) == rows.map(norm).sortBy(_.toString))
  }

  test("full-type roundtrip incl. arrays; absent features read as NULL") {
    val schema = StructType(Seq(
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("l", LongType),
      StructField("i", IntegerType),
      StructField("b", BooleanType),
      StructField("f", FloatType),
      StructField("arr_s", ArrayType(StringType)),
      StructField("arr_l", ArrayType(LongType)),
      StructField("arr_f", ArrayType(FloatType))))
    val rows = Seq(
      Row("héllo", Array[Byte](1, 2, -3), Long.MaxValue, -42, true, 1.5f,
        Seq("a", "", "ccc"), Seq(-1L, 0L, Long.MinValue), Seq(0.25f, -2f)),
      // every field null: no features written, all read back NULL
      Row(null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("roundtrip")
    TfRecord.write(df, dir)
    val back = TfRecord.read(spark, dir, schema).collect()
      .sortBy(r => if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
    assert(back.length == 2)
    val n = back(0) // the all-null row sorts first
    assert((0 until 9).forall(n.isNullAt))
    val v = back(1)
    assert(v.getString(0) == "héllo")
    assert(v.getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, -3))
    assert(v.getLong(2) == Long.MaxValue)
    assert(v.getInt(3) == -42 && v.getBoolean(4) && v.getFloat(5) == 1.5f)
    assert(v.getSeq[String](6) == Seq("a", "", "ccc"))
    assert(v.getSeq[Long](7) == Seq(-1L, 0L, Long.MinValue))
    assert(v.getSeq[Float](8) == Seq(0.25f, -2f))
  }

  test("double narrows to float32 (tf.Example has no double list) — documented") {
    import spark.implicits._
    val dir = tmp("double")
    TfRecord.write(Seq((1L, 0.1)).toDF("id", "d"), dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType)))
    val got = TfRecord.read(spark, dir, schema).collect().head.getDouble(1)
    assert(got == 0.1f.toDouble) // exactly the float32 narrowing, not 0.1
  }

  test("corruption: strict fails typed; lenient keeps the decoded prefix") {
    import spark.implicits._
    val dir = tmp("corrupt")
    TfRecord.write((1L to 20L).toDF("id").coalesce(1), dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).head
    val bytes = Files.readAllBytes(file.toPath)
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x5a).toByte
    Files.write(file.toPath, bytes)
    // drop the Hadoop local-FS checksum sidecar: the test corrupts the
    // DATA path (TFRecord's own CRCs), not the transport layer
    Files.deleteIfExists(Paths.get(dir, s".${file.getName}.crc"))
    val schema = StructType(Seq(StructField("id", LongType)))
    val strict = intercept[Exception] {
      TfRecord.read(spark, dir, schema).count()
    }
    def causes(t: Throwable) =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(strict).exists(_.isInstanceOf[java.io.IOException]))
    val kept = TfRecord.read(spark, dir, schema, lenient = true)
      .collect().map(_.getLong(0)).sorted
    assert(kept.length == 19, s"lenient must keep the 19 clean records, got ${kept.length}")
  }

  test("present-but-empty Feature (no kind set) reads as NULL, not a kind-mismatch NPE") {
    // a hostile/foreign shard can hold a Feature message with no kind
    val dir = tmp("emptyfeat")
    Files.write(Paths.get(dir, "part-00000.tfrecord"), TfRecord.frame(kindlessExample))
    val out = TfRecord.read(spark, dir,
      StructType(Seq(StructField("a", StringType)))).collect()
    assert(out.length == 1 && out.head.isNullAt(0),
      s"empty-kind feature must read as NULL, got ${out.toSeq}")
    // same under an array-typed ask
    val outArr = TfRecord.read(spark, dir,
      StructType(Seq(StructField("a", ArrayType(LongType))))).collect()
    assert(outArr.length == 1 && outArr.head.isNullAt(0))
  }

  test("loud rejects: unsupported column type; kind mismatch on read") {
    import spark.implicits._
    val bad = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("id", "ts")
    intercept[IllegalArgumentException] { TfRecord.write(bad, tmp("rej")) }
    val dir = tmp("mismatch")
    TfRecord.write(Seq((1L, "text")).toDF("id", "s"), dir)
    val wrong = StructType(Seq(
      StructField("id", LongType), StructField("s", LongType))) // s is bytes
    val e = intercept[Exception] { TfRecord.read(spark, dir, wrong).count() }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).exists(t =>
        t.getMessage != null && t.getMessage.contains("read schema")))
  }

  test("projected reads skip unrequested features — even undecodable ones") {
    import spark.implicits._
    // a record carrying a feature whose VALUE bytes are garbage: a
    // projection that doesn't ask for it must read clean (the value is
    // sliced, never parsed); asking for everything fails typed
    val base = TfRecord.encodeExample(Row(7L),
      StructType(Seq(StructField("id", LongType))))
    val junkVal = Array[Byte](0x1a, 0x03, 0x0a, 0xFF.toByte, 0xFF.toByte) // truncated varint
    val entry = Array[Byte](0x0a, 4) ++ "junk".getBytes ++
      Array[Byte](0x12, junkVal.length.toByte) ++ junkVal
    val features2 = Array[Byte](0x0a, entry.length.toByte) ++ entry
    val payload = base ++ Array[Byte](0x0a, features2.length.toByte) ++ features2
    val dir = tmp("lazy")
    Files.write(Paths.get(dir, "part-00000.tfrecord"), TfRecord.frame(payload))
    val idOnly = StructType(Seq(StructField("id", LongType)))
    assert(TfRecord.read(spark, dir, idOnly).collect().head.getLong(0) == 7L)
    intercept[java.io.IOException] { TfRecord.decodeExample(payload) }
  }

  test("multi-partition write: one shard per partition, all rows back") {
    import spark.implicits._
    val dir = tmp("shards")
    TfRecord.write((1L to 100L).toDF("id").repartition(8), dir)
    val shards = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".tfrecord"))
    assert(shards == 8)
    val schema = StructType(Seq(StructField("id", LongType)))
    val back = TfRecord.read(spark, dir, schema).collect().map(_.getLong(0))
    assert(back.sorted.toSeq == (1L to 100L))
    // a read schema naming one feature twice fills both fields
    val twice = TfRecord.read(spark, dir, StructType(schema.fields ++ schema.fields)).collect()
    assert(twice.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == (1L to 100L).map(v => (v, v)))
  }

  test("writeShardFiles: file NNNNN = shard NNNNN, rank order inside each file") {
    import spark.implicits._
    val dir = tmp("shardfiles")
    // 23 rows over 6 shards of 4 (last partial); scrambled input order
    // and a deliberately adversarial upstream layout (2 partitions, so
    // several shard ids share every task before the direct partitioner)
    val rows = scala.util.Random.shuffle(
      (0L until 23L).map(r => (r * 37 % 97, r / 4, r)).toList)
    val df = rows.toDF("payload", "shard_id", "rank").repartition(2)
    TfRecord.writeShardFiles(df, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
    assert(files.length == 6, "exactly one file per shard")
    val schema = StructType(Seq(StructField("payload", LongType),
      StructField("shard_id", LongType), StructField("rank", LongType)))
    files.zipWithIndex.foreach { case (f, i) =>
      assert(f.getName == f"part-$i%05d.tfrecord")
      val in = TfRecord.read(spark, f.getPath, schema).collect()
      // every row in file i is shard i, in ascending rank order,
      // exactly the ranks [4i, 4i+4) ∩ [0, 23)
      assert(in.forall(_.getLong(1) == i.toLong))
      val ranks = in.map(_.getLong(2)).toSeq
      assert(ranks == (4L * i until math.min(4L * i + 4, 23L)))
      assert(in.forall(r => r.getLong(0) == r.getLong(2) * 37 % 97))
    }
    // loud reject: a shard id outside [0, nShards) cannot happen from
    // assignShuffledShards, but a hand-built frame with a negative id
    // must fail, not silently route
    val bad = Seq((1L, -1L, 0L), (2L, 5L, 1L)).toDF("payload", "shard_id", "rank")
    val e = intercept[org.apache.spark.SparkException](
      TfRecord.writeShardFiles(bad, tmp("shardbad")))
    assert(e.getMessage.contains("shard_id") ||
      Option(e.getCause).exists(_.getMessage.contains("shard_id")))
  }

  test("cross-implementation: the stdlib-python decoder reads our bytes exactly") {
    // tools/tfrecord_check.py was written from the PUBLIC specs and
    // shares no code with the Scala encoder/decoder — a wire-format
    // deviation our own reader happens to mirror (wrong field number,
    // unmasked CRC, wrong endianness) would roundtrip in-JVM but
    // disagree here. Every accepted type, 10-byte varints, multi-byte
    // UTF-8, non-UTF-8 binary, empty lists and the all-null row; and
    // a hand-framed record whose Feature sets no kind, which both
    // decoders read as a feature without a value.
    val schema = StructType(scalarSchema.fields ++ arraySchema.fields)
    val rows = Seq(
      Row("béta 日😀", Array[Byte](-1, 0, -2), Long.MinValue, -1, (-2).toShort, 7.toByte,
        true, 1.5f, 0.1, Seq("a", "", "ü"), Seq(Array[Byte](-128, 1), Array.emptyByteArray),
        Seq(Long.MaxValue, -1L, 0L), Seq(300, -20), Seq(-0.25f), Seq.empty[Double]),
      Row(Seq.fill(15)(null): _*))
    val dir = tmp("crossimpl")
    TfRecord.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), dir)
    val written = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).head
    val withKindless = tmp("crossimpl_kindless")
    val file = Files.write(Paths.get(withKindless, "part-00000.tfrecord"),
      Files.readAllBytes(written.toPath) ++ TfRecord.frame(kindlessExample)).toFile
    val a = TfRecord.read(spark, withKindless, StructType(Seq(StructField("a", StringType))))
      .collect()
    assert(a.length == 3 && a.forall(_.isNullAt(0)), a.toSeq)
    val p = new ProcessBuilder("python3", "tools/tfrecord_check.py",
      file.getAbsolutePath).start()
    p.getOutputStream.close()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    val err = new String(p.getErrorStream.readAllBytes, "UTF-8")
    assert(p.waitFor() == 0, s"python decoder failed: $err")
    val lines = out.trim.split("\n")
    assert(lines.length == 3, s"expected 3 records, got:\n$out")
    def feature(kind: String, values: String) = s"""{"kind": "$kind", "values": [$values]}"""
    val expected = Seq(
      "s" -> feature("bytes", "\"béta 日😀\""),
      "bin" -> feature("bytes", """{"hex": "ff00fe"}"""),
      "l" -> feature("int64", Long.MinValue.toString),
      "i" -> feature("int64", "-1"),
      "sh" -> feature("int64", "-2"),
      "by" -> feature("int64", "7"),
      "b" -> feature("int64", "1"),
      "f" -> feature("float", "1.5"),
      "d" -> feature("float", "0.10000000149011612"), // float32(0.1)
      "as" -> feature("bytes", "\"a\", \"\", \"ü\""),
      "abin" -> feature("bytes", """{"hex": "8001"}, """""),
      "al" -> feature("int64", s"${Long.MaxValue}, -1, 0"),
      "ai" -> feature("int64", "300, -20"),
      "af" -> feature("float", "-0.25"),
      "ad" -> feature("float", ""))
    // sort_keys output: the whole record line is determined
    assert(lines(0) == expected.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    assert(lines(1) == "{}", "the all-null row carries no feature")
    assert(lines(2) == """{"a": {"kind": null, "values": []}}""")
  }

  test("null array elements fail the write loudly, naming the column") {
    // tf.Example lists cannot hold a null: unboxing one would write 0
    // (an int list) or crash bare (a bytes list)
    def rejects(schema: StructType, row: Row, column: String): Unit = {
      val e = intercept[IllegalArgumentException](TfRecord.encodeExample(row, schema))
      assert(e.getMessage.contains(column), e.getMessage)
      val dir = tmp("nullelem")
      val w = intercept[Exception](TfRecord.write(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row), 1), schema), dir))
      val cause = Iterator.iterate(w: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .collectFirst { case t: IllegalArgumentException => t }
      assert(cause.exists(_.getMessage.contains(s"column $column")), w)
    }
    rejects(StructType(Seq(StructField("id", LongType), StructField("ids", ArrayType(IntegerType)))),
      Row(1L, Seq(1, null, 3)), "ids")
    rejects(StructType(Seq(StructField("tags", ArrayType(StringType)))),
      Row(Seq("x", null)), "tags")
    // a list without nulls in a containsNull column still writes
    val dir = tmp("nonull")
    val schema = StructType(Seq(StructField("ids", ArrayType(IntegerType, containsNull = true))))
    TfRecord.write(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq(1, 2))), 1), schema), dir)
    assert(TfRecord.read(spark, dir, schema).collect().head.getSeq[Int](0) == Seq(1, 2))
  }

  test("fuzz: garbage payloads and frames only ever fail typed") {
    // a CRC-valid frame can still carry arbitrary bytes (an attacker,
    // or a non-Example TFRecord file) — the proto decoder must reject
    // with IOException, never an index/negative-size/match error; and
    // deframe on random bytes must reject typed or return cleanly
    val rnd = new scala.util.Random(20260814L)
    (0 until 1000).foreach { i =>
      val a = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(a)
      try { TfRecord.decodeExample(a); () }
      catch {
        case _: java.io.IOException => ()
        case t: Throwable => fail(
          s"decodeExample case $i: uncontrolled ${t.getClass.getName}: ${t.getMessage}")
      }
      try { TfRecord.deframe(a, lenient = false); () }
      catch {
        case _: java.io.IOException => ()
        case t: Throwable => fail(
          s"deframe case $i: uncontrolled ${t.getClass.getName}: ${t.getMessage}")
      }
      assert(TfRecord.deframe(a, lenient = true) != null) // never throws
    }
  }

  test("gzip shards roundtrip and mix with plain shards in one dir") {
    import spark.implicits._
    val dir = tmp("gzip")
    TfRecord.write((1L to 30L).toDF("id").repartition(2), dir, gzip = true)
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.count(_.endsWith(".tfrecord.gz")) == 2, names.mkString(", "))
    val schema = StructType(Seq(StructField("id", LongType)))
    assert(TfRecord.read(spark, dir, schema).collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 30L))
    // a dir mixing plain and gz shards reads as one table
    val mixed = tmp("mixed")
    TfRecord.write((1L to 10L).toDF("id").coalesce(1), mixed)
    val extra = TfRecord.frame(TfRecord.encodeExample(
      Row(11L), StructType(Seq(StructField("id", LongType)))))
    val gz = new java.io.ByteArrayOutputStream()
    val go = new java.util.zip.GZIPOutputStream(gz)
    go.write(extra); go.close()
    Files.write(Paths.get(mixed, "more.tfrecord.gz"), gz.toByteArray)
    assert(TfRecord.read(spark, mixed, schema).collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 11L))
  }

  test("a task that outlives its failed write cannot recreate the staging dir") {
    // partition 0 fails at once; partition 1 waits until the driver's
    // failure path has removed the staging dir (a killed task runs on
    // until its next record), then reaches its file create. Its task
    // end (after that create) drops a marker the test waits for
    val dir = tmp("late")
    val parentDir = new java.io.File(dir).getParent
    val prefix = s".${new java.io.File(dir).getName}-graft-staging-"
    def leftovers = new java.io.File(parentDir).listFiles()
      .filter(_.getName.startsWith(prefix)).toSeq
    val ended = new java.io.File(tmp("late-ended"), "ended")
    val endedPath = ended.getPath
    val rows = spark.sparkContext.parallelize(Seq(0, 1), 2).mapPartitionsWithIndex { (i, it) =>
      if (i == 0) throw new IllegalStateException("injected task failure")
      org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        new java.io.File(endedPath).createNewFile()
      }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (new java.io.File(parentDir).listFiles().exists(_.getName.startsWith(prefix)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      it
    }
    try {
      intercept[Exception] {
        StagedCommit.write(rows, dir, ".bin") { (_, part, os) =>
          part.foreach(os.write); os.close()
        }
      }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!ended.exists() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(ended.exists(), "partition 1's task never ended")
      assert(leftovers.isEmpty, s"staging recreated: ${leftovers.mkString(", ")}")
    } finally {
      // a leftover here would fail every later scan for staging dirs
      leftovers.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      org.apache.commons.io.FileUtils.deleteDirectory(ended.getParentFile)
    }
  }

  test("failed write keeps previous data (shared staged commit)") {
    import spark.implicits._
    val dir = tmp("commit")
    TfRecord.write((1L to 10L).toDF("id"), dir)
    val doomed = (1L to 50L).toDF("id").repartition(2)
      .select(org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("id") === 33L,
        org.apache.spark.sql.functions.raise_error(
          org.apache.spark.sql.functions.lit("boom")))
        .otherwise(org.apache.spark.sql.functions.col("id")).as("id"))
    intercept[Exception] { TfRecord.write(doomed, dir) }
    val schema = StructType(Seq(StructField("id", LongType)))
    assert(TfRecord.read(spark, dir, schema).count() == 10L)
  }
}
