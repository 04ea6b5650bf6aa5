package graft.sources

import java.io.ByteArrayOutputStream
import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro Object Container File source + sink on the avro-core /
  * avro-mapred jars Spark already ships — no connector package needed.
  *
  * Avro is the interchange format a 100 TB ingest actually receives
  * (Kafka topics, upstream exports), so the engine reads it SPLITTABLE:
  * the read path is a DataSource V2 ([[AvroDataSource]]) that plans
  * `maxPartitionBytes` ranges per file and `sync()`s to container block
  * boundaries, so one 10 GB file fans out across tasks — per-file
  * parallelism is the floor, not the ceiling — and pushes column
  * pruning into the Avro reader schema. The sink writes one container
  * file per partition (the writer side of the same layout).
  *
  * Schema mapping (both directions):
  *   boolean/int/long/float/double/string/bytes <-> the obvious Spark
  *   types; fixed -> binary; enum -> string; union[null, T] <-> nullable
  *   T; record <-> struct; array <-> array; map (string keys) <-> map;
  *   logical date <-> DateType, timestamp-micros/millis <-> TimestampType,
  *   local-timestamp-micros/millis <-> TimestampNTZType,
  *   decimal(bytes|fixed) <-> DecimalType. Anything else (multi-branch
  *   unions, duration) -> IllegalArgumentException naming the field —
  *   a silent coercion would corrupt a corpus quietly.
  *
  * The reference has no Avro family (its file sources are
  * CSV/JSON/XLSX — ref `CsvSource.groovy`, `JsonSource.groovy`); this
  * is part of the beyond-reference ingest surface.
  */
object Avro {

  // ------------------------------------------------------------ read

  /** Read an Avro container file (or directory/glob of them) as a
    * DataFrame through the [[AvroDataSource]] V2 path: driver-planned
    * sync-marker splits (one big file fans out across tasks) and
    * column pruning pushed into the Avro reader schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[AvroDataSource].getName).load(path)

  /** `read` wrapped as a Pipeline source (gratum-style entry). */
  def source(spark: SparkSession, path: String): graft.etl.Pipeline =
    graft.etl.Pipeline.of(s"avro($path)", read(spark, path))

  /** Driver-side schema probe: open the first container file under
    * `path` and return its writer schema (shared discovery with the
    * V2 scan's split planning — [[AvroV2.listAvroFiles]]). */
  private[sources] def probeWriterSchema(spark: SparkSession, path: String): ASchema =
    AvroV2.probeWriterSchema(spark, Seq(path))

  /** Writer schema of ONE container file. */
  private[sources] def readWriterSchema(spark: SparkSession, file: HPath): ASchema = {
    val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(file)
    try {
      val stream = new DataFileStream[GenericRecord](
        in, new GenericDatumReader[GenericRecord]())
      try stream.getSchema finally stream.close()
    } finally in.close()
  }

  // ------------------------------------------------------------ write

  /** Write `df` as Avro container files, one `part-NNNNN.avro` per
    * partition under `dir` (deflate-compressed — pure JDK codec).
    * Directory-overwrite semantics (like `df.write.mode("overwrite")`)
    * under the shared staged commit ([[StagedCommit]]): a failed job
    * leaves the previous data untouched, and no speculative attempt
    * can tear a container. */
  def write(df: DataFrame, dir: String): Unit = {
    val avroJson = toAvroSchema(df.schema, "topLevelRecord").toString
    StagedCommit.write(df.rdd, dir, ".avro") { (_, rows, os) =>
      val schema = new ASchema.Parser().parse(avroJson)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      try {
        writer.create(schema, os)
        rows.foreach(r =>
          writer.append(toAvro(r, schema).asInstanceOf[GenericRecord]))
      } finally writer.close() // closes os
    }
  }

  // ------------------------------------- Avro schema -> Spark type

  private[sources] def toSparkType(s: ASchema, at: String): DataType =
    s.getType match {
      case ASchema.Type.BOOLEAN => BooleanType
      case ASchema.Type.INT =>
        if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) DateType
        else IntegerType
      case ASchema.Type.LONG => s.getLogicalType match {
        case _: LogicalTypes.TimestampMicros | _: LogicalTypes.TimestampMillis =>
          TimestampType
        case _: LogicalTypes.LocalTimestampMicros | _: LogicalTypes.LocalTimestampMillis =>
          TimestampNTZType
        case _ => LongType
      }
      case ASchema.Type.FLOAT => FloatType
      case ASchema.Type.DOUBLE => DoubleType
      case ASchema.Type.STRING | ASchema.Type.ENUM => StringType
      case ASchema.Type.BYTES | ASchema.Type.FIXED => s.getLogicalType match {
        case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
      case ASchema.Type.NULL => NullType
      case ASchema.Type.ARRAY =>
        ArrayType(toSparkType(s.getElementType, s"$at[]"))
      case ASchema.Type.MAP =>
        MapType(StringType, toSparkType(s.getValueType, s"$at{}"))
      case ASchema.Type.RECORD =>
        StructType(s.getFields.asScala.toSeq.map { f =>
          StructField(f.name, toSparkType(f.schema, s"$at.${f.name}"),
            nullable = isNullable(f.schema))
        })
      case ASchema.Type.UNION =>
        val branches = s.getTypes.asScala.filter(_.getType != ASchema.Type.NULL)
        if (branches.size == 1) toSparkType(branches.head, at)
        else throw new IllegalArgumentException(
          s"Unsupported multi-branch Avro union at $at: $s")
    }

  private def isNullable(s: ASchema): Boolean =
    s.getType == ASchema.Type.NULL ||
      (s.getType == ASchema.Type.UNION &&
        s.getTypes.asScala.exists(_.getType == ASchema.Type.NULL))

  /** Strip the [null, T] wrapper down to T (identity otherwise). */
  private def nonNull(s: ASchema): ASchema =
    if (s.getType == ASchema.Type.UNION) {
      val b = s.getTypes.asScala.filter(_.getType != ASchema.Type.NULL)
      if (b.size == 1) b.head else s
    } else s

  // ------------------------------------- Spark type -> Avro schema

  private[sources] def toAvroSchema(dt: DataType, name: String): ASchema = {
    def nullable(s: ASchema): ASchema =
      ASchema.createUnion(java.util.List.of(ASchema.create(ASchema.Type.NULL), s))
    def go(dt: DataType, name: String): ASchema = dt match {
      case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
      case ByteType | ShortType | IntegerType => ASchema.create(ASchema.Type.INT)
      case LongType => ASchema.create(ASchema.Type.LONG)
      case FloatType => ASchema.create(ASchema.Type.FLOAT)
      case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
      case StringType => ASchema.create(ASchema.Type.STRING)
      case BinaryType => ASchema.create(ASchema.Type.BYTES)
      case DateType =>
        LogicalTypes.date.addToSchema(ASchema.create(ASchema.Type.INT))
      case TimestampType =>
        LogicalTypes.timestampMicros.addToSchema(ASchema.create(ASchema.Type.LONG))
      case TimestampNTZType =>
        LogicalTypes.localTimestampMicros.addToSchema(ASchema.create(ASchema.Type.LONG))
      case d: DecimalType =>
        LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(ASchema.create(ASchema.Type.BYTES))
      case ArrayType(et, containsNull) =>
        val el = go(et, s"${name}_item")
        ASchema.createArray(if (containsNull) nullable(el) else el)
      case MapType(StringType, vt, valueContainsNull) =>
        val v = go(vt, s"${name}_value")
        ASchema.createMap(if (valueContainsNull) nullable(v) else v)
      case st: StructType =>
        val b = SchemaBuilder.record(sanitize(name)).fields()
        st.fields.foldLeft(b) { (acc, f) =>
          val fs = go(f.dataType, s"${name}_${f.name}")
          val fb = acc.name(sanitize(f.name))
          // null default is only legal when null is a union branch
          if (f.nullable) fb.`type`(nullable(fs)).withDefault(null)
          else fb.`type`(fs).noDefault()
        }.endRecord()
      case other => throw new IllegalArgumentException(
        s"Unsupported Spark type for Avro at $name: $other")
    }
    go(dt, name)
  }

  private def sanitize(n: String): String = {
    val s = n.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    if (s.isEmpty || s.head.isDigit) s"_$s" else s
  }

  // ------------------------------------- value conversion: read side

  /** A decoded record -> external Row shaped by `st` (fields looked up
    * by name — `st` may be a pruned subset of the record's fields). */
  private[sources] def recordToRow(rec: GenericRecord, st: StructType, as: ASchema): Row =
    fromAvro(rec, st, as).asInstanceOf[Row]

  /** Avro runtime value -> Spark external value for `createDataFrame`.
    * Schema-aware: a timestamp-MILLIS writer stores millis on the wire
    * (Avro does NOT up-convert when reader == writer schema), so the
    * logical type on `as` decides the scaling, not the Spark type. */
  private def fromAvro(v: Any, dt: DataType, as: ASchema): Any = {
    val sch = nonNull(as)
    (v, dt) match {
      case (null, _) => null
      case (r: GenericRecord, st: StructType) =>
        Row.fromSeq(st.fields.toSeq.map { f =>
          // schema evolution: a requested field the writer never wrote
          // (user-supplied read schema wider than the file) reads as
          // NULL, the same contract as Spark's built-in sources
          val af = sch.getField(f.name)
          if (af == null) null
          else fromAvro(r.get(f.name), f.dataType, af.schema)
        })
      case (s, StringType) => s.toString // Utf8 / enum symbol / String
      case (i: java.lang.Integer, DateType) =>
        java.sql.Date.valueOf(LocalDate.ofEpochDay(i.longValue))
      case (l: java.lang.Long, TimestampType) =>
        microsToTimestamp(toMicros(l, sch))
      case (l: java.lang.Long, TimestampNTZType) =>
        val us = toMicros(l, sch)
        LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          ZoneOffset.UTC)
      case (b: ByteBuffer, d: DecimalType) =>
        val bytes = new Array[Byte](b.remaining); b.duplicate.get(bytes)
        new JBigDecimal(new BigInteger(bytes), d.scale)
      case (f: GenericData.Fixed, d: DecimalType) =>
        new JBigDecimal(new BigInteger(f.bytes), d.scale)
      case (b: ByteBuffer, BinaryType) =>
        val bytes = new Array[Byte](b.remaining); b.duplicate.get(bytes); bytes
      case (f: GenericData.Fixed, BinaryType) => f.bytes
      case (a: java.util.Collection[_], ArrayType(et, _)) =>
        a.asScala.toSeq.map(fromAvro(_, et, sch.getElementType))
      case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
        m.asScala.map { case (k, mv) =>
          k.toString -> fromAvro(mv, vt, sch.getValueType)
        }.toMap
      case (x, _) => x // int/long/float/double/boolean pass through
    }
  }

  private def toMicros(l: Long, s: ASchema): Long = s.getLogicalType match {
    case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis =>
      Math.multiplyExact(l, 1000L)
    case _ => l // micros
  }

  private def microsToTimestamp(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  // ------------------------------------ value conversion: write side

  /** Spark external Row value -> Avro runtime value. */
  private def toAvro(v: Any, s: ASchema): Any = {
    val sch = nonNull(s)
    v match {
      case null => null
      case r: Row =>
        val rec = new GenericData.Record(sch)
        val fields = sch.getFields.asScala
        var i = 0
        while (i < fields.size) {
          rec.put(i, toAvro(r.get(i), fields(i).schema))
          i += 1
        }
        rec
      case d: java.sql.Date =>
        Int.box(d.toLocalDate.toEpochDay.toInt)
      case d: LocalDate => Int.box(d.toEpochDay.toInt)
      case t: java.sql.Timestamp =>
        Long.box(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
      case t: java.time.Instant =>
        Long.box(t.getEpochSecond * 1000000L + t.getNano / 1000L)
      case t: LocalDateTime =>
        Long.box(t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000L)
      case d: JBigDecimal =>
        val lt = sch.getLogicalType.asInstanceOf[LogicalTypes.Decimal]
        ByteBuffer.wrap(d.setScale(lt.getScale).unscaledValue.toByteArray)
      case d: scala.math.BigDecimal =>
        val lt = sch.getLogicalType.asInstanceOf[LogicalTypes.Decimal]
        ByteBuffer.wrap(d.underlying.setScale(lt.getScale).unscaledValue.toByteArray)
      case b: Array[Byte] => ByteBuffer.wrap(b)
      case seq: scala.collection.Seq[_] =>
        seq.map(toAvro(_, sch.getElementType)).asJava
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, mv) =>
          k.toString -> toAvro(mv, sch.getValueType)
        }.toMap.asJava
      case s: Short => Int.box(s.toInt)
      case b: Byte => Int.box(b.toInt)
      case other => other // int/long/float/double/boolean/string
    }
  }
}
