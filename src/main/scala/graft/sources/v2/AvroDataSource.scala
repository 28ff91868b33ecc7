package graft.sources.v2

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.avro.LogicalTypes
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Avro

/** graft-avro: the Avro container-file source and sink —
  * `spark.read.format("graft-avro").load(dir)` /
  * `df.write.format("graft-avro").mode("overwrite").save(dir)` /
  * `CREATE TABLE t USING `graft-avro` LOCATION ...`.
  *
  * Parity target: the reference registers its Avro SerDe as a first-class
  * storage format (io/AvroStorageFormatDescriptor.java), not just a
  * programmatic reader — this provider is the Spark-native equivalent of
  * that registration, over the schema mapping in [[graft.sources.Avro]].
  *
  * The codec owns the container: only `.avro` files list; splits align to
  * block sync markers; projection pushdown is REAL — the pruned Spark
  * schema becomes the Avro reader schema, so Avro's schema resolution
  * skips decoding the dropped columns; and `forWrite` checks that every
  * data column maps to Avro before the write starts. Table, scan and
  * write machinery is [[FileTable]]'s, including job abort: the files of
  * tasks that committed before a failure are deleted, and an INSERT
  * OVERWRITE deletes what it replaces only at commit.
  */
class AvroDataSource extends FileTableProvider {
  override def shortName(): String = "graft-avro"

  override protected def inferSchema(dir: String,
      options: CaseInsensitiveStringMap): StructType = AvroV2Util.inferSchema(dir)

  override protected def codec(properties: JMap[String, String]): FileCodec = AvroCodec
}

object AvroV2Util {
  def inferSchema(dir: String): StructType = {
    val files = FileSplits.listFilesWithLen(dir).map(_._1).filter(AvroCodec.keep)
    require(files.nonEmpty, s"no .avro files under $dir")
    val r = new DataFileReader[GenericRecord](
      new FsInput(new Path(files.head), FileSplits.hadoopConf()),
      new GenericDatumReader[GenericRecord]())
    val avro = try r.getSchema finally r.close()
    StructType(avro.getFields.asScala.map { f =>
      StructField(f.name, Avro.toSparkType(f.schema()), nullable = true)
    }.toArray)
  }

  /** Decimal bytes → Catalyst Decimal, honoring the WRITER's scale. */
  def toInternalDecimal(v: Any, dec: DecimalType, writerScale: Int): Any =
    v match {
      case null => null
      case b: java.nio.ByteBuffer =>
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
        val bd = new java.math.BigDecimal(
            new java.math.BigInteger(arr), writerScale)
          .setScale(dec.scale, java.math.RoundingMode.HALF_UP)
        org.apache.spark.sql.types.Decimal(bd, dec.precision, dec.scale)
      case other => other
    }

  /** Avro external value → Catalyst internal value for one field. */
  def toInternal(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: CharSequence, StringType) => UTF8String.fromString(u.toString)
    case (l: java.lang.Long, TimestampType) => l.longValue      // micros
    case (l: java.lang.Long, TimestampNTZType) => l.longValue   // micros
    case (i: java.lang.Integer, DateType) => i.intValue         // epoch days
    case (i: java.lang.Integer, ByteType)  => i.byteValue  // avro int narrowed
    case (i: java.lang.Integer, ShortType) => i.shortValue // by catalog schema
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case (b: java.nio.ByteBuffer, dec: DecimalType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(new java.math.BigInteger(arr), dec.scale),
        dec.precision, dec.scale)
    case (xs: java.util.Collection[_], ArrayType(elem, _)) =>
      new GenericArrayData(xs.asScala.map(toInternal(_, elem)).toArray)
    case (m: java.util.Map[_, _], MapType(StringType, vt, _)) =>
      val entries = m.asScala.toSeq
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(entries.map(e =>
          UTF8String.fromString(String.valueOf(e._1))).toArray[Any]),
        new GenericArrayData(entries.map(e => toInternal(e._2, vt)).toArray[Any]))
    case (r: GenericRecord, st: StructType) =>
      val vals = new Array[Any](st.length)
      var i = 0
      while (i < st.length) {
        vals(i) = toInternal(r.get(i), st.fields(i).dataType); i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    case (other, _) => other
  }

  /** Catalyst internal value → Avro external value for one field. `s` is
    * the field's avro schema (possibly [null, T]-wrapped): nested records
    * need it to instantiate GenericData.Record, containers to recurse. */
  def fromInternal(row: InternalRow, i: Int, dt: DataType,
      s: org.apache.avro.Schema): AnyRef =
    fromGetter(row, i, dt, s)

  /** One recursive converter for every container position — InternalRow,
    * ArrayData and MapData key/value arrays all expose SpecializedGetters,
    * so struct-in-array, map-of-struct and any deeper nesting share it. */
  private def fromGetter(
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, dt: DataType, s: org.apache.avro.Schema): AnyRef = {
    if (g.isNullAt(i)) return null
    dt match {
      case StringType => g.getUTF8String(i).toString
      case LongType => Long.box(g.getLong(i))
      case IntegerType => Int.box(g.getInt(i))
      case ByteType => Int.box(g.getByte(i).toInt)   // avro int carries it
      case ShortType => Int.box(g.getShort(i).toInt)
      case DoubleType => Double.box(g.getDouble(i))
      case FloatType => Float.box(g.getFloat(i))
      case BooleanType => Boolean.box(g.getBoolean(i))
      case BinaryType => java.nio.ByteBuffer.wrap(g.getBinary(i))
      case DateType => Int.box(g.getInt(i))                         // epoch days
      case TimestampType | TimestampNTZType => Long.box(g.getLong(i)) // micros
      case dec: DecimalType =>
        java.nio.ByteBuffer.wrap(g.getDecimal(i, dec.precision, dec.scale)
          .toJavaBigDecimal.setScale(dec.scale).unscaledValue.toByteArray)
      case ArrayType(elem, _) =>
        val arr = g.getArray(i)
        val es = Avro.unwrap(s).getElementType
        val out = new java.util.ArrayList[AnyRef](arr.numElements())
        var j = 0
        while (j < arr.numElements()) { out.add(fromGetter(arr, j, elem, es)); j += 1 }
        out
      case MapType(StringType, vt, _) =>
        val m = g.getMap(i)
        val keys = m.keyArray(); val vals = m.valueArray()
        val vs = Avro.unwrap(s).getValueType
        val out = new java.util.LinkedHashMap[String, AnyRef]()
        var j = 0
        while (j < m.numElements()) {
          out.put(keys.getUTF8String(j).toString, fromGetter(vals, j, vt, vs))
          j += 1
        }
        out
      case st: StructType =>
        val rs = Avro.unwrap(s)
        val r = g.getStruct(i, st.length)
        val rec = new org.apache.avro.generic.GenericData.Record(rs)
        var j = 0
        while (j < st.length) {
          rec.put(j, fromGetter(r, j, st.fields(j).dataType,
            rs.getFields.get(j).schema()))
          j += 1
        }
        rec
      case other => throw new IllegalArgumentException(s"graft-avro: unsupported $other")
    }
  }
}

/** The Avro codec. */
case object AvroCodec extends FileCodec {
  override def name: String = "graft-avro"

  override def keep(file: String): Boolean = file.endsWith(".avro")

  override def open(split: FileSplit, conf: Configuration, cells: Cells): CellReader = {
    // Pushdown is real: the wanted fields become the Avro reader schema,
    // so schema resolution skips the dropped columns during decode (the
    // writer schema comes from the file header)
    val reader = new DataFileReader[GenericRecord](
      new FsInput(new Path(split.file), conf),
      new GenericDatumReader[GenericRecord](null,
        Avro.toAvroSchema(StructType(cells.fields))))
    // sync-aligned byte range (Avro's own Hadoop reader convention):
    // seek to the first block sync after `start`, stop once past `end`
    reader.sync(split.start)
    val types = cells.fields.map(_.dataType)
    // Avro schema resolution ignores LOGICAL types, so each value is read
    // by the WRITER's logical type (the file header's), as the
    // reference's AvroDeserializer does: a decimal's unscaled bytes at the
    // writer's scale, then rescaled (schema evolution / external files),
    // and a timestamp-millis or local-timestamp-millis long (what Hive's
    // AvroSerDe writes) scaled to micros.
    val writerTypes = cells.fields.map(f => Option(reader.getSchema.getField(f.name))
      .map(fl => Avro.unwrap(fl.schema()).getLogicalType).orNull)
    val writerScale: Array[Int] = types.zip(writerTypes).map {
      case (_: DecimalType, d: LogicalTypes.Decimal) => d.getScale
      case (dec: DecimalType, _) => dec.scale
      case _ => -1
    }
    val millis: Array[Boolean] = types.zip(writerTypes).map {
      case (TimestampType | TimestampNTZType, lt) if lt != null =>
        lt.getName == "timestamp-millis" || lt.getName == "local-timestamp-millis"
      case _ => false
    }
    new CellReader {
      override def next(): Boolean =
        reader.hasNext && !reader.pastSync(split.end)
      override def decode(row: Array[Any]): Unit = {
        val rec = reader.next()
        var i = 0
        while (i < types.length) {
          val v = rec.get(i)
          row(cells.slot(i)) =
            if (writerScale(i) >= 0)
              AvroV2Util.toInternalDecimal(v, types(i).asInstanceOf[DecimalType], writerScale(i))
            else if (millis(i) && v != null) v.asInstanceOf[java.lang.Long].longValue * 1000L
            else AvroV2Util.toInternal(v, types(i))
          i += 1
        }
      }
      override def close(): Unit = reader.close()
    }
  }

  /** Fails fast on a column Avro cannot carry, before the write starts:
    * a schema error fails the statement at planning, not in its tasks. */
  override def forWrite(data: StructType): FileCodec = {
    Avro.toAvroSchema(data): Unit
    this
  }

  override def encoder(data: StructType, ord: Array[Int], conf: Configuration,
      zone: java.time.ZoneId): RowEncoder = new RowEncoder {
    private val avroSchema = Avro.toAvroSchema(data)
    private val types = data.fields.map(_.dataType)
    private val fieldSchemas = avroSchema.getFields.asScala.map(_.schema()).toArray
    // one record container reused across rows: DataFileWriter.append
    // encodes it before returning
    private val rec = new GenericData.Record(avroSchema)
    override def extension: String = ".avro"
    override def create(fs: FileSystem, file: Path): RowAppender = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSchema))
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      w.create(avroSchema, fs.create(file, true)): Unit
      new RowAppender {
        override def append(row: InternalRow): Unit = {
          var j = 0
          while (j < ord.length) {
            rec.put(j, AvroV2Util.fromInternal(row, ord(j), types(j), fieldSchemas(j)))
            j += 1
          }
          w.append(rec)
        }
        override def close(): Unit = w.close()
      }
    }
  }
}
