package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.hive.ql.io.RCFile
import org.apache.hadoop.hive.serde2.columnar.BytesRefArrayWritable
import org.apache.hadoop.hive.serde2.objectinspector.{PrimitiveObjectInspector, StructObjectInspector}
import org.apache.hadoop.io.LongWritable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** graft-rcfile: Hive's RCFile columnar container, so
  * `CREATE TABLE ... STORED AS RCFILE` statements run natively against
  * the genuine on-disk format (reference: ql/src/java/.../io/RCFile.java;
  * row groups of column-major buffers behind a SequenceFile-style header).
  * The container classes ship with Spark's Hive integration
  * (hive-exec-core), so files written here are byte-interoperable with
  * Hive-written RCFile data and vice versa.
  *
  * Cells encode through the REAL columnar serde named by the table's
  * `serde` property: bare `STORED AS RCFILE` uses the reference's default
  * LazyBinaryColumnarSerDe (HiveConf.java:770 — binary cells), an
  * explicit `ROW FORMAT SERDE ColumnarSerDe` the text contract; either
  * way graft-written files are cell-byte-identical to Hive-written ones.
  *
  * The codec owns the container: splits align to sync markers, and column
  * pruning reaches the STORAGE layer (`hive.io.file.readcolumn.ids`), so
  * unprojected columns are never decompressed — the point of RCFile — and
  * a `SELECT count(*)` reads row counts from group headers without
  * touching any column buffer. Table, scan and write machinery is
  * [[FileTable]]'s.
  */
class RcFileDataSource extends FileTableProvider {
  override def shortName(): String = "graft-rcfile"

  override protected def inferSchema(dir: String,
      options: CaseInsensitiveStringMap): StructType = RcV2Util.inferSchema(dir)

  override protected def codec(properties: JMap[String, String]): FileCodec =
    RcCodec(Option(properties.get("serde")).getOrElse(RcV2Util.DEFAULT_SERDE),
      Option(properties.get("compress.codec")).map("compress.codec" -> _).toMap)
}

object RcV2Util {
  /** The reference's default for bare `STORED AS RCFILE`
    * (HiveConf hive.default.rcfile.serde, common/.../HiveConf.java:770):
    * binary cells. An explicit `ROW FORMAT SERDE ColumnarSerDe` selects
    * the text-cell contract instead. Both run through the REAL serde
    * classes below, so cell bytes are Hive-identical either way. */
  val DEFAULT_SERDE = "org.apache.hadoop.hive.serde2.columnar.LazyBinaryColumnarSerDe"

  /** Hive type-string for the serde's `columns.types` property. */
  def hiveTypeName(dt: DataType): String = dt match {
    case StringType => "string"
    case IntegerType => "int"
    case LongType => "bigint"
    case ShortType => "smallint"
    case ByteType => "tinyint"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case other => sys.error(s"graft-rcfile: unsupported column type $other")
  }

  /** Instantiate + initialize the named columnar serde against the DATA
    * schema (partition columns never reach the serde). */
  def newSerde(serdeClass: String, dataSchema: StructType)
      : org.apache.hadoop.hive.serde2.AbstractSerDe = {
    val serde = Class.forName(serdeClass)
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.hadoop.hive.serde2.AbstractSerDe]
    val props = new java.util.Properties()
    props.setProperty("columns", dataSchema.fieldNames.mkString(","))
    props.setProperty("columns.types",
      dataSchema.fields.map(f => hiveTypeName(f.dataType)).mkString(":"))
    serde.initialize(new Configuration(), props)
    serde
  }

  /** Standard-Java ObjectInspector matching [[toHiveJava]]'s objects, for
    * the serde's serialize side. */
  def standardOI(dataSchema: StructType)
      : org.apache.hadoop.hive.serde2.objectinspector.StructObjectInspector = {
    import org.apache.hadoop.hive.serde2.objectinspector.ObjectInspectorFactory
    import org.apache.hadoop.hive.serde2.objectinspector.primitive.{PrimitiveObjectInspectorFactory => P}
    import scala.collection.JavaConverters._
    val ois = dataSchema.fields.map(f => (f.dataType match {
      case StringType => P.javaStringObjectInspector
      case IntegerType => P.javaIntObjectInspector
      case LongType => P.javaLongObjectInspector
      case ShortType => P.javaShortObjectInspector
      case ByteType => P.javaByteObjectInspector
      case DoubleType => P.javaDoubleObjectInspector
      case FloatType => P.javaFloatObjectInspector
      case BooleanType => P.javaBooleanObjectInspector
      case BinaryType => P.javaByteArrayObjectInspector
      case DateType => P.javaDateObjectInspector
      case TimestampType | TimestampNTZType => P.javaTimestampObjectInspector
      case _: DecimalType => P.javaHiveDecimalObjectInspector
      case other => sys.error(s"graft-rcfile: unsupported column type $other")
    }): org.apache.hadoop.hive.serde2.objectinspector.ObjectInspector)
    ObjectInspectorFactory.getStandardStructObjectInspector(
      dataSchema.fieldNames.toSeq.asJava, ois.toSeq.asJava)
  }

  /** Hive-Java primitive (from getPrimitiveJavaObject) → Catalyst. */
  def hiveJavaToCatalyst(v: Any, dt: DataType,
      zone: java.time.ZoneId): Any = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (v == null) return null
    dt match {
      case StringType => UTF8String.fromString(v.asInstanceOf[String])
      case IntegerType | LongType | ShortType | ByteType |
           DoubleType | FloatType | BooleanType => v
      case BinaryType => v.asInstanceOf[Array[Byte]]
      case d: DecimalType => Decimal(
        v.asInstanceOf[org.apache.hadoop.hive.common.`type`.HiveDecimal]
          .bigDecimalValue.setScale(d.scale), d.precision, d.scale)
      case DateType =>
        v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt
      case TimestampType =>
        // Hive timestamps are wall-clock via the JVM zone (Timestamp
        // round-trips through toLocalDateTime symmetrically); re-anchor
        // the wall-clock in the SESSION zone
        DateTimeUtils.instantToMicros(v.asInstanceOf[java.sql.Timestamp]
          .toLocalDateTime.atZone(zone).toInstant)
      case TimestampNTZType =>
        DateTimeUtils.localDateTimeToMicros(
          v.asInstanceOf[java.sql.Timestamp].toLocalDateTime)
      case other => sys.error(s"graft-rcfile: unsupported read type $other")
    }
  }

  /** Catalyst value at `row(i)` → the Hive-Java object [[standardOI]]
    * declares. */
  def toHiveJava(row: InternalRow, i: Int, dt: DataType,
      zone: java.time.ZoneId): Object = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (row.isNullAt(i)) return null
    dt match {
      case StringType => row.getUTF8String(i).toString
      case IntegerType => java.lang.Integer.valueOf(row.getInt(i))
      case LongType => java.lang.Long.valueOf(row.getLong(i))
      case ShortType => java.lang.Short.valueOf(row.getShort(i))
      case ByteType => java.lang.Byte.valueOf(row.getByte(i))
      case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
      case FloatType => java.lang.Float.valueOf(row.getFloat(i))
      case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
      case BinaryType => row.getBinary(i)
      case d: DecimalType => org.apache.hadoop.hive.common.`type`.HiveDecimal
        .create(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(row.getInt(i).toLong))
      case TimestampType => java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.ofInstant(
          DateTimeUtils.microsToInstant(row.getLong(i)), zone))
      case TimestampNTZType => java.sql.Timestamp.valueOf(
        DateTimeUtils.microsToLocalDateTime(row.getLong(i)))
      case other => sys.error(s"graft-rcfile: unsupported write type $other")
    }
  }

  /** Column count from the file's own metadata (the writer records it as
    * `hive.io.rcfile.column.number`); schema-less reads see string
    * columns c0..cN — Hive tables always carry a declared schema, so this
    * is a programmatic-read convenience only. */
  def inferSchema(dir: String): StructType = {
    val files = FileSplits.listFilesWithLen(dir).map(_._1)
    require(files.nonEmpty, s"no files under $dir")
    val p = new Path(files.head)
    val conf = FileSplits.hadoopConf()
    val r = new RCFile.Reader(p.getFileSystem(conf), p, conf)
    val n = try {
      Option(r.getMetadataValueOf(
          new org.apache.hadoop.io.Text(RCFile.COLUMN_NUMBER_METADATA_STR)))
        .map(_.toString.toInt).getOrElse(1)
    } finally r.close()
    StructType((0 until n).map(i => StructField(s"c$i", StringType)))
  }

}

/** The RCFile codec. `outputCodec` is the job's output compression, fixed
  * by [[forWrite]] from `props` and the session. */
case class RcCodec(serde: String = RcV2Util.DEFAULT_SERDE,
    props: Map[String, String] = Map.empty,
    outputCodec: Option[String] = None) extends FileCodec {
  override def name: String = "graft-rcfile"

  override def open(split: FileSplit, conf: Configuration, cells: Cells): CellReader = {
    // storage-level pruning (ColumnProjectionUtils keys): read.all=false
    // plus the explicit id list means skipped columns' buffers are never
    // decompressed. An EMPTY id list (count(*)) still iterates rows — row
    // counts live in the group key headers.
    conf.setBoolean("hive.io.file.read.all.columns", false)
    conf.set("hive.io.file.readcolumn.ids", cells.pos.sorted.mkString(","))
    val fsPath = new Path(split.file)
    val reader = new RCFile.Reader(fsPath.getFileSystem(conf), fsPath, conf)
    // sync-aligned byte range (RCFileRecordReader convention): seek to
    // the first sync after `start`; a row group whose preceding sync sits
    // at or past `end` belongs to the next split's reader
    if (split.start > 0) reader.sync(split.start)
    val rowId = new LongWritable()
    val cols = new BytesRefArrayWritable()
    // the REAL columnar serde (text or binary cells — whatever the table
    // declared) decodes each projected cell; initialized against the
    // DATA schema, exactly as the reference's RCFileRecordReader pairs
    // with ColumnarSerDeBase
    val serdeInst = RcV2Util.newSerde(serde, cells.data)
    val soi = serdeInst.getObjectInspector.asInstanceOf[StructObjectInspector]
    val refs = cells.pos.map(soi.getAllStructFieldRefs.get(_))
    val ois = refs.map(_.getFieldObjectInspector.asInstanceOf[PrimitiveObjectInspector])
    val types = cells.fields.map(_.dataType)
    new CellReader {
      override def next(): Boolean =
        reader.next(rowId) && reader.lastSeenSyncPos() < split.end
      override def decode(row: Array[Any]): Unit = {
        reader.getCurrentRow(cols)
        val struct = serdeInst.deserialize(cols)
        var i = 0
        while (i < refs.length) {
          val data = soi.getStructFieldData(struct, refs(i))
          row(cells.slot(i)) =
            if (data == null) null
            else RcV2Util.hiveJavaToCatalyst(ois(i).getPrimitiveJavaObject(data),
              types(i), cells.zone)
          i += 1
        }
      }
      override def close(): Unit = reader.close()
    }
  }

  override def forWrite(data: StructType): FileCodec =
    copy(outputCodec = TextV2Util.effectiveOutputCodec(props))

  override def encoder(data: StructType, ord: Array[Int], conf: Configuration,
      zone: java.time.ZoneId): RowEncoder = new RowEncoder {
    // the container requires the column count up front (it sizes the
    // per-group column buffers — RCFile.Writer's row-group machinery)
    conf.setInt(RCFile.COLUMN_NUMBER_CONF_STR, ord.length)
    private val types = data.fields.map(_.dataType)
    // the REAL serde (text or binary cells, per the table's DDL)
    // serializes each row; RCFile.Writer.append copies the returned
    // buffer into its column buffers, so the serde's reuse is safe
    private val serdeInst = RcV2Util.newSerde(serde, data)
    private val oi = RcV2Util.standardOI(data)
    // r18 write-loop allocation cut: the row ArrayList is reused
    // (serialize() encodes the cells before append returns, so clearing
    // the list afterwards is safe)
    private val jrow = new java.util.ArrayList[Object](ord.length)
    override def extension: String = ".rc"
    override def create(fs: FileSystem, file: Path): RowAppender = {
      // hive.exec.compress.output parity: RCFile compresses its key/value
      // sections internally (RCFile.Writer's codec arg — the reference's
      // RCFileOutputFormat.getRecordWriter path); the file stays
      // sync-splittable and self-describing
      val w = new RCFile.Writer(fs, conf, file, null,
        outputCodec.map(TextV2Util.newCodec(_, conf)).orNull)
      new RowAppender {
        override def append(row: InternalRow): Unit = {
          jrow.clear()
          var j = 0
          while (j < ord.length) {
            jrow.add(RcV2Util.toHiveJava(row, ord(j), types(j), zone))
            j += 1
          }
          w.append(serdeInst.serialize(jrow, oi))
        }
        override def close(): Unit = w.close()
      }
    }
  }
}
