package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.{BytesWritable, SequenceFile, Text, Writable}
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** graft-seq: Hive's SequenceFile text layout, so `CREATE TABLE ...
  * STORED AS SEQUENCEFILE` statements run natively.
  * SequenceFile<BytesWritable, Text> whose value is a
  * LazySimpleSerDe-delimited line (\x01 separators, `\N` NULLs, key
  * ignored), byte-compatible with what the reference writes for its
  * default sequencefile tables (io/HiveSequenceFileOutputFormat.java +
  * serde2/lazy/LazySimpleSerDe.java).
  *
  * The codec owns the record layout: each line splits once and only the
  * required fields convert, and `compress.type`/`compress.codec` (or the
  * session's output-compression SET values) pick the container's internal
  * compression. The container itself is [[SeqContainer]]'s; table, scan
  * and write machinery is [[FileTable]]'s.
  */
class SequenceFileDataSource extends FileTableProvider {
  override def shortName(): String = "graft-seq"

  override protected def inferSchema(dir: String,
      options: CaseInsensitiveStringMap): StructType = SeqV2Util.inferSchema(dir)

  override protected def codec(properties: JMap[String, String]): FileCodec =
    SeqCodec(Seq("compress.codec", "compress.type")
      .flatMap(k => Option(properties.get(k)).map(k -> _)).toMap)
}

object SeqV2Util {
  val SEP = "\u0001"
  val NULL = "\\N"

  /** SequenceFile compression granularity when output compression is on:
    * a `compress.type` table/writer property wins, then the session's
    * `mapred(uce)?.output...compress(ion)?.type` SET value, defaulting to
    * RECORD (SequenceFileOutputFormat.getOutputCompressionType's
    * default, which the reference's FileSinkOperator consults). */
  def effectiveCompressType(props: Map[String, String]): String =
    props.get("compress.type").map(_.trim).filter(_.nonEmpty).getOrElse {
      val conf = org.apache.spark.sql.internal.SQLConf.get
      Seq("mapred.output.compression.type",
        "mapreduce.output.fileoutputformat.compress.type")
        .map(k => conf.getConfString(k, "")).find(_.nonEmpty)
        .getOrElse("RECORD")
    }.toUpperCase

  /** Render micros-of-a-wall-clock LocalDateTime in the reference's
    * LazySimpleSerDe text shape (java.sql.Timestamp.toString: seconds
    * always present, fraction trimmed but at least ".0") without routing
    * through the JVM default zone. */
  def tsString(ldt: java.time.LocalDateTime): String = {
    val base = ldt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss"))
    val nanos = ldt.getNano
    if (nanos == 0) base + ".0"
    else {
      var s = f"$nanos%09d"
      while (s.length > 1 && s.endsWith("0")) s = s.dropRight(1)
      s"$base.$s"
    }
  }

  /** Schema-less reads see string columns c0..cN (field count from the
    * first line) — Hive tables always carry a declared schema, so this is
    * a programmatic-read convenience only. */
  def inferSchema(dir: String): StructType = {
    val files = FileSplits.listFilesWithLen(dir).map(_._1)
    require(files.nonEmpty, s"no files under $dir")
    val r = new SequenceFile.Reader(FileSplits.hadoopConf(),
      SequenceFile.Reader.file(new Path(files.head)))
    val (k, v) = (new BytesWritable(), new Text())
    val n = try { if (r.next(k, v)) v.toString.split(SEP, -1).length else 1 }
      finally r.close()
    StructType((0 until n).map(i => StructField(s"c$i", StringType)))
  }

  /** One text field → Catalyst internal value (LazySimpleSerDe read).
    * `zone` is the SESSION timezone (captured driver-side): TimestampType
    * text is wall-clock in the session zone; TIMESTAMP_NTZ is
    * zone-independent and never consults it. */
  def parse(raw: String, dt: DataType,
            zone: java.time.ZoneId = java.time.ZoneOffset.UTC): Any = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (raw == NULL) return null
    try dt match {
      case StringType => UTF8String.fromString(raw)
      case IntegerType => raw.trim.toInt
      case LongType => raw.trim.toLong
      case ShortType => raw.trim.toShort
      case ByteType => raw.trim.toByte
      case DoubleType => raw.trim.toDouble
      case FloatType => raw.trim.toFloat
      case BooleanType => raw.trim.equalsIgnoreCase("true")
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(raw.trim),
          d.precision, d.scale)
      case DateType =>
        java.sql.Date.valueOf(raw.trim).toLocalDate.toEpochDay.toInt
      case TimestampType =>
        DateTimeUtils.stringToTimestamp(UTF8String.fromString(raw.trim), zone)
          .getOrElse(null).asInstanceOf[Any]
      case TimestampNTZType =>
        DateTimeUtils.stringToTimestampWithoutTimeZone(
          UTF8String.fromString(raw.trim)).getOrElse(null).asInstanceOf[Any]
      case BinaryType => raw.getBytes("UTF-8")
      case other => sys.error(s"graft-seq: unsupported read type $other")
    } catch {
      // LazySimpleSerDe is permissive: a malformed cell reads NULL
      case _: NumberFormatException | _: IllegalArgumentException => null
    }
  }

  /** Catalyst internal value → text field (LazySimpleSerDe write). */
  def render(row: InternalRow, i: Int, dt: DataType,
             zone: java.time.ZoneId = java.time.ZoneOffset.UTC): String = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (row.isNullAt(i)) return NULL
    dt match {
      case StringType => row.getUTF8String(i).toString
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case ShortType => row.getShort(i).toString
      case ByteType => row.getByte(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => row.getBoolean(i).toString
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toString
      case DateType =>
        java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case TimestampType =>
        tsString(java.time.LocalDateTime.ofInstant(
          DateTimeUtils.microsToInstant(row.getLong(i)), zone))
      case TimestampNTZType =>
        tsString(DateTimeUtils.microsToLocalDateTime(row.getLong(i)))
      case BinaryType => new String(row.getBinary(i), "UTF-8")
      case other => sys.error(s"graft-seq: unsupported write type $other")
    }
  }
}

/** The SequenceFile container under graft-seq and graft-thrift-seq; only
  * the value class differs between the two codecs. */
object SeqContainer {
  /** One split's records, aligned to sync markers
    * (SequenceFileRecordReader convention): the reader seeks to the first
    * sync after `start`, and a record read from a position at or past
    * `end` with a sync seen belongs to the NEXT split's reader. Each
    * record's value lands in `value`; the key, which both layouts ignore,
    * takes the file's own key class. */
  final class SplitReader(split: FileSplit, conf: Configuration, value: Writable)
      extends java.io.Closeable {
    private val reader =
      new SequenceFile.Reader(conf, SequenceFile.Reader.file(new Path(split.file)))
    if (split.start > 0) reader.sync(split.start)
    private val key =
      ReflectionUtils.newInstance(reader.getKeyClass, conf).asInstanceOf[Writable]
    /** Advances `value` to the split's next record; false past its end. */
    def next(): Boolean = {
      val pos = reader.getPosition
      reader.next(key, value) && !(pos >= split.end && reader.syncSeen())
    }
    override def close(): Unit = reader.close()
  }

  /** A writer of SequenceFile<BytesWritable, `valueClass`>. With an
    * `outputCodec`, the container compresses internally (RECORD or BLOCK,
    * FileSinkOperator via SequenceFileOutputFormat.getOutputCompressionType
    * — hive.exec.compress.output parity): the file keeps its name, stays
    * sync-splittable, and readers discover the codec from the header. */
  def writer(conf: Configuration, file: Path, valueClass: Class[_ <: Writable],
      outputCodec: Option[String], compressType: String): SequenceFile.Writer =
    SequenceFile.createWriter(conf, SequenceFile.Writer.file(file),
      SequenceFile.Writer.keyClass(classOf[BytesWritable]),
      SequenceFile.Writer.valueClass(valueClass),
      outputCodec match {
        case Some(c) => SequenceFile.Writer.compression(
          SequenceFile.CompressionType.valueOf(compressType),
          TextV2Util.newCodec(c, conf))
        case None => SequenceFile.Writer.compression(
          SequenceFile.CompressionType.NONE)
      })
}

/** The SequenceFile codec. `outputCodec`/`compressType` are the job's
  * output compression, fixed by [[forWrite]] from `props` and the session. */
case class SeqCodec(props: Map[String, String] = Map.empty,
    outputCodec: Option[String] = None, compressType: String = "RECORD")
    extends FileCodec {
  override def name: String = "graft-seq"

  override def open(split: FileSplit, conf: Configuration, cells: Cells): CellReader = {
    val value = new Text()
    val reader = new SeqContainer.SplitReader(split, conf, value)
    val types = cells.fields.map(_.dataType)
    new CellReader {
      override def next(): Boolean = reader.next()
      override def decode(row: Array[Any]): Unit = {
        val parts = value.toString.split(SeqV2Util.SEP, -1)
        var i = 0
        while (i < types.length) {
          val p = cells.pos(i)
          // a short line: LazySimpleSerDe pads missing fields NULL
          row(cells.slot(i)) =
            if (p < parts.length) SeqV2Util.parse(parts(p), types(i), cells.zone) else null
          i += 1
        }
      }
      override def close(): Unit = reader.close()
    }
  }

  override def forWrite(data: StructType): FileCodec = copy(
    outputCodec = TextV2Util.effectiveOutputCodec(props),
    compressType = SeqV2Util.effectiveCompressType(props))

  override def encoder(data: StructType, ord: Array[Int], conf: Configuration,
      zone: java.time.ZoneId): RowEncoder = new RowEncoder {
    private val types = data.fields.map(_.dataType)
    private val emptyKey = new BytesWritable(Array.emptyByteArray)
    // r18 write-loop allocation cut: the StringBuilder and the Text
    // container are reused across rows (Writer.append serializes the Text
    // before returning, the standard Hadoop discipline), leaving the
    // rendered cell strings as the loop's only allocations.
    private val sb = new java.lang.StringBuilder
    private val txt = new Text
    override def extension: String = ".seq"
    override def create(fs: FileSystem, file: Path): RowAppender = {
      val w = SeqContainer.writer(conf, file, classOf[Text], outputCodec, compressType)
      new RowAppender {
        override def append(row: InternalRow): Unit = {
          sb.setLength(0)
          var j = 0
          while (j < ord.length) {
            if (j > 0) sb.append(SeqV2Util.SEP)
            sb.append(SeqV2Util.render(row, ord(j), types(j), zone))
            j += 1
          }
          txt.set(sb.toString)
          w.append(emptyKey, txt)
        }
        override def close(): Unit = w.close()
      }
    }
  }
}
