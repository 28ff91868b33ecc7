package graft.sources.v2

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** graft-text: Hive text tables through the REAL LazySimpleSerDe
  * (reference: serde/src/java/.../lazy/LazySimpleSerDe.java) — the path
  * `STORED AS TEXTFILE` takes when the csv datasource cannot express the
  * table: complex column types (array/map/struct/uniontype — the serde's
  * nested `\002`/`\003`/deeper separators) or explicit COLLECTION ITEMS /
  * MAP KEYS delimiters. Byte-interoperable both ways: graft-written lines
  * decode in Hive and vice versa, because the SAME serde class encodes
  * them.
  *
  * Table properties (the serde's own names): `field.delim`,
  * `collection.delim`, `mapkey.delim`, `escape.delim`,
  * `serialization.null.format`; plus `compress.codec` (or session
  * `SET hive.exec.compress.output=true` [+ codec conf]) for compressed
  * text OUTPUT, FileSinkOperator-style.
  *
  * The codec owns the line stream: uncompressed splits align to newlines
  * (LineRecordReader convention); gzip-style files decompress through
  * the Hadoop codec factory and are unsplittable, exactly as in the
  * reference; LazySimpleSerDe decodes fields LAZILY, so unprojected
  * columns are never materialized. Table, scan and write machinery is
  * [[FileTable]]'s.
  */
class TextDataSource extends FileTableProvider {
  override def shortName(): String = "graft-text"

  override protected def inferSchema(dir: String,
      options: CaseInsensitiveStringMap): StructType =
    TextV2Util.inferSchema(dir,
      Option(options.get("field.delim")).getOrElse("\u0001"))

  override protected def codec(properties: JMap[String, String]): FileCodec =
    TextCodec(TextV2Util.serdeProps(properties))
}

object TextV2Util {
  /** The serde-relevant option subset, preserved verbatim for the
    * executor-side serde init. */
  def serdeProps(properties: JMap[String, String]): Map[String, String] =
    properties.asScala.toSeq.filter { case (k, _) =>
      Set("field.delim", "collection.delim", "mapkey.delim",
        "escape.delim", "serialization.null.format", "compress.codec")
        .contains(k.toLowerCase)
    }.map { case (k, v) => k.toLowerCase -> v }.toMap

  /** Output-compression decision at write-build time — Hive's
    * FileSinkOperator consults `hive.exec.compress.output` +
    * `mapred(uce)?.output.compression.codec`
    * (reference: ql/src/java/.../exec/FileSinkOperator.java,
    * Utilities.getFileExtension). An explicit `compress.codec` writer
    * option wins; otherwise the session SET values apply, with Hive's
    * own default codec (deflate) when only the boolean is set. */
  def effectiveOutputCodec(props: Map[String, String]): Option[String] = {
    props.get("compress.codec").map(_.trim).filter(_.nonEmpty)
      .filterNot(_.equalsIgnoreCase("none")).orElse {
        val conf = org.apache.spark.sql.internal.SQLConf.get
        val on = Seq("hive.exec.compress.output", "mapred.output.compress",
          "mapreduce.output.fileoutputformat.compress")
          .exists(k => conf.getConfString(k, "false").equalsIgnoreCase("true"))
        if (!on) None
        else Some(Seq("mapred.output.compression.codec",
          "mapreduce.output.fileoutputformat.compress.codec")
          .map(k => conf.getConfString(k, "")).find(_.nonEmpty)
          .getOrElse("deflate"))
      }
  }

  /** Resolve a codec by Hadoop class name or short alias and instantiate
    * it against `conf` (pure-Java codecs only — zlib/gzip/bzip2 need no
    * native libs). */
  def newCodec(name: String, conf: Configuration)
      : org.apache.hadoop.io.compress.CompressionCodec = {
    val cls = name.toLowerCase match {
      case "gzip" | "gz" => "org.apache.hadoop.io.compress.GzipCodec"
      case "deflate" | "zlib" | "default" =>
        "org.apache.hadoop.io.compress.DefaultCodec"
      case "bzip2" | "bz2" => "org.apache.hadoop.io.compress.BZip2Codec"
      case _ => name
    }
    org.apache.hadoop.util.ReflectionUtils.newInstance(
      Class.forName(cls).asSubclass(
        classOf[org.apache.hadoop.io.compress.CompressionCodec]), conf)
  }

  /** Hive type string, recursive over complex types (TypeInfoUtils
    * grammar) — the serde's `columns.types` property. */
  def hiveTypeName(dt: DataType): String = dt match {
    case ArrayType(e, _) => s"array<${hiveTypeName(e)}>"
    case MapType(k, v, _) => s"map<${hiveTypeName(k)},${hiveTypeName(v)}>"
    case st: StructType => "struct<" +
      st.fields.map(f => s"${f.name}:${hiveTypeName(f.dataType)}").mkString(",") + ">"
    case prim => RcV2Util.hiveTypeName(prim)
  }

  /** Instantiate + initialize LazySimpleSerDe for the DATA schema with
    * the table's delimiter/null options. */
  def newSerde(dataSchema: StructType, props: Map[String, String])
      : org.apache.hadoop.hive.serde2.AbstractSerDe = {
    val serde = new org.apache.hadoop.hive.serde2.`lazy`.LazySimpleSerDe()
    val p = new java.util.Properties()
    p.setProperty("columns", dataSchema.fieldNames.mkString(","))
    p.setProperty("columns.types",
      dataSchema.fields.map(f => hiveTypeName(f.dataType)).mkString(":"))
    props.foreach { case (k, v) => p.setProperty(k, v) }
    serde.initialize(new Configuration(), p)
    serde
  }

  /** Standard-Java ObjectInspector tree matching [[toHiveValue]]'s
    * objects, recursive over complex types — the serialize-side OI. */
  def javaOI(dt: DataType)
      : org.apache.hadoop.hive.serde2.objectinspector.ObjectInspector = {
    import org.apache.hadoop.hive.serde2.objectinspector.ObjectInspectorFactory
    import org.apache.hadoop.hive.serde2.objectinspector.primitive.{PrimitiveObjectInspectorFactory => P}
    dt match {
      case ArrayType(e, _) =>
        ObjectInspectorFactory.getStandardListObjectInspector(javaOI(e))
      case MapType(k, v, _) =>
        ObjectInspectorFactory.getStandardMapObjectInspector(javaOI(k), javaOI(v))
      case st: StructType =>
        ObjectInspectorFactory.getStandardStructObjectInspector(
          st.fieldNames.toSeq.asJava,
          st.fields.toSeq.map(f => javaOI(f.dataType)).asJava)
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
      case other => sys.error(s"graft-text: unsupported column type $other")
    }
  }

  /** Catalyst VALUE (as stored in InternalRow/ArrayData) → the Hive-Java
    * object [[javaOI]] declares, recursive. */
  def toHiveValue(v: Any, dt: DataType, zone: java.time.ZoneId): Object = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (v == null) return null
    dt match {
      case ArrayType(et, _) =>
        val ad = v.asInstanceOf[ArrayData]
        val out = new java.util.ArrayList[Object](ad.numElements())
        var i = 0
        while (i < ad.numElements()) {
          out.add(toHiveValue(ad.get(i, et), et, zone)); i += 1
        }
        out
      case MapType(kt, vt, _) =>
        val md = v.asInstanceOf[MapData]
        val out = new java.util.LinkedHashMap[Object, Object]()
        val ks = md.keyArray(); val vs = md.valueArray()
        var i = 0
        while (i < md.numElements()) {
          out.put(toHiveValue(ks.get(i, kt), kt, zone),
            toHiveValue(vs.get(i, vt), vt, zone))
          i += 1
        }
        out
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        val out = new java.util.ArrayList[Object](st.length)
        var i = 0
        while (i < st.length) {
          out.add(toHiveValue(
            if (r.isNullAt(i)) null else r.get(i, st.fields(i).dataType),
            st.fields(i).dataType, zone))
          i += 1
        }
        out
      case StringType => v.asInstanceOf[UTF8String].toString
      case IntegerType | LongType | ShortType | ByteType |
           DoubleType | FloatType | BooleanType => v.asInstanceOf[Object]
      case BinaryType => v.asInstanceOf[Array[Byte]]
      case d: DecimalType => org.apache.hadoop.hive.common.`type`.HiveDecimal
        .create(v.asInstanceOf[Decimal].toJavaBigDecimal)
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case TimestampType => java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.ofInstant(
          DateTimeUtils.microsToInstant(v.asInstanceOf[Long]), zone))
      case TimestampNTZType => java.sql.Timestamp.valueOf(
        DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long]))
      case other => sys.error(s"graft-text: unsupported write type $other")
    }
  }

  /** Lazy serde object (+ its OI) → Catalyst value, recursive — the
    * deserialize-side bridge. Primitives reuse the RCFile source's
    * converter (same java objects). */
  def fromHive(data: Any,
      oi: org.apache.hadoop.hive.serde2.objectinspector.ObjectInspector,
      dt: DataType, zone: java.time.ZoneId): Any = {
    import org.apache.hadoop.hive.serde2.objectinspector._
    if (data == null) return null
    (oi, dt) match {
      case (p: PrimitiveObjectInspector, _) =>
        RcV2Util.hiveJavaToCatalyst(p.getPrimitiveJavaObject(data), dt, zone)
      case (l: ListObjectInspector, ArrayType(et, _)) =>
        val n = l.getListLength(data)
        val arr = new Array[Any](n)
        var i = 0
        while (i < n) {
          arr(i) = fromHive(l.getListElement(data, i),
            l.getListElementObjectInspector, et, zone)
          i += 1
        }
        new GenericArrayData(arr)
      case (m: MapObjectInspector, MapType(kt, vt, _)) =>
        val entries = m.getMap(data)
        val ks = new Array[Any](entries.size()); val vs = new Array[Any](entries.size())
        var i = 0
        entries.entrySet().asScala.foreach { e =>
          ks(i) = fromHive(e.getKey, m.getMapKeyObjectInspector, kt, zone)
          vs(i) = fromHive(e.getValue, m.getMapValueObjectInspector, vt, zone)
          i += 1
        }
        new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
      case (s: StructObjectInspector, st: StructType) =>
        // resolve fields by NAME, not position: Spark prunes NESTED
        // struct fields (required may carry struct<y> while the serde's
        // OI still has struct<x,y>), so positions need not line up
        val vals = new Array[Any](st.length)
        var i = 0
        while (i < st.length) {
          val ref = s.getStructFieldRef(st.fields(i).name)
          vals(i) = fromHive(s.getStructFieldData(data, ref),
            ref.getFieldObjectInspector, st.fields(i).dataType, zone)
          i += 1
        }
        new GenericInternalRow(vals)
      case (other, _) => sys.error(
        s"graft-text: unsupported inspector ${other.getClass.getName} for $dt")
    }
  }

  /** Schema-less reads see string columns c0..cN from the first line's
    * field count — tables always carry a declared schema, so this is a
    * programmatic-read convenience only. */
  def inferSchema(dir: String, fieldDelim: String): StructType = {
    val files = FileSplits.listFilesWithLen(dir).map(_._1)
    require(files.nonEmpty, s"no files under $dir")
    val p = new Path(files.head)
    val conf = FileSplits.hadoopConf()
    val in = openMaybeCompressed(p, conf)
    val lr = new org.apache.hadoop.util.LineReader(in)
    val line = new Text()
    val n = try {
      if (lr.readLine(line) > 0)
        line.toString.split(java.util.regex.Pattern.quote(fieldDelim), -1).length
      else 1
    } finally lr.close()
    StructType((0 until n).map(i => StructField(s"c$i", StringType)))
  }

  /** Open with codec-factory decompression (gzip text files are standard
    * Hive practice; they read as one split, same as the reference). */
  def openMaybeCompressed(p: Path, conf: Configuration): java.io.InputStream = {
    val raw = p.getFileSystem(conf).open(p)
    Option(new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      .getCodec(p)) match {
      case Some(codec) => codec.createInputStream(raw)
      case None => raw
    }
  }
}

/** The text codec. `props` are the serde options; `outputCodec` is the
  * job's output compression, fixed by [[forWrite]]. */
case class TextCodec(props: Map[String, String] = Map.empty,
    outputCodec: Option[String] = None) extends FileCodec {
  override def name: String = "graft-text"

  override def open(split: FileSplit, conf: Configuration, cells: Cells): CellReader = {
    val serde = TextV2Util.newSerde(cells.data, props)
    val soi = serde.getObjectInspector
      .asInstanceOf[org.apache.hadoop.hive.serde2.objectinspector.StructObjectInspector]
    val refs = cells.pos.map(soi.getAllStructFieldRefs.get(_))
    val types = cells.fields.map(_.dataType)
    // Newline-aligned byte range (LineRecordReader convention): a line
    // belongs to the split containing its FIRST byte. A non-zero start
    // seeks then discards the partial line (the previous split read it —
    // it reads through the first line ENDING past its end); compressed
    // streams are never range-split, and their decompressed position is
    // unbounded, so their end is +inf.
    val fsPath = new Path(split.file)
    val rawFs = fsPath.getFileSystem(conf)
    val codec = Option(
      new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
        .getCodec(fsPath))
    val end = if (codec.isDefined) Long.MaxValue else split.end
    var pos: Long = split.start
    val lr = codec match {
      case Some(c) =>
        new org.apache.hadoop.util.LineReader(c.createInputStream(rawFs.open(fsPath)))
      case None =>
        val s = rawFs.open(fsPath)
        if (split.start > 0) s.seek(split.start)
        val r = new org.apache.hadoop.util.LineReader(s)
        if (split.start > 0) pos += r.readLine(new Text())
        r
    }
    val line = new Text()
    new CellReader {
      override def next(): Boolean =
        pos <= end && {
          val n = lr.readLine(line)
          pos += n
          n > 0
        }
      override def decode(row: Array[Any]): Unit = {
        val struct = serde.deserialize(line)
        var i = 0
        while (i < refs.length) {
          row(cells.slot(i)) = TextV2Util.fromHive(
            soi.getStructFieldData(struct, refs(i)),
            refs(i).getFieldObjectInspector, types(i), cells.zone)
          i += 1
        }
      }
      override def close(): Unit = lr.close()
    }
  }

  override def forWrite(data: StructType): FileCodec =
    copy(outputCodec = TextV2Util.effectiveOutputCodec(props))

  override def encoder(data: StructType, ord: Array[Int], conf: Configuration,
      zone: java.time.ZoneId): RowEncoder = new RowEncoder {
    private val types = data.fields.map(_.dataType)
    private val serde = TextV2Util.newSerde(data, props)
    private val oi = TextV2Util.javaOI(data)
    private val newline = "\n".getBytes("UTF-8")
    // hive.exec.compress.output parity (FileSinkOperator wraps the text
    // stream in the configured codec and suffixes the file; the read path
    // resolves the codec back from the suffix via CompressionCodecFactory)
    private val codec = outputCodec.map(TextV2Util.newCodec(_, conf))
    // r18 write-loop allocation cut: the row ArrayList is reused
    // (serialize() copies into the serde's own Text, whose bytes are
    // written out immediately)
    private val jrow = new java.util.ArrayList[Object](ord.length)
    override val extension: String =
      ".txt" + codec.map(_.getDefaultExtension).getOrElse("")
    override def create(fs: FileSystem, file: Path): RowAppender = {
      val raw = fs.create(file, false)
      val out = codec.map(_.createOutputStream(raw): java.io.OutputStream).getOrElse(raw)
      new RowAppender {
        override def append(row: InternalRow): Unit = {
          jrow.clear()
          var j = 0
          while (j < ord.length) {
            val i = ord(j)
            jrow.add(TextV2Util.toHiveValue(
              if (row.isNullAt(i)) null else row.get(i, types(j)), types(j), zone))
            j += 1
          }
          val text = serde.serialize(jrow, oi).asInstanceOf[Text]
          out.write(text.getBytes, 0, text.getLength)
          out.write(newline)
        }
        override def close(): Unit = out.close()
      }
    }
  }
}
