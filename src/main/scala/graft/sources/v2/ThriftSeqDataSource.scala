package graft.sources.v2

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.BytesWritable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.thrift.{TBase, TDeserializer, TFieldIdEnum, TSerializer}
import org.apache.thrift.meta_data.{FieldMetaData, ListMetaData, MapMetaData, SetMetaData, StructMetaData}
import org.apache.thrift.protocol.{TBinaryProtocol, TCompactProtocol, TProtocolFactory}

/** graft-thrift-seq: Hive's thrift-serialized SequenceFile tables
  * (reference: serde2/thrift/ThriftDeserializer.java +
  * ThriftByteStreamTypedSerDe.java; the src_thrift fixture behind
  * join_thrift.q). Each SequenceFile value is one record of the
  * `serialization.class` thrift struct, serialized with
  * `serialization.format` (TBinaryProtocol by default).
  *
  * The table schema is derived from the thrift class's own generated
  * metadata (FieldMetaData.getStructMetaDataMap) — like Hive, the DDL
  * carries NO column list; the serde class IS the schema. Nested structs,
  * lists, sets, maps and enums map recursively; a thrift UNION maps to a
  * struct of its alternatives with exactly the set one non-null (Hive
  * renders uniontype<...> — same information, Catalyst-native shape).
  *
  * Nullability (thrift's own wire contract, pinned in
  * SourceRoundTripSpec): default-requiredness PRIMITIVE fields are
  * always serialized by the generated write(), so a null written into
  * one would read back as the thrift default (0/false) — the writer
  * REFUSES such a write loudly rather than corrupting the value.
  * Strings, structs and containers are genuinely nullable (their write
  * is null-guarded) and pass through.
  *
  * The codec owns the record layout: thrift records are row-serialized,
  * so each record deserializes once, but only the REQUIRED top-level
  * fields convert to Catalyst values (projection prunes conversion, not
  * deserialization). The container is [[SeqContainer]]'s; table, scan and
  * write machinery is [[FileTable]]'s. Tables are unpartitioned, as the
  * reference's thrift tables are.
  */
class ThriftSeqDataSource extends FileTableProvider {
  override def shortName(): String = "graft-thrift-seq"

  private def thriftClassOf(options: JMap[String, String]): String =
    Option(options.get("thrift.class")).getOrElse(
      sys.error("graft-thrift-seq requires thrift.class (serialization.class)"))

  /** The serde class is the schema: no path or file is consulted. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ThriftBridge.schemaFor(thriftClassOf(options))

  override protected def inferSchema(dir: String,
      options: CaseInsensitiveStringMap): StructType = inferSchema(options)

  override protected def codec(properties: JMap[String, String]): FileCodec =
    ThriftCodec(thriftClassOf(properties), Option(properties.get("thrift.protocol"))
      .getOrElse("org.apache.thrift.protocol.TBinaryProtocol"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    require(partitioning.isEmpty && !properties.containsKey("partitions"),
      "graft-thrift-seq does not support partitioned tables")
    super.getTable(schema, partitioning, properties)
  }
}

/** Thrift generated-code metadata → Catalyst, and value bridges both
  * ways. Everything goes through the public TBase/TFieldIdEnum surface —
  * no per-class code, any generated thrift struct works. */
object ThriftBridge {
  import org.apache.thrift.protocol.TType

  private def tbase(className: String): Class[_ <: TBase[_, _]] =
    Class.forName(className).asSubclass(classOf[TBase[_, _]])

  /** Declaration-ordered (field, metadata) pairs; the generated
    * metaDataMap is an EnumMap over _Fields, so iteration order IS thrift
    * declaration order. Cached — the reader resolves fields per ROW. */
  private val fieldsCache =
    new java.util.concurrent.ConcurrentHashMap[Class[_],
      Seq[(TFieldIdEnum, FieldMetaData)]]()
  private def fieldsOf(c: Class[_ <: TBase[_, _]])
      : Seq[(TFieldIdEnum, FieldMetaData)] =
    fieldsCache.computeIfAbsent(c, _ =>
      FieldMetaData.getStructMetaDataMap(
          c.asInstanceOf[Class[_ <: TBase[Nothing, Nothing]]])
        .asScala.toSeq.map { case (k, v) => (k: TFieldIdEnum, v) })

  def schemaFor(className: String): StructType = structOf(tbase(className))

  private def structOf(c: Class[_ <: TBase[_, _]]): StructType =
    StructType(fieldsOf(c).map { case (f, m) =>
      StructField(f.getFieldName, typeOf(m.valueMetaData))
    })

  private def typeOf(m: org.apache.thrift.meta_data.FieldValueMetaData)
      : DataType = m.`type` match {
    case TType.BOOL => BooleanType
    case TType.BYTE => ByteType
    case TType.I16 => ShortType
    case TType.I32 => IntegerType
    case TType.I64 => LongType
    case TType.DOUBLE => DoubleType
    case TType.STRING => if (m.isBinary) BinaryType else StringType
    case TType.ENUM => StringType
    case TType.LIST =>
      ArrayType(typeOf(m.asInstanceOf[ListMetaData].elemMetaData))
    case TType.SET =>
      ArrayType(typeOf(m.asInstanceOf[SetMetaData].elemMetaData))
    case TType.MAP =>
      val mm = m.asInstanceOf[MapMetaData]
      MapType(typeOf(mm.keyMetaData), typeOf(mm.valueMetaData))
    case TType.STRUCT =>
      structOf(m.asInstanceOf[StructMetaData].structClass
        .asInstanceOf[Class[_ <: TBase[_, _]]])
    case other => sys.error(s"graft-thrift-seq: unsupported thrift type $other")
  }

  def protocolFactory(name: String): TProtocolFactory =
    name.split('.').last match {
      case "TBinaryProtocol" => new TBinaryProtocol.Factory()
      case "TCompactProtocol" => new TCompactProtocol.Factory()
      case o => sys.error(s"graft-thrift-seq: unsupported protocol $o")
    }

  def newInstance(className: String): TBase[_, _] =
    tbase(className).getDeclaredConstructor().newInstance()

  // ---- thrift object → Catalyst ----

  /** Thrift declaration index for each of `names`, resolved by NAME
    * against the class metadata — never by position in a caller-supplied
    * schema (a reordered or subset external schema must keep reading the
    * right fields, or fail loudly on an unknown name). */
  def fieldIndexes(className: String, names: Seq[String]): Array[Int] = {
    val byName = fieldsOf(tbase(className)).zipWithIndex
      .map { case ((f, _), i) => f.getFieldName -> i }.toMap
    names.map(n => byName.getOrElse(n, sys.error(
      s"graft-thrift-seq: $className has no field '$n' " +
        s"(fields: ${byName.keys.mkString(", ")})"))).toArray
  }

  /** Convert ONE top-level field (by thrift declaration index from
    * [[fieldIndexes]]); the reader calls this only for required fields,
    * so projection prunes the conversion work. */
  def fieldToCatalyst(obj: TBase[_, _], fieldIdx: Int): Any = {
    val (f, _) = fieldsOf(obj.getClass.asInstanceOf[Class[_ <: TBase[_, _]]])
      .apply(fieldIdx)
    val tb = obj.asInstanceOf[TBase[Nothing, TFieldIdEnum]]
    if (!tb.isSet(f)) null else toCatalyst(tb.getFieldValue(f))
  }

  private def structToRow(obj: TBase[_, _]): InternalRow = {
    val fs = fieldsOf(obj.getClass.asInstanceOf[Class[_ <: TBase[_, _]]])
    val tb = obj.asInstanceOf[TBase[Nothing, TFieldIdEnum]]
    new GenericInternalRow(fs.map { case (f, _) =>
      if (!tb.isSet(f)) null else toCatalyst(tb.getFieldValue(f))
    }.toArray)
  }

  private def toCatalyst(v: Any): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case b: java.nio.ByteBuffer =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case n: java.lang.Number => n // Int/Long/Short/Byte/Double boxed
    case b: java.lang.Boolean => b
    case e: org.apache.thrift.TEnum => UTF8String.fromString(e.toString)
    case l: java.util.List[_] =>
      new GenericArrayData(l.asScala.map(toCatalyst).toArray)
    case s: java.util.Set[_] =>
      new GenericArrayData(s.asScala.toSeq.map(toCatalyst).toArray)
    case m: java.util.Map[_, _] =>
      val entries = m.entrySet().asScala.toSeq
      new ArrayBasedMapData(
        new GenericArrayData(entries.map(e => toCatalyst(e.getKey)).toArray),
        new GenericArrayData(entries.map(e => toCatalyst(e.getValue)).toArray))
    case t: TBase[_, _] => structToRow(t)
    case other => sys.error(
      s"graft-thrift-seq: unsupported thrift value ${other.getClass}")
  }

  // ---- Catalyst → thrift object (for writes/fixtures) ----

  def rowToStruct(row: InternalRow, schema: StructType,
                  className: String): TBase[_, _] = {
    val obj = newInstance(className)
    val fs = fieldsOf(obj.getClass.asInstanceOf[Class[_ <: TBase[_, _]]])
    val byName = fs.map { case (f, m) => f.getFieldName -> (f, m) }.toMap
    val tb = obj.asInstanceOf[TBase[Nothing, TFieldIdEnum]]
    // by NAME: the incoming schema may reorder or subset the class fields
    schema.fields.zipWithIndex.foreach { case (sf, i) =>
      val (f, m) = byName.getOrElse(sf.name, sys.error(
        s"graft-thrift-seq: $className has no field '${sf.name}'"))
      if (!row.isNullAt(i))
        tb.setFieldValue(f, fromCatalyst(row, i, sf.dataType, m.valueMetaData))
      else {
        // REFUSAL, not silent corruption: a NULL routed into a
        // non-optional PRIMITIVE field would be serialized by the
        // generated write() as the thrift default and read back as
        // 0/false — fail the write loudly instead (strings, structs and
        // containers are null-guarded on the wire and pass through)
        import org.apache.thrift.protocol.TType
        val t = m.valueMetaData.`type`
        val primitive = t == TType.BOOL || t == TType.BYTE ||
          t == TType.I16 || t == TType.I32 || t == TType.I64 ||
          t == TType.DOUBLE
        if (primitive &&
            m.requirementType != org.apache.thrift.TFieldRequirementType.OPTIONAL)
          sys.error(s"graft-thrift-seq: NULL for non-optional primitive " +
            s"field '${sf.name}' of $className would silently read back " +
            "as the thrift default (0/false); write a value, or declare " +
            "the field optional in the thrift IDL")
      }
    }
    obj
  }

  private def fromCatalyst(row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, dt: DataType,
      m: org.apache.thrift.meta_data.FieldValueMetaData): Object = dt match {
    case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
    case ByteType => java.lang.Byte.valueOf(row.getByte(i))
    case ShortType => java.lang.Short.valueOf(row.getShort(i))
    case IntegerType => java.lang.Integer.valueOf(row.getInt(i))
    case LongType => java.lang.Long.valueOf(row.getLong(i))
    case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
    case StringType => row.getUTF8String(i).toString
    case BinaryType => java.nio.ByteBuffer.wrap(row.getBinary(i))
    case ArrayType(et, _) =>
      val arr = row.getArray(i)
      val em = m match {
        case lm: ListMetaData => lm.elemMetaData
        case sm: SetMetaData => sm.elemMetaData
        case _ => sys.error("array value for non-list thrift field")
      }
      val out = (0 until arr.numElements).map { j =>
        if (arr.isNullAt(j)) null else fromCatalyst(arr, j, et, em)
      }.asJava
      if (m.`type` == org.apache.thrift.protocol.TType.SET)
        new java.util.HashSet[Object](out) else new java.util.ArrayList(out)
    case MapType(kt, vt, _) =>
      val mm = m.asInstanceOf[MapMetaData]
      val md: MapData = row.getMap(i)
      val out = new java.util.HashMap[Object, Object]()
      (0 until md.numElements).foreach { j =>
        out.put(fromCatalyst(md.keyArray, j, kt, mm.keyMetaData),
          if (md.valueArray.isNullAt(j)) null
          else fromCatalyst(md.valueArray, j, vt, mm.valueMetaData))
      }
      out
    case st: StructType =>
      val sc = m.asInstanceOf[StructMetaData].structClass
      rowToStruct(row.getStruct(i, st.length), st, sc.getName)
    case other => sys.error(s"graft-thrift-seq: unsupported write type $other")
  }
}

/** The thrift codec: SequenceFile<BytesWritable, BytesWritable> whose value
  * holds one record's bytes (ThriftByteStreamTypedSerDe). Fields resolve
  * by NAME against the class metadata, never by position in the table
  * schema: a reordered or subset external schema keeps reading the right
  * fields, and an unknown name fails loudly. `outputCodec`/`compressType`
  * are the job's output compression, fixed by [[forWrite]] from the
  * session. */
case class ThriftCodec(thriftClass: String, protocol: String,
    outputCodec: Option[String] = None, compressType: String = "RECORD")
    extends FileCodec {
  override def name: String = "graft-thrift-seq"

  override def open(split: FileSplit, conf: Configuration, cells: Cells): CellReader = {
    val fieldPos = ThriftBridge.fieldIndexes(thriftClass, cells.fields.map(_.name).toSeq)
    val deser = new TDeserializer(ThriftBridge.protocolFactory(protocol))
    val value = new BytesWritable()
    val reader = new SeqContainer.SplitReader(split, conf, value)
    new CellReader {
      override def next(): Boolean = reader.next()
      override def decode(row: Array[Any]): Unit = {
        val obj = ThriftBridge.newInstance(thriftClass)
        // offset/length overload: no per-row byte copy on the scan path
        deser.deserialize(obj.asInstanceOf[TBase[Nothing, Nothing]],
          value.getBytes, 0, value.getLength)
        var i = 0
        while (i < fieldPos.length) {
          row(cells.slot(i)) = ThriftBridge.fieldToCatalyst(obj, fieldPos(i))
          i += 1
        }
      }
      override def close(): Unit = reader.close()
    }
  }

  /** Fails at planning on a column the class does not declare. */
  override def forWrite(data: StructType): FileCodec = {
    ThriftBridge.fieldIndexes(thriftClass, data.fieldNames.toSeq): Unit
    copy(outputCodec = TextV2Util.effectiveOutputCodec(Map.empty),
      compressType = SeqV2Util.effectiveCompressType(Map.empty))
  }

  /** Thrift tables are unpartitioned, so data column `j` sits at ordinal
    * `j` of each row (`ord` is the identity). */
  override def encoder(data: StructType, ord: Array[Int], conf: Configuration,
      zone: java.time.ZoneId): RowEncoder = new RowEncoder {
    private val ser = new TSerializer(ThriftBridge.protocolFactory(protocol))
    private val emptyKey = new BytesWritable(Array.emptyByteArray)
    override def extension: String = ".seq"
    override def create(fs: FileSystem, file: Path): RowAppender = {
      val w = SeqContainer.writer(conf, file, classOf[BytesWritable], outputCodec, compressType)
      new RowAppender {
        override def append(row: InternalRow): Unit = {
          val obj = ThriftBridge.rowToStruct(row, data, thriftClass)
          w.append(emptyKey, new BytesWritable(
            ser.serialize(obj.asInstanceOf[TBase[Nothing, Nothing]])))
        }
        override def close(): Unit = w.close()
      }
    }
  }
}
