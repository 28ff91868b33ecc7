package graft.sources

import scala.collection.JavaConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.spark.sql.types._

/** The Avro schema mapping behind graft-avro ([[graft.sources.v2.AvroCodec]]):
  * Spark types to the record schema written into a container's header and
  * back.
  *
  * Parity target: the reference's Avro SerDe
  * (serde/src/java/org/apache/hadoop/hive/serde2/avro/AvroSerDe.java,
  * AvroDeserializer.java) — tables stored as Avro object-container files
  * with a record schema derived from the table schema. The environment
  * ships avro-core/avro-mapred but NOT the spark-avro connector module,
  * so the mapping is built on the public Avro schema API.
  *
  * Type coverage: the primitive lattice, date/timestamp/decimal logical
  * types, arrays, string-keyed maps and nested records. Every column is a
  * [null, T] union, as in Hive's Avro tables.
  */
object Avro {

  def toAvroSchema(st: StructType, name: String = "row"): Schema = {
    val fields = st.fields.map { f =>
      new Schema.Field(f.name, nullable(toAvroType(f.dataType)), null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(name, null, "graft.avro", false, fields.toList.asJava)
  }

  private def nullable(s: Schema): Schema =
    Schema.createUnion(Schema.create(Schema.Type.NULL), s)

  private def toAvroType(dt: DataType): Schema = dt match {
    case LongType    => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    // Hive's AvroSerDe widens tinyint/smallint onto avro int (avro has no
    // narrower integer); the catalog schema narrows them back on read
    case ByteType | ShortType => Schema.create(Schema.Type.INT)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case StringType  => Schema.create(Schema.Type.STRING)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    case DateType    =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    // element union keeps containsNull=true arrays writable
    case ArrayType(elem, _) => Schema.createArray(nullable(toAvroType(elem)))
    // avro maps are string-keyed by definition (Hive's AvroSerDe refuses
    // non-string map keys the same way)
    case MapType(StringType, v, _) => Schema.createMap(nullable(toAvroType(v)))
    // nested records need names, and avro schema RESOLUTION matches
    // records BY NAME — so the name must be DETERMINISTIC across JVMs
    // (a reader rebuilding the expected schema from the catalog must
    // produce the same name the writer embedded in the file). Derive it
    // from the struct shape: identical shapes share one definition
    // (avro prints later occurrences as name references), different
    // shapes get different names.
    // the name is a COLLISION-RESISTANT digest of the shape, not a 32-bit
    // hashCode: two distinct shapes colliding in one table schema would
    // make avro emit the second as a name REFERENCE to the first's
    // definition, silently writing files with the wrong schema. Avro
    // names have no practical length limit; SHA-256 keeps determinism.
    case st: StructType =>
      toAvroSchema(st, "rec_" + java.security.MessageDigest
        .getInstance("SHA-256").digest(st.toDDL.getBytes("UTF-8"))
        .take(12).map(b => f"$b%02x").mkString)
    // Hive's AvroSerDe maps DECIMAL onto bytes + the decimal logical type
    // (two's-complement unscaled big-endian), avro_decimal_native.q
    case dec: DecimalType =>
      LogicalTypes.decimal(dec.precision, dec.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case other => throw new IllegalArgumentException(s"avro sink: unsupported type $other")
  }

  def toSparkType(s: Schema): DataType = unwrap(s) match {
    case u if u.getType == Schema.Type.LONG =>
      if (u.getLogicalType != null && u.getLogicalType.getName.startsWith("local-timestamp")) TimestampNTZType
      else if (u.getLogicalType != null && u.getLogicalType.getName.startsWith("timestamp")) TimestampType
      else LongType
    case u if u.getType == Schema.Type.INT =>
      if (u.getLogicalType != null && u.getLogicalType.getName == "date") DateType else IntegerType
    case u if u.getType == Schema.Type.DOUBLE  => DoubleType
    case u if u.getType == Schema.Type.FLOAT   => FloatType
    case u if u.getType == Schema.Type.STRING  => StringType
    case u if u.getType == Schema.Type.BOOLEAN => BooleanType
    case u if u.getType == Schema.Type.BYTES   =>
      u.getLogicalType match {
        case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
    case u if u.getType == Schema.Type.ARRAY   => ArrayType(toSparkType(u.getElementType))
    case u if u.getType == Schema.Type.MAP     =>
      MapType(StringType, toSparkType(u.getValueType))
    case u if u.getType == Schema.Type.RECORD  =>
      StructType(u.getFields.asScala.map(f =>
        StructField(f.name, toSparkType(f.schema()), nullable = true)).toArray)
    case other => throw new IllegalArgumentException(s"avro source: unsupported type $other")
  }

  /** Strip the [null, T] union wrapper the writer (and Hive) emit. */
  def unwrap(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s
}
