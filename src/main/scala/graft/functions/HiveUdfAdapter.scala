package graft.functions

import org.apache.hadoop.hive.common.`type`.{HiveChar, HiveDecimal, HiveVarchar}
import org.apache.hadoop.hive.ql.exec.UDF
import org.apache.hadoop.hive.ql.udf.UDFType
import org.apache.hadoop.hive.ql.udf.generic.GenericUDF
import org.apache.hadoop.hive.serde2.io.{ByteWritable, DateWritable, DoubleWritable, HiveDecimalWritable, ShortWritable, TimestampWritable}
import org.apache.hadoop.hive.serde2.objectinspector._
import org.apache.hadoop.hive.serde2.objectinspector.primitive.{PrimitiveObjectInspectorFactory => POIF}
import org.apache.hadoop.hive.serde2.typeinfo.{DecimalTypeInfo, TypeInfoFactory}
import org.apache.hadoop.io.{BooleanWritable, BytesWritable, FloatWritable, IntWritable, LongWritable, Text}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Executes an arbitrary third-party Hive UDF — a `GenericUDF` subclass,
  * or a legacy `UDF` through a local `GenericUDFBridge` equivalent — as a
  * Catalyst expression. This is the reference's FunctionTask resolution
  * step for user jars (`ql/exec/FunctionTask.java:164-166` resolves the
  * class, `parse/FunctionSemanticAnalyzer.java:134` carries the USING
  * JAR resources, `udf/generic/GenericUDF.java:46` defines the
  * initialize/evaluate-over-ObjectInspectors contract this adapter
  * drives): the last common migration blocker for a warehouse whose
  * scripts register their own UDF classes.
  *
  * Only the class NAME and the child expressions serialize; the UDF
  * instance and its ObjectInspectors re-initialize lazily per JVM from
  * the context classloader, which ADD JAR / USING JAR extends on the
  * driver and every executor — the same late-binding contract as
  * frontend.Functions.JarUdfCall. Values cross the boundary in Hive's writable form
  * (Text/IntWritable/...), the representation Hive's own runtime feeds
  * UDFs, so third-party code that pattern-matches on writables (common
  * in the wild) works; foldable arguments are presented as
  * ConstantObjectInspectors, which many GenericUDFs require for
  * pattern/format parameters.
  *
  * Deliberately eval-mode (CodegenFallback): an arbitrary reflective UDF
  * cannot be code-generated, and the reference executes these
  * row-per-row through ObjectInspectors anyway — per-row cost parity,
  * while everything AROUND the call stays whole-stage-generated.
  */
case class HiveGenericUdfExpr(funcName: String, udfClassName: String,
    children: Seq[Expression]) extends Expression with CodegenFallback {

  override def nullable: Boolean = true
  override def prettyName: String = funcName

  @transient private lazy val udf: GenericUDF = {
    val u = HiveUdfAdapter.instantiate(funcName, udfClassName)
    // the reference closes each operator's UDFs when the operator closes
    // (GenericUDF.close() — wild UDFs flush buffers / release native
    // handles there). A Catalyst expression has no operator-close hook,
    // so hang it off the TASK: executor-side instantiation always runs
    // inside a task (one expression instance per task after the task
    // binary deserializes = per-partition close, the reference's shape);
    // driver-side analysis instantiation has no TaskContext — nothing to
    // close, that instance only answers initialize().
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ =>
        try u.close() catch { case _: Exception => () }))
    u
  }

  @transient private lazy val argOIs: Array[ObjectInspector] =
    children.map { c =>
      if (c.foldable)
        HiveUdfAdapter.constantInspector(c.dataType, c.eval(InternalRow.empty))
      else HiveUdfAdapter.inspectorFor(c.dataType)
    }.toArray

  @transient private lazy val outputOI: ObjectInspector = udf.initialize(argOIs)

  // initialize() runs on the driver during analysis (dataType is needed
  // to resolve the plan) and once more per executor JVM (transient lazy)
  // — both from the same child types and constants, so the shapes agree.
  override def dataType: DataType = HiveUdfAdapter.catalystType(outputOI)

  override lazy val deterministic: Boolean = {
    val ann = HiveUdfAdapter.loadClass(udfClassName)
      .getAnnotation(classOf[UDFType])
    // stateful UDFs (row_sequence shape) are non-deterministic BY
    // DEFINITION for the optimizer even if the annotation forgets to
    // clear deterministic(): folding or common-subexpression sharing
    // would freeze or alias the per-row state (the reference's
    // FunctionRegistry.isStateful → isDeterministic=false rule)
    (ann == null || (ann.deterministic() && !ann.stateful())) &&
      children.forall(_.deterministic)
  }

  override def eval(input: InternalRow): Any = {
    // force initialize() before the first evaluate: a deserialized
    // executor-side instance reaches eval without anything having
    // touched dataType (interpreted fallback paths), and a stateful
    // GenericUDF NPEs if evaluate runs first — Spark's own HiveGenericUDF
    // forces its returnInspector here for the same reason
    outputOI: Unit
    val args = new Array[GenericUDF.DeferredObject](children.length)
    var i = 0
    while (i < children.length) {
      args(i) = new GenericUDF.DeferredJavaObject(
        HiveUdfAdapter.toHive(children(i).eval(input), children(i).dataType))
      i += 1
    }
    HiveUdfAdapter.fromHive(udf.evaluate(args), outputOI)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Executes an arbitrary third-party Hive GenericUDTF as a Catalyst
  * Generator — the LATERAL VIEW / select-list exploder face of the jar
  * adapter (reference `udf/generic/GenericUDTF.java:37`: initialize
  * returns the output row's StructObjectInspector, process() forwards
  * zero or more rows per input through a Collector, close() flushes
  * after ALL rows — mapped onto Generator.eval/terminate; like the
  * reference's per-operator close(), terminate fires once per partition
  * at scale).
  */
case class HiveGenericUdtfExpr(funcName: String, udtfClassName: String,
    children: Seq[Expression])
    extends org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  import org.apache.hadoop.hive.ql.udf.generic.GenericUDTF

  @transient private lazy val udtf: GenericUDTF = {
    val u = HiveUdfAdapter.loadClass(udtfClassName)
      .getDeclaredConstructor().newInstance().asInstanceOf[GenericUDTF]
    u.setCollector(collector)
    u
  }

  @transient private lazy val collector = new org.apache.hadoop.hive.ql.udf
      .generic.Collector {
    override def collect(input: Object): Unit =
      buffered += HiveUdfAdapter.fromHive(input, outputOI)
        .asInstanceOf[InternalRow]
  }

  @transient private lazy val buffered =
    scala.collection.mutable.ArrayBuffer.empty[InternalRow]

  @transient private lazy val outputOI
      : org.apache.hadoop.hive.serde2.objectinspector.StructObjectInspector = {
    val argOIs = children.map { c =>
      if (c.foldable)
        HiveUdfAdapter.constantInspector(c.dataType, c.eval(InternalRow.empty))
      else HiveUdfAdapter.inspectorFor(c.dataType)
    }.toArray
    udtf.initialize(argOIs)
  }

  override def elementSchema: StructType =
    HiveUdfAdapter.catalystType(outputOI).asInstanceOf[StructType]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    outputOI: Unit // force initialize() before the first process()
    buffered.clear()
    val args = new Array[Object](children.length)
    var i = 0
    while (i < children.length) {
      args(i) = HiveUdfAdapter.toHive(children(i).eval(input),
        children(i).dataType)
      i += 1
    }
    udtf.process(args)
    // copy out: Catalyst may buffer the returned rows lazily while the
    // next eval() clears the shared buffer
    buffered.toIndexedSeq
  }

  override def terminate(): IterableOnce[InternalRow] = {
    // an EMPTY partition reaches terminate() without any eval(): close()
    // must still run on an INITIALIZED instance (the reference's
    // initialize->process->close contract; count-in-close UDTFs NPE
    // otherwise)
    outputOI: Unit
    buffered.clear()
    udtf.close()
    buffered.toIndexedSeq
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object HiveUdfAdapter {

  private[graft] def loadClass(name: String): Class[_] =
    Class.forName(name, true,
      Option(Thread.currentThread().getContextClassLoader)
        .getOrElse(getClass.getClassLoader))

  /** Can this class execute through the scalar adapter? (The Engine's
    * CREATE FUNCTION resolution probe — must not throw on non-UDFs.) */
  def supports(className: String): Boolean =
    try {
      val c = loadClass(className)
      classOf[GenericUDF].isAssignableFrom(c) ||
        classOf[UDF].isAssignableFrom(c)
    } catch { case _: ClassNotFoundException | _: LinkageError => false }

  /** ...and through the table-generating adapter? */
  def supportsUdtf(className: String): Boolean =
    try classOf[org.apache.hadoop.hive.ql.udf.generic.GenericUDTF]
      .isAssignableFrom(loadClass(className))
    catch { case _: ClassNotFoundException | _: LinkageError => false }

  /** ...and as an aggregate? (GenericUDAFResolver subclasses run through
    * Spark's own HiveUDAFFunction — public API in the spark-hive module,
    * the exact TypedImperativeAggregate bridge the reference's partial/
    * final evaluator modes need; legacy UDAF classes set its
    * isUDAFBridgeRequired flag.) */
  def supportsUdaf(className: String): Boolean =
    try {
      val c = loadClass(className)
      classOf[org.apache.hadoop.hive.ql.udf.generic.GenericUDAFResolver]
        .isAssignableFrom(c) ||
        classOf[org.apache.hadoop.hive.ql.exec.UDAF].isAssignableFrom(c)
    } catch { case _: ClassNotFoundException | _: LinkageError => false }

  def isLegacyUdaf(className: String): Boolean =
    try classOf[org.apache.hadoop.hive.ql.exec.UDAF]
      .isAssignableFrom(loadClass(className))
    catch { case _: ClassNotFoundException | _: LinkageError => false }

  /** FunctionTask.getUdfClass + FunctionRegistry.registerTemporaryUDF:
    * a GenericUDF instantiates directly; a legacy UDF wraps in a local
    * equivalent of Hive's GenericUDFBridge (reflect the right evaluate()
    * overload per argument types, convert arguments through
    * ObjectInspectorConverters — the reference runtime's exact contract,
    * `udf/generic/GenericUDFBridge.java:167`). Hive's own bridge is
    * unusable here: its method resolver routes through
    * ql.exec.FunctionRegistry, whose static initializer needs LLAP
    * classes the hive-exec-CORE artifact deliberately excludes. */
  def instantiate(funcName: String, className: String): GenericUDF = {
    val c = loadClass(className)
    if (classOf[GenericUDF].isAssignableFrom(c))
      c.getDeclaredConstructor().newInstance().asInstanceOf[GenericUDF]
    else if (classOf[UDF].isAssignableFrom(c))
      new LegacyUdfBridge(funcName, c)
    else sys.error(
      s"FAILED: Class $className does not implement UDF, GenericUDF, or UDAF")
  }

  /** Local GenericUDFBridge: runs a legacy `UDF` subclass (the
    * evaluate()-overload shape) under the GenericUDF contract. Overload
    * selection scores each candidate per argument — exact primitive
    * category 2, convertible primitive 1, otherwise rejected — and the
    * winning method's parameter/return java types choose the
    * ObjectInspectors; ObjectInspectorConverters then coerces at eval
    * (so e.g. an INT column feeds a long-parameter overload, Hive's
    * implicit-conversion behavior). */
  private class LegacyUdfBridge(funcName: String, udfClass: Class[_])
      extends GenericUDF {
    private var instance: AnyRef = _
    private var method: java.lang.reflect.Method = _
    private var converters: Array[ObjectInspectorConverters.Converter] = _

    private def oiFor(c: Class[_]): ObjectInspector = c.getName match {
      case "java.lang.String" => POIF.javaStringObjectInspector
      case "long" | "java.lang.Long" => POIF.javaLongObjectInspector
      case "int" | "java.lang.Integer" => POIF.javaIntObjectInspector
      case "short" | "java.lang.Short" => POIF.javaShortObjectInspector
      case "byte" | "java.lang.Byte" => POIF.javaByteObjectInspector
      case "boolean" | "java.lang.Boolean" => POIF.javaBooleanObjectInspector
      case "float" | "java.lang.Float" => POIF.javaFloatObjectInspector
      case "double" | "java.lang.Double" => POIF.javaDoubleObjectInspector
      case "[B" => POIF.javaByteArrayObjectInspector
      case "java.sql.Date" => POIF.javaDateObjectInspector
      case "java.sql.Timestamp" => POIF.javaTimestampObjectInspector
      case "org.apache.hadoop.hive.common.type.HiveDecimal" =>
        POIF.javaHiveDecimalObjectInspector
      case "org.apache.hadoop.io.Text" => POIF.writableStringObjectInspector
      case "org.apache.hadoop.io.IntWritable" => POIF.writableIntObjectInspector
      case "org.apache.hadoop.io.LongWritable" => POIF.writableLongObjectInspector
      case "org.apache.hadoop.io.FloatWritable" => POIF.writableFloatObjectInspector
      case "org.apache.hadoop.io.BooleanWritable" =>
        POIF.writableBooleanObjectInspector
      case "org.apache.hadoop.io.BytesWritable" => POIF.writableBinaryObjectInspector
      case "org.apache.hadoop.hive.serde2.io.DoubleWritable" =>
        POIF.writableDoubleObjectInspector
      case "org.apache.hadoop.hive.serde2.io.ShortWritable" =>
        POIF.writableShortObjectInspector
      case "org.apache.hadoop.hive.serde2.io.ByteWritable" =>
        POIF.writableByteObjectInspector
      case "org.apache.hadoop.hive.serde2.io.HiveDecimalWritable" =>
        POIF.writableHiveDecimalObjectInspector
      case "org.apache.hadoop.hive.serde2.io.DateWritable" =>
        POIF.writableDateObjectInspector
      case "org.apache.hadoop.hive.serde2.io.TimestampWritable" =>
        POIF.writableTimestampObjectInspector
      case other => sys.error(s"FAILED: $funcName (${udfClass.getName}): " +
        s"unsupported evaluate() parameter/return type $other")
    }

    private def score(args: Array[ObjectInspector],
        m: java.lang.reflect.Method): Int = {
      var total = 0
      var i = 0
      while (i < args.length) {
        val want =
          try oiFor(m.getParameterTypes()(i))
          catch { case _: Exception => return -1 }
        (args(i), want) match {
          case (a: PrimitiveObjectInspector, w: PrimitiveObjectInspector) =>
            total += (if (a.getPrimitiveCategory == w.getPrimitiveCategory) 2
                      else 1) // ObjectInspectorConverters coerces primitives
          case _ => return -1
        }
        i += 1
      }
      total
    }

    override def initialize(args: Array[ObjectInspector]): ObjectInspector = {
      instance = udfClass.getDeclaredConstructor().newInstance()
        .asInstanceOf[AnyRef]
      val scored = udfClass.getMethods.toSeq
        .filter(m => m.getName == "evaluate" && m.getParameterCount == args.length)
        .map(m => (score(args, m), m)).filter(_._1 >= 0)
      if (scored.isEmpty) sys.error(s"FAILED: no matching evaluate() overload " +
        s"on ${udfClass.getName} for ${args.length} argument(s)")
      method = scored.maxBy(_._1)._2
      converters = args.zip(method.getParameterTypes.map(oiFor)).map {
        case (from, to) => ObjectInspectorConverters.getConverter(from, to)
      }
      oiFor(method.getReturnType)
    }

    override def evaluate(d: Array[GenericUDF.DeferredObject]): AnyRef = {
      val jargs = new Array[AnyRef](converters.length)
      var i = 0
      while (i < converters.length) {
        val v = converters(i).convert(d(i).get())
        // a null into a primitive-typed parameter cannot invoke (the
        // reflective unbox would NPE): legacy Hive returns null, same here
        if (v == null && method.getParameterTypes()(i).isPrimitive) return null
        jargs(i) = v.asInstanceOf[AnyRef]
        i += 1
      }
      method.invoke(instance, jargs: _*)
    }

    override def getDisplayString(children: Array[String]): String =
      s"$funcName(${children.mkString(", ")})"
  }

  // ---- Catalyst DataType -> ObjectInspector (writable flavor) ----------

  def inspectorFor(dt: DataType): ObjectInspector = dt match {
    case StringType => POIF.writableStringObjectInspector
    case IntegerType => POIF.writableIntObjectInspector
    case LongType => POIF.writableLongObjectInspector
    case ShortType => POIF.writableShortObjectInspector
    case ByteType => POIF.writableByteObjectInspector
    case BooleanType => POIF.writableBooleanObjectInspector
    case FloatType => POIF.writableFloatObjectInspector
    case DoubleType => POIF.writableDoubleObjectInspector
    case BinaryType => POIF.writableBinaryObjectInspector
    case DateType => POIF.writableDateObjectInspector
    case TimestampType => POIF.writableTimestampObjectInspector
    case d: DecimalType => POIF.getPrimitiveWritableObjectInspector(
      TypeInfoFactory.getDecimalTypeInfo(d.precision, d.scale))
    case NullType => POIF.writableVoidObjectInspector
    case ArrayType(et, _) =>
      ObjectInspectorFactory.getStandardListObjectInspector(inspectorFor(et))
    case MapType(kt, vt, _) =>
      ObjectInspectorFactory.getStandardMapObjectInspector(
        inspectorFor(kt), inspectorFor(vt))
    case st: StructType =>
      ObjectInspectorFactory.getStandardStructObjectInspector(
        st.fieldNames.toSeq.asJava,
        st.fields.map(f => inspectorFor(f.dataType)).toSeq.asJava)
    case other => sys.error(
      s"graft: no Hive ObjectInspector mapping for argument type $other")
  }

  /** Foldable arguments present as ConstantObjectInspectors — GenericUDFs
    * routinely require this for pattern/format/size parameters
    * (`initialize` casts the OI and reads the value up front). */
  def constantInspector(dt: DataType, value: Any): ObjectInspector = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | FloatType | DoubleType | BinaryType | DateType |
         TimestampType | NullType =>
      POIF.getPrimitiveWritableConstantObjectInspector(
        primitiveTypeInfo(dt), toHive(value, dt))
    case d: DecimalType =>
      POIF.getPrimitiveWritableConstantObjectInspector(
        TypeInfoFactory.getDecimalTypeInfo(d.precision, d.scale),
        toHive(value, dt))
    case ArrayType(et, _) =>
      val vs = if (value == null) null
        else {
          val a = value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val out = new java.util.ArrayList[AnyRef](a.numElements())
          var i = 0
          while (i < a.numElements()) {
            out.add(toHive(a.get(i, et), et)); i += 1
          }
          out
        }
      ObjectInspectorFactory.getStandardConstantListObjectInspector(
        inspectorFor(et), vs)
    case _ => inspectorFor(dt) // struct/map constants: plain OI suffices
  }

  private def primitiveTypeInfo(dt: DataType) = dt match {
    case StringType => TypeInfoFactory.stringTypeInfo
    case IntegerType => TypeInfoFactory.intTypeInfo
    case LongType => TypeInfoFactory.longTypeInfo
    case ShortType => TypeInfoFactory.shortTypeInfo
    case ByteType => TypeInfoFactory.byteTypeInfo
    case BooleanType => TypeInfoFactory.booleanTypeInfo
    case FloatType => TypeInfoFactory.floatTypeInfo
    case DoubleType => TypeInfoFactory.doubleTypeInfo
    case BinaryType => TypeInfoFactory.binaryTypeInfo
    case DateType => TypeInfoFactory.dateTypeInfo
    case TimestampType => TypeInfoFactory.timestampTypeInfo
    case NullType => TypeInfoFactory.voidTypeInfo
    case other => sys.error(s"graft: not a Hive primitive: $other")
  }

  // ---- Catalyst internal value -> Hive writable object -----------------

  def toHive(v: Any, dt: DataType): AnyRef =
    if (v == null) null
    else dt match {
      case StringType => new Text(v.asInstanceOf[UTF8String].getBytes)
      case IntegerType => new IntWritable(v.asInstanceOf[Int])
      case LongType => new LongWritable(v.asInstanceOf[Long])
      case ShortType => new ShortWritable(v.asInstanceOf[Short])
      case ByteType => new ByteWritable(v.asInstanceOf[Byte])
      case BooleanType => new BooleanWritable(v.asInstanceOf[Boolean])
      case FloatType => new FloatWritable(v.asInstanceOf[Float])
      case DoubleType => new DoubleWritable(v.asInstanceOf[Double])
      case BinaryType => new BytesWritable(v.asInstanceOf[Array[Byte]])
      case DateType => new DateWritable(v.asInstanceOf[Int])
      case TimestampType => new TimestampWritable(
        DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long]))
      case _: DecimalType => new HiveDecimalWritable(
        HiveDecimal.create(
          v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal))
      case NullType => null
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val out = new java.util.ArrayList[AnyRef](a.numElements())
        var i = 0
        while (i < a.numElements()) { out.add(toHive(a.get(i, et), et)); i += 1 }
        out
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val out = new java.util.LinkedHashMap[AnyRef, AnyRef](m.numElements())
        val ks = m.keyArray(); val vs = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          out.put(toHive(ks.get(i, kt), kt), toHive(vs.get(i, vt), vt)); i += 1
        }
        out
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        val out = new java.util.ArrayList[AnyRef](st.length)
        var i = 0
        while (i < st.length) {
          out.add(toHive(r.get(i, st.fields(i).dataType), st.fields(i).dataType))
          i += 1
        }
        out
      case other => sys.error(s"graft: cannot pass $other to a Hive UDF")
    }

  // ---- UDF result -> Catalyst internal value (through the OUTPUT OI) ---

  def fromHive(v: Any, oi: ObjectInspector): Any =
    if (v == null) null
    else oi match {
      case poi: PrimitiveObjectInspector =>
        poi.getPrimitiveJavaObject(v) match {
          case null => null
          case s: String => UTF8String.fromString(s)
          case c: HiveChar => UTF8String.fromString(c.getValue)
          case c: HiveVarchar => UTF8String.fromString(c.getValue)
          case d: HiveDecimal =>
            val (p, s) = poi.getTypeInfo match {
              case ti: DecimalTypeInfo => (ti.precision(), ti.scale())
              case _ => (DecimalType.SYSTEM_DEFAULT.precision,
                DecimalType.SYSTEM_DEFAULT.scale)
            }
            val dec = Decimal(d.bigDecimalValue())
            if (dec.changePrecision(p, s)) dec else null
          case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
          case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
          case b: Array[Byte] => b
          case other => other // boxed numeric/boolean primitives pass through
        }
      case loi: ListObjectInspector =>
        val l = loi.getList(v)
        if (l == null) null
        else {
          val out = new Array[Any](l.size())
          var i = 0
          while (i < l.size()) {
            out(i) = fromHive(l.get(i), loi.getListElementObjectInspector)
            i += 1
          }
          new GenericArrayData(out)
        }
      case moi: MapObjectInspector =>
        val m = moi.getMap(v)
        if (m == null) null
        else {
          val ks = new Array[Any](m.size()); val vs = new Array[Any](m.size())
          var i = 0
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            ks(i) = fromHive(e.getKey, moi.getMapKeyObjectInspector)
            vs(i) = fromHive(e.getValue, moi.getMapValueObjectInspector)
            i += 1
          }
          ArrayBasedMapData(ks, vs)
        }
      case soi: StructObjectInspector =>
        val fields = soi.getAllStructFieldRefs
        val out = new Array[Any](fields.size())
        var i = 0
        while (i < fields.size()) {
          val f = fields.get(i)
          out(i) = fromHive(soi.getStructFieldData(v, f), f.getFieldObjectInspector)
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
      case other => sys.error(
        s"graft: unsupported Hive UDF output inspector ${other.getClass.getName}")
    }

  // ---- output ObjectInspector -> Catalyst DataType ----------------------

  def catalystType(oi: ObjectInspector): DataType = oi match {
    case poi: PrimitiveObjectInspector =>
      import PrimitiveObjectInspector.PrimitiveCategory._
      poi.getPrimitiveCategory match {
        case STRING | CHAR | VARCHAR => StringType
        case INT => IntegerType
        case LONG => LongType
        case SHORT => ShortType
        case BYTE => ByteType
        case BOOLEAN => BooleanType
        case FLOAT => FloatType
        case DOUBLE => DoubleType
        case BINARY => BinaryType
        case DATE => DateType
        case TIMESTAMP => TimestampType
        case DECIMAL => poi.getTypeInfo match {
          case ti: DecimalTypeInfo => DecimalType(ti.precision(), ti.scale())
          case _ => DecimalType.SYSTEM_DEFAULT
        }
        case VOID => NullType
        case other => sys.error(
          s"graft: unsupported Hive UDF output primitive $other")
      }
    case loi: ListObjectInspector =>
      ArrayType(catalystType(loi.getListElementObjectInspector))
    case moi: MapObjectInspector =>
      MapType(catalystType(moi.getMapKeyObjectInspector),
        catalystType(moi.getMapValueObjectInspector))
    case soi: StructObjectInspector =>
      StructType(soi.getAllStructFieldRefs.asScala.map(f =>
        org.apache.spark.sql.types.StructField(f.getFieldName,
          catalystType(f.getFieldObjectInspector))).toArray)
    case other => sys.error(
      s"graft: unsupported Hive UDF output inspector ${other.getClass.getName}")
  }
}
