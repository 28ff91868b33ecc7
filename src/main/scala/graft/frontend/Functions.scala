package graft
package frontend

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.FieldExpr

/** Function DDL: CREATE / DROP [TEMPORARY] FUNCTION and TEMPORARY MACRO. */
private[graft] object Functions {

  /** CREATE/DROP [TEMPORARY] FUNCTION DDL surface — the reference's
    * FunctionSemanticAnalyzer + FunctionTask: a statement names an
    * implementing class, the task resolves the class to a function builder
    * and registers it under the statement's name. The class catalog maps
    * BOTH this engine's expression classes and the reference's Hive UDF
    * class names (what a migrating user's scripts actually contain) onto
    * the same Catalyst builders, so `CREATE TEMPORARY FUNCTION f AS
    * 'org.apache.hadoop.hive.ql.udf.generic.GenericUDFField'` just works.
    * Statements with an unknown class resolve against the session
    * classloader (jarUdfBuilder — the ADD JAR runtime-loading path);
    * anything else falls through to Spark's native parser.
    */
  private val functionClasses: Map[String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression] = Map(
    "graft.functions.FieldExpr" -> (exprs => FieldExpr(exprs)),
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDFField" -> (exprs => FieldExpr(exprs)),
    "graft.functions.ParseUrlTuple" -> (exprs => graft.functions.ParseUrlTuple(exprs)),
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDTFParseUrlTuple" -> (exprs => graft.functions.ParseUrlTuple(exprs)),
    "graft.functions.InFile" -> (exprs => graft.functions.InFile(exprs(0), exprs(1))),
    "org.apache.hadoop.hive.ql.udf.UDFInFile" -> (exprs => graft.functions.InFile(exprs(0), exprs(1))),
    "graft.functions.Reflect2" -> (exprs => graft.functions.Reflect2(exprs)),
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDFReflect2" -> (exprs => graft.functions.Reflect2(exprs)),
    "graft.functions.SortArrayBy" -> (exprs => graft.functions.SortArrayBy(exprs)),
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDFSortArrayByField" -> (exprs => graft.functions.SortArrayBy(exprs)),
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDFSurrogateKey" -> (_ => org.apache.spark.sql.catalyst.expressions.MonotonicallyIncreasingID()),
    // the contrib example UDFs the reference's udf_example_*.q tests
    // register (contrib/src/java/.../udf/example/UDFExampleAdd.java:
    // plain arity-n addition)
    "org.apache.hadoop.hive.contrib.udf.example.UDFExampleAdd" -> (exprs =>
      exprs.reduceLeft(org.apache.spark.sql.catalyst.expressions.Add(_, _))))

  /** Executor-side invoker for a session-jar UDF class: captures only the
    * class NAME, resolving instance + method lazily per JVM (ADD JAR
    * distributes the jar; java.lang.reflect.Method is not serializable,
    * so the resolution must happen after deserialization). */
  private class JarUdfCall(clsName: String, arity: Int) extends Serializable {
    @transient private lazy val target = {
      val c = Class.forName(clsName, true,
        Option(Thread.currentThread().getContextClassLoader)
          .getOrElse(getClass.getClassLoader))
      val inst = c.getDeclaredConstructor().newInstance()
      val m = c.getMethods
        .find(m => m.getName == "call" && m.getParameterCount == arity).get
      (inst, m)
    }
    def invoke(args: Any*): Any =
      target._2.invoke(target._1, args.map(_.asInstanceOf[AnyRef]): _*)
  }

  private def javaToCatalyst(t: java.lang.reflect.Type)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    t match {
      case c: Class[_] => c.getName match {
        case "java.lang.String" => Some(StringType)
        case "java.lang.Integer" => Some(IntegerType)
        case "java.lang.Long" => Some(LongType)
        case "java.lang.Double" => Some(DoubleType)
        case "java.lang.Float" => Some(FloatType)
        case "java.lang.Boolean" => Some(BooleanType)
        case "java.lang.Short" => Some(ShortType)
        case "java.lang.Byte" => Some(ByteType)
        case "java.math.BigDecimal" => Some(DecimalType.SYSTEM_DEFAULT)
        case "[B" => Some(BinaryType)
        case "java.sql.Date" => Some(DateType)
        case "java.sql.Timestamp" => Some(TimestampType)
        case _ => None
      }
      case _ => None
    }
  }

  // successful resolutions only — a None must stay retryable because the
  // class may become loadable after a LATER ADD JAR
  private val jarUdfCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression]()

  /** CREATE FUNCTION for a class NOT in the builtin catalog: if the
    * session classloader (which ADD JAR extends — mapjoin_addjar.q's
    * runtime-loading surface) can load it and it implements the Java
    * UDF0..UDF8 interfaces, resolve the reference's FunctionTask
    * class→builder step to a ScalaUDF (arguments cast to the interface's
    * declared types, Hive's coercion contract). Non-UDF shapes return
    * None and the statement falls through to Spark's native handling;
    * a UDF with arity above 8 fails loudly instead. */
  private def jarUdfBuilder(cls: String): Option[Seq[
      org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression] = {
    Option(jarUdfCache.get(cls)).foreach(b => return Some(b))
    val c = try Class.forName(cls, false,
        Option(Thread.currentThread().getContextClassLoader)
          .getOrElse(getClass.getClassLoader))
      catch { case _: ClassNotFoundException | _: LinkageError => return None }
    val iface = c.getGenericInterfaces.collectFirst {
      case p: java.lang.reflect.ParameterizedType
        if p.getRawType.isInstanceOf[Class[_]] &&
          p.getRawType.asInstanceOf[Class[_]].getName
            .matches("org\\.apache\\.spark\\.sql\\.api\\.java\\.UDF\\d+") => p
    }.getOrElse(return None)
    val arity = iface.getRawType.asInstanceOf[Class[_]].getName
      .stripPrefix("org.apache.spark.sql.api.java.UDF").toInt
    require(arity <= 8,
      s"graft: jar UDF $cls has arity $arity — only UDF0..UDF8 supported")
    val ret = javaToCatalyst(iface.getActualTypeArguments.last)
      .getOrElse(return None)
    val argTypes = iface.getActualTypeArguments.init.map(javaToCatalyst)
    val h = new JarUdfCall(cls, arity)
    val fn: AnyRef = arity match {
      case 0 => () => h.invoke()
      case 1 => (a: Any) => h.invoke(a)
      case 2 => (a: Any, b: Any) => h.invoke(a, b)
      case 3 => (a: Any, b: Any, c3: Any) => h.invoke(a, b, c3)
      case 4 => (a: Any, b: Any, c3: Any, d: Any) => h.invoke(a, b, c3, d)
      case 5 => (a: Any, b: Any, c3: Any, d: Any, e: Any) =>
        h.invoke(a, b, c3, d, e)
      case 6 => (a: Any, b: Any, c3: Any, d: Any, e: Any, f: Any) =>
        h.invoke(a, b, c3, d, e, f)
      case 7 => (a: Any, b: Any, c3: Any, d: Any, e: Any, f: Any, g: Any) =>
        h.invoke(a, b, c3, d, e, f, g)
      case _ => (a: Any, b: Any, c3: Any, d: Any, e: Any, f: Any, g: Any,
        i: Any) => h.invoke(a, b, c3, d, e, f, g, i)
    }
    val builder = (exprs: Seq[
        org.apache.spark.sql.catalyst.expressions.Expression]) => {
      // cast each argument to the interface's declared type (Hive coerces
      // int→string etc.; the reflective call would otherwise throw on a
      // mismatched boxed type)
      val cast = exprs.zipWithIndex.map { case (e, i) =>
        argTypes.lift(i).flatten match {
          case Some(t) if e.dataType != t =>
            org.apache.spark.sql.catalyst.expressions.Cast(e, t)
          case _ => e
        }
      }
      org.apache.spark.sql.catalyst.expressions.ScalaUDF(
        fn, ret, cast, Nil, udfName = Some(cls))
    }
    jarUdfCache.put(cls, builder): Unit
    Some(builder)
  }

  val createFunRe =
    """(?is)\s*CREATE\s+(?:TEMPORARY\s+)?FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+'((?:[^'\\]|\\.)+)'\s*(?:USING\s+(.+?))?\s*;?\s*""".r
  // one USING resource: JAR|FILE|ARCHIVE '<uri>' (FunctionSemanticAnalyzer
  // .getResourceList — parse/FunctionSemanticAnalyzer.java:131-156)
  private val funResourceRe = """(?i)(JAR|FILE|ARCHIVE)\s+'([^']+)'""".r

  /** Ship a CREATE FUNCTION statement's USING resources into the session
    * (FunctionTask.addFunctionResources): ADD JAR extends the session and
    * executor classloaders, so the named class becomes loadable exactly
    * like the reference's resource-loading step. Idempotent (re-ADDing a
    * jar is a no-op); a missing file fails the CREATE, matching the
    * reference's loud resource error. */
  private def shipFunctionResources(spark: SparkSession, resText: String): Unit =
    if (resText != null) {
      val resources = funResourceRe.findAllMatchIn(resText).toSeq
      require(resources.nonEmpty,
        s"CREATE FUNCTION ... USING: cannot parse resource list: $resText")
      resources.foreach { m =>
        val kind = m.group(1).toUpperCase
        val uri = m.group(2)
        // the reference fails the CREATE on an unreadable resource
        // (FunctionTask.addFunctionResources → SessionState.add_resource);
        // ADD JAR alone is not a reliable guard — when the class is
        // already loadable from an earlier jar, a missing path would
        // otherwise slip through silently
        val p = new org.apache.hadoop.fs.Path(uri)
        require(p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p),
          s"CREATE FUNCTION ... USING $kind: resource does not exist: $uri")
        kind match {
          case "JAR" => spark.sql(s"ADD JAR '$uri'")
          case "FILE" => spark.sql(s"ADD FILE '$uri'")
          case "ARCHIVE" => spark.sql(s"ADD ARCHIVE '$uri'")
        }
      }
    }

  /** Third-party Hive UDF classes (GenericUDF subclasses, or legacy UDF
    * via Hive's GenericUDFBridge) resolve onto the adapter expression —
    * the FunctionTask class→builder step for classes this engine has no
    * native Catalyst builder for. Not cached: the builder closes over the
    * function NAME (the bridge reflects evaluate() overloads under it),
    * and a later ADD JAR may replace the class. */
  private def hiveUdfBuilder(funcName: String, cls: String): Option[Seq[
      org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression] =
    if (graft.functions.HiveUdfAdapter.supports(cls))
      Some(exprs => graft.functions.HiveGenericUdfExpr(funcName, cls, exprs))
    else if (graft.functions.HiveUdfAdapter.supportsUdtf(cls))
      Some(exprs => graft.functions.HiveGenericUdtfExpr(funcName, cls, exprs))
    // third-party aggregates ride Spark's own HiveUDAFFunction (public
    // spark-hive API): the TypedImperativeAggregate bridge over the
    // evaluator's PARTIAL1/FINAL modes — partial results cross the
    // shuffle exactly like any native partial aggregate
    else if (graft.functions.HiveUdfAdapter.supportsUdaf(cls))
      Some(exprs => org.apache.spark.sql.hive.GraftHiveUdafBridge.udaf(
        funcName, cls, exprs,
        graft.functions.HiveUdfAdapter.isLegacyUdaf(cls)))
    else None
  val dropFunRe =
    """(?is)\s*DROP\s+(?:TEMPORARY\s+)?FUNCTION\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*""".r

  // CREATE TEMPORARY MACRO name(arg TYPE, ...) body — the reference's
  // inline-expanded macros (FunctionSemanticAnalyzer + udf/generic/
  // GenericUDFMacro.java). Spark 4's SQL scalar UDFs (CREATE TEMPORARY
  // FUNCTION ... RETURN expr) have identical semantics — the body is
  // inlined into the plan by Catalyst — so the statement text rewrites
  // onto them. Group 2 starts at the open paren; the arg-list/body split
  // is a paren walk (arg types may nest parens: DECIMAL(10,2)).
  val createMacroRe =
    """(?is)\s*CREATE\s+TEMPORARY\s+MACRO\s+([\w]+)\s*(\(.*)""".r
  val dropMacroRe =
    """(?is)\s*DROP\s+TEMPORARY\s+MACRO\s+(?:(IF\s+EXISTS)\s+)?([\w]+)\s*;?\s*""".r

  /** CREATE [TEMPORARY] FUNCTION name AS 'class' [USING resources]. The
    * class resolves, in order, against the builtin catalog, then the
    * session classloader as a Java UDF0..22 class (after ADD JAR, or
    * shipped right here by the statement's own USING JAR clause —
    * mapjoin_addjar.q's runtime-loading surface), then as a third-party
    * Hive UDF class (GenericUDF, or legacy UDF through GenericUDFBridge)
    * executed through the adapter expression. Classes that are loadable
    * but none of the UDF shapes fall through to Spark's native CREATE
    * FUNCTION, whose CANNOT_LOAD_FUNCTION_CLASS error is the pinned
    * negative shape. */
  def createFunction(spark: SparkSession, stmt: String, name: String,
      cls: String, res: String): DataFrame = {
    // resources ship first: the class can only load after its jar joins
    // the session classloader
    shipFunctionResources(spark, res)
    val fname = name.split('.').last
    val builder = functionClasses.get(cls).orElse {
      // re-registration must re-resolve: a later ADD JAR may carry a
      // MODIFIED class (changed arity/signature) under the same name,
      // and a forever-cached builder would keep serving the stale shape
      jarUdfCache.remove(cls)
      jarUdfBuilder(cls)
    }.orElse(hiveUdfBuilder(fname, cls))
    builder match {
      case Some(b) =>
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          fname, b, "scala_udf")
      case None => Dml.writeSql(spark, stmt)
    }
    spark.emptyDataFrame
  }

  def dropFunction(spark: SparkSession, ifExists: String, name: String): Unit = {
    val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(
      name.split('.').last)
    // FunctionRegistry parity (drop_native_udf.q): a BUILT-IN function
    // cannot be dropped — and Spark's session registry would otherwise
    // happily remove `max` for the whole session
    if (org.apache.spark.sql.catalyst.analysis.FunctionRegistry
          .builtin.functionExists(fid))
      sys.error(s"Cannot drop native function ${fid.funcName}")
    val dropped = spark.sessionState.functionRegistry.dropFunction(fid)
    // FunctionTask parity (drop_func_nonexistent.q): without IF EXISTS,
    // dropping an unregistered function is an error, not a no-op
    if (!dropped && ifExists == null)
      sys.error(s"Cannot drop function $name: it is not registered " +
        "(use DROP FUNCTION IF EXISTS to ignore)")
  }

  def createMacro(spark: SparkSession, name: String, rest: String): Unit = {
    // split "(arg list) body" at the matching close paren
    var depth = 0; var i = 0
    while (i < rest.length && (depth != 0 || i == 0)) {
      rest.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    require(depth == 0 && i <= rest.length,
      s"unbalanced parens in CREATE TEMPORARY MACRO $name")
    val args = rest.substring(1, i - 1).trim
    val body = rest.substring(i).trim.stripSuffix(";").trim
    require(body.nonEmpty, s"CREATE TEMPORARY MACRO $name has no body")
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY FUNCTION $name($args) RETURN $body")
  }
}
