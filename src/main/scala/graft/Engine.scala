package graft

import org.apache.spark.sql.SparkSession
import graft.functions.FieldExpr

/** Session factory + function-gap installation.
  *
  * The reference's entire parse/optimize/execute stack collapses onto
  * `SparkSession` (SURVEY.md §3.1): Catalyst is the optimizer, AQE the
  * runtime re-planner, Tungsten the execution engine. What remains of
  * "the engine" is configuration tuned for warehouse workloads plus the
  * handful of Hive functions Spark lacks.
  */
object Engine {

  /** Hive-compatible, scale-tuned local session. On a cluster the same
    * configs apply; only master/memory change.
    */
  def session(master: String = "local[*]", appName: String = "graft",
              shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      // Hive comparison/cast semantics Spark resolves differently
      // (compare-via-double, non-empty-string-is-true) — see
      // plans/HiveSemantics.scala
      .withExtensions(new graft.plans.GraftExtensions)
      // local[n]: match cores, not the 200 default; clusters re-tune or
      // rely on AQE coalescing
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Hive 1.2 semantics: permissive implicit coercions (string<->numeric
      // comparisons via double), no ANSI cast/overflow errors
      .config("spark.sql.ansi.enabled", "false")
      // Hive's dynamic-partition INSERT OVERWRITE replaces only the
      // partitions the query writes (FileSinkOperator/MoveTask with
      // hive.exec.dynamic.partition.mode=nonstrict); Spark's default
      // "static" truncates every partition first — silent data loss for
      // a migrating script. Match the reference.
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // Hive 1.2 TIMESTAMP is zoneless and the reference writes parquet
      // timestamps without a timezone annotation
      // (serde/.../PrimitiveObjectInspector.java:32-35). Spark 4's NTZ
      // inference would read such columns as TIMESTAMP_NTZ, breaking
      // unix_* functions and withWatermark event-time. With the session
      // pinned UTC, plain TimestampType reproduces Hive's zoneless
      // semantics exactly (SURVEY §7.4).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    install(spark)
    spark
  }

  /** Register the function-gap pack + optional optimizer rules on any
    * session (idempotent). The stats-answer rule stays dormant unless
    * spark.graft.statsAnswer.enabled=true.
    */
  def install(spark: SparkSession): SparkSession = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, HiveHash,
      MonotonicallyIncreasingID}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{StddevPop, VariancePop}
    import graft.functions.{CosineSim, DotProduct, InFile, IntDot, ParseUrlTuple,
      Reflect2, SortArrayBy, SortedIntersectAtLeast, SortedIntersectCount}
    val reg = spark.sessionState.functionRegistry
    def fn(name: String)(build: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    fn("field")(e => FieldExpr(FieldExpr.coerced(e)))
    fn("parse_url_tuple")(e => ParseUrlTuple(e))
    fn("in_file")(e => InFile(e(0), e(1)))
    fn("cosine_sim")(e => CosineSim(e(0), e(1)))
    fn("dot_product")(e => DotProduct(e(0), e(1)))
    fn("int_dot")(e => IntDot(e(0), e(1)))
    fn("sorted_intersect_count")(e => SortedIntersectCount(e(0), e(1)))
    fn("sorted_intersect_atleast")(e => SortedIntersectAtLeast(e(0), e(1), e(2)))
    fn("reflect2")(e => Reflect2(e))
    fn("sort_array_by")(e => SortArrayBy(e))
    // Hive's greatest/least return NULL when ANY argument is NULL
    // (GenericUDFGreatest/Least, HIVE-12082); Spark's skip nulls and
    // return the extreme of the non-null values — a silent value drift
    // for migrating scripts. Wrap with a null-strict guard (the NullType
    // literal coerces to the value type during analysis).
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Greatest, If, IsNull, Least, Literal, Or}
      import org.apache.spark.sql.types.NullType
      fn("greatest")(e => If(e.map(IsNull).reduceLeft(Or),
        Literal.create(null, NullType), Greatest(e)))
      fn("least")(e => If(e.map(IsNull).reduceLeft(Or),
        Literal.create(null, NullType), Least(e)))
    }
    // Hive 3's surrogate_key() (GenericUDFSurrogateKey: unique long per
    // written row from writeId/taskId/rowId bits) maps onto Spark's
    // partition-salted unique id — same contract (distributed uniqueness,
    // NOT density or ordering); the optional bit-width args are moot here
    fn("surrogate_key")(_ => MonotonicallyIncreasingID())
    // Hive's std/stddev/variance are POPULATION statistics
    // (FunctionRegistry.java:348-354: std/stddev/stddev_pop all ->
    // GenericUDAFStd, variance/var_pop -> GenericUDAFVariance); Spark's
    // same-named aliases are SAMPLE statistics — a silent value drift for
    // any migrating script. Re-point the ambiguous names at the
    // population implementations; the unambiguous *_samp/*_pop spellings
    // keep their native meaning on both engines.
    fn("std")(e => new StddevPop(e(0)))
    fn("stddev")(e => new StddevPop(e(0)))
    fn("variance")(e => new VariancePop(e(0)))
    // Hive's hash() is the Java-style hashCode chain
    // (ObjectInspectorUtils.hashCode: int IS its hash, string is
    // String.hashCode, multi-arg folds h*31+next) — Spark's hash() is
    // Murmur3. Scripts that bucket, sample or persist hash(x) values
    // silently change behavior; Spark ships the exact Hive algorithm as
    // the HiveHash expression, so re-point the name. Engine internals
    // (Dedup banding) use xxhash64/murmur3 directly, not this name.
    fn("hash")(e => HiveHash(e))
    // SQL names for the Column-composed function family — a migrating
    // script calls these by NAME in SQL text (FunctionRegistry.java
    // registers all of them), so each gets a FunctionRegistry builder
    // bridged through GraftColumnBridge. Literal-argument extraction
    // mirrors Hive: ngrams/context_ngrams take constant n/k
    // (GenericUDAFnGrams checks PRIMITIVE CONSTANT args).
    locally {
      import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
      import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
      def colFn(name: String)(build: Seq[org.apache.spark.sql.Column] =>
          org.apache.spark.sql.Column): Unit =
        fn(name)(exprs => toExpression(build(exprs.map(toColumn))))
      def litInt(fname: String, e: Expression): Int = e match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) => v.toInt
        case Literal(v: Short, _) => v.toInt
        case Literal(v: Byte, _) => v.toInt
        case other => sys.error(
          s"$fname expects a constant integer argument, got: ${other.sql}")
      }
      // Hive's ngrams/context_ngrams take flat array<string> OR the
      // sentences() shape array<array<string>> (n-grams never cross inner
      // sentence boundaries), and answer
      // array<struct<ngram:array<string>, estfrequency:double>>
      // (GenericUDAFnGrams) — the .q scripts access `.estfrequency`, so
      // the SQL names emit that exact shape (NGrams.ngramsHive: windows
      // are NUL-joined internally so space-bearing tokens reconstruct
      // losslessly). Counts here are EXACT (map-side-combined partials):
      // the optional precision argument is accepted and ignored.
      def nested(e: Expression): Boolean = e.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.ArrayType, _) => true
        case _ => false
      }
      fn("ngrams")(exprs =>
        toExpression(graft.functions.NGrams.ngramsHive(toColumn(exprs(0)),
          nested(exprs(0)), litInt("ngrams", exprs(1)),
          litInt("ngrams", exprs(2)))))
      fn("context_ngrams") { exprs =>
        val context = exprs(1) match {
          // entries may be wrapped (e.g. CAST(NULL AS STRING)) — any
          // foldable entry works; a null fold is the wildcard slot
          case CreateArray(items, _) => items.map {
            case e if e.foldable => Option(e.eval(
              org.apache.spark.sql.catalyst.InternalRow.empty)).map(_.toString)
            case other => sys.error("context_ngrams context entries must be " +
              s"string literals or null wildcards, got: ${other.sql}")
          }
          case other => sys.error(
            s"context_ngrams expects an array literal context, got: ${other.sql}")
        }
        toExpression(graft.functions.NGrams.contextNGramsHive(toColumn(exprs(0)),
          nested(exprs(0)), context, litInt("context_ngrams", exprs(2))))
      }
      import graft.functions.Bitmap
      colFn("ewah_bitmap")(cols => Bitmap.bitmapAgg(cols(0)))
      colFn("ewah_bitmap_and")(cols => Bitmap.bitmapAnd(cols(0), cols(1)))
      colFn("ewah_bitmap_or")(cols => Bitmap.bitmapOr(cols(0), cols(1)))
      colFn("ewah_bitmap_empty")(cols => Bitmap.bitmapEmpty(cols(0)))
      colFn("create_union")(cols =>
        graft.functions.UnionTypeShim.createUnion(cols.head, cols.tail: _*))
      // compute_stats(col[, numBitVectors]) — GenericUDAFComputeStats:
      // per-type stats struct with the reference's exact field names;
      // NumDistinctValues is an FM-sketch ESTIMATE there, so the faithful
      // distributed analog is approx_count_distinct (HLL++), not an exact
      // count. The numBitVectors argument is accepted and ignored.
      fn("compute_stats") { exprs =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val c = toColumn(exprs(0))
        // count(when(...)) not sum(when(...)): count answers 0 over empty
        // input, matching the reference's zeroed counters
        val nulls = count(when(c.isNull, 1)).as("CountNulls")
        val ndv = approx_count_distinct(c).as("NumDistinctValues")
        val stats = exprs(0).dataType match {
          case BooleanType => struct(
            lit("Boolean").as("ColumnType"),
            count(when(c === true, 1)).as("CountTrues"),
            count(when(c === false, 1)).as("CountFalses"),
            nulls)
          case ByteType | ShortType | IntegerType | LongType => struct(
            lit("Long").as("ColumnType"),
            min(c).cast("bigint").as("Min"), max(c).cast("bigint").as("Max"),
            nulls, ndv)
          case FloatType | DoubleType | _: DecimalType => struct(
            lit("Double").as("ColumnType"),
            min(c).cast("double").as("Min"), max(c).cast("double").as("Max"),
            nulls, ndv)
          case StringType => struct(
            lit("String").as("ColumnType"),
            max(length(c)).cast("bigint").as("MaxLength"),
            avg(length(c)).as("AvgLength"), nulls, ndv)
          case BinaryType => struct(
            lit("Binary").as("ColumnType"),
            max(length(c)).cast("bigint").as("MaxLength"),
            avg(length(c)).as("AvgLength"), nulls)
          case other => sys.error(
            s"compute_stats: unsupported column type ${other.catalogString}")
        }
        toExpression(stats)
      }
    }
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.StatsAnswerRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.StatsAnswerRule(spark)
    spark
  }

  private val tempTableNameRe =
    """(?is)\s*CREATE\s+TEMPORARY\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.`]+).*""".r
  private val tempTables =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  /** Explicit session-close hook for multi-session applications: Hive
    * scopes TEMPORARY tables to the SESSION, and application end (the
    * listener fallback) is too late when many sessions share one
    * SparkContext. Drops the session's registered temp tables and
    * releases its per-session registries so the session object is
    * immediately collectable. Idempotent. */
  def closeSession(s: SparkSession): Unit = {
    dropTempTables(s)
    tempTables.remove(s)
    registered.remove(s)
  }

  /** Drop every TEMPORARY table registered on `s` (idempotent; catalog
    * API directly — no SQL execution, safe during context shutdown). */
  def dropTempTables(s: SparkSession): Unit = {
    val set = tempTables.get(s)
    if (set != null) {
      val names = set.synchronized {
        val ns = new java.util.ArrayList[String](set); set.clear(); ns }
      names.forEach { name =>
        try s.sessionState.catalog.dropTable(
          s.sessionState.sqlParser.parseTableIdentifier(name),
          ignoreIfNotExists = true, purge = true)
        catch { case e: Throwable =>
          System.err.println(s"[graft] temp-table auto-drop $name: ${e.getMessage}")
        }
      }
    }
  }

  /** Register a (pre-qualified) temp-table name for session-end drop.
    * The cleanup listener holds the session via a WeakReference: a strong
    * capture would defeat the WeakHashMap keying — the listener bus pins
    * the closure, the closure pins the session, and in a multi-session
    * application every session (and its temp tables) would then live
    * until application end. With the weak reference, a session that is
    * closed and collected before the application ends simply skips the
    * drop (its catalog is gone with it; the managed files are inside the
    * per-run warehouse dir). */
  private def registerTempTable(s: SparkSession, qualified: String): Unit = {
    val set = tempTables.computeIfAbsent(s, sess => {
      val ref = new java.lang.ref.WeakReference(sess)
      sess.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          val sx = ref.get()
          if (sx != null) dropTempTables(sx)
        }
      })
      java.util.Collections.synchronizedSet(new java.util.LinkedHashSet[String]())
    })
    set.add(qualified): Unit
  }

  /** Run one statement through the HiveQL front end
    * ([[frontend.Router]]: rewrites, guards, then the one handler that
    * owns its shape). Everything no handler claims goes to Spark SQL.
    *
    * CREATE TEMPORARY TABLE session-end registration lives HERE, around
    * the execution, not inside the rewrite: registering at rewrite time
    * would leave the name registered when the CREATE fails (a permanent
    * table of the same name already exists) or no-ops (IF NOT EXISTS) —
    * and session end would then PURGE a permanent table the statement
    * never created. Register only a table that did not exist before the
    * statement and does exist after it.
    */
  def ddl(spark: SparkSession, stmt: String): org.apache.spark.sql.DataFrame = {
    val routed = frontend.Router.prepare(spark, stmt)
    val pendingTemp: Option[String] =
      routed.stmt0 match {
        case tempTableNameRe(name) =>
          // qualify NOW: an unqualified name resolved at session END would
          // land in whatever database is current THEN (a USE between
          // CREATE and stop would drop the wrong table or miss the right one)
          val n = name.replace("`", "")
          val qualified =
            if (n.contains(".")) n
            else spark.sessionState.catalog.getCurrentDatabase + "." + n
          val ident = spark.sessionState.sqlParser.parseTableIdentifier(qualified)
          val preExists =
            try spark.sessionState.catalog.tableExists(ident)
            catch { case _: Exception => true } // unparseable/odd name: don't risk a drop
          if (preExists) None else Some(qualified)
        case _ => None
      }
    // (permanent, name) of the table or view a CREATE names
    val createdObj = routed.stmt0 match {
      case createdObjRe(tempKw, name) => Some((tempKw == null, name))
      case _ => None
    }
    // ownership recording (sql-std OBJECT OWNERSHIP axis): the creating
    // user owns the object — but ONLY when the statement actually creates
    // it. A no-op `CREATE TABLE IF NOT EXISTS existing` or a `CREATE OR
    // REPLACE VIEW existing` must not transfer ownership (Hive never
    // re-owns on replace), and TEMPORARY objects are session-scoped with
    // no metastore ownership at all — recording one would let a non-owner
    // seize a permanent table's owners entry by creating a temp view of
    // the same name. So: resolve pre-existence BEFORE the statement runs,
    // record AFTER it succeeds (a refused CREATE records nothing).
    val pendingOwner: Option[(String, String)] = createdObj.flatMap {
      case (true, name) =>
        val n = name.replace("`", "")
        val (db, tb) =
          if (n.contains(".")) {
            val p = n.split("\\."); (p(p.length - 2), p.last)
          } else (spark.sessionState.catalog.getCurrentDatabase, n)
        val preExists =
          try spark.sessionState.catalog.tableExists(
            org.apache.spark.sql.catalyst.TableIdentifier(tb, Some(db)))
          catch { case _: Exception => true } // odd name: don't risk a seizure
        if (preExists) None else Some((db, tb))
      case _ => None
    }
    val out = routed.run()
    // external-location provenance: CREATE TABLE ... LOCATION (over
    // pre-existing files), ALTER TABLE ... SET LOCATION, and ADD
    // PARTITION ... LOCATION point the table at data the engine did not
    // write — over-length char/varchar values may sit there unclamped,
    // and the reference truncates at every read regardless of provenance.
    // Stamp the read-clamp property when the schema declares char/varchar
    // (matched on MASKED text so a string literal containing "LOCATION '"
    // cannot trip it; the clause's own quote survives masking).
    if (locationClauseRe.findFirstIn(
        frontend.SqlText.maskLiteralsAndComments(routed.stmt0)).isDefined)
      createdObj.map(_._2).orElse(routed.stmt0 match {
        case frontend.Guards.alterTableHeadRe(name) => Some(name)
        case _ => None
      }).foreach(t => graft.plans.HiveSemantics.CharStripReads
        .stampNarrowedIfChar(spark, t))
    pendingTemp.foreach { q =>
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(q)
      if (spark.sessionState.catalog.tableExists(ident))
        registerTempTable(spark, q)
    }
    pendingOwner.foreach { case (db, tb) =>
      val created =
        try spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(tb, Some(db)))
        catch { case _: Exception => false }
      if (created) operators.Auth.recordOwner(spark, db, tb)
    }
    out
  }
  private val createdObjRe =
    ("""(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(TEMPORARY\s+)?""" +
      """(?:EXTERNAL\s+)?(?:TABLE|VIEW)\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.`]+).*""").r
  // provenance stamp (char/varchar read clamp) trigger
  private val locationClauseRe = """(?i)\bLOCATION\s*'""".r

  // one registration per (session, dataDir); avoids 10 schema reads per
  // query. A session's first entry also installs the function pack.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  /** Drop-in SQL entry point: register the fixture tables that exist under
    * `dataDir` by their reference names and run HiveQL/Spark SQL text —
    * the workflow a reference user keeps when switching engines. Spark SQL
    * natively parses the HiveQL surface exercised here (LATERAL VIEW,
    * DISTRIBUTE/SORT/CLUSTER BY, TRANSFORM ... USING, GROUPING SETS,
    * LEFT SEMI JOIN).
    *
    * NOTE: registration REPLACES any same-named temp views on the session
    * (first call per (session, dataDir) only). Missing fixture files are
    * skipped so partial directories still serve the tables they do have.
    */
  def sql(spark: SparkSession, dataDir: String,
          query: String): org.apache.spark.sql.DataFrame = {
    // keyed by the SESSION OBJECT, not its identityHashCode: hash codes
    // are reused after GC (the cast-retry path clones sessions freely),
    // and a reused code would silently skip view registration for a
    // brand-new session — fixture tables would resolve as missing
    val dirs = registered.computeIfAbsent(spark, _ => {
      install(spark)
      java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
    })
    if (dirs.add(dataDir)) {
      val present = Tables.all.filter(n =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dataDir/$n.parquet")))
      Tables.views(spark, dataDir, present: _*)
    }
    // function DDL is part of the drop-in surface: a migrating user's
    // script may open with CREATE TEMPORARY FUNCTION lines
    ddl(spark, query)
  }

  private val setVarRe =
    """(?is)\s*SET\s+(hivevar|hiveconf):([\w.]+)\s*=\s*(.+?)\s*;?\s*""".r

  /** `${hivevar:name}` / `${hiveconf:name}` / bare `${name}` substitution
    * over one statement — the reference's
    * parse/VariableSubstitution.java:48 pass that every production .q
    * script relies on. Iterates to a fixpoint (definitions may reference
    * other variables), capped at 40 passes like the reference. Unknown
    * variables are left verbatim so variable-free SQL passes through
    * untouched.
    */
  def substitute(text: String, vars: Map[String, String]): String = {
    val ref = """\$\{(?:(?:hivevar|hiveconf):)?([\w.]+)\}""".r
    var cur = text
    var pass = 0
    var changed = true
    while (changed && pass < 40) {
      val next = ref.replaceAllIn(cur, m =>
        java.util.regex.Matcher.quoteReplacement(
          vars.getOrElse(m.group(1), m.matched)))
      changed = next != cur
      cur = next
      pass += 1
    }
    cur
  }

  /** Split script text into statements on semicolons that sit OUTSIDE
    * string literals (single/double/backtick, backslash escapes honored)
    * and `--` line comments. Strictly stronger than CliDriver's
    * line-based split: multi-line string literals containing `;` survive,
    * and two statements on one line separate correctly. Pure-comment
    * segments are dropped.
    */
  private[graft] def splitStatements(text: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote = ' '
    var comment = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (comment) { cur.append(c); if (c == '\n') comment = false; i += 1 }
      else if (quote != ' ') {
        cur.append(c)
        if (c == '\\' && i + 1 < text.length) { cur.append(text.charAt(i + 1)); i += 1 }
        else if (c == quote) quote = ' '
        i += 1
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur.append(c); i += 1
        case '-' if i + 1 < text.length && text.charAt(i + 1) == '-' =>
          comment = true; cur.append(c); i += 1
        case ';' => out += cur.result(); cur.clear(); i += 1
        case _ => cur.append(c); i += 1
      }
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(s =>
      s.nonEmpty && !s.linesIterator.forall(l => {
        val t = l.trim; t.isEmpty || t.startsWith("--")
      }))
  }

  /** Run a multi-statement script (.q-file style) and return the LAST
    * statement's result — the CliDriver per-statement loop, including its
    * variable-substitution pass: `SET hivevar:name=value;` statements
    * extend the in-script variable environment (seeded from `vars`, the
    * -d/--hivevar CLI equivalents), and every statement is substituted
    * before execution. `SET` without a hivevar/hiveconf namespace still
    * reaches Spark as a session-conf statement. Statement splitting is
    * literal- and comment-aware (see [[splitStatements]]), so `;` inside
    * any string literal — including multi-line literals — is safe.
    */
  private val sourceRe = """(?is)\s*SOURCE\s+'?([^';]+?)'?\s*;?\s*""".r

  def script(spark: SparkSession, dataDir: String, text: String,
             vars: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame = {
    require(splitStatements(text).nonEmpty, "empty script")
    var env = vars
    var last = spark.emptyDataFrame
    // `SOURCE file` (CliDriver processFile parity) inlines the file's
    // statements at the call site: variables defined inside a sourced
    // file persist in the outer script, and sourced files may source
    // further files. A visited-path chain guards against SOURCE cycles
    // (a file that transitively sources itself would otherwise be a
    // driver StackOverflowError), and a missing file names the offending
    // statement instead of surfacing a bare NoSuchFileException.
    def run(t: String, sourcing: List[java.nio.file.Path]): Unit =
      splitStatements(t).foreach { raw =>
        substitute(raw, env) match {
          case setVarRe(_, name, value) => env += name -> value
          case sourceRe(path) =>
            val p = java.nio.file.Paths.get(path.trim)
              .toAbsolutePath.normalize()
            if (sourcing.contains(p)) throw new IllegalArgumentException(
              s"SOURCE cycle: $p is already being sourced " +
                s"(chain: ${sourcing.reverse.mkString(" -> ")})")
            if (!java.nio.file.Files.isReadable(p))
              throw new IllegalArgumentException(
                s"SOURCE target not readable: $p (statement: ${raw.trim})")
            run(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
              p :: sourcing)
          case stmt => last = sql(spark, dataDir, stmt)
        }
      }
    run(text, Nil)
    last
  }
}
