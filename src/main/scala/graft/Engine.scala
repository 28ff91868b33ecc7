package graft

import org.apache.spark.sql.SparkSession

/** Session factory and the script entry points.
  *
  * The reference's entire parse/optimize/execute stack collapses onto
  * `SparkSession` (SURVEY.md §3.1): HiveQL is the session's parser
  * (`GraftExtensions`), Catalyst the optimizer, AQE the runtime
  * re-planner, Tungsten the execution engine. What remains here is
  * configuration tuned for warehouse workloads, fixture-view
  * registration, variable substitution and statement splitting.
  */
object Engine {

  /** Hive-compatible, scale-tuned local session. On a cluster the same
    * configs apply; only master/memory change.
    */
  def session(master: String = "local[*]", appName: String = "graft",
              shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // HiveQL as the session's parser, the function pack, and the Hive
      // comparison/cast semantics Spark resolves differently (see
      // plans/HiveSemantics.scala). Set as the conf, so every session on
      // this context speaks the dialect.
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
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

  private val tempTables =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  /** Explicit session-close hook for multi-session applications: Hive
    * scopes TEMPORARY tables to the SESSION, and application end (the
    * listener fallback) is too late when many sessions share one
    * SparkContext. Drops the session's registered temp tables, frees its
    * dedup corpus index and releases its per-session registries so the
    * session object is immediately collectable. Idempotent. */
  def closeSession(s: SparkSession): Unit = {
    dropTempTables(s)
    graft.operators.Dedup.release(s)
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
  private[graft] def registerTempTable(s: SparkSession, qualified: String): Unit = {
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

  /** `spark.sql`: the session's parser is HiveQL's
    * ([[frontend.HiveQlParser]]). */
  def ddl(spark: SparkSession, stmt: String): org.apache.spark.sql.DataFrame = spark.sql(stmt)

  // one registration per (session, dataDir); avoids 10 schema reads per
  // query
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
    val dirs = registered.computeIfAbsent(spark, _ =>
      java.util.Collections.synchronizedSet(new java.util.HashSet[String]()))
    if (dirs.add(dataDir)) {
      val present = Tables.all.filter(n =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dataDir/$n.parquet")))
      Tables.views(spark, dataDir, present: _*)
    }
    spark.sql(query)
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
