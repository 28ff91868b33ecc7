package graft
package frontend

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Session and inspection statements: bridged SET keys, SHOW CONF /
  * TABLE EXTENDED / LOCKS / TRANSACTIONS, DESCRIBE xpath, the EXPLAIN
  * family, `dfs` passthrough and the no-op surfaces (index DDL, locks,
  * resources). Also the builders for every hand-made string result. */
private[graft] object Commands {

  /** A result of string columns built on the driver — the shape of every
    * hand-built answer here (SHOW / EXPLAIN / DESCRIBE, dfs listings). */
  def stringTable(spark: SparkSession, cols: Seq[String],
      rows: Seq[Seq[String]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(Row.fromSeq).asJava,
      StructType(cols.map(StructField(_, StringType))))
  }

  def oneStringRow(spark: SparkSession, colName: String, value: String): DataFrame =
    stringTable(spark, Seq(colName), Seq(Seq(value)))

  /** The always-empty listings of managers this engine has by design no
    * need for (locks, transactions, compactions, indexes). */
  def emptyListing(spark: SparkSession, cols: String*): DataFrame =
    stringTable(spark, cols, Nil)

  // SET statements whose Hive key has a direct Spark execution
  // equivalent: Hive scripts steer the ENGINE with these (reducer count,
  // mapjoin auto-conversion), so recording the key without applying the
  // knob would silently ignore the user's intent. Everything else a
  // script SETs stays an inert session conf (g259). "Restore" (-1 /
  // re-enable) puts back the value the SESSION had before the first
  // bridge write — conf.unset would fall to Spark's stock defaults (200
  // partitions, 10 MB), not the engine's configured ones.
  val setBridgeRe =
    """(?is)\s*SET\s+([\w.]+)\s*=\s*([^\s;]+)\s*;?\s*""".r
  private val bridgeSaved =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def bridgeSet(s: SparkSession, key: String, value: String): Unit = {
    bridgeSaved.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
      .putIfAbsent(key, s.conf.get(key)): Unit
    s.conf.set(key, value)
  }
  private def bridgeRestore(s: SparkSession, key: String): Unit =
    Option(bridgeSaved.get(s)).flatMap(m => Option(m.get(key)))
      .foreach(orig => s.conf.set(key, orig))
  val confBridge: Map[String, (SparkSession, String) => Unit] = {
    val reduceTasks = (s: SparkSession, v: String) => {
      val n = try v.toInt catch { case _: NumberFormatException =>
        sys.error(s"mapred.reduce.tasks expects an integer, got '$v'") }
      if (n > 0) bridgeSet(s, "spark.sql.shuffle.partitions", n.toString)
      else bridgeRestore(s, "spark.sql.shuffle.partitions")
    }
    Map(
      // reference: HiveConf HADOOPNUMREDUCERS; -1 = let the engine decide
      "mapred.reduce.tasks" -> reduceTasks,
      "mapreduce.job.reduces" -> reduceTasks,
      // reference: HiveConf.java hive.auto.convert.join (mapjoin
      // auto-conversion) — Spark's equivalent is the broadcast threshold.
      // Re-enabling keeps an explicitly-SET size bound (the two confs are
      // independent in Hive: turning conversion back on uses the
      // configured size, not the pre-script default)
      "hive.auto.convert.join" -> ((s: SparkSession, v: String) =>
        if (parseBool("hive.auto.convert.join", v)) {
          val sized = Seq("hive.auto.convert.join.noconditionaltask.size",
            "hive.mapjoin.smalltable.filesize")
            .flatMap(k => s.conf.getOption(k)).headOption
          sized match {
            case Some(bytes) =>
              bridgeSet(s, "spark.sql.autoBroadcastJoinThreshold", bytes)
            case None =>
              bridgeRestore(s, "spark.sql.autoBroadcastJoinThreshold")
          }
        } else bridgeSet(s, "spark.sql.autoBroadcastJoinThreshold", "-1")),
      // the small-table size bound for auto-conversion. INERT while
      // auto-conversion is disabled (Hive's size confs do nothing when
      // hive.auto.convert.join=false — setting one must not silently
      // re-enable the broadcast the user just turned off); the =true
      // handler above picks the recorded size up on re-enable.
      "hive.auto.convert.join.noconditionaltask.size" ->
        ((s: SparkSession, v: String) =>
          if (!s.conf.get("hive.auto.convert.join", "true")
              .equalsIgnoreCase("false"))
            bridgeSet(s, "spark.sql.autoBroadcastJoinThreshold", v)),
      "hive.mapjoin.smalltable.filesize" ->
        ((s: SparkSession, v: String) =>
          if (!s.conf.get("hive.auto.convert.join", "true")
              .equalsIgnoreCase("false"))
            bridgeSet(s, "spark.sql.autoBroadcastJoinThreshold", v)),
      // runtime skew mitigation: Hive's conditional skew-join task maps
      // onto AQE's skew-join split (on by default in both engines)
      "hive.optimize.skewjoin" -> ((s: SparkSession, v: String) =>
        bridgeSet(s, "spark.sql.adaptive.skewJoin.enabled",
          parseBool("hive.optimize.skewjoin", v).toString)),
      // cost-based optimizer toggle
      "hive.cbo.enable" -> ((s: SparkSession, v: String) =>
        bridgeSet(s, "spark.sql.cbo.enabled",
          parseBool("hive.cbo.enable", v).toString)))
  }

  private def parseBool(key: String, v: String): Boolean =
    if (v.equalsIgnoreCase("true")) true
    else if (v.equalsIgnoreCase("false")) false
    else sys.error(s"$key expects true or false, got '$v'")

  /** Apply the Spark-equivalent execution knob first (it validates the
    * value — a failed SET must leave no state behind), then record the
    * Hive key so SHOW CONF / later reads see it. */
  def setBridged(spark: SparkSession, k: String, v: String): DataFrame = {
    confBridge(k.toLowerCase)(spark, v.trim)
    spark.conf.set(k, v.trim)
    spark.emptyDataFrame
  }

  // SET hive.support.quoted.identifiers=none|column — `none` turns
  // backquoted identifiers into SELECT-list column regexes (the
  // reference's regex_col.q feature, parse/HiveLexer.g QuotedIdentifier);
  // Spark has the identical feature behind
  // spark.sql.parser.quotedRegexColumnNames, so the statement maps to a
  // conf flip instead of passing through as an inert Hive conf string.
  val quotedIdRe =
    """(?is)\s*SET\s+hive\.support\.quoted\.identifiers\s*=\s*(\w+)\s*;?\s*""".r

  // CREATE/DROP/ALTER INDEX — DDLSemanticAnalyzer.java:307
  // (TOK_CREATEINDEX), ql/index/. The FEATURE is a deliberate skip
  // (dropped by Hive 3; columnar stats + parquet min/max serve the same
  // purpose on Spark — SURVEY §2.12), but the STATEMENTS survive in
  // legacy scripts and must not kill a run: accept + warn no-op.
  val indexStmtRe =
    ("""(?is)\s*(CREATE\s+INDEX\s+[\w`]+\s+ON\s+(?:TABLE\s+)?[\w.`]+.*""" +
      """|DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?[\w`]+\s+ON\s+[\w.`]+""" +
      """|ALTER\s+INDEX\s+[\w`]+\s+ON\s+[\w.`]+(?:\s+PARTITION\s*\([^)]*\))?\s+(?:REBUILD|SET\s+IDXPROPERTIES\s*\(.*\))""" +
      """|SHOW\s+(?:FORMATTED\s+)?INDEX(?:ES)?\s+ON\s+[\w.`]+.*)\s*;?\s*""").r

  def indexStatement(spark: SparkSession, s: String): DataFrame =
    if (!s.trim.toUpperCase.startsWith("SHOW")) {
      System.err.println(
        s"[graft] index DDL accepted as no-op (indexes dropped by Hive 3; " +
          s"parquet min/max + column stats serve reads): ${s.trim.takeWhile(_ != '\n')}")
      spark.emptyDataFrame
    }
    // SHOW INDEX answers the empty listing (no indexes ever exist)
    else emptyListing(spark, "idx_name", "tab_name", "col_names",
      "idx_tab_name", "idx_type")

  // DELETE FILE[S]/JAR[S]/ARCHIVE[S] <paths> — the CLI's
  // DeleteResourceProcessor: removes resources from the session list so
  // later tasks stop shipping them. Spark cannot un-add a file/jar from
  // a running context, so accept the statement as a loud no-op — the
  // script's intent (end-of-run cleanup) has nothing left to affect.
  val deleteResourceRe =
    """(?is)\s*DELETE\s+(FILES?|JARS?|ARCHIVES?)\s+(\S[^;]*?)\s*;?\s*""".r
  // SHOW LOCKS [t] — with hive.support.concurrency=false (the default)
  // the reference's lock manager is absent and the listing is empty; the
  // engine has no lock manager by design (Spark's writers coordinate via
  // commit protocols), so the statement answers an empty listing.
  val showLocksRe =
    """(?is)\s*SHOW\s+LOCKS\b.*""".r
  // LOCK/UNLOCK TABLE|DATABASE — DDLSemanticAnalyzer analyzeLockTable/
  // analyzeUnlockTable: with no lock manager (hive.support.concurrency=
  // false, our design point — Spark writers coordinate via commit
  // protocols) Hive acquires nothing; accept as no-op.
  val lockStmtRe =
    """(?is)\s*(?:UN)?LOCK\s+(?:TABLE|DATABASE|SCHEMA)\s+[\w.`]+.*""".r
  // SHOW TRANSACTIONS / SHOW COMPACTIONS / ABORT TRANSACTIONS —
  // DDLSemanticAnalyzer analyzeShowTxns/analyzeShowCompactions/
  // analyzeAbortTxns. No transaction manager exists under copy-on-write
  // (every statement is its own atomic file swap), so the listings answer
  // empty and ABORT is a no-op.
  val showTxnsRe = """(?is)\s*SHOW\s+TRANSACTIONS\s*;?\s*""".r
  val showCompactionsRe = """(?is)\s*SHOW\s+COMPACTIONS\s*;?\s*""".r
  // SHOW CONF 'name' — DDLSemanticAnalyzer.java:2347 analyzeShowConf /
  // DDLTask.java:520 showConf: one (default, type, desc) row for a
  // registered configuration, error for an unknown name. Spark-first the
  // registry is SQLConf's defined entries.
  val showConfRe =
    """(?is)\s*SHOW\s+CONF\s+'((?:[^'\\]|\\.)+)'\s*;?\s*""".r
  // SHOW TABLE EXTENDED [IN|FROM db] LIKE 'pattern' [PARTITION(...)] —
  // TOK_SHOW_TABLESTATUS (DDLSemanticAnalyzer.java:2175) → DDLTask
  // showTableStatus + TextMetaDataFormatter.showTableStatus: key:value
  // lines per matched table plus filesystem stats. Intercepted before
  // Spark's parser so the answer carries Hive's text shape, not Spark's
  // (namespace, tableName, information) rows.
  val showTableExtRe =
    """(?is)\s*SHOW\s+TABLE\s+EXTENDED\s+(?:(?:IN|FROM)\s+([\w]+)\s+)?LIKE\s+(?:'((?:[^'\\]|\\.)+)'|([^'\s;]+))\s*(?:PARTITION\s*\(([^)]*)\)\s*)?;?\s*""".r
  val abortTxnsRe =
    """(?is)\s*ABORT\s+TRANSACTIONS\s+[\d\s,]+;?\s*""".r
  // dfs -cmd args — Hive CLI's Hadoop shell passthrough
  // (cli/src/java/org/apache/hadoop/hive/cli/CliDriver.java
  // processCmd routes "dfs" to FsShell). Scripts use it for staging dirs
  // around LOAD DATA / external tables, so it executes for real against
  // the session's Hadoop FileSystem: mkdir/rm/rmr/cp/mv/touchz mutate,
  // ls answers sorted paths, cat answers file lines.
  val dfsRe = """(?is)\s*dfs\s+(.+?);?\s*""".r

  // DESCRIBE table.col[.path] with Hive's xpath tokens — $elem$ (array
  // element), $key$/$value$ (map sides), struct member names
  // (DDLSemanticAnalyzer describe_xpath.q family). A path resolving to a
  // STRUCT lists its fields as rows; anything else prints one
  // (last-segment, type) row, Hive's "from deserializer" comment included.
  val describeXpathRe =
    """(?is)\s*DESC(?:RIBE)?\s+([\w$.]+)\s*;?\s*""".r
  /** Resolve a DESCRIBE xpath target: Some(rows) when `name` is NOT a
    * table itself but a 1- or 2-part prefix resolves to one and the
    * remainder is a column path. Case-insensitive at every step, like
    * the reference's ObjectInspector walk. */
  def describeXpath(spark: SparkSession, name: String): Option[() => DataFrame] = {
    import org.apache.spark.sql.types._
    if (!name.contains(".") && !name.contains("$")) return None
    val parts = name.split('.').toSeq
    def tableOf(n: Int): Option[StructType] =
      if (parts.length <= n) None
      else try {
        val id = spark.sessionState.sqlParser.parseTableIdentifier(
          parts.take(n).mkString("."))
        if (spark.sessionState.catalog.tableExists(id) ||
            spark.sessionState.catalog.isTempView(parts.take(n)))
          Some(spark.table(parts.take(n).mkString(".")).schema)
        else None
      } catch { case _: Exception => None }
    // a name that IS a table (1 or 2 part) stays native DESCRIBE
    val whole =
      try {
        val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
        spark.sessionState.catalog.tableExists(id) ||
          spark.sessionState.catalog.isTempView(parts)
      } catch { case _: Exception => false }
    if (whole) return None
    val (schema, path) = tableOf(2).map(s => (Some(s), parts.drop(2)))
      .filter(_ => parts.length > 2)
      .orElse(Some((tableOf(1), parts.drop(1))))
      .get
    schema.flatMap { st0 =>
      def walk(dt: DataType, segs: Seq[String]): Option[DataType] =
        segs.headOption match {
          case None => Some(dt)
          case Some(seg) => (dt, seg.toLowerCase) match {
            case (ArrayType(e, _), "$elem$") => walk(e, segs.tail)
            case (MapType(k, _, _), "$key$") => walk(k, segs.tail)
            case (MapType(_, v, _), "$value$") => walk(v, segs.tail)
            case (s: StructType, f) =>
              s.fields.find(_.name.toLowerCase == f)
                .flatMap(fl => walk(fl.dataType, segs.tail))
            case _ => None
          }
        }
      walk(st0, path).map { dt =>
        val rows = dt match {
          case s: StructType =>
            s.fields.toSeq.map(f => Seq(f.name, f.dataType.catalogString, "from deserializer"))
          case other => Seq(Seq(path.last, other.catalogString, "from deserializer"))
        }
        () => stringTable(spark, Seq("col_name", "data_type", "comment"), rows)
      }
    }
  }

  /** SHOW CONF 'name' (DDLTask.java:520 showConf): one
    * (default, type, desc) row; unknown names error with the reference's
    * "invalid configuration name" text. The registry is SQLConf's
    * defined entries — Spark's analog of HiveConf.ConfVars. */
  def showConf(spark: SparkSession, name: String): DataFrame = {
    val entry = spark.sessionState.conf.getAllDefinedConfs
      .find(_._1.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"invalid configuration name $name"))
    val value = Option(entry._2).getOrElse("")
    val typ =
      if (value.equalsIgnoreCase("true") || value.equalsIgnoreCase("false"))
        "BOOLEAN"
      else if (value.matches("[+-]?\\d{1,9}")) "INT"
      else if (value.matches("[+-]?\\d+")) "LONG"
      else if (scala.util.Try(value.toDouble).isSuccess) "FLOAT"
      else "STRING"
    // the reference collapses doc newlines into single spaces
    val desc = Option(entry._3).getOrElse("").replaceAll(" *\n *", " ")
    stringTable(spark, Seq("default", "type", "desc"), Seq(Seq(value, typ, desc)))
  }

  /** SHOW TABLE EXTENDED [IN db] LIKE 'pattern' [PARTITION(spec)] —
    * TOK_SHOW_TABLESTATUS. Answers TextMetaDataFormatter.showTableStatus's
    * key:value lines (tableName/owner/location/formats/columns in thrift
    * DDL/partitioned/partitionColumns + recursive filesystem stats), one
    * line per row in the reference's single `tab_name` fetch column. */
  def showTableExtended(spark: SparkSession, db: Option[String],
      pattern0: String,
      part: Option[String]): org.apache.spark.sql.DataFrame = {
    // LIKE `name` (backquoted) is legal surface — strip the quoting
    // (show_tablestatus_not_existing_part.q writes it that way)
    val pattern = pattern0.replace("`", "")
    val catalog = spark.sessionState.catalog
    val dbName = db.getOrElse(spark.catalog.currentDatabase)
    val conf = spark.sessionState.newHadoopConf()
    // MetaStoreUtils.typeToThriftType, token-wise over the DDL string
    def thrift(t: String): String =
      "[a-zA-Z0-9]+".r.replaceAllIn(t, m => m.matched match {
        case "int" => "i32"
        case "bigint" => "i64"
        case "smallint" => "i16"
        case "tinyint" => "byte"
        case "boolean" => "bool"
        case "array" => "list"
        case other => other
      })
    def ddlOf(name: String,
              fields: Seq[org.apache.spark.sql.types.StructField]): String =
      "struct " + name + " { " +
        fields.map(f => thrift(f.dataType.catalogString) + " " + f.name)
          .mkString(", ") + "}"
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    // listTables mixes in TEMP VIEWS (database-less identifiers), for
    // which getTableMetadata throws — the reference's SHOW TABLE EXTENDED
    // lists metastore tables only, so skip them rather than crash when
    // the LIKE pattern matches a registered fixture view
    catalog.listTables(dbName, pattern).sortBy(_.table)
      .filter(_.database.isDefined).foreach { id =>
      val m = catalog.getTableMetadata(id)
      val partitioned = m.partitionColumnNames.nonEmpty
      // a PARTITION spec must name an EXISTING partition
      // (clientnegative/show_tablestatus_not_existing_part.q — the
      // reference throws "Partition not found" instead of reporting
      // stats for a fabricated path)
      part.foreach { spec =>
        if (!partitioned)
          sys.error(s"Table ${id.table} is not a partitioned table")
        val specMap = SqlText.specPairs(spec).map { case (k, v) =>
          m.partitionColumnNames.find(_.equalsIgnoreCase(k)).getOrElse(k) -> v
        }.toMap
        val exists =
          try catalog.listPartitions(id, Some(specMap)).nonEmpty
          catch { case _: Exception => false }
        if (!exists)
          sys.error(s"Partition not found for table ${id.table}: $spec")
      }
      val tblLoc = m.storage.locationUri.map(_.toString)
      val statLoc = part match {
        case Some(spec) => tblLoc.map(_.stripSuffix("/") + "/" +
          SqlText.specPairs(spec).map { case (k, v) => s"$k=$v" }.mkString("/"))
        case None => tblLoc
      }
      // a format-diverged partition reports ITS OWN format (the property
      // partition_wise_fileformat.q's SHOW TABLE EXTENDED checks in Hive)
      val effProvider = part.flatMap { spec =>
        try graft.plans.HeteroPartitions.parse(m.properties)
          .find(_._1 == Partitions.partSubdirLiteral(m.partitionColumnNames, spec))
          .map(_._2)
        catch { case _: Exception => None }
      }.orElse(m.provider.map(_.toLowerCase.replace("`", "")))
      val (inFmt, outFmt) =
        effProvider.getOrElse("parquet") match {
          case "orc" =>
            ("org.apache.hadoop.hive.ql.io.orc.OrcInputFormat",
              "org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat")
          case "avro" | "graft-avro" =>
            ("org.apache.hadoop.hive.ql.io.avro.AvroContainerInputFormat",
              "org.apache.hadoop.hive.ql.io.avro.AvroContainerOutputFormat")
          case "csv" | "text" | "json" | "graft-text" =>
            ("org.apache.hadoop.mapred.TextInputFormat",
              "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat")
          case "graft-seq" =>
            ("org.apache.hadoop.mapred.SequenceFileInputFormat",
              "org.apache.hadoop.hive.ql.io.HiveSequenceFileOutputFormat")
          case "graft-rcfile" =>
            ("org.apache.hadoop.hive.ql.io.RCFileInputFormat",
              "org.apache.hadoop.hive.ql.io.RCFileOutputFormat")
          case _ =>
            ("org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
              "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat")
        }
      val dataCols = m.schema.filterNot(f =>
        m.partitionColumnNames.contains(f.name))
      val partCols = m.schema.filter(f =>
        m.partitionColumnNames.contains(f.name))
      lines += s"tableName:${id.table}"
      lines += s"owner:${System.getProperty("user.name")}"
      lines += s"location:${statLoc.orNull}"
      lines += s"inputformat:$inFmt"
      lines += s"outputformat:$outFmt"
      lines += s"columns:${ddlOf("columns", dataCols)}"
      lines += s"partitioned:$partitioned"
      lines += ("partitionColumns:" +
        (if (partitioned) ddlOf("partition_columns", partCols) else ""))
      statLoc.foreach { l =>
        val p = new org.apache.hadoop.fs.Path(l)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) {
          var n = 0; var tot = 0L; var mx = 0L; var mn = Long.MaxValue
          var acc = 0L; var upd = 0L
          val it = fs.listFiles(p, true)
          while (it.hasNext) {
            val st = it.next()
            val nm = st.getPath.getName
            if (st.isFile && !nm.startsWith("_") && !nm.startsWith(".")) {
              n += 1; tot += st.getLen
              mx = math.max(mx, st.getLen); mn = math.min(mn, st.getLen)
              acc = math.max(acc, st.getAccessTime)
              upd = math.max(upd, st.getModificationTime)
            }
          }
          lines += s"totalNumberFiles:$n"
          lines += s"totalFileSize:$tot"
          lines += s"maxFileSize:$mx"
          lines += s"minFileSize:${if (n > 0) mn else 0}"
          lines += s"lastAccessTime:$acc"
          lines += s"lastUpdateTime:$upd"
        }
      }
      lines += "" // terminator line between tables
    }
    stringTable(spark, Seq("tab_name"), lines.map(Seq(_)).toSeq)
  }

  /** `dfs -cmd args` passthrough (CliDriver's FsShell route), on the
    * session's Hadoop FileSystem. Mutations (mkdir/rm/rmr/cp/mv/touchz)
    * answer no rows; `-ls` answers sorted child paths and `-cat` file
    * lines, one row each. */
  def runDfs(spark: SparkSession, cmdline: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val toks = cmdline.trim.split("\\s+").toSeq
      .map(t => t.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\""))
    require(toks.nonEmpty && toks.head.startsWith("-"),
      s"dfs: expected -command, got: $cmdline")
    val cmd = toks.head.stripPrefix("-")
    val flags = toks.tail.takeWhile(_.startsWith("-")).map(_.stripPrefix("-"))
    val paths = toks.tail.dropWhile(_.startsWith("-"))
    def fs(p: org.apache.hadoop.fs.Path) = p.getFileSystem(conf)
    def rows(vals: Seq[String]) = stringTable(spark, Seq("result"), vals.map(Seq(_)))
    cmd match {
      case "mkdir" =>
        paths.foreach { s0 => val p = new org.apache.hadoop.fs.Path(s0)
          fs(p).mkdirs(p) }
        spark.emptyDataFrame
      case "rm" | "rmr" =>
        val recursive = cmd == "rmr" || flags.exists(f => f == "r" || f == "R")
        paths.foreach { s0 => val p = new org.apache.hadoop.fs.Path(s0)
          fs(p).delete(p, recursive) }
        spark.emptyDataFrame
      case "cp" | "mv" =>
        require(paths.length == 2, s"dfs -$cmd needs src dst")
        val (src, dst) = (new org.apache.hadoop.fs.Path(paths(0)),
          new org.apache.hadoop.fs.Path(paths(1)))
        if (cmd == "mv") fs(src).rename(src, dst)
        else org.apache.hadoop.fs.FileUtil.copy(
          fs(src), src, fs(dst), dst, false, conf)
        spark.emptyDataFrame
      case "touchz" =>
        paths.foreach { s0 => val p = new org.apache.hadoop.fs.Path(s0)
          fs(p).create(p, true).close() }
        spark.emptyDataFrame
      case "ls" =>
        // FsShell parity: arguments glob; a directory argument lists its
        // children, a file argument lists itself
        rows(paths.flatMap { s0 => val p = new org.apache.hadoop.fs.Path(s0)
          Option(fs(p).globStatus(p)).getOrElse(Array.empty).flatMap { st =>
            if (st.isDirectory) fs(p).listStatus(st.getPath).toSeq else Seq(st)
          }.map(_.getPath.toUri.getPath).toSeq
        }.sorted)
      case "cat" =>
        // globs and directories expand to their data files (sorted for a
        // stable line order), hidden committer files skipped
        rows(paths.flatMap { s0 => val p = new org.apache.hadoop.fs.Path(s0)
          val files = Option(fs(p).globStatus(p)).getOrElse(Array.empty)
            .flatMap { st =>
              if (st.isDirectory) fs(p).listStatus(st.getPath).toSeq
              else Seq(st)
            }
            .filter(st => st.isFile &&
              !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
            .sortBy(_.getPath.toString)
          files.flatMap { st =>
            val in = fs(p).open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          }.toSeq
        })
      case other =>
        System.err.println(s"[graft] dfs -$other accepted as no-op")
        spark.emptyDataFrame
    }
  }

  // EXPLAIN DEPENDENCY SELECT ... (ExplainTask.getJSONDependencies):
  // the input tables/views a query reads, as one JSON row. Views are
  // expanded by the analyzer, so both the view and its base tables
  // list — the reference's behavior. The innermost SubqueryAlias
  // above each leaf carries the relation's name (outer aliases like
  // `src s1` are skipped); View nodes carry catalog/temp view names.
  // input_partitions stays empty: pruned-partition detail lives in
  // EXPLAIN FORMATTED's PartitionFilters here.
  val explainDependencyRe = """(?is)\s*EXPLAIN\s+DEPENDENCY\s+(.*)""".r
  val explainLogicalRe = """(?is)\s*EXPLAIN\s+LOGICAL\s+(.*)""".r

  def explainDependency(spark: SparkSession, q: String): DataFrame = {
    val names = queryInputTables(spark, q)
    val json = names
      .map(n => s"""{"tablename":"$n"}""")
      .mkString("""{"input_partitions":[],"input_tables":[""", ",", "]}")
    oneStringRow(spark, "dependency", json)
  }

  // SHOW CREATE TABLE t AS SERDE asks for Hive-serde DDL — a shape
  // Spark only answers for Hive-provider tables. Every table here is
  // a datasource table, so degrade to the plain form (the table's
  // actual runnable DDL) instead of erroring the script.
  val showCreateSerdeRe =
    "(?is)^\\s*SHOW\\s+CREATE\\s+TABLE\\s+[\\w.`]+\\s+AS\\s+SERDE\\s*;?\\s*$".r
  def showCreateTable(spark: SparkSession, s: String): DataFrame =
    spark.sql("(?is)\\s+AS\\s+SERDE\\s*;?\\s*$".r.replaceFirstIn(s.trim, ""))

  // EXPLAIN LOGICAL <query> — reference explainOption KW_LOGICAL
  // (HiveParser.g:650): print the logical operator tree only. The
  // analog here is the OPTIMIZED logical plan (what Catalyst hands
  // to physical planning), scrubbed like the physical EXPLAIN path.
  def explainLogical(spark: SparkSession, q: String): DataFrame = {
    oneStringRow(spark, "plan",
      scrubPlanText(analyzeOnly(spark, q).optimizedPlan.toString))
  }

      // EXPLAIN [FORMATTED] AUTHORIZATION <stmt> — ExplainTask.java:319-334:
      // the INPUTS/OUTPUTS/CURRENT_USER/OPERATION block. Inputs reuse the
      // DEPENDENCY traversal (db@table per analyzed leaf); outputs are
      // empty for queries (the reference masks its scratch-dir line);
      // authorization *enforcement* is a deliberate scope-out, so no
      // AUTHORIZATION_FAILURES section is emitted.
  val explainAuthRe = "(?is)^\\s*EXPLAIN\\s+(FORMATTED\\s+)?AUTHORIZATION\\b".r
  def explainAuthorization(spark: SparkSession, s: String): DataFrame = {
    val q = explainAuthRe
      .replaceFirstIn(s.trim, "").trim.stripSuffix(";").trim
    val toks = q.split("\\s+").filter(_.nonEmpty)
    val op = toks.headOption.map(_.toUpperCase) match {
      case Some("USE") => "SWITCHDATABASE"
      case _ => "QUERY"
    }
    val (inputs, outputs) =
      if (op == "SWITCHDATABASE") {
        require(toks.length >= 2, s"USE needs a database name: $q")
        (Seq("database:" + toks(1)), Seq.empty[String])
      } else {
        val analyzed = analyzeOnly(spark, q).analyzed
        // write targets are OUTPUTS (the reference lists the insert
        // target there, not under INPUTS)
        val outs = analyzed.collect {
          case c: org.apache.spark.sql.execution.datasources
              .InsertIntoHadoopFsRelationCommand => c.catalogTable
        }.flatten.map(t =>
          (t.identifier.database.toSeq :+ t.identifier.table)
            .filter(x => x.nonEmpty && x != "spark_catalog").mkString("@"))
        (queryInputTablesOf(analyzed), outs.distinct.sorted)
      }
    val text = (Seq("INPUTS: ") ++ inputs.map("  " + _) ++
      Seq("OUTPUTS: ") ++ outputs.map("  " + _) ++
      Seq("CURRENT_USER: ",
        "  " + System.getProperty("user.name"),
        "OPERATION: ", "  " + op)).mkString("\n")
    oneStringRow(spark, "explain", text)
  }

      // EXPLAIN [EXTENDED|FORMATTED|...] SELECT — the reference's
      // ExplainTask surface. Spark answers natively; the raw text carries
      // per-session expression ids (#123) and absolute file paths, both
      // scrubbed here so explain output is stable across sessions and
      // hosts — the property the reference's explain .q goldens rely on.
  def explain(spark: SparkSession, s: String): DataFrame = {
    // Hive 2.x EXPLAIN ANALYZE annotates the plan with measured row
    // counts; Spark's closest surface is the cost-annotated plan.
    // EXPLAIN answers a single string row, so the shared string-side
    // scrub (scrubPlanText) applies — one scrub contract, not two.
    val s2 = "(?is)^\\s*EXPLAIN\\s+ANALYZE\\b".r
      .replaceFirstIn(s, "EXPLAIN COST")
    oneStringRow(spark, "plan", scrubPlanText(
      spark.sql(s2).collect().map(_.getString(0)).mkString("\n")))
  }

  /** Parse + analyze WITHOUT executing: `spark.sql` runs command plans
    * eagerly, so an `EXPLAIN AUTHORIZATION INSERT ...` routed through it
    * would actually perform the INSERT. SKIP mode analyzes only. */
  def analyzeOnly(spark: SparkSession, q: String)
      : org.apache.spark.sql.execution.QueryExecution =
    spark.sessionState.executePlan(
      HiveQlParser.sparkParser(spark).parsePlan(q),
      org.apache.spark.sql.execution.CommandExecutionMode.SKIP)

  /** The input tables/views a query reads, as sorted db@table strings —
    * the ExplainTask dependency/authorization traversal shared by
    * EXPLAIN DEPENDENCY and EXPLAIN AUTHORIZATION. Views are expanded by
    * the analyzer, so both the view and its base tables list — the
    * reference's behavior. The innermost SubqueryAlias above each leaf
    * carries the relation's name (outer aliases like `src s1` are
    * skipped); View nodes carry catalog/temp view names.
    */
  def queryInputTables(spark: SparkSession, q: String): Seq[String] =
    queryInputTablesOf(analyzeOnly(spark, q).analyzed)

  private def queryInputTablesOf(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, View}
    val names = scala.collection.mutable.SortedSet[String]()
    def add(segs: Seq[String]): Unit = {
      val keep = segs.filter(x => x.nonEmpty && x != "spark_catalog")
      names += (if (keep.length >= 2) keep.takeRight(2).mkString("@")
                else keep.mkString)
    }
    analyzed.foreach {
      case v: View => add(v.desc.identifier.database.toSeq :+
        v.desc.identifier.table)
      case sa: SubqueryAlias
          if !sa.child.exists(_.isInstanceOf[SubqueryAlias]) =>
        add(sa.identifier.qualifier :+ sa.identifier.name)
      case _ => ()
    }
    names.toSeq
  }

  /** Session- and host-stable plan text: expression ids, absolute file
    * paths, and plan ids scrubbed — same contract as the EXPLAIN path. */
  private def scrubPlanText(plan: String): String =
    plan.replaceAll("#\\d+", "#")
      .replaceAll("(file|hdfs|s3a?):[^\\s,\\]]+", "$1:<path>")
      .replaceAll("plan_id=\\d+", "plan_id=")
}
