package graft
package frontend

import org.apache.spark.sql.{AnalysisException, GraftDatasetBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedPartitionSpec, UnresolvedRelation,
  UnresolvedTable}
import org.apache.spark.sql.catalyst.catalog.CatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression, Substring}
import org.apache.spark.sql.catalyst.plans.logical.{CreateTableAsSelect, InsertIntoDir,
  InsertIntoStatement, LogicalPlan, OptionList, Project, TruncatePartition, TruncateTable,
  UnresolvedTableSpec, UnresolvedWith}
import org.apache.spark.sql.catalyst.util.{CharVarcharUtils, QuotingUtils}
import org.apache.spark.sql.types.{CharType, VarcharType}
import SqlText._

/** Data-changing statements: INSERT in every Hive shape, read from
  * Spark's parsed plan (dynamic partition guards, the implicit-cast
  * retry, self-read overwrite staging, small-file merge, hetero-partition
  * routing, FROM-first multi-insert), row-level UPDATE / DELETE / MERGE
  * onto the copy-on-write engine, LOAD DATA and EXPORT / IMPORT TABLE. */
private[graft] object Dml {

  val loadDataRe =
    """(?is)\s*LOAD\s+DATA\s+(?:LOCAL\s+)?INPATH\s+'((?:[^'\\]|\\.)+)'\s+(OVERWRITE\s+)?INTO\s+TABLE\s+([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\))?\s*;?\s*""".r
  val updateRe =
    """(?is)\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  // full-table UPDATE (no WHERE): every row rewrites — legal in HiveQL
  val updateAllRe =
    """(?is)\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s*;?\s*""".r
  val deleteRe =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+(.+?)\s*;?\s*""".r
  val deleteAllRe =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)\s*;?\s*""".r

  // EXPORT TABLE t TO 'dir' / IMPORT TABLE t FROM 'dir' [LOCATION 'loc']
  // (ExportSemanticAnalyzer / ImportSemanticAnalyzer) — Spark's parser has
  // no such statements; routed to the ExportImport operator
  // the optional PARTITION (spec) selects a partition subtree: EXPORT
  // snapshots just the matching partitions (ExportSemanticAnalyzer's
  // per-partition dump, exim_04/05/06_*_part.q), IMPORT restores only the
  // named partition from the dump (ImportSemanticAnalyzer partSpecs,
  // exim_23_import_part_authsuccess.q)
  val exportRe =
    """(?is)\s*EXPORT\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+TO\s+'((?:[^'\\]|\\.)+)'\s*;?\s*""".r
  val importRe =
    """(?is)\s*IMPORT\s+(EXTERNAL\s+)?TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+FROM\s+'((?:[^'\\]|\\.)+)'(?:\s+LOCATION\s+'((?:[^'\\]|\\.)+)')?\s*;?\s*""".r

  val insertBranchRe =
    """(?is)\s*INSERT\s+(OVERWRITE|INTO)\s+(?:TABLE\s+)?([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\))?\s+(SELECT.+)""".r
  private val insertTransformBranchRe =
    """(?is)\s*INSERT\s+(OVERWRITE|INTO)\s+(?:TABLE\s+)?([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\))?\s+((?:MAP|REDUCE)\b.+)""".r
  private val insertSchemaBranchRe =
    """(?is)\s*INSERT\s+(OVERWRITE|INTO)\s+(?:TABLE\s+)?([\w.]+)\s*(\(\s*[\w`]+(?:\s*,\s*[\w`]+)*\s*\))\s+(SELECT.+)""".r
  private val whenUpdateRe =
    """(?is)\s*WHEN\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+?)\s*""".r
  private val whenDeleteRe =
    """(?is)\s*WHEN\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*""".r
  private val whenInsertRe =
    """(?is)\s*WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+(\*|VALUES\s*\(.+?\))\s*""".r

  /** UPDATE t SET ... [WHERE cond]: row-level DML SQL text onto the
    * copy-on-write engine (UpdateDeleteSemanticAnalyzer's rewrite,
    * targeting the table's files; Spark's own parser rejects UPDATE/DELETE
    * on parquet tables). Without WHERE every row rewrites (legal HiveQL). */
  def update(spark: SparkSession, table: String, setClause: String,
      cond: Option[String]): Unit = {
    val desc = TableDesc.of(spark, table)
    requireNoHetero(desc, "UPDATE")
    requireRowLevelStorage(desc, "UPDATE")
    requireNoArchived(desc, "UPDATE")
    val partCols = desc.partCols
    val set = splitAssignments(setClause).map { a =>
      val Array(k, v) = a.split("=", 2)
      k.trim -> org.apache.spark.sql.functions.expr(v.trim)
    }.toMap
    // Hive parity (UpdateDeleteSemanticAnalyzer): a SET on a partition
    // column is rejected — moved rows would land in partition dirs the
    // catalog has never registered, making them silently invisible
    set.keys.find(k => partCols.exists(_.equalsIgnoreCase(k))).foreach(k =>
      sys.error(s"UPDATE cannot set partition column $k"))
    operators.Acid.updateWhere(spark, desc.location, whereOrAll(cond), set,
      desc.format, desc.dmlSchema, partCols, desc.dmlOptions)
    spark.sql(s"REFRESH TABLE $table")
  }

  /** DELETE FROM t [WHERE cond], copy-on-write; without WHERE every row
    * drops. */
  def delete(spark: SparkSession, table: String, cond: Option[String]): Unit = {
    val desc = TableDesc.of(spark, table)
    requireNoHetero(desc, "DELETE")
    requireRowLevelStorage(desc, "DELETE")
    requireNoArchived(desc, "DELETE")
    operators.Acid.deleteWhere(spark, desc.location, whereOrAll(cond),
      desc.format, desc.dmlSchema, desc.partCols, desc.dmlOptions)
    spark.sql(s"REFRESH TABLE $table")
  }

  private def whereOrAll(cond: Option[String]) =
    cond.fold(org.apache.spark.sql.functions.lit(true))(
      org.apache.spark.sql.functions.expr)

  def merge(spark: SparkSession, stmt: String): Unit = {
    val desc = mergeTargetRe.findFirstMatchIn(stmt)
      .flatMap(m => TableDesc.find(spark, m.group(1).replace("`", "")))
    desc.foreach { d =>
      requireNoArchived(d, "MERGE"); requireRowLevelStorage(d, "MERGE") }
    sqlMerge(spark, stmt, desc)
  }

  def exportTable(spark: SparkSession, table: String, part: String,
      dir: String): Unit = {
    val meta = TableDesc.of(spark, table).meta
    val spec = operators.ExportImport.parseSpec(Option(part))
    spec.foreach { kvs =>
      val declared = meta.partitionColumnNames
      kvs.foreach { case (k, _) =>
        require(declared.exists(_.equalsIgnoreCase(k)),
          s"EXPORT: $k is not a partition column of $table " +
            s"(partition columns: ${declared.mkString(", ")})")
      }
      // the reference refuses a spec matching no partition
      // (ExportSemanticAnalyzer getPartitions EMPTY check);
      // normalize spec keys to the declared column case first
      val normalized = kvs.map { case (k, v) =>
        declared.find(_.equalsIgnoreCase(k)).getOrElse(k) -> v
      }.toMap
      val matching = spark.sessionState.catalog.listPartitions(
        spark.sessionState.sqlParser.parseTableIdentifier(table),
        Some(normalized))
      require(matching.nonEmpty,
        s"EXPORT: no partition of $table matches the specification " +
          kvs.map { case (k, v) => s"$k='$v'" }.mkString("(", ", ", ")"))
    }
    val df0 = spark.table(table)
    val df = spec.fold(df0)(kvs => kvs.foldLeft(df0) { case (d, (k, v)) =>
      d.filter(org.apache.spark.sql.functions.col(k) === v) })
    operators.ExportImport.exportTable(df, dir, meta.partitionColumnNames)
  }

  def importTable(spark: SparkSession, ext: String, table: String,
      part: String, dir: String, loc: String): Unit = {
    val location = Option(loc).getOrElse(
      graft.tools.Tmp.dir("graft_import") + "/" + table.split('.').last)
    operators.ExportImport.importTable(spark, dir, table, location,
      operators.ExportImport.parseSpec(Option(part)),
      external = ext != null, explicitLocation = loc != null)
  }

  /** The plan Spark parsed for a statement no handler claims. A write —
    * INSERT (a CTE prefix included), INSERT OVERWRITE DIRECTORY, CTAS,
    * TRUNCATE — runs as Hive's SemanticAnalyzer runs it: each guard reads
    * the plan's fields and each retry rewrites the plan, never the SQL
    * text. Any other plan just runs. */
  def write(spark: SparkSession, plan: LogicalPlan): Unit = plan match {
    // a CTE prefix scopes over the query (the target never names a CTE)
    case UnresolvedWith(i: InsertIntoStatement, ctes, recursive) =>
      write(spark, i.copy(query = UnresolvedWith(i.query, ctes, recursive)))
    case i: InsertIntoStatement => insert(spark, i)
    // TRUNCATE clears data at each catalog partition location — with a
    // partition archived that would destroy the relocated subtree while
    // the archive entry persists (the reference refuses truncating
    // archived partitions)
    case TruncateTable(t: UnresolvedTable) =>
      TableDesc.find(spark, nameOf(t.multipartIdentifier))
        .foreach(requireNoArchiveConflict(_, None, "TRUNCATE"))
      run(spark, plan)
    case TruncatePartition(t: UnresolvedTable, UnresolvedPartitionSpec(spec, _)) =>
      TableDesc.find(spark, nameOf(t.multipartIdentifier))
        .foreach(requireNoArchiveConflict(_, Some(spec.toSeq), "TRUNCATE"))
      run(spark, plan)
    case _ =>
      try run(spark, plan)
      catch { case e: Exception => asGraftText(spark, plan, e) }
  }

  /** Statement text a handler builds, parsed once and run by [[write]]. */
  def writeSql(spark: SparkSession, sqlText: String): Unit =
    write(spark, HiveQlParser.sparkParser(spark).parsePlan(sqlText))

  private def nameOf(parts: Seq[String]): String =
    parts.map(QuotingUtils.quoteIfNeeded).mkString(".")

  private def run(spark: SparkSession, plan: LogicalPlan): Unit =
    GraftDatasetBridge.ofRows(spark, plan): Unit

  private def refresh(spark: SparkSession, table: String): Unit =
    try spark.sql(s"REFRESH TABLE $table"): Unit
    catch { case _: Exception => () } // a temp-view target etc.

  private val csvToSerdeKeys = Map("sep" -> "field.delim",
    "nullValue" -> "serialization.null.format", "escape" -> "escape.delim")

  /** A directory export or CTAS whose SELECT carries complex types
    * exceeds the csv datasource, and a directory export cannot write a
    * DSv2-only provider. The serde-faithful fallback is graft-text (the
    * same \001 layout, nested \002/\003 for the complex columns — what
    * Hive itself writes) with the csv option names remapped to the
    * serde's. Types are only known post-analysis, hence a retry rather
    * than a pre-route. */
  private def asGraftText(spark: SparkSession, plan: LogicalPlan, e: Exception): Unit = {
    val msg = String.valueOf(e.getMessage)
    val complex = msg.contains("UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE")
    def save(d: InsertIntoDir, provider: String, opts: Map[String, String]): Unit =
      GraftDatasetBridge.ofRows(spark, d.child).write.format(provider).options(opts)
        .mode("overwrite").save(CatalogUtils.URIToString(d.storage.locationUri.get))
    plan match {
      case d: InsertIntoDir if complex && d.provider.contains("csv") =>
        save(d, "graft-text", d.storage.properties.flatMap { case (k, v) =>
          csvToSerdeKeys.get(k).map(_ -> v) })
      case d: InsertIntoDir if msg.contains("Only Data Sources providing FileFormat") =>
        save(d, d.provider.get, d.storage.properties)
      case c: CreateTableAsSelect if complex => c.tableSpec match {
        case t: UnresolvedTableSpec if t.provider.contains("csv") &&
            !t.optionExpression.options.exists(_._1 == "header") =>
          run(spark, c.copy(tableSpec = t.copy(provider = Some("graft-text"),
            optionExpression = OptionList(t.optionExpression.options.map {
              case (k, v) => csvToSerdeKeys.getOrElse(k, k) -> v }))))
        case _ => throw e
      }
      case _ => throw e
    }
  }

  /** MERGE INTO target [AS t] USING source [AS s] ON keys WHEN ... SQL
    * text, routed to the copy-on-write upsert (`operators.Acid.mergeInto`).
    *
    * Reference: UpdateDeleteSemanticAnalyzer's MERGE rewrite (the
    * three-branch UPDATE/DELETE/INSERT plan over one source scan). Spark's
    * parser accepts MERGE but no v1 file table supports row-level ops, so
    * the statement is parsed here with the paren-aware `topLevel` slicer
    * (a subquery source may itself contain JOIN ... ON) and handed to the
    * CoW engine. Supported — the common Hive upsert shape:
    *   - ON: conjunction of same-named key equalities (t.k = s.k);
    *   - WHEN MATCHED [AND pred] THEN UPDATE SET c = <expr over source>;
    *   - WHEN MATCHED [AND pred] THEN DELETE (pred may mix target columns
    *     and source columns);
    *   - WHEN NOT MATCHED THEN INSERT (*|VALUES (<exprs over source>)).
    * A column named by both UPDATE SET and INSERT VALUES must receive the
    * same expression (one projected source feeds both branches).
    */
  private def sqlMerge(spark: SparkSession, stmt: String,
      target: Option[TableDesc]): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val text = stmt.trim.stripSuffix(";")
    val usingPos = topLevel(text, "USING").headOption.getOrElse(
      sys.error("MERGE without USING"))
    val onPos = topLevel(text, "ON").find(_ > usingPos).getOrElse(
      sys.error("MERGE without ON"))
    val whenPos = topLevel(text, "WHEN").filter(_ > onPos)
    require(whenPos.nonEmpty, "MERGE without WHEN clauses")

    // MERGE INTO <table> [AS] [alias]
    val headToks = text.substring("MERGE".length, usingPos).trim
      .replaceAll("(?i)^INTO\\s+", "").split("\\s+").toSeq
      .filterNot(_.equalsIgnoreCase("AS"))
    val table = headToks.head
    val desc = target.orElse(TableDesc.find(spark, table))
    desc.foreach(requireNoHetero(_, "MERGE"))
    val tAlias = headToks.lift(1).getOrElse(table.split('.').last)

    // USING <table|(subquery)> [AS] [alias]
    val usingText = text.substring(usingPos + "USING".length, onPos).trim
    val (srcDf, sAlias) =
      if (usingText.startsWith("(")) {
        val close = {
          var depth = 0; var i = 0; var end = -1
          while (i < usingText.length && end < 0) {
            usingText.charAt(i) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) end = i
              case _ =>
            }
            i += 1
          }
          require(end > 0, s"unbalanced parens in MERGE USING: $usingText"); end
        }
        val alias = usingText.substring(close + 1).trim
          .replaceAll("(?i)^AS\\s+", "")
        require(alias.nonEmpty, "MERGE USING (subquery) needs an alias")
        (spark.sql(usingText.substring(1, close)), alias)
      } else {
        val toks = usingText.split("\\s+").toSeq.filterNot(_.equalsIgnoreCase("AS"))
        (spark.table(toks.head), toks.lift(1).getOrElse(toks.head.split('.').last))
      }

    // strip/reroute alias qualifiers in an expression: target alias drops
    // (evaluated over target columns), source alias maps to __src_ in the
    // delete predicate or drops in source-side expressions
    def unqualify(e: String, srcPrefix: String): String = e
      .replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(tAlias) + "\\.", "")
      .replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(sAlias) + "\\.", srcPrefix)

    // ON: conjunctive same-named equalities → the CoW join keys
    val onText = text.substring(onPos + "ON".length, whenPos.head).trim
    val keys = onText.split("(?i)\\bAND\\b").toSeq.map { term =>
      val sides = term.split("=").map(_.trim)
      require(sides.length == 2, s"unsupported MERGE ON term: $term")
      val names = sides.map(x => x.substring(x.lastIndexOf('.') + 1))
      require(names(0).equalsIgnoreCase(names(1)),
        s"MERGE ON must equate same-named key columns, got: $term")
      names(0)
    }

    // WHEN clauses. A SET expression that references the TARGET alias
    // (the accumulate-upsert shape `SET cnt = t.cnt + s.cnt`) cannot be
    // evaluated over the source projection — it routes to the post-join
    // path instead (target columns by bare name, source as __src_*).
    val targetCols = spark.table(table).columns.toSeq
    val tRefRe = ("(?i)\\b" + java.util.regex.Pattern.quote(tAlias) + "\\.").r
    var setExprs = Map.empty[String, String]      // target col -> source-side expr
    var setPostJoin = Map.empty[String, String]   // target col -> post-join expr
    var insertExprs = Map.empty[String, String]
    var insertNotMatched = false
    var deleteMatched = Option.empty[String]
    val bounds = whenPos :+ text.length
    // SemanticAnalyzer parity (merge_negative_2.q; Spark raises
    // NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION): with several MATCHED
    // clauses only the LAST may omit its AND condition — an earlier
    // unconditional clause would make the rest dead code, silently
    val matchedPreds = bounds.sliding(2)
      .map(w => text.substring(w(0), w(1)).trim).flatMap {
        case whenUpdateRe(p, _) => Some(Option(p))
        case whenDeleteRe(p) => Some(Option(p))
        case _ => None
      }.toSeq
    matchedPreds.dropRight(1).foreach(p => require(p.nonEmpty,
      "MERGE: when there are more than one MATCHED clause, only the last " +
        "MATCHED clause can omit its condition " +
        "(NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION)"))
    bounds.sliding(2).map(w => text.substring(w(0), w(1)).trim).foreach {
      case whenUpdateRe(updPred, assigns) =>
        // a conditional UPDATE (WHEN MATCHED AND pred) can only evaluate
        // post-join — the predicate may mix sides and an unmet predicate
        // must KEEP the target's value, which the source projection can't
        // express — so fold the predicate into a post-join CASE
        val pred = Option(updPred).map(unqualify(_, "__src_pj_"))
        splitAssignments(assigns).foreach { a =>
          val Array(k, v) = a.split("=", 2)
          val c = k.trim.substring(k.trim.lastIndexOf('.') + 1)
          (pred, tRefRe.findFirstIn(v.trim).isDefined) match {
            case (Some(p), _) =>
              setPostJoin += c ->
                s"CASE WHEN ($p) THEN (${unqualify(v.trim, "__src_pj_")}) ELSE $c END"
            case (None, true) =>
              setPostJoin += c -> unqualify(v.trim, "__src_pj_")
            case (None, false) =>
              setExprs += c -> unqualify(v.trim, "")
          }
        }
      case whenDeleteRe(pred) =>
        deleteMatched = Some(Option(pred).map(unqualify(_, "__src_pj_")).getOrElse("true"))
      case whenInsertRe(spec) =>
        insertNotMatched = true
        if (!spec.trim.startsWith("*")) {
          val inner = spec.trim.replaceAll("(?is)^VALUES\\s*\\(", "").stripSuffix(")")
          val rawVals = splitAssignments(inner).map(_.trim)
          // an insert row has no target side to reference
          rawVals.find(v => tRefRe.findFirstIn(v).isDefined).foreach(v =>
            sys.error(s"MERGE INSERT VALUES cannot reference the target alias: $v"))
          val vals = rawVals.map(v => unqualify(v, ""))
          require(vals.length == targetCols.length,
            s"MERGE INSERT VALUES arity ${vals.length} != ${targetCols.length} target columns")
          insertExprs = targetCols.zip(vals).toMap
        }
      case other => sys.error(s"unsupported MERGE WHEN clause: $other")
    }
    for (c <- setExprs.keys if insertExprs.contains(c))
      require(setExprs(c) == insertExprs(c),
        s"MERGE column $c: UPDATE SET and INSERT VALUES must agree (one projected source)")

    // one projected source feeds keys, update values and inserts; extra
    // source columns referenced by the delete predicate or a post-join SET
    // expression ride along under a `pj_` name of their own — NEVER the
    // bare target-column name, which `merged` may have remapped to the
    // INSERT/UPDATE expression (SET cnt = t.cnt + s.cnt alongside INSERT
    // VALUES (..., 0) must read s.cnt, not the insert's 0)
    val merged = setExprs ++ insertExprs
    val deletePred = deleteMatched.map(expr)
    val srcRefCols = (deleteMatched.toSeq ++ setPostJoin.values).flatMap { p =>
      "__src_pj_(\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    }.distinct
    require(!targetCols.exists(_.startsWith("pj_")),
      "MERGE: target columns named pj_* collide with the post-join source projection")
    val projected = srcDf.select(
      (targetCols.map(c => expr(merged.getOrElse(c, c)).as(c)) ++
        srcRefCols.map(c => col(c).as(s"pj_$c"))): _*)
    val d = desc.getOrElse(TableDesc.of(spark, table))
    val partCols = d.partCols
    operators.Acid.mergeInto(spark, d.location, projected,
      keys = keys, setFromSource = setExprs.keys.toSeq,
      insertNotMatched = insertNotMatched, deleteMatched = deletePred,
      format = d.format,
      deleteSourceCols = srcRefCols.map("pj_" + _),
      schema = d.dmlSchema, setPostJoin = setPostJoin,
      partitionCols = partCols, options = d.dmlOptions)
    // the insert branch may have created partition DIRECTORIES the catalog
    // has never seen (Hive's dynamic-partition MoveTask registers them);
    // MSCK registers the delta so the new rows are visible. graft DSv2
    // tables skip it: their scans walk the directory layout directly
    // (never the catalog partition list), and v2 tables reject MSCK
    if (partCols.nonEmpty && insertNotMatched && !d.format.startsWith("graft-"))
      spark.sql(s"MSCK REPAIR TABLE $table"): Unit
    spark.sql(s"REFRESH TABLE $table"): Unit
  }

  /** One INSERT. Its target's [[TableDesc]] is read once and serves every
    * guard and retry; the PARTITION clause is read in declared column
    * order, None for a dynamic column. */
  private def insert(spark: SparkSession, i0: InsertIntoStatement): Unit = {
    val (name, desc) = i0.table match {
      case u: UnresolvedRelation =>
        val name = nameOf(u.multipartIdentifier)
        (name, TableDesc.find(spark, name))
      case t => (t.nodeName, None)
    }
    val declared = desc.fold(Seq.empty[String])(_.partCols)
    val spec = Partitions.inDeclaredOrder(declared, i0.partitionSpec.toSeq)
    // the clause's values when it names no dynamic column
    val staticSpec = Some(spec.collect { case (k, Some(v)) => k -> v })
      .filter(s => s.nonEmpty && s.length == spec.length)
    // IF NOT EXISTS (the parser allows it on static specs only): Hive
    // skips the insert when the target partition already exists
    if (i0.ifPartitionNotExists && desc.zip(staticSpec).exists { case (d, s) =>
        spark.sessionState.catalog.listPartitions(d.meta.identifier, Some(s.map {
          case (k, v) => declared.find(_.equalsIgnoreCase(k)).getOrElse(k) -> v }.toMap))
          .nonEmpty }) return
    val i = i0.copy(ifPartitionNotExists = false)
    desc.foreach(requireNoArchiveConflict(_, staticSpec, "Insert"))
    if (desc.filter(_.heteroEntries.nonEmpty).exists(heteroInsert(spark, i, _, staticSpec)))
      return
    dynPartGuards(spark, name, spec)
    // bucketed targets are NEVER merged: repartition(n) would strip the
    // bucket-id file naming Spark derives bucket membership from — the
    // same invariant loadData enforces; Hive's
    // ConditionalResolverMergeFiles likewise skips bucketed outputs
    val mergeOn = Seq("hive.merge.mapfiles", "hive.merge.mapredfiles",
      "hive.merge.sparkfiles", "hive.merge.tezfiles").exists(k =>
      spark.conf.getOption(k).exists(_.trim.equalsIgnoreCase("true")))
    val mergeBefore = desc.filter(d => mergeOn && d.meta.bucketSpec.isEmpty).flatMap(d =>
      scala.util.Try { val dir = mergeScope(d, staticSpec); (d, dir, listDataFiles(spark, dir)) }
        .toOption) // a view target has no location: merge is a no-op
    val dynCols = spec.count(_._2.isEmpty)
    if (dynCols > 0 && Seq("hive.exec.max.dynamic.partitions",
        "hive.exec.max.dynamic.partitions.pernode",
        "hive.metastore.partition.name.whitelist.pattern").exists(k =>
          spark.conf.getOption(k).exists(_.trim.nonEmpty)))
      withDynCap(spark, i, name, dynCols)(exec(spark, _, name, desc))
    else exec(spark, i, name, desc)
    mergeBefore.foreach { case (d, dir, before) => autoMergeSmallFiles(spark, d, dir, before) }
    // hive.stats.autogather (HiveConf.java:1184, default true there —
    // opt-in here, Spark parity): Hive gathers basic table stats as part
    // of every INSERT's job; the Spark equivalent is an ANALYZE after the
    // write, so the refreshed rowCount/sizeInBytes feed broadcast and
    // CBO decisions without a manual ANALYZE. COST CAVEAT (why opt-in,
    // not default-on like Hive): the reference reads its counts from the
    // write job's own counters at O(job) cost, while ANALYZE rescans the
    // table — O(table) per statement. Suitable for rebuild-style
    // pipelines; a high-frequency small-append workload should ANALYZE
    // on its own cadence instead.
    if (spark.conf.getOption("hive.stats.autogather").exists(_.trim.equalsIgnoreCase("true")))
      desc.foreach { d =>
        // stats gathering is a maintenance task: it must work under
        // strict mode too (Hive's autogather reads job counters, never
        // a checked query), so the internal count runs suspended
        try graft.plans.StrictChecks.suspended(spark) {
          spark.sql(s"ANALYZE TABLE ${d.name} COMPUTE STATISTICS"): Unit
        } catch { case _: Exception => () }
      }
  }

  private def clause(spec: Seq[(String, Option[String])]): String =
    spec.map { case (k, v) => k + v.fold("")(x => s"='$x'") }.mkString(", ")

  /** Hive dynamic-partition INSERT guards (SemanticAnalyzer
    * validatePartSpec / ErrorMsg 10096/10094/10095, clientnegative
    * dyn_part1–4.q), evaluated from the session confs each statement:
    *   - `hive.exec.dynamic.partition=false` refuses any dynamic column;
    *   - `hive.exec.dynamic.partition.mode=strict` requires >=1 static
    *     column in the PARTITION clause (the engine's default stays
    *     nonstrict — Spark parity);
    *   - a static column may never FOLLOW a dynamic one in declared
    *     order (the directory tree can't nest a constant under a varying
    *     parent);
    *   - `hive.exec.max.dynamic.partitions`, when explicitly set, caps
    *     the distinct dynamic tuples the statement writes — enforced in
    *     [[withDynCap]].
    */
  private def dynPartGuards(spark: SparkSession, name: String,
      spec: Seq[(String, Option[String])]): Unit = {
    val dynIdx = spec.indexWhere(_._2.isEmpty)
    if (dynIdx >= 0) {
      if (!spark.conf.get("hive.exec.dynamic.partition", "true").trim
          .equalsIgnoreCase("true"))
        sys.error("Dynamic partition is disabled " +
          "(hive.exec.dynamic.partition=false): " +
          s"INSERT into $name PARTITION (${clause(spec)})")
      if (spark.conf.get("hive.exec.dynamic.partition.mode", "nonstrict")
          .trim.equalsIgnoreCase("strict") && dynIdx == 0)
        sys.error("Dynamic partition strict mode requires at least one " +
          "static partition column " +
          "(set hive.exec.dynamic.partition.mode=nonstrict): " +
          s"INSERT into $name PARTITION (${clause(spec)})")
      spec.drop(dynIdx).find(_._2.isDefined).foreach(kv =>
        sys.error(s"Dynamic partition cannot be the parent of a static " +
          s"partition: ${clause(Seq(kv))} follows a dynamic column in " +
          s"PARTITION (${clause(spec)})"))
    }
  }

  /** Post-INSERT small-file auto-merge (reference: hive.merge.mapfiles /
    * hive.merge.mapredfiles, ConditionalTask + ConditionalResolverMergeFiles
    * — when the job's average output file size is below
    * `hive.merge.smallfiles.avgsize` a follow-up merge job rewrites the
    * job's output into ~`hive.merge.size.per.task`-sized files before
    * MoveTask publishes). Opt-in here (Spark parity default: no merge):
    * any of the hive.merge.{mapfiles,mapredfiles,sparkfiles} keys
    * explicitly SET true enables it. Only the files the statement itself
    * wrote are merged (before/after directory diff — metadata-sized), per
    * directory, so an incremental append to a 100 TB table merges only
    * its own output and never rewrites pre-existing files.
    */
  private def listDataFiles(spark: SparkSession, loc: String)
      : Map[String, Long] = {
    // `loc` is URI-spelled (CatalogTable.location / mergeScope): the
    // URI constructor decodes one escape round, yielding the directory's
    // literal on-disk name (p=a%253Ab -> p=a%3Ab); the string
    // constructor would keep the raw spelling and miss the directory.
    // Characters escapePathName leaves raw (a space) make the string an
    // invalid URI — fall back to a manual one-round %XX decode so a
    // value with BOTH a space and an escaped char ("a:b c" ->
    // "p=a%253Ab c" in scope spelling) still resolves to the literal
    // directory; URLDecoder is wrong here (it would eat '+').
    val p = try new org.apache.hadoop.fs.Path(new java.net.URI(loc))
      catch { case _: java.net.URISyntaxException =>
        val dec = """%([0-9A-Fa-f]{2})""".r.replaceAllIn(loc, m =>
          java.util.regex.Matcher.quoteReplacement(
            Integer.parseInt(m.group(1), 16).toChar.toString))
        new org.apache.hadoop.fs.Path(dec) }
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val b = Map.newBuilder[String, Long]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
          b += st.getPath.toUri.toString -> st.getLen
      }
      b.result()
    }
  }

  /** Row-rewriting maintenance (CoW DML) rewrites files wherever the
    * predicate reaches — with any partition archived, a rewrite could
    * target the relocated subtree, so refuse until UNARCHIVE (archived
    * partitions pre-date ACID in the reference too). */
  private def requireNoArchived(desc: TableDesc, op: String): Unit =
    desc.archiveEntries.headOption.foreach(e =>
      sys.error(s"$op is not supported on ${desc.name} while partitions are " +
        s"archived ($e); UNARCHIVE first"))

  /** The reference refuses row-level DML on a thrift-serialized table
    * (the src_thrift shape), a non-ACID serde table. */
  private def requireRowLevelStorage(desc: TableDesc, op: String): Unit =
    if (desc.format == "graft-thrift-seq")
      sys.error(s"$op is not supported on ${desc.name}: thrift-serialized " +
        "tables are not transactional")

  /** Whole-table DML cannot run over a table whose partitions diverge in
    * format (the CoW machinery reads/rewrites one provider) — refuse
    * loudly instead of corrupting the diverged partition at rewrite. */
  private def requireNoHetero(desc: TableDesc, op: String): Unit =
    if (desc.heteroEntries.nonEmpty)
      sys.error(s"$op is not supported on ${desc.name} while partitions carry " +
        "heterogeneous file formats (per-partition SET FILEFORMAT); " +
        "unify with ALTER TABLE ... SET FILEFORMAT first")

  /** INSERT routing for heterogeneous-format tables: a fully-static spec
    * aimed at a diverged partition becomes a path write in that
    * partition's own format; dynamic/absent specs are refused (rows could
    * land in a diverged directory in the wrong format). True when the
    * statement was fully handled here. */
  private def heteroInsert(spark: SparkSession, i: InsertIntoStatement,
      desc: TableDesc, staticSpec: Option[Seq[(String, String)]]): Boolean = {
    val partCols = desc.partCols
    val spec = staticSpec.filter(_.length == partCols.length).getOrElse(
      sys.error(s"INSERT into ${desc.name} requires a fully-static PARTITION " +
        "spec while partitions carry heterogeneous file formats " +
        "(a dynamic write could land base-format rows in a diverged " +
        "partition directory)"))
    require(i.userSpecifiedCols.isEmpty && !i.byName, s"INSERT into ${desc.name} " +
      "cannot name its columns while partitions carry heterogeneous file formats")
    val specPath = Partitions.partSubdir(partCols, spec)
    desc.heteroEntries.find(_._1 == specPath).exists { case (_, prov) =>
      val dataFields = desc.meta.schema.fields
        .filterNot(f => partCols.exists(_.equalsIgnoreCase(f.name)))
      val df = GraftDatasetBridge.ofRows(spark, i.query)
      require(df.columns.length == dataFields.length,
        s"INSERT into ${desc.name} PARTITION ($specPath): expected " +
          s"${dataFields.length} data columns, got ${df.columns.length}")
      df.select(df.columns.zip(dataFields).map { case (c, f) =>
          org.apache.spark.sql.functions.col(s"`$c`").cast(f.dataType).as(f.name) }.toSeq: _*)
        .write.format(prov)
        .options(graft.plans.HeteroPartitions.providerOptions(prov))
        .mode(if (i.overwrite) "overwrite" else "append")
        .save(desc.location.stripSuffix("/") + "/" + specPath)
      refresh(spark, desc.name)
      true
    } // non-diverged static partition: false -> the normal insert path
  }

  /** Listing scope for the auto-merge diff: a fully-STATIC PARTITION spec
    * confines the statement's output to one directory, so both listings
    * cover just that subtree instead of the whole table — an append into
    * one partition of a million-file table lists that partition only.
    * Dynamic or absent specs fall back to the table root. Directory names
    * use the DECLARED column case and Spark's path escaping — PARTITION
    * (P='a:b') lands in p=a%3Ab; partSubdir gives that LITERAL name, and
    * the scope string feeds new Path(URI), which decodes one round of
    * %-escapes — so emit the URI spelling (a%253Ab), the same convention
    * FileStatus.toUri / _metadata use. */
  private[graft] def mergeScope(desc: TableDesc,
      staticSpec: Option[Seq[(String, String)]]): String =
    desc.location.stripSuffix("/") + staticSpec.fold("")(s =>
      "/" + Partitions.partSubdir(desc.partCols, s).replace("%", "%25"))

  private def autoMergeSmallFiles(spark: SparkSession, desc: TableDesc,
      dir: String, before: Map[String, Long]): Unit = {
    val avgSize = spark.conf.getOption("hive.merge.smallfiles.avgsize")
      .map(_.trim.toLong).getOrElse(16000000L)
    val perTask = spark.conf.getOption("hive.merge.size.per.task")
      .map(_.trim.toLong).getOrElse(256000000L)
    val fresh = listDataFiles(spark, dir).filter { case (f, _) => !before.contains(f) }
    var merged = false
    // per-directory decision, as the reference resolves per partition
    fresh.groupBy { case (f, _) => f.substring(0, f.lastIndexOf('/')) }
      .foreach { case (dir, fl) =>
        val total = fl.values.sum
        val n = math.max(1, math.ceil(total.toDouble / perTask).toInt)
        if (fl.size > n && total / fl.size < avgSize) {
          operators.Acid.mergeFiles(spark, dir, fl.keys.toSeq, n,
            format = desc.format, schema = desc.dataSchema,
            options = desc.dmlOptions)
          merged = true
        }
      }
    if (merged) refresh(spark, desc.name)
  }

  /** Refuse a write aimed at (or overlapping) an archived partition —
    * the reference's compile-time guard ("Insert conflict with existing
    * archive", SemanticAnalyzer; clientnegative/archive_insert1.q). A
    * dynamic or absent spec (None) on a table with ANY archived
    * partition refuses too: the write could land under an archived
    * prefix. */
  def requireNoArchiveConflict(desc: TableDesc,
      staticSpec: Option[Seq[(String, String)]], op: String): Unit =
    operators.Archive.conflict(desc.archiveEntries,
        staticSpec.fold("")(Partitions.partSubdir(desc.partCols, _)))
      .foreach(e => sys.error(s"$op conflict with existing archive: $e"))

  /** [[requireNoArchiveConflict]] for a PARTITION clause's text. */
  def requireNoArchiveConflict(spark: SparkSession, table: String,
      part: Option[String], op: String): Unit =
    TableDesc.find(spark, table).foreach(requireNoArchiveConflict(_,
      part.filter(splitPartSpec(_).forall(_.contains("="))).map(Partitions.staticSpec), op))

  private val mergeTargetRe = """(?is)MERGE\s+INTO\s+([\w.`]+)""".r

  /** One-pass hive.exec.max.dynamic.partitions enforcement: the SELECT
    * materializes ONCE through a tracked checkpoint (durable under
    * spark.graft.checkpointDir — tools/Checkpoints.cut), the distinct
    * dynamic tuples are counted on the materialized rows, and only then
    * does `write` run the INSERT over the checkpoint. Nothing touches
    * the table when the cap trips (clean rollback), nondeterministic
    * SELECTs are guarded too (the count and the write see the same
    * rows), and the SELECT runs once — at 100 TB the staging pass costs
    * one executor-disk materialization, the same scratch-dir shape the
    * reference's FileSinkOperator uses. */
  private def withDynCap(spark: SparkSession, i: InsertIntoStatement,
      name: String, dynCols: Int)(write: InsertIntoStatement => Unit): Unit = {
    // pernode caps what one node creates (dyn_part_max_per_node.q) — on
    // this engine a write is one Spark job over one logical cluster, so
    // the binding cap is simply the smaller of the two when both are set
    val total = spark.conf.getOption("hive.exec.max.dynamic.partitions")
      .map(_.trim.toInt)
    val perNode = spark.conf
      .getOption("hive.exec.max.dynamic.partitions.pernode").map(_.trim.toInt)
    val whitelist = spark.conf
      .getOption("hive.metastore.partition.name.whitelist.pattern")
      .map(_.trim).filter(_.nonEmpty)
    val staged = graft.tools.Checkpoints.cut(GraftDatasetBridge.ofRows(spark, i.query))
    try {
      val tail = staged.columns.takeRight(dynCols).toSeq
      // dynamic whitelist leg (dynamic_partitions_with_whitelist.q): a
      // DATA-derived partition value outside the pattern refuses BEFORE
      // the write — the one-pass staging guarantees nothing lands. The
      // check is distributed (rlike filter, first offender collected);
      // NULL values become Hive's default partition and skip the gate.
      whitelist.foreach { pat =>
        import org.apache.spark.sql.functions.col
        val anchored = "^(?:" + pat + ")$"
        tail.foreach { c =>
          val bad = staged.filter(col(c).isNotNull &&
              !col(c).cast("string").rlike(anchored))
            .select(col(c).cast("string")).limit(1).collect()
          if (bad.nonEmpty)
            sys.error(s"Partition value '${bad(0).getString(0)}' " +
              s"contains a character not matched by whitelist pattern " +
              s"'$pat'. (configure with " +
              "hive.metastore.partition.name.whitelist.pattern)")
        }
      }
      if (total.isDefined || perNode.isDefined) {
        val max = (total.toSeq ++ perNode.toSeq).min
        val capName =
          if (perNode.exists(p => total.forall(p <= _)))
            "hive.exec.max.dynamic.partitions.pernode"
          else "hive.exec.max.dynamic.partitions"
        val n = staged.select(tail.map(org.apache.spark.sql.functions.col): _*)
          .distinct().limit(max + 1).count()
        if (n > max) sys.error(s"Dynamic partition INSERT into $name " +
          s"would create at least $n partitions, which is more than " +
          s"$capName=$max")
      }
      write(i.copy(query = staged.queryExecution.analyzed))
    } finally graft.tools.Checkpoints.release(staged)
  }

  /** Runs an INSERT plan with Hive's write-time retries, each a rewrite
    * of the plan:
    *  - CANNOT_SAFELY_CAST: Hive casts implicitly on write, so the same
    *    plan re-runs on a CLONED session under the LEGACY store policy —
    *    flipping the shared session conf would let a concurrently
    *    executing statement momentarily run with silently-nulling casts.
    *    The clone shares the external catalog and snapshots temp views.
    *  - EXCEED_LIMIT_LENGTH: Hive TRUNCATES a char/varchar value longer
    *    than the declared length (HiveChar/HiveVarchar setValue;
    *    alter_char2.q reads the 10-char prefix of a long string in a
    *    char(10)), so the query is projected through substr().
    *  - UNSUPPORTED_OVERWRITE: Hive allows INSERT OVERWRITE of a table the
    *    query also reads (MoveTask stages the result before the move —
    *    union22.q rebuilds a partition from the table itself), so the
    *    query materializes first through a TRACKED checkpoint (breaking
    *    lineage to the target's scan) and the INSERT, static spec
    *    included, runs over it.
    */
  private def exec(spark: SparkSession, i: InsertIntoStatement, name: String,
      desc: Option[TableDesc]): Unit =
    try run(spark, i)
    catch {
      case e: AnalysisException if e.getMessage.contains("CANNOT_SAFELY_CAST") =>
        val cloned = org.apache.spark.sql.GraftSessionClone.cloneSession(spark)
        cloned.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
        run(cloned, i)
        // the clone invalidated ITS relation cache; refresh the target in
        // the caller's session too so it doesn't serve a stale file list
        refresh(spark, name)
      case e: Throwable if {
        def chain(t: Throwable, d: Int): Boolean = t != null && d < 8 &&
          (Option(t.getMessage).exists(_.contains("EXCEED_LIMIT_LENGTH")) ||
            chain(t.getCause, d + 1))
        chain(e, 0)
      } => run(spark, truncated(spark, i, desc).getOrElse(throw e))
      case e: AnalysisException
          if i.overwrite && e.getMessage.contains("UNSUPPORTED_OVERWRITE") =>
        val staged = graft.tools.Checkpoints.local(GraftDatasetBridge.ofRows(spark, i.query))
        try exec(spark, i.copy(query = staged.queryExecution.analyzed), name, desc)
        finally graft.tools.Checkpoints.release(staged)
    }

  /** The INSERT with its query's columns cut to the declared length at
    * each char/varchar target column; None when the target declares none
    * or the query does not feed the columns by position. The query's
    * outputs map positionally: data columns first, then any DYNAMIC
    * partition columns (never truncated). */
  private def truncated(spark: SparkSession, i: InsertIntoStatement,
      desc: Option[TableDesc]): Option[InsertIntoStatement] =
    desc.filter(_ => i.userSpecifiedCols.isEmpty && !i.byName).flatMap { d =>
      val limits = d.meta.schema.filterNot(f => d.partCols.exists(_.equalsIgnoreCase(f.name)))
        .map(f => CharVarcharUtils.getRawType(f.metadata).collect {
          case CharType(n) => n
          case VarcharType(n) => n
        })
      Option.when(limits.exists(_.isDefined)) {
        val q = GraftDatasetBridge.ofRows(spark, i.query).queryExecution.analyzed
        i.copy(query = Project(q.output.zipWithIndex.map { case (a, n) =>
          limits.lift(n).flatten.fold[NamedExpression](a)(len =>
            Alias(Substring(a, Literal(1), Literal(len)), a.name)())
        }, q))
      }
    }

  /** Multi-insert SQL text — `FROM src INSERT OVERWRITE TABLE t1 SELECT ...
    * INSERT INTO t2 SELECT ...` (reference parse/SemanticAnalyzer.java:8711
    * genBodyPlan: ONE scan of the shared source feeds every destination).
    * Spark's parser rejects the FROM-first multi-destination form, so this
    * materializes the source once (persisted, like MultiInsert.fanOut),
    * registers it as a view under the source's own alias, and rewrites each
    * branch into a normal single-destination INSERT over that view. The
    * source is computed once regardless of destination count — at 100 TB
    * the re-scan this avoids is the whole point of the statement.
    */
  private case class MiBranch(mode: String, tbl: String, partSql: String,
                              body: String, colList: String = "") {
    /** Inject a FROM clause into the branch SELECT, before the first
      * top-level post-SELECT clause keyword. LATERAL first: a per-branch
      * LATERAL VIEW attaches to the FROM, so the injected clause must land
      * before it (multi_insert_lateral_view.q shape). */
    def selectSql(fromClause: String): String = {
      // MAP/REDUCE transform sugar (input33.q: INSERT ... REDUCE cols
      // USING ...): SemanticAnalyzer treats them as SELECT TRANSFORM
      // synonyms, so convert — the column list runs to the first
      // top-level ROW FORMAT / USING — and re-enter for FROM injection
      val head = body.trim.takeWhile(!_.isWhitespace).toUpperCase
      if (head == "MAP" || head == "REDUCE") {
        val afterKw = body.trim.substring(head.length)
        val cut = Seq("ROW", "USING")
          .flatMap(k => topLevel(afterKw, k).headOption).minOption
        cut match {
          case Some(p) =>
            val cols = afterKw.substring(0, p).trim
            return this.copy(body =
              s"SELECT TRANSFORM($cols) ${afterKw.substring(p)}")
              .selectSql(fromClause)
          case None => return s"$fromClause $body" // malformed: parser reports
        }
      }
      val cut = Seq("LATERAL", "WHERE", "GROUP", "HAVING", "ORDER",
          "SORT", "DISTRIBUTE", "CLUSTER", "LIMIT")
        .flatMap(k => topLevel(body, k).headOption).minOption
      cut match {
        case Some(p) => body.substring(0, p) + s" $fromClause " + body.substring(p)
        case None    => s"$body $fromClause"
      }
    }
    def insertPrefix: String = s"INSERT $mode TABLE $tbl$partSql$colList"
  }

  def multiInsert(spark: SparkSession, stmt: String): Unit = {
    val t = stmt.trim.stripSuffix(";").trim
    val inserts = topLevel(t, "INSERT")
    val src = t.substring("FROM".length, inserts.head).trim
    val branches = inserts.zipAll(inserts.drop(1), 0, t.length).map {
      case (a, b) => t.substring(a, b)
    }.map {
      case insertBranchRe(mode, tbl, part, body) =>
        MiBranch(mode, tbl,
          Option(part).map(p => s" PARTITION ($p)").getOrElse(""), body)
      // MAP/REDUCE branch bodies (TRANSFORM sugar, SemanticAnalyzer
      // treats all three identically — input33.q's INSERT ... REDUCE)
      case insertTransformBranchRe(mode, tbl, part, body) =>
        MiBranch(mode, tbl,
          Option(part).map(p => s" PARTITION ($p)").getOrElse(""), body)
      // target column list (HIVE-9481, insert_into_with_schema.q):
      // unnamed columns fill NULL — Spark's native column-list insert
      // handles that once the branch is rewritten standalone
      case insertSchemaBranchRe(mode, tbl, cols, body) =>
        MiBranch(mode, tbl, "", body, " " + cols.trim)
      case seg => sys.error(s"unsupported multi-insert branch: $seg")
    }
    // one output entity per statement (SemanticAnalyzer ErrorMsg 10087,
    // duplicate_insert1/2.q): the same table — or the same table+partition
    // — may not appear as two destinations; branch order would silently
    // decide which write survives
    val dupTargets = branches.groupBy(b => (b.tbl.toLowerCase,
        b.partSql.toLowerCase.replaceAll("[\\s'\"]", "")))
      .filter(_._2.lengthCompare(1) > 0).keys.map(_._1)
    require(dupTargets.isEmpty,
      s"The same output cannot be present multiple times: ${dupTargets.mkString(", ")}")
    // A joined source (`FROM a JOIN b ON ...` / comma list) can't be
    // collapsed into a SELECT * view: qualifiers would be lost and
    // same-named columns collide.
    val joined = topLevel(src, "JOIN").nonEmpty ||
      splitAssignments(src).lengthCompare(1) > 0
    if (branches.lengthCompare(1) == 0) {
      // single destination (innerjoin.q's FROM-first INSERT): a plain
      // statement rewrite, any source shape
      writeSql(spark,
        s"${branches.head.insertPrefix} ${branches.head.selectSql(s"FROM $src")}")
      return
    }
    if (joined) {
      // several destinations over a joined source: genBodyPlan's
      // single-snapshot contract means every branch must read the
      // PRE-STATEMENT state — a branch that overwrites one of the joined
      // tables must not feed later branches its own output. Materialize
      // every branch result (eager checkpoint) BEFORE the first write.
      val views = branches.zipWithIndex.map { case (b, i) =>
        val snap = graft.tools.Checkpoints.local(
          spark.sql(b.selectSql(s"FROM $src")))
        val v = "graft_mi_snap_" + i + "_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        snap.createOrReplaceTempView(v)
        (b, v, snap)
      }
      try views.foreach { case (b, v, _) =>
        writeSql(spark, s"${b.insertPrefix} SELECT * FROM $v")
      } finally views.foreach { case (_, v, snap) =>
        spark.catalog.dropTempView(v)
        graft.tools.Checkpoints.release(snap)
      }
      return
    }
    // Simple shared source: compute it ONCE, persist, and feed every
    // branch from the cached view (the reference's genBodyPlan shape — at
    // 100 TB the re-scan this avoids is the whole point). The cached scan
    // gets its own view name (so it never shadows — and on cleanup never
    // drops — a user view of the same name), re-aliased in each branch
    // back to the source's alias/table name so qualified column references
    // in the branch SELECTs keep resolving.
    val aliasRe = """(?is).*?(?:\)|[\w.]+)\s+(?:AS\s+)?(\w+)""".r
    val simpleRe = """(?is)([\w.]+)""".r
    val alias = src match {
      case simpleRe(n)  => Some(n.split('.').last)
      case aliasRe(a)   => Some(a)
      case _            => None
    }
    // UUID-suffixed so two concurrent multi-insert statements on one
    // session never collide on the shared-scan view
    val view = "graft_mi_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val fromClause = s"FROM $view" + alias.map(a => s" AS $a").getOrElse("")
    val cached = spark.sql(s"SELECT * FROM $src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    cached.createOrReplaceTempView(view)
    try branches.foreach { b =>
      writeSql(spark, s"${b.insertPrefix} ${b.selectSql(fromClause)}")
    } finally {
      spark.catalog.dropTempView(view)
      cached.unpersist()
    }
  }

  /** LOAD DATA INPATH — LoadSemanticAnalyzer + MoveTask parity: files move
    * into the table's (or partition's) directory byte-for-byte, no rewrite
    * and no validation, then the table is refreshed (and partitions
    * recovered when a PARTITION spec names the target subdir). Spark's
    * native LOAD DATA only serves Hive-catalog tables; this serves the
    * engine's own parquet tables through the same statement text.
    */
  def loadData(spark: SparkSession, inpath: String, overwrite: Boolean,
               table: String, partSpec: Option[String]): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val desc = TableDesc.of(spark, table)
    val meta = desc.meta
    // a VIEW has no storage to move files into — refuse with the
    // reference's shape (clientnegative/load_view_failure.q) instead of
    // letting CatalogTable.location throw its internal locationUri error
    if (meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
      sys.error(s"LOAD DATA into a view is not allowed: $table is a view")
    // Hive's strict.checks.bucketing (default TRUE in the strict-checks
    // line): LOAD is a raw file move, which cannot assign bucket ids —
    // Spark reads the bucket id from the writer's file naming, so a
    // loaded foreign file makes every bucketed read (SMB joins, bucket
    // TABLESAMPLE) silently wrong. Refused by default, not opt-in.
    if (meta.bucketSpec.isDefined &&
        spark.conf.get("hive.strict.checks.bucketing", "true").trim
          .equalsIgnoreCase("true"))
      sys.error(s"LOAD DATA into bucketed table $table is not supported: " +
        "a file move cannot preserve the bucket layout. Load into an " +
        "intermediate table and INSERT ... SELECT (or set " +
        "hive.strict.checks.bucketing=false to force)")
    // LOAD is a blind file move, so a format mismatch surfaces only at
    // the NEXT read as corruption — validate the incoming files' magic
    // bytes against the table's declared format up front, as the
    // reference does (clientnegative/load_wrong_fileformat.q: loading a
    // text file into a SEQUENCEFILE table is refused)
    // a provider of "hive" (or none) says nothing about the storage
    // format — the table may be text/sequencefile/orc; resolve the real
    // format from CatalogTable.storage's input format, and skip
    // validation entirely when it can't be determined (never guess
    // parquet and refuse a valid load)
    val baseFormat: String = meta.provider.map(_.toLowerCase) match {
      case Some(p) if p != "hive" => p
      case _ => meta.storage.inputFormat.map(_.toLowerCase).collect {
          case f if f.contains("sequencefile") => "graft-seq"
          case f if f.contains("rcfile") => "graft-rcfile"
          case f if f.contains("orc") => "orc"
          case f if f.contains("parquet") => "parquet"
          case f if f.contains("avro") => "avro"
        }.getOrElse("unknown")
    }
    // a load aimed at a format-diverged partition validates against THAT
    // partition's format, not the table-wide one
    val declaredFormat: String = partSpec.flatMap { spec =>
      desc.heteroEntries
        .find(_._1 == Partitions.partSubdirLiteral(desc.partCols, spec)).map(_._2)
    }.getOrElse(baseFormat)
    val expectMagic: Option[(String, Array[Byte] => Boolean)] =
      declaredFormat match {
        case "parquet" => Some("parquet" -> (b => b.length >= 4 &&
          b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1'))
        case "orc" => Some("ORC" -> (b => b.length >= 3 &&
          b(0) == 'O' && b(1) == 'R' && b(2) == 'C'))
        case "avro" | "graft-avro" => Some("Avro" -> (b => b.length >= 4 &&
          b(0) == 'O' && b(1) == 'b' && b(2) == 'j' && b(3) == 1))
        case "graft-seq" => Some("SequenceFile" -> (b => b.length >= 3 &&
          b(0) == 'S' && b(1) == 'E' && b(2) == 'Q'))
        case "graft-rcfile" => Some("RCFile" -> (b => b.length >= 3 &&
          ((b(0) == 'R' && b(1) == 'C' && b(2) == 'F') ||
           (b(0) == 'S' && b(1) == 'E' && b(2) == 'Q'))))
        case _ => None // text/csv/json accept any bytes
      }
    val tableLoc = new Path(meta.location)
    // the destination subdir must spell values the way INSERT does
    // (declared column case, path escaping, quote-aware split) — a raw
    // spelling would create a SECOND directory for the same logical
    // partition next to the escaped one INSERT writes
    val dst = partSpec match {
      case Some(spec) =>
        new Path(tableLoc, Partitions.partSubdirLiteral(desc.partCols, spec))
      case None => tableLoc
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = new Path(inpath).getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    val src = new Path(inpath)
    val files =
      if (srcFs.getFileStatus(src).isDirectory)
        srcFs.listStatus(src).filter { st =>
          val n = st.getPath.getName
          // skip hidden/committer files (".crc", "_SUCCESS") like every
          // other listing in the engine — a dot-file must neither be
          // format-validated nor loaded
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.map(_.getPath)
      else Array(src)
    // magic-byte validation BEFORE any destructive step (the OVERWRITE
    // delete below must never run for a load that is about to be refused)
    expectMagic.foreach { case (fmtName, ok) =>
      files.foreach { f =>
        val in = srcFs.open(f)
        val head = new Array[Byte](4)
        // read() may legally return short — loop to 4 bytes or EOF
        val n = try {
          var got = 0
          var r = 0
          while (got < 4 && r >= 0) {
            r = in.read(head, got, 4 - got)
            if (r > 0) got += r
          }
          got
        } finally in.close()
        if (n < 4 || !ok(head))
          sys.error(s"Wrong file format: ${f.getName} is not a $fmtName " +
            s"file, but table $table is stored as $fmtName (reference " +
            "LOAD semantics validate the file format before the move)")
      }
    }
    dstFs.mkdirs(dst)
    if (overwrite)
      dstFs.listStatus(dst).filter(_.isFile).foreach(st => dstFs.delete(st.getPath, false))
    files.foreach(f => FileUtil.copy(srcFs, f, dstFs, new Path(dst, f.getName), false, conf))
    // graft DSv2 tables scan the directory layout directly (no catalog
    // partition list) and reject MSCK as v2 tables
    if (partSpec.nonEmpty && !desc.format.startsWith("graft-"))
      spark.sql(s"MSCK REPAIR TABLE $table"): Unit
    spark.sql(s"REFRESH TABLE $table")
    // LOAD is a byte copy — the files may hold over-length char/varchar
    // values the engine never clamped at write; mark the table so reads
    // apply the Hive truncation (HiveBaseChar.enforceMaxLength applies
    // at every read regardless of how the bytes arrived)
    graft.plans.HiveSemantics.CharStripReads.stampNarrowedIfChar(spark, table)
  }
}
