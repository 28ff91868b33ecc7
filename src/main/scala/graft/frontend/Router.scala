package graft
package frontend

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Auth
import SqlText.stripComments

/** The front end's statement router: the compiler stage of the Hive
  * paper's compiler → optimizer → execution split, where the reference
  * picks one analyzer per statement (SemanticAnalyzerFactory.get). A
  * statement makes four passes:
  *  1. its `--` comments strip, once;
  *  2. the [[Rewrites.toStmt0]] rewrites give `stmt0`;
  *  3. the [[Guards]] pass refuses on `stmt0`; the [[Rewrites.toStmt]]
  *     rewrites then give `stmt`;
  *  4. the first handler whose matcher accepts takes the statement:
  *     [[early]] entries match `stmt0`, [[late]] entries `stmt`, and the
  *     last entry accepts everything.
  * Matchers read at most the catalog; every effect lives in the returned
  * [[Run]], so [[route]] can name a statement's handler without running
  * it. [[HiveQlParser]] turns the Run into the plan `spark.sql` returns.
  */
private[graft] object Router {

  type Run = () => DataFrame

  /** A row-less handler's effect: Spark runs it when it executes the
    * statement's plan ([[HiveQlCommand]]). */
  final class Effect(spark: SparkSession, val body: () => Unit) extends Run {
    def apply(): DataFrame = { body(); spark.emptyDataFrame }
  }

  /** A statement no handler claims: Spark's own plan of it, run by
    * [[Dml.write]]. */
  final class Native(spark: SparkSession, val stmt: String) extends Run {
    def apply(): DataFrame = { Dml.writeSql(spark, stmt); spark.emptyDataFrame }
  }

  final case class Handler(name: String)(
      val matcher: SparkSession => PartialFunction[String, Run])

  /** A statement after the text passes, with its chosen handler. */
  final case class Routed(stmt0: String, handler: String, run: Run)

  def prepare(spark: SparkSession, raw: String): Routed =
    dispatch(spark, raw, guarded = true)

  /** The name of the handler `raw` goes to; the guard pass is skipped. */
  def route(spark: SparkSession, raw: String): String =
    dispatch(spark, raw, guarded = false).handler

  private def dispatch(spark: SparkSession, raw: String,
      guarded: Boolean): Routed = HiveQlParser.bypassed {
    val stmt0 = Rewrites.applyAll(spark, Rewrites.toStmt0, stripComments(raw))
    if (guarded) Guards.check(spark, stmt0)
    val stmt = Rewrites.applyAll(spark, Rewrites.toStmt, stmt0)
    val (name, run) =
      (early.iterator.map(_ -> stmt0) ++ late.iterator.map(_ -> stmt))
        .flatMap { case (h, text) => h.matcher(spark).lift(text).map(h.name -> _) }
        .next()
    Routed(stmt0, name, run)
  }

  def done(spark: SparkSession)(body: => Unit): Run =
    new Effect(spark, () => body)

  /** Handlers matched against `stmt0`, before the query-shape rewrites. */
  val early: Seq[Handler] = Seq(
    // authorization DDL (GRANT/REVOKE/ROLE/SHOW GRANT...) — Spark has no
    // parser for these at all; answered from the session registry
    // (operators/Auth.scala, reference DDLSemanticAnalyzer.java:438,456-459)
    Handler("authorization") { spark => {
      case s if Auth.handles(s) => () => Auth.run(spark, s).get } },
    Handler("set-bridged") { spark => {
      case Commands.setBridgeRe(k, v) if Commands.confBridge.contains(k.toLowerCase) =>
        () => Commands.setBridged(spark, k, v) } },
    // TOUCH and the skew ALTERs only validate the table (Hive errors on
    // a bad name)
    Handler("touch") { spark => {
      case Ddl.touchRe(table, _) => done(spark)(TableDesc.of(spark, table): Unit) } },
    Handler("alter-skew") { spark => {
      case Ddl.alterSkewRe(table) => done(spark)(TableDesc.of(spark, table): Unit) } },
    Handler("alter-cluster") { spark => {
      case Ddl.alterClusterRe(table, cols, sorted, n) =>
        done(spark)(Ddl.alterCluster(spark, table, cols, sorted, n)) } },
    Handler("exchange-partition") { spark => {
      case Partitions.exchangeRe(dest, spec, src) => done(spark) {
        Dml.requireNoArchiveConflict(spark, dest, Some(spec), "EXCHANGE")
        Dml.requireNoArchiveConflict(spark, src, Some(spec), "EXCHANGE")
        Partitions.exchangePartition(spark, dest, spec, src)
      } } },
    // STORED BY '<handler>' — external-system storage handlers
    // (HBase/Accumulo), the documented out-of-scope connectors
    // (SURVEY §2.1). Refuse with intent, not a bare parse error.
    Handler("stored-by") { _ => {
      case s if storedByRe.findFirstIn(s).isDefined => () =>
        sys.error("STORED BY storage handlers (HBase/Accumulo connectors) " +
          "are out of scope — see SURVEY.md §2.1; use a native format " +
          "(PARQUET/ORC/TEXTFILE/...) instead") } },
    Handler("show-conf") { spark => {
      case Commands.showConfRe(name) => () => Commands.showConf(spark, name) } },
    Handler("show-table-extended") { spark => {
      case Commands.showTableExtRe(db, quoted, bare, part) => () =>
        Commands.showTableExtended(spark, Option(db), Option(quoted).getOrElse(bare),
          Option(part)) } },
    Handler("index") { spark => {
      case Commands.indexStmtRe(s) => () => Commands.indexStatement(spark, s) } },
    Handler("archive") { spark => {
      case Ddl.archiveStmtRe(table, specPre, un, specPost) =>
        done(spark)(Ddl.archive(spark, table, specPre, un, specPost)) } },
    Handler("delete-resource") { spark => {
      case Commands.deleteResourceRe(kind, paths) => done(spark) {
        System.err.println(s"[graft] DELETE ${kind.toUpperCase} accepted as " +
          s"no-op (Spark cannot un-add session resources): ${paths.trim}")
      } } },
    Handler("show-locks") { spark => {
      case Commands.showLocksRe() => () =>
        Commands.emptyListing(spark, "lockid", "database", "table", "lock_state") } },
    // no lock/txn manager by design: acquire/release/abort is vacuous
    Handler("lock") { spark => {
      case Commands.lockStmtRe() | Commands.abortTxnsRe() => done(spark)(()) } },
    Handler("dfs") { spark => {
      case Commands.dfsRe(cmdline) => () => Commands.runDfs(spark, cmdline) } },
    Handler("set-serde") { spark => {
      case s @ Ddl.setSerdeRe() => () =>
        try spark.sql(s) catch {
          case _: Exception =>
            System.err.println(s"[graft] SET SERDE accepted as no-op on a " +
              s"native datasource table: ${s.trim.takeWhile(_ != '\n')}")
            spark.emptyDataFrame
        } } },
    Handler("show-transactions") { spark => {
      case Commands.showTxnsRe() => () =>
        Commands.emptyListing(spark, "txnid", "state", "user", "host") } },
    Handler("show-compactions") { spark => {
      case Commands.showCompactionsRe() => () =>
        Commands.emptyListing(spark, "dbname", "tabname", "partname", "type", "state") } })

  private val storedByRe = "(?is)\\bSTORED\\s+BY\\s+'".r
  private val explainRe = "(?is)\\s*EXPLAIN\\s.*".r

  /** Handlers matched against the fully rewritten `stmt`. */
  val late: Seq[Handler] = Seq(
    Handler("quoted-identifiers") { spark => {
      case Commands.quotedIdRe(v) => done(spark)(spark.conf.set(
        "spark.sql.parser.quotedRegexColumnNames", v.equalsIgnoreCase("none").toString)) } },
    Handler("create-macro") { spark => {
      case Functions.createMacroRe(name, rest) =>
        done(spark)(Functions.createMacro(spark, name, rest)) } },
    Handler("drop-macro") { spark => {
      case Functions.dropMacroRe(ifEx, name) => done(spark)(spark.sql(
        "DROP TEMPORARY FUNCTION " + (if (ifEx != null) "IF EXISTS " else "") + name): Unit) } },
    Handler("set-fileformat") { spark => {
      case Ddl.setFileFormatRe(table, part, fmt) =>
        done(spark)(Ddl.setFileFormat(spark, table, Option(part), fmt)) } },
    Handler("add-columns") { spark => Function.unlift {
      case Ddl.addColumnsRe(table, colList) =>
        Some(TableDesc.of(spark, table)).filter(_.format.startsWith("graft-"))
          .map(d => done(spark)(Ddl.addGraftColumns(spark, d, colList)))
      case _ => None } },
    Handler("replace-columns") { spark => {
      case Ddl.replaceColsRe(table, cols) => done(spark)(Ddl.replaceColumns(spark, table, cols)) } },
    Handler("partition-column-type") { spark => {
      case Ddl.alterPartColTypeRe(table, colN, typ) =>
        done(spark)(Ddl.alterPartColType(spark, table, colN, typ)) } },
    Handler("not-clustered") { spark => {
      case Ddl.notClusteredRe(table, sortedOnly) =>
        done(spark)(Ddl.notClustered(spark, table, sortedOnly)) } },
    Handler("change-column") { spark => {
      case Ddl.changeColRe(table, oldC, newC, typ, pos) =>
        done(spark)(Ddl.changeColumn(spark, table, oldC, newC, typ, pos)) } },
    Handler("create-function") { spark => {
      case s @ Functions.createFunRe(name, cls, res) =>
        () => Functions.createFunction(spark, s, name, cls, res) } },
    Handler("drop-function") { spark => {
      case Functions.dropFunRe(ifExists, name) =>
        done(spark)(Functions.dropFunction(spark, ifExists, name)) } },
    Handler("rename-table") { spark => {
      case Ddl.renameTableRe(from, to) => done(spark)(Ddl.renameWithPartitionFix(spark, from, to)) } },
    Handler("rename-view") { spark => {
      case Ddl.alterViewRenameRe(from, to) => done(spark)(Ddl.renameView(spark, from, to)) } },
    Handler("view-add-partition") { spark => {
      case Ddl.alterViewAddPartRe(name, ifNot, spec, loc) =>
        done(spark)(Partitions.addViewPartition(spark, name, ifNot, spec, loc)) } },
    Handler("view-drop-partition") { spark => {
      case Ddl.alterViewDropPartRe(name, ifEx, spec) =>
        done(spark)(Partitions.dropViewPartition(spark, name, ifEx, spec)) } },
    Handler("show-partitions") { spark => Function.unlift {
      case Partitions.showPartsRe(table, partial) => Partitions.showPartitions(spark, table, partial)
      case _ => None } },
    Handler("load-data") { spark => {
      case Dml.loadDataRe(inpath, over, table, part) => done(spark) {
        Dml.requireNoArchiveConflict(spark, table, Option(part), "LOAD")
        Dml.loadData(spark, inpath, over != null, table, Option(part))
      } } },
    Handler("drop-partition") { spark => Function.unlift {
      case s @ Partitions.dropPartFilterRe(table, ifEx, spec, _) =>
        Partitions.dropPartitions(spark, s, table, ifEx, spec)
      case _ => None } },
    Handler("add-partition") { spark => Function.unlift {
      case Partitions.addPartRe(table, ifNot, spec) =>
        TableDesc.find(spark, table).filter(_.graftPartCols.nonEmpty).map(d =>
          done(spark)(Partitions.addGraftPartitions(spark, d, ifNot != null, spec)))
      case _ => None } },
    Handler("describe-xpath") { spark => Function.unlift {
      case Commands.describeXpathRe(name) => Commands.describeXpath(spark, name)
      case _ => None } },
    Handler("describe-partition-format") { spark => Function.unlift {
      case s @ Partitions.descFmtPartRe(table, part) =>
        Partitions.describeDiverged(spark, s, table, part)
      case _ => None } },
    Handler("rename-partition") { spark => Function.unlift {
      case s @ Partitions.renamePartRe(table, from, to) =>
        Partitions.renameDiverged(spark, s, table, from, to)
      case _ => None } },
    // row-level DML SQL text → the copy-on-write engine
    Handler("merge") { spark => {
      case s if s.trim.toUpperCase.startsWith("MERGE") => done(spark)(Dml.merge(spark, s)) } },
    Handler("update") { spark => {
      case Dml.updateRe(table, set, cond) => done(spark)(Dml.update(spark, table, set, Some(cond)))
      case Dml.updateAllRe(table, set) => done(spark)(Dml.update(spark, table, set, None)) } },
    Handler("delete") { spark => {
      case Dml.deleteRe(table, cond) => done(spark)(Dml.delete(spark, table, Some(cond)))
      case Dml.deleteAllRe(table) => done(spark)(Dml.delete(spark, table, None)) } },
    Handler("protect-mode") { spark => {
      case Guards.protectRe(table, part, enable, mode, cascade) =>
        done(spark)(Guards.setProtectMode(spark, table, part, enable, mode, cascade)) } },
    Handler("drop-protected-table") { spark => {
      case Guards.dropTableStmtRe(table)
          if Guards.noDropTables.contains(Guards.qualName(spark, table)) => () =>
        sys.error(s"Table $table is protected from being dropped (NO_DROP); " +
          s"ALTER TABLE $table DISABLE NO_DROP first") } },
    Handler("drop-protected-partition") { spark => {
      case Guards.dropPartExactRe(table, spec)
          if Guards.noDropParts.contains(
              Guards.qualName(spark, table) + "/" + Guards.normSpec(spec)) ||
            Guards.noDropCascade.contains(Guards.qualName(spark, table)) => () =>
        sys.error(s"Partition ($spec) of $table is protected from being " +
          s"dropped (NO_DROP); DISABLE NO_DROP first") } },
    // CASCADE would drop protected tables inside the database wholesale
    Handler("drop-protected-database") { _ => {
      case Guards.dropDatabaseCascadeRe(db)
          if Guards.noDropTables.stream().anyMatch(_.startsWith(db.toLowerCase + ".")) ||
            Guards.noDropParts.stream().anyMatch(_.startsWith(db.toLowerCase + ".")) => () =>
        sys.error(s"Database $db contains NO_DROP-protected tables/" +
          s"partitions; DISABLE NO_DROP on them before DROP DATABASE CASCADE") } },
    Handler("compact") { spark => {
      case Ddl.compactRe(table, part, kind) =>
        done(spark)(Ddl.compact(spark, table, Option(part), "COMPACT", Some(kind))) } },
    Handler("concatenate") { spark => {
      case Ddl.concatenateRe(table, part) =>
        done(spark)(Ddl.compact(spark, table, Option(part), "CONCATENATE", None)) } },
    Handler("export") { spark => {
      case Dml.exportRe(table, part, dir) => done(spark)(Dml.exportTable(spark, table, part, dir)) } },
    Handler("import") { spark => {
      case Dml.importRe(ext, table, part, dir, loc) =>
        done(spark)(Dml.importTable(spark, ext, table, part, dir, loc)) } },
    // FROM-first multi-destination insert (genBodyPlan): Spark's parser
    // rejects it, so detect and fan out over one shared scan
    Handler("multi-insert") { spark => {
      case s if s.trim.toUpperCase.startsWith("FROM") &&
          SqlText.topLevel(s.trim, "INSERT").nonEmpty => done(spark)(Dml.multiInsert(spark, s)) } },
    Handler("explain-dependency") { spark => {
      case Commands.explainDependencyRe(q) => () => Commands.explainDependency(spark, q) } },
    Handler("show-create-serde") { spark => {
      case s if Commands.showCreateSerdeRe.findFirstIn(s).isDefined =>
        () => Commands.showCreateTable(spark, s) } },
    Handler("explain-logical") { spark => {
      case Commands.explainLogicalRe(q) => () => Commands.explainLogical(spark, q) } },
    Handler("explain-authorization") { spark => {
      case s if Commands.explainAuthRe.findFirstIn(s.trim).isDefined =>
        () => Commands.explainAuthorization(spark, s) } },
    Handler("explain") { spark => {
      case s @ explainRe() => () => Commands.explain(spark, s) } },
    Handler("create-view-names") { spark => {
      case Ddl.createViewRe(prefix, select) if Ddl.autoNamed(spark, select).exists(identity) =>
        () => Ddl.createViewNamed(spark, prefix, select) } },
    Handler("ctas-names") { spark => {
      case Ddl.ctasRe(prefix, select) if Ddl.autoNamed(spark, select).exists(identity) =>
        () => Ddl.ctasNamed(spark, prefix, select) } },
    Handler("insert-or-native") { spark => {
      case s => new Native(spark, s) } })
}
