package graft
package frontend

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{NamedParameterContext, ParameterContext,
  ParserInterface, PositionalParameterContext}
import org.apache.spark.sql.catalyst.plans.logical.{CreateTableAsSelect, InsertIntoDir,
  InsertIntoStatement, LogicalPlan, Project, ReplaceTableAsSelect, TruncatePartition,
  TruncateTable}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType

/** HiveQL as the session's parser (`GraftExtensions`): each `spark.sql`
  * statement makes the [[Router]]'s passes once. A row-less handler, a
  * write the native handler takes (INSERT, CTAS, TRUNCATE: Spark's plan
  * of it, run by [[Dml.write]]), and a CREATE or LOCATION statement's
  * bookkeeping become a [[HiveQlCommand]] that runs when Spark executes
  * the plan; any other native statement is Spark's own plan of the
  * rewritten text (a text Spark cannot parse fails here); a handler
  * that answers rows gives its frame's plan. The plan carries the
  * handler's name ([[HiveQlParser.HandlerTag]]). Whatever a handler runs
  * reaches Spark's parser directly, so a statement is routed once.
  */
final class HiveQlParser(spark: SparkSession, val delegate: ParserInterface)
    extends ParserInterface {
  import HiveQlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    if (direct.get) delegate.parsePlan(sqlText)
    else bypassed(statement(sqlText, delegate.parsePlan))

  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan = {
    // parameter markers are Spark SQL's, not HiveQL's
    val unbound = ctx match {
      case NamedParameterContext(ps) => ps.isEmpty
      case PositionalParameterContext(ps) => ps.isEmpty
      case _ => false
    }
    if (direct.get || !unbound) delegate.parsePlanWithParameters(sqlText, ctx)
    else bypassed(statement(sqlText, delegate.parsePlanWithParameters(_, ctx)))
  }

  private def statement(sqlText: String, parse: String => LogicalPlan): LogicalPlan = {
    val routed = Router.prepare(spark, sqlText)
    val plan =
      if (Bookkeeping.applies(routed.stmt0))
        HiveQlCommand(routed.handler, () => Bookkeeping.around(spark, routed.stmt0)(routed.run()))
      else routed.run match {
        case e: Router.Effect => HiveQlCommand(routed.handler, e.body)
        case n: Router.Native =>
          val p = parse(n.stmt)
          if (writes(p)) HiveQlCommand(routed.handler, () => Dml.write(spark, p)) else p
        case rows => rowsOf(rows())
      }
    plan.setTagValue(HandlerTag, routed.handler)
    plan
  }

  /** A fresh node over the frame's plan, so the tag never lands on a plan
    * another frame shares (`spark.emptyDataFrame`'s). */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): LogicalPlan = {
    val p = df.queryExecution.commandExecuted
    Project(p.output, p)
  }

  private def writes(p: LogicalPlan): Boolean = p.exists {
    case _: InsertIntoStatement | _: InsertIntoDir | _: CreateTableAsSelect |
        _: ReplaceTableAsSelect | _: TruncateTable | _: TruncatePartition => true
    case _ => false
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(t: String): TableIdentifier = delegate.parseTableIdentifier(t)
  override def parseFunctionIdentifier(t: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(t)
  override def parseMultipartIdentifier(t: String): Seq[String] = delegate.parseMultipartIdentifier(t)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

private[graft] object HiveQlParser {

  /** The front-end handler that took the statement, on the plan
    * `spark.sql` parsed it to. */
  val HandlerTag: TreeNodeTag[String] = TreeNodeTag[String]("graft.handler")

  private val direct = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Whether `spark.sql` on this thread goes straight to Spark's parser. */
  def isBypassed: Boolean = direct.get

  /** `body`, with `spark.sql` on this thread going to Spark's parser. */
  def bypassed[T](body: => T): T =
    if (direct.get) body else { direct.set(true); try body finally direct.set(false) }

  /** Spark's own parser under the session's. */
  def sparkParser(spark: SparkSession): ParserInterface =
    spark.sessionState.sqlParser match {
      case p: HiveQlParser => p.delegate
      case p => p
    }
}

/** A row-less handler's effect as a plan: it runs when Spark executes the
  * statement, with nested `spark.sql` calls going to Spark's parser. */
final case class HiveQlCommand(handler: String, body: () => Unit)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    HiveQlParser.bypassed(body())
    Nil
  }
  override def stringArgs: Iterator[Any] = Iterator(handler)
}

/** Session bookkeeping around a statement that creates a table or view or
  * points one at a LOCATION: the temp-table session-end registration, the
  * creator's ownership, and the char/varchar read-clamp stamp.
  */
private object Bookkeeping {

  private val createdObjRe =
    ("""(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(TEMPORARY\s+)?""" +
      """(?:EXTERNAL\s+)?(TABLE|VIEW)\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.`]+).*""").r
  // provenance stamp (char/varchar read clamp) trigger
  private val locationClauseRe = """(?i)\bLOCATION\s*'""".r

  def applies(stmt0: String): Boolean = stmt0 match {
    case createdObjRe(_, _, _) => true
    case Guards.alterTableHeadRe(_) => locationClause(stmt0)
    case _ => false
  }

  private def locationClause(stmt0: String): Boolean =
    locationClauseRe.findFirstIn(SqlText.maskLiteralsAndComments(stmt0)).isDefined

  /** Both registrations act only on an object the statement CREATES: it
    * did not exist before the statement and does after it. Registering a
    * temp table that a failed or no-op CREATE named would make session end
    * PURGE a permanent table of that name; recording the owner of a no-op
    * `CREATE TABLE IF NOT EXISTS existing` or `CREATE OR REPLACE VIEW
    * existing` would transfer ownership (Hive never re-owns on replace).
    * TEMPORARY objects have no metastore owner — recording one would let a
    * non-owner seize a permanent table's entry through a temp view of the
    * same name.
    */
  def around(spark: SparkSession, stmt0: String)(run: => Unit): Unit = {
    val catalog = spark.sessionState.catalog
    def exists(id: TableIdentifier, orElse: Boolean) =
      try catalog.tableExists(id) catch { case _: Exception => orElse }
    // (temporary, a table, qualified name) of what a CREATE names,
    // qualified NOW: resolved at session end, an unqualified name would
    // land in whatever database is current THEN
    val created = stmt0 match {
      case createdObjRe(tempKw, kind, name) =>
        val n = name.replace("`", "").split("\\.")
        val db = if (n.length > 1) n(n.length - 2) else catalog.getCurrentDatabase
        Some((tempKw != null, kind.equalsIgnoreCase("TABLE"), TableIdentifier(n.last, Some(db))))
          .filterNot(c => exists(c._3, orElse = true)) // odd name: risk nothing
      case _ => None
    }
    run
    // external-location provenance: CREATE TABLE ... LOCATION (over
    // pre-existing files), ALTER TABLE ... SET LOCATION, and ADD
    // PARTITION ... LOCATION point the table at data the engine did not
    // write — over-length char/varchar values may sit there unclamped,
    // and the reference truncates at every read regardless of provenance.
    // Stamp the read-clamp property when the schema declares char/varchar
    // (matched on MASKED text so a string literal containing "LOCATION '"
    // cannot trip it; the clause's own quote survives masking).
    if (locationClause(stmt0))
      (stmt0 match {
        case createdObjRe(_, _, name) => Some(name)
        case Guards.alterTableHeadRe(name) => Some(name)
        case _ => None
      }).foreach(t => graft.plans.HiveSemantics.CharStripReads.stampNarrowedIfChar(spark, t))
    created.filter(c => exists(c._3, orElse = false)).foreach {
      case (true, true, id) => Engine.registerTempTable(spark, id.unquotedString)
      case (false, _, id) => operators.Auth.recordOwner(spark, id.database.get, id.table)
      case _ => () // a temporary view
    }
  }
}
