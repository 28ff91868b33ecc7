package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Answer `SELECT count(*) FROM t` from catalog statistics instead of
  * scanning — the reference's StatsOptimizer
  * (/root/reference/ql/src/java/org/apache/hadoop/hive/ql/optimizer/
  * StatsOptimizer.java:90, guarded by hive.compute.query.using.stats),
  * which Spark deliberately lacks.
  *
  * Opt-in (`spark.graft.statsAnswer.enabled=true`) because, exactly like
  * the Hive flag, stale statistics would produce stale answers. Applies
  * only to a bare ungrouped count(*) directly over an ANALYZEd relation —
  * any filter/projection/join disqualifies the match, so correctness risk
  * is confined to the stats themselves.
  *
  * At 100 TB this turns a full-table metadata query into an O(1) catalog
  * lookup, the same win the reference shipped it for.
  */
case class StatsAnswerRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.statsAnswer.enabled").contains("true")

  private def isCountStar(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    e match {
      case Alias(AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _), _) => true
      case _ => false
    }

  /** The relation, seen through the empty/attribute-only Project that
    * column pruning inserts under a bare count(*).
    */
  private def bareRelation(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Some(lr)
    case Project(projList, lr: LogicalRelation)
        if projList.forall(_.isInstanceOf[AttributeReference]) => Some(lr)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transform {
      case agg @ Aggregate(Nil, aggExprs, child, _)
          if aggExprs.nonEmpty && aggExprs.forall(isCountStar) &&
            bareRelation(child).exists(
              _.catalogTable.flatMap(_.stats).flatMap(_.rowCount).isDefined) =>
        val n = bareRelation(child).get.catalogTable.get.stats.get.rowCount.get.toLong
        LocalRelation(agg.output.map(_.toAttribute),
          Seq(InternalRow.fromSeq(aggExprs.map(_ => n))))
    }
}

/** SparkSessionExtensions entry point:
  * `spark.sql.extensions=graft.plans.GraftExtensions` (what
  * `Engine.session` sets) or `.withExtensions(new GraftExtensions)`.
  * A session with it speaks HiveQL: `spark.sql` parses through the
  * front end ([[graft.frontend.HiveQlParser]]), and the function pack
  * registers once, when the session's function registry is built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((session, delegate) => new graft.frontend.HiveQlParser(session, delegate))
    // the pack re-points greatest, least, std, stddev, variance and hash
    // at their Hive forms on purpose, and "replaced a previously
    // registered function" is the only WARN the registry logs. Set here,
    // not before the builder: the SparkContext's start loads Spark's log4j
    // profile, which drops a level set earlier.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      org.apache.logging.log4j.Level.ERROR)
    graft.functions.FunctionPack.descriptions.foreach(e.injectFunction)
    e.injectOptimizerRule(session => StatsAnswerRule(session))
    // Hive comparison/cast semantics (see HiveSemantics.scala)
    e.injectResolutionRule(session => HeteroPartitions.Reads(session))
    e.injectResolutionRule(_ => HiveSemantics.CompareViaDouble)
    e.injectResolutionRule(_ => HiveSemantics.StringBooleanCast)
    e.injectResolutionRule(_ => HiveSemantics.BinaryCastGuard)
    e.injectResolutionRule(_ => HiveSemantics.CharStripReads)
    // convertible static pruning for CHAR(n) partition keys (see rule doc)
    e.injectOptimizerRule(_ => HiveSemantics.CharPartitionPruning)
    // hive.mapred.mode=strict / hive.strict.checks.* query guards
    e.injectCheckRule(session => StrictChecks(session))
  }
}
