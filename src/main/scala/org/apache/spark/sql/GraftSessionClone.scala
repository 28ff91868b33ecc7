package org.apache.spark.sql

/** Accessor for the `private[sql]` `SparkSession.cloneSession` — graft's
  * `frontend.Dml.write` retries an INSERT under Hive's permissive
  * store-assignment policy, and doing that on a CLONED session (same shared
  * catalog, snapshotted temp views + conf) keeps the override truly
  * statement-scoped instead of briefly flipping the shared session conf for
  * every concurrent statement.
  */
object GraftSessionClone {
  def cloneSession(spark: SparkSession): SparkSession = spark match {
    case c: classic.SparkSession => c.cloneSession()
    // non-classic implementations: a fresh session (shared catalog, but no
    // temp-view snapshot) is the closest available isolation
    case other => other.newSession()
  }
}

/** Accessor for the `private[sql]` `Dataset.ofRows`: a parsed or rewritten
  * plan as a DataFrame of the session, analyzed under it as the active
  * session (`sessionState.executePlan`); a command in the plan runs now.
  * `frontend.Dml.write` runs Spark's parsed write plans through it.
  */
object GraftDatasetBridge {
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** Accessor for the `private[sql]` Column <-> Catalyst Expression bridge
  * (`classic.ExpressionUtils`). graft registers its Column-composed
  * functions (ngrams, ewah_bitmap family, create_union, compute_stats)
  * under their Hive SQL names in the session FunctionRegistry, whose
  * builders work on Expressions — this is the one sanctioned crossing
  * point between the two layers.
  */
object GraftColumnBridge {
  def toColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  // eager node->Expression conversion: ExpressionUtils.expression wraps the
  // node lazily (ColumnNodeExpression), which the FunctionRegistry path
  // never unwraps — UDAF-bearing columns (InvokeInlineUserDefinedFunction)
  // would reach codegen unconverted and throw INTERNAL_ERROR
  def toExpression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
}

/** Accessor for the `private[sql]` session catalog plugin. graft's
  * heterogeneous-partition read rule builds path-scoped DSv2 scans whose
  * relations carry no catalog/identifier; Catalog.refreshTable's cache
  * invalidation calls `.catalog.get`/`.identifier.get` on every
  * DataSourceV2Relation it walks, so the rule re-attaches the owning
  * table's catalog + identifier through this bridge.
  */
object GraftCatalogBridge {
  def sessionCatalogPlugin(spark: SparkSession)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin = spark match {
    case c: classic.SparkSession => c.sessionState.catalogManager.v2SessionCatalog
    case other => throw new IllegalStateException(
      s"no session catalog plugin for ${other.getClass}")
  }
}
