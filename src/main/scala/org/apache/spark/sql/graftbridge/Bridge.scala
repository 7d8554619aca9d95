package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `ExpressionUtils` is private[sql], so custom
  * Catalyst expressions (graft.functions.LineExprs) reach it through
  * this shim package — the conventional pattern for Spark extension
  * libraries that ship native expressions without a session extension.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (custom) logical plan — `Dataset.ofRows` is
    * private[sql], reached through this shim like the expression helpers.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of InternalRows under a known schema
    * (`internalCreateDataFrame` again) — how the row-level write's commit
    * re-reads its staged UnsafeRow files as a queryable frame.
    */
  def internalRowsDf(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** DSv2 runtime Predicates → v1 source Filters (`PredicateUtils` is
    * private[sql]); untranslatable predicates drop — for the row-level
    * scan that only means less pruning, never a wrong skip.
    */
  def toV1Filters(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)

  /** Unwrap a row-level operation table (`RowLevelOperationTable` is
    * private[sql]) — the underlying catalog table, or None when `t` is
    * not an operation wrapper.
    */
  def unwrapRowLevel(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.catalog.Table] = t match {
    case w: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
      Some(w.table)
    case _ => None
  }

  /** Re-wrap `wrapper`'s row-level operation around a different inner
    * table (the merge-on-read rule's raw base leg).
    */
  def rewrapRowLevel(wrapper: org.apache.spark.sql.connector.catalog.Table,
      inner: org.apache.spark.sql.connector.catalog.Table)
      : org.apache.spark.sql.connector.catalog.Table = wrapper match {
    case w: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
      org.apache.spark.sql.connector.write.RowLevelOperationTable(
        inner.asInstanceOf[
          org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations],
        w.operation)
    case other => other
  }

  /** A lineage-free frame over `data`'s rows: one `Scan ExistingRDD`
    * leaf over `data.queryExecution.toRdd`, never streaming-tagged. The
    * streaming sink re-wraps its single-action micro-batch frame with it,
    * so the merge can run several actions over the same rows (the
    * DeltaSink pattern). Over a PERSISTED frame the leaf reads the cache
    * and carries the stats the cache reports when the view is built
    * (exact once the cache is filled, the cached plan's estimate before),
    * so joins over it can still broadcast. A plan built on the persisted
    * frame itself re-walks (analysis, cache lookup) and re-prints (every
    * SQL execution's and every adaptive re-plan's explain string) the
    * whole lineage that produced the rows; a plan built on the view holds
    * one leaf. The caller keeps such a frame persisted while the view is
    * in use.
    */
  def lineageFree(data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ss = data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = data.queryExecution
    val rows = qe.toRdd
    val stats = qe.optimizedPlan match {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val s = r.computeStats()
        Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(s.sizeInBytes, s.rowCount))
      case _ => None
    }
    org.apache.spark.sql.classic.Dataset.ofRows(ss,
      org.apache.spark.sql.execution.LogicalRDD(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(data.schema),
        rows)(ss, originStats = stats))
  }

  /** Register a session-scoped SQL function builder (`sessionState` is
    * private[sql]) — idempotent; how `graft_session_attr` reaches
    * sessions wired without [[graft.GraftExtensions]].
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!ss.sessionState.functionRegistry.functionExists(ident))
      ss.sessionState.functionRegistry.registerFunction(ident,
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        builder)
  }

  /** Fold the current-like expressions (`current_user()`,
    * `current_date()`, `current_timestamp()`, `current_catalog()`, …)
    * in an ANALYZED plan to literals — the two optimizer rules Spark
    * itself runs, applied standalone so a governance predicate can be
    * bound and evaluated OUTSIDE a full optimization pass (the
    * policy-aware row-level scan, the governed micro-batch stream).
    */
  def foldCurrentLike(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.catalyst.optimizer.ReplaceCurrentLike(
      ss.sessionState.catalogManager)(
      org.apache.spark.sql.catalyst.optimizer.ComputeCurrentTime(plan))
  }
}
