package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * `Column` onto ColumnNode; `classic.ExpressionUtils` is the sanctioned
  * converter but is sql-private). Keeping one tiny accessor here confines the
  * package-escape to a single file.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a raw logical plan (`Dataset.ofRows` is sql-private).
    * Used by planner rules that must execute a bounded build-side plan at
    * optimization time (graft.plans.JoinPruneRule).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-bind `df` to a CLONED session (shared catalog/shared state,
    * ISOLATED SQLConf) with `kv` applied on the clone — the seam that lets
    * a writer scope a write-affecting conf (e.g. parquet output timestamp
    * type) to ONE write without mutating the user's session or serializing
    * concurrent writes behind a global lock. `cloneSession` is sql-private,
    * hence the bridge.
    */
  def withConfCloned(df: DataFrame, kv: (String, String)*): DataFrame = {
    val c = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => c.conf.set(k, v) }
    classic.Dataset.ofRows(c,
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)
  }

  /** Register a SQL function on an EXISTING session (sessionState is
    * sql-private; `withExtensions` only reaches sessions built after the
    * fact). Used by GraftExtensions.register.
    */
  def registerFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Block until every listener has seen every event posted so far
    * (`listenerBus` is spark-private). Used by graft.obs.Obs to close a
    * recording.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
