package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 made the conversion
  * private[sql] (Column wraps a ColumnNode); custom native expressions
  * still need it, so expose the two converters from inside the sql
  * package namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an analyzed logical plan as a DataFrame (private[sql] in
    * Spark 4) — used by optimizer rules that rebuild a subtree with the
    * DataFrame API instead of hand-assembling catalyst nodes.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** A private clone of `s`: confs and temp views copied, catalog,
    * cache and context shared (what StreamExecution runs a query on).
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Unregister the streaming listener buses of `q`'s session and of
    * the clone it ran batches on: Spark adds one to the context per
    * session that touches `streams` and never removes it.
    */
  def dropStreamsBuses(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val bus = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
    bus.setAccessible(true)
    val run = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
      .StreamingQueryWrapper].streamingQuery
    Seq(run.sparkSession, run.sparkSessionForStream).foreach(s => s.sparkContext.listenerBus
      .removeListener(bus.get(s.streams).asInstanceOf[org.apache.spark.scheduler.SparkListener]))
  }
}
