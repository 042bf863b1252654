package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the blessed
  * converter (`org.apache.spark.sql.classic.ExpressionUtils`) is
  * private[sql]. This bridge lives inside the sql package namespace to
  * expose the two conversions custom Catalyst expressions need — the same
  * technique Spark extension libraries use. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unwrap a possibly `.desc`/`.asc`-wrapped sort column into its key
    * column and a descending flag. A `.desc` Column carries a
    * ColumnNode-level SortOrder that cannot be projected or codegen'd, so
    * operators that need the VALUE of a sort key (e.g. a map-side top-k
    * heap) must strip it first. */
  def sortKey(c: Column): (Column, Boolean) = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      (Column(so.child),
        so.sortDirection == org.apache.spark.sql.internal.SortOrder.Descending)
    case _ => (c, false)
  }

  /** The session's function registry (sessionState is private[sql]). */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.sessionState.functionRegistry

  /** Waits until the listener bus has delivered every event posted so
    * far (`listenerBus` is private[spark]); throws `TimeoutException` when
    * it does not drain within `millis`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, millis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(millis)

  /** Analyzed logical plan of a DataFrame (queryExecution is private[sql]). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `checkpointed`, the `localCheckpoint()`/`checkpoint()` of `df`,
    * declaring the partitioning of `df`'s final plan. Spark records the
    * executed plan's `outputPartitioning`, and an adaptive plan reports
    * none (`AdaptiveSparkPlanExec` is a leaf of unknown partitioning), so
    * a checkpoint of an adaptive plan forgets a partitioning its rows
    * have. This declares a hash partitioning of the final plan; any other
    * pair is returned as it is. `graft.ops.SessionOps.truncate` applies it
    * to every checkpoint it makes. */
  def keepPartitioning(df: org.apache.spark.sql.DataFrame,
                       checkpointed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    (df.queryExecution.executedPlan, checkpointed.queryExecution.analyzed) match {
      case (a: AdaptiveSparkPlanExec, lr: LogicalRDD)
          if lr.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
        a.executedPlan.outputPartitioning match {
          case p: HashPartitioning if p.numPartitions == lr.rdd.getNumPartitions &&
              p.references.subsetOf(lr.outputSet) =>
            val spark = checkpointed.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
            ofRows(spark, LogicalRDD(lr.output, lr.rdd, p, lr.outputOrdering, lr.isStreaming,
              lr.stream)(spark, Some(lr.computeStats()), None))
          case _ => checkpointed
        }
      case _ => checkpointed
    }
  }

  /** DataFrame from a logical plan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
