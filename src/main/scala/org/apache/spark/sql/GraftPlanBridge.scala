package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` door graft needs: turning a custom
  * [[LogicalPlan]] into a public DataFrame. Spark exposes no public
  * constructor for this — every plan-level extension library ships a
  * small shim in the `org.apache.spark.sql` package for exactly this
  * purpose; all graft logic stays in `graft.*`.
  */
object GraftPlanBridge {

  /** DataFrame over a custom logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan of a DataFrame (resolved attributes included). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Column ⇄ Expression: every native expression in
    * `graft.functions` is built through these by its typed Column
    * constructor (same `private[sql]` door as [[ofRows]]).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Idempotently install graft's planner strategy + optimizer rule on
    * a session via `experimental` methods — the one way the as-of
    * join's planning is installed.
    */
  def installPlanning(spark: SparkSession): Unit = {
    val em = spark.asInstanceOf[classic.SparkSession].experimental
    if (!em.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      em.extraStrategies = em.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!em.extraOptimizations.contains(graft.plans.PruneAsOfJoin))
      em.extraOptimizations = em.extraOptimizations :+ graft.plans.PruneAsOfJoin
  }
}
