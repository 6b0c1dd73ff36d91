package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `classic.Dataset.ofRows` (private[sql]) so graft can
  * wrap its custom logical plans (e.g. AsOfJoinPlan) as DataFrames.
  * Same technique used by public Spark-extension projects; no Spark
  * code is modified.
  *
  * VERIFIED AGAINST: Spark 4.1.2 (the `classic.Dataset.ofRows` /
  * `classic.ExpressionUtils.column` signatures are private[sql] API,
  * `SparkContext.getActive` / `SparkContext.conf` private[spark] —
  * the first thing a Spark upgrade breaks silently). A compile-fence
  * spec (PropertySpec: "GraftDataset private-API bridge is pinned")
  * fails loudly on any other 4.1.x-incompatible bump so the bridge is
  * re-verified rather than trusted across versions.
  */
object GraftDataset {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a user-facing Column (needed for
    * catalyst-internal aggregates like TypedImperativeAggregate that
    * have no public Column constructor). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression):
      org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The live SparkContext's own conf (`SparkContext.getActive` and
    * `SparkContext.conf` are private[spark]; the public `getConf` is a
    * copy). A default set here before `SharedState` clones the conf
    * reaches every session built on that context. */
  def activeSparkConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
