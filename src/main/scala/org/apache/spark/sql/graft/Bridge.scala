package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Two `private[sql]` doorways the custom-plan operators need, exposed
  * from inside the `org.apache.spark.sql` package (the standard shim
  * technique for Spark extension libraries — same access the built-in
  * operators get, no reflection, breaks loudly at compile time on a
  * Spark upgrade instead of silently at runtime):
  *
  *   - `ofRows`: wrap a hand-built [[LogicalPlan]] (e.g.
  *     `graft.plans.AsofJoin`) in a DataFrame so it flows through the
  *     normal optimize → plan → execute pipeline;
  *   - `analyzed`: a DataFrame's resolved logical plan, used as the
  *     child of such hand-built nodes.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[CDataset[_]].queryExecution.analyzed

  /** Wrap a hand-built catalyst [[Expression]] as a [[Column]] — for
    * expressions with non-Expression constructor state (captured model
    * coefficients) that cannot go through the function registry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The inverse doorway: a [[Column]]'s underlying expression. */
  def expr(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `df` shuffled to the partition ids `id` computes. Unlike
    * `Dataset.repartitionById`, the count may be left open
    * (`numPartitions = None`): it is then the session's shuffle
    * partition count and, like any shuffle by column, AQE may coalesce
    * adjacent partitions. */
  def repartitionById(df: DataFrame, numPartitions: Option[Int],
      id: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.DirectShufflePartitionID
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    ofRows(df.sparkSession, RepartitionByExpression(
      Seq(DirectShufflePartitionID(expr(id))), analyzed(df), numPartitions, None))
  }
}
