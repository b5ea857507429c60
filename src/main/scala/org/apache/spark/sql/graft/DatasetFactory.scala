package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Accessor for the `private[sql]` `Dataset.ofRows`: wraps an already
  * analyzed logical plan — typically a subtree of another frame's plan — as
  * a DataFrame of the same session, so an operator can act on part of its
  * input's plan without rebuilding it through the Dataset API. No Spark
  * internals are modified; the object only lives under the
  * `org.apache.spark.sql` namespace to satisfy the access qualifier (the
  * same arrangement as [[org.apache.spark.graft.ListenerBusDrain]]).
  */
object DatasetFactory {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
