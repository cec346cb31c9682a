package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Access shim for two members of Spark's private surface. `Dataset.ofRows`
  * (LogicalPlan → DataFrame) is `private[sql]`, and it is the only supported
  * way to hand a custom logical operator (graft.plans.AsOfJoin) to the
  * analyzer as a DataFrame. `HadoopFSUtils.shouldFilterOutPathName` is
  * `private[spark]`, and it is the file source's rule for hidden names
  * (`graft.Tables.parquet` skips what the file source skips). Placing one
  * forwarding object inside `org.apache.spark.sql` is the established
  * extension-library pattern for this (Delta Lake, Iceberg, XSQL all ship
  * the same shim); nothing else from the private surface is touched.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** True for a file or dir name the file source does not read. */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
