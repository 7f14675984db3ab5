package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal package-scoped bridge: `Dataset.ofRows` (the only public-in-
  * bytecode way to wrap a custom LogicalPlan as a DataFrame) is
  * `private[sql]`, so the one-line accessor lives in this package. Used
  * by [[graft.ops.AsOfJoin.asOfNative]] to hand the analyzer an
  * [[graft.plans.AsOfJoinPlan]] node.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `SparkSession.sessionUUID` is `private[sql]` — the stable, never-
    * reused session identity [[graft.ops.SlateStore]] keys its artifact
    * cache on (an identity hash can be recycled after a session is GC'd).
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
