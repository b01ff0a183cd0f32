package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's `private[sql]` Column <-> Expression conversions.
  * Spark 4 made `Column` wrap a `ColumnNode`; libraries that need to hand
  * Catalyst `Expression`s to the function registry (as this one does for
  * struct-packed dynamic-UDF calls) go through
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]` —
  * hence this shim lives under `org.apache.spark.sql`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge into `Dataset.ofRows` and `SparkSession.cloneSession` (both
  * `private[sql]` in Spark 4).
  */
object DatasetBridge {

  /** Wrap a logical plan as a DataFrame of `spark`: the catalog DML
    * rewrite re-wraps the MERGE source Spark's parser produced, and an
    * analyzed plan moves between a session and its clone this way.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The one way this library runs under a different conf: a clone of
    * `spark` (its conf, temp views and function registry, so adhesive
    * functions registered on `spark` still resolve) with `conf` set on
    * the clone. `spark` itself is never written, so a query another
    * thread plans on it meanwhile sees its own conf.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession,
      conf: (String, String)*): org.apache.spark.sql.SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
