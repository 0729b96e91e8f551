package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Bridge into Spark's `private[sql]` plan and error constructors, so
  * graft can wrap its own logical nodes back into DataFrames and raise
  * the same named errors as the built-in expressions it replaces. */
object PlanShim {
  /** A DataFrame over `plan`, in the session of `like`. */
  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(like.sparkSession.asInstanceOf[classic.SparkSession], plan)

  /** The `DIVIDE_BY_ZERO` error an ANSI `Divide` raises. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)
}
