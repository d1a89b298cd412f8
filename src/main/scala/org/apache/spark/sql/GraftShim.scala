package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The `private[sql]` Spark API graft needs, from one file in the
  * org.apache.spark.sql package: the Column ⇄ catalyst-Expression
  * bridge for graft's native expressions (the standard pattern Spark
  * extension libraries use to lift custom `Expression`s into the public
  * Column algebra), and session cloning. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** a new session on the same SparkContext that starts from a copy of
    * `s`'s state as of this call: its runtime confs, temp views,
    * registered functions and query execution listeners. Later changes
    * to either session, listeners registered later included, stay in
    * that session. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
