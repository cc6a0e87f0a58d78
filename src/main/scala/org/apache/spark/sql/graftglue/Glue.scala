package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ↔ Expression conversions (Spark 4
  * moved Column onto ColumnNode; classic conversions live behind
  * private[sql]). This package exists only to host custom Catalyst
  * expressions' plumbing — no Spark internals are modified.
  */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a logical plan (classic.Dataset.ofRows is
    * private[sql]) — needed to hand custom logical nodes to the analyzer.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Parse SQL text into an unresolved logical plan with the session's
    * own parser (`sessionState` is not on the API-level session).
    */
  def parsePlan(spark: org.apache.spark.sql.SparkSession, text: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(text)

  /** Full session clone (`cloneSession` is private[sql]): same
    * SparkContext and shared state, but an independent copy of the
    * session state — runtime SQL confs included. Needed to scope a
    * legacy read conf (e.g. parquet nanosAsLong) to one read path
    * without mutating the caller's session: the conf is consulted not
    * just at schema inference but again when the physical scan builds
    * its reader, so a set-then-restore around the `read` call would
    * break execution later — the conf must stay set on the session the
    * resulting DataFrame is bound to, and only on it.
    */
  def cloneSession(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
