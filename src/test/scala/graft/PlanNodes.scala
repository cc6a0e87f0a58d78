package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Or
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Plan-shape assertions read physical nodes, adaptive stages included,
  * instead of matching `executedPlan.toString`.
  */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  def joins(df: DataFrame): Seq[BaseJoinExec] =
    nodes(df).collect { case j: BaseJoinExec => j }

  /** The parquet scans reading a column named `col`. */
  def scansOf(df: DataFrame, col: String): Seq[FileSourceScanExec] =
    nodes(df).collect {
      case s: FileSourceScanExec if s.relation.schema.fieldNames.contains(col) => s
    }

  /** Column names a scan's pushed data filters reference. */
  def filterCols(s: FileSourceScanExec): Set[String] =
    s.dataFilters.flatMap(_.references.map(_.name)).toSet

  /** Pushed disjunctions of a scan, by the columns each references. */
  def pushedOrs(s: FileSourceScanExec): Seq[Set[String]] =
    s.dataFilters.collect { case o: Or => o.references.map(_.name).toSet }
}
