package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Diagnostic main: for each named query, its cold wall, its formatted
  * pre-execution plan and its final (post-AQE) executed plan.
  *
  *  - The wall covers construction AND [[Harness.drain]], Bench's
  *    per-pass scope: some queries (the label-propagation family) do
  *    their heavy lifting eagerly while the frame is built (pins,
  *    per-round counts), and a consume-only timer under-reports them.
  *    It leaves out the explain, which runs in between — and with it
  *    any job an optimizer rule runs while planning (the memoized grid
  *    probe of [[plans.GridOrderStatsRule]] in `sql_grid_mixed`).
  *  - `<outDir>/<query>_<tag>.txt` holds the `explain("formatted")` plan
  *    as it stands after construction: operator list with PushedFilters,
  *    ReadSchema and join build sides — the `plans/r15` and `plans/r16`
  *    files, so a new dump diffs against them.
  *  - stdout gets `===== name  (Xs cold) =====` and the final plan that
  *    ran, for "why did this query's timing move" questions.
  *
  * Plans reproduce only under the cores and shuffle partitions of the
  * run being diagnosed: set SPARK_GRAFT_CPUS to match it (the committed
  * bench artifacts record cpus:32).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <query...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <query...>")
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = Harness.select(args.drop(3).toSeq)
    val spark = Harness.session()
    names.foreach { name =>
      val (sec, plan) = dump(spark, sfDir, outDir, tag, name)
      println(s"===== $name  (${f"$sec%.3f"}s cold) =====")
      println(plan)
    }
    spark.stop()
  }

  /** Build and drain the registered query `name` on `sfDir`, writing its
    * formatted pre-execution plan to `<outDir>/<name>_<tag>.txt`; returns
    * the wall seconds of construction plus drain and the final plan.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      name: String): (Double, String) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val built = System.nanoTime() - t0
    // Explain a separate QueryExecution of the same analyzed plan, in
    // the frame's own session (a query may build in a session clone with
    // its own confs and optimizer rules): the frame's own
    // QueryExecution would carry the optimized and physical plan into
    // the drain, taking planning out of the timed wall.
    val txt = df.sparkSession.sessionState
      .executePlan(df.queryExecution.analyzed)
      .explainString(ExplainMode.fromString("formatted"))
    val out = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, txt.getBytes("UTF-8"))
    val t1 = System.nanoTime()
    Harness.drain(df)
    val sec = (built + System.nanoTime() - t1) / 1e9
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (sec, plan.toString)
  }
}
