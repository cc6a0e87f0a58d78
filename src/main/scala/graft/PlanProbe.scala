package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Diagnostic main: run the named queries and dump the FINAL (post-AQE)
  * physical plan plus wall time — the tool for "why did this query's
  * driver-run timing move" questions (round 6: tpch_q5/q7/q8 went
  * 2.8–3.8× slower after the testdata was rewritten as single-row-group
  * files; the answer has to come from the executed plan, not guesses).
  *
  * Usage: runMain graft.PlanProbe <sfDir> <query...>
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanProbe <sfDir> <query...>")
    val sfDir = args.head
    val names = Harness.select(args.tail.toSeq)
    // The plan must reproduce under the cores/shuffle-partitions of the
    // run being diagnosed: set SPARK_GRAFT_CPUS to match it (the
    // official bench artifacts record cpus:32).
    val spark = Harness.session()
    names.foreach { name =>
      // The timer must wrap CONSTRUCTION as well as the consume — some
      // queries (the label-propagation family) do their heavy lifting
      // eagerly while the frame is built (pins + per-iteration counts),
      // and Bench's per-pass timer includes that. A consume-only timer
      // under-reported pp_cluster_split 0.5s vs its true 11s cold cost
      // (round-9 attribution) — keep the two tools' scopes identical.
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      Harness.drain(df) // the exact physical plan, as Bench times it
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // final post-AQE plan
        case p => p
      }
      println(s"===== $name  (${f"$sec%.3f"}s cold) =====")
      println(plan.toString)
    }
    spark.stop()
  }
}
